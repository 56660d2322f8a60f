"""Tests of the event-log parser and of BENCHMARK.json.

    python3 -m pytest perfbench -q

``fixtures/eventlog_local2.jsonl`` is a log captured from three small
``local[2]`` jobs (see ``capture_fixture.py``); the numbers asserted here
are the ones that log holds.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import spec  # noqa: E402
from workloads import TRACED, WORKLOADS  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_local2.jsonl")


def events():
    return list(eventlog.read_events([FIXTURE]))


def is_kernel(column):
    return lambda name, simple: name == "MapInArrow" and column in simple.split("[")[-1]


def test_every_spark_stage_is_attributed_to_one_job_description():
    log = eventlog.parse(events())
    tasks = {d: {sid: len(r["run_ms"]) for sid, r in st.items() if sid >= 0} for d, st in log.items()}
    assert tasks == {
        "banding": {0: 2, 2: 2},
        "verify": {3: 2, 5: 2, 7: 2},
        "shuffle": {8: 2, 10: 2, 13: 1},
    }


def test_mapinarrow_python_time_and_arrow_bytes():
    log = eventlog.parse(events())
    verify = eventlog.layer_counters(log["verify"])
    assert verify["python_s"] == 0.504
    assert verify["to_python_mb"] == 7176 / 1e6
    assert verify["from_python_mb"] == 1504 / 1e6
    assert eventlog.node_rows(log["verify"], is_kernel("jaccard")) == 40
    assert eventlog.python_s(log["banding"], is_kernel("band_hash")) == 3.07
    # 40 docs x 4 bands
    assert eventlog.node_rows(log["banding"], is_kernel("band_hash")) == 160
    assert eventlog.layer_counters(log["shuffle"])["python_s"] == 0


def test_task_counters():
    c = eventlog.layer_counters(eventlog.parse(events())["shuffle"])
    assert c["tasks_failed"] == 0
    assert c["shuffle_write_mb"] == c["shuffle_read_mb"] > 0
    assert c["cpu_s"] > 0 and c["task_skew"] >= 1


def test_python_time_of_a_node_missing_from_the_plans_still_counts():
    # a cached relation's plan is not always posted; its kernel's time
    # must still land in the stage total, only not under its node
    no_plans = [e for e in events() if "SQLExecutionStart" not in e["Event"]
                and "SQLAdaptiveExecutionUpdate" not in e["Event"]]
    log = eventlog.parse(no_plans)
    assert eventlog.python_s(log["banding"]) == 3.07
    assert eventlog.python_s(log["banding"], is_kernel("band_hash")) == 0


def test_benchmark_json_names_every_workload_and_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert set(TRACED) == {"extract", "corpus_build", "nightly_increment"}
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    } == spec.END_TO_END
    assert spec.END_TO_END["setup_s"][2] == max(b for _, _, b in spec.END_TO_END.values())
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layer == spec.per_layer()
    assert len(layer) <= 128
    for stage in ("extract", "gate", "line_dedup", "minhash_pairs",
                  "semantic_dups", "increment_dedup"):
        for counter in ("build_s", "action_s", "rows_out", "python_s",
                        "to_python_mb", "shuffle_write_mb", "task_skew",
                        "tasks_failed"):
            assert f"{stage}.{counter}" in layer
    for name in ("minhash_pairs.verify_yield", "increment_dedup.band_scan_mb",
                 "extract_narrow.action_s", "extract_1core.rows_out",
                 "setup.session_s", "error_rate"):
        assert name in layer
