"""Regenerate ``fixtures/eventlog_local2.jsonl``, the event log the parser
tests read.

    python3 perfbench/capture_fixture.py

Runs three small jobs on ``local[2]`` with the event log on, each under
its own job description: ``banding`` (``dedup.lsh_bands``), ``verify``
(the ``shingle_metrics_arrow`` kernel over 40 pairs) and ``shuffle`` (a
grouped count). The log is trimmed to the events and fields the parser
reads, and local paths are replaced, so the fixture is small and
host-neutral.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "fixtures", "eventlog_local2.jsonl")
KEEP = {
    "SparkListenerJobStart", "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
}


def capture(work: str) -> list[str]:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.operators import dedup as dd
    from ktpm___ocr_spark.operators.text_kernels import shingle_metrics_arrow
    from ktpm___ocr_spark.session import get_spark

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(
        app_name="fixture", master="local[2]", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = spark.createDataFrame(
        [(i, " ".join(words[(i + j) % 10] for j in range(12))) for i in range(40)],
        "id long, text string",
    ).repartition(2)
    sc.setJobDescription("banding")
    dd.lsh_bands(texts, "id", "text").write.parquet(os.path.join(work, "bands"))
    sc.setJobDescription("verify")
    pairs = texts.alias("a").join(
        texts.alias("b"), F.col("b.id") == (F.col("a.id") + 1) % 40
    ).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        F.col("a.text").alias("text_a"), F.col("b.text").alias("text_b"),
    )
    shingle_metrics_arrow(pairs).write.parquet(os.path.join(work, "verify"))
    sc.setJobDescription("shuffle")
    texts.groupBy((F.col("id") % 7).alias("k")).count().write.parquet(
        os.path.join(work, "shuffle")
    )
    sc.setJobDescription(None)
    spark.stop()
    sys.path.insert(0, HERE)
    from eventlog import event_files

    return event_files(log_dir)


def trim(event: dict, work: str) -> dict:
    if event["Event"] == "SparkListenerJobStart":
        props = event.get("Properties") or {}
        event["Properties"] = {
            k: props[k] for k in ("spark.job.description",) if k in props
        }
        event.pop("Stage Infos", None)
    event.pop("details", None)
    event.pop("physicalPlanDescription", None)
    event.pop("modifiedConfigs", None)
    text = json.dumps(event).replace(work, "/fixture")
    return json.loads(re.sub(r"file:/[^\s,\]\"]*", "file:/fixture", text))


def main() -> None:
    work = os.path.join(HERE, ".work", "fixture")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        paths = capture(work)
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        with open(OUT, "w") as out:
            for path in paths:
                with open(path) as f:
                    for line in f:
                        e = json.loads(line)
                        if e["Event"] in KEEP:
                            out.write(json.dumps(trim(e, work)) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(OUT)


if __name__ == "__main__":
    main()
