"""Lineage metrics + checkpoint-resume (FIXTURES.md §4 contract):
crash mid-run, rerun, only the complement is processed, final output
identical to a clean full run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.corpus import generate_df
from ktpm___ocr_spark.metrics import CheckpointedRun, run_with_metrics
from ktpm___ocr_spark.pipeline import extract_narrow


@pytest.fixture(scope="module")
def docs(spark):
    df = generate_df(spark, 200, seed=42, partitions=4)
    df.cache().count()
    return df


def test_resume_after_injected_failure(spark, docs, tmp_path_factory):
    out1 = str(tmp_path_factory.mktemp("ckpt_crash"))
    out2 = str(tmp_path_factory.mktemp("ckpt_clean"))

    crashed = CheckpointedRun(spark, out1, n_buckets=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashed.run(docs, extract_narrow, fail_after=3)
    assert len(crashed.committed()) == 3

    # resume: a fresh run object over the same dir processes only the rest
    resumed = CheckpointedRun(spark, out1, n_buckets=8)
    done = resumed.run(docs, extract_narrow)
    assert len(done) == 5
    assert resumed.committed() == set(range(8))
    # every manifest entry carries per-partition lineage: rows + bytes
    import json as _json

    with open(resumed.manifest_path) as f:
        entries = _json.load(f)["entries"]
    assert all("bytes" in e and e["bytes"] >= 0 for e in entries)
    assert sum(e["rows"] for e in entries) == docs.count()

    clean = CheckpointedRun(spark, out2, n_buckets=8)
    clean.run(docs, extract_narrow)

    def as_map(df):
        return {
            r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()
        }

    assert as_map(resumed.result()) == as_map(clean.result())


def test_rerun_on_complete_manifest_is_noop(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt_noop"))
    run = CheckpointedRun(spark, out, n_buckets=4)
    assert len(run.run(docs, extract_narrow)) == 4
    assert run.run(docs, extract_narrow) == []  # nothing left to do


def test_cancel_then_retry_resumes_identically(spark, docs, tmp_path_factory):
    """S8 cancel observability (reference server.js:339-351 cancel,
    :354-366 retry): cancel marks the manifest, keeps committed buckets,
    and the next run() IS the retry — identical output to a clean run."""
    out1 = str(tmp_path_factory.mktemp("ckpt_cancel"))
    out2 = str(tmp_path_factory.mktemp("ckpt_cancel_clean"))

    run = CheckpointedRun(spark, out1, n_buckets=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        run.run(docs, extract_narrow, fail_after=3)
    run.cancel(reason="user requested")
    assert run.status() == "cancelled"
    assert len(run.committed()) == 3  # cancel keeps committed work

    retried = CheckpointedRun(spark, out1, n_buckets=8)
    retried.run(docs, extract_narrow)
    assert retried.status() == "complete"

    clean = CheckpointedRun(spark, out2, n_buckets=8)
    clean.run(docs, extract_narrow)
    assert clean.status() == "complete"

    def as_map(df):
        return {
            r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()
        }

    assert as_map(retried.result()) == as_map(clean.result())


def test_cancel_during_run_stops_and_survives_commit(spark, docs, tmp_path_factory):
    """A cancel() landing while run() is in flight must (a) not be
    clobbered by subsequent _commit calls and (b) stop the bucket loop
    cooperatively, keeping committed work for the retry."""
    out = str(tmp_path_factory.mktemp("ckpt_midcancel"))
    run = CheckpointedRun(spark, out, n_buckets=4)

    def cancelling_transform(df):
        # invoked once, before any bucket commits — models a cancel
        # arriving mid-run
        run.cancel(reason="mid-run")
        return extract_narrow(df)

    done = run.run(docs, cancelling_transform)
    assert done == []  # loop observed the cancel before the first commit
    assert run.status() == "cancelled"
    # retry processes everything and completes
    retried = CheckpointedRun(spark, out, n_buckets=4)
    retried.run(docs, extract_narrow)
    assert retried.status() == "complete"
    assert retried.result().count() == docs.count()
    # _commit on a cancelled manifest must preserve the cancel marker
    other = CheckpointedRun(
        spark, str(tmp_path_factory.mktemp("ckpt_commit_keep")), n_buckets=4
    )
    other.cancel(reason="before any commit")
    other._commit(0, rows=0)
    assert other.status() == "cancelled"


def test_zero_row_transform_commits_empty_buckets(spark, docs, tmp_path_factory):
    """A transform that filters everything out must still commit every
    bucket (empty, from the transform's schema) — partitionBy writes no
    files in that case and the staging read would otherwise crash."""
    out = str(tmp_path_factory.mktemp("ckpt_empty"))
    run = CheckpointedRun(spark, out, n_buckets=4)
    done = run.run(docs, lambda df: df.filter(F.lit(False)))
    assert done == [0, 1, 2, 3]
    assert run.status() == "complete"
    assert run.result().count() == 0
    assert set(run.result().columns) == set(docs.columns)


def test_run_with_metrics_counts(spark, docs):
    result, metrics_fn = run_with_metrics(
        spark,
        {
            "extract": lambda df: extract_narrow(df),
            "flatten": lambda df: df.select(
                "doc_id", F.explode("spans").alias("s")
            ),
        },
        docs,
    )
    n_rows = result.count()  # action materializes observations
    m = {r["stage"]: r["rows"] for r in metrics_fn().collect()}
    assert m["extract"] == docs.count()
    assert m["flatten"] == n_rows
    assert n_rows > docs.count()  # exploded rows ≫ docs


def test_incremental_run_processes_only_delta(spark, tmp_path):
    from ktpm___ocr_spark.metrics import IncrementalRun

    src = tmp_path / "in"
    src.mkdir()
    docs = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    docs.filter("doc_id < 60").coalesce(1).toPandas().to_parquet(src / "a.parquet")
    run = IncrementalRun(spark, str(tmp_path / "out"))

    def transform(df):
        return df.select("doc_id", (F.col("doc_id") * 2).alias("x"))

    first = run.run(str(src), transform)
    assert [f.split("/")[-1] for f in first] == ["a.parquet"]
    assert run.result().count() == 60

    # append-only growth: second run consumes ONLY the new file
    docs.filter("doc_id >= 60").coalesce(1).toPandas().to_parquet(src / "b.parquet")
    second = run.run(str(src), transform)
    assert [f.split("/")[-1] for f in second] == ["b.parquet"]
    assert run.run(str(src), transform) == []  # no delta → no work
    got = {r["doc_id"]: r["x"] for r in run.result().collect()}
    assert got == {i: 2 * i for i in range(100)}


def test_incremental_run_crash_recovery_no_duplicates(spark, tmp_path):
    from ktpm___ocr_spark.metrics import IncrementalRun

    src = tmp_path / "in"
    src.mkdir()
    spark.range(0, 10).withColumnRenamed("id", "doc_id").coalesce(
        1
    ).toPandas().to_parquet(src / "a.parquet")
    run = IncrementalRun(spark, str(tmp_path / "out"))
    ident = lambda df: df  # noqa: E731
    with pytest.raises(RuntimeError, match="injected"):
        run.run(str(src), ident, fail_before_commit=True)
    # delta written but not committed: retry re-creates the SAME delta dir
    assert run.processed() == set()
    run.run(str(src), ident)
    assert run.result().count() == 10  # no duplicated rows


def test_cancel_racing_final_commit_resolves_to_complete(spark, docs, tmp_path_factory):
    """A cancel that lands after the loop's check but before the final
    bucket's commit leaves a FULL manifest marked cancelled; the retry
    must restore 'complete' (otherwise status-polling callers hang)."""
    out = str(tmp_path_factory.mktemp("ckpt_race"))
    run = CheckpointedRun(spark, out, n_buckets=4)
    run.run(docs, extract_narrow)
    # simulate the race: full manifest, then a late cancel marker
    run.cancel(reason="raced the last commit")
    assert run.status() == "cancelled" and len(run.committed()) == 4
    retry = CheckpointedRun(spark, out, n_buckets=4)
    assert retry.run(docs, extract_narrow) == []  # nothing to do
    assert retry.status() == "complete"


def test_manifest_mutations_are_thread_safe(spark, tmp_path_factory):
    """Concurrent _commit hammering from many threads plus a mid-flight
    cancel from another thread: with flock-serialized read-modify-write no
    commit entry is lost and the cancel marker survives. (Before the lock,
    a mutation landing between another mutator's read and its os.replace
    was silently overwritten.)"""
    import threading

    out = str(tmp_path_factory.mktemp("ckpt_lock"))
    run = CheckpointedRun(spark, out, n_buckets=64)
    barrier = threading.Barrier(9)

    def commit_some(base):
        barrier.wait()
        for b in range(base, base + 8):
            run._commit(b, rows=1)

    def cancel_late():
        barrier.wait()
        run.cancel(reason="mid-flight")

    threads = [threading.Thread(target=commit_some, args=(i * 8,)) for i in range(8)]
    threads.append(threading.Thread(target=cancel_late))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    m = run._read_manifest()
    assert len(m["entries"]) == 64, "lost commit entries under concurrency"
    assert m["status"] == "cancelled", "cancel marker overwritten by a commit"


def test_incremental_run_commits_are_thread_safe(spark, tmp_path):
    """Concurrent delta commits into one IncrementalRun manifest: the
    flock-serialized read-modify-write keeps every file entry."""
    import threading

    from ktpm___ocr_spark.metrics import IncrementalRun

    run = IncrementalRun(spark, str(tmp_path / "out"))
    files = []
    for i in range(64):
        f = tmp_path / f"f{i:02d}.parquet"
        f.write_bytes(b"x")
        files.append(str(f))
    barrier = threading.Barrier(8)

    def commit_some(base):
        barrier.wait()
        for i in range(base, base + 8):
            run._commit([files[i]], f"d{i:02d}")

    threads = [threading.Thread(target=commit_some, args=(i * 8,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert run.processed() == set(files), "lost file entries under concurrency"


# ---------------------------------------------------------------------------
# StagedRun: stage-granular resume for composed corpus chains
# ---------------------------------------------------------------------------


def _mini_chain(spark, src_path, sr):
    """3-stage corpus chain (gate → line dedup → exact dup groups) over a
    StagedRun — the composed-pipeline layout at test scale. Thunks count
    their invocations so the resume test can prove skipped stages never
    re-execute."""
    from ktpm___ocr_spark.functions.textstats import gopher_gate
    from ktpm___ocr_spark.metrics import StagedRun
    from ktpm___ocr_spark.operators import dedup as dd

    calls: dict[str, int] = {}

    def counted(name, thunk):
        def mk():
            calls[name] = calls.get(name, 0) + 1
            return thunk()

        return mk

    docs = spark.read.parquet(src_path)
    p1, sk1, _ = sr.run_stage(
        "gate", counted("gate", lambda: gopher_gate(docs, "doc_id", "text"))
    )
    kept = spark.read.parquet(p1).filter("keep").select("doc_id")
    gated = docs.join(kept, "doc_id")
    p2, sk2, _ = sr.run_stage(
        "line_dedup",
        counted(
            "line_dedup",
            lambda: dd.boilerplate_line_filter(gated, "doc_id", "text"),
        ),
    )
    clean = spark.read.parquet(p2).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    p3, sk3, _ = sr.run_stage(
        "dups",
        counted("dups", lambda: dd.exact_dup_groups(clean, "doc_id", "text")),
    )
    return calls, [sk1, sk2, sk3], p3


def test_staged_run_resumes_without_recompute(spark, tmp_path, sf001_dir):
    """Kill between stages → re-run → stages before the kill are skipped
    (thunks not invoked, manifest snapshot ids unchanged) and the final
    table is identical to a clean run's."""
    import json as _json

    from ktpm___ocr_spark.metrics import StagedRun

    src = f"{sf001_dir}/documents.parquet"

    # clean run in its own dir — the ground truth
    clean_sr = StagedRun(spark, str(tmp_path / "clean"))
    _, _, p_clean = _mini_chain(spark, src, clean_sr)

    # crashed run: execute stages 1-2, then "crash" (simply stop calling)
    work = str(tmp_path / "crashed")
    sr = StagedRun(spark, work)
    calls: dict[str, int] = {}

    def counted(name, thunk):
        def mk():
            calls[name] = calls.get(name, 0) + 1
            return thunk()

        return mk

    from ktpm___ocr_spark.functions.textstats import gopher_gate
    from ktpm___ocr_spark.operators import dedup as dd

    docs = spark.read.parquet(src)
    p1, _, _ = sr.run_stage(
        "gate", counted("gate", lambda: gopher_gate(docs, "doc_id", "text"))
    )
    kept = spark.read.parquet(p1).filter("keep").select("doc_id")
    sr.run_stage(
        "line_dedup",
        counted(
            "line_dedup",
            lambda: dd.boilerplate_line_filter(
                docs.join(kept, "doc_id"), "doc_id", "text"
            ),
        ),
    )
    with open(sr.manifest_path) as f:
        snaps_before = {
            e["stage"]: e["snapshot_id"] for e in _json.load(f)["stages"]
        }

    # resume: a NEW StagedRun over the same dir runs the whole chain
    resumed = StagedRun(spark, work)
    calls2, skipped, p_final = _mini_chain(spark, src, resumed)
    assert skipped == [True, True, False]
    assert "gate" not in calls2 and "line_dedup" not in calls2  # never re-ran
    assert calls2 == {"dups": 1}
    with open(resumed.manifest_path) as f:
        snaps_after = {
            e["stage"]: e["snapshot_id"] for e in _json.load(f)["stages"]
        }
    # committed stages keep their original snapshot ids — nothing rewrote them
    assert snaps_after["gate"] == snaps_before["gate"]
    assert snaps_after["line_dedup"] == snaps_before["line_dedup"]

    a = spark.read.parquet(p_final)
    b = spark.read.parquet(p_clean)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_staged_run_partial_write_is_overwritten(spark, tmp_path, sf001_dir):
    """A stage dir WITHOUT a manifest entry (crash mid-write) is not
    trusted: the stage re-executes and overwrites."""
    import os

    from ktpm___ocr_spark.metrics import StagedRun

    src = f"{sf001_dir}/documents.parquet"
    sr = StagedRun(spark, str(tmp_path / "w"))
    # fake a partial write: stage dir exists, no _SUCCESS-backed commit
    os.makedirs(sr.path("gate"), exist_ok=True)
    with open(os.path.join(sr.path("gate"), "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    docs = spark.read.parquet(src)
    from ktpm___ocr_spark.functions.textstats import gopher_gate

    p, skipped, wall = sr.run_stage(
        "gate", lambda: gopher_gate(docs, "doc_id", "text")
    )
    assert not skipped and wall > 0
    assert spark.read.parquet(p).count() == docs.count()


def test_manifest_classes_reject_remote_out_dir(spark):
    """Every manifest class does its JSON I/O with os-level calls while
    stage data goes through Spark writers — a remote out_dir would
    silently break resume (r7 advice). Must fail loudly at construction."""
    import pytest

    from ktpm___ocr_spark.metrics import CheckpointedRun, IncrementalRun, StagedRun

    for bad in ("hdfs://nn:8020/corpus/run", "s3a://bucket/run", "dbfs:/run"):
        for cls in (StagedRun, CheckpointedRun, IncrementalRun):
            with pytest.raises(ValueError, match="local-filesystem"):
                cls(spark, bad)
