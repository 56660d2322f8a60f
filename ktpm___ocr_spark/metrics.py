"""Lineage, per-stage metrics, and checkpoint-resume.

The reference tracks per-stage wall-clock (``backend/pipeline.js:28-39``),
cache hit counters (``utils/cacheStats.js``), Redis metric counters
(``utils/metrics.js``), job progress checkpoints and a result KV with TTL
(``utils/worker.js:53-112``) that makes finished work observable across
restarts. The engine's equivalents:

* ``run_with_metrics`` — ``Observation``-based row/byte counts per stage,
  written to a ``run_metrics`` table (FIXTURES.md §4 schema);
* ``CheckpointedRun`` — bucket-partitioned execution with a JSON commit
  manifest: the input is split into N deterministic buckets by
  ``pmod(xxhash64(doc_id), N)``; each bucket's output commits atomically
  (parquet dir + manifest entry). A re-run anti-joins buckets against the
  manifest and processes only the complement — the Spark analogue of the
  reference's resumable job state (Iceberg-snapshot semantics without an
  Iceberg catalog in this sandbox; the storage interface is this class).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

try:  # POSIX-only; manifest mutations fall back to single-writer mode
    import fcntl
except ImportError:  # pragma: no cover — non-POSIX platform
    fcntl = None

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

METRICS_COLS = "run_id string, stage string, rows long, bytes long, wall_ms long"

# URI schemes a local-filesystem manifest cannot manage: the manifest
# classes below read/write their JSON with os-level open/replace, so a
# Spark-writable-but-not-os-visible out_dir (hdfs://, s3a://, ...) would
# silently break resume — the stage data lands remotely while the
# manifest probes a nonexistent local path and re-runs everything (or,
# worse, skips into reading a missing table). Fail loudly instead.
_REMOTE_SCHEME = ("hdfs:", "s3:", "s3a:", "s3n:", "gs:", "abfs:", "abfss:", "wasb:", "dbfs:")


def _require_local(out_dir: str, cls_name: str) -> None:
    low = out_dir.lower()
    if any(low.startswith(s) for s in _REMOTE_SCHEME):
        raise ValueError(
            f"{cls_name} manages its manifest with local-filesystem I/O; "
            f"out_dir {out_dir!r} is a remote URI. Point out_dir at a "
            "shared POSIX path, or extend the class to the Hadoop "
            "FileSystem API before using remote storage."
        )


@contextlib.contextmanager
def _sidecar_flock(lock_path: str):
    """Advisory same-host flock on a sidecar file; no-op on non-POSIX
    platforms (degrades to the documented single-writer assumption)."""
    os.makedirs(os.path.dirname(lock_path), exist_ok=True)
    if fcntl is None:  # pragma: no cover — non-POSIX platform
        yield
        return
    with open(lock_path, "a") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)


def _write_json_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` via a tmp file and ``os.replace``
    (an atomic swap on POSIX: readers see the old or the new manifest,
    never a torn one)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def observe_stage(df: DataFrame, obs: Observation, size_col: str | None = None) -> DataFrame:
    """Attach row/byte observation to a stage output (no extra action)."""
    metrics = [F.count(F.lit(1)).alias("rows")]
    if size_col:
        metrics.append(F.sum(F.length(F.col(size_col))).alias("bytes"))
    return df.observe(obs, *metrics)


def run_with_metrics(
    spark: SparkSession,
    stages: dict[str, Callable[[DataFrame], DataFrame]],
    source: DataFrame,
    run_id: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Chain stages with an Observation each; returns (result, metrics_df).

    metrics_df materializes only after an action on the result (Spark
    observation semantics) — call an action, then read metrics.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    observations: list[tuple[str, Observation, float]] = []
    df = source
    for name, fn in stages.items():
        t0 = time.monotonic()
        obs = Observation(f"{run_id}:{name}")
        df = observe_stage(fn(df), obs)
        observations.append((name, obs, t0))
    result = df

    def metrics_df() -> DataFrame:
        rows = []
        for name, obs, t0 in observations:
            got = obs.get
            rows.append(
                (
                    run_id,
                    name,
                    int(got.get("rows", 0)),
                    int(got.get("bytes", 0) or 0),
                    int((time.monotonic() - t0) * 1000),
                )
            )
        return spark.createDataFrame(rows, METRICS_COLS)

    return result, metrics_df  # type: ignore[return-value]


@dataclass
class CheckpointedRun:
    """Bucket-partitioned batch with a commit manifest → resumable runs."""

    spark: SparkSession
    out_dir: str
    n_buckets: int = 16
    key: str = "doc_id"

    def __post_init__(self) -> None:
        _require_local(self.out_dir, type(self).__name__)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.out_dir, "_manifest.json")

    def _manifest_lock(self):
        """Serialize manifest read-modify-write cycles (cancel() racing a
        concurrent run()'s _commit from another thread/process would
        otherwise lose one side's update between the read and the
        os.replace)."""
        return _sidecar_flock(self.manifest_path + ".lock")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"entries": [], "status": "running"}
        with open(self.manifest_path) as f:
            m = json.load(f)
        m.setdefault("status", "running")
        return m

    def committed(self) -> set[int]:
        return {e["bucket"] for e in self._read_manifest()["entries"]}

    def status(self) -> str:
        """'running' | 'cancelled' | 'complete' — the run's observable
        state, mirroring the reference's job cancel/retry endpoints
        (``server.js:339-351`` cancel marker, ``server.js:354-366`` retry
        re-enqueue). A cancelled run keeps every committed bucket; the next
        ``run()`` call IS the retry — it flips status back to running and
        processes only the complement."""
        return self._read_manifest()["status"]

    def cancel(self, reason: str = "") -> None:
        """Mark the run cancelled (no bucket data is touched). Committed
        buckets remain committed, so a later ``run()`` resumes identically
        to a crash-resume."""
        with self._manifest_lock():
            m = self._read_manifest()
            m["status"] = "cancelled"
            m["cancelled_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
            if reason:
                m["cancel_reason"] = reason
            _write_json_atomic(self.manifest_path, m)

    def _commit(self, bucket: int, rows: int, n_bytes: int = 0) -> None:
        with self._manifest_lock():
            m = self._read_manifest()
            m["entries"].append(
                {
                    "bucket": bucket,
                    "rows": rows,
                    "bytes": n_bytes,
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "snapshot_id": uuid.uuid4().hex,
                }
            )
            # a cancel() issued while this run is in flight must survive the
            # commit (the completed bucket still records — cancel keeps
            # work); the run loop observes it and stops before the next
            # bucket
            if m["status"] != "cancelled":
                m["status"] = (
                    "complete" if len(m["entries"]) >= self.n_buckets else "running"
                )
            _write_json_atomic(self.manifest_path, m)

    def bucket_col(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def run(
        self,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        fail_after: int | None = None,
    ) -> list[int]:
        """Process all not-yet-committed buckets; returns buckets done this
        call. ``fail_after`` aborts after N bucket commits (crash-injection
        for the resume test).

        ONE pass over the source per run: uncommitted buckets are filtered,
        transformed, and written in a single ``partitionBy(_bucket)`` job to
        a staging dir; each bucket then commits via an atomic directory move
        + manifest append. (The per-bucket-filter formulation would rescan
        the source once per bucket — a 16× read amplification at 100 TB.)
        Contract: ``transform`` must be BUCKET-LOCAL — every output row must
        derive only from input rows of its own bucket (row-wise maps,
        per-``key`` aggregations, explodes keyed by ``key`` all qualify; a
        cross-bucket aggregate or join does NOT: it would see only the todo
        subset on a resumed run and silently diverge from a clean run). It
        must also preserve the ``key`` column (the bucket identity — checked
        here). Row counts come from parquet footers, not a data re-read.

        Calling ``run()`` on a cancelled manifest is the retry: status flips
        back to running and only the complement is processed.
        """
        import shutil

        done: list[int] = []
        # both status flips are read-modify-write cycles and take the
        # manifest lock like cancel()/_commit() — an unlocked flip here
        # would clobber a concurrent mutation with its stale snapshot
        with self._manifest_lock():
            m = self._read_manifest()
            if m["status"] == "cancelled":  # retry after cancel (server.js:354-366)
                m["status"] = "running"
                _write_json_atomic(self.manifest_path, m)
        todo = [b for b in range(self.n_buckets) if b not in self.committed()]
        if not todo:
            # all buckets committed: restore 'complete' — a cancel that
            # raced the FINAL bucket's commit leaves a full manifest
            # marked cancelled, which this (the retry) resolves
            with self._manifest_lock():
                m = self._read_manifest()
                if m["status"] != "complete":
                    m["status"] = "complete"
                    _write_json_atomic(self.manifest_path, m)
            return done
        src = (
            source.withColumn("_bucket", self.bucket_col())
            .filter(F.col("_bucket").isin(todo))
            .drop("_bucket")
        )
        out = transform(src)
        if self.key not in out.columns:
            raise ValueError(
                f"transform must preserve the bucket key column {self.key!r}"
            )
        out = out.withColumn("_bucket", self.bucket_col())
        staging = os.path.join(self.out_dir, f"_staging_{uuid.uuid4().hex[:8]}")
        try:
            out.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
            # Zero rows across ALL todo buckets ⇒ partitionBy writes no
            # parquet files and a read of `staging` would fail schema
            # inference — every bucket then commits empty from the
            # transform's statically-known schema.
            any_staged = any(
                fn.startswith("_bucket=") for fn in os.listdir(staging)
            )
            if any_staged:
                staged = self.spark.read.parquet(staging)
                # count(*) per partition dir is satisfied from footer metadata
                counts = {
                    r["_bucket"]: r["n"]
                    for r in staged.groupBy("_bucket")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            else:
                counts = {}
            empty_schema = out.drop("_bucket").schema
            for b in todo:
                # cooperative cancellation: a cancel() that landed since
                # the last commit stops the run before the next bucket —
                # committed work is kept, the complement resumes on retry
                if self._read_manifest()["status"] == "cancelled":
                    break
                src_dir = os.path.join(staging, f"_bucket={b}")
                dst = os.path.join(self.out_dir, f"bucket={b}")
                if os.path.exists(src_dir):
                    if os.path.exists(dst):
                        shutil.rmtree(dst)
                    os.replace(src_dir, dst)  # atomic same-fs dir swap
                else:  # bucket with zero output rows still commits
                    self.spark.createDataFrame([], empty_schema).write.mode(
                        "overwrite"
                    ).parquet(dst)
                n_bytes = sum(
                    os.path.getsize(os.path.join(dst, fn))
                    for fn in os.listdir(dst)
                    if fn.endswith(".parquet")
                )
                self._commit(b, int(counts.get(b, 0)), n_bytes)
                done.append(b)
                if fail_after is not None and len(done) >= fail_after:
                    raise RuntimeError(
                        f"injected failure after {fail_after} buckets"
                    )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return done

    def result(self) -> DataFrame:
        paths = [
            os.path.join(self.out_dir, f"bucket={b}") for b in sorted(self.committed())
        ]
        return self.spark.read.parquet(*paths)

    def result_asof(self, n_commits: int) -> DataFrame:
        """Snapshot time travel: the table as of the first ``n_commits``
        manifest entries (Iceberg's read-at-snapshot, over this class's
        manifest-as-log). Commit order is deterministic (buckets process
        in sorted todo order), so an as-of read is reproducible; committed
        bucket directories are immutable after their atomic move, so the
        snapshot is consistent even while a later run() appends."""
        entries = self._read_manifest()["entries"][:n_commits]
        if not entries:
            raise ValueError("no commits at or before the requested snapshot")
        paths = [
            os.path.join(self.out_dir, f"bucket={e['bucket']}") for e in entries
        ]
        return self.spark.read.parquet(*paths)


@dataclass
class IncrementalRun:
    """File-level delta processing over an append-only input directory —
    process only files not yet in the manifest (the Iceberg
    incremental-read pattern: each run consumes the snapshot delta, not
    the table). The batch complement to the streaming file source: same
    exactly-once-per-file contract, driver-scheduled.

    Each delta writes to a deterministic ``delta=<sha12>/`` directory
    (sha of the sorted new-file list), so a crash after the write but
    before the manifest commit re-creates the identical delta on retry
    (overwrite) instead of duplicating rows — idempotent recovery without
    a transaction log.
    """

    spark: SparkSession
    out_dir: str

    def __post_init__(self) -> None:
        _require_local(self.out_dir, type(self).__name__)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.out_dir, "_files_manifest.json")

    def processed(self) -> set[str]:
        if not os.path.exists(self.manifest_path):
            return set()
        with open(self.manifest_path) as f:
            return {e["path"] for e in json.load(f)["files"]}

    def new_files(self, input_dir: str) -> list[str]:
        # realpath-normalized: '/data/in', 'data/in', and a symlinked
        # mount must all resolve to the same manifest identity, or a
        # re-spelled path would reprocess (and duplicate) every file
        seen = self.processed()
        root = os.path.realpath(input_dir)
        return sorted(
            os.path.join(root, fn)
            for fn in os.listdir(root)
            if fn.endswith(".parquet")
            and os.path.join(root, fn) not in seen
        )

    def run(
        self,
        input_dir: str,
        transform: Callable[[DataFrame], DataFrame],
        fail_before_commit: bool = False,
    ) -> list[str]:
        """Process the file delta; returns the files consumed this call."""
        import hashlib

        files = self.new_files(input_dir)
        if not files:
            return []
        delta_id = hashlib.sha256("\n".join(files).encode()).hexdigest()[:12]
        out = transform(self.spark.read.parquet(*files))
        out.write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"delta={delta_id}")
        )
        if fail_before_commit:  # crash injection for the recovery test
            raise RuntimeError("injected failure before manifest commit")
        self._commit(files, delta_id)
        return files

    def _commit(self, files: list[str], delta_id: str) -> None:
        # locked read-modify-write, as in the other manifest classes: two
        # runs committing different deltas must not lose one another's
        # entries between the read and the os.replace
        with _sidecar_flock(self.manifest_path + ".lock"):
            entries = []
            if os.path.exists(self.manifest_path):
                with open(self.manifest_path) as f:
                    entries = json.load(f)["files"]
            for p in files:
                entries.append(
                    {
                        "path": p,
                        "bytes": os.path.getsize(p),
                        "delta_id": delta_id,
                        "committed_at": time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                    }
                )
            _write_json_atomic(self.manifest_path, {"files": entries})

    def result(self) -> DataFrame:
        with open(self.manifest_path) as f:
            deltas = sorted({e["delta_id"] for e in json.load(f)["files"]})
        return self.spark.read.parquet(
            *(os.path.join(self.out_dir, f"delta={d}") for d in deltas)
        )


@dataclass
class StagedRun:
    """Stage-granular commit manifest for multi-stage corpus chains —
    the cross-stage complement of ``CheckpointedRun``'s bucket manifest.

    A corpus build is a linear chain of stage TABLES (extract → gate →
    line-dedup → minhash pairs → clusters → …), each materialized to
    parquet. This class makes that layout crash-resumable: every stage
    commits (parquet dir fully written, then an atomic manifest append),
    and a re-run **skips committed stages without invoking their thunk
    at all** — the driver restarts, points at the same ``out_dir``, and
    the chain resumes from the first uncommitted stage. That is the
    production behavior the reference's job checkpoints provide
    (``backend/utils/worker.js:53-112``: progress checkpoints + a result
    store that makes finished work observable across restarts), lifted
    to whole-stage granularity.

    Crash window analysis: a kill mid-write leaves a partial parquet dir
    with NO manifest entry — the re-run overwrites it (mode=overwrite),
    so partial output is never read. A kill between the write and the
    manifest append re-runs one stage (at-least-once per stage,
    exactly-once per COMMITTED stage); stages are deterministic
    DataFrame programs, so the overwrite converges. The manifest swap
    itself is the same ``os.replace`` atomic-rename used by
    ``CheckpointedRun``.

    Stage thunks take no arguments and return the stage's DataFrame;
    inputs are read from upstream stages' committed parquet paths
    (``path()``), which is exactly what makes skipping sound — a resumed
    stage sees byte-identical inputs to a clean run's.
    """

    spark: SparkSession
    out_dir: str

    def __post_init__(self) -> None:
        # manifest + _SUCCESS probes use os.path/open/os.replace while
        # stage DATA goes through Spark writers — a remote out_dir would
        # silently de-synchronize the two (r7 advice). Same contract as
        # CheckpointedRun, now enforced for both.
        _require_local(self.out_dir, type(self).__name__)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.out_dir, "_stages.json")

    def _read(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"stages": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def committed(self) -> dict[str, dict]:
        return {e["stage"]: e for e in self._read()["stages"]}

    def is_committed(self, name: str) -> bool:
        # manifest entry AND the written table's own success marker: a
        # manifest that somehow outlives its data (manual cleanup) must
        # not skip the stage into reading a missing table
        return name in self.committed() and os.path.exists(
            os.path.join(self.path(name), "_SUCCESS")
        )

    def run_stage(
        self, name: str, mk_df: Callable[[], DataFrame]
    ) -> tuple[str, bool, float]:
        """Execute (or skip) one stage; returns (path, skipped, wall_s).

        Committed stages return without calling ``mk_df`` — resume cost
        is two file stats, not a recompute."""
        out = self.path(name)
        if self.is_committed(name):
            return out, True, 0.0
        t0 = time.monotonic()
        mk_df().write.mode("overwrite").parquet(out)
        wall = time.monotonic() - t0
        n_bytes = sum(
            os.path.getsize(os.path.join(out, fn))
            for fn in os.listdir(out)
            if fn.endswith(".parquet")
        )
        # locked read-modify-write: two drivers resuming the same out_dir
        # (crash-recovery race) must not lose each other's commit between
        # the read and the os.replace — same hygiene as CheckpointedRun's
        # _manifest_lock (r7 advice).
        with _sidecar_flock(self.manifest_path + ".lock"):
            m = self._read()
            m["stages"] = [e for e in m["stages"] if e["stage"] != name] + [
                {
                    "stage": name,
                    "sec": round(wall, 3),
                    "bytes": n_bytes,
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "snapshot_id": uuid.uuid4().hex,
                }
            ]
            _write_json_atomic(self.manifest_path, m)
        return out, False, wall
