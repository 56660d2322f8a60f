"""Memoization as joins — the reference's cache layers (SURVEY §2.4).

The reference wraps every stage in lookup-or-compute-and-store against a
content-addressed Redis keyspace (J1 preprocess ``preprocessFilter.js:
23-45``, J2 OCR ``ocrFilter.js:30-69``, J3 translate ``translateFilter.js:
36-76``, J4 export ``pdfFilter.js:23-65``) and dedups whole requests on a
composite key with early exit (J5, ``cacheFilter.js:6-42`` +
``cacheStoreFilter.js:14-40``).

Spark-first re-expression:

* a cache layer is a table ``(key…, value…)``; the probe is a LEFT JOIN
  against the broadcast cache;
* compute-on-miss runs only on the null side of the join, then the two
  legs are unioned — the physical analogue of the reference's per-row
  ``if (cached) … else compute``;
* within-run request dedup (J5) = compute once per DISTINCT key and join
  results back to every duplicate row — exactly a 100 %-hit cache for
  repeated content, with zero external state. It is composed in place by
  ``document_pipeline.convert_batch`` (one window names each key's
  representative), not an operator here.

Every operator emits ``<stage>_from_cache`` lineage flags mirroring the
reference's provenance booleans (``fromCache``, ``ocrFromCache``, … —
SURVEY §1.1) and hit/miss counts via ``Observation`` (A1,
``utils/cacheStats.js:4-42``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Compute = Callable[[DataFrame], DataFrame]


def memo_join(
    df: DataFrame,
    cache: DataFrame,
    keys: list[str],
    value_cols: list[str],
    compute: Compute,
    stage: str,
) -> DataFrame:
    """Lookup-or-compute one stage against a cache table.

    ``compute`` receives the miss rows (original columns only) and must
    return them with ``value_cols`` added. Result = hits ∪ computed, with
    a ``{stage}_from_cache`` lineage flag. Corrupt/NULL cached values fall
    back to compute (the reference's corrupt-JSON fallback,
    ``ocrFilter.js:35-40``): a cache row whose value columns are all NULL
    counts as a miss.

    The cache side is broadcast. The union is eagerly checkpointed and the
    persisted probe join released before returning, so the operator leaves
    no cached blocks behind in long-lived sessions.
    """
    from functools import reduce
    from operator import or_

    has_value = reduce(or_, [F.col(v).isNotNull() for v in value_cols])
    # A cache hit must have at least one non-null value column (corrupt
    # payloads — all-NULL values — are treated as misses).
    c = F.broadcast(cache.filter(has_value))
    # persist so the probe join executes ONCE: hits, misses, and the
    # compute-over-misses leg all read the cached join output instead of
    # re-evaluating it (2–3×).
    probed = df.join(c, on=keys, how="left").persist()
    try:
        hits = probed.filter(has_value).withColumn(
            f"{stage}_from_cache", F.lit(True)
        )
        misses = probed.filter(~has_value).drop(*value_cols)
        computed = compute(misses).withColumn(f"{stage}_from_cache", F.lit(False))
        return hits.unionByName(computed).localCheckpoint(eager=True)
    finally:
        probed.unpersist()


def refresh_cache(
    cache: DataFrame, computed: DataFrame, keys: list[str], value_cols: list[str]
) -> DataFrame:
    """Merge newly computed rows into a cache table (new rows win) —
    the reference's SET-after-compute (``preprocessFilter.js:36-41``),
    as a batch upsert."""
    new = computed.select(*keys, *value_cols)
    old = cache.select(*keys, *value_cols).join(
        new.select(*keys), on=keys, how="left_anti"
    )
    return new.unionByName(old)


def persist_cache(cache: DataFrame, path: str) -> None:
    """Write a cache table for cross-run reuse (the Redis-TTL analogue is
    retention on this table; Catalyst cannot memoize across runs —
    SURVEY §4 — so this table IS the cross-run memo)."""
    cache.write.mode("overwrite").parquet(path)


def load_cache(spark, path: str, ddl: str) -> DataFrame:
    """Load a persisted cache table; empty (with schema) if absent."""
    import os

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    return spark.createDataFrame([], ddl)


def cache_stats(df: DataFrame, flag_cols: list[str]) -> DataFrame:
    """A1: hit/miss counters + hit rate per stage, as one aggregate.

    Mirrors ``cacheStats.js:27-35``: rate = hits/(hits+misses)·100, 2 dp.
    Returns columns: stage, hits, misses, hit_rate_pct.
    """
    per_stage = [
        F.struct(
            F.lit(c.removesuffix("_from_cache")).alias("stage"),
            F.sum(F.when(F.col(c), 1).otherwise(0)).alias("hits"),
            F.sum(F.when(~F.col(c), 1).otherwise(0)).alias("misses"),
        )
        for c in flag_cols
    ]
    exploded = (
        df.agg(F.array(*per_stage).alias("s"))
        .select(F.explode("s").alias("s"))
        .select("s.stage", "s.hits", "s.misses")
    )
    total = F.col("hits") + F.col("misses")
    return exploded.withColumn(
        "hit_rate_pct",
        F.when(total == 0, F.lit(0.0)).otherwise(
            F.round(F.col("hits") * 100.0 / total, 2)
        ),
    )
