"""Partitioning & skew handling (SURVEY §4, north_rule skew requirement).

The skew source is mega-documents: one doc per ~1000 has ~10⁴ spans (the
reference's 50 MB single-upload analogue, ``backend/server.js:133-141``).
Where it bites and what we do:

* **Extraction** (extract_arrow_native, and its JVM spec extract_narrow):
  a document never leaves its row, so a mega-doc is bounded, in-row work
  — no shuffle, no hot key.
* **Scan-side balance**: ``repartition_by_weight`` salts heavy rows so
  hashing doc_id can't put several mega-docs in one task.
* **Hot-key aggregation**: ``salted_sum_count`` reduces a key that holds
  most of the input through a salted two-phase partial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repartition_by_weight(
    df: DataFrame,
    key: str = "doc_id",
    weight=None,
    num_partitions: int | None = None,
    heavy_threshold: int = 1000,
) -> DataFrame:
    """Repartition on (key, salt) where heavy rows (weight ≥ threshold)
    get a per-row unique salt — heavy docs spread across tasks instead of
    hashing together. Light rows keep salt 0 so their placement stays
    deterministic by key."""
    w = weight if weight is not None else F.size(F.col("spans"))
    salt = F.when(
        w >= heavy_threshold, F.pmod(F.crc32(F.col(key).cast("string")), F.lit(997))
    ).otherwise(F.lit(0))
    out = df.withColumn("_salt", salt)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return out.repartition(n, F.col(key), F.col("_salt")).drop("_salt")


def salted_sum_count(
    df: DataFrame,
    key: str,
    value: str,
    salt_src: str,
    salt_buckets: int = 32,
) -> DataFrame:
    """Hot-key-proof count+sum: two-phase aggregation through a salted
    partial. Phase 1 aggregates on (key, pmod(xxhash64(salt_src), B)) —
    a key receiving half the corpus is reduced by B tasks in parallel —
    phase 2 merges B partials per key. Results are salt-invariant.

    The sum is carried as DECIMAL(18,2) through both phases (exact,
    order-independent — double summation would make the result depend on
    partial grouping) and surfaced as double. Spark's own partial/final
    hash aggregation does the same thing *within* one logical agg; the
    explicit salt is for the case AQE can't fix: a single key so hot its
    final-phase reducer is still the straggler.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt_buckets))
    partial = df.groupBy(F.col(key), salt.alias("_salt")).agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(F.col(value).cast("decimal(18,2)")).alias("_s"),
    )
    return partial.groupBy(key).agg(
        F.sum("_c").alias("n"),
        F.sum("_s").cast("double").alias("total"),
    )
