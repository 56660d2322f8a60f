"""Memo-joins (J1–J4) + cache stats (A1): hits skip compute, corrupt
payloads fall back (FIXTURES.md §3 contract). J5's compute-once-per-key
is convert_batch's, pinned in test_render_pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from ktpm___ocr_spark.operators.memo import cache_stats, memo_join


def test_memo_join_hits_and_misses(spark):
    docs = spark.createDataFrame(
        [("d1", "h1"), ("d2", "h2"), ("d3", "h3"), ("d4", "h1")],
        "doc_id string, pre_hash string",
    )
    cache = spark.createDataFrame(
        [("h1", "cached-one"), ("h2", None)],  # h2 = corrupt payload
        "pre_hash string, text string",
    )
    computed_marker = "computed"

    def compute(miss):
        return miss.withColumn(
            "text", F.concat(F.lit(computed_marker), F.lit(":"), F.col("pre_hash"))
        )

    out = memo_join(
        docs, cache, keys=["pre_hash"], value_cols=["text"], compute=compute, stage="ocr"
    )
    rows = {r["doc_id"]: (r["text"], r["ocr_from_cache"]) for r in out.collect()}
    assert rows["d1"] == ("cached-one", True)
    assert rows["d4"] == ("cached-one", True)  # same hash → same cached value
    assert rows["d2"] == ("computed:h2", False)  # corrupt → recompute
    assert rows["d3"] == ("computed:h3", False)
    assert out.count() == 4


def test_cache_stats_rates(spark):
    df = spark.createDataFrame(
        [(True, False), (True, True), (False, True), (True, True)],
        "pre_from_cache boolean, ocr_from_cache boolean",
    )
    got = {
        r["stage"]: (r["hits"], r["misses"], r["hit_rate_pct"])
        for r in cache_stats(df, ["pre_from_cache", "ocr_from_cache"]).collect()
    }
    assert got["pre"] == (3, 1, 75.0)
    assert got["ocr"] == (3, 1, 75.0)


def test_cross_run_cache_reuse(spark, tmp_path):
    """FIXTURES §3: a second run against the persisted stage cache takes
    every row as a hit and recomputes nothing."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.operators.memo import (
        load_cache,
        memo_join,
        persist_cache,
        refresh_cache,
    )

    ddl = "pre_hash string, text string"
    cache_path = str(tmp_path / "cache_text")
    docs = spark.createDataFrame(
        [("d1", "h1"), ("d2", "h2"), ("d3", "h3")], "doc_id string, pre_hash string"
    )

    def compute(miss):
        return miss.withColumn("text", F.concat(F.lit("ocr:"), F.col("pre_hash")))

    # run 1: empty cache → all misses; persist the refreshed cache
    c0 = load_cache(spark, cache_path, ddl)
    out1 = memo_join(docs, c0, ["pre_hash"], ["text"], compute, stage="ocr")
    assert out1.filter("ocr_from_cache").count() == 0
    persist_cache(
        refresh_cache(c0, out1.select("pre_hash", "text"), ["pre_hash"], ["text"]),
        cache_path,
    )

    # run 2: same inputs + one new doc → 3 hits, 1 miss
    docs2 = docs.union(
        spark.createDataFrame([("d4", "h4")], "doc_id string, pre_hash string")
    )

    def compute2(miss):
        # any old row reaching compute here would be a cache-reuse failure
        return miss.withColumn("text", F.concat(F.lit("NEW:"), F.col("pre_hash")))

    c1 = load_cache(spark, cache_path, ddl)
    out2 = memo_join(docs2, c1, ["pre_hash"], ["text"], compute2, stage="ocr")
    rows = {r["doc_id"]: (r["text"], r["ocr_from_cache"]) for r in out2.collect()}
    assert rows["d1"] == ("ocr:h1", True)
    assert rows["d2"] == ("ocr:h2", True)
    assert rows["d3"] == ("ocr:h3", True)
    assert rows["d4"] == ("NEW:h4", False)
