"""Skew machinery: both extraction paths equal the oracle on a corpus
with a mega-doc; weighted repartition balances heavy rows; the salted
two-phase aggregate is salt-invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.corpus import generate_df, generate_rows
from ktpm___ocr_spark.oracle import extract_corpus
from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
from ktpm___ocr_spark.pipeline import extract_narrow
from ktpm___ocr_spark.plans.partitioning import repartition_by_weight

N_DOCS = 1050  # includes the mega-doc at index 1000 (~10⁴ spans)
SEED = 42


@pytest.fixture(scope="module")
def skewed_rows():
    return generate_rows(N_DOCS, SEED)


@pytest.fixture(scope="module")
def skewed_df(spark):
    df = generate_df(spark, N_DOCS, SEED, partitions=8)
    df.cache().count()
    return df


def test_corpus_contains_mega_doc(skewed_rows):
    sizes = {r["doc_id"]: len(r["spans"]) for r in skewed_rows}
    assert max(sizes.values()) >= 9000


@pytest.fixture(scope="module")
def mega_extracts(skewed_df):
    """Each extraction path's output on the mega-doc corpus, by doc_id."""
    return {
        extract.__name__: {
            r["doc_id"]: r["spans"]
            for r in extract(skewed_df, variant="pdf", boilerplate="drop").collect()
        }
        for extract in (extract_narrow, extract_arrow_native)
    }


def test_salted_restitch_equals_oracle(skewed_rows, mega_extracts):
    """Both extraction paths keep the ~10⁴-span mega-doc in its row (no
    re-stitch, salted or not) and still equal the oracle on it and on the
    1049 ordinary docs."""
    want = extract_corpus(skewed_rows, variant="pdf", boilerplate="drop")
    for name, spans_by_doc in mega_extracts.items():
        got = {
            doc_id: [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
            ]
            for doc_id, spans in spans_by_doc.items()
        }
        assert got == want, name


def test_salted_restitch_equals_narrow(mega_extracts):
    """The production path equals the all-JVM spec row for row on the
    mega-doc corpus, span structs included."""
    assert mega_extracts["extract_arrow_native"] == mega_extracts["extract_narrow"]


def test_repartition_by_weight_spreads_heavy_rows(spark, skewed_df):
    out = repartition_by_weight(skewed_df, num_partitions=16, heavy_threshold=1000)
    sizes = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum(F.size("spans")).alias("total_spans"))
        .collect()
    )
    assert out.count() == skewed_df.count()
    totals = [r["total_spans"] for r in sizes]
    # the mega-doc alone is ~10⁴ spans; no partition should hold multiple
    # mega-docs' worth of weight beyond the single-row floor
    assert max(totals) < 2 * 11_000


def test_salted_sum_count_salt_invariant(spark):
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.plans.partitioning import salted_sum_count

    # one pathologically hot key (80% of rows) + a long tail
    rows = [(7, i, float(i % 10) + 0.5) for i in range(800)] + [
        (i % 50, 1000 + i, 1.0) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id long, value double")
    plain = {
        (r["user_id"]): (r["n"], r["total"])
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    for buckets in (4, 32):
        salted = {
            (r["user_id"]): (r["n"], r["total"])
            for r in salted_sum_count(
                df, "user_id", "value", "event_id", salt_buckets=buckets
            ).collect()
        }
        assert salted == plain
