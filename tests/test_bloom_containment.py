"""Bloom membership guarantees, n-gram containment semantics, and
manifest snapshot time travel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.functions.bloom import bloom_build, bloom_probe
from ktpm___ocr_spark.operators.dedup import containment_pairs, ngram_containment


def test_bloom_no_false_negatives(spark):
    """Every key that IS in the reference set must probe positive."""
    ref = spark.createDataFrame([(f"k{i}",) for i in range(50)], "ks string")
    bits = bloom_build(ref, F.col("ks"))
    probe = spark.createDataFrame(
        [(i, f"k{i}") for i in range(50)], "id long, ks string"
    )
    got = bloom_probe(bits, probe, "id", F.col("ks")).collect()
    assert all(r["bloom_hit"] for r in got)


def test_bloom_rejects_most_absent_keys(spark):
    """Absent keys mostly probe negative (FP rate ≪ 1 at this load:
    50 keys × 4 hashes in 65536 bits)."""
    ref = spark.createDataFrame([(f"k{i}",) for i in range(50)], "ks string")
    bits = bloom_build(ref, F.col("ks"))
    probe = spark.createDataFrame(
        [(i, f"absent{i}") for i in range(200)], "id long, ks string"
    )
    got = bloom_probe(bits, probe, "id", F.col("ks")).collect()
    fp = sum(1 for r in got if r["bloom_hit"])
    assert fp <= 2, f"{fp} false positives in 200 at ~0.003% expected rate"


def test_bloom_bits_relation_is_bounded(spark):
    ref = spark.createDataFrame([(f"k{i}",) for i in range(1000)], "ks string")
    bits = bloom_build(ref, F.col("ks"))
    assert bits.count() <= 1 << 16


def test_containment_detects_subdocument_dup(spark):
    """A paragraph embedded verbatim in a much larger doc: low Jaccard,
    but containment(small → large) == 1.0."""
    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    big = " ".join(f"filler{i}" for i in range(200)) + " " + para
    df = spark.createDataFrame([(1, para), (2, big)], "id long, text string")
    row = df.select(
        ngram_containment(
            F.lit(para), F.lit(big)
        ).alias("c_small_in_big"),
        ngram_containment(F.lit(big), F.lit(para)).alias("c_big_in_small"),
    ).collect()[0]
    assert row["c_small_in_big"] == 1.0
    assert row["c_big_in_small"] < 0.1


def test_containment_pairs_finds_planted_quote(spark):
    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    big = " ".join(f"w{i} x{i} y{i}" for i in range(30)) + " " + para
    others = [(i, f"unique doc {i} " + " ".join(f"t{i}_{j}" for j in range(20))) for i in range(10, 15)]
    df = spark.createDataFrame(
        [(1, para), (2, big)] + others, "doc_id long, text string"
    )
    got = containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    pairs = {(r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"]) for r in got}
    assert (1, 2) in pairs
    assert pairs[(1, 2)][0] >= 0.8  # the quote is contained in the big doc


def test_result_asof_snapshot_reads(spark, tmp_path):
    from ktpm___ocr_spark.metrics import CheckpointedRun

    docs = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=8)
    ident = lambda df: df.select("doc_id")  # noqa: E731
    run.run(docs, ident)
    full = run.result().count()
    assert full == 100
    # snapshots grow monotonically and the last equals the full table
    sizes = [run.result_asof(k).count() for k in (1, 4, 8)]
    assert sizes[0] < sizes[1] < sizes[2] == full
    # as-of is reproducible (deterministic commit order)
    assert run.result_asof(4).count() == sizes[1]
    with pytest.raises(ValueError):
        run.result_asof(0)


def _words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def test_containment_pairs_keeps_pair_at_exact_threshold(spark):
    """Kept: doc 1 has 20 distinct 3-shingles, 10 of them inside doc 2
    (cont_a_in_b = 0.5 exactly) while doc 2 has 21, so cont_b_in_a =
    10/21 < 0.5 — the keep rule is ``>=`` and EITHER direction. Dropped:
    docs 3/4 share 9 shingles, 9/19 and 9/20, just below both ways."""
    run = _words("run", 12)  # 12 words → 10 shared shingles
    a = run + _words("xa", 10)  # 22 words → 20 shingles
    b = _words("yb", 1) + run + _words("zb", 10)  # 23 words → 21 shingles
    run2 = _words("rr", 11)  # 9 shared shingles
    c = run2 + _words("xc", 10)  # 21 words → 19 shingles
    d = _words("yd", 1) + run2 + _words("zd", 10)  # 22 words → 20 shingles
    df = spark.createDataFrame(
        [(i + 1, " ".join(t)) for i, t in enumerate((a, b, c, d))],
        "doc_id long, text string",
    )
    got = containment_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert [tuple(r) for r in got] == [(1, 2, 0.5, 0.4762)]
    # docs 3/4 must still reach the verify for their drop to mean anything
    loose = containment_pairs(df, "doc_id", "text", threshold=0.45).collect()
    assert {(r["id_a"], r["id_b"]) for r in loose} == {(1, 2), (3, 4)}
