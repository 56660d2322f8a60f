"""ANN over the driver's embeddings table: brute force vs numpy exact;
LSH variant self-consistency; embedding near-dups."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dups,
    hyperplanes,
    lsh_bucket,
    lsh_topk,
)

K = 5
N_QUERIES = 8


@pytest.fixture(scope="module")
def emb(spark, sf001_dir):
    df = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    df.cache().count()
    return df


def _numpy_topk(rows, query_ids, k):
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    want = {}
    for qid in query_ids:
        qi = int(np.where(ids == qid)[0][0])
        cos = normed @ normed[qi]
        cand = [
            (round(float(c), 5), int(i))
            for c, i in zip(cos, ids)
            if i != qid
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        want[qid] = [(i, c) for c, i in cand[:k]]
    return want


def test_brute_force_matches_numpy(spark, emb):
    queries = emb.orderBy("vec_id").limit(N_QUERIES)
    qids = [r["vec_id"] for r in queries.select("vec_id").collect()]
    got = brute_force_topk(emb, queries, k=K).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cos"]))
    want = _numpy_topk(emb.collect(), qids, K)
    assert by_q == want


def test_lsh_topk_is_subset_with_decent_recall(spark, emb):
    queries = emb.orderBy("vec_id").limit(N_QUERIES)
    exact = brute_force_topk(emb, queries, k=K).collect()
    approx = lsh_topk(emb, queries, k=K, n_planes=4, n_tables=16, dim=64).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # approx neighbors carry true cosine values, and recall is high at
    # the H=4/L=16 operating point (0.95 measured offline on this table)
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.7, recall
    cos_lookup = {
        (r["query_id"], r["neighbor_id"]): r["cos"] for r in exact
    }
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in cos_lookup:
            assert abs(r["cos"] - cos_lookup[key]) < 1e-9


def test_embedding_near_dups_finds_planted_pair(spark, emb):
    # plant an exact duplicate vector with a new id
    row = emb.orderBy("vec_id").first()
    dup = spark.createDataFrame(
        [(999999, row["embedding"], row["label"])], emb.schema
    )
    got = embedding_near_dups(emb.unionByName(dup), threshold=0.999, dim=64).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in got}
    assert (row["vec_id"], 999999) in pairs
    assert pairs[(row["vec_id"], 999999)] == 1.0


def test_embedding_near_dups_keeps_pair_at_exact_threshold(spark):
    """cos((3,4), (4,3)) = 24/25 = 0.96 exactly: at threshold 0.96 the
    pair is kept (>=, boundary included) once both share a bucket."""
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [4.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    buckets = {
        r["bucket"]
        for r in df.select(lsh_bucket(F.col("embedding"), hyperplanes(2)).alias("bucket"))
        .collect()
    }
    assert len(buckets) == 1, buckets
    got = embedding_near_dups(df, threshold=0.96, dim=2).collect()
    assert [(r["id_a"], r["id_b"], r["cos"]) for r in got] == [(1, 2, 0.96)]


def test_quantize_int8_roundtrip_bound(spark):
    from ktpm___ocr_spark.operators.similarity import dequantize, quantize_int8

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, no ANSI div error
            (3, [3.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    qz = quantize_int8(F.col("embedding"))
    rows = {
        r["vec_id"]: r
        for r in df.select(
            "vec_id",
            qz["q_scale"].alias("sc"),
            qz["q_vec"].alias("qv"),
            dequantize(qz["q_scale"], qz["q_vec"]).alias("dv"),
        ).collect()
    }
    assert rows[1]["sc"] == 1.0
    assert rows[1]["qv"] == [64, -127, 32, 0]  # 0.5*127+0.5 floor = 64
    assert rows[2]["sc"] == 0.0 and rows[2]["qv"] == [0, 0, 0, 0]
    assert rows[3]["qv"] == [127] and rows[3]["dv"] == [3.0]
    # reconstruction error ≤ half a quantization step
    for orig, dv, sc in [
        ([0.5, -1.0, 0.25, 0.0], rows[1]["dv"], rows[1]["sc"])
    ]:
        step = sc / 127.0
        assert all(abs(a - b) <= step / 2 + 1e-12 for a, b in zip(orig, dv))


def test_quantized_topk_matches_exact_on_coarse_data(spark):
    from ktpm___ocr_spark.operators.similarity import brute_force_topk, quantized_topk

    # vectors whose cosines are well separated: quantized ranking == exact
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    q = df.filter("vec_id = 1")
    exact = [(r["neighbor_id"]) for r in brute_force_topk(df, q, k=3).collect()]
    quant = [(r["neighbor_id"]) for r in quantized_topk(df, q, k=3).collect()]
    assert exact == quant == [2, 3, 4]
