"""Similarity search over embedding columns (``array<float>``).

Three strategies:

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus, rank per query. The baseline; exact, one
  narrow pass over the corpus + a per-query top-k (no O(n²) shuffle
  because queries are broadcast).
* ``lsh_topk`` — random-hyperplane (sign) LSH: bucket vectors by the sign
  pattern of dot products with H deterministic hyperplanes; candidates =
  bucket collisions (with optional multi-probe on Hamming-1 buckets);
  exact cosine re-rank within candidates. The 100 TB path: the corpus is
  scanned once to bucket, then joins are equi-joins on small bucket keys.
* ``embedding_near_dups`` — all-pairs near-dup detection with the same
  sign-LSH buckets: one exchange on the bucket, then an exact in-bucket
  Gram verify in one Python call per bucket
  (``text_kernels.cosine_bucket_pairs_arrow``), so no pair relation is
  ever materialized and each vector crosses into Python once.

All arithmetic in float64 with explicit fold order (``zip_with`` +
``aggregate``) so results are deterministic and reproducible in the
DuckDB oracle. Hyperplanes are seeded numpy constants embedded as
literals — identical on both engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ktpm___ocr_spark.functions.exprutil import let, let2
from ktpm___ocr_spark.operators.windows import top_n_per_key


def _to_double(vec: Column) -> Column:
    # native array cast, not a per-element lambda transform: float→double
    # widening is exact either way, but the Cast expression avoids one
    # interpreted lambda pass per reference (this column is referenced
    # dozens of times per vector in the multi-table LSH shape)
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Let-bound throughout: each input array and the norm product
    evaluate exactly once per row. Bare references would re-inline the
    full upstream array expression into every consumer — ``a`` appears in
    norm's zip_with(a, a) twice, the norm product twice more via the
    when/otherwise, so an expensive input chain (e.g. the quantize→
    dequantize columns in ``quantized_topk``) would otherwise evaluate
    5× per pair, in interpreted (non-codegen) HOF evaluation."""

    def body(ad, bd):
        return let(
            norm(ad) * norm(bd),
            lambda d: F.when(d == 0, F.lit(0.0)).otherwise(dot(ad, bd) / d),
        )

    return let2(_to_double(a), _to_double(b), body)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_dp: int = 5,
) -> DataFrame:
    """Exact cosine top-k of corpus vectors per query vector.

    Returns (query_id, neighbor_id, cos). Queries are broadcast — the
    corpus is never shuffled; ranking shuffles only |corpus|·|queries|
    candidate rows grouped by query.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_dp).alias("cos"),
        )
    )
    return top_n_per_key(
        scored, "query_id", "cos", k, tiebreak="neighbor_id", desc=True
    ).orderBy("query_id", F.desc("cos"), "neighbor_id")


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 7) -> list[list[float]]:
    """Deterministic seeded hyperplanes, rounded so literals embedded in
    SQL oracles are bit-identical to these."""
    rng = np.random.default_rng(seed)
    return [
        [round(float(x), 6) for x in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id as a bitstring, e.g. '01101001'.

    Deliberately NOT let-bound: A/B measurement on the bench corpus shows
    the let wrapper's extra array materialization per access costs more
    than the repeated cast transform saves in this shape (16.6 vs 10.4 s
    for the 16-table ANN query) — the bound value here is consumed by a
    generator (explode), where the one-element-array trick defeats
    per-struct evaluation. Contrast ``cosine``, where let-binding wins
    because the bound arrays feed multiple fold consumers per row."""
    vd = _to_double(vec)
    bits = [
        # one array literal per plane: ``dim`` F.lit calls took ~4× longer
        F.when(
            dot(vd, F.lit(np.array(plane, dtype=np.float64))) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _multi_table_buckets(vec: Column, dim: int, n_planes: int, n_tables: int, seed: int) -> Column:
    """Array of (table, bucket) structs — one sign-pattern bucket per table."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(vec, hyperplanes(dim, n_planes, seed + t)).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 7,
    *,
    dim: int,
    round_dp: int = 5,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: L independent tables of
    H hyperplanes each; candidates = bucket collisions in ANY table
    (union ≡ the standard OR-construction), exact cosine re-rank within
    candidates. Recall tunes with (H, L); the scale path when |queries|
    is too large to broadcast — every join is an equi-join on small
    (table, bucket) keys, never a cross product.

    ``dim`` is REQUIRED (keyword-only): a first-row probe during plan
    construction would be a hidden driver-side action, so the embedding
    dimension must come from the caller's schema knowledge."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.explode(
            _multi_table_buckets(F.col(vec_col), dim, n_planes, n_tables, seed)
        ).alias("b"),
    ).select("neighbor_id", "c_vec", "b.tbl", "b.bucket")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            _multi_table_buckets(F.col(vec_col), dim, n_planes, n_tables, seed)
        ).alias("b"),
    ).select("query_id", "q_vec", "b.tbl", "b.bucket")
    cand = (
        c.join(q, ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_dp).alias("cos"),
    )
    return top_n_per_key(
        scored, "query_id", "cos", k, tiebreak="neighbor_id", desc=True
    ).orderBy("query_id", F.desc("cos"), "neighbor_id")


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    *,
    dim: int,
    round_dp: int = 5,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ``(id_a, id_b, cos)`` via LSH
    bucketing + exact verify: every pair of vectors sharing a sign-LSH
    bucket (near-identical vectors collide with high probability at 8
    planes) with ``id_a < id_b`` and ``round(cosine, round_dp) >=
    threshold``.
    ``dim`` is REQUIRED (keyword-only): a first-row probe during plan
    construction would be a hidden driver-side action.

    The verify is ``text_kernels.cosine_bucket_pairs_arrow``: one
    exchange on the bucket, then each bucket's vectors go to Python once
    and its Gram block is computed with the Catalyst fold order and the
    exact HALF_UP boundary. It is bit-identical to the bucket self-join →
    ``round(cosine(a, b), round_dp) >= threshold`` composition, which
    tests/test_text_kernels.py keeps as the spec. The verify runs at most
    ``spark.sql.shuffle.partitions`` Python tasks (fewer once AQE
    coalesces a small shuffle), whatever the input's partitioning.
    """
    from ktpm___ocr_spark.operators.text_kernels import cosine_bucket_pairs_arrow

    planes = hyperplanes(dim, n_planes, seed)
    b = df.select(
        F.col(id_col),
        _to_double(F.col(vec_col)).alias(vec_col),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    return cosine_bucket_pairs_arrow(b, id_col, vec_col, threshold, round_dp)


# ------------------------------------------------------- int8 quantization
def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: struct(q_scale, q_vec).

    ``scale = max|x|``; ``q_i = floor(x_i·127/scale + 0.5)`` (round-half-
    up, spelled as floor so both engines agree bit-for-bit — SQL round()
    half-away and banker's rounding disagree on negative halves).
    Zero vectors quantize to all-zero with scale 0 (no ANSI division).

    At 100 TB this is the memory lever for ANN: 4× smaller vectors than
    float32 (32× vs the float64 compute form), cache-resident IVF probes,
    and the dequantized cosine stays within ~0.5% of exact — measured by
    comparing `ann_topk_quantized` against `ann_topk_bruteforce`.
    """
    vd = _to_double(vec)
    return let(
        F.array_max(F.transform(vd, lambda x: F.abs(x))),
        lambda sc: F.struct(
            sc.alias("q_scale"),
            F.when(sc == 0, F.transform(vd, lambda x: F.lit(0)))
            .otherwise(
                F.transform(
                    vd,
                    lambda x: F.floor(x * 127 / sc + F.lit(0.5)).cast("int"),
                )
            )
            .alias("q_vec"),
        ),
    )


def dequantize(q_scale: Column, q_vec: Column) -> Column:
    """Back to double for similarity math: x̂_i = q_i·scale/127."""
    return F.transform(q_vec, lambda y: y.cast("double") * q_scale / 127.0)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact-rank cosine top-k over int8-dequantized vectors — the
    quality/throughput point a quantized vector store serves. Same
    broadcast/no-corpus-shuffle shape as brute_force_topk."""

    def dq(df):
        # let-bind BOTH the quantize struct and the scalar scale: a bare
        # q["q_scale"] reference inside the per-element dequantize lambda
        # would re-inline the whole quantize subtree (array_max included)
        # once per element — O(d²) per vector, measured ~2.7× slower on
        # the 64-dim bench corpus.
        return df.select(
            F.col(id_col),
            let(
                quantize_int8(F.col(vec_col)),
                lambda q: let(
                    q["q_scale"],
                    lambda sc: dequantize(sc, q["q_vec"]),
                ),
            ).alias(vec_col),
        )

    return brute_force_topk(dq(corpus), dq(queries), id_col, vec_col, k)


def center_vectors(
    df: DataFrame, id_col: str, vec_col: str = "vec", *, dim: int
) -> DataFrame:
    """Remove the corpus-mean direction from embedding vectors and
    re-normalize — the decorrelation step before cosine LSH over
    bag-of-words-style features.

    Why it exists: every document drawn from one corpus shares the
    corpus word-frequency profile, so raw (even per-doc-centered)
    hashed-BoW vectors all lean along ONE direction — measured on the
    400k synthetic corpus: median RANDOM-pair cosine 0.91, top LSH
    bucket holding 16 % of the corpus, which turns the bucket self-join
    quadratic. Subtracting the corpus mean leaves per-document
    fluctuations, which are near-orthogonal across unrelated docs; the
    same rank-1 whitening step LSI/PCA pipelines apply before angular
    similarity (Deerwester 1990's first component removal).

    Shape at scale: ONE aggregate scan (32 avgs → a single driver row —
    bounded control flow, same class as the k-means centroid collect),
    then a map-side subtract/renormalize with the mean inlined as a
    literal array. Zero vectors stay zero.
    """
    from ktpm___ocr_spark.functions.exprutil import let

    mean_row = df.agg(
        *[
            F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
            for i in range(dim)
        ]
    ).first()
    mean = F.array(
        *[F.lit(float(mean_row[f"m{i}"] or 0.0)) for i in range(dim)]
    )
    centered = F.zip_with(F.col(vec_col), mean, lambda x, m: x - m)
    is_zero = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x
    ) == F.lit(0.0)
    out = F.when(is_zero, F.col(vec_col)).otherwise(
        let(
            centered,
            lambda c: let(
                F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)),
                lambda nrm: F.when(nrm == 0, c).otherwise(
                    F.transform(c, lambda x: x / nrm)
                ),
            ),
        )
    )
    return df.select(F.col(id_col), out.alias(vec_col))
