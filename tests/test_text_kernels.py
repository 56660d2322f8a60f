"""Kernel ≡ expression pins for operators/text_kernels.py.

The Arrow kernels are only allowed to exist because they are
bit-identical to the Catalyst expression forms (which the driver's
DuckDB oracles mirror). These tests ARE that contract: each operator
runs on fixture corpus plus adversarial rows and is compared, full-row,
against a test-local composition of the public Column specs
(``minhash_signature``, ``ngram_jaccard``, ``ngram_containment``,
``gopher_keep_expr``, ``similarity.cosine``/``lsh_bucket``) — and a
pure-math pin of the HALF_UP round-boundary transform the gate kernel
uses in place of per-row Decimal rounding.
"""

from __future__ import annotations

import inspect
import random

import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.functions import textstats
from ktpm___ocr_spark.functions.exprutil import let
from ktpm___ocr_spark.operators import dedup as dd
from ktpm___ocr_spark.operators import similarity
from ktpm___ocr_spark.operators import text_kernels as tk

# deterministic adversarial rows: whitespace-class edges (\x0b is the
# char where RE2's \s and Java's \s disagree — both kernels must treat
# it as a separator because Java does), unicode, case, short texts,
# heavy repetition, and split-artifact shapes (leading/trailing runs)
ADVERSARIAL = [
    None,
    "",
    "   ",
    "\t\n\x0b\f\r",
    "word",
    "two words",
    "a b c",
    "  leading and trailing  ",
    "tab\tsep\nnewline\x0bvtab\fformfeed\rcarriage end",
    "UPPER Case MiXeD lower",
    "café naïve straße 東京 \U0001f680 words here",
    "nbsp is not a separator but space is",
    "dup dup dup dup dup",
    "the the the the the the the the the the",
    "1 22 333 4444 55555 punct, punct. punct! ?",
    "x y x y x y x y x y x y",
    " ".join(f"w{i % 7}" for i in range(64)),
    " ".join(f"tok{i}" for i in range(40)) + " the a of in on",
]


def _rand_texts(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    seps = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r", " \n "]
    vocab = [f"w{j}" for j in range(30)] + list(textstats.EN_STOPWORDS[:8]) + [
        "LongerWordHere",
        "xyzzy",
        "café",
        "AB",
    ]
    out = []
    for _ in range(n):
        k = rng.randrange(0, 40)
        parts = []
        for _ in range(k):
            parts.append(rng.choice(vocab))
            parts.append(rng.choice(seps))
        out.append("".join(parts))
    return out


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------- specs (Column compositions)


def _lsh_bands_spec(df, id_col, text_col, k=dd.MINHASH_K, bands=dd.LSH_BANDS):
    """(id, band_idx, band_hash): band b is the first BAND_HEX hex chars
    of sha256 over the decimal ``minhash_signature`` values of rows
    b·r+1 … (b+1)·r, joined by \\x1f."""
    rows = k // bands
    band_structs = let(
        dd.minhash_signature(F.col(text_col), k),
        lambda sig: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band_idx"),
                F.substring(
                    F.sha2(
                        F.concat_ws(
                            "\x1f",
                            *[
                                F.element_at(
                                    sig, (b * rows + r + 1).cast("int")
                                ).cast("string")
                                for r in range(rows)
                            ],
                        ),
                        256,
                    ),
                    1,
                    dd.BAND_HEX,
                ).alias("band_hash"),
            ),
        ),
    )
    return df.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col, "b.band_idx", "b.band_hash"
    )


def _candidate_texts_spec(docs, bands_rel):
    """Distinct band-sharing (id_a < id_b) pairs of doc_id/text ``docs``
    with both texts attached."""
    l, r = bands_rel.alias("l"), bands_rel.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .distinct()
    )
    texts = docs.select("doc_id", "text")
    return cand.join(
        texts.withColumnsRenamed({"doc_id": "id_a", "text": "text_a"}), "id_a"
    ).join(
        texts.withColumnsRenamed({"doc_id": "id_b", "text": "text_b"}), "id_b"
    )


def _gopher_gate_spec(df):
    return df.select(
        F.col("doc_id"), textstats.gopher_keep_expr("text").alias("keep")
    )


def test_operators_take_no_impl_switch():
    """One production path per operator: the Column specs live in the
    package and in these tests, never as an ``impl=`` switch."""
    for fn in (
        dd.lsh_bands,
        dd.minhash_near_dups,
        dd.containment_pairs,
        dd.incremental_near_dups,
        textstats.gopher_gate,
        similarity.embedding_near_dups,
    ):
        assert "impl" not in inspect.signature(fn).parameters, fn.__name__


@pytest.mark.parametrize("bands", [4, 16])
def test_lsh_bands_kernel_equals_expression_adversarial(spark, bands):
    df = _df(spark, ADVERSARIAL + _rand_texts(120, seed=7))
    a = dd.lsh_bands(df, "doc_id", "text", k=16, bands=bands)
    e = _lsh_bands_spec(df, "doc_id", "text", k=16, bands=bands)
    assert a.schema.fieldNames() == e.schema.fieldNames()
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in e.schema.fields
    ]
    assert _rows(a) == _rows(e)


def test_lsh_bands_kernel_equals_expression_fixture(spark, sf001_dir):
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    a = dd.lsh_bands(docs, "doc_id", "text")
    e = _lsh_bands_spec(docs, "doc_id", "text")
    assert _rows(a) == _rows(e)


def test_kernel_constants_match_dedup():
    assert tk._SHINGLE_N == dd.SHINGLE_N
    assert tk._BAND_HEX == dd.BAND_HEX


def test_round4_boundary_transform_is_exact():
    """round(d, 4) <= T  ⟺  d < float64(T + 0.00005), for Spark's
    HALF_UP round over Double.toString's shortest repr. Pin it against
    the Decimal model on every fraction best/n a mode computation can
    produce near the boundaries, plus dense random doubles."""
    from decimal import ROUND_HALF_UP, Decimal

    def spark_round4_le(d: float, t: str) -> bool:
        r = Decimal(repr(d)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        return r <= Decimal(t)

    for t, lt in ((("0.30"), tk._TOP_WORD_LT), (("0.18"), tk._TOP_BIGRAM_LT)):
        target = float(t)
        for n in range(1, 4001):
            # fractions straddling the boundary for this denominator
            c = int(target * n)
            for best in (c - 1, c, c + 1, c + 2):
                if 0 <= best <= n:
                    d = best / n
                    assert (d < lt) == spark_round4_le(d, t), (best, n, t)
        rng = random.Random(13)
        for _ in range(20000):
            d = target + (rng.random() - 0.5) * 1e-3
            assert (d < lt) == spark_round4_le(d, t), (d, t)


BOUNDARY_DOCS = [
    # exactly 10 words, mean len 3.0, 1 stopword (ratio 0.10) → keep
    "the aaa bbb ccc ddd eee fff ggg hhh iii",
    # 9 words → length gate fails
    "the aaa bbb ccc ddd eee fff ggg hhh",
    # mean word len below 3.0 → drop
    "the aa bb cc dd ee ff gg hh ii",
    # mean word len exactly 10.0 (all len-10 incl stopword pad) → keep
    "aaaaaaaaaa bbbbbbbbbb cccccccccc dddddddddd eeeeeeeeee ffffffffff "
    "gggggggggg hhhhhhhhhh iiiiiiiiii the the ov",
    # stopword ratio exactly 0.06: 3 stop / 50 words
    " ".join(["the", "a", "of"] + [f"word{i:02d}" for i in range(47)]),
    # stopword ratio just under: 2 stop / 50
    " ".join(["the", "a"] + [f"word{i:02d}" for i in range(48)]),
    # top word frac exactly 0.30 (3/10) → round4 = 0.3 → keep
    "foo foo foo bar baz the quux corge grault arrr",
    # top word frac 0.4 → drop
    "foo foo foo foo baz the quux corge grault arrr",
    # repeated bigram: "x y" appears heavily → bigram gate drops
    "the aaa " + "x y " * 20 + "bbb ccc ddd",
]


def test_gopher_gate_kernel_equals_expression_boundary_and_random(spark):
    df = _df(spark, ADVERSARIAL + BOUNDARY_DOCS + _rand_texts(300, seed=21))
    a = textstats.gopher_gate(df, "doc_id", "text")
    e = _gopher_gate_spec(df)
    assert _rows(a) == _rows(e)
    # the boundary fixtures exercise BOTH decisions (a gate that says
    # one thing for every row would vacuously "match")
    keeps = {r["doc_id"]: r["keep"] for r in e.collect()}
    assert any(keeps.values()) and not all(keeps.values())


def test_gopher_gate_kernel_equals_expression_fixture(spark, sf01_dir):
    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    a = textstats.gopher_gate(docs, "doc_id", "text")
    e = _gopher_gate_spec(docs)
    assert _rows(a) == _rows(e)


def test_gopher_filter_arrow_matches_expression_filter(spark, sf001_dir):
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    a = tk.gopher_filter_arrow(docs, "text")
    e = docs.filter(textstats.gopher_keep_expr("text"))
    assert a.schema == docs.schema  # composition face passes schema through
    assert _rows(a.select("doc_id")) == _rows(e.select("doc_id"))


def test_minhash_near_dups_end_to_end_unchanged_by_kernel(spark, sf001_dir):
    """The consumer contract: the full banded near-dup pipeline returns
    the same verified pair set as the Column-spec composition (spec
    bands → candidates → round(ngram_jaccard, 4) ≥ threshold)."""
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    got = dd.minhash_near_dups(docs, "doc_id", "text", threshold=0.5)
    want = (
        _candidate_texts_spec(docs, _lsh_bands_spec(docs, "doc_id", "text"))
        .withColumn(
            "jaccard",
            F.round(dd.ngram_jaccard(F.col("text_a"), F.col("text_b")), 4),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )
    assert _rows(got) == _rows(want)


def test_hashed_bow_embedding_properties(spark):
    """Featurizer contract: unit-norm, deterministic, near-dup texts at
    high cosine, unrelated texts near-orthogonal (centering removes the
    all-positive-counts diagonal that would fake similarity)."""
    import math
    import random

    rng = random.Random(3)
    base = [f"tok{rng.randrange(500)}" for _ in range(60)]
    variant = list(base)
    variant[7] = "changed"
    other = [f"zzz{rng.randrange(500)}" for _ in range(60)]
    df = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(variant)),
            (3, " ".join(other)),
            (4, ""),
        ],
        "id long, text string",
    )
    vecs = {
        r["id"]: r["vec"]
        for r in tk.hashed_bow_embedding_arrow(df, "id", "text").collect()
    }

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert all(len(v) == 32 for v in vecs.values())
    for i in (1, 2, 3):
        assert abs(math.sqrt(cos(vecs[i], vecs[i])) - 1.0) < 1e-9
    assert cos(vecs[1], vecs[2]) > 0.95
    assert abs(cos(vecs[1], vecs[3])) < 0.6
    assert vecs[4] == [0.0] * 32  # zero-word doc keeps the zero vector
    again = {
        r["id"]: r["vec"]
        for r in tk.hashed_bow_embedding_arrow(df, "id", "text").collect()
    }
    assert again == vecs


def test_semantic_stage_composition_finds_planted_neardups(spark):
    """The composed-bench semantic stage end-to-end at unit scale:
    hashed-BoW embed → sign-LSH bucket join → cosine ≥ 0.95."""
    import random

    from ktpm___ocr_spark.operators.similarity import embedding_near_dups

    rng = random.Random(9)
    rows = []
    for d in range(30):
        ws = [f"w{d}q{rng.randrange(3000)}" for _ in range(80)]
        rows.append((2 * d, " ".join(ws)))
        var = list(ws)
        var[rng.randrange(80)] = "edited"
        rows.append((2 * d + 1, " ".join(var)))
    df = spark.createDataFrame(rows, "id long, text string")
    emb = tk.hashed_bow_embedding_arrow(df, "id", "text")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            emb, id_col="id", vec_col="vec", threshold=0.95, n_planes=8, dim=32
        ).collect()
    }
    planted = {(2 * d, 2 * d + 1) for d in range(30)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.6, recall  # 8-plane single-band recall at cos≈0.99
    assert len(pairs - planted) <= 2  # essentially no artifact pairs


def test_center_vectors_decorrelates_zipf_corpus(spark):
    """Regression pin of the corpus-profile pathology: docs drawing most
    tokens from a SHARED Zipf-ish pool correlate strongly in raw
    hashed-BoW space (that is what collapsed the LSH buckets on the
    400k fixture — median random-pair cos 0.91); after corpus-mean
    removal unrelated pairs decorrelate while planted near-dups stay at
    cos ≈ 1, and the semantic join finds exactly the planted pairs."""
    import random

    from ktpm___ocr_spark.operators.similarity import (
        center_vectors,
        embedding_near_dups,
    )

    rng = random.Random(17)
    common = [f"c{j}" for j in range(25)]  # shared Zipf head
    rows = []
    for d in range(40):
        ws = [rng.choice(common) for _ in range(70)] + [
            f"rare{d}_{rng.randrange(1000)}" for _ in range(10)
        ]
        rng.shuffle(ws)
        rows.append((2 * d, " ".join(ws)))
        var = list(ws)
        var[rng.randrange(80)] = "edited"
        rows.append((2 * d + 1, " ".join(var)))
    df = spark.createDataFrame(rows, "id long, text string")
    emb = tk.hashed_bow_embedding_arrow(df, "id", "text")
    vecs = {r["id"]: r["vec"] for r in emb.collect()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    # the pathology is REAL on this fixture: raw unrelated pairs correlate
    raw_unrelated = [cos(vecs[0], vecs[2 * d]) for d in range(5, 15)]
    assert sum(raw_unrelated) / 10 > 0.5, raw_unrelated

    cvecs = {
        r["id"]: r["vec"]
        for r in center_vectors(emb, "id", "vec", dim=32).collect()
    }
    c_unrelated = [cos(cvecs[0], cvecs[2 * d]) for d in range(5, 15)]
    assert max(abs(c) for c in c_unrelated) < 0.7, c_unrelated
    assert sum(abs(c) for c in c_unrelated) / 10 < 0.35
    assert cos(cvecs[0], cvecs[1]) > 0.9  # planted near-dup survives

    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            center_vectors(emb, "id", "vec", dim=32),
            id_col="id", vec_col="vec", threshold=0.9, n_planes=6, dim=32,
        ).collect()
    }
    planted = {(2 * d, 2 * d + 1) for d in range(40)}
    assert len(pairs & planted) / len(planted) >= 0.6
    assert len(pairs - planted) <= 4


def test_shingle_metrics_kernel_equals_expression_values(spark):
    """Verify-kernel value pin: round(jaccard,4) / round(containment,4)
    doubles are IDENTICAL to the Catalyst expression forms on random and
    adversarial pairs (including a long near-clone — the mega-doc shape
    that makes the expression path slow)."""
    rng = random.Random(31)
    texts = ADVERSARIAL + _rand_texts(60, seed=33)
    big = " ".join(f"m{rng.randrange(400)}" for _ in range(4000))
    pairs = [(big, big + " rev2 nightly")]
    for i in range(0, len(texts) - 1, 2):
        pairs.append((texts[i], texts[i + 1]))
    for _ in range(40):
        a = texts[rng.randrange(len(texts))]
        pairs.append((a, a))
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "pid long, text_a string, text_b string",
    ).repartition(4)
    got = tk.shingle_metrics_arrow(
        df, "text_a", "text_b",
        metrics=("jaccard", "cont_a_in_b", "cont_b_in_a"),
    )
    want = df.select(
        "pid",
        F.round(dd.ngram_jaccard(F.col("text_a"), F.col("text_b")), 4).alias(
            "jaccard"
        ),
        F.round(
            dd.ngram_containment(F.col("text_a"), F.col("text_b")), 4
        ).alias("cont_a_in_b"),
        F.round(
            dd.ngram_containment(F.col("text_b"), F.col("text_a")), 4
        ).alias("cont_b_in_a"),
    )
    assert _rows(got) == _rows(want)


def test_containment_pairs_kernel_equals_expression(spark, sf001_dir):
    """containment_pairs ≡ spec bands (k bands of one row) → candidates
    → round(ngram_containment, 4) both ways, either direction ≥ 0.5."""
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    a = dd.containment_pairs(docs, "doc_id", "text")
    k = dd.MINHASH_K
    e = (
        _candidate_texts_spec(
            docs, _lsh_bands_spec(docs, "doc_id", "text", k=k, bands=k)
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                dd.ngram_containment(F.col("text_a"), F.col("text_b")), 4
            ).alias("cont_a_in_b"),
            F.round(
                dd.ngram_containment(F.col("text_b"), F.col("text_a")), 4
            ).alias("cont_b_in_a"),
        )
        .filter((F.col("cont_a_in_b") >= 0.5) | (F.col("cont_b_in_a") >= 0.5))
    )
    assert _rows(a) == _rows(e)


# ------------------------------------------- cosine pair-verify kernel


def test_round5_ge_boundary_transform_is_exact():
    """round(d, 5) >= T  ⟺  d >= float64(T - 0.000005) — the mirrored
    form of the round4 <= transform, used by cosine_bucket_pairs_arrow's
    threshold test. Pin against the Decimal HALF_UP model on dense
    random doubles around both thresholds the engine uses."""
    from decimal import ROUND_HALF_UP, Decimal

    def spark_round5_ge(d: float, t: str) -> bool:
        r = Decimal(repr(d)).quantize(
            Decimal("0.00001"), rounding=ROUND_HALF_UP
        )
        return r >= Decimal(t)

    for t in ("0.95", "0.997", "0.5"):
        boundary = float(Decimal(t) - Decimal("0.000005"))
        rng = random.Random(29)
        for _ in range(20000):
            d = float(t) + (rng.random() - 0.5) * 1e-4
            assert (d >= boundary) == spark_round5_ge(d, t), (d, t)
        # exact boundary double and its neighbors
        import math

        for d in (
            boundary,
            math.nextafter(boundary, 0.0),
            math.nextafter(boundary, 2.0),
        ):
            assert (d >= boundary) == spark_round5_ge(d, t), (d, t)


def _bucket_spec(b, threshold):
    """Test-local spec of ``cosine_bucket_pairs_arrow``: the Column-spec
    composition the production path replaced — bucket self-join with
    ``id_a < id_b``, then ``round(cosine(a, b), 5) >= threshold``."""
    from ktpm___ocr_spark.operators.similarity import cosine

    return (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.vec"), F.col("r.vec")), 5).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _pair_multiset(df):
    """Sorted (id_a, id_b, cos) rows; NaN spelled out so it compares."""
    import math

    return sorted(
        (r["id_a"], r["id_b"], "NaN" if math.isnan(r["cos"]) else r["cos"])
        for r in df.collect()
    )


def _kernel_equals_spec(b, threshold):
    got = _pair_multiset(tk.cosine_bucket_pairs_arrow(b, "id", "vec", threshold))
    assert got == _pair_multiset(_bucket_spec(b, threshold))
    return got


def _bucket_rows(pairs):
    """One bucket per (name, va, vb) pair: rows '<name>a' and '<name>b',
    so each bucket holds exactly the one candidate pair."""
    return [
        row
        for name, va, vb in pairs
        for row in ((f"{name}a", va, name), (f"{name}b", vb, name))
    ]


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "id string, vec array<double>, bucket string")


def test_cosine_pairs_kernel_equals_expression(spark):
    """cosine_bucket_pairs_arrow ≡ the bucket self-join spec — exact pair
    set AND exact values, on dup/boundary/random/zero pairs, a cosine
    that is exactly the HALF_UP boundary double, plus one hot
    bucket larger than a Gram tile (off-diagonal tiles and the
    diagonal-tile id_a < id_b mask), its ids inserted out of order and
    its cosines spread around the threshold."""
    import math
    from decimal import Decimal

    import numpy as np

    rng = np.random.default_rng(31)
    dim = 16
    pairs = []
    for i in range(200):
        a = rng.normal(size=dim)
        a /= np.linalg.norm(a)
        kind = i % 4
        if kind == 0:  # exact duplicate
            b = a.copy()
        elif kind == 1:  # near-boundary cosine around 0.95
            target = 0.95 + (rng.random() - 0.5) * 2e-4
            o = rng.normal(size=dim)
            o -= o.dot(a) * a
            o /= np.linalg.norm(o)
            b = target * a + np.sqrt(max(0.0, 1 - target * target)) * o
        elif kind == 2:  # random
            b = rng.normal(size=dim)
            b /= np.linalg.norm(b)
        else:  # zero vector → denom 0 → cos 0.0
            b = np.zeros(dim)
        pairs.append((f"p{i:04d}", a.tolist(), b.tolist()))
    # cosines that ARE the boundary double T - 5e-6 (round5 → 0.95, kept)
    # and the double just below it (round5 → 0.94999, dropped)
    edge = float(Decimal("0.95") - Decimal("0.000005"))
    for name, c in (("x_at", edge), ("x_below", math.nextafter(edge, 0.0))):
        pairs.append((name, [1.0, 0.0], [c, math.sqrt(1 - c * c)]))
    # found by nudging the last component ULP by ULP: the left-to-right
    # fold lands exactly on the boundary double (kept), while np.dot, a
    # BLAS matmul and math.fsum all give the double below it (dropped)
    pairs.append((
        "x_fold",
        [-2.0395038375946424, -0.3403166247023773, -0.6086106159129299,
         0.5327215998890392, -2.279026489055327, 1.1744986790091876,
         1.0669833108953142, -1.3020708582457947],
        [-0.6593893650905104, -0.1872303799867496, -0.15618741717588286,
         0.21887479203746818, -0.35663392878822137, 0.2876266320706281,
         0.3758959899688241, -0.3265503517501934],
    ))
    rows = _bucket_rows(pairs)
    n_hot = tk._GRAM_TILE + 60
    base = rng.normal(size=dim)
    for i in rng.permutation(n_hot):
        v = base + rng.normal(size=dim) * 0.25
        rows.append((f"h{i:04d}", v.tolist(), "hot"))
    got = _kernel_equals_spec(_vec_df(spark, rows), 0.95)
    assert sum(1 for r in got if r[0].startswith("p")) >= 50  # planted dups
    assert [r for r in got if r[0].startswith("x")] == [
        ("x_ata", "x_atb", 0.95),
        ("x_folda", "x_foldb", 0.95),
    ]
    hot = [r for r in got if r[0].startswith("h")]
    cross_tile = [r for r in hot if r[1] >= f"h{tk._GRAM_TILE:04d}"]
    assert 0 < len(hot) < n_hot * (n_hot - 1) // 2 and cross_tile


def test_cosine_pairs_kernel_fallback_ragged_and_null(spark):
    """Null, null-element and length-mismatched vectors match the spec:
    zip_with null-pads, so a ragged pair has a null dot and is dropped —
    unless one side has zero norm, where the spec's ``when(d == 0, 0.0)``
    fires first and the pair is kept with cos 0.0 at a threshold ≤ 0.
    Two rows with equal ids never pair with each other."""
    import math

    v = [1.0, 0.0]
    rows = _bucket_rows(
        [
            ("p1", [1.0, 0.0], [1.0, 0.0]),        # cos 1.0 → kept
            ("p2", None, [1.0, 0.0]),               # null → dropped
            ("p3", [1.0, 0.0, 0.0], [1.0, 0.0]),   # ragged → dropped
            ("p4", [0.0, 0.0], [1.0, 0.0]),        # zero norm → cos 0.0
            ("p5", [3.0, 4.0], [3.0, 4.0]),        # cos 1.0 → kept
            ("p6", [1.0, None], [1.0, 0.0]),       # null element → dropped
            ("p7", [0.0, 0.0], [1.0, 0.0, 0.0]),   # ragged, zero norm
            ("p8", [], [1.0]),                      # empty: zero norm
            ("p9", [1.0, 0.0], [-1e-9, 1.0]),      # rounds to +0.0, not -0.0
        ]
    ) + [("e1", v, "eq"), ("e1", v, "eq"), ("e2", v, "eq")]
    df = _vec_df(spark, rows)
    assert _kernel_equals_spec(df, 0.95) == [
        ("e1", "e2", 1.0),
        ("e1", "e2", 1.0),
        ("p1a", "p1b", 1.0),
        ("p5a", "p5b", 1.0),
    ]
    low = _kernel_equals_spec(df, 0.0)
    assert ("p7a", "p7b", 0.0) in low and ("p8a", "p8b", 0.0) in low
    assert not any(r[0] in ("p2a", "p3a", "p6a") for r in low)
    assert ("e1", "e1", 1.0) not in low
    (neg,) = [r[2] for r in low if r[0] == "p9a"]
    assert neg == 0.0 and math.copysign(1.0, neg) == 1.0


def test_cosine_pairs_kernel_nan_matches_spark_ordering(spark):
    """Non-finite vectors: Spark orders NaN above every double, so a NaN
    cosine passes ``round(cos,5) >= T`` and the spec KEEPS the pair with
    cos = NaN — the kernel must too (numpy NaN comparisons are False, so
    this needs the explicit isnan re-add). Checked with one pair per
    bucket and with every row in one bucket, where each NaN/±Inf vector
    meets every other vector, ragged ones included."""
    nan, inf = float("nan"), float("inf")
    pairs = [
        ("n1", [nan, 0.0], [1.0, 0.0]),   # NaN dot → NaN cos → KEPT
        ("n2", [inf, 0.0], [1.0, 0.0]),   # inf/inf → NaN cos → KEPT
        ("n3", [1.0, nan], [1.0, nan]),   # NaN both sides → KEPT
        ("n4", [-inf, 0.0], [1.0, 0.0]),  # -inf/inf → NaN cos → KEPT
        ("ok", [3.0, 4.0], [3.0, 4.0]),   # finite control → kept, 1.0
        ("lo", [1.0, 0.0], [0.0, 1.0]),   # cos 0.0 → dropped
        ("rg", [1.0, 0.0, 0.0], [1.0, 0.0]),  # ragged → dropped
    ]
    per_pair = _bucket_rows(pairs)
    got = _kernel_equals_spec(_vec_df(spark, per_pair), 0.95)
    assert {r[0] for r in got} == {"n1a", "n2a", "n3a", "n4a", "oka"}
    one_bucket = [(i, vec, "all") for i, vec, _ in per_pair]
    got = _kernel_equals_spec(_vec_df(spark, one_bucket), 0.95)
    assert ("n1a", "oka", "NaN") in got


def test_embedding_near_dups_arrow_equals_expr(spark):
    """The full operator (lsh_bucket + bucket Gram verify) is
    value-identical to the Column-spec composition (lsh_bucket self-join
    → round(cosine, 5) ≥ threshold) on the planted near-dup corpus."""
    from ktpm___ocr_spark.operators.similarity import (
        center_vectors,
        embedding_near_dups,
        hyperplanes,
        lsh_bucket,
    )

    rng = random.Random(41)
    rows = []
    for i in range(300):
        words = [f"tok{rng.randrange(500):03d}" for _ in range(60)]
        rows.append((i, " ".join(words)))
        if i % 5 == 0:  # planted near-dup: one word changed
            w2 = list(words)
            w2[7] = "mutated"
            rows.append((10000 + i, " ".join(w2)))
    df = spark.createDataFrame(rows, "id long, text string")
    emb = center_vectors(
        tk.hashed_bow_embedding_arrow(df, "id", "text", dim=32),
        "id",
        "vec",
        dim=32,
    )
    emb = emb.localCheckpoint(eager=True)  # same input relation twice
    got = _pair_multiset(
        embedding_near_dups(emb, "id", "vec", threshold=0.8, n_planes=6, dim=32)
    )
    b = emb.select(
        "id", "vec", lsh_bucket(F.col("vec"), hyperplanes(32, 6, 7)).alias("bucket")
    )
    assert got == _pair_multiset(_bucket_spec(b, 0.8))
    assert len(got) >= 30  # most planted near-dups share a bucket


def test_embedding_near_dups_python_fanout_follows_shuffle_partitions(spark):
    """An input spread over 8 × defaultParallelism partitions must not
    set the Python fan-out: the plan is one bucket exchange sized by
    ``spark.sql.shuffle.partitions`` feeding one FlatMapGroupsInArrow —
    no pair join and no per-pair MapInArrow (every Python task pays a
    fixed start cost, text_kernels module docstring)."""
    import re

    import numpy as np

    from ktpm___ocr_spark.operators.similarity import embedding_near_dups

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(400, 8))
    vecs[1::2] = vecs[::2]  # planted exact dups: (2k, 2k+1)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "id long, vec array<double>"
    ).repartition(spark.sparkContext.defaultParallelism * 8)
    out = embedding_near_dups(df, "id", "vec", threshold=0.99, n_planes=4, dim=8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(2 * k, 2 * k + 1) for k in range(200)} <= got
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    for node in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
                 "MapInArrow", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in plan, (node, plan)
    parts = [int(n) for n in re.findall(r"hashpartitioning\(bucket#\d+, (\d+)\)", plan)]
    limit = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(parts) == 1 and parts[0] <= limit, (parts, plan)


# ------------------------------------------- r7 review fixes


def test_gopher_kernel_matches_expr_on_full_case_mapping(spark):
    """pc.utf8_lower is the SIMPLE per-codepoint case mapping; Spark's
    lower() is Java full case mapping. The kernel must agree with the
    expression on the divergent characters (Turkish İ expands to two
    codepoints — changing word LENGTH — and Greek sigma takes the
    Final_Sigma form), pinned here because the ASCII-heavy fixtures
    can't see it (r7 review, confirmed divergence pre-fix)."""
    texts = [
        # İ lowers to i + U+0307 under full mapping (len 2, not 1)
        "İN İN aaa bbb ccc ddd eee fff ggg hhh the of",
        # final sigma: ΟΔΟΣ → οδος (simple mapping gives οδοσ)
        "ΟΔΟΣ οδος aaa bbb ccc ddd eee fff ggg hhh the of",
        # mixed-case stopword: THE must count as a stopword post-lower
        "THE The the aaa bbb ccc ddd eee fff ggg hhh iii jjj",
        # German sharp-s variants
        "STRAẞE straße aaa bbb ccc ddd eee fff ggg hhh the of",
    ]
    df = _df(spark, texts)
    got = {
        r["doc_id"]: r["keep"]
        for r in tk.gopher_gate_arrow(df).collect()
    }
    want = {
        r["doc_id"]: r["keep"]
        for r in df.select(
            "doc_id", textstats.gopher_keep_expr(F.col("text")).alias("keep")
        ).collect()
    }
    assert got == want
    # and the raw-spelling re-key counts case variants as ONE word:
    # 'THE The the' is 3 occurrences of one lowered word
    mixed = _df(spark, ["THE The the xxx " * 5])
    g = tk.gopher_gate_arrow(mixed).first()["keep"]
    e = mixed.select(
        textstats.gopher_keep_expr(F.col("text")).alias("k")
    ).first()["k"]
    assert g == e


def test_hashed_bow_full_case_mapping_bucket_identity(spark):
    """Case variants of one word must hash to the same crc32 bucket —
    including the full-mapping pairs utf8_lower got wrong."""
    pairs = [("İSTANBUL", "i̇stanbul"), ("ΟΔΟΣ", "οδος"), ("THE", "the")]
    for up, low in pairs:
        df = spark.createDataFrame(
            [(1, up), (2, low)], "id long, text string"
        )
        vecs = {
            r["id"]: r["vec"]
            for r in tk.hashed_bow_embedding_arrow(
                df, "id", "text", dim=32
            ).collect()
        }
        assert vecs[1] == vecs[2], (up, low)


def test_minhash_k_beyond_salt_family_raises(spark):
    """k > len(MINHASH_PERM_SALTS) must raise, not silently truncate:
    truncation gives every doc an identical empty-slice tail band and
    the band join degenerates to a cross pairing (r7 review)."""
    df = _df(spark, ["some words here for banding"])
    with pytest.raises(ValueError, match="salt family"):
        dd.minhash_signature(F.col("text"), k=32)
    with pytest.raises(ValueError, match="salt family"):
        tk.lsh_bands_arrow(df, "doc_id", "text", k=32, bands=4).collect()


def test_lsh_bands_arrow_chunked_flush_bit_identical(spark):
    """The doc-boundary chunk flush (bounding the xor transient on
    mega-doc batches) must not change a single band hash: force a tiny
    chunk cap so every flush path runs, compare against the unchunked
    kernel and the Column spec."""
    texts = ADVERSARIAL + _rand_texts(60, seed=17)
    df = _df(spark, texts)
    base = {
        (r["doc_id"], r["band_idx"]): r["band_hash"]
        for r in tk.lsh_bands_arrow(df, "doc_id", "text", 16, 4).collect()
    }
    chunked = {
        (r["doc_id"], r["band_idx"]): r["band_hash"]
        for r in tk.lsh_bands_arrow(
            df, "doc_id", "text", 16, 4, chunk_shingles=7
        ).collect()
    }
    expr = {
        (r["doc_id"], r["band_idx"]): r["band_hash"]
        for r in _lsh_bands_spec(df, "doc_id", "text").collect()
    }
    assert chunked == base == expr


def test_incremental_near_dups_rejects_stale_band_format(spark):
    """A persisted band table from the pre-r7 64-hex family must raise,
    not silently match zero cross-snapshot candidates (r7 review)."""
    from ktpm___ocr_spark.operators.dedup import incremental_near_dups

    stale = spark.createDataFrame(
        [(1, 0, "ab" * 32)],  # 64-hex band_hash
        "doc_id bigint, band_idx int, band_hash string",
    )
    old_texts = spark.createDataFrame(
        [(1, "old corpus text")], "doc_id bigint, text string"
    )
    inc = spark.createDataFrame(
        [(101, "new increment text")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="band table predates"):
        incremental_near_dups(stale, old_texts, inc)


def test_incremental_near_dups_lazy_path_skips_format_probe(spark):
    """eager=False is documented as pure plan construction (the streaming
    face calls it per micro-batch): the stale-band-format guard must not
    fire a driver action there — construction with a stale 64-hex band
    table succeeds lazily, while the default eager path raises (r7
    advice)."""
    from ktpm___ocr_spark.operators.dedup import incremental_near_dups

    stale = spark.createDataFrame(
        [(1, 0, "ab" * 32)],  # 64-hex band_hash (pre-r7 family)
        "doc_id bigint, band_idx int, band_hash string",
    )
    old_texts = spark.createDataFrame(
        [(1, "old corpus text")], "doc_id bigint, text string"
    )
    inc = spark.createDataFrame(
        [(101, "new increment text")], "doc_id bigint, text string"
    )
    lazy = incremental_near_dups(stale, old_texts, inc, eager=False)
    assert lazy.columns == ["id_a", "id_b", "pair_kind", "jaccard"]
    with pytest.raises(ValueError, match="band table predates"):
        incremental_near_dups(stale, old_texts, inc)  # eager default
