"""Property-based span-sequence equality: randomized documents (hypothesis)
must extract identically in the oracle, the production Arrow path and the
JVM spec plan.

Exceeds the reference's test strategy (SURVEY §5.1 notes it has no
property-based tests). One Spark round-trip per example batch keeps this
fast: each hypothesis example IS a whole corpus.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ktpm___ocr_spark.corpus import DOCUMENTS_SCHEMA
from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
from ktpm___ocr_spark.oracle import extract_corpus
from ktpm___ocr_spark.pipeline import extract_narrow

# text fragments that stress normalization and the classifier — including
# non-ASCII whitespace (NBSP, LINE SEPARATOR): ASCII-pinned \s must treat
# these as *content* identically in the oracle and every Spark path — and
# \x0B / \x0C, which Java's \s and the oracle count as whitespace
_frag = st.sampled_from(
    ["", " ", "\r\n", "\r", "\n\n", "\n\n\n", "\t", "\x0b", "\x0c", "word",
     "the quick fox",
     '<a href="/x">x</a>', "a b c d e f g h i j k l m n o p q r", "x" * 200,
     " ", " nbsp ", " ", "li ne", "é ü 汉字"]
)
_text = st.lists(_frag, min_size=0, max_size=6).map(" ".join)

_span = st.one_of(
    st.builds(
        lambda t: {"kind": "text", "text": t, "media_ref": None},
        _text,
    ),
    st.builds(
        lambda r: {"kind": "media", "text": None, "media_ref": f"m:{r}"},
        st.integers(0, 99),
    ),
)


@st.composite
def _doc(draw, idx: int = 0):
    spans = draw(st.lists(_span, min_size=0, max_size=12))
    # drawn with replacement from a small range, so offsets tie
    offsets = draw(st.lists(st.integers(1, 6), min_size=len(spans), max_size=len(spans)))
    return {
        "doc_id": f"h{draw(st.integers(0, 10**9))}_{len(spans)}",
        "spans": [
            {**s, "offset": o} for s, o in zip(spans, offsets)
        ],
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(_doc(), min_size=1, max_size=8, unique_by=lambda d: d["doc_id"]))
def test_random_docs_extract_equal(spark, docs):
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    want = extract_corpus(docs)
    for extract in (extract_arrow_native, extract_narrow):
        got = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["spans"]
            ]
            for r in extract(df).collect()
        }
        assert got == want, extract.__name__


from ktpm___ocr_spark.functions.chunking import chunk_array, restitch_array  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.text(min_size=0, max_size=600),  # hypothesis default excludes surrogates
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([1, 7, 64, 4500]),
)
def test_chunk_roundtrip_random_unicode(spark, texts, size):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    got = {
        r["id"]: r["o"]
        for r in df.select(
            "id", restitch_array(chunk_array("t", size)).alias("o")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == t, (size, repr(t))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=1, max_size=8))
def test_fingerprint_permutation_sensitivity(spark, texts):
    """fingerprint(w1..wn) is stable and order-sensitive (rolling hash)."""
    from ktpm___ocr_spark.functions.textstats import fingerprint

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    a = {r["id"]: r["f"] for r in df.select("id", fingerprint("t").alias("f")).collect()}
    b = {r["id"]: r["f"] for r in df.select("id", fingerprint("t").alias("f")).collect()}
    assert a == b  # deterministic
    assert all(0 <= v < 2**31 for v in a.values())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_quantize_roundtrip_error_bound(spark, vecs):
    """int8 quantize/dequantize reconstruction error is ≤ half a step
    (scale/254... step = scale/127, half-step scale/254) per element, for
    arbitrary float vectors including zeros."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.operators.similarity import dequantize, quantize_int8

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id int, v array<double>",
    )
    qz = quantize_int8(F.col("v"))
    rows = df.select(
        "id",
        qz["q_scale"].alias("sc"),
        qz["q_vec"].alias("qv"),
        dequantize(qz["q_scale"], qz["q_vec"]).alias("dv"),
    ).collect()
    for r, v in zip(sorted(rows, key=lambda r: r["id"]), vecs):
        sc = r["sc"]
        assert all(-127 <= q <= 127 for q in r["qv"])
        half_step = sc / 254.0 + 1e-9
        for orig, back in zip(v, r["dv"]):
            assert abs(float(orig) - back) <= half_step, (orig, back, sc)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(st.text(min_size=0, max_size=80), min_size=1, max_size=6))
def test_pii_redact_idempotent_and_clean(spark, texts):
    """Redaction is idempotent, and redacted output never matches any PII
    pattern (placeholders are not themselves PII-shaped)."""
    import re

    from pyspark.sql import functions as F

    from ktpm___ocr_spark.functions.textstats import PII_PATTERNS, pii_redact

    df = spark.createDataFrame(
        [
            (i, t + f" x{i}@e{i}.org 10.0.{i % 256}.9 +1 555 0100")
            for i, t in enumerate(texts)
        ],
        "id int, t string",
    )
    once = df.select("id", pii_redact("t").alias("c"))
    twice = once.select("id", pii_redact("c").alias("c"))
    a = {r["id"]: r["c"] for r in once.collect()}
    b = {r["id"]: r["c"] for r in twice.collect()}
    assert a == b
    for c in a.values():
        for pat, _ in PII_PATTERNS:
            assert not re.search(pat, c), (pat, c)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation fixpoint == classic union-find on random
    graphs (cluster_id = min node per component)."""
    from ktpm___ocr_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    want = {}
    comp_min: dict[int, int] = {}
    for node in parent:
        r = find(node)
        comp_min[r] = min(comp_min.get(r, node), node)
    for node in parent:
        want[node] = comp_min[find(node)]

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "(c) corp", "", "nav | home", "x"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_line_filter_invariants(spark, docs_lines):
    """Random corpora: (1) n_kept + n_dropped == original line count per
    doc, (2) no surviving clean_text contains a hot line, (3) kept lines
    preserve original order (clean_text is a subsequence of the doc)."""
    from ktpm___ocr_spark.operators.dedup import boilerplate_line_filter

    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs_lines)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in boilerplate_line_filter(df, max_line_df=2).collect()}
    # recompute hot set in python (len >= 1 mirror)
    from collections import defaultdict

    docs_per_line = defaultdict(set)
    for i, ls in enumerate(docs_lines):
        for line in ls:
            if len(line) >= 1:
                docs_per_line[line].add(i)
    hot = {l for l, d in docs_per_line.items() if len(d) > 2}
    for i, ls in enumerate(docs_lines):
        r = got[i]
        assert r["n_kept"] + r["n_dropped"] == len(ls)
        kept = [l for l in ls if l not in hot]
        assert r["clean_text"] == "\n".join(kept)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=8),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 4),
)
def test_bpe_encode_roundtrip_and_merge_count(spark, words, k):
    """Random corpora: concatenating a word's subword tokens restores the
    word exactly (BPE is a segmentation, never lossy), and every learned
    merge's pair_freq is positive with ranks 1..n contiguous."""
    from ktpm___ocr_spark.functions.bpe import bpe_encode, bpe_merges

    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id bigint, text string"
    )
    mt = bpe_merges(df, k=k).orderBy("merge_rank").collect()
    assert [r["merge_rank"] for r in mt] == list(range(1, len(mt) + 1))
    assert all(r["pair_freq"] >= 1 for r in mt)
    assert all(r["merged"] == r["lhs"] + r["rhs"] for r in mt)
    merges = [(r["lhs"], r["rhs"]) for r in mt]
    for r in bpe_encode(df, merges).collect():
        assert r["tokens_canon"].replace(" ", "") == r["word"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=30,
    )
)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered wedge counting must equal brute-force triangle
    enumeration on arbitrary small graphs (self-loops and duplicate /
    reversed edges included in the input)."""
    from itertools import combinations

    from ktpm___ocr_spark.operators.graph import triangle_counts

    simple = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for u, v, w in combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for n in (u, v, w):
                want[n] = want.get(n, 0) + 1

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges] or [("x", "x")],
        "src string, dst string",
    )
    got = {
        int(r["node"]): r["n_triangles"]
        for r in triangle_counts(df, top_n=1000).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.dictionaries(
        st.integers(0, 20),
        st.one_of(st.none(), st.text(max_size=8)),
        max_size=12,
    ),
    st.dictionaries(
        st.integers(0, 20),
        st.one_of(st.none(), st.text(max_size=8)),
        max_size=12,
    ),
)
def test_snapshot_diff_matches_dict_model(spark, old, new):
    """snapshot_diff must agree with the obvious dict-diff model for
    arbitrary (id -> text|NULL) snapshots, including NULL vs '' vs
    literal sentinel-looking text."""
    from ktpm___ocr_spark.operators.snapshot import snapshot_diff

    want = {}
    for k in old.keys() | new.keys():
        if k not in old:
            want[k] = "added"
        elif k not in new:
            want[k] = "removed"
        elif old[k] != new[k]:
            want[k] = "changed"

    def df(d):
        return spark.createDataFrame(
            list(d.items()) or [(999999, "sentinel-empty")],
            "doc_id long, text string",
        )

    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(df(old), df(new)).collect()
    }
    if not old and not new:
        assert got == {}  # both placeholder rows identical
    else:
        want2 = dict(want)
        # account for the placeholder row when exactly one side is empty
        if not old:
            want2[999999] = "removed" if 999999 not in new else want2.get(999999)
        if not new:
            want2[999999] = "added" if 999999 not in old else want2.get(999999)
        assert got == {k: v for k, v in want2.items() if v}


# ---------------- round-5 late additions: model-based properties ----------------

from ktpm___ocr_spark.functions.sketches import kmv_quantiles  # noqa: E402
from ktpm___ocr_spark.functions.textstats import (  # noqa: E402
    EN_STOPWORDS,
    MIXTURE_Q6,
    code_switch_stats,
    mixture_plan,
)

# constrained alphabet: ASCII words + space/tab/newline so the Python-re
# model and Java regex agree on what \s is (unicode whitespace classes
# diverge between the engines and are out of the corpus contract anyway)
_cs_word = st.sampled_from(EN_STOPWORDS + ["zxqv", "gkrm", "data", "x1"])
_cs_line = st.lists(_cs_word, min_size=0, max_size=6).map(" ".join)
_cs_text = st.lists(_cs_line, min_size=0, max_size=6).map("\n".join)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(_cs_text, min_size=1, max_size=6))
def test_code_switch_matches_python_model(spark, texts):
    import re

    def line_lang(line):
        ws = [w for w in re.split(r"\s+", line) if w]
        if not ws:
            return "und"
        hits = sum(1 for w in ws if w in EN_STOPWORDS)
        return "en" if 25 * hits >= 3 * len(ws) else "unk"

    def model(text):
        lines = [
            ln for ln in (
                s.strip(" ") for s in (text or "").lower().split("\n")
            ) if ln
        ]
        langs = [line_lang(ln) for ln in lines]
        n, ne = len(langs), langs.count("en")
        nd, nk = langs.count("und"), langs.count("unk")
        mx = max(ne, nd, nk) if langs else 0
        dom = (
            "und" if n == 0
            else "en" if ne == mx
            else "und" if nd == mx
            else "unk"
        )
        return (n, ne, nd, nk, dom, 1 if n > 0 and mx * 5 < n * 4 else 0)

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_lines"], r["n_en"], r["n_und"], r["n_unk"],
            r["dom_lang"], r["is_mixed"],
        )
        for r in code_switch_stats(df).collect()
    }
    assert got == {i: model(t) for i, t in enumerate(texts)}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), _cs_text),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=10_000),
)
def test_mixture_plan_matches_python_model(spark, rows, budget):
    import re

    toks: dict[str, int] = {}
    for src, text in rows:
        toks[src] = toks.get(src, 0) + len(re.findall(r"\S+", text))
    nd = len(toks)
    quota = budget // nd
    want = {}
    for dom, t in toks.items():
        e = 0 if t <= 0 else min(4 * MIXTURE_Q6, quota * MIXTURE_Q6 // t)
        planned = (t // MIXTURE_Q6) * e + ((t % MIXTURE_Q6) * e) // MIXTURE_Q6
        want[dom] = (t, quota, e, planned)

    df = spark.createDataFrame(
        [(i, text, src) for i, (src, text) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    # model parity AND partitioning invariance in one property
    for parts in (1, 5):
        got = {
            r["domain"]: (
                r["tokens"], r["quota"], r["epochs_q6"], r["planned_tokens"]
            )
            for r in mixture_plan(df.repartition(parts), budget=budget).collect()
        }
        assert got == want, parts


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=40,
        ),
    st.integers(min_value=1, max_value=8),
)
def test_kmv_quantiles_match_python_model(spark, vals, k):
    """With random k (possibly < n) the model picks the k keys with the
    smallest sha256(str(id)) hex and reads ceil-ranks off the sorted
    sample values — must match the engine bit-for-bit."""
    import hashlib

    rows = list(enumerate(vals))
    byhash = sorted(rows, key=lambda r: hashlib.sha256(str(r[0]).encode()).hexdigest())
    sample = sorted(v for _, v in byhash[:k])
    n = len(sample)
    want = {}
    for label, num, den in (
        ("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10), ("p99", 99, 100),
    ):
        want[label] = (n, sample[-(-n * num // den) - 1])

    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["label"]: (r["n_sample"], r["est_value"])
        for r in kmv_quantiles(df, "v", "id", k=k).collect()
    }
    assert got == want
