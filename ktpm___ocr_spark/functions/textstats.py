"""Text analysis for training-data pipelines — language-ID, quality
scoring, token counting, document fingerprinting.

These extend the reference's per-document text stage (its OCR output is
trimmed text + a free-form ``{langDetected}`` meta field,
``backend/filters/ocrFilter.js:41-62``) into the operations a large-scale
corpus pipeline needs. Everything is JVM-side column expressions — no
Python in the hot path — and every formulation is deliberately portable
to ANSI SQL (the driver's DuckDB oracle re-runs the same arithmetic).

Portability rules used throughout:
* word hash = first 15 hex digits of sha256 → int (portable to any engine
  with sha256 + hex parse; no reliance on engine-specific hash()),
* folds use an explicit 0 initial accumulator and modulus 2³¹−1 so no
  intermediate exceeds int64 (ANSI-safe),
* regexes restricted to syntax identical in Java regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ktpm___ocr_spark.functions.exprutil import let

WORD_SPLIT = r"\s+"
WORD_COUNT_RE = r"\S+"
# BPE-ish token: alnum run or single non-alnum-non-space symbol
BPE_TOKEN_RE = "[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\r]"
PUNCT_RE = "[^A-Za-z0-9 \\t\\n\\r]"

# Compact English stopword list (shared verbatim with the DuckDB oracle).
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "at", "is",
    "are", "was", "were", "be", "that", "this", "it", "as", "for", "with",
    "by", "from", "over", "into", "while", "every",
]

FNV_MOD = 2_147_483_647  # 2^31 - 1 — keeps acc*31 + h inside int64


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def words_array(text: Column | str) -> Column:
    """Lower-cased word list; '' and NULL → empty array."""
    t = _col(text)
    return F.filter(
        F.split(F.coalesce(F.lower(t), F.lit("")), WORD_SPLIT),
        lambda w: w != F.lit(""),
    )


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count (``\\S+`` runs)."""
    return F.coalesce(F.regexp_count(_col(text), F.lit(WORD_COUNT_RE)), F.lit(0))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count: alnum runs + individual symbols."""
    return F.coalesce(F.regexp_count(_col(text), F.lit(BPE_TOKEN_RE)), F.lit(0))


def stopword_ratio(text: Column | str) -> Column:
    # ws let-bound: the raw words_array expression referenced at both
    # sites would re-split the text twice (r6 quality_score audit)
    return let(
        words_array(text),
        lambda ws: let(
            F.size(ws),
            lambda n: F.when(n == 0, F.lit(0.0)).otherwise(
                F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
                .cast("double")
                / n.cast("double")
            ),
        ),
    )


def lang_id(text: Column | str, threshold: float = 0.12) -> Column:
    """Stopword-ratio language heuristic: 'en' / 'unk' / 'und' (empty)."""
    n = F.size(words_array(text))
    return (
        F.when(n == 0, F.lit("und"))
        .when(stopword_ratio(text) >= F.lit(threshold), F.lit("en"))
        .otherwise(F.lit("unk"))
    )


# the character complement of PUNCT_RE's negated class, for translate()
_PUNCT_ALLOWED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 \t\n\r"
)


def punct_ratio(text: Column | str) -> Column:
    t = _col(text)
    n_chars = F.length(t)
    # count chars OUTSIDE the allowed set by deleting the allowed set and
    # measuring what's left. Value-identical (per code point) to
    # regexp_count(t, PUNCT_RE), but Spark's regexp_count with a NEGATED
    # char class is pathologically slow — measured 219 s vs 1.8 s over
    # 396k 1.2 kB docs (a positive class like '[.]' takes 0.6 s, so it is
    # the negation, not the regex engine per se; r6 quality_score audit).
    n_punct = F.length(F.translate(t, _PUNCT_ALLOWED, ""))
    return F.when(
        n_chars.isNull() | (n_chars == 0), F.lit(0.0)
    ).otherwise(n_punct.cast("double") / n_chars.cast("double"))


def mean_word_len(text: Column | str) -> Column:
    return let(
        words_array(text),
        lambda ws: let(
            F.size(ws),
            lambda n: F.when(n == 0, F.lit(0.0)).otherwise(
                F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
                .cast("double")
                / n.cast("double")
            ),
        ),
    )


def quality_score(text: Column | str) -> Column:
    """Composite document-quality score in [0, 1] (rounded to 4 dp).

    0.3·length + 0.3·stopword + 0.2·(1−punct) + 0.2·word-length-shape —
    the standard cheap pre-filter signals (length, stopword density,
    symbol noise, degenerate tokens) used before expensive pipeline
    stages.
    """
    t = _col(text)
    len_score = F.least(
        F.coalesce(F.length(t), F.lit(0)).cast("double") / 500.0, F.lit(1.0)
    )
    punct_score = F.lit(1.0) - F.least(punct_ratio(t) / 0.2, F.lit(1.0))

    # ONE let-bound word split feeds both word-derived signals (the
    # composed formulation split the text once per signal — a ~4× split
    # constant). NB the r6 audit found the real 219 s burner was
    # punct_ratio's negated-class regexp_count, fixed there; this fusion
    # trims the remaining split constant (values identical)
    def scores(ws, n):
        stop_r = F.when(n == 0, F.lit(0.0)).otherwise(
            F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
            .cast("double")
            / n.cast("double")
        )
        wl = F.when(n == 0, F.lit(0.0)).otherwise(
            F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
            .cast("double")
            / n.cast("double")
        )
        stop_score = F.least(stop_r / 0.4, F.lit(1.0))
        wl_score = F.lit(1.0) - F.least(F.abs(wl - 5.0) / 5.0, F.lit(1.0))
        return F.round(
            0.3 * len_score
            + 0.3 * stop_score
            + 0.2 * punct_score
            + 0.2 * wl_score,
            4,
        )

    return let(
        words_array(t), lambda ws: let(F.size(ws), lambda n: scores(ws, n))
    )


def word_hash(w: Column) -> Column:
    """Portable 60-bit word hash: int of the first 15 hex chars of sha256."""
    return F.conv(F.substring(F.sha2(w, 256), 1, 15), 16, 10).cast("long")


def fingerprint(text: Column | str, mod: int = FNV_MOD) -> Column:
    """Rolling (Karp–Rabin-style) document fingerprint over words.

    fold: acc ← (acc·31 + hash(word)) mod (2³¹−1), acc₀ = 0. Order-
    sensitive — permuted documents fingerprint differently, unlike a
    bag-of-words hash.
    """
    return F.aggregate(
        words_array(text),
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * 31 + word_hash(w), F.lit(mod)),
    )


# --------------------------------------------------------- pipeline filters
# PII patterns: shared RE2-compatible subset (no backrefs/lookaround) so the
# identical pattern strings run on the JVM (java.util.regex) and in DuckDB
# (RE2) — order matters: email, then IP (before phone eats digit runs),
# then phone.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d{1,3}[ -]\d{3}[ -]\d{4}", "<PHONE>"),
]

URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def pii_redact(text: Column | str) -> Column:
    """Redact emails, IPv4s, and international-format phone numbers with
    typed placeholder tokens — the scrub step before text enters a
    training corpus. Chained JVM ``regexp_replace`` (replaces all
    occurrences), no Python."""
    t = _col(text)
    for pat, repl in PII_PATTERNS:
        t = F.regexp_replace(t, pat, repl)
    return t


def extract_domains(text: Column | str) -> Column:
    """Array of URL host names found in the text (capture group 1) —
    feeds domain-level corpus filtering/sampling decisions."""
    return F.regexp_extract_all(_col(text), F.lit(URL_DOMAIN_RE), 1)


ANCHOR_ELEM_RE = r'(?s)<a href="[^"]*"[^>]*>.*?</a>'
ANCHOR_HREF_RE = r'<a href="([^"]*)"[^>]*>'
ANCHOR_BODY_RE = r'(?s)^<a href="[^"]*"[^>]*>(.*)</a>$'


def anchor_pairs(text: Column | str) -> Column:
    """Array of struct(href, anchor) — the (link target, anchor text)
    pairs a web-corpus pipeline mines for link graphs (PageRank edges)
    and anchor-text training data.

    Whole ``<a ...>...</a>`` elements are extracted first, then href and
    body are pulled from each element — so malformed markup never emits
    a corrupted pair and never desynchronizes later links. An unclosed
    tag swallows up to the next close; that merged element's body then
    contains a nested opener, and the final filter DROPS it (losing the
    swallowed neighbor too — the inherent cost of regex extraction — but
    emitting no raw-markup anchor text into training data and no wrong
    PageRank edge). ``(?s)`` lets anchor text span newlines; both
    patterns are Java-regex/RE2 portable (same lazy-leftmost
    semantics)."""
    t = _col(text)
    elems = F.regexp_extract_all(t, F.lit(ANCHOR_ELEM_RE), 0)
    pairs = F.transform(
        elems,
        lambda e: F.struct(
            F.regexp_extract(e, ANCHOR_HREF_RE, 1).alias("href"),
            F.regexp_extract(e, ANCHOR_BODY_RE, 1).alias("anchor"),
        ),
    )
    return F.filter(pairs, lambda p: ~p["anchor"].contains('<a href="'))


def url_canonicalize(url: Column | str) -> Column:
    """Canonical URL form for dedup/crawl-frontier keys: lowercase scheme
    and host, default ports dropped (http:80 / https:443, others kept),
    fragment stripped, empty path → '/', trailing slashes trimmed, query
    parameters sorted. Pure column expressions (no backreference regex —
    Spark `$1` and DuckDB `\\1` syntaxes diverge, so the trailing-slash
    trim uses rtrim and the pieces are re-concatenated instead).

    Two URLs that differ only in these cosmetic ways are the same crawl
    target; canonicalization BEFORE hashing is what makes url-level exact
    dedup actually deduplicate.

    Userinfo (``user:pass@host``) is stripped — credentials never belong
    in a crawl-frontier key — and bracketed IPv6 hosts (``[::1]:8080``)
    keep their brackets so the port split stays unambiguous. A bare
    unbracketed IPv6 authority is not a valid URL form and is out of
    scope."""
    u = _col(url)
    nofrag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    authority = F.lower(
        F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1)
    )
    # RFC 3986: userinfo is delimited by the LAST '@' in the authority —
    # greedy '.*@' (not '[^@]*@') so 'alice@p@ss@host' strips fully
    hostport = F.regexp_replace(authority, "^.*@", "")
    host = F.regexp_extract(hostport, r"^(\[[^\]]*\]|[^:]+)", 1)
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    portpart = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    rawpath = F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    # trailing-slash trim without backreferences or rtrim(chars) (whose
    # argument order differs between engines): reverse, strip the leading
    # '/' run, reverse back; empty path restores to '/'
    no_trail = F.reverse(F.regexp_replace(F.reverse(rawpath), "^/+", ""))
    path = F.when(no_trail == "", F.lit("/")).otherwise(no_trail)
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    querypart = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), qsorted)
    )
    # scheme-less inputs (bare 'example.com/a' href text) fail every
    # '://'-anchored extraction above — every such URL would collapse to
    # the same ':///' key and distinct crawl targets would merge; pass
    # them through unchanged instead
    return F.when(scheme == "", u).otherwise(
        F.concat(scheme, F.lit("://"), host, portpart, path, querypart)
    )


def crawl_budget(
    domain_counts,
    budget: int = 10_000,
    cap: int = 500,
    n_col: str = "n",
):
    """Per-domain crawl/sampling quota: proportional share of ``budget``
    by observed document mass, hard-capped at ``cap`` per domain (the
    anti-monoculture guard — no single host may dominate a training
    corpus regardless of its crawl volume). Integer floor allocation
    (bigint ``div`` — exactly portable); the un-redistributed remainder
    is ≤ |domains|, negligible at corpus scale.

    One 1-row total cross-joined in — no driver action, no shuffle beyond
    the input aggregate."""
    total = domain_counts.agg(F.sum(n_col).alias("_tot"))
    # zero/NULL total guard: 'x div 0' is NULL and F.least SKIPS nulls, so
    # without the when() every domain would receive the full cap from an
    # all-zero count table instead of 0
    share = F.when(
        F.col("_tot") > 0,
        F.least(
            F.lit(cap).cast("long"),
            F.expr(f"CAST({budget} AS BIGINT) * {n_col} div _tot"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return domain_counts.crossJoin(F.broadcast(total)).select(
        *domain_counts.columns,
        share.alias("alloc"),
    )


def politeness_schedule(
    alloc_df,
    host_col: str = "domain",
    alloc_col: str = "alloc",
    delay_s: int = 5,
    workers: int = 16,
):
    """Per-host politeness fetch schedule over a :func:`crawl_budget`
    allocation table: host *h*'s *i*-th fetch is scheduled at
    ``i · delay_s`` seconds (two fetches to the same host are never
    closer than the politeness interval), and each host is STICKY-mapped
    to a fetch worker by the portable id hash — per-host rate limiting
    then needs no cross-worker coordination, the property that lets a
    1000-executor fetch fleet stay polite without a shared limiter.

    Output: ``(host, fetch_idx, scheduled_at_s, worker)``. The explode
    factor is bounded by the crawl_budget ``cap`` (≤500), so the row
    blow-up is a constant, never corpus-shaped; everything is JVM column
    expressions (sequence + posexplode), zero Python.
    """
    w = F.pmod(word_hash(F.col(host_col).cast("string")), F.lit(workers))
    return (
        alloc_df.filter(F.col(alloc_col) > 0)
        .select(
            F.col(host_col),
            w.alias("worker"),
            F.posexplode(
                F.sequence(F.lit(0).cast("long"), F.col(alloc_col) - 1)
            ).alias("fetch_idx", "_s"),
        )
        .select(
            host_col,
            F.col("fetch_idx").cast("long").alias("fetch_idx"),
            (F.col("fetch_idx").cast("long") * delay_s).alias("scheduled_at_s"),
            F.col("worker").cast("long").alias("worker"),
        )
    )


def _top_frac_inrow(arr) -> Column:
    """Fraction of a string array taken by its most frequent element,
    computed IN-ROW: ``array_sort`` makes equal values adjacent, one
    fold tracks (prev, current run, best run) — O(n log n) per row,
    ZERO Exchange. Empty/NULL arrays → 0.0. Same rounding as the
    aggregate formulation it replaced (round(best/n, 4))."""
    return let(
        F.array_sort(arr),
        lambda ss: let(
            F.size(ss),
            lambda n: F.when(n <= 0, F.lit(0.0)).otherwise(
                F.round(
                    F.aggregate(
                        ss,
                        F.struct(
                            F.lit(None).cast("string").alias("prev"),
                            F.lit(0).cast("long").alias("run"),
                            F.lit(0).cast("long").alias("best"),
                        ),
                        lambda acc, w: let(
                            F.when(
                                acc["prev"].isNotNull() & (w == acc["prev"]),
                                acc["run"] + 1,
                            ).otherwise(F.lit(1).cast("long")),
                            lambda r: F.struct(
                                w.alias("prev"),
                                r.alias("run"),
                                F.greatest(acc["best"], r).alias("best"),
                            ),
                        ),
                        lambda acc: acc["best"],
                    ).cast("double")
                    / n,
                    4,
                )
            ),
        ),
    )


def _bigrams_from(w: Column, n: Column) -> Column:
    """Adjacent-word bigram list from an already-bound word array ``w``
    of size ``n`` (< 2 words → empty array). Callers MUST pass lambda
    variables (let-bound), never raw ``words_array`` expressions — a raw
    expression re-inlines per position (the r6 shingles genus)."""
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i.cast("int")),
                F.element_at(w, (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bigram_array(t) -> Column:
    """Adjacent-word bigram list of ``t`` (let-bound word array; < 2
    words → empty array)."""
    return let(
        words_array(t),
        lambda w: let(F.size(w), lambda n: _bigrams_from(w, n)),
    )


def repetition_metrics(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the single most frequent token, and of bigrams by the
    most frequent bigram (Rae et al. 2021, "Scaling Language Models",
    table A1 — the rules that catch boilerplate/keyword-stuffed docs).

    Shape at scale: a pure PROJECTION — per-doc top-frequency needs no
    corpus state, so each doc sorts its own (let-bound) gram array and
    folds a run counter in-row. Zero Exchange. The previous
    explode → (doc, gram) → (doc) double aggregate shuffled the corpus'
    full token stream and went super-linear once the per-partition agg
    hash maps started spilling: the composed-pipeline probe (r6)
    measured the gate stage at 67 s/400k but 387 s/1M docs (2.31×
    normalized); this rewrite is value-identical (same integer counts,
    same round(best/n, 4)) with the whole token stream staying inside
    the scan stage. Docs with no tokens get 0.0, never dropped.
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        _top_frac_inrow(words_array(t)).alias("top_word_frac"),
        _top_frac_inrow(_bigram_array(t)).alias("top_bigram_frac"),
    )


def gopher_gate(
    df, id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Composite keep/drop pre-filter in the Gopher style: length, token
    shape, stopword density, and repetition caps. Returns
    (id, keep boolean) for every input row.

    Evaluated in the columnar mapInArrow kernel
    (operators/text_kernels.py) — decisions bit-identical to
    :func:`gopher_keep_expr` (same tokenizer, same HALF_UP round-boundary
    semantics; pinned by tests/test_text_kernels.py) at ~an order of
    magnitude less per-row cost: the r6 composed probe measured the
    zero-Exchange expression gate at 10.2k docs/s while the extraction
    kernel did 74k docs/s of comparable work on the same rows."""
    from ktpm___ocr_spark.operators.text_kernels import gopher_gate_arrow

    return gopher_gate_arrow(df, id_col, text_col)


def gopher_keep_expr(text_col: Column | str = "text") -> Column:
    """The Gopher keep predicate as a single in-row boolean expression —
    the composition face: ``df.filter(gopher_keep_expr())`` gates in the
    scan stage with zero joins, where :func:`gopher_gate`'s (id, keep)
    relation is the audit face. Every signal is row-local since the r6
    repetition rewrite.

    All five signals are fused under ONE let-bound (words_array, size)
    pair: the per-signal helpers each re-derive the split, so calling
    them directly would evaluate the O(len) tokenization five times per
    row on what is the hot scan-stage gate predicate (r6 advice — the
    same fusion quality_score got in r6). Value-identical to the
    helper-composed form: each conjunct's arithmetic is unchanged, only
    the shared binding moved outward."""
    t = _col(text_col)

    def _mean_len(ws, n):
        return F.when(n == 0, F.lit(0.0)).otherwise(
            F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
            .cast("double")
            / n.cast("double")
        )

    def _stop_ratio(ws, n):
        return F.when(n == 0, F.lit(0.0)).otherwise(
            F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
            .cast("double")
            / n.cast("double")
        )

    return let(
        words_array(t),
        lambda ws: let(
            F.size(ws),
            lambda n: (
                n.between(10, 100000)
                & _mean_len(ws, n).between(3.0, 10.0)
                & (_stop_ratio(ws, n) >= 0.06)
                & (_top_frac_inrow(ws) <= 0.30)
                & (_top_frac_inrow(_bigrams_from(ws, n)) <= 0.18)
            ),
        ),
    )


def contamination_flags(
    docs,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    benchmark_is_subset: bool = True,
):
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram (default 8-gram, the standard from GPT-3/PaLM reports)
    with an evaluation set. Shape at scale: explode both sides to
    n-gram hashes, equi-join on the hash (benchmark side is tiny →
    broadcast), distinct doc ids out. Never compares documents pairwise.

    ``benchmark_is_subset`` (default True) excludes same-id matches —
    correct ONLY when the benchmark rows are drawn from ``docs`` itself
    (a doc is trivially "contaminated" by its own grams). Pass False
    when the benchmark has an INDEPENDENT id space: there, id equality
    is coincidence across unrelated numbering schemes, and the exclusion
    would silently drop genuine leaks (r5 review).

    Returns (id, n_shared) for contaminated docs only.
    """
    from ktpm___ocr_spark.operators.dedup import shingles

    def grams(df, idc):
        return df.select(
            F.col(idc), F.explode(shingles(F.col(text_col), n)).alias("g")
        )

    d = grams(docs, id_col)
    b = grams(benchmark, id_col).select(
        F.col(id_col).alias("bench_id"), "g"
    ).distinct()
    joined = d.join(F.broadcast(b), "g")
    if benchmark_is_subset:
        joined = joined.filter(F.col(id_col) != F.col("bench_id"))
    return joined.groupBy(id_col).agg(
        F.count_distinct("g").alias("n_shared")
    )


def bigram_lm_score(df, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-LM fluency score — the cheap stand-in for perplexity
    filtering (train a bigram model ON the corpus, score each doc by its
    mean bigram log-probability; gibberish and boilerplate score low).
    Laplace add-1 smoothing: lp(w2|w1) = ln((c(w1,w2)+1)/(c(w1)+V)).

    Shape at scale: two hash aggregates build the model (bigram and
    unigram count tables, both |vocab|-bounded), one join of the exploded
    corpus back to them on the gram key, one per-doc mean. Docs with no
    bigrams get score 0.0 via the spine join.
    """
    ws = df.select(F.col(id_col), words_array(F.col(text_col)).alias("ws"))
    spine = ws.select(id_col)
    bg = ws.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i.cast("int")).alias("w1"),
                        F.element_at("ws", (i + 1).cast("int")).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("b"),
    ).select(id_col, "b.w1", "b.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    uni = ws.select(F.explode("ws").alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("cu")
    )
    v = ws.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    scored = (
        bg.join(cb, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            F.col(id_col),
            F.log(
                (F.col("cb") + 1).cast("double") / (F.col("cu") + F.col("v"))
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 4).alias("lm_score")
    )
    return spine.join(per_doc, id_col, "left").select(
        id_col, F.coalesce("lm_score", F.lit(0.0)).alias("lm_score")
    )


# ------------------------------------------------------ corpus-level stats
def corpus_top_terms(df, id_col: str = "doc_id", text_col: str = "text", n: int = 20):
    """Exact corpus-wide top-n terms (count desc, term asc tie-break).

    Explode → one hash aggregate on the term (map-side partials carry the
    heavy hitters, so the shuffle is |vocab|, not |tokens|) → global top-n.
    For sketch-based heavy hitters at unbounded vocab, the same query over
    a sampled spine is the cheap first pass.
    """
    words = df.select(F.explode(words_array(F.col(text_col))).alias("term"))
    counts = words.groupBy("term").agg(F.count("*").alias("n"))
    # distributed top-n (TakeOrderedAndProject), NOT an unpartitioned
    # window over the full vocabulary; the rank window then runs over only
    # the n survivors
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(n)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term", "n", "rank"
    )


def deterministic_split(
    df,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
):
    """Reproducible train/val/test assignment by content-independent hash
    of the id — the split survives reshuffles, re-partitions, engine
    changes, and incremental corpus growth (a doc's split never changes).
    Uses the portable sha256-prefix hash (same rule as word_hash) so any
    engine can replicate the assignment bit-for-bit."""
    bucket = F.pmod(word_hash(F.col(id_col).cast("string")), F.lit(100))
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def vocab_prune_stats(
    df, text_col: str = "text", min_count: int = 5
):
    """Vocabulary pruning accounting: one row
    (kept_terms, dropped_terms, kept_mass, dropped_mass, oov_rate) for a
    min-count cutoff — the tokenizer-prep decision table ("what OOV rate
    does this cutoff buy"). oov_rate = dropped occurrence mass / total
    mass, rounded 6 dp (IEEE division of exact bigints — portable).

    Shape: explode → one (term) hash aggregate (map-side combinable,
    |vocab| shuffle) → one global fold over vocab-sized input. Nothing
    downstream of the first aggregate scales with the corpus."""
    counts = (
        df.select(F.explode(words_array(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    kept = F.col("n") >= min_count
    return counts.agg(
        F.sum(F.when(kept, 1).otherwise(0)).alias("kept_terms"),
        F.sum(F.when(~kept, 1).otherwise(0)).alias("dropped_terms"),
        F.sum(F.when(kept, F.col("n")).otherwise(0)).alias("kept_mass"),
        F.sum(F.when(~kept, F.col("n")).otherwise(0)).alias("dropped_mass"),
    ).select(
        "kept_terms",
        "dropped_terms",
        "kept_mass",
        "dropped_mass",
        F.round(
            F.col("dropped_mass")
            / (F.col("kept_mass") + F.col("dropped_mass")),
            6,
        ).alias("oov_rate"),
    )


def tfidf_top_terms(
    df, id_col: str = "doc_id", text_col: str = "text", k: int = 3
):
    """Per-document top-k terms by tf·idf (idf = ln((N+1)/(df_t+1)) + 1,
    the smoothed scikit-learn formulation; score rounded to 4 dp; ties to
    the lexicographically smaller term).

    Shape: (doc, term) counts → term document-frequency (second hash agg)
    → equi-join idf back on ``term`` → per-doc top-k window.

    Scale note: the idf relation is VOCABULARY-sized — ~O(corpus^β) terms,
    10⁷–10⁸ at 100 TB of web text — so it must NOT carry a broadcast hint
    (that forces a driver-side collect → OOM at scale). The join key is
    already ``term``; AQE picks broadcast at small SF and shuffled-hash /
    sort-merge at scale from runtime sizes. Only ``n_docs`` (exactly one
    row at every SF) keeps an explicit broadcast.
    """
    terms = df.select(
        F.col(id_col), F.explode(words_array(F.col(text_col))).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("nd"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    idf = df_t.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (F.log((F.col("nd") + 1).cast("double") / (F.col("df_t") + 1)) + 1.0).alias(
            "idf"
        ),
    )
    scored = tf.join(idf, "term").select(
        id_col,
        "term",
        F.round(F.col("tf") * F.col("idf"), 4).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def hashed_quality_classifier(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
):
    """fastText-style hashed linear classifier — model INFERENCE at
    corpus scale (Joulin et al. 2016; hashing trick per Weinberger et
    al. 2009). Each word hashes to one of ``buckets`` feature slots; the
    document score is the mean slot weight; label = sign.

    The weight table is DERIVED, not stored: slot b carries the integer
    weight ``(b·2654435761) mod buckets − buckets/2`` (Knuth
    multiplicative scatter), standing in for a broadcast-joined learned
    vector. What matters for the engine is the execution shape, which is
    exactly a real model's: per-row feature hashing + weight lookup +
    linear reduction, all inside one projection.

    Portability: the reduction is an EXACT int64 fold (weights are
    integers, |w| ≤ buckets/2, so a 10⁶-word doc sums to ≤ 2·10⁹ —
    order-independent under any partitioning), and the only float ops
    are one division and the hard-sigmoid affine clamp, each with a
    pinned operation order so Spark and the SQL oracle are bit-equal.

    Shape at 100 TB: ZERO shuffle — a single narrow projection over the
    corpus scan (in-row HOF fold), embarrassingly parallel. A learned
    model would add one broadcast of the |buckets|-row weight table.
    """
    knuth = 2_654_435_761
    half = buckets // 2
    ws = words_array(F.col(text_col))
    wsum = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + (F.pmod(word_hash(w), F.lit(buckets)) * knuth) % buckets
        - half,
    )
    # long, not int: the oracle's len() yields BIGINT (portability rule)
    n = F.size(ws).cast("long")
    d = df.select(
        F.col(id_col),
        n.alias("n_words"),
        wsum.alias("score_fp"),
    )
    denom = (F.col("n_words") * buckets).cast("double")
    raw = F.col("score_fp").cast("double") / denom
    prob = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), F.lit(0.5) + F.lit(2.0) * raw)
    )
    return d.select(
        id_col,
        "n_words",
        "score_fp",
        F.when(F.col("n_words") == 0, F.lit(0.0))
        .otherwise(F.round(raw, 6))
        .alias("score"),
        F.when(F.col("n_words") == 0, F.lit(0.5))
        .otherwise(F.round(prob, 6))
        .alias("prob"),
        (F.col("score_fp") > 0).cast("int").alias("label"),
    )


def pmi_collocations(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 20,
):
    """Corpus-wide collocation mining by pointwise mutual information
    (Church & Hanks 1990): PMI(w1,w2) = ln(p(w1,w2) / (p(w1)·p(w2)))
    over adjacent-word bigrams, keeping pairs seen ≥ ``min_count`` times
    and returning the top ``top_n``.

    Portability: counts are exact int64; the PMI argument is computed as
    one pinned-order double expression ((cb·N·N) / (Nb·cu1·cu2)) so the
    RANKING key (the raw ratio) is bit-identical across engines with no
    libm dependence — only the reported ``pmi`` value goes through ln,
    rounded to 4 dp (the precedent: ``bigram_lm_score``).

    Shape at 100 TB: bigram + unigram hash aggregates (map-side partials
    carry the heavy pairs, so both shuffles are vocabulary-sized, not
    token-sized); N and Nb are 1-row broadcasts; the unigram relation is
    vocabulary-sized so it carries NO broadcast hint (AQE decides, the
    tfidf_top_terms rule); top-n is a distributed TakeOrdered, never an
    unpartitioned window.
    """
    ws = df.select(words_array(F.col(text_col)).alias("ws"))
    bg = ws.select(
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i.cast("int")).alias("w1"),
                        F.element_at("ws", (i + 1).cast("int")).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("b")
    ).select("b.w1", "b.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    uni = ws.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cu")
    )
    totals = cb.agg(
        F.sum("cb").alias("n_big")
    )  # bigram total; unigram total derives from the unigram table
    n_tok = uni.agg(F.sum("cu").alias("n_tok"))
    ratio = (
        F.col("cb").cast("double")
        * F.col("n_tok").cast("double")
        * F.col("n_tok").cast("double")
    ) / (
        F.col("n_big").cast("double")
        * F.col("cu1").cast("double")
        * F.col("cu2").cast("double")
    )
    scored = (
        cb.filter(F.col("cb") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            "cb",
            "cu1",
            "cu2",
            ratio.alias("ratio"),
        )
    )
    return (
        scored.orderBy(F.desc("ratio"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
        .select(
            "w1",
            "w2",
            "cb",
            "cu1",
            "cu2",
            F.round(F.log("ratio"), 4).alias("pmi"),
        )
    )


MIXTURE_Q6 = 1_000_000  # fixed-point denominator for epoch factors


def mixture_plan(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    budget: int = 1_000_000,
    max_epochs_q6: int = 4 * MIXTURE_Q6,
) -> DataFrame:
    """Static data-mixture planning — the step between corpus statistics
    and a training run: given a total token ``budget`` and a uniform
    per-domain target, compute each domain's sampling plan:
    ``(domain, tokens, quota, epochs_q6, planned_tokens)``.

    ``quota``     = budget div n_domains (the uniform target share);
    ``epochs_q6`` = min(max_epochs_q6, quota·10^6 div tokens) — the
                    repeat factor in fixed-point millionths (<10^6 means
                    downsampling, >10^6 means the domain is repeated for
                    multiple epochs, capped so small domains are never
                    over-repeated — the SlimPajama/DoReMi-style static
                    heuristic);
    ``planned_tokens`` = tokens·epochs_q6 div 10^6 (≤ quota, short only
                    where the cap binds; single-pass — no redistribution
                    of capped domains' unused quota, documented choice).

    All-integer arithmetic (bigint div), so the plan is bit-identical
    across engines and partitionings. ``planned_tokens`` uses the exact
    decomposition (tokens div 10^6)·e + ((tokens mod 10^6)·e) div 10^6
    so a 10^13-token domain times a 4·10^6 fixed-point factor cannot
    overflow int64; the epochs division is safe while quota < 9·10^12
    (a per-domain quota beyond any real budget).

    Shape at 100 TB: ONE domain-keyed partial-aggregated shuffle of
    (domain, count) pairs, and the source is scanned ONCE — n_domains
    comes from a single-partition window over the already-aggregated
    domain table (domain-table-sized, 10^5–10^7 rows, one trivial
    task), NOT from a separate ``t.agg()`` branch, which would re-plan
    the aggregate's lineage and scan the corpus a second time.
    """
    from pyspark.sql.window import Window

    t = (
        df.select(
            F.col(domain_col).alias("domain"),
            token_count_ws(F.col(text_col)).cast("long").alias("_tok"),
        )
        .groupBy("domain")
        .agg(F.sum("_tok").alias("tokens"))
    )
    quota = F.expr(f"CAST({int(budget)} AS BIGINT) div _nd")
    epochs = F.when(F.col("tokens") <= 0, F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(int(max_epochs_q6)).cast("long"),
            F.expr(f"(quota * {MIXTURE_Q6}) div tokens"),
        )
    )
    return (
        t.withColumn(
            "_nd", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
        )
        .withColumn("quota", quota)
        .withColumn("epochs_q6", epochs)
        .withColumn(
            "planned_tokens",
            F.expr(
                f"(tokens div {MIXTURE_Q6}) * epochs_q6 + "
                f"((tokens % {MIXTURE_Q6}) * epochs_q6) div {MIXTURE_Q6}"
            ),
        )
        .select("domain", "tokens", "quota", "epochs_q6", "planned_tokens")
    )


def mixture_plan_weighted(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    budget: int = 1_000_000,
    weight_expr: Column | None = None,
    max_epochs_q6: int = 4 * MIXTURE_Q6,
) -> DataFrame:
    """Non-uniform data-mixture planning: like :func:`mixture_plan`, but
    each domain's share of the token ``budget`` is proportional to a
    caller-supplied integer weight instead of uniform — the knob DoReMi /
    SlimPajama-style recipes actually turn (upweight curated domains,
    downweight crawl). ``weight_expr`` is evaluated per DOMAIN (it sees
    the aggregated ``domain`` column; default weight 1 reproduces a
    rounding-variant of the uniform plan) and must be a non-negative
    integer expression.

    ``quota = (budget · w) div Σw`` in exact int64 (requires
    ``budget · max_w < 2^63`` — any real budget with sane weights);
    epochs/planned_tokens follow mixture_plan's capped fixed-point
    arithmetic unchanged, so the output is bit-identical across engines.
    Int64 envelope, weighted-path-specific: the epochs step computes
    ``quota * 10^6`` BEFORE the div, so each per-domain quota must stay
    below 2^63/10^6 ≈ 9.2·10^12 tokens — tighter than the quota step's
    own bound when weights are skewed (one domain can absorb nearly the
    whole budget). A 9.2-trillion-token single-domain quota is ~37 PB of
    text; callers above that envelope should split the budget across
    plan invocations. (mixture_plan documents the same 10^6 fixed-point
    envelope for its uniform per-domain share.)

    Shape at 100 TB: identical to mixture_plan — ONE domain-keyed
    partial-aggregated shuffle, Σw via a single-partition window over
    the already-aggregated domain table (never a second corpus scan)."""
    from pyspark.sql.window import Window

    if weight_expr is None:
        weight_expr = F.lit(1)
    t = (
        df.select(
            F.col(domain_col).alias("domain"),
            token_count_ws(F.col(text_col)).cast("long").alias("_tok"),
        )
        .groupBy("domain")
        .agg(F.sum("_tok").alias("tokens"))
        .withColumn("weight", weight_expr.cast("long"))
    )
    epochs = F.when(
        (F.col("tokens") <= 0) | (F.col("weight") <= 0),
        F.lit(0).cast("long"),
    ).otherwise(
        F.least(
            F.lit(int(max_epochs_q6)).cast("long"),
            F.expr(f"(quota * {MIXTURE_Q6}) div tokens"),
        )
    )
    return (
        t.withColumn(
            "_tw", F.sum("weight").over(Window.partitionBy()).cast("long")
        )
        .withColumn(
            "quota",
            F.when(F.col("_tw") <= 0, F.lit(0).cast("long")).otherwise(
                F.expr(f"(CAST({int(budget)} AS BIGINT) * weight) div _tw")
            ),
        )
        .withColumn("epochs_q6", epochs)
        .withColumn(
            "planned_tokens",
            F.expr(
                f"(tokens div {MIXTURE_Q6}) * epochs_q6 + "
                f"((tokens % {MIXTURE_Q6}) * epochs_q6) div {MIXTURE_Q6}"
            ),
        )
        .select(
            "domain", "tokens", "weight", "quota", "epochs_q6",
            "planned_tokens",
        )
    )


def _line_lang(line: Column) -> Column:
    """Per-line stopword-ratio heuristic over an already-lowercased,
    trimmed line: 'und' (no words — tab/CR-only lines survive the
    space-only trim), 'en' (stopword ratio >= 3/25 = 0.12, compared by
    integer cross-multiplication so there is no float boundary), else
    'unk'. Same threshold as the doc-level lang_id."""
    from ktpm___ocr_spark.functions.exprutil import let

    words = F.filter(F.split(line, WORD_SPLIT), lambda w: w != F.lit(""))
    return let(
        words,
        lambda ws: F.when(F.size(ws) == 0, F.lit("und"))
        .when(
            F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS))) * 25
            >= F.size(ws) * 3,
            F.lit("en"),
        )
        .otherwise(F.lit("unk")),
    )


def code_switch_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Line-level code-switch (language-mixture) detection: classify
    every non-empty line with the stopword heuristic, then summarize
    per doc — ``(id, n_lines, n_en, n_und, n_unk, dom_lang,
    is_mixed)``. ``dom_lang`` is the argmax line language with
    lexicographic tie-break (en < und < unk, a fixed CASE order);
    ``is_mixed`` = 1 when the dominant language covers < 80 % of lines
    (dom·5 < n_lines·4, exact integers). The doc-level lang_id answers
    "what language is this doc"; this answers "is it ONE language" —
    the signal that routes mixed documents to segmentation instead of a
    single-language pipeline.

    Shape at 100 TB: zero shuffles, zero joins — line split, per-line
    classification, and the per-doc counts are all in-row higher-order
    functions; the langs array is let-bound so each doc is tokenized
    once no matter how many aggregates read it."""
    from ktpm___ocr_spark.functions.exprutil import let

    lines = F.filter(
        F.transform(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "\n"),
            lambda ln: F.trim(ln),
        ),
        lambda ln: ln != F.lit(""),
    )
    langs = F.transform(lines, _line_lang)

    def summarize(lg: Column) -> Column:
        counts = F.struct(
            F.size(lg).cast("long").alias("nl"),
            F.size(F.filter(lg, lambda x: x == F.lit("en"))).cast("long").alias("ne"),
            F.size(F.filter(lg, lambda x: x == F.lit("und"))).cast("long").alias("nd"),
            F.size(F.filter(lg, lambda x: x == F.lit("unk"))).cast("long").alias("nk"),
        )

        def body(c: Column) -> Column:
            mx = F.greatest(c["ne"], c["nd"], c["nk"])
            dom = (
                F.when(c["nl"] == 0, F.lit("und"))
                .when(c["ne"] == mx, F.lit("en"))
                .when(c["nd"] == mx, F.lit("und"))
                .otherwise(F.lit("unk"))
            )
            mixed = (
                F.when((c["nl"] > 0) & (mx * 5 < c["nl"] * 4), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            )
            return F.struct(
                c["nl"].alias("n_lines"),
                c["ne"].alias("n_en"),
                c["nd"].alias("n_und"),
                c["nk"].alias("n_unk"),
                dom.alias("dom_lang"),
                mixed.alias("is_mixed"),
            )

        return let(counts, body)

    return df.select(
        F.col(id_col).alias("doc_id"), let(langs, summarize).alias("_s")
    ).select("doc_id", "_s.*")
