"""Deduplication for training-data pipelines.

Generalizes the reference's content-addressed dedup (the sha256 cache key,
``backend/filters/cacheFilter.js:8-13``) into the full dedup toolbox a
100 TB corpus pipeline needs:

* exact:        hash-groupBy on sha256(text) — one shuffle on the hash;
* MinHash+LSH:  word-shingle → K minhashes → B bands → candidate pairs by
                band-bucket equi-join (never O(n²)) → exact Jaccard verify
                on candidates only;
* SimHash:      64-bit sign-of-projection fingerprint; near-dups = small
                Hamming distance, candidates found by matching on bit
                blocks (pigeonhole: d ≤ 3 ⇒ some 16-bit quarter equal);
* n-gram Jaccard: exact verification metric over distinct shingle sets;
* embedding cosine: near-dup by vector similarity (see similarity.py).

Portability: hashes derive from sha256 hex strings (never engine-native
``hash()``), so the driver's DuckDB oracle can reproduce signatures
bit-for-bit. MinHash "permutations" are the single-hash minwise family
(Broder 1997 §4's linear-transform family, as deployed in every
production minhash since): ONE 60-bit shingle hash — the repo-standard
``first 15 hex chars of sha256 → int64`` — xor-mixed with k fixed salts,
min per salt in plain int64. r7 redefinition, measured not guessed: the
previous k-independent-sha formulation (sha256 of the index-prefixed
shingle, min over hex strings) spent 16 sha256 calls per shingle;
kernel profiling at 400k docs put that at ~1,540 core-seconds of pure
OpenSSL time (213M shingles × 16 × ~450 ns) — the floor of ANY
implementation of that definition, 48 s of the 60 s stage wall. The
xor-mix family computes one sha per shingle and k SIMD xors, is equally
reproducible in ANSI SQL (``xor(bigint, bigint)`` + the same hex-parse
cast), and exact duplicates still collide on every band under any hash
family; near-dup candidate recall at J ≳ 0.6 is property-tested on
planted variant pairs (tests/test_dedup.py), and precision is untouched
because candidates are always re-verified by exact Jaccard.

Scale notes: candidates aggregate on (band_idx, band_hash), whose
cardinality ≫ keys; a hot bucket's pairs are exploded after a
round-robin exchange, so its quadratic work spreads over every task.
The pair operators return lazy plans: the caller materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ktpm___ocr_spark.functions.exprutil import let, let2
from ktpm___ocr_spark.functions.textstats import words_array
from ktpm___ocr_spark.operators.text_kernels import (
    lsh_bands_arrow,
    shingle_metrics_arrow,
)

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands × 4 rows ≈ catches jaccard ≳ 0.6
SHINGLE_N = 3
BAND_HEX = 16  # hex chars of the band sha kept — 64-bit buckets; band
# collisions only cost a wasted exact-Jaccard verify, never a bad pair

# The k fixed 60-bit xor-salts of the minhash family — derived once from
# sha256 so any engine can re-derive them, and injected as LITERALS into
# both the Spark plan and the DuckDB oracle (the two sides share these
# exact integers, not a derivation convention).
import hashlib as _hashlib

MINHASH_PERM_SALTS = [
    int(_hashlib.sha256(f"minhash-perm-{i}".encode()).hexdigest()[:15], 16)
    for i in range(MINHASH_K)
]


def shingles(text, n: int = SHINGLE_N):
    """Distinct word n-gram shingles; short texts fall back to one
    whole-text shingle so every doc has a signature.

    The word array is ``let``-bound: the position lambda references it
    through a lambda variable, so each ``element_at`` is an O(1) array
    index. Referencing the raw ``words_array`` expression in the lambda
    re-inlines (re-splits the text!) once PER SHINGLE POSITION —
    O(words²) per doc. Invisible on ~70-word rows (~2× constant), fatal
    on long documents: the composed-pipeline probe measured 4096-word
    docs at 55 s/64 docs before the binding and linear after (r6)."""

    def grams(ws, k):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, (i + j).cast("int")) for j in range(n)]
            ),
        )

    return let(
        words_array(text),
        lambda ws: let(
            F.size(ws),
            lambda k: F.array_distinct(
                F.when(k >= n, grams(ws, k)).otherwise(
                    F.array(F.concat_ws(" ", ws))
                )
            ),
        ),
    )


def shingle_hash64(g) -> F.Column:
    """First 60 bits of sha256(shingle) as int64 — the repo-standard
    portable hash (both engines parse the same 15 hex chars; never
    engine-native hash())."""
    return F.conv(F.substring(F.sha2(g, 256), 1, 15), 16, 10).cast("long")


def minhash_signature(text, k: int = MINHASH_K) -> F.Column:
    """Array of k minhash values (int64): per salt C_i, the min over
    shingles of ``shingle_hash64(g) XOR C_i`` (single-hash minwise
    family — module docstring has the r7 redefinition rationale and the
    measured 16-sha floor it removes).

    ``let``-bound so the shingle set is computed once, not k times, and
    the shingle hash once per shingle, not k times. Physical shape: ONE
    fold over the shingle set accumulating the k-element running-min
    array (``zip_with least``); xor never overflows (both operands are
    60-bit, so every value stays a positive int64 in any engine).
    """
    if k > len(MINHASH_PERM_SALTS):
        # silent truncation would give every doc an identical (empty)
        # tail band — the band join degenerates to a full cross pairing
        raise ValueError(
            f"k={k} exceeds the {len(MINHASH_PERM_SALTS)}-salt family; "
            "extend MINHASH_PERM_SALTS (and the oracle literals) first"
        )
    salts = F.array(
        *[F.lit(c).cast("long") for c in MINHASH_PERM_SALTS[:k]]
    )
    return let(
        shingles(text),
        lambda sh: F.aggregate(
            sh,
            F.array_repeat(F.lit((1 << 63) - 1).cast("long"), k),
            lambda acc, s: let(
                shingle_hash64(s),
                lambda h: F.zip_with(
                    acc, salts, lambda a, c: F.least(a, h.bitwiseXOR(c))
                ),
            ),
        ),
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: group by sha256(text); emit groups with size > 1."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("first_id"))
        .filter(F.col("dup_count") > 1)
    )


def lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """(id, band_idx, band_hash) — the LSH bucketing relation: band b
    is the first ``BAND_HEX`` hex chars of sha256 over the decimal
    ``minhash_signature`` values ``b·rows+1 … (b+1)·rows``, joined by
    ``\\x1f``.

    Computed in the mapInArrow kernel (text_kernels.lsh_bands_arrow),
    bit-identical to that composition of :func:`minhash_signature`
    (pinned by tests/test_text_kernels.py). The r6 composed probe
    measured the Catalyst form allocation-bound (per-shingle string
    materialization + fold arrays; 62 % of the 1M-doc corpus-build wall
    clock), and its 16→4-sha negative result showed hashing itself was
    only ~14 % of the cost — so the win is eliminating Catalyst's
    per-shingle array materialization, which only a kernel can.
    """
    return lsh_bands_arrow(df, id_col, text_col, k, bands)


def ngram_jaccard(a_text, b_text, n: int = SHINGLE_N) -> F.Column:
    """Exact Jaccard over distinct word n-gram shingle sets."""

    def body(sa, sb):
        inter = F.size(F.array_intersect(sa, sb)).cast("double")
        union = F.size(F.array_union(sa, sb)).cast("double")
        return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)

    return let2(shingles(a_text, n), shingles(b_text, n), body)


def ngram_containment(a_text, b_text, n: int = SHINGLE_N) -> F.Column:
    """Asymmetric containment |shingles(a) ∩ shingles(b)| / |shingles(a)|.

    Jaccard misses SUB-document duplication: a paragraph wholly quoted
    inside a much larger page scores low Jaccard but containment ≈ 1 in
    the small→large direction. Standard n-gram containment (Broder 1997,
    "On the resemblance and containment of documents")."""

    def body(sa, sb):
        inter = F.size(F.array_intersect(sa, sb)).cast("double")
        denom = F.size(sa).cast("double")
        return F.when(denom == 0, F.lit(0.0)).otherwise(inter / denom)

    return let2(shingles(a_text, n), shingles(b_text, n), body)


def _self_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct ``(id_a, id_b)`` with ``id_a < id_b`` for every two rows
    of ``bands`` that share a ``(band_idx, band_hash)`` bucket.

    One aggregation collects each bucket's sorted distinct ids, so a
    lazy (Python-kernel) ``bands`` is evaluated once, where a self-join
    reads it on both sides. Each id pairs with the ids after it; the
    round-robin exchange before that quadratic explode spreads a hot
    bucket over every task (the *DS2* skew split). Null ids never pair."""
    par = bands.sparkSession.sparkContext.defaultParallelism
    ids = F.col("_ids")
    return (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("_ids"))
        .filter(F.size(ids) > 1)
        .select(ids, F.posexplode(ids).alias("_pos", "id_a"))
        .repartition(par)
        .select(
            "id_a",
            F.explode(
                F.slice(ids, F.col("_pos") + 2, F.size(ids) - F.col("_pos") - 1)
            ).alias("id_b"),
        )
        .distinct()
    )


def _join_texts(
    cand: DataFrame, texts: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Attach ``text_a``/``text_b`` to a candidate relation carrying
    ``id_a``/``id_b`` by two equi-joins against the ``(id, text)``
    columns of ``texts`` — candidate-sized lookups, so verification
    never computes over the corpus."""
    texts = texts.select(F.col(id_col), F.col(text_col))
    return cand.join(
        texts.withColumnsRenamed({id_col: "id_a", text_col: "text_a"}), "id_a"
    ).join(
        texts.withColumnsRenamed({id_col: "id_b", text_col: "text_b"}), "id_b"
    )


def _band_candidates(
    df: DataFrame, id_col: str, text_col: str, k: int, bands: int
) -> DataFrame:
    """Candidate pairs with their texts, as one lazy plan: the LSH bands
    of ``df`` spread to cluster parallelism (signature compute, not IO,
    is the cost), :func:`_self_pairs`, and :func:`_join_texts` against
    ``df`` as passed, so the texts are not shuffled for the join-back."""
    par = df.sparkSession.sparkContext.defaultParallelism
    b = lsh_bands(df.repartition(par, id_col), id_col, text_col, k, bands)
    return _join_texts(_self_pairs(b, id_col), df, id_col, text_col)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = MINHASH_K,
) -> DataFrame:
    """Sub-document duplicate pairs: candidates re-scored by containment
    in BOTH directions; keep pairs where either direction ≥ threshold.

    Candidate generation uses k bands of ONE row each (candidate ⇔ ANY
    minhash value matches): the standard 4×4 banding is tuned for
    Jaccard ≳ 0.6 and provably misses asymmetric pairs (a paragraph
    inside a 10× page has J ≈ 0.1 ⇒ band-match probability J⁴ ≈ 10⁻⁴),
    while rows=1 detects at 1−(1−J)^k (J = 0.1, k = 16 → 81 %). More
    candidates than the near-dup scheme — the exact containment verify
    still runs on candidates only, never O(n²). The verify kernel
    computes ``round(ngram_containment, 4)`` both ways, value-identical
    to the Column spec (tests/test_text_kernels.py).

    Output: (id_a, id_b, cont_a_in_b, cont_b_in_a). Returns the lazy
    plan: nothing runs and nothing is cached until the caller's action."""
    scored = shingle_metrics_arrow(
        _band_candidates(df, id_col, text_col, k, bands=k),
        "text_a", "text_b", metrics=("cont_a_in_b", "cont_b_in_a"),
    )
    return scored.filter(
        (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
    ).select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: bands → distinct candidate
    pairs → exact Jaccard verify ≥ threshold.

    Never materializes the O(n²) pair space: candidates come only from
    ids sharing a (band_idx, band_hash) bucket. The verify runs in the
    shingle-metrics kernel: the identical ``round(ngram_jaccard, 4)`` at
    ~50-200 µs/pair vs ~1.8 ms for the Catalyst shingle-set expression
    (measured on the r7 nightly probe: 322k pair verifies, 579 s
    expression-bound → seconds).

    Physical notes: the banding input is repartitioned to cluster
    parallelism before the hash-heavy signature stage (a skinny scan
    often arrives in far fewer splits than there are cores); the text
    join-back reads the input as passed. :func:`_self_pairs` reads the
    bands once, so the banding kernel runs once per action without a
    persist. Returns the lazy plan: nothing runs and nothing is cached
    until the caller's action.
    """
    joined = _band_candidates(df, id_col, text_col, k, bands)
    return shingle_metrics_arrow(joined, "text_a", "text_b").filter(
        F.col("jaccard") >= threshold
    ).select("id_a", "id_b", "jaccard")


def boilerplate_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_df: int = 2,
    min_line_len: int = 1,
) -> DataFrame:
    """C4-style corpus-frequency line dedup (Raffel et al. 2020 §2.2:
    discard lines that recur across the corpus — cookie banners,
    navigation, copyright footers): any line occurring in more than
    ``max_line_df`` DISTINCT documents is boilerplate and is removed
    from every document; surviving lines are re-joined in original
    order.

    Output: ``(id, clean_text, n_kept, n_dropped)`` — one row per input
    doc (docs whose every line was boilerplate keep an empty
    ``clean_text``).

    Scale shape: the line-frequency count is a map-combinable aggregate
    (hot boilerplate lines are exactly the partial-agg win); the removal
    is a LEFT ANTI join against the *hot-line* relation — small (only
    lines with df > threshold), never the corpus-sized kept set. The
    per-doc re-stitch groups by doc id, so mega-docs are the skew bound
    (the AQE-split story shared with the extraction pipeline).

    Lines shorter than ``min_line_len`` chars are never classified hot
    (default 1): blank paragraph separators recur in virtually every
    real document, and without the guard the filter would strip every
    doc's structure corpus-wide (r5 review). ``min_line_len=0`` restores
    pure frequency-only semantics."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    )
    hot = (
        lines.filter(F.length("line") >= min_line_len)
        .groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
        .filter(F.col("line_df") > max_line_df)
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    spine = df.select(
        F.col(id_col),
        F.size(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).cast("long").alias("_n_lines"),
    )
    return spine.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("_n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Repeated-passage detection (the n-gram-granular form of Lee et
    al. 2022's exact substring dedup): every n-token window occurring in
    at least ``min_docs`` distinct documents, with how many docs and how
    many total occurrences. The survivors are the candidate passages an
    exact-substring deduper would then excise.

    Docs shorter than ``n`` tokens contribute no windows (whole-short-doc
    duplication is the exact/minhash dedup family's job).

    Scale shape: one (passage, doc) shuffle for per-doc counts and one
    passage-keyed count — both map-side combinable; NO posting lists or
    strings are materialized for non-repeated passages (the overwhelming
    majority), so the output is bounded by the repeated-passage set."""
    ws = words_array(F.col(text_col))
    grams = F.when(
        F.size(ws) >= n,
        let(
            ws,
            lambda w: F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(w, (i + j).cast("int")) for j in range(n)],
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = (
        df.select(F.col(id_col), F.explode(grams).alias("passage"))
        .groupBy("passage", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        per_doc.groupBy("passage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def excise_repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The removal step of exact substring dedup (Lee et al. 2022):
    every token covered by ANY corpus-repeated n-gram window (per
    :func:`duplicate_passages`) is excised from every document;
    survivors re-join in order. Removing *all* occurrences (not
    all-but-one) is deliberate — "keep the first copy" depends on a
    global document order and would not be deterministic under
    partitioning; Lee et al. report the all-copies and one-copy variants
    train equally well.

    Output: ``(id, clean_text, n_tokens, n_removed)`` — one row per doc.

    Scale shape: the repeated-passage set comes from the two
    partial-agg count shuffles of ``duplicate_passages`` (vocab-of-
    passages-sized, no postings); the window→passage hit join shuffles
    (passage, doc, start) rows only for windows that MATCH a repeated
    passage after the join; per-doc coverage is a collect_set of start
    offsets (bounded by doc length) expanded in-row by an array HOF —
    the re-stitch groups by doc, mega-docs bound the reducer."""
    def win_key(passage):
        """128-bit INTERNAL window key (two independent xxhash64 lanes).
        Join/group key only — never surfaced to results or oracles, so
        an engine-native hash is fine here; the r7 1M-doc probe showed
        the passage STRINGS were the disk bound (three shuffles of a
        ~540M-row window stream at ~50 B of text per row overflowed a
        75 GB spill volume twice) — 16 bytes of key in their place cuts
        every shuffle ~3×. 128 bits ⇒ expected corpus-wide collisions
        ~(5·10⁸)²/2¹²⁹ ≈ 10⁻²¹; a collision's worst case is one
        spuriously-excised window."""
        return F.struct(
            F.xxhash64(passage).alias("h1"),
            F.xxhash64(F.lit("excise-lane-2"), passage).alias("h2"),
        )

    _win_t = "array<struct<start:bigint,pk:struct<h1:bigint,h2:bigint>>>"
    ws = df.select(
        F.col(id_col), words_array(F.col(text_col)).alias("ws")
    )
    wins = ws.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("ws") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                    lambda i: F.struct(
                        i.cast("long").alias("start"),
                        win_key(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at("ws", (i + j).cast("int"))
                                    for j in range(n)
                                ],
                            )
                        ).alias("pk"),
                    ),
                ),
            ).otherwise(F.array().cast(_win_t))
        ).alias("w"),
    ).select(id_col, "w.start", "w.pk")
    # repeated-window set on the key — duplicate_passages' exact counting
    # shape ((window, doc) partial-agg then per-window distinct-doc
    # count), re-derived from `wins` so only 16-byte keys ever shuffle;
    # the string-faced detection operator (duplicate_passages) remains
    # the reporting face
    rep = (
        wins.groupBy("pk", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("pk")
    )
    # shuffled-hash, not sort-merge: SMJ would external-sort the full
    # window stream (the 1M probe spilled ~50 GB through that sort);
    # hashing builds from the repeated-key side (~10 % of keys) and the
    # big side streams through unsorted
    starts = (
        wins.join(rep.hint("shuffle_hash"), "pk")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("start")).alias("starts"))
    )
    covered = F.coalesce(F.col("starts"), F.array().cast("array<bigint>"))

    def gap_slices(w, st):
        """Kept tokens via interval-merge + gap slices — O(tokens +
        starts) per doc. Every covered window has the same length n, so
        the sorted start set merges into disjoint regions with ONE
        adjacent comparison (start i opens a region iff
        ss[i] > ss[i-1] + n - 1); the kept tokens are the slices
        BETWEEN regions. The previous exists()-per-position spelling
        was O(tokens × starts): a fully-repeated doc pair has starts ≈
        tokens and goes quadratic — the 400k skew fixture's mega-doc
        clones (~160k tokens each, every window shared) never finished
        a 10-minute budget; here each merges to ONE region and costs
        two empty gaps (r5 verdict task 7)."""
        # CaseWhen, not Or: `(i == 1) | (element_at(st, i-1) ...)` would
        # evaluate element_at(st, 0) — a runtime error — for i = 1 unless
        # the Or happens to short-circuit (an evaluation-order
        # implementation detail, r6 advice); When's lazy branch is a
        # documented guarantee.
        bounds = F.filter(
            F.sequence(F.lit(1), F.size(st)),
            lambda i: F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(st, i.cast("int"))
                > F.element_at(st, (i - 1).cast("int")) + (n - 1)
            ),
        )
        return let(
            bounds,
            lambda bs: let(
                F.size(bs),
                lambda K: F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), K.cast("long")),
                        lambda j: let2(
                            # gap left edge: position 1, or region j's
                            # end + 1 (region j's last start is the one
                            # before boundary j+1, or the final start)
                            F.when(j == 0, F.lit(1).cast("long")).otherwise(
                                F.element_at(
                                    st,
                                    F.when(
                                        j < K,
                                        F.element_at(
                                            bs, (j + 1).cast("int")
                                        )
                                        - 1,
                                    )
                                    .otherwise(F.size(st))
                                    .cast("int"),
                                )
                                + F.lit(n).cast("long")
                            ),
                            # gap right edge: region j+1's start - 1,
                            # or the doc's last token
                            F.when(j == K, F.size(w).cast("long")).otherwise(
                                F.element_at(
                                    st,
                                    F.element_at(
                                        bs, (j + 1).cast("int")
                                    ).cast("int"),
                                )
                                - 1
                            ),
                            lambda lo, hi: F.when(
                                hi >= lo,
                                F.slice(
                                    w,
                                    lo.cast("int"),
                                    (hi - lo + 1).cast("int"),
                                ),
                            ).otherwise(F.array().cast("array<string>")),
                        ),
                    )
                ),
            ),
        )

    # no-starts guard first: sequence(1, 0) DESCENDS in Spark, so the
    # merge path only runs when at least one covered window exists
    kept = let2(
        F.col("ws"),
        covered,
        lambda w, st: F.when(F.size(st) < 1, w).otherwise(gap_slices(w, st)),
    )
    return (
        ws.join(starts, id_col, "left")
        .select(
            F.col(id_col),
            F.size("ws").cast("long").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            id_col,
            F.array_join("_kept", " ").alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def incremental_near_dups(
    old_bands: DataFrame,
    old_texts: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    new_bands: DataFrame | None = None,
    eager: bool = True,
) -> DataFrame:
    """Cross-snapshot near-dup detection — the realistic 100 TB pattern:
    a new crawl INCREMENT arrives and must be deduped against the
    existing corpus WITHOUT re-banding it.

    Inputs:

    * ``old_bands`` — the persisted ``(id, band_idx, band_hash)`` band
      table of the existing corpus (built once by :func:`lsh_bands` and
      written to parquet/Iceberg, typically bucketed by
      ``(band_idx, band_hash)`` so the probe below is a co-located join);
    * ``old_texts`` — ``(id, text)`` of the existing corpus, consumed
      ONLY by the candidate-verification join (a candidate-sized lookup,
      never a corpus scan with compute on it);
    * ``new_docs`` — the increment. Id spaces must be disjoint.

    Only the increment is shingled/hashed: its bands probe the old band
    table by ``(band_idx, band_hash)`` equi-join (new-vs-old candidates)
    and self-join (new-vs-new), then exact-Jaccard verification runs on
    candidates only. Cost per increment is O(|new| · bands) hashing +
    joins keyed on band buckets — independent of |old| except for the
    band-table probe itself, exactly the property that makes nightly
    crawls affordable against a 10^12-doc corpus.

    Output: ``(id_a, id_b, pair_kind, jaccard)`` with ``id_a < id_b``
    and ``pair_kind ∈ {'new_old', 'new_new'}``. Equivalent (and
    oracle-checked) reformulation: the full-corpus LSH pair set
    restricted to pairs touching the increment — minus the old-old pairs
    an incremental run must never pay for.
    """
    # format guard (bounded O(1) control-flow probe, same class as the
    # k-means/BPE driver reads): the r7 single-hash family shortened
    # band_hash from 64 to BAND_HEX=16 hex chars; a persisted PRE-r7
    # band table would silently match zero old-vs-new candidates — every
    # cross-snapshot dup missed with no error. One head row tells.
    # Only on the EAGER path: eager=False is documented as pure plan
    # construction (the streaming face calls it per micro-batch, where a
    # driver action per call is real overhead), so a lazy caller owns the
    # format contract. Known bypass either way: an EMPTY old_bands yields
    # no probe row — harmless, an empty table has no stale rows to match.
    if eager:
        head = old_bands.select(F.length("band_hash").alias("n")).head(1)
        if head and head[0]["n"] != BAND_HEX:
            raise ValueError(
                f"old_bands.band_hash is {head[0]['n']} hex chars, expected "
                f"{BAND_HEX} — the band table predates the current minhash "
                "family; rebuild it with lsh_bands() before probing"
            )
    par = new_docs.sparkSession.sparkContext.defaultParallelism
    # a caller that has already banded the increment (e.g. the streaming
    # face, which also appends the bands to the store) passes them in so
    # the sha256-heavy banding stage — the dominant per-increment cost —
    # runs exactly once (r5 review finding)
    nb = (
        new_bands
        if new_bands is not None
        else lsh_bands(
            new_docs.repartition(par, id_col), id_col, text_col, k, bands
        )
    ).persist()
    try:
        n, o = nb.alias("n"), old_bands.alias("o")
        cross = (
            n.join(
                o,
                (F.col("n.band_idx") == F.col("o.band_idx"))
                & (F.col("n.band_hash") == F.col("o.band_hash"))
                # id spaces SHOULD be disjoint (precondition); the guard
                # keeps a violated precondition from emitting degenerate
                # (x, x) self-pairs instead of corrupting downstream joins
                & (F.col(f"n.{id_col}") != F.col(f"o.{id_col}")),
            )
            .select(
                F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_b"),
            )
            .distinct()
            .withColumn("pair_kind", F.lit("new_old"))
        )
        newnew = _self_pairs(nb, id_col).withColumn("pair_kind", F.lit("new_new"))
        texts = old_texts.select(
            F.col(id_col), F.col(text_col)
        ).unionByName(new_docs.select(F.col(id_col), F.col(text_col)))
        joined = _join_texts(
            cross.unionByName(newnew), texts, id_col, text_col
        )
        verified = (
            shingle_metrics_arrow(joined, "text_a", "text_b")
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "pair_kind", "jaccard")
        )
        if not eager:
            # lazy return: the full pre-execution plan stays inspectable
            # (the no-reband plan test) and a caller can fuse further
            # stages into one job. The band persist below is released
            # immediately, so the increment's bands evaluate once per
            # consuming join instead — the caller owns the lifecycle.
            return verified
        # materialize the small verified set, then release the
        # increment's bands before returning
        return verified.localCheckpoint(eager=True)
    finally:
        nb.unpersist()


def _release_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a localCheckpoint'ed frame's blocks.

    A checkpointed DataFrame's data lives in the underlying RDD's cache
    blocks (df.unpersist() only touches the SQL cache manager). Without
    an explicit release, every superseded generation of an iterative
    algorithm stays in executor storage until GC-driven ContextCleaner
    gets to it — O(rounds) label snapshots held at once.
    """
    try:
        df._jdf.queryExecution().toRdd().unpersist(False)
    except Exception:
        pass  # fall back to ContextCleaner reclamation


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 15
) -> DataFrame:
    """Exact connected components over an undirected edge list.

    Returns ``(node, cluster_id)`` for every node that appears in at least
    one edge, where ``cluster_id`` is the smallest node id in the
    component. This is the step that turns pairwise near-dup *candidates*
    (minhash/simhash/embedding pairs) into duplicate *clusters* from which
    one canonical document is kept — the actual dedup action on a corpus.

    Algorithm: min-label propagation with hooking. Every node starts
    with ``min(self, min(neighbors))``. Each round, every node takes the
    min of its label, its neighbors' labels and (the hook) the neighbor
    labels of every node it labels, so the label roots of two touching
    trees link directly; then a pointer-jumping step (label ← min(label,
    label's label), Shiloach–Vishkin path halving) shortens the label
    paths. Fixpoint = component minimum. Only the first groupBy reads
    the edges; the hook and the jump run on node-sized data, and every
    join and groupBy is keyed on node id (uniform, AQE-splittable). A
    270-edge random graph over 600 ids converges in 5 rounds and a
    100-node chain in 7. The alternating
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) is the equivalent
    alternative at web scale. Each generation is eagerly ``localCheckpoint``-ed:
    plain persist is NOT enough for iterative plans — the cache is only
    matched at physical planning, so the *analyzed* tree still doubles per
    round (each generation references the previous twice) and Catalyst
    OOMs on the exponential tree long before execution; checkpointing
    truncates the lineage to the materialized blocks. On a real cluster
    with executor loss in play, swap localCheckpoint for reliable
    ``checkpoint()`` against the job's checkpoint dir (the same durability
    story as metrics.CheckpointedRun). Raises if ``max_iter`` rounds do
    not reach the fixpoint (never silently returns partial clusters).
    """
    # both directions from ONE read of ``pairs`` (a union of two
    # projections would evaluate a lazy pair plan twice)
    fwd = F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    rev = F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    edges = pairs.select(F.inline(F.array(fwd, rev))).distinct().persist()
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select("u", F.least(F.col("u"), F.col("m")).alias("label"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, "u")
                .groupBy(F.col("v").alias("u"))
                .agg(F.min("label").alias("nbr_min"))
            )
            # materialized: the pointer-jumping self-join below consumes
            # propagated on BOTH sides — without the checkpoint the
            # edges⋈labels⋈nbr_min subtree re-evaluates once per side,
            # doubling the hot loop's per-round shuffle work (r5 review).
            # Each node keeps the min of its label and nbr_min and, the
            # hook, sends nbr_min to its label root: one aggregation over
            # node-sized rows. It carries the old label for the count.
            no_label = F.lit(None).cast(labels.schema["label"].dataType)
            propagated = (
                labels.join(nbr_min, "u", "left")
                .select(
                    F.inline(
                        F.array(
                            F.struct(
                                "u",
                                F.least("label", "nbr_min").alias("label"),
                                F.col("label").alias("old"),
                            ),
                            F.struct(
                                F.col("label").alias("u"),
                                F.col("nbr_min").alias("label"),
                                no_label.alias("old"),
                            ),
                        )
                    )
                )
                .groupBy("u")
                .agg(F.min("label").alias("label"), F.max("old").alias("old"))
                .localCheckpoint(eager=True)
            )
            _release_checkpoint(labels)  # propagated is materialized
            # pointer jumping: labels are themselves node ids, so follow
            # label→label(label) and take the min — halves the remaining
            # path to the component minimum every round. The changed-label
            # count is observed in this checkpoint job (no extra job).
            obs = Observation()
            labels = (
                propagated.alias("x")
                .join(
                    propagated.alias("y"),
                    F.col("x.label") == F.col("y.u"),
                    "left",
                )
                .select(
                    F.col("x.u").alias("u"),
                    F.least(
                        F.col("x.label"),
                        F.coalesce(F.col("y.label"), F.col("x.label")),
                    ).alias("label"),
                    F.col("x.old").alias("old"),
                )
                .observe(obs, F.count_if(F.col("label") != F.col("old")).alias("n"))
                .select("u", "label")
                .localCheckpoint(eager=True)
            )
            _release_checkpoint(propagated)  # new labels are materialized
            if obs.get["n"] == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        edges.unpersist()
    return labels.select(F.col("u").alias("node"), F.col("label").alias("cluster_id"))


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    rank_col: F.Column | None = None,
) -> DataFrame:
    """Pick one representative per duplicate cluster.

    ``clusters`` is ``(node, cluster_id)`` from :func:`connected_components`.
    Representative = highest ``rank_col`` (default: document quality score,
    rounded to 4 dp so the ordering is engine-portable), ties broken by
    smallest id. Returns one row per cluster:
    ``(cluster_id, keep_id, keep_rank, n_members)``.

    Scale shape: inner join on id (clustered docs only — the overwhelming
    non-duplicate majority never enters the shuffle), then a single
    groupBy on cluster_id using a max-of-struct ordering instead of a
    window (no sort, pure hash aggregate with map-side partials).

    Composition note (measured, r6): MATERIALIZE this (tiny) result
    before anti-joining the corpus against it. Fused into one plan, the
    drop relation derives from broadcast joins with no Exchange beneath,
    so AQE has no materialization point to re-plan — the corpus lands on
    a static SortMergeJoin (51 s fused vs 1.0 + 1.2 s staged at 400k
    docs). Cluster/keep tables are production tables anyway
    (bench_composed.py stages 6a/6b).
    """
    from ktpm___ocr_spark.functions.textstats import quality_score

    if rank_col is None:
        rank_col = quality_score("text")
    member = docs.join(clusters, docs[id_col] == clusters["node"]).select(
        F.col("cluster_id"),
        F.col(id_col).alias("member_id"),
        rank_col.alias("rank"),
    )
    # argmax via max(struct(rank, -id)): higher rank wins, then smaller id.
    best = member.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("rank"), (-F.col("member_id")).alias("neg_id"))).alias(
            "best"
        ),
        F.count("*").alias("n_members"),
    )
    return best.select(
        "cluster_id",
        (-F.col("best.neg_id")).alias("keep_id"),
        F.col("best.rank").alias("keep_rank"),
        "n_members",
    )


# ---------------------------------------------------------------- simhash
SIMHASH_BITS = 64


def _hex_digit_val(hexstr, pos) -> F.Column:
    """0-15 value of the 1-based ``pos``-th hex char (portable SQL idiom)."""
    return F.instr(F.lit("0123456789abcdef"), F.substring(hexstr, pos, 1)) - 1


def simhash64(text) -> F.Column:
    """64-bit SimHash as a '0'/'1' bitstring (portable across engines).

    Per word: 64 bits from the first 16 hex chars of sha256(word). Bit b
    contributes +1/−1; the fingerprint takes the sign of each bit-sum.
    Bitstring output (not int64) avoids sign-bit pitfalls and compares
    identically everywhere.

    Physical shape: ONE fold over the word-hash list accumulating a
    64-element sum array (``zip_with`` add), instead of 64 independent
    folds that each rescan every word — same integer math bit for bit
    (pinned by the DuckDB oracle, which still uses the 64-expression
    formulation), ~2× less work per row.
    """
    hexes = F.transform(
        words_array(text), lambda w: F.substring(F.sha2(w, 256), 1, 16)
    )

    def bit_contribs(h) -> F.Column:
        # 64-element ±1 array for one word (b: 0..63; hex char 16 - b//4
        # holds bit b little-endian; shift = 2^(b%4))
        return F.transform(
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda b: F.when(
                F.floor(
                    _hex_digit_val(h, (F.lit(16) - F.floor(b / 4)).cast("int"))
                    / F.pow(F.lit(2.0), (b % 4).cast("double"))
                )
                % 2
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    sums = F.aggregate(
        hexes,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, bit_contribs(h), lambda a, c: a + c),
    )
    return F.array_join(
        F.transform(
            sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )


def hamming_bitstr(a, b, bits: int = SIMHASH_BITS) -> F.Column:
    """Hamming distance between two equal-length bitstrings."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(bits)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.substring(a, i.cast("int"), 1) == F.substring(b, i.cast("int"), 1),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dups via the pigeonhole block join: if hamming ≤ 3,
    at least one of the four 16-bit quarters matches exactly — join on
    (quarter_idx, quarter_bits), then verify full Hamming distance.

    The 4-block pigeonhole guarantees candidate recall ONLY for
    ``max_hamming ≤ 3`` (d=4 can put one flipped bit in every quarter) —
    larger thresholds raise rather than silently under-report."""
    if max_hamming > 3:
        raise ValueError(
            "4-quarter pigeonhole join guarantees recall only for "
            f"max_hamming <= 3 (got {max_hamming}); use more blocks or a "
            "different candidate scheme for larger radii"
        )
    # No persist here: `quarters` below is consumed twice (self-join), but
    # each side re-derives from the same narrow projection and a persist
    # would leak cached blocks across queries in long-lived sessions
    # (bench/driver run dozens of queries per session). The 2× simhash
    # recompute is bounded and this operator is not on the bench hot path.
    par = df.sparkSession.sparkContext.defaultParallelism
    sims = df.repartition(par, id_col).select(
        F.col(id_col), simhash64(F.col(text_col)).alias("simhash")
    )
    quarters = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q_idx"),
                        F.substring("simhash", q * 16 + 1, 16).alias("q_bits"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("q"),
    ).select(id_col, "simhash", "q.q_idx", "q.q_bits")
    l, r = quarters.alias("l"), quarters.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.q_idx") == F.col("r.q_idx"))
            & (F.col("l.q_bits") == F.col("r.q_bits"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming_bitstr(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# Rabin-style polynomial weights for the 8-char CDC gram, high to low:
# 31^7 … 31^0 (exact int64 — max codepoint 0x10FFFF · Σ31^k ≈ 3·10^16).
CDC_WINDOW = 8
CDC_POW = [31**k for k in range(CDC_WINDOW - 1, -1, -1)]
# Boundary when gram hash ≡ 0 (mod 61) → ~61-char expected chunks. The
# modulus must NOT be 64 (or any power of two): 31² ≡ 1 (mod 64), so
# Σ31^k for k=0..7 ≡ 4·31+4 = 128 ≡ 0 — EVERY 8-char run of one
# character would hash to 0 and explode into per-character chunks.
# 61 is prime and 31's powers mod 61 have no short period; a constant
# gram hashes to 12·c mod 61, zero only for codepoints ≡ 0 (mod 61),
# which the explicit run guard below excludes anyway.
CDC_MOD = 61


def cdc_repeated_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    top_n: int = 50,
) -> DataFrame:
    """Content-defined chunking + cross-corpus chunk dedup (the LBFS /
    backup-dedup primitive: Muthitacharoen et al., SOSP 2001; Rabin
    fingerprints). Character position p (p < len) ends a chunk when the
    polynomial hash of the 8-char gram ending at p is ≡ 0 (mod 61) and
    the gram is not a single-character run (constant grams carry no
    distinguishing content — LBFS-style implementations likewise refuse
    to cut inside low-entropy runs, else '=====' divider lines and
    dot-leaders shatter into per-character chunks). Boundaries therefore
    depend only on LOCAL content — insertions shift at most one chunk,
    unlike fixed-size blocks. Repeated chunks across ≥ ``min_docs`` docs
    are the sub-document duplication report.

    Portability: the gram hash is an exact int64 dot product of code
    points with 31^k weights — no floats, no engine-native hash — and
    chunk identity travels as (sha256-prefix, length), never raw text.

    Shape at 100 TB: chunking is a ZERO-SHUFFLE in-row HOF cascade over
    the corpus scan; then exactly two hash aggregates — (chunk, doc)
    with map-side partials (~n_chars/61 rows in, and chunk-hash keys
    distribute uniformly by construction — a content hash IS the
    anti-skew key), and a tiny rollup over the already-unique pairs (no
    countDistinct Expand); top-n is a distributed TakeOrdered.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    ln = F.length(t)

    # One O(n) pass decodes the text into a codepoint array; the
    # boundary scan then reads grams via O(1) element_at. (substring on
    # a UTF8 string is O(position) — hashing every position through
    # substring would be O(n²) per document, measured 11.7 s -> sub-2 s
    # at sf0.1 for this rewrite.)
    codes = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))

    def gram_hash(cs, p):
        acc = None
        for k, w in enumerate(CDC_POW):
            # long, not int: codepoint · 31^6 already overflows int32
            term = F.element_at(
                cs, (p - (CDC_WINDOW - 1) + k).cast("int")
            ) * F.lit(w).cast("long")
            acc = term if acc is None else acc + term
        return acc

    def is_run(cs, p):
        last = F.element_at(cs, p.cast("int"))
        acc = None
        for k in range(CDC_WINDOW - 1):
            eq = F.element_at(cs, (p - (CDC_WINDOW - 1) + k).cast("int")) == last
            acc = eq if acc is None else acc & eq
        return acc

    # boundaries strictly inside the doc (p < len), so the cut list
    # [0, b1…bk, len] is strictly increasing with no dedup step needed;
    # let-binding evaluates the codepoint array ONCE per row (Catalyst
    # CollapseProject would otherwise re-inline it into every gram)
    bounds = F.when(
        ln >= CDC_WINDOW + 1,
        let(
            codes,
            lambda cs: F.filter(
                F.sequence(F.lit(CDC_WINDOW), ln - 1),
                lambda p: (gram_hash(cs, p) % CDC_MOD == 0) & ~is_run(cs, p),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.concat(
        F.array(F.lit(0)).cast("array<int>"), bounds, F.array(ln)
    )
    chunks = let(
        cuts,
        lambda c: F.transform(
            F.sequence(F.lit(1), F.size(c) - 1),
            lambda i: let2(
                F.element_at(c, i.cast("int")),
                F.element_at(c, (i + 1).cast("int")),
                lambda a, b: F.substring(t, a + 1, b - a),
            ),
        ),
    )
    per_chunk = df.select(
        F.col(id_col), F.explode(chunks).alias("chunk")
    ).filter(F.col("chunk") != "")
    # two-level aggregate instead of countDistinct: level 1 combines
    # per-(chunk, doc) occurrences MAP-SIDE (a doc repeating its own
    # chunk never crosses the network twice), level 2 is a tiny rollup
    # over already-unique (chunk, doc) rows — no Expand, no distinct
    # shuffle
    per_doc = (
        per_chunk.select(
            F.col(id_col),
            F.substring(F.sha2(F.col("chunk"), 256), 1, 16).alias("chunk_hash"),
            F.length("chunk").cast("long").alias("chunk_len"),
        )
        .groupBy("chunk_hash", "chunk_len", id_col)
        .agg(F.count(F.lit(1)).alias("_occ"))
    )
    agg = (
        per_doc.groupBy("chunk_hash", "chunk_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_occ").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return agg.orderBy(
        F.desc("n_docs"), F.desc("n_occ"), F.asc("chunk_hash")
    ).limit(top_n)
