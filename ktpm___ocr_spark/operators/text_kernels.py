"""Arrow-batched kernels for the two hottest per-row text stages.

Round-6's composed-pipeline probe left two stages owning ~87 % of the
1M-doc corpus-build wall clock, both already on their best *plan* (zero
or one Exchange, linear 400k→1M) but paying a large per-row *constant*
in Catalyst expression evaluation:

* MinHash banding (62 %): the expression path materializes every word
  n-gram shingle as a concatenated string and folds k running-min hash
  arrays per shingle — measured allocation-bound, not hash-bound (r6:
  cutting 16→4 sha256/shingle saved only 11 %; GCLocker "Retried
  waiting" warnings = humongous-allocation thrash from per-row arrays).
* The Gopher gate (25 %): five split/HOF signals per row; even fused
  under one let-bound word array, Catalyst's interpreted HOF folds cost
  ~10× what flat columnar passes do (extract's mapInArrow path runs
  74k docs/s on the same rows).

These kernels re-express BOTH stages in the ``arrow_native.py`` shape —
``mapInArrow``, separate python-worker heaps per core, columnar
compute — while staying **bit-identical** to the expression forms (and
therefore to the driver's DuckDB oracles, which reproduce the sha256
arithmetic): same tokenizer (lower → split on Java-``\\s`` =
``[ \\t\\n\\x0b\\f\\r]`` → drop empties), same single-hash minwise
signature (one 60-bit sha256-derived hash per shingle, k fixed
xor-salts, min per salt — dedup.py module docstring has the family's
rationale), same band hash, same Gopher thresholds including the
HALF_UP ``round(_, 4)`` boundary semantics. Equivalence is pinned by
tests/test_text_kernels.py (fixture corpus + adversarial boundary
rows), not by claim.

Every Python task pays a fixed start cost, whatever it computes. On a
4-vCPU host with Python 3.11.7 a no-op ``mapInArrow`` over 32 partitions
took 1.65–3.8 s against 0.30–0.35 s over 4. The cost sits in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``: that re-reads the zip directory of
every ``zipimporter`` on the worker's path (``pyspark.zip``, its
subpackages, the spark-core jar), 0.12–0.29 s per call measured inside
the worker. So a Python stage must not inherit an upstream ``8 × nproc``
partitioning: a ``mapInArrow`` runs as many tasks as its input has
partitions, so kernels that follow a shuffle either sit behind their own
exchange (``cosine_bucket_pairs_arrow`` groups by bucket, so it runs
``spark.sql.shuffle.partitions`` tasks or fewer after AQE coalescing) or
run over an input sized by the caller.

Reference anchor: the content-hash dedup family is the reference's core
value (``backend/filters/cacheFilter.js:8-13``); the quality gate
extends its per-document text stage (``backend/filters/ocrFilter.js``).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ktpm___ocr_spark.textnorm import _WS_CHARS

__all__ = [
    "lsh_bands_arrow",
    "gopher_filter_arrow",
    "gopher_gate_arrow",
    "hashed_bow_embedding_arrow",
    "shingle_metrics_arrow",
    "cosine_bucket_pairs_arrow",
]

# Java regex \s (Pattern.split in Spark's `split`) is the ASCII set
# textnorm._WS_CHARS; spelled explicitly so the Python tokenizer matches it
# exactly (Python-ASCII \s would also match, but explicit beats implicit
# on the one character — \x0b — where RE2's \s disagrees).
_WS_CLASS = f"[{_WS_CHARS}]"
_SPLIT_RE = re.compile(_WS_CLASS + "+")

_SHINGLE_N = 3  # == dedup.SHINGLE_N (pinned by tests/test_text_kernels.py)
_BAND_HEX = 16  # == dedup.BAND_HEX


def _words(text: str | None) -> list[str]:
    """words_array semantics: lower, split on Java-\\s runs, drop ''."""
    if not text:
        return []
    return [w for w in _SPLIT_RE.split(text.lower()) if w]


def _shingle_bytes(ws: list[str], n: int = _SHINGLE_N) -> list[bytes]:
    """Distinct word n-gram shingles (utf-8); short texts fall back to
    one whole-text shingle — dedup.shingles semantics exactly
    (including the '' shingle for an empty word list)."""
    if len(ws) >= n:
        sh = {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
    else:
        sh = {" ".join(ws)}
    return [s.encode("utf-8") for s in sh]


def lsh_bands_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    chunk_shingles: int = 1 << 21,
) -> DataFrame:
    """(id, band_idx, band_hash) — bit-identical to the expression
    ``lsh_bands`` (dedup.py), computed in one Arrow pass.

    Per row: tokenize once, build the distinct shingle set once, ONE
    sha256 per shingle (the measured floor of the old k-sha definition
    was ~16× this — dedup.py module docstring), then the k xor-mixes and
    per-doc mins run as TWO numpy passes over the whole batch:
    ``bitwise_xor.outer(H, salts)`` and ``minimum.reduceat`` at doc
    starts — no per-doc Python in the mixing. ``digest()[:8]`` big-endian
    shifted right 4 bits == the first 15 hex chars parsed as int64, the
    same value both Catalyst (``conv(substring(sha2,1,15),16,10)``) and
    DuckDB (``('0x' || substr(sha256,1,15))::BIGINT``) compute. The band
    hash is ``substr(sha256(concat_ws(0x1f, decimal-strings)), 1, 16)``,
    identical across all three formulations.

    Scale shape: embarrassingly parallel projection + explode (bands
    rows out per doc); no shuffle here — the consumer's band-bucket
    equi-join is where the one shuffle lives, same as before.
    """
    from ktpm___ocr_spark.operators.dedup import MINHASH_PERM_SALTS

    if k > len(MINHASH_PERM_SALTS):
        # mirror minhash_signature's guard: a truncated salt family
        # would hash empty band slices to one constant band_hash for
        # EVERY doc — the band join degenerates to a cross pairing
        raise ValueError(
            f"k={k} exceeds the {len(MINHASH_PERM_SALTS)}-salt family; "
            "extend MINHASH_PERM_SALTS (and the oracle literals) first"
        )
    rows = k // bands
    sha = hashlib.sha256
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("band_idx", IntegerType()),
            StructField("band_hash", StringType()),
        ]
    )
    src = df.select(id_col, text_col)

    def compute(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        salts = np.array(MINHASH_PERM_SALTS[:k], dtype=np.uint64)
        # flush the xor/reduceat pass at doc boundaries once a chunk
        # holds ~2M shingles: Arrow batches are capped by ROWS, not
        # bytes, so a batch of mega-docs would otherwise materialize an
        # unbounded (total_shingles × k) xor matrix (and an equally
        # unbounded Python hash list). Chunking bounds the transient at
        # ~(2M + one doc's shingles) × k × 8 B ≈ 256 MB per worker,
        # with per-chunk results bit-identical (reduceat segments are
        # whole docs either way).
        chunk_cap = chunk_shingles
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            sig_parts: list["np.ndarray"] = []
            hashes: list[int] = []
            starts: list[int] = []

            def _flush():
                # (n_shingles, k) xor matrix → per-doc column mins;
                # every doc has ≥ 1 shingle (empty text ⇒ the ''
                # shingle), so reduceat segments are always non-empty
                sig_parts.append(
                    np.minimum.reduceat(
                        np.bitwise_xor.outer(
                            np.array(hashes, dtype=np.uint64), salts
                        ),
                        np.array(starts, dtype=np.int64),
                        axis=0,
                    )
                )
                hashes.clear()
                starts.clear()

            for t in texts:
                starts.append(len(hashes))
                hashes.extend(
                    int.from_bytes(sha(s).digest()[:8], "big") >> 4
                    for s in _shingle_bytes(_words(t))
                )
                if len(hashes) >= chunk_cap:
                    _flush()
            if starts:
                _flush()
            sig = (
                np.vstack(sig_parts) if len(sig_parts) > 1 else sig_parts[0]
            )
            take_idx: list[int] = []
            bidx: list[int] = []
            bhash: list[str] = []
            for row_i, sig_row in enumerate(sig.tolist()):
                for b in range(bands):
                    seg = "\x1f".join(
                        map(str, sig_row[b * rows : (b + 1) * rows])
                    )
                    take_idx.append(row_i)
                    bidx.append(b)
                    bhash.append(
                        sha(seg.encode("utf-8")).hexdigest()[:_BAND_HEX]
                    )
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(take_idx, type=pa.int32())),
                    pa.array(bidx, type=pa.int32()),
                    pa.array(bhash, type=pa.string()),
                ],
                names=[id_col, "band_idx", "band_hash"],
            )

    return src.mapInArrow(compute, out_schema)


# ---------------------------------------------------------------------------
# Gopher gate kernel
# ---------------------------------------------------------------------------

# Exact HALF_UP boundary transforms for `round(frac, 4) <= T`:
# Spark's Round(double) is BigDecimal.valueOf(d) (= Double.toString's
# shortest decimal repr) setScale(4, HALF_UP), so the predicate holds
# iff repr(d) < T + 0.00005. Shortest-repr rounding intervals tile the
# reals at double midpoints, and "0.30005"/"0.18005" are themselves the
# shortest reprs of their nearest doubles, so repr(d) < boundary is
# EXACTLY d < float64(boundary) — no epsilon, no Decimal in the hot
# loop. (Derivation + randomized pin: tests/test_text_kernels.py.)
_TOP_WORD_LT = 0.30005  # round4(f) <= 0.30
_TOP_BIGRAM_LT = 0.18005  # round4(f) <= 0.18


def _gopher_keep_mask(texts):
    """numpy bool mask of gopher_keep_expr decisions for a pyarrow
    string array — fully columnar (RE2 split + dictionary-encode mode
    counting; no per-row Python)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n_rows = len(texts)
    # split the RAW text; lowercase only the (small) vocabulary in
    # Python below. pc.utf8_lower is utf8proc's SIMPLE per-codepoint
    # mapping, while Spark's lower() is Java full case mapping (İ →
    # 'i'+U+0307, final sigma, …) — Python str.lower() matches Java on
    # every divergent case (probed: İN, ΟΔΟΣ, ΣΣ, ẞ, ǅ…), and case
    # mapping never creates or destroys whitespace, so split-then-lower
    # ≡ the expression's lower-then-split. Per-token lowering also
    # preserves the Final_Sigma context: token boundaries are whitespace
    # (uncased) on both sides.
    wl_list = pc.split_pattern_regex(
        pc.fill_null(texts, ""), pattern=_WS_CLASS + "+"
    )
    if isinstance(wl_list, pa.ChunkedArray):
        wl_list = wl_list.combine_chunks()
    offsets = np.asarray(wl_list.offsets, dtype=np.int64)
    offsets = offsets - offsets[0]
    flat = wl_list.flatten()
    rawlen = np.asarray(pc.utf8_length(flat), dtype=np.int64)
    doc_idx = np.repeat(np.arange(n_rows, dtype=np.int64), np.diff(offsets))
    nonempty = rawlen > 0  # split artifacts ('' around separators) drop
    doc_idx = doc_idx[nonempty]
    flat = flat.filter(pa.array(nonempty))

    from ktpm___ocr_spark.functions.textstats import EN_STOPWORDS

    dic = flat.dictionary_encode()
    raw_codes = np.asarray(dic.indices, dtype=np.int64)
    lowered = [w.lower() for w in dic.dictionary.to_pylist()]
    # re-key on the LOWERED identity: distinct raw spellings of one
    # lowered word must count as the same word for the mode/bigram gates
    uniq, inv = np.unique(np.array(lowered, dtype=object), return_inverse=True)
    codes = inv[raw_codes]
    low_len = np.fromiter(
        (len(w) for w in lowered), dtype=np.int64, count=len(lowered)
    )
    wlen = low_len[raw_codes]  # full mapping can change codepoint count

    n = np.bincount(doc_idx, minlength=n_rows).astype(np.int64)
    sum_len = np.bincount(doc_idx, weights=wlen, minlength=n_rows)
    safe_n = np.maximum(n, 1).astype(np.float64)
    mean_len = sum_len / safe_n  # n==0 rows fail the length gate anyway

    stopset = set(EN_STOPWORDS)
    is_stop = np.fromiter(
        (w in stopset for w in uniq), dtype=np.float64, count=len(uniq)
    )
    n_stop = np.bincount(doc_idx, weights=is_stop[codes], minlength=n_rows)
    stop_ratio = n_stop / safe_n

    def _max_multiplicity(keys: "np.ndarray", docs: "np.ndarray"):
        """per-doc max multiplicity of (doc, key) — the run-length form
        of _top_frac_inrow's sort+fold, vectorized."""
        best = np.zeros(n_rows, dtype=np.int64)
        if len(keys) == 0:
            return best
        order = np.lexsort((keys, docs))
        sk, sd = keys[order], docs[order]
        run_start = np.flatnonzero(
            np.r_[True, (sd[1:] != sd[:-1]) | (sk[1:] != sk[:-1])]
        )
        run_len = np.diff(np.r_[run_start, len(sk)])
        run_doc = sd[run_start]
        grp_start = np.flatnonzero(np.r_[True, run_doc[1:] != run_doc[:-1]])
        best[run_doc[grp_start]] = np.maximum.reduceat(run_len, grp_start)
        return best

    top_word = _max_multiplicity(codes, doc_idx) / safe_n

    same_doc = doc_idx[:-1] == doc_idx[1:] if len(codes) else np.array([], bool)
    u = len(uniq) + 1
    bi_keys = (codes[:-1] * u + codes[1:])[same_doc] if len(codes) else codes
    bi_docs = doc_idx[:-1][same_doc] if len(codes) else doc_idx
    n_bi = np.maximum(n - 1, 0)
    top_bigram = _max_multiplicity(bi_keys, bi_docs) / np.maximum(
        n_bi, 1
    ).astype(np.float64)

    return (
        (n >= 10)
        & (n <= 100000)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (stop_ratio >= 0.06)
        & (top_word < _TOP_WORD_LT)
        & (top_bigram < _TOP_BIGRAM_LT)
    )


def gopher_filter_arrow(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composition face: rows of ``df`` where the Gopher gate keeps the
    document — ``df.filter(gopher_keep_expr(text_col))`` with the
    predicate evaluated in one columnar Arrow pass (decisions
    bit-identical; see module docstring). Schema passes through
    unchanged, so this drops into any scan stage."""
    text_idx = df.columns.index(text_col)

    def compute(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            keep = _gopher_keep_mask(batch.column(text_idx))
            yield batch.filter(pa.array(keep))

    return df.mapInArrow(compute, df.schema)


def gopher_gate_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Audit face: (id, keep) for every input row — gopher_gate's
    contract, kernel-evaluated."""
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("keep", BooleanType()),
        ]
    )
    src = df.select(id_col, text_col)

    def compute(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            keep = _gopher_keep_mask(batch.column(1))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(keep)], names=[id_col, "keep"]
            )

    return src.mapInArrow(compute, out_schema)


def hashed_bow_embedding_arrow(
    df: DataFrame, id_col: str, text_col: str, dim: int = 32
) -> DataFrame:
    """(id, vec) — deterministic document embedding: crc32-hashed
    bag-of-words bucket counts, CENTERED per document, L2-normalized.

    The cheap-but-real featurizer for semantic-dedup at corpus scale
    (feature hashing: Weinberger et al. 2009): documents sharing most
    tokens land within degrees of each other, while per-doc centering
    removes the all-counts-positive diagonal. CAVEAT the pipeline must
    handle: documents of one corpus also share the corpus
    word-frequency profile — a second common direction per-doc centering
    cannot see (measured on the 400k synth corpus: median RANDOM-pair
    cosine 0.91, one LSH bucket holding 16 % of the corpus). Any
    consumer doing angular LSH over these vectors MUST apply
    ``similarity.center_vectors`` (corpus-mean removal) first; after it,
    unrelated documents are near-orthogonal and a 0.95 threshold is a
    real semantic-dup signal with no birthday-paradox artifacts at
    10^6 docs.

    Columnar per batch: one RE2 split, dictionary-encode, crc32 over the
    VOCABULARY only (unique words), numpy scatter-add into the
    (rows × dim) count matrix. Zero-word docs keep the zero vector.
    """
    import pyarrow as pa  # noqa: F401 (schema types)
    from pyspark.sql.types import ArrayType, DoubleType

    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("vec", ArrayType(DoubleType())),
        ]
    )
    src = df.select(id_col, text_col)

    def compute(batches: Iterator) -> Iterator:
        import zlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            texts = batch.column(1)
            # split RAW text, lowercase only the vocabulary in Python:
            # utf8_lower is the simple case mapping, Python str.lower()
            # matches Spark lower()'s Java full mapping (see
            # _gopher_keep_mask) — raw spellings of one lowered word
            # hash to the same crc32 bucket, so no re-keying is needed
            wl = pc.split_pattern_regex(
                pc.fill_null(texts, ""), pattern=_WS_CLASS + "+"
            )
            if isinstance(wl, pa.ChunkedArray):
                wl = wl.combine_chunks()
            offsets = np.asarray(wl.offsets, dtype=np.int64)
            offsets = offsets - offsets[0]
            flat = wl.flatten()
            wlen = np.asarray(pc.utf8_length(flat), dtype=np.int64)
            doc_idx = np.repeat(
                np.arange(n_rows, dtype=np.int64), np.diff(offsets)
            )
            keep = wlen > 0
            doc_idx = doc_idx[keep]
            dic = flat.filter(pa.array(keep)).dictionary_encode()
            codes = np.asarray(dic.indices, dtype=np.int64)
            vocab = dic.dictionary.to_pylist()
            vb = np.fromiter(
                (zlib.crc32(w.lower().encode("utf-8")) % dim for w in vocab),
                dtype=np.int64,
                count=len(vocab),
            )
            m = np.zeros((n_rows, dim), dtype=np.float64)
            if len(codes):
                np.add.at(m, (doc_idx, vb[codes]), 1.0)
            nonzero = m.any(axis=1)
            m[nonzero] -= m[nonzero].mean(axis=1, keepdims=True)
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            np.divide(m, nrm, out=m, where=nrm > 0)
            offs = pa.array(
                np.arange(n_rows + 1, dtype=np.int64) * dim, type=pa.int32()
            )
            vec = pa.ListArray.from_arrays(
                offs, pa.array(m.ravel(), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), vec], names=[id_col, "vec"]
            )

    return src.mapInArrow(compute, out_schema)


def shingle_metrics_arrow(
    df: DataFrame,
    text_a: str = "text_a",
    text_b: str = "text_b",
    n: int = _SHINGLE_N,
    metrics: tuple = ("jaccard",),
) -> DataFrame:
    """Candidate-pair verification kernel: exact shingle-set metrics per
    row, bit-identical to the expression forms (``ngram_jaccard`` /
    ``ngram_containment`` + ``round(_, 4)``).

    Every non-text column passes through unchanged; ``text_a``/``text_b``
    are replaced by the requested metric columns (``jaccard``,
    ``cont_a_in_b``, ``cont_b_in_a``). Python set intersection over the
    distinct shingle sets is ~50-200 µs/pair where the Catalyst
    let-bound array_intersect/array_union formulation measures ~1.8 ms —
    the r7 nightly probe put 322k pair-verifies at 579 s, verify-bound,
    with the banding already kernelized. Rounding: HALF_UP at 4 decimals
    over ``repr(d)`` — the same shortest-decimal-repr semantics as
    Spark's BigDecimal.valueOf round (pinned value-exact by
    tests/test_text_kernels.py over fixtures and random pairs).

    Scale shape: pure projection over the already-joined candidate
    relation — the join that built it stays the one shuffle.
    """
    from decimal import ROUND_HALF_UP, Decimal

    for m in metrics:
        if m not in ("jaccard", "cont_a_in_b", "cont_b_in_a"):
            raise ValueError(f"unknown shingle metric {m!r}")
    passthrough = [c for c in df.columns if c not in (text_a, text_b)]
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in passthrough]
        + [StructField(m, DoubleType()) for m in metrics]
    )
    src = df.select(*passthrough, text_a, text_b)
    n_pass = len(passthrough)
    q4 = Decimal("0.0001")

    def round4(d: float) -> float:
        return float(Decimal(repr(d)).quantize(q4, rounding=ROUND_HALF_UP))

    def compute(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ta = batch.column(n_pass).to_pylist()
            tb = batch.column(n_pass + 1).to_pylist()
            cols: dict[str, list[float]] = {m: [] for m in metrics}
            for a, b in zip(ta, tb):
                sa = _shingle_set(a, n)
                sb = _shingle_set(b, n)
                inter = len(sa & sb)
                for m in metrics:
                    if m == "jaccard":
                        u = len(sa | sb)
                        d = inter / u if u else 0.0
                    elif m == "cont_a_in_b":
                        d = inter / len(sa) if sa else 0.0
                    else:
                        d = inter / len(sb) if sb else 0.0
                    cols[m].append(round4(d))
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_pass)]
                + [pa.array(cols[m], type=pa.float64()) for m in metrics],
                names=passthrough + list(metrics),
            )

    return src.mapInArrow(compute, out_schema)


def _shingle_set(text: str | None, n: int = _SHINGLE_N) -> set:
    """shingles() semantics as a Python set — derived from
    ``_shingle_bytes`` so the dedup-critical shingle definition lives in
    exactly one place (banding and pair-verify can never desync)."""
    return {b.decode("utf-8") for b in _shingle_bytes(_words(text), n)}


# Rows per Gram tile: a 256 x 256 float64 accumulator is 512 KiB, which
# stays cache-resident while the dim-step fold sweeps it.
_GRAM_TILE = 256


def cosine_bucket_pairs_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_dp: int = 5,
) -> DataFrame:
    """Bucket-blocked cosine verify: ``(id_a, id_b, cos)`` for every pair
    of rows sharing ``df.bucket`` with ``id_a < id_b`` and
    ``round(cosine(a, b), round_dp) >= threshold`` — bit-identical to the
    bucket self-join → ``F.round(similarity.cosine(a, b), dp)`` filter
    (sequential-fold dot/norms, zero denominator → 0.0, Spark HALF_UP
    round), which survives as the test-local spec.

    ``df.groupBy("bucket").applyInArrow`` hands each bucket to Python
    once, so each vector crosses the JVM→Python boundary once (a pair
    relation ships a vector of a size-b bucket b−1 times) and the stage
    runs at most ``spark.sql.shuffle.partitions`` Python tasks instead of
    inheriting an upstream partitioning (module docstring: every Python
    task pays a fixed start cost). Inside one bucket:

    * rows with a null id, a null vector or a null element are dropped —
      the spec's cosine is null for them, or its id comparison is;
    * rows are sorted by id and given a dense id rank, so ``id_a < id_b``
      is a rank comparison and equal ids never pair;
    * per vector length, each norm is the sequential fold
      ``sqrt(((0 + x0·x0) + x1·x1) + ...)`` computed once, and the Gram
      block is filled ``_GRAM_TILE`` rows at a time as
      ``acc = acc + outer(A[:, k], B[:, k])`` for k = 0…dim−1 — per pair
      the SAME left-to-right float64 fold as Catalyst's
      ``aggregate(zip_with(a, b, *), 0.0, +)`` (a BLAS matmul would sum
      pairwise and drift ULPs);
    * the threshold test is the exact HALF_UP boundary transform
      ``roundN(d) >= T  ⟺  d >= float64(T - 10^-N/2)`` (see the module's
      round-boundary derivation); only survivors get the exact
      ``Decimal(repr(d))`` HALF_UP value.

    Corners follow Spark exactly. Spark orders NaN above every double, so
    a NaN cosine passes ``>= T`` and is KEPT with ``cos = NaN``; Spark's
    ``round`` returns NaN/±Infinity unchanged. Vectors of different
    lengths have a null dot (``zip_with`` null-pads), but the spec's
    ``when(norm_a · norm_b == 0, 0.0)`` fires first, so such a pair is
    kept with ``cos = 0.0`` iff its norm product is zero and
    ``0.0 >= T``.

    Scale shape: one exchange on the bucket; a hot bucket is one
    task (its pairs are quadratic on every formulation).
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import DoubleType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos", DoubleType()),
        ]
    )
    quantum = Decimal(1).scaleb(-round_dp)
    # exact float64 image of the decimal boundary T - 10^-N/2 (repr(T)
    # re-derives the shortest decimal the Spark-side literal carries)
    boundary = float(Decimal(repr(float(threshold))) - quantum / 2)
    zero_passes = 0.0 >= boundary

    def round_dp_exact(d: float) -> float:
        if not math.isfinite(d):
            return d  # Spark Round passes NaN/±Inf through unchanged
        q = Decimal(repr(d)).quantize(quantum, rounding=ROUND_HALF_UP)
        return float(q) + 0.0  # BigDecimal has no -0: Spark rounds -1e-9 to 0.0

    def tiles(n):
        """(rows, cols) slice pairs covering the upper block triangle."""
        for i0 in range(0, n, _GRAM_TILE):
            for j0 in range(i0, n, _GRAM_TILE):
                yield slice(i0, i0 + _GRAM_TILE), slice(j0, j0 + _GRAM_TILE)

    def fold_gram(a, b):
        """acc[i, j] = ((0 + a_i0·b_j0) + a_i1·b_j1) + ... over one tile."""
        import numpy as np

        acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for k in range(a.shape[1]):
            acc += np.multiply.outer(a[:, k], b[:, k])
        return acc

    def verify(table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        ids = table.column(id_col).combine_chunks()
        vecs = table.column(vec_col).combine_chunks()
        offs = np.asarray(vecs.offsets, dtype=np.int64)
        values = vecs.values
        vnull = np.concatenate(
            [[0], np.cumsum(np.asarray(values.is_null(), dtype=np.int64))]
        )
        valid = (
            np.asarray(ids.is_valid())
            & np.asarray(vecs.is_valid())
            & (vnull[offs[1:]] == vnull[offs[:-1]])
        )
        rows = np.flatnonzero(valid)
        rows = rows[np.asarray(pc.sort_indices(ids.take(pa.array(rows))))]
        sid = ids.take(pa.array(rows))
        # dense id rank: equal ids share a rank, so rank_a < rank_b is
        # exactly the spec's id_a < id_b
        rank = np.zeros(len(rows), dtype=np.int64)
        if len(rows) > 1:
            rank[1:] = np.cumsum(
                ~np.asarray(pc.equal(sid[1:], sid[:-1]), dtype=bool)
            )
        vals = np.asarray(values.to_numpy(zero_copy_only=False), dtype=np.float64)
        starts, lens = offs[rows], offs[rows + 1] - offs[rows]
        norms = np.zeros(len(rows), dtype=np.float64)
        empty = np.zeros(0, dtype=np.int64)
        pa_idx, pb_idx, cos_out = [empty], [empty], [np.zeros(0)]

        def keep(pos_a, pos_b, cos, mask):
            ia, ib = np.nonzero(mask)
            pa_idx.append(pos_a[ia])
            pb_idx.append(pos_b[ib])
            cos_out.append(cos[ia, ib])

        for length in np.unique(lens):
            pos = np.flatnonzero(lens == length)
            m = vals[starts[pos, None] + np.arange(length)]
            acc = np.zeros(len(pos), dtype=np.float64)
            for k in range(length):
                acc = acc + m[:, k] * m[:, k]
            nrm = np.sqrt(acc)
            norms[pos] = nrm
            for ti, tj in tiles(len(pos)):
                d = np.multiply.outer(nrm[ti], nrm[tj])
                cos = np.zeros_like(d)
                np.divide(fold_gram(m[ti], m[tj]), d, out=cos, where=d != 0)
                # Spark orders NaN above every double, so NaN >= T is TRUE
                # there; numpy NaN comparisons are False
                mask = (cos >= boundary) | np.isnan(cos)
                mask &= np.less.outer(rank[pos[ti]], rank[pos[tj]])
                keep(pos[ti], pos[tj], cos, mask)
        if zero_passes:
            # different lengths: null dot, but a zero norm product → 0.0
            every = np.arange(len(rows))
            for ti, tj in tiles(len(rows)):
                d = np.multiply.outer(norms[ti], norms[tj])
                mask = (
                    (d == 0)
                    & np.not_equal.outer(lens[ti], lens[tj])
                    & np.less.outer(rank[ti], rank[tj])
                )
                keep(every[ti], every[tj], np.zeros_like(d), mask)
        cos = [round_dp_exact(float(c)) for c in np.concatenate(cos_out)]
        return pa.table(
            [
                sid.take(pa.array(np.concatenate(pa_idx))),
                sid.take(pa.array(np.concatenate(pb_idx))),
                pa.array(cos, type=pa.float64()),
            ],
            names=["id_a", "id_b", "cos"],
        )

    return (
        df.select("bucket", id_col, vec_col)
        .groupBy("bucket")
        .applyInArrow(verify, out_schema)
    )
