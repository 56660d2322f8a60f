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

Every text kernel here, and the extraction kernel, takes its words from
one byte scan, :func:`scan_words`: the runs of non-``_WS_CHARS`` bytes
found from a string array's offsets and UTF-8 buffer, in bounded steps,
returned as per-row counts and one compacted ``StringArray``
(tests/test_word_scan.py pins it to RE2, ``oracle.word_count`` and
:func:`_words`). ASCII words are lowered in Arrow and the distinct
non-ASCII ones in Python (:func:`_lowered`); the gate and the embedding
key them on the lowered batch vocabulary (:func:`_lowered_codes`), so
their per-word work is numpy over int codes.

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


# ---------------------------------------------------------------------------
# Byte-level word scan
# ---------------------------------------------------------------------------

# Text bytes per scan step: bounds the scan's byte masks (a few bytes of
# transient per text byte) whatever the batch size; a longer row is one step.
_SCAN_BYTES = 1 << 20


def _ws_bytes(b):
    """Bool mask of the ``_WS_CHARS`` bytes (0x09–0x0D and 0x20) in the
    uint8 array ``b``: two compares over the bytes, ~3× faster than a
    256-entry lookup-table gather (pinned to ``_WS_CHARS`` by
    tests/test_word_scan.py)."""
    import numpy as np

    return (b == 32) | ((b - np.uint8(9)) < 5)


def _string_buffers(texts):
    """``(offs, data)``: a pyarrow string array's row offsets (int64,
    ``n + 1``, slice offset applied) and its UTF-8 data buffer (uint8),
    both zero-copy views. A null row that owns bytes (Arrow allows it)
    is rewritten to ``""`` first, so no scan sees bytes under a null."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n = len(texts)
    if n == 0:
        return np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    off_t = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    bufs = texts.buffers()
    offs = np.frombuffer(
        bufs[1], off_t, n + 1, texts.offset * np.dtype(off_t).itemsize
    ).astype(np.int64)
    if texts.null_count and (
        np.diff(offs)[~np.asarray(texts.is_valid())] > 0
    ).any():
        return _string_buffers(pc.fill_null(texts, ""))
    if bufs[2] is None:
        return offs, np.zeros(0, dtype=np.uint8)
    return offs, np.frombuffer(bufs[2], np.uint8)


def _row_steps(offs, step: int):
    """``(r0, r1)`` row ranges covering every row of the row offsets
    ``offs``, each ending on the first row boundary after it holds
    ``step`` units: the scans below work one range at a time, so their
    transient arrays stay bounded."""
    import numpy as np

    marks = np.arange(offs[0], offs[-1], step)
    cuts = np.unique(
        np.r_[0, np.searchsorted(offs, marks, "right") - 1, len(offs) - 1]
    )
    return zip(cuts[:-1].tolist(), cuts[1:].tolist())


def scan_words(texts, words: bool = True):
    """``(counts, words)`` for a pyarrow string array: per row, the number
    of maximal runs of non-``_WS_CHARS`` characters (``oracle.word_count``,
    RE2 ``count_substring_regex([^ws]+)``); and, with ``words``, those runs
    in row order as one ``StringArray`` (``_words`` without the lower:
    RE2 ``split_pattern_regex`` minus its empty pieces). Null rows have
    no words.

    A byte scan over the offsets and UTF-8 data buffer: every byte of a
    multi-byte UTF-8 character is ≥ 0x80, so no such byte is ASCII
    whitespace, and the runs of non-whitespace bytes are exactly the runs
    of non-whitespace characters. Words start where a non-whitespace
    byte follows whitespace or a row start, and end where one precedes
    whitespace or a row end. The data is scanned in :func:`_row_steps`.
    The words' data buffer is the non-whitespace bytes, compacted once;
    the array is built over it without a copy."""
    import numpy as np
    import pyarrow as pa

    offs, data = _string_buffers(texts)
    counts = np.zeros(len(offs) - 1, dtype=np.int64)
    lens, body = [], []
    for r0, r1 in _row_steps(offs, _SCAN_BYTES):
        lo = offs[r0]
        b = data[lo : offs[r1]]
        row_lo = offs[r0:r1] - lo
        row_hi = offs[r0 + 1 : r1 + 1] - lo
        nonempty = np.flatnonzero(row_hi > row_lo)
        if len(nonempty) == 0:
            continue
        ws = _ws_bytes(b)
        # ext[i] = ws[i-1], with a virtual whitespace byte at both ends
        ext = np.empty(len(b) + 2, dtype=bool)
        ext[0] = ext[-1] = True
        ext[1:-1] = ws
        prev = ext[:-2].copy()
        prev[row_lo[nonempty]] = True  # a row start follows "whitespace"
        start = np.less(ws, prev)
        # rows are contiguous, so the bytes from one non-empty row's
        # start to the next one's are exactly that row's bytes
        counts[r0 + nonempty] = np.add.reduceat(
            start.view(np.int8), row_lo[nonempty], dtype=np.int64
        )
        if words:
            nxt = ext[2:].copy()
            nxt[row_hi[nonempty] - 1] = True  # and a row end precedes it
            end = np.flatnonzero(np.less(ws, nxt)) + 1
            lens.append(end - np.flatnonzero(start))
            body.append(b[~ws])
    if not words:
        return counts, None
    n_words = int(counts.sum())
    woffs = np.zeros(n_words + 1, dtype=np.int64)
    if n_words:
        np.cumsum(np.concatenate(lens), out=woffs[1:])
    large = woffs[-1] > np.iinfo(np.int32).max
    woffs = woffs if large else woffs.astype(np.int32)
    data_out = np.concatenate(body) if body else np.zeros(0, np.uint8)
    return counts, pa.Array.from_buffers(
        pa.large_string() if large else pa.string(),
        n_words,
        [None, pa.py_buffer(woffs), pa.py_buffer(data_out)],
    )


def _lowered(words):
    """The words of a ``StringArray``, each lowered as Python
    ``str.lower`` does (Spark's ``lower()``).

    ASCII words lower in Arrow (``ascii_lower`` is exact on them); only
    the distinct non-ASCII words lower in Python. pc.utf8_lower is
    utf8proc's SIMPLE per-codepoint mapping, while Spark's lower() is
    Java full case mapping (İ → 'i'+U+0307, final sigma, …); Python
    str.lower() matches Java on every divergent case (probed: İN, ΟΔΟΣ,
    ΣΣ, ẞ, ǅ…). Case mapping never creates or destroys whitespace, so
    split-then-lower ≡ the expression's lower-then-split, and per-token
    lowering keeps the Final_Sigma context: token boundaries are
    whitespace (uncased) on both sides."""
    import pyarrow as pa
    import pyarrow.compute as pc

    low = pc.ascii_lower(words)
    other = pc.invert(pc.string_is_ascii(words))
    if other.true_count:
        raw = words.filter(other).dictionary_encode()
        lowered = pa.array(
            [w.lower() for w in raw.dictionary.to_pylist()], words.type
        )
        low = pc.replace_with_mask(low, other, lowered.take(raw.indices))
    return low


def _lowered_codes(words):
    """``(codes, vocab)``: each word's int64 index into ``vocab``, the
    batch's distinct :func:`_lowered` spellings (a ``StringArray``),
    lowering the raw vocabulary only. Keying on the lowered identity
    makes distinct raw spellings of one lowered word the same word."""
    import numpy as np

    raw = words.dictionary_encode()
    low = _lowered(raw.dictionary).dictionary_encode()
    codes = np.asarray(low.indices, dtype=np.int64)[
        np.asarray(raw.indices, dtype=np.int64)
    ]
    return codes, low.dictionary


def _composite_key(cols, base: int):
    """One int64 key ``((c0·base + c1)·base + c2)…`` per row of the
    non-negative int64 columns ``cols`` (``cols[1:]`` each < ``base``),
    or None when the largest key would not fit in int64: then the caller
    falls back to a multi-column sort."""
    c0 = cols[0]
    lead = int(c0.max()) + 1 if len(c0) else 1
    if lead * base ** (len(cols) - 1) > 1 << 63:
        return None
    key = c0
    for c in cols[1:]:
        key = key * base + c
    return key


def _shingle_bytes(ws: list[str], n: int = _SHINGLE_N) -> list[bytes]:
    """Distinct word n-gram shingles (utf-8); short texts fall back to
    one whole-text shingle — dedup.shingles semantics exactly
    (including the '' shingle for an empty word list)."""
    if len(ws) >= n:
        sh = {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
    else:
        sh = {" ".join(ws)}
    return [s.encode("utf-8") for s in sh]


def _sha60(shingles):
    """uint64 ``sha256(s)[:8]`` big-endian shifted right 4 bits for each
    value of a string array, hashing each distinct value once (Arrow
    ``dictionary_encode``) straight from slices of its data buffer."""
    import numpy as np

    d = shingles.dictionary_encode()
    offs, data = _string_buffers(d.dictionary)
    data, sha = data.tobytes(), hashlib.sha256
    offs = offs.tolist()
    dig = b"".join([sha(data[a:b]).digest()[:8] for a, b in zip(offs, offs[1:])])
    uh = np.frombuffer(dig, dtype=">u8").astype(np.uint64) >> np.uint64(4)
    return uh[np.asarray(d.indices, dtype=np.int64)]


def _minhash_signatures(texts, salts, chunk_shingles: int = 1 << 21):
    """(rows × k) uint64 minhash signatures of a pyarrow string array:
    per row and salt, ``min(h(shingle) ^ salt)`` over the row's distinct
    shingles (``_shingle_bytes(_words(text))``), where ``h`` is the first
    8 bytes of sha256 big-endian shifted right 4 bits.

    Columnar per chunk of rows: the lowered words (:func:`scan_words`,
    :func:`_lowered`) are joined into each row's 3-gram shingles,
    or its whole-text shingle when it has fewer than 3 words (``''`` for
    none), and ``sha256`` runs once per distinct shingle of the chunk
    (Arrow ``dictionary_encode``). Repeats within a row need no dedup:
    min is idempotent. The per-row min runs per salt as
    ``minimum.reduceat(H ^ salt)`` at row starts, so no (shingles × k)
    matrix exists. Chunks end at row boundaries once they hold
    ``chunk_shingles`` shingles, which bounds the per-shingle arrays of
    a batch of mega-docs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = _SHINGLE_N
    counts, words = scan_words(texts)
    low = _lowered(words)
    n_sh = np.where(counts >= n, counts - (n - 1), 1)
    row_w = np.r_[0, np.cumsum(counts)]
    row_sh = np.r_[0, np.cumsum(n_sh)]
    sig = np.empty((len(counts), len(salts)), dtype=np.uint64)

    for r0, r1 in _row_steps(row_sh, chunk_shingles):
        w = low.slice(row_w[r0], row_w[r1] - row_w[r0])
        cnt = counts[r0:r1]
        # a 3-gram starts at word i iff words i..i+2 are in i's row
        row_end = np.repeat(np.cumsum(cnt), cnt)
        at = np.flatnonzero(np.arange(len(w)) + (n - 1) < row_end)
        short = np.flatnonzero(cnt < n)
        whole = pa.ListArray.from_arrays(
            pa.array(row_w[r0 : r1 + 1] - row_w[r0], pa.int32()), w
        ).take(pa.array(short))
        # every row has ≥ 1 shingle, so reduceat segments are non-empty
        starts = row_sh[r0:r1] - row_sh[r0]
        hs = np.empty(row_sh[r1] - row_sh[r0], dtype=np.uint64)
        tri = np.ones(len(hs), dtype=bool)
        tri[starts[short]] = False
        hs[tri] = _sha60(
            pc.binary_join_element_wise(*[w.take(pa.array(at + j)) for j in range(n)], " ")
        )
        hs[starts[short]] = _sha60(pc.binary_join(whole, " "))
        for j, salt in enumerate(salts):
            sig[r0:r1, j] = np.minimum.reduceat(hs ^ salt, starts)
    return sig


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

    Per batch, :func:`_minhash_signatures` hashes each batch-distinct
    shingle once (the measured floor of the old k-sha definition was
    ~16× one sha per shingle — dedup.py module docstring) and takes the
    per-row mins per salt in numpy, bounded by ``chunk_shingles``
    shingles per step. ``digest()[:8]`` big-endian shifted right 4 bits
    == the first 15 hex chars parsed as int64, the same value both
    Catalyst (``conv(substring(sha2,1,15),16,10)``) and DuckDB
    (``('0x' || substr(sha256,1,15))::BIGINT``) compute. The band hash is
    ``substr(sha256(concat_ws(0x1f, decimal-strings)), 1, 16)``,
    identical across all three formulations.

    Scale shape: embarrassingly parallel projection + explode (bands
    rows out per doc); no shuffle here — the consumer's band-bucket
    aggregation is where the one shuffle lives.
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

        salts = [np.uint64(s) for s in MINHASH_PERM_SALTS[:k]]
        for batch in batches:
            if batch.num_rows == 0:
                continue
            sig = _minhash_signatures(batch.column(1), salts, chunk_shingles)
            bhash = [
                sha(
                    "\x1f".join(map(str, sig_row[b * rows : (b + 1) * rows]))
                    .encode("utf-8")
                ).hexdigest()[:_BAND_HEX]
                for sig_row in sig.tolist()
                for b in range(bands)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(
                        pa.array(np.repeat(np.arange(batch.num_rows), bands))
                    ),
                    pa.array(np.tile(np.arange(bands), batch.num_rows), pa.int32()),
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


def _max_multiplicity(docs, cols, base: int, n_rows: int):
    """Per-doc max multiplicity of the key tuple ``cols`` (int64 columns,
    each < ``base``) among the positions of doc ``docs`` — the run-length
    form of _top_frac_inrow's sort+fold, vectorized. Sorts one composite
    int64 key ``doc·base^len(cols) + …`` when it fits, else lexsorts the
    columns (the same runs either way)."""
    import numpy as np

    best = np.zeros(n_rows, dtype=np.int64)
    if len(docs) == 0:
        return best
    key = _composite_key([docs, *cols], base)
    if key is not None:
        key = np.sort(key)
        brk = key[1:] != key[:-1]
        sd = key // base ** len(cols)
    else:
        order = np.lexsort((*cols[::-1], docs))
        sd = docs[order]
        brk = sd[1:] != sd[:-1]
        for c in cols:
            sc = c[order]
            brk |= sc[1:] != sc[:-1]
    run_start = np.flatnonzero(np.r_[True, brk])
    run_len = np.diff(np.r_[run_start, len(sd)])
    run_doc = sd[run_start]
    grp_start = np.flatnonzero(np.r_[True, run_doc[1:] != run_doc[:-1]])
    best[run_doc[grp_start]] = np.maximum.reduceat(run_len, grp_start)
    return best


def _gopher_keep_mask(texts):
    """numpy bool mask of gopher_keep_expr decisions for a pyarrow
    string array — fully columnar (byte word scan + lowered-vocabulary
    codes + sorted-key mode counting; no per-row Python)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ktpm___ocr_spark.functions.textstats import EN_STOPWORDS

    n_rows = len(texts)
    n, words = scan_words(texts)
    doc_idx = np.repeat(np.arange(n_rows, dtype=np.int64), n)
    codes, vocab = _lowered_codes(words)
    # full mapping can change codepoint count: lengths of LOWERED words
    wlen = np.asarray(pc.utf8_length(vocab), dtype=np.int64)[codes]

    sum_len = np.bincount(doc_idx, weights=wlen, minlength=n_rows)
    safe_n = np.maximum(n, 1).astype(np.float64)
    mean_len = sum_len / safe_n  # n==0 rows fail the length gate anyway

    is_stop = np.asarray(
        pc.is_in(vocab, value_set=pa.array(EN_STOPWORDS, pa.string())),
        dtype=np.float64,
    )
    n_stop = np.bincount(doc_idx, weights=is_stop[codes], minlength=n_rows)
    stop_ratio = n_stop / safe_n

    u = len(vocab)
    top_word = _max_multiplicity(doc_idx, [codes], u, n_rows) / safe_n

    same_doc = doc_idx[:-1] == doc_idx[1:]
    bi_cols = [codes[:-1][same_doc], codes[1:][same_doc]]
    n_bi = np.maximum(n - 1, 0)
    top_bigram = _max_multiplicity(
        doc_idx[:-1][same_doc], bi_cols, u, n_rows
    ) / np.maximum(n_bi, 1).astype(np.float64)

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

    Columnar per batch: one byte word scan (:func:`scan_words`),
    dictionary-encode, crc32 over the lowered VOCABULARY only (unique
    words), numpy scatter-add into the (rows × dim) count matrix. Zero-word docs keep the zero vector.
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

        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            counts, words = scan_words(batch.column(1))
            doc_idx = np.repeat(np.arange(n_rows, dtype=np.int64), counts)
            # raw spellings of one lowered word share a code, hence a
            # crc32 bucket (Python lower = Spark's full case mapping)
            codes, vocab = _lowered_codes(words)
            vb = np.fromiter(
                (zlib.crc32(w.encode("utf-8")) % dim for w in vocab.to_pylist()),
                dtype=np.int64,
                count=len(vocab),
            )
            m = np.bincount(
                doc_idx * dim + vb[codes], minlength=n_rows * dim
            ).astype(np.float64).reshape(n_rows, dim)
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
