"""Spark-free pins for the byte-level text scans in operators/text_kernels.py.

``scan_words`` reads a pyarrow string array's offsets and UTF-8 bytes
directly; every text kernel (extraction word counts, the Gopher gate,
the embedding, the banding) takes its words from it. It must equal the
definitions it replaces: RE2 ``count_substring_regex`` /
``split_pattern_regex`` over ``textnorm._WS_CHARS``, ``oracle.word_count``
and ``text_kernels._words``. The lowering, signature and mode-count
helpers are pinned against plain-Python specs, including a vocabulary
far wider than the benchmark corpus's.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ktpm___ocr_spark import oracle
from ktpm___ocr_spark.operators import dedup as dd
from ktpm___ocr_spark.operators import text_kernels as tk
from ktpm___ocr_spark.textnorm import _WS_CHARS

# each _WS_CHARS character, the non-ASCII spaces that are content (NBSP,
# LINE SEPARATOR, NEL), NUL, multi-byte letters, and the two letters whose
# full case mapping differs from the simple one
ALPHABET = list(_WS_CHARS) + [
    " ", " ", "\u0085", "\x00", "a", "B", "é", "東", "\U0001f680",
    "İ", "Σ", "ς",
]
WORD_RE2 = f"[^{_WS_CHARS}]+"

texts_st = st.lists(
    st.one_of(st.none(), st.text(alphabet=ALPHABET, max_size=40)), max_size=30
)


def _sliced(texts: list, lead: list, tail: list):
    """``texts`` as a slice of a larger array (offset ≠ 0 when ``lead``)."""
    full = pa.array(lead + texts + tail, pa.string())
    return full.slice(len(lead), len(texts))


def _re2_counts(arr) -> list[int]:
    return pc.fill_null(pc.count_substring_regex(arr, pattern=WORD_RE2), 0).to_pylist()


def _raw_words(texts) -> list[str]:
    return [w for t in texts if t for w in tk._SPLIT_RE.split(t) if w]


def test_ws_bytes_is_ws_chars():
    b = np.arange(256, dtype=np.uint8)
    want = np.array([chr(i) in _WS_CHARS for i in range(256)])
    assert (tk._ws_bytes(b) == want).all()


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=texts_st, lead=texts_st, tail=texts_st, step=st.sampled_from([1, 3, 64, 1 << 20]))
def test_scan_words_equals_re2_and_oracle(texts, lead, tail, step):
    arr = _sliced(texts, lead, tail)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tk, "_SCAN_BYTES", step)  # steps of a few bytes
        counts, words = tk.scan_words(arr)
        only_counts, none = tk.scan_words(arr, words=False)
    assert counts.tolist() == _re2_counts(arr)
    assert counts.tolist() == [oracle.word_count(t) for t in texts]
    assert words.to_pylist() == _raw_words(texts)
    split = pc.split_pattern_regex(pc.fill_null(arr, ""), pattern=f"[{_WS_CHARS}]+")
    flat = split.flatten()
    assert words.equals(flat.filter(pc.greater(pc.utf8_length(flat), 0)))
    # Arrow-then-Python lowering is str.lower; the lowered-vocabulary
    # codes spell exactly text_kernels._words
    assert tk._lowered(words).to_pylist() == [w.lower() for w in _raw_words(texts)]
    codes, vocab = tk._lowered_codes(words)
    assert vocab.take(pa.array(codes, pa.int64())).to_pylist() == [
        w for t in texts for w in tk._words(t)
    ]
    assert none is None and only_counts.tolist() == counts.tolist()


def test_scan_words_degenerate_rows():
    cases = [[], [None], [""], [None, "", "  "], ["\t\n\x0b\f\r "] * 3, ["a", None, "b"]]
    for texts in cases:
        arr = pa.array(texts, pa.string())
        counts, words = tk.scan_words(arr)
        assert counts.tolist() == [oracle.word_count(t) for t in texts]
        assert words.to_pylist() == _raw_words(texts)


def test_scan_words_ignores_bytes_under_a_null():
    """Arrow lets a null slot own bytes; they are not words."""
    offsets = np.array([0, 3, 8, 10], dtype=np.int32)
    validity = pa.array([True, False, True]).buffers()[1]
    arr = pa.Array.from_buffers(
        pa.string(), 3,
        [validity, pa.py_buffer(offsets), pa.py_buffer(b"ab hid exy")],
    )
    assert arr.to_pylist() == ["ab ", None, "xy"]
    counts, words = tk.scan_words(arr)
    assert counts.tolist() == [1, 0, 1]
    assert words.to_pylist() == ["ab", "xy"]


def test_scan_words_large_string_and_chunked():
    texts = ["x y", None, " z "]
    big = pa.array(texts, pa.large_string())
    assert tk.scan_words(big)[0].tolist() == [2, 0, 1]
    chunked = pa.chunked_array([pa.array(texts[:2]), pa.array(texts[2:])])
    assert tk.scan_words(chunked)[1].to_pylist() == ["x", "y", "z"]
    raw = ["Ab", "İN", "ΟΔΟΣ"]
    low = tk._lowered(pa.array(raw, pa.large_string()))
    assert low.type == pa.large_string()
    assert low.to_pylist() == [w.lower() for w in raw]


# --------------------------------------------- mode counts and signatures


def test_max_multiplicity_composite_key_equals_lexsort_fallback():
    rng = np.random.default_rng(5)
    n_rows = 40
    docs = np.sort(rng.integers(0, n_rows, 3000))
    a, b = rng.integers(0, 7, 3000), rng.integers(0, 7, 3000)
    for cols in ([a], [a, b]):
        packed = tk._max_multiplicity(docs, cols, 7, n_rows)
        # a base this wide cannot pack: the lexsort fallback runs
        assert tk._composite_key([docs, *cols], 1 << 62) is None
        fallback = tk._max_multiplicity(docs, cols, 1 << 62, n_rows)
        want = np.zeros(n_rows, dtype=np.int64)
        for d in range(n_rows):
            keys = list(zip(*(c[docs == d].tolist() for c in cols)))
            want[d] = max((keys.count(k) for k in set(keys)), default=0)
        assert packed.tolist() == fallback.tolist() == want.tolist()


SALTS = [np.uint64(s) for s in dd.MINHASH_PERM_SALTS]


def _signature_spec(texts) -> np.ndarray:
    """Per row: min over its distinct shingles of (60-bit sha ^ salt)."""
    out = []
    for t in texts:
        hs = np.array(
            [
                int.from_bytes(hashlib.sha256(s).digest()[:8], "big") >> 4
                for s in tk._shingle_bytes(tk._words(t))
            ],
            dtype=np.uint64,
        )
        out.append(np.bitwise_xor.outer(hs, np.array(SALTS)).min(axis=0))
    return np.array(out, dtype=np.uint64)


@pytest.mark.parametrize("chunk", [1, 5, 1 << 21])
def test_minhash_signatures_equal_spec_short_docs(chunk):
    """Docs with 0, 1 and 2 words keep the whole-text shingle, wherever
    a chunk boundary falls."""
    rng = random.Random(11)
    vocab = ["a", "B", "İn", "ΣΑΣ", "the", "x y"]
    texts = [None, "", " \t ", "solo", " Two  words ", "a b c", "A b C a B c"]
    texts += [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 9)))
        for _ in range(60)
    ]
    got = tk._minhash_signatures(pa.array(texts, pa.string()), SALTS, chunk)
    assert (got == _signature_spec(texts)).all()


def test_minhash_signatures_wide_vocabulary():
    """More than 2^21 distinct words, nearly all shingles distinct."""
    n_words = (1 << 21) + 64
    words = np.char.add("w", np.arange(n_words).astype(str))
    per_doc = 512
    texts = [
        " ".join(words[i : i + per_doc].tolist())
        for i in range(0, n_words, per_doc)
    ]
    texts[3] = texts[3].upper()  # raw spellings lower onto other words
    texts += [texts[0], "", "one", "one two"]
    got = tk._minhash_signatures(pa.array(texts, pa.string()), SALTS)
    rows = sorted({*range(0, len(texts), 37), 3, *range(len(texts) - 4, len(texts))})
    assert (got[rows] == _signature_spec([texts[i] for i in rows])).all()
