r"""Arrow-native extraction: ``mapInArrow`` + pyarrow C++ kernels.

The purest form of the input_hint's "vectorized pandas/Arrow UDFs, no
per-row Python": record batches flow Spark→Arrow with zero conversion,
normalization and word counting run in pyarrow's RE2-backed C++ kernels
over the *flattened* span child arrays (one contiguous string array for
the whole batch — never per-row), the block-fusion classifier is numpy
over primitive arrays, and the output list array is rebuilt from offsets.

Per-row Python survives in exactly one place: anchor-content word
counting (Python ``findall``) for the ~15 % of spans that contain ``<a``
(RE2 kernels cannot extract *all* group matches); everything else is
columnar.

This is the production extraction path: ``entry()``, ``convert_batch``
and the registry's extraction queries all run it. Each Spark
python-worker is a separate OS process with its own heap, so the
extraction compute never shares an allocator across cores, the
contention that limits the single-JVM plan's scaling (BENCH/BASELINE.md);
on a 4-vCPU host it runs ~1.75× faster than ``pipeline.extract_narrow``,
which stays as the all-JVM spec. Both are span-sequence-equal to the
oracle (tests/test_extract.py, tests/test_property.py).

Whitespace is the ASCII set ``textnorm._WS_CHARS`` everywhere, spelled
out rather than written ``\s``: RE2's ``\s`` lacks ``\x0B``, which
Java's ``\s``, the oracle and the JVM plan all treat as whitespace.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ktpm___ocr_spark.corpus import DOCUMENTS_SCHEMA
from ktpm___ocr_spark.oracle import (
    ANCHOR_RE_PATTERN,
    CURR_LINK_DENSITY_MAX,
    PREV_LINK_DENSITY_MAX,
    WORD_RE_PATTERN,
)
from ktpm___ocr_spark.textnorm import _WS_CHARS

__all__ = ["extract_arrow_native"]

# WORD_RE_PATTERN (\S+) for RE2, with the Java/oracle whitespace set
_WORD_RE2 = f"[^{_WS_CHARS}]+"


def extract_arrow_native(
    df: DataFrame, variant: str = "pdf", boilerplate: str = "drop"
) -> DataFrame:
    if boilerplate not in ("drop", "relabel"):
        raise ValueError(f"unknown boilerplate mode {boilerplate!r}")
    collapse_pat = r"\n{2,}" if variant == "pdf" else r"\n{3,}"
    if variant not in ("pdf", "txt"):
        raise ValueError(f"unknown variant {variant!r}")
    relabel = boilerplate == "relabel"

    def process(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        # ASCII-pinned like the other paths (textnorm.py)
        anchor_re = re.compile(ANCHOR_RE_PATTERN, re.ASCII)
        word_re = re.compile(WORD_RE_PATTERN, re.ASCII)

        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            doc_ids = batch.column("doc_id")
            spans = batch.column("spans")
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            # ListArray may carry an offset slice; normalize to flat view.
            la = spans
            list_offsets = np.asarray(la.offsets)  # len n_rows+1
            base = list_offsets[0]
            flat = la.flatten()  # struct child values, re-based at 0
            list_offsets = list_offsets - base

            kind = flat.field("kind")
            text = flat.field("text")
            mref = flat.field("media_ref")
            offs = np.asarray(flat.field("offset"), dtype=np.int64)
            n_spans = len(flat)
            counts = np.diff(list_offsets)
            doc_idx = np.repeat(np.arange(n_rows), counts)

            # ---- per-doc sort by offset (span-sequence invariant)
            order = np.lexsort((offs, doc_idx))
            take = pa.array(order)
            kind, text, mref = (
                kind.take(take),
                text.take(take),
                mref.take(take),
            )
            offs = offs[order]

            media = np.asarray(
                pc.fill_null(pc.equal(kind, "media"), False)
            ).astype(bool)

            # ---- normalization: two RE2 passes + a trim over ONE array
            norm = pc.replace_substring_regex(text, pattern=r"\r\n?", replacement="\n")
            norm = pc.replace_substring_regex(norm, pattern=collapse_pat, replacement="\n\n")
            norm = pc.utf8_trim(norm, characters=_WS_CHARS)
            # media spans carry no text; text spans carry no media_ref
            media_pa = pa.array(media)
            norm = pc.if_else(media_pa, pa.nulls(n_spans, pa.string()), norm)
            mref = pc.if_else(media_pa, mref, pa.nulls(n_spans, pa.string()))

            # ---- features: C++ word count; Python only for anchor spans
            words = np.asarray(
                pc.fill_null(pc.count_substring_regex(norm, pattern=_WORD_RE2), 0),
                dtype=np.int64,
            )
            has_anchor = np.asarray(
                pc.fill_null(pc.match_substring(norm, "<a"), False)
            ).astype(bool)
            link_words = np.zeros(n_spans, dtype=np.int64)
            if has_anchor.any():
                norm_py = norm.to_pylist()
                for j in np.flatnonzero(has_anchor):
                    link_words[j] = sum(
                        len(word_re.findall(m)) for m in anchor_re.findall(norm_py[j])
                    )
            ld = np.where(words > 0, link_words / np.maximum(words, 1), 0.0)

            # ---- block fusion via shifts + doc-boundary fixups
            pw = np.concatenate(([0], words[:-1]))
            pld = np.concatenate(([0.0], ld[:-1]))
            nw = np.concatenate((words[1:], [0]))
            first = np.concatenate(([True], doc_idx[1:] != doc_idx[:-1]))
            last = np.concatenate((doc_idx[:-1] != doc_idx[1:], [True]))
            pw[first], pld[first], nw[last] = 0, 0.0, 0
            keep = np.where(
                ld > CURR_LINK_DENSITY_MAX,
                False,
                np.where(
                    pld <= PREV_LINK_DENSITY_MAX,
                    (words > 16) | (nw > 15) | (pw > 4),
                    (words > 40) | (nw > 17),
                ),
            )

            # ---- rebuild the list array from kept indices + counts
            if relabel:
                kind = pc.if_else(
                    pa.array(media | keep), kind, pa.scalar("boilerplate")
                )
                emit_idx = np.arange(n_spans)
                kept_per_doc = counts
            else:
                emit = media | keep
                emit_idx = np.flatnonzero(emit)
                kept_per_doc = np.bincount(
                    doc_idx[emit_idx], minlength=n_rows
                )
            sel = pa.array(emit_idx)
            out_struct = pa.StructArray.from_arrays(
                [
                    kind.take(sel),
                    norm.take(sel),
                    mref.take(sel),
                    pa.array(offs[emit_idx], type=pa.int32()),
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            out_offsets = pa.array(
                np.concatenate(([0], np.cumsum(kept_per_doc))), type=pa.int32()
            )
            out_spans = pa.ListArray.from_arrays(out_offsets, out_struct)
            yield pa.RecordBatch.from_arrays(
                [doc_ids, out_spans], names=["doc_id", "spans"]
            )

    # only the two columns the kernel reads cross into Python; doc_id
    # passes through untouched, so it keeps the input's type
    df = df.select("doc_id", "spans")
    schema = T.StructType([df.schema["doc_id"], DOCUMENTS_SCHEMA["spans"]])
    return df.mapInArrow(process, schema=schema)
