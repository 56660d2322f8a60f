"""Text normalization — the single source of truth.

The reference implements two intentionally-different newline-collapse
variants (reference ``backend/filters/pdfFilter.js:45-49`` collapses runs
of 2+ newlines; ``backend/filters/txtFilter.js:43-47`` collapses runs of
3+), both preceded by CRLF/CR → LF and followed by a full-whitespace trim.

This module defines those semantics ONCE, in two parallel forms that are
asserted equal by tests:

* pure-Python (used by the oracle in :mod:`ktpm___ocr_spark.oracle` and by
  the Arrow/pandas UDF execution path), and
* Spark ``Column`` expressions built from JVM-side builtins
  (``regexp_replace``), so the hot path stays inside whole-stage codegen —
  no Python in the default plan.

The regex patterns are deliberately restricted to syntax with identical
semantics in Python ``re`` and Java ``java.util.regex``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Pattern constants — shared verbatim between Python and Spark.
_CRLF = r"\r\n?"  # \r\n or lone \r  → \n
_PDF_COLLAPSE = r"\n{2,}"  # pdfFilter.js:47  — 2+ newlines → exactly two
_TXT_COLLAPSE = r"\n{3,}"  # txtFilter.js:45  — 3+ newlines → exactly two
_TRIM = r"^\s+|\s+$"  # full-whitespace trim (JS String.trim analogue)

# Whitespace semantics are pinned to ASCII (Java's default \s ≡
# [ \t\n\x0B\f\r]): the engine's hot path runs Java regex / btrim, so the
# Python mirrors compile with re.ASCII — otherwise Python's Unicode-aware
# \s would treat NBSP ( ) / LINE SEPARATOR ( ) as trimmable and
# the "span-sequence-equal" paths would diverge on non-ASCII
# whitespace. NBSP et al. are deliberately *content*, not whitespace.
_CRLF_RE = re.compile(_CRLF, re.ASCII)
_PDF_RE = re.compile(_PDF_COLLAPSE, re.ASCII)
_TXT_RE = re.compile(_TXT_COLLAPSE, re.ASCII)
_TRIM_RE = re.compile(_TRIM, re.ASCII)


# ---------------------------------------------------------------- python
def normalize_pdf_py(text: str | None) -> str | None:
    """PDF-variant normalization (reference pdfFilter.js:45-49)."""
    if text is None:
        return None
    t = _CRLF_RE.sub("\n", text)
    t = _PDF_RE.sub("\n\n", t)
    return _TRIM_RE.sub("", t)


def normalize_txt_py(text: str | None) -> str | None:
    """TXT-variant normalization (reference txtFilter.js:43-47)."""
    if text is None:
        return None
    t = _CRLF_RE.sub("\n", text)
    t = _TXT_RE.sub("\n\n", t)
    return _TRIM_RE.sub("", t)


def title_from_name_py(name: str | None) -> str:
    """Strip the file extension; default "Document" (server.js:417)."""
    if not name:
        return "Document"
    t = re.sub(r"\.[^.]+$", "", name)
    return t or "Document"


# ----------------------------------------------------------------- spark
# Each regex pass is guarded by a cheap substring containment check —
# a regex replace allocates a Matcher + StringBuffer per invocation even
# on non-matching input, and most spans contain no CR and no newline
# runs. The guards are semantically transparent: `contains` is a strict
# superset test for each pattern's trigger (\r for CRLF, \n\n / \n\n\n
# for the collapses). Allocation rate is the narrow plan's scaling
# limiter in a shared heap (BENCH/BASELINE.md).


def _guarded(col: Column, trigger: str, pattern: str, replacement: str) -> Column:
    return F.when(
        col.contains(trigger), F.regexp_replace(col, pattern, replacement)
    ).otherwise(col)


# btrim with the exact Java-regex \s character set — allocation-free
# equivalent of regexp_replace('^\s+|\s+$','') for the ASCII inputs this
# engine processes (Java \s ≡ [ \t\n\x0B\f\r]).
_WS_CHARS = " \t\n\x0b\f\r"


def _full_trim(col: Column) -> Column:
    return F.btrim(col, F.lit(_WS_CHARS))


def normalize_pdf(col: Column) -> Column:
    """Spark-native PDF normalization — stays in whole-stage codegen."""
    t = _guarded(col, "\r", _CRLF, "\n")
    t = _guarded(t, "\n\n", _PDF_COLLAPSE, "\n\n")
    return _full_trim(t)


def normalize_txt(col: Column) -> Column:
    """Spark-native TXT normalization."""
    t = _guarded(col, "\r", _CRLF, "\n")
    t = _guarded(t, "\n\n\n", _TXT_COLLAPSE, "\n\n")
    return _full_trim(t)


def title_from_name(col: Column) -> Column:
    """Spark-native title derivation with "Document" fallback."""
    stripped = F.regexp_replace(col, r"\.[^.]+$", "")
    return F.when(
        col.isNull() | (stripped == F.lit("")), F.lit("Document")
    ).otherwise(stripped)
