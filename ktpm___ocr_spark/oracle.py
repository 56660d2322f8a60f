"""Pure-Python reference oracle for the extraction pipeline.

Single-threaded, dependency-free implementation of the exact semantics the
Spark engine must reproduce, per document:

1. sort spans by ``offset`` (the span-sequence invariant — array order of
   the input is meaningless),
2. normalize text spans (PDF or TXT newline-collapse variant, shared with
   the engine via :mod:`ktpm___ocr_spark.textnorm`),
3. compute per-block features (word count, link density),
4. label each span ``main | boilerplate | media`` with a Boilerpipe-style
   *block-fusion* classifier (NumWordsRulesClassifier decision rules from
   Kohlschütter et al., WSDM 2010 — public algorithm), where a block's
   label depends on its neighbors in offset order,
5. drop (or relabel) boilerplate spans,
6. emit the ordered ``(kind, text, media_ref, offset)`` sequence.

pytest asserts exact span-sequence equality between this oracle and every
Spark execution path (the production ``mapInArrow`` kernel in
``operators/arrow_native.py`` and the array-HOF spec plan in
``pipeline.py``). Step 1's sort is stable: spans with tied offsets keep
their input order.

The analogous reference behavior: per-stage filter chain at
``backend/pipeline.js:22-42`` with normalization in
``pdfFilter.js:45-49`` / ``txtFilter.js:43-47``; classification is our
engine's generalization of the reference's OCR text-extraction stage
(``backend/filters/ocrFilter.js``) per BASELINE.json's north_star.
"""

from __future__ import annotations

import hashlib
import re
from typing import Any

from ktpm___ocr_spark.textnorm import normalize_pdf_py, normalize_txt_py

# Word = maximal run of non-whitespace. Same regex fed to Spark's
# regexp_count. Compiled with re.ASCII so Python's \S matches Java's
# ASCII-only default (  /   count as word characters on BOTH
# sides — see textnorm.py for the whitespace-semantics pin).
WORD_RE_PATTERN = r"\S+"
_WORD_RE = re.compile(WORD_RE_PATTERN, re.ASCII)

# Anchor content: non-greedy, dot does not cross newlines (same default in
# Java regex, which the Spark plan uses).
ANCHOR_RE_PATTERN = r"<a[^>]*>(.*?)</a>"
_ANCHOR_RE = re.compile(ANCHOR_RE_PATTERN, re.ASCII)

# NumWordsRulesClassifier thresholds (public Boilerpipe constants).
CURR_LINK_DENSITY_MAX = 0.333333
PREV_LINK_DENSITY_MAX = 0.555555


def word_count(text: str | None) -> int:
    if not text:
        return 0
    return len(_WORD_RE.findall(text))


def link_word_count(text: str | None) -> int:
    if not text:
        return 0
    return sum(len(_WORD_RE.findall(m)) for m in _ANCHOR_RE.findall(text))


def link_density(text: str | None) -> float:
    w = word_count(text)
    if w == 0:
        return 0.0
    return link_word_count(text) / w


def classify_blocks(feats: list[tuple[int, float]]) -> list[bool]:
    """Return is_content per block given (words, link_density) features.

    Media blocks must be passed with (0, 0.0); their verdict is ignored by
    the caller (media is always kept) but they participate as neighbors.
    """
    n = len(feats)
    out: list[bool] = []
    for i in range(n):
        words, ld = feats[i]
        pw, pld = feats[i - 1] if i > 0 else (0, 0.0)
        nw, _nld = feats[i + 1] if i < n - 1 else (0, 0.0)
        if ld > CURR_LINK_DENSITY_MAX:
            out.append(False)
        elif pld <= PREV_LINK_DENSITY_MAX:
            out.append(words > 16 or nw > 15 or pw > 4)
        else:
            out.append(words > 40 or nw > 17)
    return out


def extract_doc(
    spans: list[dict[str, Any]],
    variant: str = "pdf",
    boilerplate: str = "drop",
) -> list[dict[str, Any]]:
    """Run the full oracle pipeline on one document's spans."""
    norm = normalize_pdf_py if variant == "pdf" else normalize_txt_py
    ordered = sorted(spans, key=lambda s: s["offset"])
    staged: list[dict[str, Any]] = []
    for s in ordered:
        if s["kind"] == "media":
            staged.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                }
            )
        else:
            staged.append(
                {
                    "kind": s["kind"],
                    "text": norm(s["text"]),
                    "media_ref": None,
                    "offset": s["offset"],
                }
            )

    feats = [
        (0, 0.0)
        if s["kind"] == "media"
        else (word_count(s["text"]), link_density(s["text"]))
        for s in staged
    ]
    is_content = classify_blocks(feats)

    out: list[dict[str, Any]] = []
    for s, keep in zip(staged, is_content):
        if s["kind"] == "media":
            out.append(s)
        elif keep:
            out.append(s)
        elif boilerplate == "relabel":
            out.append({**s, "kind": "boilerplate"})
        # else: drop
    return out


def extract_corpus(
    rows: list[dict[str, Any]], variant: str = "pdf", boilerplate: str = "drop"
) -> dict[str, list[tuple]]:
    """Oracle over a corpus → {doc_id: [(kind, text, media_ref, offset)]}.

    Tuples (not dicts) so tests compare hashable exact sequences.
    """
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in extract_doc(r["spans"], variant, boilerplate)
        ]
        for r in rows
    }


def doc_content_hash(spans: list[dict[str, Any]]) -> str:
    """Deterministic content identity of a doc (offset-ordered spans).

    The analogue of the reference's end-to-end cache key
    ``sha256(buffer‖targetLang‖outputFormat)`` (cacheFilter.js:8-13).
    """
    h = hashlib.sha256()
    for s in sorted(spans, key=lambda s: s["offset"]):
        h.update(
            "\x1f".join(
                [
                    s["kind"] or "",
                    s["text"] or "",
                    s["media_ref"] or "",
                    str(s["offset"]),
                ]
            ).encode("utf-8")
        )
        h.update(b"\x1e")
    return h.hexdigest()
