"""The reference's convert endpoint, end-to-end, as one Spark job.

Reference lifecycle (``backend/server.js:173-257`` sync;
``utils/workerRunner.js:30-113`` async; SURVEY §3): seed ctx → 4-filter
fold [Preprocess, OCR, Translate, Export] with content-addressed memo at
every stage, end-to-end dedup with early exit, provenance flags, history
sink, cache-hit metrics. Our batch equivalent over the interleaved
documents table:

1. **e2e dedup (J5)** — composite key ``sha256(raw_hash ‖ targetLang ‖
   fmt)`` (cacheFilter.js:8-13), ``raw_hash`` being the offset-ordered
   span content hash; one window over the key ranks each row and names
   its representative (the key's lowest ``doc_id``). Only
   representatives go on to the stages below — the early exit.
2. **OCR analogue (P4)** — main-content text extraction: the production
   classify/normalize path (``extract_arrow_native``), kept text spans
   stitched in offset order (ocrFilter.js produces ``text`` +
   ``textHash`` + langDetected meta). Media spans pass through as
   references; nothing here decodes them (``multimodal.decode_media`` is
   a separate operator).
3. **Translate (C1-C3 + P7/P8)** — lang-code normalization, blank-skip,
   4500-char chunked map with re-stitch. The reference calls external
   Google MT (stubbed here as the identity map — deterministic, marked;
   swap ``translate_fn`` for a real vendor UDF), translatedHash recorded.
4. **Export (S4-S6 + P10/P12)** — the PDF/DOCX/TXT renderer applied in
   place (``render_documents`` passes its input columns through), export
   key by hash priority (pdfFilter.js:16-21), mime + filename.
5. **Lineage + metrics (A1)** — one join on the representative id
   attaches the results to every row of its key; ``e2e_from_cache`` is
   True for rows that reuse their representative's computation, and a
   cache_stats frame counts them.

The whole request is one chain — window → extract → stitch/hash/lang →
translate → render → join back — so extraction (one ``MapInArrow``) and
rendering (one ``MapInPandas``) each run once per distinct document.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ktpm___ocr_spark.functions.chunking import chunk_map_restitch
from ktpm___ocr_spark.functions.hashing import (
    composite_key,
    hash_priority,
    sha256_hex,
    spans_content_hash,
)
from ktpm___ocr_spark.functions.langmap import normalize_lang, skip_if_blank
from ktpm___ocr_spark.functions.textstats import lang_id
from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
from ktpm___ocr_spark.operators.render import render_documents


def stitch_text(spans: Column) -> Column:
    """Kept text spans joined in offset order (the OCR-output analogue)."""
    return F.array_join(
        F.transform(
            F.filter(spans, lambda s: s["kind"] == "text"), lambda s: s["text"]
        ),
        "\n",
    )


def convert_batch(
    docs: DataFrame,
    target_lang: str = "vi",
    output_format: str = "pdf",
    translate_fn: Callable[[Column], Column] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the full convert pipeline; returns (results, stats).

    results: e2e_key, doc_id, e2e_from_cache, spans, text, text_hash,
    lang_detected, translated, translated_hash, output, mime, export_key,
    filename. stats: cache_stats over the e2e dedup stage.
    """
    tgt = normalize_lang(F.lit(target_lang))

    # -- 1. content identity + e2e dedup key (compute once per distinct).
    # spans_content_hash sorts by offset before hashing, so content-equal
    # documents whose arrays arrive shuffled differently still dedup —
    # matching oracle.doc_content_hash semantics exactly. One window spec
    # gives each row its rank and its key's representative (lowest doc_id).
    by_key = Window.partitionBy("e2e_key").orderBy("doc_id")
    keyed = docs.withColumn(
        "e2e_key",
        composite_key(spans_content_hash("spans"), tgt, F.lit(output_format)),
    ).select(
        "e2e_key",
        "doc_id",
        "spans",
        (F.row_number().over(by_key) > 1).alias("e2e_from_cache"),
        F.first("doc_id").over(by_key).alias("_rep_id"),
    )
    reps = keyed.filter(~F.col("e2e_from_cache"))

    # -- 2. OCR analogue: classify, normalize, stitch
    ocr = (
        extract_arrow_native(reps, variant="pdf", boilerplate="drop")
        .withColumn("text", stitch_text(F.col("spans")))
        .withColumn("text_hash", sha256_hex("text"))
        .withColumn("lang_detected", lang_id("text"))
    )

    # -- 3. translate: blank-skip + chunked map + re-stitch
    # (translate_fn None → identity per-chunk map, the deterministic stub)
    translated = ocr.withColumn(
        "translated",
        skip_if_blank("text", chunk_map_restitch("text", fn=translate_fn)),
    ).withColumn(
        "translated_hash",
        F.when(F.trim("text") == "", F.lit(None).cast("string")).otherwise(
            sha256_hex("translated")
        ),
    )

    # -- 4. export: render in place + key priority
    # (translatedHash ?? textHash ?? sha)
    rendered = render_documents(
        translated.withColumn("title", F.concat(F.lit("doc-"), F.col("doc_id"))),
        text_col="translated",
        title_col="title",
        fmt=output_format,
    )
    exported = rendered.select(
        F.col("doc_id").alias("_rep_id"),
        "spans",
        "text",
        "text_hash",
        "lang_detected",
        "translated",
        "translated_hash",
        "output",
        "mime",
        hash_priority("translated_hash", "text_hash", content="translated").alias(
            "export_key"
        ),
    )

    # -- 5. attach each representative's results to every row of its key
    # (duplicate rows = cache hits)
    results = (
        keyed.drop("spans")
        .join(exported, "_rep_id")
        .drop("_rep_id")
        .withColumn(
            "filename",
            F.concat(F.lit("doc-"), F.col("doc_id"), F.lit("." + output_format)),
        )
    )

    from ktpm___ocr_spark.operators.memo import cache_stats

    stats = cache_stats(keyed.select("e2e_from_cache"), ["e2e_from_cache"])
    return results, stats
