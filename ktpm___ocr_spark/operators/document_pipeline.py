"""The reference's convert endpoint, end-to-end, as one Spark job.

Reference lifecycle (``backend/server.js:173-257`` sync;
``utils/workerRunner.js:30-113`` async; SURVEY §3): seed ctx → 4-filter
fold [Preprocess, OCR, Translate, Export] with content-addressed memo at
every stage, end-to-end dedup with early exit, provenance flags, history
sink, cache-hit metrics. Our batch equivalent over the interleaved
documents table:

1. **e2e dedup (J5)** — composite key ``sha256(content ‖ targetLang ‖
   fmt)`` (cacheFilter.js:8-13); the expensive stages run once per
   DISTINCT key and results join back to every duplicate row.
2. **Preprocess (P3 analogue)** — media spans decoded via the stubbed
   Arrow decode (multimodal.py); raw/pre hashes recorded
   (preprocessFilter.js:17-50).
3. **OCR analogue (P4)** — main-content text extraction: the production
   classify/normalize path (``extract_arrow_native``), kept text spans
   stitched in offset order
   (ocrFilter.js produces ``text`` + ``textHash`` + langDetected meta).
4. **Translate (C1-C3 + P7/P8)** — lang-code normalization, blank-skip,
   4500-char chunked map with re-stitch. The reference calls external
   Google MT (stubbed here as the identity map — deterministic, marked;
   swap ``translate_fn`` for a real vendor UDF), translatedHash recorded.
5. **Export (S4-S6 + P10/P12)** — per-row format dispatch to the
   PDF/DOCX/TXT renderers, export key by hash priority
   (pdfFilter.js:16-21), mime + filename.
6. **Lineage + metrics (A1)** — ``e2e_from_cache`` provenance (True for
   rows that reused a duplicate's computation) and a cache_stats frame.
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

    results: doc_id, text, translated, output, mime, filename,
    raw_hash, text_hash, translated_hash, export_key, lang_detected,
    e2e_from_cache. stats: cache_stats over the e2e dedup stage.
    """
    tgt = normalize_lang(F.lit(target_lang))

    # -- 1. content identity + e2e dedup key (compute once per distinct).
    # spans_content_hash sorts by offset before hashing, so content-equal
    # documents whose arrays arrive shuffled differently still dedup —
    # matching oracle.doc_content_hash semantics exactly.
    keyed = docs.withColumn("raw_hash", spans_content_hash("spans")).withColumn(
        "e2e_key",
        composite_key(F.col("raw_hash"), tgt, F.lit(output_format)),
    )
    first_per_key = F.row_number().over(
        Window.partitionBy("e2e_key").orderBy("doc_id")
    )
    keyed = keyed.withColumn("_rn", first_per_key).withColumn(
        "e2e_from_cache", F.col("_rn") > 1
    )
    reps = keyed.filter(F.col("_rn") == 1).select("e2e_key", "doc_id", "spans")

    # -- 2+3. preprocess + OCR analogue: classify, normalize, stitch
    extracted = extract_arrow_native(reps, variant="pdf", boilerplate="drop")
    ocr = (
        reps.drop("spans")
        .join(extracted, "doc_id")
        .withColumn("text", stitch_text(F.col("spans")))
        .withColumn("text_hash", sha256_hex("text"))
        .withColumn("lang_detected", lang_id("text"))
    )

    # -- 4. translate: blank-skip + chunked map + re-stitch
    fn = translate_fn  # None → identity per-chunk map (deterministic stub)
    translated = ocr.withColumn(
        "translated",
        skip_if_blank("text", chunk_map_restitch("text", fn=fn)),
    ).withColumn(
        "translated_hash",
        F.when(F.trim("text") == "", F.lit(None).cast("string")).otherwise(
            sha256_hex("translated")
        ),
    )

    # -- 5. export: render + key priority (translatedHash ?? textHash ?? sha)
    with_title = translated.withColumn(
        "title", F.concat(F.lit("doc-"), F.col("doc_id"))
    ).withColumn("fmt", F.lit(output_format))
    rendered = render_documents(
        with_title.select("doc_id", "translated", "title", "fmt"),
        text_col="translated",
        title_col="title",
        fmt_col="fmt",
    )
    exported = translated.join(rendered, "doc_id").withColumn(
        "export_key",
        hash_priority("translated_hash", "text_hash", content="translated"),
    )

    # -- join computed results back to ALL rows (dup rows = cache hits)
    results = (
        keyed.select("doc_id", "e2e_key", "e2e_from_cache")
        .join(
            exported.select(
                "e2e_key",
                "spans",
                "text",
                "text_hash",
                "lang_detected",
                "translated",
                "translated_hash",
                "output",
                "mime",
                "export_key",
            ),
            "e2e_key",
        )
        .withColumn("filename", F.concat(F.lit("doc-"), F.col("doc_id"), F.lit("." + output_format)))
    )

    from ktpm___ocr_spark.operators.memo import cache_stats

    stats = cache_stats(
        results.select(F.col("e2e_from_cache").alias("e2e_from_cache")),
        ["e2e_from_cache"],
    )
    return results, stats
