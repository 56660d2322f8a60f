"""The extraction pipeline — Spark execution paths.

The reference executes its pipeline as a sequential fold of async filters
over one document at a time (``backend/pipeline.js:22-42``). Our engine
expresses the same semantics as declarative Spark plans. Two physical
strategies live here, both proven span-sequence-equal to the pure-Python
oracle; the Arrow-kernel path is
:func:`ktpm___ocr_spark.operators.arrow_native.extract_arrow_native`,
held to the same oracle:

``extract_narrow``  (DEFAULT — the 100 TB plan)
    Zero-shuffle: sort/normalize/classify/filter happen *inside* the span
    array via higher-order functions (``array_sort``, ``transform``,
    ``zip_with``, ``filter``) — one narrow projection over the scan, fully
    JVM-side, whole-stage-codegen eligible. Scan → transform → write with
    NO exchange; scales linearly with input bytes and is immune to
    groupBy skew because a document never leaves its row.

``extract_exploded``
    Relational formulation: ``posexplode`` → per-span feature columns →
    window lag/lead over (doc_id, offset) → filter → re-stitch with
    ``sort_array(collect_list(...))``. One wide edge (the re-stitch
    shuffle). Kept because per-span relational processing is what you
    compose other operators onto (memo-joins, per-span analytics), and to
    cross-validate the narrow plan.

Classifier: Boilerpipe NumWordsRulesClassifier decision rules
(Kohlschütter et al., WSDM 2010; public algorithm) — see
:mod:`ktpm___ocr_spark.oracle` for the reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ktpm___ocr_spark import textnorm
from ktpm___ocr_spark.corpus import DOCUMENTS_SCHEMA
from ktpm___ocr_spark.oracle import (
    ANCHOR_RE_PATTERN,
    CURR_LINK_DENSITY_MAX,
    PREV_LINK_DENSITY_MAX,
    WORD_RE_PATTERN,
)

__all__ = ["extract_narrow", "extract_exploded"]


def _norm_col(variant: str, text: Column) -> Column:
    if variant == "pdf":
        return textnorm.normalize_pdf(text)
    if variant == "txt":
        return textnorm.normalize_txt(text)
    raise ValueError(f"unknown variant {variant!r}")


def _word_count(text: Column) -> Column:
    return F.coalesce(F.regexp_count(text, F.lit(WORD_RE_PATTERN)), F.lit(0))


def _link_word_count(text: Column) -> Column:
    anchors = F.regexp_extract_all(text, F.lit(ANCHOR_RE_PATTERN), 1)
    counted = F.aggregate(
        anchors,
        F.lit(0),
        lambda acc, a: acc + F.regexp_count(a, F.lit(WORD_RE_PATTERN)),
    )
    # cheap containment guard: regexp_extract_all allocates even on the
    # ~85 % of spans with no anchor at all
    return F.when(text.contains("<a"), F.coalesce(counted, F.lit(0))).otherwise(
        F.lit(0)
    )


def _keep_rule(w: Column, ld: Column, pw: Column, pld: Column, nw: Column) -> Column:
    """NumWordsRulesClassifier decision tree as one CASE expression."""
    return (
        F.when(ld > F.lit(CURR_LINK_DENSITY_MAX), F.lit(False))
        .when(
            pld <= F.lit(PREV_LINK_DENSITY_MAX),
            (w > 16) | (nw > 15) | (pw > 4),
        )
        .otherwise((w > 40) | (nw > 17))
    )


def _emit(kind: Column, text: Column, media_ref: Column, offset: Column) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        offset.alias("offset"),
    )


# =====================================================================
# Path 1: narrow, zero-shuffle (array higher-order functions)
# =====================================================================
def extract_narrow(
    df: DataFrame, variant: str = "pdf", boilerplate: str = "drop"
) -> DataFrame:
    """Whole pipeline as one narrow projection — no exchange in the plan."""
    is_media = lambda s: s["kind"] == F.lit("media")  # noqa: E731

    sorted_spans = F.array_sort(
        F.col("spans"), lambda l, r: l["offset"] - r["offset"]
    )
    normed = F.transform(
        sorted_spans,
        lambda s: _emit(
            s["kind"],
            F.when(is_media(s), F.lit(None).cast("string")).otherwise(
                _norm_col(variant, s["text"])
            ),
            F.when(is_media(s), s["media_ref"]).otherwise(
                F.lit(None).cast("string")
            ),
            s["offset"],
        ),
    )

    # Allocation discipline (the scaling lever in a shared-heap JVM): four
    # array materializations per doc — sorted, normed, feats, output — and
    # classify+filter FUSED into one indexed-lambda pass over `normed`
    # (no keep array, no zipped struct-of-struct, no final re-projection).
    out = df.withColumn("_normed", normed).withColumn(
        "_feats",
        F.transform(
            F.col("_normed"),
            lambda s: F.struct(
                F.when(is_media(s), F.lit(0))
                .otherwise(_word_count(s["text"]))
                .alias("w"),
                F.when(
                    is_media(s) | (_word_count(s["text"]) == 0), F.lit(0.0)
                )
                .otherwise(
                    _link_word_count(s["text"])
                    / _word_count(s["text"]).cast("double")
                )
                .alias("ld"),
            ),
        ),
    )

    def keep_at(i: Column) -> Column:
        feats = F.col("_feats")
        cur = F.get(feats, i)
        return _keep_rule(
            cur["w"],
            cur["ld"],
            F.coalesce(F.get(feats, i - 1)["w"], F.lit(0)),
            F.coalesce(F.get(feats, i - 1)["ld"], F.lit(0.0)),
            F.coalesce(F.get(feats, i + 1)["w"], F.lit(0)),
        )

    if boilerplate == "drop":
        spans_out = F.filter(
            F.col("_normed"), lambda s, i: is_media(s) | keep_at(i)
        )
    elif boilerplate == "relabel":
        spans_out = F.transform(
            F.col("_normed"),
            lambda s, i: _emit(
                F.when(is_media(s) | keep_at(i), s["kind"]).otherwise(
                    F.lit("boilerplate")
                ),
                s["text"],
                s["media_ref"],
                s["offset"],
            ),
        )
    else:
        raise ValueError(f"unknown boilerplate mode {boilerplate!r}")

    return out.select("doc_id", spans_out.alias("spans"))


# =====================================================================
# Path 2: exploded relational plan (posexplode → window → re-stitch)
# =====================================================================
def classify_exploded(df: DataFrame, variant: str = "pdf") -> DataFrame:
    """Per-span relation with features + keep flag.

    Columns: doc_id, kind, text, media_ref, offset, words, link_density,
    keep. This is the composition surface for per-span operators
    (memo-joins, span-level analytics).
    """
    is_media = F.col("kind") == "media"
    ex = df.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.when(is_media_raw := (F.col("s.kind") == "media"), F.lit(None).cast("string"))
        .otherwise(_norm_col(variant, F.col("s.text")))
        .alias("text"),
        F.when(is_media_raw, F.col("s.media_ref"))
        .otherwise(F.lit(None).cast("string"))
        .alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    w = F.when(is_media, F.lit(0)).otherwise(_word_count(F.col("text")))
    ex = ex.withColumn("words", w).withColumn(
        "link_density",
        F.when(is_media | (F.col("words") == 0), F.lit(0.0)).otherwise(
            _link_word_count(F.col("text")) / F.col("words").cast("double")
        ),
    )
    win = Window.partitionBy("doc_id").orderBy("offset")
    ex = (
        ex.withColumn("_pw", F.coalesce(F.lag("words").over(win), F.lit(0)))
        .withColumn(
            "_pld", F.coalesce(F.lag("link_density").over(win), F.lit(0.0))
        )
        .withColumn("_nw", F.coalesce(F.lead("words").over(win), F.lit(0)))
    )
    return ex.withColumn(
        "keep",
        _keep_rule(
            F.col("words"),
            F.col("link_density"),
            F.col("_pw"),
            F.col("_pld"),
            F.col("_nw"),
        ),
    ).drop("_pw", "_pld", "_nw")


def restitch(spans_rel: DataFrame, all_doc_ids: DataFrame) -> DataFrame:
    """Re-stitch a per-span relation into ordered span arrays per doc.

    ``sort_array`` on struct(offset first) restores the span-sequence
    invariant regardless of shuffle order — the engine analogue of the
    reference's ordered chunk join (``utils/translate.js:189``).
    Docs whose spans were all dropped come back with an empty array via
    the right join onto ``all_doc_ids``.
    """
    stitched = spans_rel.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct("offset", "kind", "text", "media_ref")
                )
            ),
            lambda s: _emit(s["kind"], s["text"], s["media_ref"], s["offset"]),
        ).alias("spans")
    )
    empty = F.array().cast(DOCUMENTS_SCHEMA["spans"].dataType)
    return all_doc_ids.join(stitched, "doc_id", "left").select(
        "doc_id", F.coalesce("spans", empty).alias("spans")
    )


def extract_exploded(
    df: DataFrame, variant: str = "pdf", boilerplate: str = "drop"
) -> DataFrame:
    rel = classify_exploded(df, variant)
    if boilerplate == "drop":
        rel = rel.filter((F.col("kind") == "media") | F.col("keep"))
    elif boilerplate == "relabel":
        rel = rel.withColumn(
            "kind",
            F.when((F.col("kind") == "media") | F.col("keep"), F.col("kind"))
            .otherwise(F.lit("boilerplate")),
        )
    else:
        raise ValueError(f"unknown boilerplate mode {boilerplate!r}")
    return restitch(
        rel.select("doc_id", "kind", "text", "media_ref", "offset"),
        df.select("doc_id"),
    )
