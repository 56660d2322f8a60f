"""Render sinks (S4–S6) + the full convert pipeline composition."""

from __future__ import annotations

import io
import zipfile

import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.corpus import generate_df, generate_rows
from ktpm___ocr_spark.operators.document_pipeline import convert_batch
from ktpm___ocr_spark.operators.render import (
    render_docx_py,
    render_documents,
    render_pdf_py,
    render_txt_py,
)


def test_pdf_bytes_valid_and_deterministic():
    b1 = render_pdf_py("hello\nworld\r\n\r\n\r\nend", "Title")
    b2 = render_pdf_py("hello\nworld\r\n\r\n\r\nend", "Title")
    assert b1 == b2
    assert b1.startswith(b"%PDF-1.4")
    assert b1.rstrip().endswith(b"%%EOF")
    assert b"(Title) Tj" in b1
    # pdf-variant normalization applied: 3 newlines collapsed to 2
    assert b"(hello) Tj" in b1 and b"(end) Tj" in b1


def test_docx_bytes_are_valid_zip_with_paragraphs():
    b = render_docx_py("line one\r\nline two", "T")
    z = zipfile.ZipFile(io.BytesIO(b))
    names = set(z.namelist())
    assert {"[Content_Types].xml", "_rels/.rels", "word/document.xml"} <= names
    doc = z.read("word/document.xml").decode()
    assert doc.count("<w:p>") == 3  # title + 2 lines (split on \r?\n)
    assert "line one" in doc and "line two" in doc
    assert render_docx_py("line one\r\nline two", "T") == b  # deterministic


def test_txt_uses_txt_collapse_variant():
    assert render_txt_py("a\n\nb") == b"a\n\nb"  # 2 newlines kept
    assert render_txt_py("a\n\n\nb") == b"a\n\nb"  # 3+ collapsed
    assert render_txt_py("  x  ") == b"x"


def test_render_documents_dispatch(spark):
    """Dispatch per row (P10), and every input column passes through with
    its type unchanged — a bigint doc_id and a nested extra column."""
    df = spark.createDataFrame(
        [(1, "hello", "A", "pdf", [("k", 1)]), (2, "hi", "B", "docx", None),
         (3, "yo", "C", "txt", []), (4, "zz", "D", "weird", [("z", 9)])],
        "doc_id bigint, text string, title string, fmt string, "
        "extra array<struct<k:string,v:int>>",
    )
    rendered = render_documents(df, text_col="text", title_col="title", fmt_col="fmt")
    assert rendered.schema.fields[: len(df.columns)] == df.schema.fields
    assert rendered.columns[len(df.columns):] == ["output", "mime", "filename"]
    got = {r["doc_id"]: r for r in rendered.collect()}
    assert [tuple(got[i])[:5] for i in (1, 2, 3, 4)] == [tuple(r) for r in df.collect()]
    assert got[1]["mime"] == "application/pdf"
    assert got[1]["filename"] == "A.pdf"
    assert bytes(got[1]["output"]).startswith(b"%PDF")
    assert got[2]["filename"] == "B.docx"
    assert bytes(got[2]["output"]).startswith(b"PK")  # zip magic
    assert bytes(got[3]["output"]) == b"yo"
    assert got[4]["mime"] == "application/pdf"  # P10 else-branch → pdf


@pytest.mark.parametrize("taken", ["output", "mime", "filename"])
def test_render_documents_rejects_input_with_output_names(spark, taken):
    df = spark.createDataFrame(
        [("1", "x", "y")], f"doc_id string, text string, {taken} string"
    )
    with pytest.raises(ValueError, match=taken):
        render_documents(df)


def test_convert_batch_end_to_end(spark):
    rows = generate_rows(60, seed=42)
    docs = generate_df(spark, 60, seed=42)  # includes ~6 duplicate docs
    results, stats = convert_batch(docs, target_lang="vie", output_format="pdf")
    out = results.collect()
    # one pass: extraction and render run once per distinct document, and
    # one window over the e2e key serves the dedup (one per scan of docs)
    plan = results._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both after a run
    assert plan.count("MapInArrow ") == 1, plan
    assert plan.count("MapInPandas ") == 1, plan
    assert plan.count("Window [") <= 2, plan
    assert len(out) == len(rows)
    by_id = {r["doc_id"]: r for r in out}
    # every doc has rendered output with the right mime + stable keys
    for r in out:
        assert bytes(r["output"]).startswith(b"%PDF")
        assert r["mime"] == "application/pdf"
        assert r["filename"] == f"doc-{r['doc_id']}.pdf"
        assert r["export_key"] is not None and len(r["export_key"]) == 64
    # duplicates: same content → same e2e results, flagged from_cache
    dup_rows = [r for r in out if r["doc_id"].startswith("dup")]
    assert dup_rows, "corpus should contain duplicate docs"
    st = {r["stage"]: r for r in stats.collect()}
    assert st["e2e"]["hits"] >= len(dup_rows)
    assert st["e2e"]["hits"] + st["e2e"]["misses"] == len(out)
    # identity-translate: translated == text (deterministic stub)
    for r in out[:10]:
        assert r["translated"] == r["text"]
    # a duplicate shares its source's text/export key
    src = dup_rows[0]
    twins = [
        r for r in out
        if r["export_key"] == src["export_key"] and r["doc_id"] != src["doc_id"]
    ]
    assert twins


def test_spans_content_hash_is_order_canonical(spark):
    """raw_hash must match oracle.doc_content_hash and be invariant to the
    physical array order — content-equal docs with shuffled span arrays
    dedup to the same e2e key."""
    from ktpm___ocr_spark.corpus import DOCUMENTS_SCHEMA
    from ktpm___ocr_spark.functions.hashing import spans_content_hash
    from ktpm___ocr_spark.oracle import doc_content_hash

    spans = [
        {"kind": "text", "text": "b span", "media_ref": None, "offset": 7},
        {"kind": "media", "text": None, "media_ref": "m:1", "offset": 2},
        {"kind": "text", "text": "a span", "media_ref": None, "offset": 5},
    ]
    rows = [
        {"doc_id": "orig", "spans": spans},
        {"doc_id": "shuffled", "spans": list(reversed(spans))},
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", spans_content_hash("spans").alias("h")).collect()
    }
    assert got["orig"] == got["shuffled"] == doc_content_hash(spans)
    # and the convert pipeline therefore treats the shuffled twin as a hit
    results, stats = convert_batch(df)
    st = {r["stage"]: r for r in stats.collect()}
    assert st["e2e"]["hits"] == 1 and st["e2e"]["misses"] == 1


def test_convert_batch_blank_doc_skip(spark):
    from ktpm___ocr_spark.corpus import DOCUMENTS_SCHEMA

    rows = [
        {"doc_id": "blank", "spans": [
            {"kind": "text", "text": "   ", "media_ref": None, "offset": 1}
        ]},
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    results, _ = convert_batch(df)
    r = results.first()
    # empty text skips translation (P7) and translated_hash stays null
    assert r["translated"] == r["text"]
    assert r["translated_hash"] is None
    assert r["export_key"] is not None  # falls back to text_hash / sha
