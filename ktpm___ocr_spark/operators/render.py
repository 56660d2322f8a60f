"""Export sinks: render text → PDF / DOCX / TXT binary buffers (S4–S6).

Reference behavior being reproduced (semantics, not libraries):

* PDF (``backend/utils/pdf.js:5-51``): normalize newlines (pdf variant),
  title centered + body paragraphs, output = one binary buffer per doc.
  The reference uses pdfkit+DejaVu; we emit a minimal valid PDF 1.4 with
  the built-in Helvetica font — deterministic bytes, stdlib only (no PDF
  lib in this container). Layout niceties (18 pt underlined title, 13 pt
  body) are kept as constants for parity.
* DOCX (``backend/filters/docxFilter.js:44-48``): split on ``\\r?\\n``,
  one paragraph per line, pack to a buffer. DOCX is a zip of XML parts;
  we emit the minimal OPC package with fixed timestamps so output bytes
  are deterministic.
* TXT (``backend/filters/txtFilter.js:43-49``): txt-variant newline
  collapse, UTF-8 encode.

All three run as Arrow-batched ``mapInPandas`` (binary-producing stages
are the pattern the reference's render filters map to — SURVEY §2.1
S4-S6); format dispatch (P10) picks the renderer per row.
``render_documents`` passes its input through: every input column comes
back unchanged, followed by ``output``, ``mime`` and ``filename``, so a
pipeline renders in place rather than joining a re-keyed table back on
its id.
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Iterator
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ktpm___ocr_spark.textnorm import normalize_pdf_py, normalize_txt_py

TITLE_PT = 18  # pdf.js: title 18pt centered underlined
BODY_PT = 13  # pdf.js: body 13pt
PAGE_W, PAGE_H = 595, 842  # A4 points

# appended after the input's own columns, which pass through unchanged
RENDER_FIELDS = [
    T.StructField("output", T.BinaryType()),
    T.StructField("mime", T.StringType()),
    T.StructField("filename", T.StringType()),
]

MIMES = {
    "pdf": "application/pdf",
    "docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "txt": "text/plain",
}


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def render_pdf_py(text: str, title: str = "Document") -> bytes:
    """Minimal deterministic single-page-flow PDF 1.4 (Helvetica)."""
    body = normalize_pdf_py(text) or ""
    lines = body.split("\n")
    content = io.StringIO()
    content.write("BT\n")
    content.write(f"/F1 {TITLE_PT} Tf\n1 0 0 1 60 {PAGE_H - 60} Tm\n")
    content.write(f"({_pdf_escape(title)}) Tj\n")
    content.write(f"/F1 {BODY_PT} Tf\n")
    y = PAGE_H - 60 - TITLE_PT - 10
    for ln in lines:
        content.write(f"1 0 0 1 60 {y} Tm\n({_pdf_escape(ln)}) Tj\n")
        y -= BODY_PT + 4  # lineGap 4 (pdf.js:30)
    content.write("ET")
    stream = content.getvalue().encode("latin-1", errors="replace")

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"
        ),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n" + stream + b"\nendstream",
    ]
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(out.tell())
        out.write(f"{i} 0 obj\n".encode())
        out.write(obj)
        out.write(b"\nendobj\n")
    xref_at = out.tell()
    out.write(f"xref\n0 {len(objs) + 1}\n".encode())
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(f"{off:010d} 00000 n \n".encode())
    out.write(
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return out.getvalue()


_DOCX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>'
)
_DOCX_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/office'
    'Document/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)


def render_docx_py(text: str, title: str = "Document") -> bytes:
    """Minimal OPC/WordprocessingML package, one paragraph per line
    (docxFilter.js:44-46 splits on /\\r?\\n/)."""
    lines = re.split(r"\r?\n", text or "")
    paras = "".join(
        f"<w:p><w:r><w:t xml:space=\"preserve\">{escape(ln)}</w:t></w:r></w:p>"
        for ln in [title, *lines]
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        f"{paras}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in [
            ("[Content_Types].xml", _DOCX_CONTENT_TYPES),
            ("_rels/.rels", _DOCX_RELS),
            ("word/document.xml", doc),
        ]:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, data)  # fixed timestamp → deterministic bytes
    return buf.getvalue()


def render_txt_py(text: str, title: str = "Document") -> bytes:
    return (normalize_txt_py(text) or "").encode("utf-8")


_RENDERERS = {"pdf": render_pdf_py, "docx": render_docx_py, "txt": render_txt_py}


def render_documents(
    df: DataFrame,
    text_col: str = "text",
    title_col: str | None = None,
    fmt_col: str | None = None,
    fmt: str = "pdf",
) -> DataFrame:
    """S4–S6 + P10: render each row's text to a binary buffer in its
    format. Returns every input column unchanged (names, types, order),
    followed by ``output``, ``mime`` and ``filename`` — the renderer
    applied in place, so callers chain on it instead of joining it back.
    Raises ``ValueError`` if the input already has one of those three
    columns. Arrow-batched."""
    clash = [f.name for f in RENDER_FIELDS if f.name in df.columns]
    if clash:
        raise ValueError(f"render_documents input already has {clash}")

    def process(batches: Iterator) -> Iterator:
        for pdf in batches:
            outs, mimes, names = [], [], []
            titles = pdf[title_col] if title_col else None
            fmts = pdf[fmt_col] if fmt_col else None
            for i in range(len(pdf)):
                f = (fmts.iloc[i] if fmts is not None else fmt) or "pdf"
                f = f if f in _RENDERERS else "pdf"  # P10: else-branch → pdf
                title = (titles.iloc[i] if titles is not None else None) or "Document"
                outs.append(_RENDERERS[f](pdf[text_col].iloc[i], title))
                mimes.append(MIMES[f])
                names.append(f"{title}.{f}")
            yield pdf.assign(output=outs, mime=mimes, filename=names)

    return df.mapInPandas(process, schema=T.StructType(df.schema.fields + RENDER_FIELDS))


DOCX_XML_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("document_xml", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("filename", T.StringType()),
    ]
)


def docx_document_xml(df: DataFrame) -> DataFrame:
    """Round-trip verification half of the S5 sink: unzip each rendered
    DOCX container (``output`` binary) and surface its WordprocessingML
    payload ``word/document.xml`` as a string column.

    This is what makes the S5 driver check *real*: the container bytes
    themselves (zip CRC/deflate framing) are not SQL-expressible, but the
    XML part inside them is — an independent SQL reconstruction of
    title+paragraphs (docxFilter.js:44-48 semantics) must hash-equal what
    actually comes back out of the zip the renderer wrote."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            xmls = []
            for buf in pdf["output"]:
                with zipfile.ZipFile(io.BytesIO(bytes(buf))) as z:
                    xmls.append(z.read("word/document.xml").decode("utf-8"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "document_xml": xmls,
                    "mime": pdf["mime"],
                    "filename": pdf["filename"],
                }
            )

    return df.mapInPandas(process, schema=DOCX_XML_SCHEMA)
