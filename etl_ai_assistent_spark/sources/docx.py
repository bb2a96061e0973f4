"""S1/S2 — the DOCX structural scan (SURVEY.md §2.1).

The reference opens documents with python-docx and walks body blocks in
order (scripts/parsers/docx_parser.py:39,67 and the interleaved
paragraph/table iterator at docx_parser.py:89-95). This module
re-implements that scan against the OOXML format directly with stdlib
zipfile + ElementTree — no python-docx dependency — and wraps it in the
idiomatic Spark shape: `binaryFile` source (one row per file, one task
per file at scale) → `mapInPandas` parser emitting one row per body
block with an explicit `block_idx` so downstream order-sensitive
operators (sectionizer G1, caption pairing G2) never depend on row
order.

Also provides a minimal DOCX *writer* (zip + document.xml) used to
generate deterministic fixture corpora — which makes the whole
parse→sectionize pipeline verifiable against a SQL oracle: the
round-trip through real zip/XML bytes must reproduce exactly what the
oracle derives from the source table.
"""

from __future__ import annotations

import io as _io
import zipfile
from collections.abc import Iterator
from typing import TYPE_CHECKING
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("document_name", T.StringType()),
        T.StructField("block_idx", T.IntegerType()),
        T.StructField("kind", T.StringType()),  # 'paragraph' | 'table'
        T.StructField("style", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("has_image", T.BooleanType()),
    ]
)


# --- parser (S1 + S2, pure Python on bytes) ------------------------------


def parse_docx_blocks(data: bytes) -> list[tuple]:
    """One .docx -> ordered body blocks
    [(block_idx, kind, style, text, rows, has_image)].

    Mirrors the reference's block iterator semantics
    (docx_parser.py:89-95): paragraphs and tables interleaved in
    document order; paragraph text is the concatenation of its runs'
    w:t elements; style comes from w:pPr/w:pStyle (default 'Normal');
    has_image flags embedded w:drawing/w:pict."""
    with zipfile.ZipFile(_io.BytesIO(data)) as z:
        root = ET.fromstring(z.read("word/document.xml"))
    body = root.find(W_NS + "body")
    blocks: list[tuple] = []
    if body is None:
        return blocks
    idx = 0
    for child in body:
        if child.tag == W_NS + "p":
            style = "Normal"
            ppr = child.find(W_NS + "pPr")
            if ppr is not None:
                ps = ppr.find(W_NS + "pStyle")
                if ps is not None:
                    style = ps.get(W_NS + "val") or "Normal"
            text = "".join(t.text or "" for t in child.iter(W_NS + "t"))
            has_image = (
                next(child.iter(W_NS + "drawing"), None) is not None
                or next(child.iter(W_NS + "pict"), None) is not None
            )
            blocks.append((idx, "paragraph", style, text, None, has_image))
            idx += 1
        elif child.tag == W_NS + "tbl":
            rows = [
                [
                    "".join(t.text or "" for t in tc.iter(W_NS + "t"))
                    for tc in tr.findall(W_NS + "tc")
                ]
                for tr in child.findall(W_NS + "tr")
            ]
            blocks.append((idx, "table", None, None, rows, False))
            idx += 1
    return blocks


def parse_docx_media(data: bytes) -> list[tuple[str, bytes]]:
    """Embedded media parts (word/media/*) as (name, bytes) — the
    reference's image-blob source (docx_etl.py:138-157 reads these via
    python-docx image parts; here straight from the OOXML package)."""
    out: list[tuple[str, bytes]] = []
    with zipfile.ZipFile(_io.BytesIO(data)) as z:
        for info in z.infolist():
            if info.filename.startswith("word/media/"):
                out.append((info.filename.rsplit("/", 1)[-1], z.read(info)))
    return sorted(out)


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("document_name", T.StringType()),
        T.StructField("media_name", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _docx_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile listing with the P15 extension guard (reference
    app.py:23-24 rejects non-.docx uploads with a 400): an explicit
    filter on the path, not just the caller's glob, so a directory mixed
    with .txt/.pdf/temp files never reaches the parser. The filter is a
    partition-pruning-friendly predicate on the file listing — pushed to
    the binaryFile source's pathGlobFilter-equivalent position, it never
    reads the rejected files' bytes."""
    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .filter(F.col("path").endswith(".docx"))
        .select("path", "content")
    )


def scan_docx_media(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed media scan: one row per embedded media part, binary
    content as BinaryType (K3's read side)."""
    import pandas as pd

    files = _docx_files(spark, path_glob)

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                name = path.rsplit("/", 1)[-1]
                for media_name, blob in parse_docx_media(bytes(content)):
                    out.append((name, media_name, blob))
            yield pd.DataFrame(
                out, columns=["document_name", "media_name", "content"]
            )

    return files.mapInPandas(parse, schema=MEDIA_SCHEMA)


def scan_docx(spark: SparkSession, path_glob: str) -> DataFrame:
    """The distributed DOCX scan: binaryFile source → mapInPandas parse.
    One file = one source row = one parse unit; at 100 TB the file
    listing shards across executors and each document parses exactly
    once, with no shuffle until a downstream groupBy."""
    import pandas as pd

    files = _docx_files(spark, path_glob)

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                name = path.rsplit("/", 1)[-1]
                for blk in parse_docx_blocks(bytes(content)):
                    out.append((name, *blk))
            yield pd.DataFrame(
                out,
                columns=[
                    "document_name",
                    "block_idx",
                    "kind",
                    "style",
                    "text",
                    "rows",
                    "has_image",
                ],
            )

    return files.mapInPandas(parse, schema=BLOCK_SCHEMA)


# --- writer (fixture generation; K-side of the round-trip oracle) --------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)


def _p_xml(text: str, style: str | None = None, image: bool = False) -> str:
    style_xml = f'<w:pPr><w:pStyle w:val="{escape(style)}"/></w:pPr>' if style else ""
    img_xml = "<w:r><w:drawing/></w:r>" if image else ""
    return (
        f"<w:p>{style_xml}<w:r><w:t xml:space=\"preserve\">{escape(text)}</w:t></w:r>"
        f"{img_xml}</w:p>"
    )


def _tbl_xml(rows: list[list[str]]) -> str:
    trs = "".join(
        "<w:tr>"
        + "".join(
            f"<w:tc><w:p><w:r><w:t>{escape(c)}</w:t></w:r></w:p></w:tc>"
            for c in row
        )
        + "</w:tr>"
        for row in rows
    )
    return f"<w:tbl>{trs}</w:tbl>"


def build_docx(
    blocks_xml: list[str], media: dict[str, bytes] | None = None
) -> bytes:
    """Assemble a minimal valid .docx from pre-rendered block XML
    fragments (use _p_xml/_tbl_xml), optionally embedding media parts
    under word/media/."""
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{''.join(blocks_xml)}</w:body></w:document>"
    )
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("word/document.xml", doc)
        for name, blob in (media or {}).items():
            z.writestr(f"word/media/{name}", blob)
    return buf.getvalue()


def docx_for_document(doc_id: int, text: str) -> bytes:
    """Deterministic fixture document for source-table row (doc_id,
    text): one 'Heading 1' section title, the text split into
    10-token body paragraphs, plus (doc_id % 5 == 0) a Caption + 2×2
    table and (doc_id % 7 == 0) an embedded image marker on the first
    body paragraph. The SQL oracle reproduces every derived quantity
    from the same arithmetic."""
    import hashlib

    toks = text.split()
    paras = [
        " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
    ]
    xml = [_p_xml(f"Section {doc_id}", style="Heading 1")]
    media: dict[str, bytes] = {}
    for j, p in enumerate(paras):
        has_img = j == 0 and doc_id % 7 == 0
        xml.append(_p_xml(p, image=has_img))
        if has_img:
            # deterministic fake image bytes: text's md5 hex repeated 4×
            # (128 ASCII bytes — lets the SQL oracle rebuild the blob)
            media["image1.png"] = (
                hashlib.md5(text.encode()).hexdigest() * 4
            ).encode()
    if doc_id % 5 == 0:
        xml.append(_p_xml(f"Table {doc_id}: metrics", style="Caption"))
        xml.append(
            _tbl_xml(
                [
                    [f"cell_{doc_id}_{r}_{c}" for c in range(2)]
                    for r in range(2)
                ]
            )
        )
    return build_docx(xml, media=media)


def write_corpus(docs: list[tuple[int, str]], out_dir: str) -> None:
    """Materialize doc_{id}.docx fixture files (idempotent overwrite)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for doc_id, text in docs:
        with open(os.path.join(out_dir, f"doc_{doc_id}.docx"), "wb") as f:
            f.write(docx_for_document(doc_id, text))
