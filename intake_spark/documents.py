"""Document / config / model-file readers: the reference's long-tail text
and metadata extraction surface, Spark-first.

Parity targets (intake/readers/readers.py): MarkdownReader :1980,
TOMLReader :2011, INIReader :2058, HTMLTableReader :2086, PDFTextReader
:2100 (stdlib FlateDecode + content-stream scan — no pdf lib needed),
GGUFMetadataReader :2548-2600-ish, SafeTensors metadata readers :3000+.
Pattern: many files → ``binaryFile`` rows → Arrow-batched parse UDF →
typed columns; a single config file parses driver-side (it is one row of
data).

All parsers are stdlib-only (tomllib/configparser/html.parser/zlib/
struct/json) — nothing in this module is import-gated.
"""

from __future__ import annotations

import json
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from intake_spark import datatypes as dt
from intake_spark.readers import BaseReader, binary_files
from intake_spark.session import local_frame, map_in_pandas


class Markdown(dt.FileData):
    filepattern = r"(md|markdown)$"
    mimetypes = r"text/markdown"
    structure = {"text"}


class TOML(dt.FileData):
    filepattern = r"toml$"
    mimetypes = r"application/toml"
    structure = {"nested"}


class INIFile(dt.FileData):
    filepattern = r"(ini|cfg|conf)$"
    structure = {"nested"}


class HTMLFile(dt.FileData):
    filepattern = r"html?$"
    mimetypes = r"text/html"
    magic = (b"<!DOCTYPE html", b"<html")
    structure = {"text", "table"}


class SafeTensors(dt.FileData):
    filepattern = r"safetensors$"
    structure = {"model"}


def _text_of(content: bytes) -> str:
    return content.decode("utf-8", errors="replace")


class MarkdownReader(BaseReader):
    """Markdown files → (path, text, n_headings, titles) rows via
    binaryFile + Arrow-batched parse (many files in parallel)."""

    implements = {Markdown}

    def _read(self, spark, **kwargs):
        files = binary_files(spark, self.data.url, "*.md")

        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("n_headings", T.IntegerType()),
                T.StructField("title", T.StringType()),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                texts = pdf["content"].map(_text_of)
                heads = texts.map(lambda t: [l for l in t.splitlines() if l.startswith("#")])
                yield pd.DataFrame(
                    {
                        "path": pdf["path"],
                        "text": texts,
                        "n_headings": pd.array([len(h) for h in heads], dtype="int32"),
                        "title": [h[0].lstrip("# ") if h else "" for h in heads],
                    }
                )

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


def _flatten(d: dict, prefix: str = "") -> Iterator[tuple[str, str]]:
    for k, v in d.items():
        key = f"{prefix}.{k}" if prefix else str(k)
        if isinstance(v, dict):
            yield from _flatten(v, key)
        else:
            yield key, json.dumps(v) if not isinstance(v, str) else v


class TOMLReader(BaseReader):
    """TOML → (key, value) rows, keys dotted-flattened (stdlib tomllib)."""

    implements = {TOML}
    lazy = False  # driver-side parse

    def _read(self, spark, **kwargs):
        import tomllib

        with open(self.data.url, "rb") as f:
            data = tomllib.load(f)
        rows = [{"key": k, "value": v} for k, v in _flatten(data)]
        return spark.createDataFrame(rows or [{"key": "", "value": ""}])


class INIReader(BaseReader):
    """INI → (section, key, value) rows (stdlib configparser)."""

    implements = {INIFile}
    lazy = False  # driver-side parse

    def _read(self, spark, **kwargs):
        import configparser

        cp = configparser.ConfigParser()
        cp.read(self.data.url)
        rows = [
            {"section": s, "key": k, "value": v}
            for s in cp.sections()
            for k, v in cp.items(s)
        ]
        return spark.createDataFrame(rows or [{"section": "", "key": "", "value": ""}])


class HTMLTableReader(BaseReader):
    """First <table> of an HTML file → DataFrame (stdlib html.parser —
    pandas.read_html needs lxml, which may be absent)."""

    implements = {HTMLFile}
    lazy = False  # driver-side parse

    def _read(self, spark, table_index: int = 0, **kwargs):
        from html.parser import HTMLParser

        class TableParser(HTMLParser):
            # a STACK of open tables so rows after a nested </table> land
            # in the outer table again (tables[-1] alone would attribute
            # the rest of the outer table to the inner one)
            def __init__(self):
                super().__init__()
                self.tables: list[list[list[str]]] = []
                self._open: list[list[list[str]]] = []
                self._row: list[str] | None = None
                self._cell: list[str] | None = None

            def handle_starttag(self, tag, attrs):
                if tag == "table":
                    t: list[list[str]] = []
                    self.tables.append(t)
                    self._open.append(t)
                elif tag == "tr" and self._open:
                    self._row = []
                elif tag in ("td", "th") and self._row is not None:
                    self._cell = []

            def handle_data(self, data):
                if self._cell is not None:
                    self._cell.append(data.strip())

            def handle_endtag(self, tag):
                if tag in ("td", "th") and self._row is not None and self._cell is not None:
                    self._row.append("".join(self._cell))
                    self._cell = None
                elif tag == "tr" and self._row is not None and self._open:
                    self._open[-1].append(self._row)
                    self._row = None
                elif tag == "table" and self._open:
                    self._open.pop()

        with open(self.data.url, encoding="utf-8", errors="replace") as f:
            parser = TableParser()
            parser.feed(f.read())
        table = parser.tables[table_index]
        header, *rows = table
        return spark.createDataFrame([dict(zip(header, r)) for r in rows])


def _pdf_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at ``(``; returns (bytes, next_i).
    Handles nesting, backslash escapes and octal escapes."""
    out = bytearray()
    depth = 1
    i += 1
    esc = {b"n"[0]: 10, b"r"[0]: 13, b"t"[0]: 9, b"b"[0]: 8, b"f"[0]: 12}
    while i < len(data) and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= len(data):
                break
            c2 = data[i]
            if c2 in esc:
                out.append(esc[c2])
            elif 0x30 <= c2 <= 0x37:  # octal \ooo (1-3 digits)
                oct_digits = chr(c2)
                while len(oct_digits) < 3 and i + 1 < len(data) and 0x30 <= data[i + 1] <= 0x37:
                    i += 1
                    oct_digits += chr(data[i])
                out.append(int(oct_digits, 8) & 0xFF)
            elif c2 in (0x0A, 0x0D):  # line continuation
                pass
            else:
                out.append(c2)
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
        else:
            out.append(c)
        i += 1
    return bytes(out), i


def _decode_pdf_bytes(b: bytes) -> str:
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", errors="replace")
    return b.decode("latin-1", errors="replace")


def _pdf_content_text(data: bytes) -> str:
    """Scan a decoded content stream for text-showing operators: Tj, ', ",
    and TJ arrays; Td/TD/T*/ET emit newlines. Best-effort for simple fonts
    (CID/ToUnicode remapping out of scope for the stdlib extractor)."""
    parts: list[str] = []
    strings: list[bytes] = []
    token = bytearray()
    i, n = 0, len(data)

    def flush_op():
        op = bytes(token).decode("latin-1", errors="replace")
        token.clear()
        if op in ("Tj", "'", '"') and strings:
            if op != "Tj":
                parts.append("\n")
            parts.append(_decode_pdf_bytes(strings[-1]))
            strings.clear()
        elif op == "TJ":
            parts.extend(_decode_pdf_bytes(s) for s in strings)
            strings.clear()
        elif op in ("Td", "TD", "T*", "ET"):
            if parts and parts[-1] != "\n":
                parts.append("\n")
            strings.clear()

    while i < n:
        c = data[i]
        if c == 0x28:  # (
            s, i = _pdf_string(data, i)
            strings.append(s)
            continue
        if c == 0x3C and i + 1 < n and data[i + 1] != 0x3C:  # <hex>
            j = data.find(b">", i)
            if j == -1:
                break
            hx = bytes(ch for ch in data[i + 1 : j] if chr(ch) in "0123456789abcdefABCDEF")
            if len(hx) % 2:
                hx += b"0"
            strings.append(bytes.fromhex(hx.decode()))
            i = j + 1
            continue
        if (0x41 <= c <= 0x5A) or (0x61 <= c <= 0x7A) or c in (0x27, 0x22, 0x2A):
            token.append(c)
        else:
            if token:
                flush_op()
        i += 1
    if token:
        flush_op()
    text = "".join(parts)
    return "\n".join(line.strip() for line in text.splitlines() if line.strip())


def _pdf_text(content: bytes) -> tuple[str, int]:
    """Extract (text, n_pages) from a PDF with stdlib only: FlateDecode
    streams via zlib, then the content-stream operator scan. Unencrypted
    PDFs with Flate or plain content streams; other filters are skipped."""
    import re
    import zlib

    texts = []
    for m in re.finditer(rb"<<(.*?)>>\s*stream\r?\n", content, re.S):
        head, start = m.group(1), m.end()
        end = content.find(b"endstream", start)
        if end == -1:
            continue
        raw = content[start:end]
        # /Length is authoritative when it's a plain integer: a Flate
        # payload may itself end in CR/LF (adler32 trailer), so trailing-EOL
        # stripping alone cannot distinguish data bytes from the single
        # EOL the spec allows before `endstream`. Indirect references
        # ("/Length 5 0 R") are NOT lengths — the lookahead rejects them
        # and the EOL heuristic below takes over.
        lm = re.search(rb"/Length\s+(\d+)(?!\s+\d+\s+R)", head)
        if lm and int(lm.group(1)) <= len(raw):
            raw = raw[: int(lm.group(1))]
        elif raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith((b"\n", b"\r")):
            raw = raw[:-1]
        if b"/FlateDecode" in head:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue
        elif b"/Filter" in head:
            continue  # unsupported filter (DCT, LZW, ...)
        if b"BT" in raw:
            t = _pdf_content_text(raw)
            if t:
                texts.append(t)
    n_pages = len(re.findall(rb"/Type\s*/Page[^s]", content))
    return "\n".join(texts), max(n_pages, 1 if texts else 0)


class PDFTextReader(BaseReader):
    """PDF text extraction with the stdlib only (zlib FlateDecode + content
    stream Tj/TJ operator scan) — parity: reference PDFTextReader /
    PDFPlumberReader (readers.py:2100-2116), which require pypdf/pdfplumber.
    Plumbing shape: binaryFile listing → Arrow-batched mapInPandas parse,
    one task per file group — the same distributed recipe as MarkdownReader.
    Scope: unencrypted PDFs, Flate/plain content streams, simple fonts
    (CID ToUnicode remapping needs a full pdf library)."""

    implements = {dt.PDF}

    def _read(self, spark, glob: str = "*.pdf", **kwargs):
        files = binary_files(spark, self.data.url, glob)
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("n_pages", T.IntegerType()),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                extracted = pdf["content"].map(_pdf_text)
                yield pd.DataFrame(
                    {
                        "path": pdf["path"],
                        "text": [t for t, _ in extracted],
                        "n_pages": pd.array([n for _, n in extracted], dtype="int32"),
                    }
                )

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class DOCX(dt.FileData):
    filepattern = r"docx$"
    magic = (b"PK\x03\x04",)
    structure = {"text"}


class EPUB(dt.FileData):
    filepattern = r"epub$"
    magic = (b"PK\x03\x04",)
    structure = {"text"}


class GeoJSON(dt.FileData):
    filepattern = r"(geojson|json)$"
    mimetypes = r"application/geo\+json"
    structure = {"nested", "table"}


def _docx_text(content: bytes) -> str:
    """Extract paragraph text from a DOCX (zip of OOXML): w:t runs joined,
    w:p boundaries → newlines. Stdlib zipfile + ElementTree."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    ns = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
    with zipfile.ZipFile(io.BytesIO(content)) as z:
        root = ET.fromstring(z.read("word/document.xml"))
    paras = []
    for p in root.iter(f"{ns}p"):
        runs = [t.text or "" for t in p.iter(f"{ns}t")]
        if runs:
            paras.append("".join(runs))
    return "\n".join(paras)


def _epub_text(content: bytes) -> str:
    """Extract text from an EPUB (zip of XHTML chapters): tags stripped
    with the stdlib HTMLParser, chapters in zip order."""
    import io
    import zipfile
    from html.parser import HTMLParser

    class Stripper(HTMLParser):
        def __init__(self):
            super().__init__()
            self.chunks: list[str] = []

        def handle_data(self, data):
            if data.strip():
                self.chunks.append(data.strip())

    out = []
    with zipfile.ZipFile(io.BytesIO(content)) as z:
        for name in z.namelist():
            if name.endswith((".xhtml", ".html", ".htm")):
                s = Stripper()
                s.feed(z.read(name).decode("utf-8", errors="replace"))
                out.extend(s.chunks)
    return "\n".join(out)


class _BinaryTextReader(BaseReader):
    """Shared shape: binaryFile scan → Arrow-batched text extraction →
    (path, text, n_chars). Subclasses provide the per-file extractor —
    the multimodal document-ingestion recipe (SURVEY §2.1 document rows)."""

    extractor = staticmethod(_text_of)
    glob = "*"

    def _read(self, spark, **kwargs):
        files = binary_files(spark, self.data.url, self.glob)
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        extractor = type(self).extractor

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                texts = pdf["content"].map(extractor)
                yield pd.DataFrame(
                    {"path": pdf["path"], "text": texts, "n_chars": texts.map(len)}
                )

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class DOCXReader(_BinaryTextReader):
    """DOCX text extraction, stdlib-only (parity: readers.py:2150)."""

    implements = {DOCX}
    extractor = staticmethod(_docx_text)
    glob = "*.docx"


class EPUBReader(_BinaryTextReader):
    """EPUB text extraction, stdlib-only (parity: readers.py:2136)."""

    implements = {EPUB}
    extractor = staticmethod(_epub_text)
    glob = "*.epub"


class GeoJSONReader(BaseReader):
    """GeoJSON FeatureCollection → (id, geometry_type, geometry, properties)
    rows; geometry kept as canonical JSON text (WKB conversion is a later
    UDF when a geo lib is present). Driver-side parse for single files;
    feature collections at bulk scale should be NDJSON → SparkJSON."""

    implements = {GeoJSON}
    lazy = False  # driver-side parse

    def _read(self, spark, **kwargs):
        with open(self.data.url, encoding="utf-8") as f:
            doc = json.load(f)
        feats = doc.get("features", [])
        rows = [
            {
                "id": str(f.get("id", i)),
                "geometry_type": (f.get("geometry") or {}).get("type", ""),
                "geometry": json.dumps(f.get("geometry"), sort_keys=True),
                "properties": json.dumps(f.get("properties") or {}, sort_keys=True),
            }
            for i, f in enumerate(feats)
        ]
        return spark.createDataFrame(
            rows or [{"id": "", "geometry_type": "", "geometry": "", "properties": ""}]
        )


def _col_index(cell_ref: str) -> int:
    """'BC12' → 0-based column index (54)."""
    col = 0
    for ch in cell_ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return col - 1


class XLSXReader(BaseReader):
    """Minimal .xlsx reader with NO external dependency: the file is a zip
    of OOXML parts; parse sharedStrings + the first worksheet with stdlib
    ElementTree. Covers inline/shared strings and numbers — the
    spreadsheet-as-small-table use case (parity: PandasExcel readers.py:319
    without the openpyxl requirement). First row = header."""

    implements = {dt.Excel}
    lazy = False  # driver-side parse

    def _read(self, spark, sheet_index: int = 0, **kwargs):
        import io
        import re
        import xml.etree.ElementTree as ET
        import zipfile

        ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
        with zipfile.ZipFile(self.data.url) as z:
            shared: list[str] = []
            if "xl/sharedStrings.xml" in z.namelist():
                root = ET.fromstring(z.read("xl/sharedStrings.xml"))
                for si in root.iter(f"{ns}si"):
                    shared.append("".join(t.text or "" for t in si.iter(f"{ns}t")))
            # numeric order: lexicographic sort puts sheet10 before sheet2
            sheets = sorted(
                (n for n in z.namelist() if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
                key=lambda n: int(re.search(r"sheet(\d+)", n).group(1)),
            )
            root = ET.fromstring(z.read(sheets[sheet_index]))

        rows: list[list] = []
        for row in root.iter(f"{ns}row"):
            out: dict[int, object] = {}
            for c in row.iter(f"{ns}c"):
                ref = c.get("r", "A1")
                ctype = c.get("t", "n")
                v = c.find(f"{ns}v")
                is_node = c.find(f"{ns}is")
                if ctype == "s" and v is not None:
                    val: object = shared[int(v.text)]
                elif ctype == "inlineStr" and is_node is not None:
                    val = "".join(t.text or "" for t in is_node.iter(f"{ns}t"))
                elif v is not None:
                    try:
                        val = float(v.text)
                    except (TypeError, ValueError):
                        val = v.text
                else:
                    val = None
                out[_col_index(ref)] = val
            width = max(out) + 1 if out else 0
            rows.append([out.get(i) for i in range(width)])

        header, *data = rows
        width = len(header)
        records = [
            {str(header[i]): (r[i] if i < len(r) else None) for i in range(width)}
            for r in data
        ]
        return spark.createDataFrame(records)


class GGUFMetadataReader(BaseReader):
    """GGUF header metadata → (key, value_type, value) rows. Parses the
    public GGUF v3 container layout (magic 'GGUF', little-endian header)
    directly with stdlib struct — metadata only, tensors untouched."""

    implements = {dt.GGUF}
    lazy = False  # driver-side parse

    _SIMPLE = {
        0: ("uint8", "<B", 1), 1: ("int8", "<b", 1), 2: ("uint16", "<H", 2),
        3: ("int16", "<h", 2), 4: ("uint32", "<I", 4), 5: ("int32", "<i", 4),
        6: ("float32", "<f", 4), 7: ("bool", "<B", 1), 10: ("uint64", "<Q", 8),
        11: ("int64", "<q", 8), 12: ("float64", "<d", 8),
    }

    def _read(self, spark, max_entries: int = 1000, **kwargs):
        rows = []
        with open(self.data.url, "rb") as f:
            magic = f.read(4)
            if magic != b"GGUF":
                raise ValueError(f"not a GGUF file: {self.data.url}")
            version, n_tensors, n_kv = struct.unpack("<IQQ", f.read(20))
            rows.append({"key": "__version__", "value_type": "uint32", "value": str(version)})
            rows.append({"key": "__n_tensors__", "value_type": "uint64", "value": str(n_tensors)})

            def read_str():
                (n,) = struct.unpack("<Q", f.read(8))
                return f.read(n).decode("utf-8", errors="replace")

            def read_val(vtype):
                if vtype in self._SIMPLE:
                    name, fmt, size = self._SIMPLE[vtype]
                    (v,) = struct.unpack(fmt, f.read(size))
                    return name, str(v)
                if vtype == 8:
                    return "string", read_str()
                if vtype == 9:  # array
                    etype, n = struct.unpack("<IQ", f.read(12))
                    vals = [read_val(etype)[1] for _ in range(min(n, 32))]
                    if n > 32:
                        # skip remaining elements without materializing
                        for _ in range(n - 32):
                            read_val(etype)
                    return "array", json.dumps(vals)
                raise ValueError(f"unknown GGUF value type {vtype}")

            for _ in range(min(n_kv, max_entries)):
                key = read_str()
                (vtype,) = struct.unpack("<I", f.read(4))
                name, val = read_val(vtype)
                rows.append({"key": key, "value_type": name, "value": val})
        return spark.createDataFrame(rows)


class SafeTensorsMetadataReader(BaseReader):
    """SafeTensors header → (tensor_name, dtype, shape, n_bytes) rows.
    The header is a length-prefixed JSON blob at the file start (public
    format spec) — stdlib-only parse, no tensor data read."""

    implements = {SafeTensors}
    lazy = False  # driver-side parse

    def _read(self, spark, **kwargs):
        with open(self.data.url, "rb") as f:
            (n,) = struct.unpack("<Q", f.read(8))
            header = json.loads(f.read(n))
        rows = []
        for name, info in header.items():
            if name == "__metadata__":
                continue
            start, end = info["data_offsets"]
            rows.append(
                {
                    "tensor_name": name,
                    "dtype": info["dtype"],
                    "shape": json.dumps(info["shape"]),
                    "n_bytes": end - start,
                }
            )
        return spark.createDataFrame(rows)


class ONNXModel(dt.FileData):
    """(parity: ONNXModel datatypes.py:1750)"""

    filepattern = r"onnx$"
    structure = {"model"}


class TorchScriptModel(dt.FileData):
    """(parity: TorchScriptModel datatypes.py:1763)"""

    filepattern = r"\.pt$"  # anchored: a bare "pt$" would claim .ppt/.ckpt
    magic = (b"PK\x03\x04",)
    structure = {"model"}


class ONNXMetadataReader(BaseReader):
    """ONNX model metadata → one row (ir_version, producer, opsets, graph
    name, n_nodes, inputs, outputs) with NO onnx/protobuf dependency: an
    .onnx file is a ModelProto protobuf, walked with the same wire-format
    parser as TFRecord (parity: ONNXReader family, readers.py:2548+,
    which needs onnxruntime). Metadata-only — enough to catalog models."""

    implements = {ONNXModel}
    lazy = False  # driver parse, size-capped (metadata lives up front)

    def _read(self, spark, max_bytes: int = 64 << 20, **kwargs):
        from intake_spark.mlds import _fields

        with open(self.data.url, "rb") as f:
            blob = f.read(max_bytes)
        meta = {
            "ir_version": None, "producer": "", "opset": [],
            "graph_name": "", "n_nodes": 0, "inputs": [], "outputs": [],
        }
        try:
            for field, _wt, payload in _fields(blob):
                if field == 1:
                    meta["ir_version"] = int(payload)
                elif field == 2:
                    meta["producer"] = payload.decode("utf-8", "replace")
                elif field == 8:  # opset_import: OperatorSetIdProto{domain=1, version=2}
                    ver = [int(p) for f2, _, p in _fields(payload) if f2 == 2]
                    meta["opset"].extend(ver)
                elif field == 7:  # graph: GraphProto
                    for f2, _wt2, p in _fields(payload):
                        # field 5 = initializer tensors (the weights): the
                        # walk yields them as slices but we never touch the
                        # payloads beyond this loop
                        if f2 == 1:
                            meta["n_nodes"] += 1
                        elif f2 == 2:
                            meta["graph_name"] = p.decode("utf-8", "replace")
                        elif f2 in (11, 12):  # input/output: ValueInfoProto{name=1}
                            for f3, _, q in _fields(p):
                                if f3 == 1:
                                    key = "inputs" if f2 == 11 else "outputs"
                                    meta[key].append(q.decode("utf-8", "replace"))
        except (IndexError, ValueError):
            pass  # truncated at max_bytes mid-message: report what we walked
        return local_frame(
            spark,
            [(meta["ir_version"], meta["producer"], meta["opset"],
              meta["graph_name"], meta["n_nodes"], meta["inputs"], meta["outputs"])],
            "ir_version long, producer string, opset array<long>, "
            "graph_name string, n_nodes long, inputs array<string>, outputs array<string>",
        )


class TorchScriptMetadataReader(BaseReader):
    """TorchScript archive metadata → one row (format version, members,
    total bytes, n_tensors). A .pt archive is a zip: stdlib zipfile lists
    members and reads the tiny version file (parity: TorchScript readers,
    readers.py:2548+, which need torch)."""

    implements = {TorchScriptModel}
    lazy = False

    def _read(self, spark, **kwargs):
        import zipfile

        with zipfile.ZipFile(self.data.url) as z:
            names = z.namelist()
            version = ""
            for n in names:
                if n.endswith("/version") or n == "version":
                    version = z.read(n).decode("ascii", "replace").strip()
                    break
            total = sum(i.file_size for i in z.infolist())
            n_tensors = sum(1 for n in names if "/data/" in n and not n.endswith("/"))
        return local_frame(
            spark, [(version, sorted(names), total, n_tensors)],
            "format_version string, members array<string>, total_bytes long, n_tensors long",
        )


class JoblibFile(dt.FileData):
    """(parity: JoblibFile datatypes.py:1774)"""

    filepattern = r"(joblib|pkl|pickle)$"
    structure = {"model"}


class JoblibMetadataReader(BaseReader):
    """Pickle/joblib artifact metadata WITHOUT executing the pickle:
    stdlib ``pickletools.genops`` walks the opcode stream and collects the
    classes the payload references (GLOBAL/STACK_GLOBAL), protocol and
    framing info — enough to catalog a model artifact and decide whether
    importing it is acceptable, with none of unpickling's arbitrary code
    execution (parity: JoblibReader readers.py:2548+, which executes the
    pickle via joblib.load)."""

    implements = {JoblibFile}
    lazy = False

    def _read(self, spark, max_bytes: int = 64 << 20, **kwargs):
        import pickletools

        with open(self.data.url, "rb") as f:
            blob = f.read(max_bytes)
        protocol = 0
        classes: list[str] = []
        stack: list[str] = []
        memo: dict = {}
        n_ops = 0
        try:
            for op, arg, _pos in pickletools.genops(blob):
                n_ops += 1
                if op.name == "PROTO":
                    protocol = int(arg)
                elif op.name == "GLOBAL":
                    classes.append(str(arg).replace(" ", "."))
                elif op.name in ("SHORT_BINUNICODE", "BINUNICODE", "UNICODE"):
                    stack.append(str(arg))
                elif op.name == "MEMOIZE":
                    if stack:
                        memo[len(memo)] = stack[-1]
                    else:
                        memo[len(memo)] = None
                elif op.name in ("PUT", "BINPUT", "LONG_BINPUT"):
                    memo[int(arg)] = stack[-1] if stack else None
                elif op.name in ("GET", "BINGET", "LONG_BINGET"):
                    v = memo.get(int(arg))
                    if isinstance(v, str):
                        stack.append(v)
                elif op.name == "STACK_GLOBAL":
                    # module/name are the two strings on top (pushed
                    # directly or re-pushed from the memo above); consume
                    # them so later payload strings can't pair up wrongly
                    if len(stack) >= 2:
                        classes.append(f"{stack[-2]}.{stack[-1]}")
                        del stack[-2:]
                elif op.name == "STOP":
                    break
        except ValueError:
            pass  # genops on a truncated/corrupt tail: report what was walked
        seen: list[str] = []
        for c in classes:
            if c not in seen:
                seen.append(c)
        return local_frame(
            spark, [(protocol, seen, n_ops, len(blob))],
            "protocol long, classes array<string>, n_ops long, bytes_scanned long",
        )


# ---------------------------------------------------------------------------
# MessagePack — stdlib wire-format decoder (parity: MessagePackReader,
# /root/reference/intake/readers/readers.py msgpack.unpack path; the public
# format spec is implemented directly, no msgpack package).
# ---------------------------------------------------------------------------


class MessagePack(dt.FileData):
    filepattern = r"(msgpack|msgpk|mpack)$"
    structure = {"table", "nested"}


def _mp_decode(buf: bytes, pos: int):
    """Decode one msgpack object at ``pos``; returns (obj, next_pos).
    Ext types come back as opaque (type, bytes) tuples."""
    b = buf[pos]
    pos += 1
    if b <= 0x7F:  # positive fixint
        return b, pos
    if b >= 0xE0:  # negative fixint
        return b - 0x100, pos
    if 0x80 <= b <= 0x8F:  # fixmap
        return _mp_map(buf, pos, b & 0x0F)
    if 0x90 <= b <= 0x9F:  # fixarray
        return _mp_array(buf, pos, b & 0x0F)
    if 0xA0 <= b <= 0xBF:  # fixstr
        n = b & 0x1F
        return buf[pos : pos + n].decode("utf-8", "replace"), pos + n
    import struct as _s

    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b in (0xC4, 0xC5, 0xC6):  # bin 8/16/32
        w = 1 << (b - 0xC4)
        n = int.from_bytes(buf[pos : pos + w], "big")
        pos += w
        return bytes(buf[pos : pos + n]), pos + n
    if b in (0xC7, 0xC8, 0xC9):  # ext 8/16/32
        w = 1 << (b - 0xC7)
        n = int.from_bytes(buf[pos : pos + w], "big")
        pos += w
        t = buf[pos]
        pos += 1
        return (t, bytes(buf[pos : pos + n])), pos + n
    if b == 0xCA:
        return _s.unpack_from(">f", buf, pos)[0], pos + 4
    if b == 0xCB:
        return _s.unpack_from(">d", buf, pos)[0], pos + 8
    if b in (0xCC, 0xCD, 0xCE, 0xCF):  # uint 8/16/32/64
        w = 1 << (b - 0xCC)
        return int.from_bytes(buf[pos : pos + w], "big"), pos + w
    if b in (0xD0, 0xD1, 0xD2, 0xD3):  # int 8/16/32/64
        w = 1 << (b - 0xD0)
        return int.from_bytes(buf[pos : pos + w], "big", signed=True), pos + w
    if 0xD4 <= b <= 0xD8:  # fixext 1/2/4/8/16
        n = 1 << (b - 0xD4)
        t = buf[pos]
        pos += 1
        return (t, bytes(buf[pos : pos + n])), pos + n
    if b in (0xD9, 0xDA, 0xDB):  # str 8/16/32
        w = 1 << (b - 0xD9)
        n = int.from_bytes(buf[pos : pos + w], "big")
        pos += w
        return buf[pos : pos + n].decode("utf-8", "replace"), pos + n
    if b in (0xDC, 0xDD):  # array 16/32
        w = 2 << (b - 0xDC)
        n = int.from_bytes(buf[pos : pos + w], "big")
        return _mp_array(buf, pos + w, n)
    if b in (0xDE, 0xDF):  # map 16/32
        w = 2 << (b - 0xDE)
        n = int.from_bytes(buf[pos : pos + w], "big")
        return _mp_map(buf, pos + w, n)
    raise ValueError(f"invalid msgpack type byte 0x{b:02x} at offset {pos - 1}")


def _mp_array(buf, pos, n):
    out = []
    for _ in range(n):
        v, pos = _mp_decode(buf, pos)
        out.append(v)
    return out, pos


def _mp_map(buf, pos, n):
    out = {}
    for _ in range(n):
        k, pos = _mp_decode(buf, pos)
        v, pos = _mp_decode(buf, pos)
        out[k if isinstance(k, (str, int, bool)) else str(k)] = v
    return out, pos


def _mp_rows(content: bytes) -> list[dict]:
    """Row model: a stream of top-level objects; ONE top-level array
    unwraps to its elements (both layouts exist in the wild). Map rows
    keep their keys; scalar/array rows become {"value": ...}."""
    objs = []
    pos = 0
    while pos < len(content):
        obj, pos = _mp_decode(content, pos)
        objs.append(obj)
    if len(objs) == 1 and isinstance(objs[0], list):
        objs = objs[0]
    return [o if isinstance(o, dict) else {"value": o} for o in objs]


class MessagePackReader(BaseReader):
    """MessagePack file(s) → rows, stdlib wire-format decode.

    Schema-on-read: the driver decodes the first ``schema_sample_files``
    files (default 8 — one file misses columns that only appear later in
    the listing) to fix the column set and types (string/long/double/
    boolean; anything nested renders as a JSON string — msgpack is
    schemaless, Spark is not), or takes an explicit ``schema=`` mapping
    ``{column: kind}`` to skip sampling entirely. Every file then decodes
    executor-side via the binaryFile listing + Arrow-batched mapInPandas —
    per-file parallel, the same scale shape as the other document readers
    (msgpack has no split points inside a file). Values whose wire type
    disagrees with the inferred column kind are coerced explicitly
    (bool↔long, integral float→long, unrepresentable → null), never passed
    through as a mistyped Python object."""

    implements = {MessagePack}
    glob = "*.msgpack"

    def _read(
        self,
        spark,
        schema: dict[str, str] | None = None,
        schema_sample_files: int = 8,
        **kwargs,
    ):
        import glob as _glob
        import os

        url = self.data.url
        if os.path.isdir(url):
            listing = sorted(_glob.glob(os.path.join(url, self.glob)))
        else:
            listing = sorted(_glob.glob(url)) or [url]
        if schema is not None:
            bad = {k: t for k, t in schema.items()
                   if t not in ("boolean", "long", "double", "string")}
            if bad:
                raise ValueError(f"schema kinds must be boolean/long/double/string: {bad}")
            cols = dict(schema)
        else:
            cols = {}
            for path in listing[: max(1, schema_sample_files)]:
                with open(path, "rb") as f:
                    sample = _mp_rows(f.read())
                for row in sample:
                    for k, v in row.items():
                        if v is None:  # nulls carry no type evidence
                            cols.setdefault(str(k), "")
                            continue
                        t = (
                            "boolean" if isinstance(v, bool)
                            else "long" if isinstance(v, int)
                            else "double" if isinstance(v, float)
                            else "string"
                        )
                        prev = cols.get(str(k), "")
                        if prev in ("", t):
                            cols[str(k)] = t
                        else:  # mixed types widen
                            cols[str(k)] = "double" if {prev, t} == {"long", "double"} else "string"
            # keys only ever seen null stay string
            cols = {k: (t or "string") for k, t in cols.items()}
        if not cols:
            raise ValueError(f"{listing[0]}: no msgpack objects found")
        schema = T.StructType(
            [T.StructField("path", T.StringType())]
            + [T.StructField(k, getattr(T, {
                "boolean": "BooleanType", "long": "LongType",
                "double": "DoubleType", "string": "StringType"}[t])())
               for k, t in cols.items()]
        )
        names = list(cols)
        kinds = dict(cols)

        files = binary_files(spark, url, self.glob)

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json as _json

            def cell(v, kind):
                if v is None:
                    return None
                if kind == "string":
                    if isinstance(v, str):
                        return v
                    if isinstance(v, bytes):
                        return v.hex()
                    return _json.dumps(v, default=str)
                if kind == "double":
                    if isinstance(v, bool):
                        return float(v)
                    if isinstance(v, (int, float)):
                        return float(v)
                    return None
                if kind == "long":
                    if isinstance(v, bool):
                        return int(v)
                    if isinstance(v, float):
                        return int(v) if v.is_integer() else None
                    if isinstance(v, int):
                        return v
                    return None
                if kind == "boolean":
                    if isinstance(v, bool):
                        return v
                    if isinstance(v, int):
                        return bool(v)
                    return None
                return v

            for pdf in batches:
                for path, content in zip(pdf["path"], pdf["content"]):
                    rows = _mp_rows(bytes(content))
                    data = {"path": [path] * len(rows)}
                    for k in names:
                        data[k] = [cell(r.get(k), kinds[k]) for r in rows]
                    yield pd.DataFrame(data)

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


# ---------------------------------------------------------------------------
# Legacy Excel .xls — OLE2/CFB container + BIFF8 records, stdlib-only
# (parity: PandasExcel's xlrd path, reference readers.py:319; the public
# [MS-CFB] and [MS-XLS] layouts are implemented directly).
# ---------------------------------------------------------------------------


class XLS(dt.FileData):
    filepattern = r"xls$"
    magic = (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",)
    structure = {"table"}


_CFB_END = 0xFFFFFFFE  # ENDOFCHAIN
_CFB_FREE = 0xFFFFFFFF


def _cfb_streams(data: bytes) -> dict[str, bytes]:
    """[MS-CFB] compound file → {stream name: bytes}. Regular FAT chains
    for streams >= the mini cutoff, miniFAT chains inside the root's mini
    stream below it; DIFAT continuation sectors supported."""
    import struct as _s

    if data[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        raise ValueError("not an OLE2 compound file")
    (shift,) = _s.unpack_from("<H", data, 30)
    ssz = 1 << shift
    (n_fat,) = _s.unpack_from("<I", data, 44)
    (first_dir,) = _s.unpack_from("<I", data, 48)
    (cutoff,) = _s.unpack_from("<I", data, 56)
    (first_minifat,) = _s.unpack_from("<I", data, 60)
    (first_difat,) = _s.unpack_from("<I", data, 68)
    (n_difat,) = _s.unpack_from("<I", data, 72)

    def sector(n: int) -> bytes:
        # MS-CFB: sector n starts at (n+1)*sector_size — the header
        # occupies one FULL sector, so v4 files (4096) do NOT start data
        # at 512 (for v3 the two formulas coincide)
        off = (n + 1) * ssz
        return data[off : off + ssz]

    difat = list(_s.unpack_from("<109I", data, 76))
    nxt = first_difat
    for _ in range(n_difat):
        raw = sector(nxt)
        vals = _s.unpack(f"<{ssz // 4}I", raw)
        difat.extend(vals[:-1])
        nxt = vals[-1]
        if nxt in (_CFB_END, _CFB_FREE):
            break
    fat_sectors = [d for d in difat[:n_fat] if d not in (_CFB_END, _CFB_FREE)]
    fat_raw = b"".join(sector(n) for n in fat_sectors)
    fat = _s.unpack(f"<{len(fat_raw) // 4}I", fat_raw)

    def chain(start: int, table) -> list[int]:
        out, n, hops = [], start, 0
        while n not in (_CFB_END, _CFB_FREE) and n < len(table):
            out.append(n)
            n = table[n]
            hops += 1
            if hops > len(table) + 1:
                raise ValueError("CFB chain cycle")
        return out

    directory = b"".join(sector(n) for n in chain(first_dir, fat))
    entries = []
    for off in range(0, len(directory) - 127, 128):
        e = directory[off : off + 128]
        (name_len,) = _s.unpack_from("<H", e, 64)
        etype = e[66]
        if etype == 0 or name_len < 2:
            continue
        name = e[: name_len - 2].decode("utf-16-le", "replace")
        (start,) = _s.unpack_from("<I", e, 116)
        (size,) = _s.unpack_from("<Q", e, 120)
        entries.append((name, etype, start, size))
    root = next((e for e in entries if e[1] == 5), None)
    mini_stream = b""
    minifat: tuple = ()
    if root is not None and root[2] not in (_CFB_END, _CFB_FREE):
        mini_stream = b"".join(sector(n) for n in chain(root[2], fat))[: root[3]]
    if first_minifat not in (_CFB_END, _CFB_FREE):
        mf_raw = b"".join(sector(n) for n in chain(first_minifat, fat))
        minifat = _s.unpack(f"<{len(mf_raw) // 4}I", mf_raw)

    out: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != 2:
            continue
        if size < cutoff:
            secs = chain(start, minifat) if minifat else []
            blob = b"".join(mini_stream[n * 64 : (n + 1) * 64] for n in secs)
        else:
            blob = b"".join(sector(n) for n in chain(start, fat))
        out[name] = blob[:size]
    return out


def _biff_records(buf: bytes, pos: int = 0):
    import struct as _s

    while pos + 4 <= len(buf):
        op, ln = _s.unpack_from("<HH", buf, pos)
        if op == 0:
            return
        yield op, buf[pos + 4 : pos + 4 + ln], pos
        pos += 4 + ln


class _SSTCursor:
    """Reader over SST + CONTINUE payloads: fixed-width fields never span
    a boundary in valid files; character runs MAY, and each continuation
    restarts with a fresh encoding-flags byte ([MS-XLS] 2.5.293)."""

    def __init__(self, chunks: list[bytes]):
        self.chunks, self.ci, self.pos = chunks, 0, 0

    def _avail(self) -> int:
        return len(self.chunks[self.ci]) - self.pos

    def _hop(self) -> None:
        while self.ci < len(self.chunks) and self._avail() == 0:
            self.ci += 1
            self.pos = 0

    def read(self, n: int) -> bytes:
        self._hop()
        if self._avail() < n:
            raise ValueError("SST field spans a CONTINUE boundary")
        b = self.chunks[self.ci][self.pos : self.pos + n]
        self.pos += n
        return b

    def read_chars(self, cch: int, high: bool) -> str:
        out = []
        while cch > 0:
            self._hop()
            if self.ci >= len(self.chunks):
                raise ValueError("SST truncated")
            if self.pos == 0 and out:
                # continuation: fresh flags byte decides the width
                high = bool(self.chunks[self.ci][0] & 1)
                self.pos = 1
            width = 2 if high else 1
            take = min(cch, self._avail() // width)
            raw = self.chunks[self.ci][self.pos : self.pos + take * width]
            out.append(raw.decode("utf-16-le" if high else "latin-1", "replace"))
            self.pos += take * width
            cch -= take
        return "".join(out)

    def skip(self, n: int) -> None:
        while n > 0:
            self._hop()
            take = min(n, self._avail())
            self.pos += take
            n -= take


def _parse_sst(chunks: list[bytes]) -> list[str]:
    import struct as _s

    cur = _SSTCursor(chunks)
    _total, unique = _s.unpack("<II", cur.read(8))
    out = []
    for _ in range(unique):
        (cch,) = _s.unpack("<H", cur.read(2))
        grbit = cur.read(1)[0]
        crun = _s.unpack("<H", cur.read(2))[0] if grbit & 0x08 else 0
        cb_ext = _s.unpack("<I", cur.read(4))[0] if grbit & 0x04 else 0
        out.append(cur.read_chars(cch, bool(grbit & 0x01)))
        cur.skip(crun * 4 + cb_ext)
    return out


def _rk_value(rk: int) -> float:
    import struct as _s

    val: float
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val = float(v)
    else:  # top 30 bits of an IEEE double
        val = _s.unpack("<d", b"\x00\x00\x00\x00" + _s.pack("<I", rk & 0xFFFFFFFC))[0]
    return val / 100.0 if rk & 0x01 else val


class XLSReader(BaseReader):
    """Legacy .xls → DataFrame, stdlib-only: CFB container walk to the
    Workbook stream, BIFF8 record parse (SST incl. CONTINUE character
    spans, LABELSST/NUMBER/RK/MULRK/BOOLERR, cached FORMULA doubles,
    BOUNDSHEET substream offsets). ``sheet_index`` selects a sheet;
    first row = header (the XLSXReader contract)."""

    implements = {XLS}
    lazy = False  # driver-side parse (spreadsheets are small data)

    def _read(self, spark, sheet_index: int = 0, **kwargs):
        import struct as _s

        with open(self.data.url, "rb") as f:
            streams = _cfb_streams(f.read())
        wb = streams.get("Workbook") or streams.get("Book")
        if wb is None:
            raise ValueError(
                f"no Workbook/Book stream in {self.data.url} "
                f"(streams: {sorted(streams)})"
            )
        # globals substream: SST (+ its CONTINUEs) and sheet offsets
        sst_chunks: list[bytes] = []
        sheets: list[tuple[int, str]] = []
        collecting_sst = False
        for op, payload, _off in _biff_records(wb):
            if op == 0xFC:
                sst_chunks = [payload]
                collecting_sst = True
            elif op == 0x3C and collecting_sst:
                sst_chunks.append(payload)
            else:
                collecting_sst = False
                if op == 0x85:  # BOUNDSHEET
                    (bof_off,) = _s.unpack_from("<I", payload, 0)
                    cch = payload[6]
                    high = bool(payload[7] & 1)
                    raw = payload[8 : 8 + cch * (2 if high else 1)]
                    name = raw.decode("utf-16-le" if high else "latin-1", "replace")
                    sheets.append((bof_off, name))
                elif op == 0x0A:  # EOF of globals
                    break
        sst = _parse_sst(sst_chunks) if sst_chunks else []
        if not sheets:
            raise ValueError("no BOUNDSHEET records (not a BIFF8 workbook?)")
        if sheet_index >= len(sheets):
            raise IndexError(f"sheet_index {sheet_index} >= {len(sheets)} sheets")
        self.data.metadata["sheets"] = [n for _o, n in sheets]

        cells: dict[tuple[int, int], object] = {}
        for op, payload, _off in _biff_records(wb, sheets[sheet_index][0]):
            if op == 0x0A:  # sheet EOF
                break
            if op == 0xFD:  # LABELSST
                row, col, _xf, isst = _s.unpack_from("<HHHI", payload)
                cells[(row, col)] = sst[isst] if isst < len(sst) else None
            elif op == 0x0203:  # NUMBER
                row, col, _xf = _s.unpack_from("<HHH", payload)
                cells[(row, col)] = _s.unpack_from("<d", payload, 6)[0]
            elif op == 0x027E:  # RK
                row, col, _xf, rk = _s.unpack_from("<HHHI", payload)
                cells[(row, col)] = _rk_value(rk)
            elif op == 0x00BD:  # MULRK
                row, col_first = _s.unpack_from("<HH", payload)
                n = (len(payload) - 6) // 6
                for i in range(n):
                    (rk,) = _s.unpack_from("<I", payload, 4 + i * 6 + 2)
                    cells[(row, col_first + i)] = _rk_value(rk)
            elif op == 0x0205:  # BOOLERR
                row, col, _xf, v, is_err = _s.unpack_from("<HHHBB", payload)
                cells[(row, col)] = None if is_err else bool(v)
            elif op == 0x0006:  # FORMULA: cached numeric results only
                row, col, _xf = _s.unpack_from("<HHH", payload)
                num = payload[6:14]
                if num[6:8] != b"\xff\xff":
                    cells[(row, col)] = _s.unpack("<d", num)[0]
        if not cells:
            raise ValueError("sheet has no decodable cells")
        n_rows = max(r for r, _c in cells) + 1
        n_cols = max(c for _r, c in cells) + 1
        grid = [[cells.get((r, c)) for c in range(n_cols)] for r in range(n_rows)]
        header, *data_rows = grid
        records = [
            {str(header[i]): row[i] for i in range(n_cols)} for row in data_rows
        ]
        return spark.createDataFrame(records)


# ---------------------------------------------------------------------------
# OpenDocument spreadsheet .ods — zip + content.xml (parity: PandasExcel's
# odf engine path, reference readers.py:319; stdlib zipfile+ElementTree).
# ---------------------------------------------------------------------------


class ODS(dt.FileData):
    filepattern = r"ods$"
    magic = (b"PK\x03\x04",)
    structure = {"table"}


class ODSReader(BaseReader):
    """OpenDocument spreadsheet → DataFrame: content.xml table walk with
    number-columns-repeated expansion and typed office:value cells
    (float/boolean/string). First row = header (the XLSX/XLS contract);
    ``sheet_index`` selects a table."""

    implements = {ODS}
    lazy = False  # driver-side parse

    def _read(self, spark, sheet_index: int = 0, max_repeat: int = 4096, **kwargs):
        import xml.etree.ElementTree as ET
        import zipfile

        OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
        TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
        TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
        with zipfile.ZipFile(self.data.url) as z:
            root = ET.fromstring(z.read("content.xml"))
        tables = root.iter(f"{TABLE}table")
        table = None
        for i, t in enumerate(tables):
            if i == sheet_index:
                table = t
                break
        if table is None:
            raise IndexError(f"no table at sheet_index {sheet_index}")
        self.data.metadata["sheet"] = table.get(f"{TABLE}name", "")

        rows: list[list] = []
        for tr in table.iter(f"{TABLE}table-row"):
            out: list = []
            for c in tr:
                if c.tag != f"{TABLE}table-cell":
                    continue
                # trailing filler cells repeat to the column max (32k);
                # cap so empty padding doesn't explode the grid
                rep = min(int(c.get(f"{TABLE}number-columns-repeated", 1)), max_repeat)
                vtype = c.get(f"{OFFICE}value-type")
                if vtype == "float":
                    val: object = float(c.get(f"{OFFICE}value"))
                elif vtype == "boolean":
                    val = c.get(f"{OFFICE}boolean-value") == "true"
                elif vtype is not None:
                    val = "".join(
                        "".join(p.itertext()) for p in c.iter(f"{TEXT}p")
                    ) or c.get(f"{OFFICE}value")
                else:
                    val = None
                out.extend([val] * rep)
            while out and out[-1] is None:
                out.pop()
            # writers run-length-encode consecutive identical ROWS too
            # (table:number-rows-repeated) — expand, same cap as columns
            row_rep = min(
                int(tr.get(f"{TABLE}number-rows-repeated", 1)), max_repeat
            )
            rows.extend([out] * row_rep)
        while rows and not rows[-1]:
            rows.pop()
        if not rows:
            raise ValueError("empty spreadsheet")
        header, *data_rows = rows
        width = len(header)
        records = [
            {str(header[i]): (r[i] if i < len(r) else None) for i in range(width)}
            for r in data_rows
        ]
        return spark.createDataFrame(records)


# ---------------------------------------------------------------------------
# Round-5 long-tail document/config/model datatypes (closing the reference
# datatypes.py inventory): reStructuredText, SVG, SDF (chemistry), YAML
# config, Python source, pickle (gated by allow_pickle).
# ---------------------------------------------------------------------------


class ReStructuredText(dt.FileData):
    filepattern = r"rst$"
    structure = {"text"}


class ReStructuredTextReader(BaseReader):
    """reST files → (path, text, n_sections, title) rows — the Markdown
    reader's contract for underline/overline-style headings (parity:
    datatypes.py ReStructuredText)."""

    implements = {ReStructuredText}

    def _read(self, spark, **kwargs):
        files = binary_files(spark, self.data.url, "*.rst")
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("n_sections", T.IntegerType()),
                T.StructField("title", T.StringType()),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            adorn = set("=-`:'\"~^_*+#<>")

            def sections(t: str) -> list[str]:
                lines = t.splitlines()
                out = []
                for i in range(1, len(lines)):
                    ln, above = lines[i].rstrip(), lines[i - 1].strip()
                    if (
                        above
                        and len(ln) >= len(above) > 0
                        and len(set(ln)) == 1
                        and ln[0] in adorn
                    ):
                        out.append(above)
                return out

            for pdf in batches:
                texts = pdf["content"].map(_text_of)
                secs = texts.map(sections)
                yield pd.DataFrame(
                    {
                        "path": pdf["path"],
                        "text": texts,
                        "n_sections": pd.array([len(s) for s in secs], dtype="int32"),
                        "title": [s[0] if s else "" for s in secs],
                    }
                )

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class SVG(dt.FileData):
    filepattern = r"svg$"
    mimetypes = r"image/svg\+xml"
    contains = (b"<svg",)
    structure = {"image", "text"}


class SVGReader(BaseReader):
    """SVG documents → (path, width, height, viewbox, n_elements,
    element_counts) rows via executor-side ElementTree (parity:
    datatypes.py SVGFile; the reference hands these to cairosvg/PIL —
    here the XML structure itself is the typed metadata)."""

    implements = {SVG}

    def _read(self, spark, **kwargs):
        files = binary_files(spark, self.data.url, "*.svg")
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("width", T.StringType()),
                T.StructField("height", T.StringType()),
                T.StructField("viewbox", T.StringType()),
                T.StructField("n_elements", T.IntegerType()),
                T.StructField("element_counts", T.MapType(T.StringType(), T.IntegerType())),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import xml.etree.ElementTree as ET

            for pdf in batches:
                rows = {k: [] for k in ("width", "height", "viewbox", "n_elements", "element_counts")}
                for content in pdf["content"]:
                    root = ET.fromstring(bytes(content))
                    counts: dict[str, int] = {}
                    n = 0
                    for el in root.iter():
                        tag = el.tag.rsplit("}", 1)[-1]
                        counts[tag] = counts.get(tag, 0) + 1
                        n += 1
                    rows["width"].append(root.get("width", ""))
                    rows["height"].append(root.get("height", ""))
                    rows["viewbox"].append(root.get("viewBox", ""))
                    rows["n_elements"].append(n)
                    rows["element_counts"].append(counts)
                yield pd.DataFrame({"path": pdf["path"], **rows})

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class SDF(dt.FileData):
    """Chemistry structure-data files ($$$$-delimited molfiles)."""

    filepattern = r"sdf$"
    structure = {"table", "nested"}


class SDFReader(BaseReader):
    """SDF → one row per molecule: (path, mol_index, title, n_atoms,
    n_bonds, properties map) from the V2000 counts line and the
    ``> <tag>`` data items (parity: datatypes.py SDFFile — the reference
    delegates to RDKit; the container format itself is plain text)."""

    implements = {SDF}

    def _read(self, spark, **kwargs):
        files = binary_files(spark, self.data.url, "*.sdf")
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("mol_index", T.IntegerType()),
                T.StructField("title", T.StringType()),
                T.StructField("n_atoms", T.IntegerType()),
                T.StructField("n_bonds", T.IntegerType()),
                T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = {k: [] for k in ("path", "mol_index", "title", "n_atoms", "n_bonds", "properties")}
                for path, content in zip(pdf["path"], pdf["content"]):
                    text = _text_of(content)
                    for mi, block in enumerate(b for b in text.split("$$$$") if b.strip()):
                        lines = block.lstrip("\n").splitlines()
                        title = lines[0].strip() if lines else ""
                        na = nb = 0
                        if len(lines) > 3:
                            counts = lines[3]
                            try:
                                na, nb = int(counts[0:3]), int(counts[3:6])
                            except ValueError:
                                pass
                        props: dict[str, str] = {}
                        key = None
                        vals: list[str] = []
                        for ln in lines:
                            if ln.startswith(">"):
                                if key is not None:
                                    props[key] = "\n".join(vals).strip()
                                lo, hi = ln.find("<"), ln.rfind(">")
                                key = ln[lo + 1 : hi] if 0 <= lo < hi else ln[1:].strip()
                                vals = []
                            elif key is not None:
                                vals.append(ln)
                        if key is not None:
                            props[key] = "\n".join(vals).strip()
                        out["path"].append(path)
                        out["mol_index"].append(mi)
                        out["title"].append(title)
                        out["n_atoms"].append(na)
                        out["n_bonds"].append(nb)
                        out["properties"].append(props)
                yield pd.DataFrame(out)

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class YAMLFile(dt.FileData):
    filepattern = r"ya?ml$"
    structure = {"nested", "structured"}


class YAMLConfigReader(BaseReader):
    """YAML documents → flattened (path, key, value) rows, the TOML/INI
    config contract (parity: datatypes.py YAMLFile). NOT for catalog
    files — ``open_catalog`` owns those; this is the generic-config
    surface. safe_load only."""

    implements = {YAMLFile}
    priority = -1  # catalog YAML routes to open_catalog first

    def _read(self, spark, **kwargs):
        import yaml as _yaml

        # both spellings — the YAMLFile filepattern accepts .yml too, and
        # Hadoop glob syntax supports alternation
        files = binary_files(spark, self.data.url, "*.{yaml,yml}")
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                paths, keys, vals = [], [], []
                for path, content in zip(pdf["path"], pdf["content"]):
                    doc = _yaml.safe_load(_text_of(content))
                    if isinstance(doc, dict):
                        for k, v in _flatten(doc):
                            paths.append(path)
                            keys.append(k)
                            vals.append(v)
                yield pd.DataFrame({"path": paths, "key": keys, "value": vals})

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class PythonSourceCode(dt.FileData):
    filepattern = r"py$"
    structure = {"code", "text"}


class PythonSourceReader(BaseReader):
    """Python sources → (path, n_lines, n_functions, n_classes, imports)
    via executor-side ``ast`` parse (parity: datatypes.py
    PythonSourceCode) — the code-corpus analysis row shape."""

    implements = {PythonSourceCode}

    def _read(self, spark, **kwargs):
        files = binary_files(spark, self.data.url, "*.py")
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("n_lines", T.IntegerType()),
                T.StructField("n_functions", T.IntegerType()),
                T.StructField("n_classes", T.IntegerType()),
                T.StructField("imports", T.ArrayType(T.StringType())),
                T.StructField("syntax_ok", T.BooleanType()),
            ]
        )

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import ast

            for pdf in batches:
                rows = {k: [] for k in ("n_lines", "n_functions", "n_classes", "imports", "syntax_ok")}
                for content in pdf["content"]:
                    text = _text_of(content)
                    rows["n_lines"].append(text.count("\n") + 1)
                    try:
                        tree = ast.parse(text)
                        funcs = classes = 0
                        imports: list[str] = []
                        for node in ast.walk(tree):
                            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                                funcs += 1
                            elif isinstance(node, ast.ClassDef):
                                classes += 1
                            elif isinstance(node, ast.Import):
                                imports.extend(a.name for a in node.names)
                            elif isinstance(node, ast.ImportFrom) and node.module:
                                imports.append(node.module)
                        rows["n_functions"].append(funcs)
                        rows["n_classes"].append(classes)
                        rows["imports"].append(sorted(set(imports)))
                        rows["syntax_ok"].append(True)
                    except SyntaxError:
                        rows["n_functions"].append(0)
                        rows["n_classes"].append(0)
                        rows["imports"].append([])
                        rows["syntax_ok"].append(False)
                yield pd.DataFrame({"path": pdf["path"], **rows})

        return map_in_pandas(files.select("path", "content"), parse, schema=schema)


class PickleFile(dt.FileData):
    filepattern = r"(pkl|pickle)$"
    magic = (b"\x80",)
    structure = {"structured"}


class PickleReader(BaseReader):
    """Pickle → rows, DRIVER-side and gated by ``conf["allow_pickle"]``
    exactly like the catalog templating layer (unpickling is arbitrary
    code execution; parity: datatypes.py PickleFile + the reference's
    allow_pickle security posture). List-of-dicts pickles become rows;
    anything else becomes one (value repr) row."""

    implements = {PickleFile}
    lazy = False

    def _read(self, spark, **kwargs):
        import pickle

        from intake_spark.config import conf

        if not conf.get("allow_pickle"):
            raise PermissionError(
                "unpickling is disabled (conf['allow_pickle']=False); enable "
                "it only for trusted files — pickle runs arbitrary code"
            )
        with open(self.data.url, "rb") as f:
            obj = pickle.load(f)
        if isinstance(obj, list) and obj and all(isinstance(r, dict) for r in obj):
            return spark.createDataFrame(obj)
        return spark.createDataFrame([{"value": repr(obj)}])


class PythonModuleReader(BaseReader):
    """Execute a Python source file as a module object, DRIVER-side and
    gated by ``conf["allow_import"]`` like the catalog templating layer
    (parity: reference readers.py:1277 PythonModule, which exec()s the
    file unconditionally — here it is opt-in, matching the repo's
    security posture). Returns the module itself, not a DataFrame:
    ``output_instance`` parity with the reference (builtins:module)."""

    implements = {PythonSourceCode}
    lazy = False

    def _read(self, spark=None, module_name: str | None = None, **kwargs):
        from types import ModuleType

        from intake_spark.config import conf

        if not conf.get("allow_import"):
            raise PermissionError(
                "module execution is disabled (conf['allow_import']=False); "
                "enable it only for trusted files — importing runs the code"
            )
        url = self.data.url
        if module_name is None:
            module_name = url.rsplit("/", 1)[-1].split(".", 1)[0]
        with open(url, "rt") as f:
            mod = ModuleType(module_name)
            exec(compile(f.read(), url, "exec"), mod.__dict__)
            return mod
