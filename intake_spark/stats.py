"""Statistical-package file readers: Stata / SAS / SPSS via pandas
(parity: PandasStataReader / PandasSASReader / PandasSPSSReader /
PyreadstatReader, intake/readers/readers.py:2394-2454).

pandas reads Stata and SAS natively (no extra package); SPSS needs
pyreadstat and stays import-gated. These are driver-side parses
(``lazy = False``): stats files are survey/panel-sized by nature, and the
reference's pandas readers have the same cost model. A directory of many
files distributes via the ``pattern`` kwarg (binaryFile + mapInPandas).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from intake_spark import datatypes as dt
from intake_spark.readers import BaseReader
from intake_spark.session import map_in_pandas


class Stata(dt.FileData):
    filepattern = r"dta$"
    structure = {"table"}


class SAS(dt.FileData):
    filepattern = r"(sas7bdat|xpt)$"
    structure = {"table"}


class SPSS(dt.FileData):
    filepattern = r"(sav|zsav)$"
    magic = (b"$FL2",)
    structure = {"table"}


class _PandasFileReader(BaseReader):
    """Shared recipe: single file → driver pandas parse → createDataFrame;
    many files (url contains a glob) → binaryFile + Arrow-batched parse."""

    lazy = False
    _parse = None  # staticmethod(bytes -> pandas.DataFrame), set by subclass

    def _read(self, spark, **kwargs):
        import os

        url = self.data.url
        if "*" not in url and os.path.isdir(url):
            url = os.path.join(url, "*")  # directory → distributed glob read
        if "*" not in url:
            pdf = type(self)._parse(open(url, "rb").read(), **kwargs)
            return spark.createDataFrame(pdf)
        # driver-side glob resolves the file list once (no Spark job) and
        # feeds BOTH the schema probe and the distributed read, so the two
        # can't diverge (a glob that matches a subdirectory would otherwise
        # make binaryFile list that directory's children into the parse);
        # non-posix URLs fall back to binaryFile's own resolution.
        import glob as _glob

        matches = sorted(p for p in _glob.glob(url) if os.path.isfile(p))
        files = spark.read.format("binaryFile").load(matches if matches else url)
        schema = getattr(self, "_schema_cache", None)
        if schema is None:
            # schema from one sample file; the binaryFile .first() probe is
            # only the fallback for non-posix URLs. Cached on the reader so
            # re-reads skip the probe entirely.
            if matches:
                sample_path = matches[0]
            else:
                sample_path = files.select("path").first()[0].removeprefix("file:")
            sample = type(self)._parse(open(sample_path, "rb").read(), **kwargs)
            schema = spark.createDataFrame(sample.head(10)).schema
            self._schema_cache = schema
        parse_fn, kw = type(self)._parse, kwargs

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                for content in b["content"]:
                    yield parse_fn(content, **kw)

        return map_in_pandas(files.select("content"), parse, schema=schema)


class StataReader(_PandasFileReader):
    """.dta → DataFrame (pandas.read_stata; no extra dependency)."""

    implements = {Stata}

    @staticmethod
    def _parse(content: bytes, **kw) -> pd.DataFrame:
        import io

        return pd.read_stata(io.BytesIO(content), **kw)


class SASReader(_PandasFileReader):
    """.sas7bdat/.xpt → DataFrame (pandas.read_sas; format inferred from
    the content by pandas)."""

    implements = {SAS}

    @staticmethod
    def _parse(content: bytes, **kw) -> pd.DataFrame:
        import io

        # pandas can't infer the format from a buffer: sniff the magic
        if "format" not in kw:
            kw["format"] = "xport" if content.startswith(b"HEADER RECORD") else "sas7bdat"
        return pd.read_sas(io.BytesIO(content), **kw)


def _parse_sav(content: bytes) -> pd.DataFrame:
    """Stdlib SPSS system-file parser (the public PSPP-documented layout):
    176-byte header, type-2 variable records (string continuations folded),
    type-3/4 value labels skipped, type-7 extension records skipped, 999
    terminator, then case data — uncompressed or bias-compressed bytecode
    (0 pad, 1..251 → code-bias, 252 EOF, 253 literal block follows, 254
    eight spaces, 255 sysmis). Numeric → float64 (sysmis → NaN); strings
    concatenate their 8-byte segments and strip right padding."""
    import struct as st

    import numpy as np

    if content[:4] != b"$FL2":
        raise ValueError("not an SPSS system file ($FL2 magic missing)")
    # header: prod(60) layout(i4) nominal_case_size(i4) compression(i4)
    # weight(i4) ncases(i4) bias(f8) date(9) time(8) label(64) pad(3)
    layout, case_size, compression, _weight, ncases = st.unpack("<5i", content[64:84])
    endian = "<"
    if layout not in (2, 3):  # byte-swapped writer
        endian = ">"
        layout, case_size, compression, _weight, ncases = st.unpack(">5i", content[64:84])
        if layout not in (2, 3):
            raise ValueError("unrecognized SPSS layout code")
    (bias,) = st.unpack(endian + "d", content[84:92])
    pos = 176
    names: list[str] = []
    widths: list[int] = []  # 0 = numeric, >0 = string byte width

    def i4() -> int:
        nonlocal pos
        (v,) = st.unpack(endian + "i", content[pos : pos + 4])
        pos += 4
        return v

    while True:
        rec = i4()
        if rec == 999:
            i4()  # filler
            break
        if rec == 2:
            vtype = i4()
            has_label = i4()
            n_missing = i4()
            pos += 8  # print/write formats
            raw_name = content[pos : pos + 8].decode("ascii", errors="replace").strip()
            pos += 8
            if has_label:
                ll = i4()
                pos += (ll + 3) // 4 * 4
            pos += 8 * abs(n_missing)
            if vtype >= 0:  # -1 = continuation of a long string
                names.append(raw_name)
                widths.append(vtype)
        elif rec == 3:  # value labels: count, then per label: value(8) +
            # len(1) + label, padded so len byte + label fill 8-byte units
            n = i4()
            for _ in range(n):
                pos += 8
                ln = content[pos]
                pos += ((1 + ln + 7) // 8) * 8
        elif rec == 4:  # value-label variable index list
            n = i4()
            pos += 4 * n
        elif rec == 6:  # documents
            n = i4()
            pos += 80 * n
        elif rec == 7:  # extension subrecord
            _sub = i4()
            size = i4()
            count = i4()
            pos += size * count
        else:
            raise ValueError(f"unknown SPSS record type {rec}")

    # elements per case: numerics take 1 slot, strings ceil(w/8)
    slots = [(n, w, max(1, -(-w // 8)) if w else 1) for n, w in zip(names, widths)]
    total_slots = sum(s for _, _, s in slots)
    if case_size not in (0, -1) and total_slots != case_size:
        total_slots = case_size  # trust the header on disagreement

    if compression not in (0, 1, 2):
        raise NotImplementedError(
            f"SPSS compression code {compression} is not defined by the "
            "system-file spec (0 = none, 1 = bytecode, 2 = zsav/zlib)"
        )
    elements: list[bytes] = []
    if compression == 0:
        if ncases < 0:
            # ncases == -1 means 'unknown' per the spec: read to EOF
            data = content[pos:]
            data = data[: len(data) - len(data) % (total_slots * 8 or 8)]
        else:
            need = total_slots * ncases * 8
            data = content[pos : pos + need]
        elements = [data[i : i + 8] for i in range(0, len(data), 8)]
    else:
        if compression == 2:
            # zsav (.zsav / SAVE ZCOMPRESSED): the case data is wrapped
            # in the ZLIB container the PSPP system-file spec documents
            # — a 24-byte header (zheader_ofs, ztrailer_ofs,
            # ztrailer_len), deflate blocks, and a trailer of per-block
            # descriptors. The DECOMPRESSED concatenation is the
            # ordinary bytecode (compression 1) stream, so everything
            # below is shared
            import zlib

            zh_ofs, zt_ofs, zt_len = st.unpack_from(
                endian + "qqq", content, pos
            )
            if zh_ofs != pos:
                raise ValueError(
                    f"zsav header offset {zh_ofs} != its position {pos}"
                )
            if not 0 < zt_ofs <= len(content) - zt_len or zt_len < 24:
                raise ValueError("zsav trailer offset/length out of range")
            tb = content[zt_ofs : zt_ofs + zt_len]
            _zbias, _zero, _bsize, n_blocks = st.unpack_from(
                endian + "qqii", tb, 0
            )
            if zt_len != 24 + 24 * n_blocks:
                raise ValueError(
                    f"zsav trailer length {zt_len} does not match "
                    f"{n_blocks} block descriptors"
                )
            parts = []
            for bi in range(n_blocks):
                _u_ofs, c_ofs, u_size, c_size = st.unpack_from(
                    endian + "qqii", tb, 24 + 24 * bi
                )
                piece = zlib.decompress(content[c_ofs : c_ofs + c_size])
                if len(piece) != u_size:
                    raise ValueError(
                        f"zsav block {bi} inflated to {len(piece)} bytes, "
                        f"descriptor says {u_size}"
                    )
                parts.append(piece)
            data = b"".join(parts)
        else:
            data = content[pos:]
        dp = 0
        done = False
        while dp + 8 <= len(data) and not done:
            cmds = data[dp : dp + 8]
            dp += 8
            for c in cmds:
                if c == 0:
                    continue
                if c == 252:
                    done = True
                    break
                if c == 253:
                    elements.append(data[dp : dp + 8])
                    dp += 8
                elif c == 254:
                    elements.append(b" " * 8)
                elif c == 255:
                    elements.append(None)  # sysmis
                else:
                    elements.append(st.pack(endian + "d", float(c) - bias))

    n_cases = len(elements) // total_slots if total_slots else 0
    cols: dict[str, list] = {n: [] for n, _, _ in slots}
    for case in range(n_cases):
        base = case * total_slots
        off = 0
        for n, w, nslots in slots:
            vals = elements[base + off : base + off + nslots]
            off += nslots
            if w:
                raw = b"".join(v if v is not None else b" " * 8 for v in vals)
                cols[n].append(raw[:w].decode("latin-1").rstrip())
            else:
                v = vals[0]
                if v is None:
                    cols[n].append(np.nan)
                else:
                    cols[n].append(st.unpack(endian + "d", v)[0])
    return pd.DataFrame(cols, columns=[n for n, _, _ in slots])


class SPSSReader(_PandasFileReader):
    """.sav → DataFrame, stdlib system-file parse (parity:
    PandasReadSPSS, which needs pyreadstat — absent here; the format
    itself is public via the PSPP documentation)."""

    implements = {SPSS}

    @staticmethod
    def _parse(content: bytes, **kw) -> pd.DataFrame:
        return _parse_sav(content)
