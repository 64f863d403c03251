"""Document/config/model readers + array-as-DataFrame encoding +
namespace accessor + CatalogMapper tests."""

from __future__ import annotations

import json
import struct
import zipfile

import pytest

from tests.conftest import SF_SMALL


# --- document / config readers ---------------------------------------------


def test_markdown_reader(spark, tmp_path):
    from intake_spark.documents import Markdown, MarkdownReader

    (tmp_path / "a.md").write_text("# Title A\n\nbody text\n\n## Sub\nmore")
    (tmp_path / "b.md").write_text("no headings here")
    out = MarkdownReader(data=Markdown(url=str(tmp_path))).read(spark=spark)
    rows = {r.path.split("/")[-1]: r for r in out.collect()}
    assert rows["a.md"].n_headings == 2 and rows["a.md"].title == "Title A"
    assert rows["b.md"].n_headings == 0


def test_toml_reader(spark, tmp_path):
    from intake_spark.documents import TOML, TOMLReader

    p = tmp_path / "cfg.toml"
    p.write_text('[server]\nhost = "x"\nport = 8080\n[a.b]\nc = true\n')
    out = {r.key: r.value for r in TOMLReader(data=TOML(url=str(p))).read(spark=spark).collect()}
    assert out["server.host"] == "x" and out["server.port"] == "8080"
    assert out["a.b.c"] == "true"


def test_ini_reader(spark, tmp_path):
    from intake_spark.documents import INIFile, INIReader

    p = tmp_path / "app.ini"
    p.write_text("[main]\nkey = val\n[other]\nx = 1\n")
    rows = INIReader(data=INIFile(url=str(p))).read(spark=spark).collect()
    assert {(r.section, r.key, r.value) for r in rows} == {("main", "key", "val"), ("other", "x", "1")}


def test_html_table_reader(spark, tmp_path):
    from intake_spark.documents import HTMLFile, HTMLTableReader

    p = tmp_path / "t.html"
    p.write_text(
        "<html><body><table>"
        "<tr><th>name</th><th>qty</th></tr>"
        "<tr><td>apple</td><td>3</td></tr>"
        "<tr><td>beet</td><td>5</td></tr>"
        "</table></body></html>"
    )
    out = HTMLTableReader(data=HTMLFile(url=str(p))).read(spark=spark)
    rows = {r.name: r.qty for r in out.collect()}
    assert rows == {"apple": "3", "beet": "5"}


def test_gguf_metadata_reader(spark, tmp_path):
    from intake_spark.documents import GGUFMetadataReader
    from intake_spark import datatypes as dt

    # hand-build a tiny valid GGUF v3 header: magic, version, 1 tensor, 2 kv
    p = tmp_path / "m.gguf"
    buf = b"GGUF" + struct.pack("<IQQ", 3, 1, 2)
    def s(x): return struct.pack("<Q", len(x)) + x
    buf += s(b"general.name") + struct.pack("<I", 8) + s(b"tinymodel")
    buf += s(b"general.layers") + struct.pack("<I", 4) + struct.pack("<I", 12)
    p.write_bytes(buf)
    out = {r.key: (r.value_type, r.value) for r in
           GGUFMetadataReader(data=dt.GGUF(url=str(p))).read(spark=spark).collect()}
    assert out["general.name"] == ("string", "tinymodel")
    assert out["general.layers"] == ("uint32", "12")
    assert out["__n_tensors__"][1] == "1"


def test_safetensors_metadata_reader(spark, tmp_path):
    from intake_spark.documents import SafeTensors, SafeTensorsMetadataReader

    header = {
        "w1": {"dtype": "F32", "shape": [4, 4], "data_offsets": [0, 64]},
        "b1": {"dtype": "F32", "shape": [4], "data_offsets": [64, 80]},
        "__metadata__": {"format": "pt"},
    }
    hb = json.dumps(header).encode()
    p = tmp_path / "m.safetensors"
    p.write_bytes(struct.pack("<Q", len(hb)) + hb + b"\x00" * 80)
    rows = {r.tensor_name: r for r in
            SafeTensorsMetadataReader(data=SafeTensors(url=str(p))).read(spark=spark).collect()}
    assert rows["w1"].n_bytes == 64 and json.loads(rows["w1"].shape) == [4, 4]
    assert "__metadata__" not in rows


def test_detection_picks_new_datatypes():
    from intake_spark import datatypes as dt
    from intake_spark.documents import Markdown, TOML

    assert Markdown in dt.recommend("notes.md")[:2]
    assert dt.recommend("conf.toml")[0] is TOML


# --- arrays -----------------------------------------------------------------


def _write_npy(path, shape, fmt="<f8"):
    """Minimal .npy v1 writer (stdlib): C-order doubles 0..n-1."""
    n = 1
    for s in shape:
        n *= s
    header = ("{'descr': '%s', 'fortran_order': False, 'shape': %s, }" % (fmt, repr(tuple(shape)))).encode()
    pad = 64 - (10 + len(header) + 1) % 64
    header += b" " * pad + b"\n"
    with open(path, "wb") as f:
        f.write(b"\x93NUMPY\x01\x00" + struct.pack("<H", len(header)) + header)
        f.write(struct.pack(f"<{n}d", *[float(i) for i in range(n)]))


def test_npy_chunked_reader(spark, tmp_path):
    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader, reduce_sum

    p = str(tmp_path / "arr.npy")
    _write_npy(p, (100, 4))
    df = NumpyArrayReader(data=dt.NumpyFile(url=p)).read(spark=spark, rows_per_chunk=32)
    rows = df.collect()
    assert len(rows) == 4  # 100/32 → 4 chunks
    assert rows[0].shape == [100, 4]
    total = reduce_sum(df).first().total
    assert total == sum(range(400))


def test_npy_elementwise_and_slice(spark, tmp_path):
    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader, elementwise, slice_axis0

    p = str(tmp_path / "arr2.npy")
    _write_npy(p, (10, 2))
    df = NumpyArrayReader(data=dt.NumpyFile(url=p)).read(spark=spark, rows_per_chunk=4)
    doubled = elementwise(df, "x * 2")
    vals = sorted(v for r in doubled.collect() for v in r.values)
    assert vals == [float(2 * i) for i in range(20)]

    sl = slice_axis0(df, 3, 7).orderBy("offset0").collect()
    got = [v for r in sl for v in r.values]
    assert got == [float(i) for i in range(6, 14)]  # rows 3..6 → elems 6..13


def test_slice_any_axis_matches_numpy(spark, tmp_path):
    """slice_axis on non-leading axes ≡ numpy isel, computed JVM-side
    (indexed filter HOF; plan has zero Exchange)."""
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader, slice_axis

    arr = np.arange(4 * 5 * 3, dtype="<f8").reshape(4, 5, 3)
    p = str(tmp_path / "a3.npy")
    np.save(p, arr)
    df = NumpyArrayReader(data=dt.NumpyFile(url=p)).read(spark=spark, rows_per_chunk=2)

    def rebuild(sdf):
        rows = sorted(sdf.collect(), key=lambda r: r.offset0)
        shape = list(rows[0].shape)
        return np.concatenate(
            [np.asarray(r.values) for r in rows]
        ).reshape([-1] + shape[1:])

    np.testing.assert_array_equal(rebuild(slice_axis(df, 1, 1, 4)), arr[:, 1:4, :])
    np.testing.assert_array_equal(rebuild(slice_axis(df, 2, 0, 2)), arr[:, :, 0:2])
    np.testing.assert_array_equal(rebuild(slice_axis(df, 0, 1, 3)), arr[1:3])
    plan = slice_axis(df, 1, 1, 4)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_npz_reader(spark, tmp_path):
    from intake_spark.arrays import NPZ, NPZReader

    npy_path = tmp_path / "x.npy"
    _write_npy(str(npy_path), (5,))
    zpath = tmp_path / "pack.npz"
    with zipfile.ZipFile(zpath, "w") as z:
        z.write(npy_path, "x.npy")
    out = NPZReader(data=NPZ(url=str(zpath), member="x")).read(spark=spark).first()
    assert out.values == [0.0, 1.0, 2.0, 3.0, 4.0]


# --- namespace accessor + CatalogMapper ------------------------------------


def test_function_namespace(spark):
    from intake_spark import datatypes as dt
    from intake_spark.readers import SparkParquet

    r = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/customer.parquet"))
    pipe = r.F.upper("c_name", out="shout")[["c_custkey", "shout"]]
    out = pipe.read(spark=spark).first()
    assert out.shout == out.shout.upper()
    # serializes: the step records a func string, not a closure
    assert "apply_function" in repr(pipe.to_dict())


def test_namespace_rejects_unknown():
    from intake_spark import datatypes as dt
    from intake_spark.readers import SparkParquet

    r = SparkParquet(data=dt.Parquet(url="/x.parquet"))
    with pytest.raises(AttributeError):
        r.F.not_a_real_function


def test_catalog_mapper(spark):
    from intake_spark import datatypes as dt
    from intake_spark.catalog import Catalog
    from intake_spark.readers import SparkParquet

    cat = Catalog()
    cat["c"] = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/customer.parquet"))
    cat["n"] = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/nation.parquet"))
    capped = cat.map_entries(("method", "limit", [3], {}))
    assert capped["c"].read(spark=spark).count() == 3
    assert capped["n"].read(spark=spark).count() == 3
    # originals untouched
    assert cat["n"].read(spark=spark).count() == 25


def test_dup_groups_small(spark):
    from intake_spark.llm.dedup import dup_groups, dup_groups_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["doc_a", "doc_b"],
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # driver-side union-find fast path
    out = {r.doc_id: r.group_id for r in dup_groups(pairs).collect()}
    assert out == expected
    # distributed large-star/small-star path
    out2 = {r.doc_id: r.group_id for r in dup_groups_star(pairs).collect()}
    assert out2 == expected


def test_dup_groups_chain(spark, monkeypatch):
    """Long chain through the distributed path of dup_groups."""
    from intake_spark.llm import dedup

    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["doc_a", "doc_b"])
    out = {r.doc_id: r.group_id for r in dedup.dup_groups(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == 13


def test_dup_groups_distributed_chain_is_one_group(spark, monkeypatch):
    """A 40-node chain above the union-find threshold is one component:
    the distributed path labels the whole chain or raises, and never
    returns a partial labelling."""
    from intake_spark.llm import dedup

    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], ["doc_a", "doc_b"]
    )
    out = dedup.dup_groups(pairs).collect()
    assert len(out) == 40
    assert {r.group_id for r in out} == {0}


@pytest.mark.slow  # adversarial 10k chain; core covered by test_dup_groups_chain/_small
def test_dup_groups_star_adversarial_chain(spark):
    """Large-star/small-star arm: a 10k-node chain (diameter 10k, where
    min-label propagation would need 10k rounds) converges within
    O(log n) alternation rounds — max_iter=16 bounds the rounds, so a
    slow-converging implementation fails on wrong labels."""
    from intake_spark.llm.dedup import dup_groups_star

    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    ).coalesce(8)
    out = dup_groups_star(pairs, max_iter=16)
    agg = out.groupBy("group_id").count().collect()
    assert len(agg) == 1 and agg[0]["group_id"] == 0 and agg[0]["count"] == n
    # mixed shapes + string ids through the same arm
    spairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("q", "q2"), ("q2", "q3"),
         ("q3", "q")],
        ["doc_a", "doc_b"],
    )
    got = {r.doc_id: r.group_id
           for r in dup_groups_star(spairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
                   "q": "q", "q2": "q", "q3": "q"}


def test_dup_groups_star_unconverged_raises(spark):
    """Exhausting max_iter before the star fixpoint must raise — silent
    possibly-wrong group labels are worse than a loud failure."""
    import pytest

    from intake_spark.llm.dedup import dup_groups_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        dup_groups_star(pairs, max_iter=1)


def test_huggingface_reader_parquet_routing(spark):
    """HF reader scans the dataset's parquet export natively — the resolver
    is mocked to local shards; no datasets library, no driver collect."""
    from intake_spark.readers import HuggingfaceDataset, HuggingfaceReader  # noqa: F401

    shards = [f"{SF_SMALL}/region.parquet"]
    r = HuggingfaceReader(data=HuggingfaceDataset(name="org/fake", split="train"))
    df = r.read(spark=spark, resolver=lambda name, split: shards)
    assert df.count() == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no parquet shards"):
        r.read(spark=spark, resolver=lambda name, split: [])


def test_huggingface_parallel_shard_fetch(spark, tmp_path):
    """https shards fetch through a thread pool with digest-keyed cache
    names: same-basename shards don't collide, every shard lands, and a
    second read serves entirely from cache (zero new requests)."""
    import http.server
    import shutil
    import threading

    from intake_spark.readers import HuggingfaceDataset, HuggingfaceReader

    serve = tmp_path / "serve"
    (serve / "a").mkdir(parents=True)
    (serve / "b").mkdir()
    shutil.copy(f"{SF_SMALL}/region.parquet", serve / "a" / "part0.parquet")
    shutil.copy(f"{SF_SMALL}/region.parquet", serve / "b" / "part0.parquet")
    shutil.copy(f"{SF_SMALL}/nation.parquet", serve / "nation.parquet")
    hits = []

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(serve), **kw)

        def log_message(self, *a):
            hits.append(self.path)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        urls = [f"{base}/a/part0.parquet", f"{base}/b/part0.parquet", f"{base}/nation.parquet"]
        cache = str(tmp_path / "cache")
        import os

        os.makedirs(cache)
        r = HuggingfaceReader(data=HuggingfaceDataset(name="org/fake", split="train"))
        df = r.read(spark=spark, resolver=lambda n, s: urls, cache_dir=cache)
        assert df.count() == 5 + 5 + 25  # both region copies + nation
        cached = sorted(os.listdir(cache))
        assert len(cached) == 3  # same basename, distinct digest keys
        n_first = len(hits)
        assert n_first == 3
        df2 = r.read(spark=spark, resolver=lambda n, s: urls, cache_dir=cache)
        assert df2.count() == 35 and len(hits) == n_first  # served from cache
    finally:
        srv.shutdown()


def _make_pdf(compress: bool) -> bytes:
    """Minimal two-operator PDF built from raw syntax (independent of the
    extractor under test): Tj with escapes, TJ array, hex string."""
    import zlib

    content = (
        b"BT /F1 12 Tf 72 720 Td (Hello \\(Spark\\) PDF) Tj "
        b"0 -14 Td [(Graf) -250 (ting)] TJ "
        b"0 -14 Td <48657821> Tj ET"
    )
    stream = zlib.compress(content) if compress else content
    filt = b"/Filter /FlateDecode " if compress else b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] >>",
        b"<< /Length " + str(len(stream)).encode() + b" " + filt + b">>\nstream\n" + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = [b"%PDF-1.4"]
    for i, o in enumerate(objs, 1):
        out.append(str(i).encode() + b" 0 obj " + o + b" endobj")
    out.append(b"trailer << /Root 1 0 R >>\n%%EOF")
    return b"\n".join(out)


@pytest.mark.parametrize("compress", [True, False])
def test_pdf_text_reader(spark, tmp_path, compress):
    from intake_spark import datatypes as dt
    from intake_spark.documents import PDFTextReader

    p = tmp_path / ("flate.pdf" if compress else "plain.pdf")
    p.write_bytes(_make_pdf(compress))
    r = PDFTextReader(data=dt.PDF(url=str(tmp_path)))
    rows = r.read(spark=spark).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.n_pages == 1
    assert "Hello (Spark) PDF" in row.text
    assert "Grafting" in row.text
    assert "Hex!" in row.text


def _write_zarr_v2(root, arr, chunks, compressor=None):
    """Write a zarr v2 array with numpy + stdlib only (independent of the
    reader): .zarray JSON + one raw C-order file per chunk, edge chunks
    padded with fill_value per the spec."""
    import itertools
    import json
    import os
    import zlib

    import numpy as np

    os.makedirs(root, exist_ok=True)
    meta = {
        "zarr_format": 2,
        "shape": list(arr.shape),
        "chunks": list(chunks),
        "dtype": arr.dtype.str,
        "compressor": {"id": "zlib", "level": 6} if compressor == "zlib" else None,
        "fill_value": 0,
        "order": "C",
        "filters": None,
    }
    with open(f"{root}/.zarray", "w") as f:
        json.dump(meta, f)
    grid = [-(-s // c) for s, c in zip(arr.shape, chunks)]
    for coords in itertools.product(*[range(g) for g in grid]):
        block = np.zeros(chunks, dtype=arr.dtype)
        sel = tuple(
            slice(ci * c, min((ci + 1) * c, s)) for ci, c, s in zip(coords, chunks, arr.shape)
        )
        valid = arr[sel]
        block[tuple(slice(0, v) for v in valid.shape)] = valid
        raw = block.tobytes(order="C")
        if compressor == "zlib":
            raw = zlib.compress(raw)
        with open(f"{root}/{'.'.join(map(str, coords))}", "wb") as f:
            f.write(raw)


@pytest.mark.parametrize("compressor", [None, "zlib"])
def test_zarr_roundtrip(spark, tmp_path, compressor):
    """2-D array, chunk grid tiling BOTH axes with ragged edges — read back
    distributed and compare every value against the source array."""
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.arange(7 * 5, dtype="<f8").reshape(7, 5) * 1.5
    root = str(tmp_path / "arr.zarr")
    _write_zarr_v2(root, arr, chunks=[3, 2], compressor=compressor)
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    assert [r.offset0 for r in rows] == [0, 3, 6]
    assert all(r.shape == [7, 5] for r in rows)
    rebuilt = np.concatenate(
        [np.array(r.values).reshape(-1, 5) for r in rows], axis=0
    )
    np.testing.assert_array_equal(rebuilt, arr)


def test_zarr_missing_chunk_fill(spark, tmp_path):
    import os

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.ones((4, 4), dtype="<i4")
    root = str(tmp_path / "arr2.zarr")
    _write_zarr_v2(root, arr, chunks=[2, 2])
    os.remove(f"{root}/1.1")  # missing chunk -> fill_value
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 4) for r in rows], axis=0)
    assert rebuilt[:2].sum() == 8
    assert rebuilt[2:, :2].sum() == 4 and rebuilt[2:, 2:].sum() == 0


def _write_zarr_v3(root, arr, chunks, gzip_codec=False, endian="little"):
    """Write a zarr v3 array from the spec (independent of the reader):
    zarr.json + c/<sep>-keyed chunk files in subdirectories."""
    import gzip as _gzip
    import itertools
    import json
    import os

    import numpy as np

    os.makedirs(root, exist_ok=True)
    codecs = [{"name": "bytes", "configuration": {"endian": endian}}]
    if gzip_codec:
        codecs.append({"name": "gzip", "configuration": {"level": 5}})
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(arr.shape),
        "data_type": arr.dtype.name,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": codecs,
    }
    with open(f"{root}/zarr.json", "w") as f:
        json.dump(meta, f)
    bo = ">" if endian == "big" else "<"
    store_dtype = np.dtype(arr.dtype.name).newbyteorder(bo)
    grid = [-(-s // c) for s, c in zip(arr.shape, chunks)]
    for coords in itertools.product(*[range(g) for g in grid]):
        block = np.zeros(chunks, dtype=store_dtype)
        sel = tuple(
            slice(ci * c, min((ci + 1) * c, s)) for ci, c, s in zip(coords, chunks, arr.shape)
        )
        valid = arr[sel]
        block[tuple(slice(0, v) for v in valid.shape)] = valid
        raw = block.tobytes(order="C")
        if gzip_codec:
            raw = _gzip.compress(raw)
        path = f"{root}/c/" + "/".join(map(str, coords))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(raw)


@pytest.mark.parametrize("gzip_codec,endian", [(False, "little"), (True, "little"), (False, "big")])
def test_zarr_v3_roundtrip(spark, tmp_path, gzip_codec, endian):
    """v3 store (zarr.json, c/-prefixed subdirectory keys, codec
    pipeline, named dtypes, big-endian bytes codec) reads through the same
    chunk-row path as v2."""
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.arange(7 * 5, dtype="float64").reshape(7, 5) * 0.5
    root = str(tmp_path / f"v3_{gzip_codec}_{endian}.zarr")
    _write_zarr_v3(root, arr, chunks=[3, 2], gzip_codec=gzip_codec, endian=endian)
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 5) for r in rows], axis=0)
    np.testing.assert_array_equal(rebuilt, arr)


def test_zarr_v3_unsupported_codec(spark, tmp_path):
    import json
    import os

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    root = str(tmp_path / "bad.zarr")
    _write_zarr_v3(root, np.ones(4), chunks=[2])
    meta = json.load(open(f"{root}/zarr.json"))
    meta["codecs"].append({"name": "zstd", "configuration": {}})
    json.dump(meta, open(f"{root}/zarr.json", "w"))
    with pytest.raises(ValueError, match="zstd"):
        ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)


def test_pdf_flate_stream_ending_in_newline_byte(spark, tmp_path):
    """Regression: a Flate payload whose compressed bytes end in 0x0A must
    not be corrupted by EOL stripping (only ONE spec EOL precedes
    endstream)."""
    import zlib

    from intake_spark import datatypes as dt
    from intake_spark.documents import PDFTextReader

    # search for a content string whose compressed form ends in \n
    blob = None
    for i in range(2000):
        # vary the sum of bytes finely so the adler32 low byte sweeps all
        # residues and some trial's compressed stream ends in 0x0A/0x0D
        content = f"BT /F1 12 Tf 72 720 Td (trial {i} {'y' * (i % 300)}) Tj ET".encode()
        comp = zlib.compress(content)
        if comp.endswith((b"\n", b"\r")):
            stream = (
                b"<< /Length " + str(len(comp)).encode() + b" /Filter /FlateDecode >>\nstream\n"
                + comp + b"\nendstream"
            )
            blob = (
                b"%PDF-1.4\n1 0 obj << /Type /Page >> endobj\n4 0 obj "
                + stream + b" endobj\ntrailer << >>\n%%EOF"
            )
            expect = f"trial {i}"
            break
    assert blob is not None, "no trial compressed to a trailing EOL byte"
    p = tmp_path / "nl.pdf"
    p.write_bytes(blob)
    rows = PDFTextReader(data=dt.PDF(url=str(tmp_path))).read(spark=spark).collect()
    assert expect in rows[0].text


def test_nifti_rejects_byteswapped_header(spark, tmp_path):
    import struct

    from intake_spark.sci import NIfTI, NIfTIReader

    hdr = bytearray(352)
    hdr[40:56] = struct.pack(">8h", 3, 2, 3, 5, 1, 1, 1, 1)  # big-endian dims
    hdr[344:348] = b"n+1\x00"
    p = tmp_path / "be.nii"
    p.write_bytes(bytes(hdr) + b"\x00" * 64)
    with pytest.raises(ValueError, match="byte-swapped"):
        NIfTIReader(data=NIfTI(url=str(p))).read(spark=spark)


def test_numpy_pattern_reader(spark, tmp_path):
    """{field} path captures become columns on chunk rows (XArrayPattern
    parity for the array-as-DataFrame model)."""
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyPatternReader

    for month, scale in [("01", 1.0), ("02", 2.0)]:
        np.save(str(tmp_path / f"temp_2024-{month}.npy"), np.ones((4, 2)) * scale)
    r = NumpyPatternReader(data=dt.NumpyFile(url=f"{tmp_path}/temp_{{ym}}.npy"))
    df = r.read(spark=spark, rows_per_chunk=2)
    rows = df.collect()
    assert {x.ym for x in rows} == {"2024-01", "2024-02"}
    by_month = {}
    for x in rows:
        by_month.setdefault(x.ym, 0)
        by_month[x.ym] += sum(x.values)
    assert by_month == {"2024-01": 8.0, "2024-02": 16.0}
    with pytest.raises(FileNotFoundError):
        NumpyPatternReader(data=dt.NumpyFile(url=f"{tmp_path}/nope_{{a}}.npy")).read(spark=spark)


def test_onnx_metadata_reader(spark, tmp_path):
    """Hand-encoded ModelProto (spec wire format, independent encoder)."""
    from tests.test_bio_geo_stats import _pb_len, _varint

    graph = (
        _pb_len(1, b"nodeA") + _pb_len(1, b"nodeB")  # 2 nodes (any bytes)
        + _pb_len(2, b"net")
        + _pb_len(11, _pb_len(1, b"x"))
        + _pb_len(12, _pb_len(1, b"y"))
    )
    opset = _varint((2 << 3) | 0) + _varint(21)  # version=21
    model = (
        _varint((1 << 3) | 0) + _varint(9)       # ir_version=9
        + _pb_len(2, b"intake-test")
        + _pb_len(7, graph)
        + _pb_len(8, opset)
    )
    p = tmp_path / "m.onnx"
    p.write_bytes(model)
    from intake_spark.documents import ONNXMetadataReader, ONNXModel

    row = ONNXMetadataReader(data=ONNXModel(url=str(p))).read(spark=spark).first()
    assert row.ir_version == 9
    assert row.producer == "intake-test"
    assert row.opset == [21]
    assert row.graph_name == "net" and row.n_nodes == 2
    assert row.inputs == ["x"] and row.outputs == ["y"]


def test_torchscript_metadata_reader(spark, tmp_path):
    import zipfile

    p = tmp_path / "model.pt"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("model/version", "3\n")
        z.writestr("model/data.pkl", b"\x80\x02fake")
        z.writestr("model/data/0", b"\x00" * 64)
        z.writestr("model/data/1", b"\x00" * 32)
    from intake_spark.documents import TorchScriptMetadataReader, TorchScriptModel

    row = TorchScriptMetadataReader(data=TorchScriptModel(url=str(p))).read(spark=spark).first()
    assert row.format_version == "3"
    assert row.n_tensors == 2
    assert row.total_bytes == 64 + 32 + len("3\n") + len(b"\x80\x02fake")
    assert "model/data.pkl" in row.members


def test_joblib_metadata_reader_no_execution(spark, tmp_path):
    """Class references extracted from the opcode stream; a malicious
    reduce (os.system) is REPORTED, never executed."""
    import pickle

    from intake_spark.documents import JoblibFile, JoblibMetadataReader

    class Evil:
        def __reduce__(self):
            import os

            return (os.system, ("echo pwned > %s/pwned" % tmp_path,))

    p = tmp_path / "model.pkl"
    p.write_bytes(pickle.dumps({"w": [1.0, 2.0], "clf": Evil()}))
    row = JoblibMetadataReader(data=JoblibFile(url=str(p))).read(spark=spark).first()
    assert any("system" in c for c in row.classes)  # reported...
    assert not (tmp_path / "pwned").exists()        # ...not executed
    assert row.protocol >= 2 and row.n_ops > 5


def test_joblib_metadata_reader_lets_unrelated_errors_propagate(
    spark, tmp_path, monkeypatch
):
    """Only genops' ValueError on a truncated/corrupt tail is swallowed
    (the walked prefix is reported); an unrelated TypeError propagates."""
    import pickle
    import pickletools

    from intake_spark.documents import JoblibFile, JoblibMetadataReader

    p = tmp_path / "model.pkl"
    p.write_bytes(pickle.dumps({"w": [1.0, 2.0]})[:-3])
    reader = JoblibMetadataReader(data=JoblibFile(url=str(p)))
    assert reader.read(spark=spark).first().n_ops > 0

    def boom(blob):
        raise TypeError("unrelated")
        yield

    monkeypatch.setattr(pickletools, "genops", boom)
    with pytest.raises(TypeError, match="unrelated"):
        JoblibMetadataReader(data=JoblibFile(url=str(p))).read(spark=spark)


def test_pdf_indirect_length_reference(spark, tmp_path):
    """'/Length 5 0 R' is an object reference, not a byte count — the
    stream must fall back to EOL-strip, not truncate to 5 bytes."""
    import zlib

    from intake_spark import datatypes as dt
    from intake_spark.documents import PDFTextReader

    comp = zlib.compress(b"BT /F1 12 Tf (indirect length works) Tj ET")
    blob = (
        b"%PDF-1.4\n4 0 obj << /Length 5 0 R /Filter /FlateDecode >>\nstream\n"
        + comp + b"\nendstream endobj\n5 0 obj " + str(len(comp)).encode()
        + b" endobj\ntrailer << >>\n%%EOF"
    )
    p = tmp_path / "ind.pdf"
    p.write_bytes(blob)
    rows = PDFTextReader(data=dt.PDF(url=str(tmp_path))).read(spark=spark).collect()
    assert "indirect length works" in rows[0].text


def test_zarr_v3_v2_key_encoding_default_dot(spark, tmp_path):
    """A v3 store using the 'v2' chunk-key encoding with no explicit
    configuration stores chunks as '0.0'-style flat keys (spec default
    separator '.'); the reader must find them rather than silently
    filling every chunk with fill_value."""
    import itertools
    import json
    import os

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.arange(6 * 4, dtype="float64").reshape(6, 4)
    chunks = [3, 2]
    root = str(tmp_path / "v2keys.zarr")
    os.makedirs(root)
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(arr.shape),
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": chunks}},
        "chunk_key_encoding": {"name": "v2"},
        "fill_value": 0,
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
    }
    with open(f"{root}/zarr.json", "w") as f:
        json.dump(meta, f)
    grid = [-(-s // c) for s, c in zip(arr.shape, chunks)]
    for coords in itertools.product(*[range(g) for g in grid]):
        sel = tuple(slice(ci * c, (ci + 1) * c) for ci, c in zip(coords, chunks))
        with open(f"{root}/" + ".".join(map(str, coords)), "wb") as f:
            f.write(arr[sel].tobytes(order="C"))
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 4) for r in rows], axis=0)
    np.testing.assert_array_equal(rebuilt, arr)


def test_numpy_text_reader(spark, tmp_path):
    """np.loadtxt-equivalent distributed parse: comments/blank lines
    skipped, full-array shape on every chunk row, values numpy-verified."""
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyTextReader

    rng = np.random.RandomState(11)
    arr = rng.randn(25, 4).round(6)
    p = tmp_path / "grid.txt"
    body = "# spec-built fixture\n" + "\n".join(
        " ".join(repr(x) for x in row) + ("" if i % 7 else "  # tail comment")
        for i, row in enumerate(arr)
    ) + "\n\n"
    p.write_text(body)
    df = NumpyTextReader(data=dt.NumpyFile(url=str(p))).read(spark=spark, rows_per_chunk=8)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    assert all(list(r.shape) == [25, 4] for r in rows)
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 4) for r in rows])
    np.testing.assert_array_equal(rebuilt, np.loadtxt(str(p)))
    np.testing.assert_array_equal(rebuilt, arr)


def test_numpy_text_reader_guards(spark, tmp_path):
    import pytest as _pytest

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyTextReader

    (tmp_path / "a.txt").write_text("1 2\n3 4\n")
    (tmp_path / "b.txt").write_text("5 6\n")
    with _pytest.raises(ValueError, match="ONE file"):
        NumpyTextReader(data=dt.NumpyFile(url=f"{tmp_path}/*.txt")).read(spark=spark)
    ragged = tmp_path / "r.txt"
    ragged.write_text("1 2 3\n4 5\n")
    with _pytest.raises(ValueError, match="ragged"):
        NumpyTextReader(data=dt.NumpyFile(url=str(ragged))).read(spark=spark)
    bad = tmp_path / "x.txt"
    bad.write_text("1 2\n3 1.2.3\n")
    with _pytest.raises(ValueError, match="unparseable"):
        NumpyTextReader(data=dt.NumpyFile(url=str(bad))).read(spark=spark)
    # literal (not regex) delimiter
    piped = tmp_path / "p.txt"
    piped.write_text("1|2\n3|4\n")
    rows = NumpyTextReader(data=dt.NumpyFile(url=str(piped))).read(
        spark=spark, delimiter="|"
    ).collect()
    assert list(rows[0].values) == [1.0, 2.0, 3.0, 4.0]


# --- MessagePack ---------------------------------------------------------


def _mp(obj):
    """Minimal spec-built msgpack encoder for fixtures."""
    import struct

    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            return bytes([obj])
        if -32 <= obj < 0:
            return bytes([obj & 0xFF])
        if obj > 0xFFFFFFFF:
            return b"\xcf" + obj.to_bytes(8, "big")
        if obj > 0xFFFF:
            return b"\xce" + obj.to_bytes(4, "big")
        if obj >= 0:
            return b"\xcd" + obj.to_bytes(2, "big")
        return b"\xd2" + obj.to_bytes(4, "big", signed=True)
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, bytes):
        return b"\xc4" + bytes([len(obj)]) + obj
    if isinstance(obj, str):
        e = obj.encode()
        if len(e) <= 31:
            return bytes([0xA0 | len(e)]) + e
        return b"\xd9" + bytes([len(e)]) + e
    if isinstance(obj, list):
        if len(obj) <= 15:
            head = bytes([0x90 | len(obj)])
        else:
            head = b"\xdc" + len(obj).to_bytes(2, "big")
        return head + b"".join(_mp(x) for x in obj)
    if isinstance(obj, dict):
        if len(obj) <= 15:
            head = bytes([0x80 | len(obj)])
        else:
            head = b"\xde" + len(obj).to_bytes(2, "big")
        return head + b"".join(_mp(k) + _mp(v) for k, v in obj.items())
    raise TypeError(type(obj))


def test_msgpack_reader_stream_and_types(spark, tmp_path):
    from intake_spark.documents import MessagePack, MessagePackReader

    rows1 = [
        {"id": 1, "name": "alpha", "score": 1.5, "ok": True, "tags": ["a", "b"]},
        {"id": 70000, "name": "b" * 40, "score": -2.0, "ok": False, "tags": []},
        {"id": -5, "name": None, "score": 3.0, "ok": None, "tags": None},
    ]
    rows2 = [{"id": 9, "name": "from-file-2", "score": 0.25, "ok": True, "tags": ["z"]}]
    d = tmp_path / "mp"
    d.mkdir()
    (d / "a.msgpack").write_bytes(b"".join(_mp(r) for r in rows1))
    (d / "b.msgpack").write_bytes(b"".join(_mp(r) for r in rows2))
    out = MessagePackReader(data=MessagePack(url=str(d))).read(spark=spark)
    got = {r.id: r for r in out.collect()}
    assert len(got) == 4
    assert got[1].name == "alpha" and got[1].ok is True
    assert got[70000].score == -2.0
    assert got[-5].name is None
    assert got[9].name == "from-file-2"
    # nested arrays render as JSON strings
    import json

    assert json.loads(got[1].tags) == ["a", "b"]
    dtypes = dict(out.dtypes)
    assert dtypes["id"] == "bigint" and dtypes["score"] == "double"
    assert dtypes["ok"] == "boolean"


def test_msgpack_single_toplevel_array_and_recommend(spark, tmp_path):
    from intake_spark.datatypes import recommend
    from intake_spark.documents import MessagePack, MessagePackReader

    p = tmp_path / "arr.msgpack"
    p.write_bytes(_mp([{"k": 1}, {"k": 2}, {"k": 3}]))
    out = MessagePackReader(data=MessagePack(url=str(p))).read(spark=spark)
    assert sorted(r.k for r in out.collect()) == [1, 2, 3]
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__
             for c in recommend(str(p))]
    assert "MessagePack" in kinds


def test_msgpack_invalid_byte_raises():
    from intake_spark.documents import _mp_rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="0xc1"):
        _mp_rows(b"\xc1")


# --- SQLite --------------------------------------------------------------


def _make_sqlite(path, n=100):
    import sqlite3

    con = sqlite3.connect(str(path))
    con.execute(
        "CREATE TABLE t_random (s INTEGER, md5 TEXT, val REAL, payload BLOB)"
    )
    import hashlib

    rows = [
        (i, hashlib.md5(str(i).encode()).hexdigest(), i * 0.5, bytes([i % 256]))
        for i in range(n)
    ]
    con.executemany("INSERT INTO t_random VALUES (?, ?, ?, ?)", rows)
    con.execute("CREATE TABLE empty_t (a INTEGER)")
    con.commit()
    con.close()


def test_sqlite_reader_distributed_pages(spark, tmp_path):
    from intake_spark.datatypes import recommend
    from intake_spark.readers import SQLiteDB, SQLiteReader

    p = tmp_path / "db.sqlite"
    _make_sqlite(p, n=250)
    rdr = SQLiteReader(data=SQLiteDB(url=str(p)))
    df = rdr.read(spark=spark, table="t_random", rows_per_task=100)  # 3 pages
    assert df.count() == 250
    dtypes = dict(df.dtypes)
    assert dtypes["s"] == "bigint" and dtypes["val"] == "double"
    assert dtypes["md5"] == "string" and dtypes["payload"] == "binary"
    import hashlib

    r42 = df.filter("s = 42").collect()[0]
    assert r42.md5 == hashlib.md5(b"42").hexdigest()
    assert bytes(r42.payload) == bytes([42])
    assert rdr.data.metadata["tables"] == ["empty_t", "t_random"]
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__
             for c in recommend(str(p))]
    assert "SQLiteDB" in kinds


def test_sqlite_query_and_empty_and_errors(spark, tmp_path):
    from intake_spark.readers import SQLiteDB, SQLiteReader

    p = tmp_path / "q.sqlite"
    _make_sqlite(p, n=10)
    rdr = SQLiteReader(data=SQLiteDB(url=str(p)))
    out = rdr.read(spark=spark, query="SELECT COUNT(*) AS n, SUM(s) AS total FROM t_random")
    r = out.collect()[0]
    assert r.n == 10 and r.total == 45
    assert rdr.read(spark=spark, table="empty_t").count() == 0
    import pytest as _pytest

    with _pytest.raises(KeyError):
        rdr.read(spark=spark, table="nope")


def test_sqlite_catalog_lists_tables(spark, tmp_path):
    from intake_spark.readers import sqlite_catalog

    p = tmp_path / "cat.sqlite"
    _make_sqlite(p, n=20)
    cat = sqlite_catalog(str(p))
    assert sorted(cat) == ["empty_t", "t_random"]
    assert cat["t_random"].read(spark=spark).count() == 20


def test_huggingface_hub_catalog_mocked(spark, tmp_path):
    from intake_spark.readers import huggingface_hub_catalog

    def fake_list(query, limit):
        assert query == "news" and limit == 2
        return [{"id": "org/ds-a"}, {"id": "org/ds-b"}, {"id": ""}]

    cat = huggingface_hub_catalog(query="news", limit=2, list_fetch=fake_list)
    assert sorted(cat) == ["org/ds-a", "org/ds-b"]
    assert cat.metadata["query"] == "news"
    # entries are real readers wired to the injectable shard resolver
    shard = str(tmp_path / "s.parquet")
    spark.range(5).withColumnRenamed("id", "n").write.parquet(shard)
    rdr = cat["org/ds-a"]
    out = rdr.read(spark=spark, resolver=lambda name, split: [shard])
    assert out.count() == 5


def test_duckdb_file_reader_and_catalog(spark, tmp_path):
    import duckdb

    from intake_spark.datatypes import recommend
    from intake_spark.readers import DuckDBFile, DuckDBReader, duckdb_catalog

    p = str(tmp_path / "db.duckdb")
    con = duckdb.connect(p)
    con.execute("CREATE TABLE t1 AS SELECT range AS i, range * 0.5 AS v FROM range(100)")
    con.execute("CREATE TABLE t2 AS SELECT 'x' AS s")
    con.close()

    rdr = DuckDBReader(data=DuckDBFile(url=p))
    df = rdr.read(spark=spark, table="t1", batch_rows=30)  # several batches
    assert df.count() == 100
    assert df.filter("i = 42").collect()[0].v == 21.0
    assert sorted(rdr.data.metadata["tables"]) == ["t1", "t2"]
    q = rdr.read(spark=spark, query="SELECT SUM(i) AS s FROM t1")
    assert q.collect()[0].s == 4950
    cat = duckdb_catalog(p)
    assert sorted(cat) == ["t1", "t2"]
    assert cat["t2"].read(spark=spark).collect()[0].s == "x"
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__
             for c in recommend(p)]
    assert "DuckDBFile" in kinds


def test_chunk_rows_to_numpy_and_pandas_pivot(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.convert import chunk_rows_to_numpy, chunk_rows_to_pandas

    arr = np.arange(24, dtype="<f8").reshape(2, 3, 4) * 0.5
    src = str(tmp_path / "p.npy")
    np.save(src, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=src)).read(spark=spark, rows_per_chunk=1)
    np.testing.assert_array_equal(chunk_rows_to_numpy(chunks), arr)

    pdf = chunk_rows_to_pandas(chunks, dim_names=["t", "y", "x"])
    assert list(pdf.index.names) == ["t", "y", "x"]
    assert pdf.loc[(1, 2, 3), "value"] == arr[1, 2, 3]
    assert len(pdf) == 24

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_bytes"):
        chunk_rows_to_numpy(chunks, max_bytes=10)
    with _pytest.raises(ValueError, match="dim names"):
        chunk_rows_to_pandas(chunks, dim_names=["a"])


def test_numpy_text_plan_windows_are_block_partitioned(spark, tmp_path):
    """Row indexing must never rank the whole file in one task: every
    row_number window in the NumpyText plan is partitioned by the 64Ki-line
    block key (_blk); the only unpartitioned window is the prefix-sum over
    per-block COUNTS (one row per block, bounded by max_bytes)."""
    import re

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyTextReader

    p = tmp_path / "m.txt"
    np.savetxt(str(p), np.arange(30.0).reshape(10, 3))
    df = NumpyTextReader(data=dt.NumpyFile(url=str(p))).read(spark=spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected a block-partitioned row_number window"
    for s in specs:
        assert s.startswith("_blk#"), f"unpartitioned row_number window: {s}"


def test_msgpack_multifile_schema_and_coercion(spark, tmp_path):
    """Columns appearing only in later files must survive schema
    inference (multi-file sampling), and wire values that disagree with
    the inferred kind coerce explicitly (bool in a long column -> 0/1,
    never a mistyped passthrough)."""
    from intake_spark.documents import MessagePack, MessagePackReader

    d = tmp_path / "mp2"
    d.mkdir()
    # first file: no "extra" column, id is long
    (d / "a.msgpack").write_bytes(b"".join(_mp(r) for r in [
        {"id": 1, "score": 2},
        {"id": 2, "score": 3},
    ]))
    # later file: new column + a bool where the long was inferred
    (d / "b.msgpack").write_bytes(b"".join(_mp(r) for r in [
        {"id": 3, "score": True, "extra": "late"},
    ]))
    out = MessagePackReader(data=MessagePack(url=str(d))).read(spark=spark)
    assert "extra" in out.columns
    got = {r.id: r for r in out.collect()}
    assert got[3].extra == "late" and got[1].extra is None
    # both files sampled -> mixed long/bool widens the column to string
    assert dict(out.dtypes)["score"] == "string" and got[3].score == "true"
    # with only the first file sampled, score stays long and the later
    # file's bool coerces explicitly (never a mistyped passthrough)
    out1 = MessagePackReader(data=MessagePack(url=str(d))).read(
        spark=spark, schema_sample_files=1
    )
    assert "extra" not in out1.columns  # documented single-file limitation
    got1 = {r.id: r for r in out1.collect()}
    assert dict(out1.dtypes)["score"] == "bigint" and got1[3].score == 1
    # explicit schema override skips sampling and forces kinds
    out2 = MessagePackReader(data=MessagePack(url=str(d))).read(
        spark=spark, schema={"id": "double", "extra": "string"}
    )
    d2 = dict(out2.dtypes)
    assert d2["id"] == "double" and list(out2.columns) == ["path", "id", "extra"]
    assert sorted(r.id for r in out2.collect()) == [1.0, 2.0, 3.0]


def test_zarr_group_catalog_roundtrip(spark, tmp_path):
    """Zarr GROUP hierarchy → catalog entries (reference catalog/zarr.py:
    5-38 shape): arrays written by our own to_zarr become ZarrReader
    entries, nested .zgroup dirs become sub-catalogs, group attrs land in
    catalog metadata; v3 group nodes walk the same way."""
    import json as _json
    import os

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.output import to_zarr
    from intake_spark.readers import ZarrGroupCatalogReader

    # group with two arrays written by the engine's own distributed sink
    root = tmp_path / "grp.zarr"
    root.mkdir()
    (root / ".zgroup").write_text('{"zarr_format": 2}')
    (root / ".zattrs").write_text('{"title": "test group"}')
    for name, shape in (("temps", (10, 3)), ("flags", (6,))):
        p = tmp_path / f"{name}.npy"
        _write_npy(str(p), shape)
        df = NumpyArrayReader(data=dt.NumpyFile(url=str(p))).read(
            spark=spark, rows_per_chunk=4
        )
        to_zarr(df, str(root / name))
    # nested subgroup with one v2 array
    sub = root / "nested"
    sub.mkdir()
    (sub / ".zgroup").write_text('{"zarr_format": 2}')
    arr = np.arange(6.0).reshape(2, 3)
    _write_zarr_v2(str(sub / "inner"), arr, chunks=[2, 3])

    cat = ZarrGroupCatalogReader(data=dt.Zarr(url=str(root))).read()
    assert set(cat.aliases) == {"temps", "flags", "nested"}
    assert cat.metadata["title"] == "test group"

    got = cat["temps"].read(spark=spark)
    rows = sorted(got.collect(), key=lambda r: r.offset0)
    vals = [v for r in rows for v in r.values]
    assert vals == [float(i) for i in range(30)]

    subcat = cat["nested"].read()
    assert set(subcat.aliases) == {"inner"}
    inner = subcat["inner"].read(spark=spark).collect()
    assert sorted(v for r in inner for v in r.values) == [float(i) for i in range(6)]

    # component= selects a subgroup directly
    direct = ZarrGroupCatalogReader(data=dt.Zarr(url=str(root))).read(
        component="nested"
    )
    assert set(direct.aliases) == {"inner"}

    # v3 group node
    g3 = tmp_path / "g3.zarr"
    g3.mkdir()
    (g3 / "zarr.json").write_text(_json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {"v": 3}}
    ))
    _write_zarr_v3(str(g3 / "a3"), np.arange(6.0).reshape(3, 2), chunks=[3, 2])
    cat3 = ZarrGroupCatalogReader(data=dt.Zarr(url=str(g3))).read()
    assert set(cat3.aliases) == {"a3"} and cat3.metadata["v"] == 3
    v3 = cat3["a3"].read(spark=spark).collect()
    assert sorted(v for r in v3 for v in r.values) == [float(i) for i in range(6)]

    # not-a-group raises with a clear message
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a zarr group"):
        ZarrGroupCatalogReader(data=dt.Zarr(url=str(tmp_path))).read()


# --- blosc/lz4 (zarr's default compressor) ---------------------------------


def _lz4_literals(data: bytes) -> bytes:
    """Literal-only LZ4 block (valid: the final sequence may be bare
    literals)."""
    n = len(data)
    if n < 15:
        return bytes([n << 4]) + data
    ext = n - 15
    out = bytearray([0xF0])
    while ext >= 255:
        out.append(255)
        ext -= 255
    out.append(ext)
    return bytes(out) + data


def _byte_shuffle(data: bytes, t: int) -> bytes:
    n_elem = len(data) // t
    body = data[: n_elem * t]
    out = bytearray(n_elem * t)
    for j in range(t):
        out[j * n_elem : (j + 1) * n_elem] = body[j::t]
    return bytes(out) + data[n_elem * t :]


def _blosc_frame(data: bytes, typesize=8, shuffle=False, memcpy=False) -> bytes:
    import struct as st

    flags = (0x1 if shuffle else 0) | (0x2 if memcpy else 0) | (1 << 5)  # lz4
    if memcpy:
        head = st.pack("<BBBB III", 2, 1, flags, typesize, len(data), len(data), len(data) + 16)
        return head + data
    payload = _byte_shuffle(data, typesize) if shuffle else data
    block = _lz4_literals(payload)
    cbytes = 16 + 4 + 4 + len(block)
    head = st.pack("<BBBB III", 2, 1, flags, typesize, len(data), len(data), cbytes)
    return head + st.pack("<I", 20) + st.pack("<I", len(block)) + block


def test_lz4_block_decode_matches_and_rle():
    from intake_spark.compress import lz4_block_decompress

    # hand-crafted: 4 literals, match(offset 4, len 8), 5 tail literals
    enc = bytes([0x44]) + b"ABCD" + (4).to_bytes(2, "little") + bytes([0x50]) + b"WXYZQ"
    assert lz4_block_decompress(enc, 17) == b"ABCDABCDABCDWXYZQ"
    # self-overlapping match = RLE: 1 literal then offset-1 match
    enc2 = bytes([0x1A]) + b"z" + (1).to_bytes(2, "little") + bytes([0x50]) + b"tail!"
    assert lz4_block_decompress(enc2, 20) == b"z" * 15 + b"tail!"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="zero match offset"):
        lz4_block_decompress(bytes([0x14]) + b"A" + b"\x00\x00" + bytes([0x50]) + b"BCDEF", 10)


def test_blosc_frame_decode_variants():
    import numpy as np

    from intake_spark.compress import blosc_decompress

    raw = np.arange(64, dtype="<f8").tobytes()
    assert blosc_decompress(_blosc_frame(raw, memcpy=True)) == raw
    assert blosc_decompress(_blosc_frame(raw)) == raw
    assert blosc_decompress(_blosc_frame(raw, shuffle=True)) == raw
    import pytest as _pytest

    bad = bytearray(_blosc_frame(raw))
    bad[2] |= 0x4  # bit-shuffle flag
    with _pytest.raises(ValueError, match="bit-shuffle"):
        blosc_decompress(bytes(bad))


def test_zarr_blosc_lz4_roundtrip(spark, tmp_path):
    """A hand-built blosc/lz4 zarr v2 store (numcodecs' default config)
    reads through ZarrReader with executor-side frame decode."""
    import json as _json

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.arange(24, dtype="<f8").reshape(6, 4)
    root = tmp_path / "b.zarr"
    root.mkdir()
    (root / ".zarray").write_text(_json.dumps({
        "zarr_format": 2, "shape": [6, 4], "chunks": [3, 4], "dtype": "<f8",
        "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
        "fill_value": 0.0, "order": "C", "filters": None,
    }))
    for i in range(2):
        chunk = arr[i * 3 : (i + 1) * 3].tobytes()
        (root / f"{i}.0").write_bytes(_blosc_frame(chunk, typesize=8, shuffle=True))
    df = ZarrReader(data=dt.Zarr(url=str(root))).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    got = np.concatenate([np.asarray(r.values) for r in rows]).reshape(6, 4)
    np.testing.assert_array_equal(got, arr)

    # unsupported blosc cname gates with a clear name
    (root / ".zarray").write_text(_json.dumps({
        "zarr_format": 2, "shape": [6, 4], "chunks": [3, 4], "dtype": "<f8",
        "compressor": {"id": "blosc", "cname": "zstd"},
        "fill_value": 0.0, "order": "C", "filters": None,
    }))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="zstd"):
        ZarrReader(data=dt.Zarr(url=str(root))).read(spark=spark)


def test_npz_fortran_order_raises(spark, tmp_path):
    import numpy as np
    import pytest as _pytest

    from intake_spark.arrays import NPZ, NPZReader

    p = str(tmp_path / "f.npz")
    np.savez(p, a=np.asfortranarray(np.arange(6.0).reshape(2, 3)))
    with _pytest.raises(ValueError, match="fortran"):
        NPZReader(data=NPZ(url=p)).read(spark=spark)


def test_empty_npy_reads_empty_frame(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader

    p = str(tmp_path / "empty.npy")
    np.save(p, np.zeros((0, 4)))
    df = NumpyArrayReader(data=dt.NumpyFile(url=p)).read(spark=spark)
    assert df.count() == 0


def test_slice_axis0_updates_shape(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader, slice_axis

    arr = np.arange(8.0).reshape(4, 2)
    p = str(tmp_path / "s.npy")
    np.save(p, arr)
    df = NumpyArrayReader(data=dt.NumpyFile(url=p)).read(spark=spark, rows_per_chunk=2)
    out = slice_axis(df, 0, 1, 3).collect()
    assert all(list(r.shape) == [2, 2] for r in out)  # sliced global length


def test_chunk_rows_to_numpy_after_axis0_slice(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader, slice_axis
    from intake_spark.convert import chunk_rows_to_numpy

    arr = np.arange(20.0).reshape(10, 2)
    p = str(tmp_path / "cs.npy")
    np.save(p, arr)
    df = NumpyArrayReader(data=dt.NumpyFile(url=p)).read(spark=spark, rows_per_chunk=4)
    out = chunk_rows_to_numpy(slice_axis(df, 0, 3, 7))
    np.testing.assert_array_equal(out, arr[3:7])


def test_convert_auto_detects_pandas_and_arrow(spark):
    import pandas as pd
    import pyarrow as pa

    from intake_spark.convert import SPARK_DF, convert

    pdf = pd.DataFrame({"a": [1, 2]})
    sdf = convert(pdf, SPARK_DF, spark=spark)
    assert sdf.count() == 2
    t = pa.table({"a": [3, 4]})
    sdf2 = convert(t, SPARK_DF, spark=spark)
    assert sdf2.count() == 2


def test_blosc_zlib_and_zstd_codes():
    """Blosc1 format codes: 3 = zlib (must decode via stdlib), 4 = zstd
    (must raise the NAMED gate, not feed zstd frames to zlib)."""
    import struct
    import zlib as _zlib

    import pytest as _pytest

    from intake_spark.compress import blosc_decompress

    payload = bytes(range(64)) * 4
    comp = _zlib.compress(payload)

    def frame(codec, body, nbytes):
        hdr = struct.pack(
            "<BBBBIII", 2, 1, 0 | (codec << 5), 8, nbytes, nbytes, len(body) + 24
        )
        # one block: starts table with a single offset right after it
        return hdr + struct.pack("<I", 20) + struct.pack("<I", len(body)) + body

    out = blosc_decompress(frame(3, comp, len(payload)))
    assert out == payload

    with _pytest.raises(ValueError, match="zstd"):
        blosc_decompress(frame(4, b"\x28\xb5\x2f\xfd" + bytes(10), 32))


def test_duckdb_reader_all_null_and_nullable_int_batches(spark, tmp_path):
    """Regression (r6 review): schema comes from the Arrow stream once —
    per-batch pandas inference crashed on all-null batches and silently
    widened int columns with nulls to double."""
    import duckdb

    from intake_spark.readers import DuckDBFile, DuckDBReader

    p = str(tmp_path / "nulls.duckdb")
    con = duckdb.connect(p)
    con.execute(
        "CREATE TABLE t AS SELECT range AS i, "
        "CASE WHEN range = 1 THEN NULL ELSE range END AS maybe_i, "
        "CAST(NULL AS VARCHAR) AS always_null FROM range(5)"
    )
    con.close()
    df = DuckDBReader(data=DuckDBFile(url=p)).read(spark=spark, table="t", batch_rows=2)
    assert dict(df.dtypes)["maybe_i"] == "bigint"  # not double
    assert dict(df.dtypes)["always_null"] == "string"
    rows = {r.i: r for r in df.collect()}
    assert rows[1].maybe_i is None and rows[2].maybe_i == 2
    assert all(r.always_null is None for r in rows.values())


def test_jdbc_partition_bounds_required(spark):
    import pytest as _pytest

    from intake_spark import datatypes as dt
    from intake_spark.readers import SparkJDBC

    r = SparkJDBC(data=dt.SQLQuery(conn="jdbc:h2:mem:x", query="SELECT 1 AS a"))
    with _pytest.raises(ValueError, match="lower_bound and upper_bound"):
        r.read(spark=spark, partition_column="a")


def test_zarr_zero_dim_named_gate(spark, tmp_path):
    import json as _json

    import pytest as _pytest

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    root = tmp_path / "scalar.zarr"
    root.mkdir()
    (root / ".zarray").write_text(_json.dumps({
        "zarr_format": 2, "shape": [], "chunks": [], "dtype": "<f8",
        "compressor": None, "fill_value": 0, "order": "C", "filters": None,
    }))
    with _pytest.raises(ValueError, match="0-dimensional"):
        ZarrReader(data=dt.Zarr(url=str(root))).read(spark=spark)


def test_huggingface_nonhttp_scheme_passthrough(spark):
    """Regression (r6 review): s3a/gs/hdfs shard URLs must pass straight
    through to spark.read.parquet (distributed scan), not crash in
    urllib. The unreachable s3a URL proves routing: Spark (not urllib)
    rejects it with its own FS error."""
    import pytest as _pytest

    from intake_spark.readers import HuggingfaceDataset, HuggingfaceReader

    r = HuggingfaceReader(data=HuggingfaceDataset(name="org/fake", split="train"))
    with _pytest.raises(Exception) as ei:
        r.read(spark=spark, resolver=lambda n, s: ["s3a://nope/x.parquet"])
    assert "unknown url type" not in str(ei.value)


def test_snappy_spec_vectors_and_roundtrip():
    """Raw snappy block codec: hand-built streams covering every tag
    kind (literal, extended literal, copy-1/2/4, overlapping copy),
    named errors on malformed input, and encoder round trips."""
    import random

    import pytest as _pytest

    from intake_spark.compress import snappy_compress, snappy_uncompress

    # literal
    assert snappy_uncompress(bytes([5, 4 << 2]) + b"hello") == b"hello"
    # copy with 1-byte offset: len=4 (bits=0), offset=4
    s = bytes([8, 3 << 2]) + b"abcd" + bytes([0x01, 4])
    assert snappy_uncompress(s) == b"abcdabcd"
    # overlapping copy (RLE): "a"*10 via copy off=1 len=9 (2-byte offset)
    s = bytes([10, 0]) + b"a" + bytes([((9 - 1) << 2) | 0x2]) + (1).to_bytes(2, "little")
    assert snappy_uncompress(s) == b"a" * 10
    # copy with 4-byte offset
    s = bytes([8, 3 << 2]) + b"abcd" + bytes([((4 - 1) << 2) | 0x3]) + (4).to_bytes(4, "little")
    assert snappy_uncompress(s) == b"abcdabcd"
    # extended literal length (tag 60)
    pay = bytes(range(100))
    assert snappy_uncompress(bytes([100, 60 << 2, 99]) + pay) == pay
    # malformed: offset outside window / wrong total / truncation
    with _pytest.raises(ValueError, match="offset"):
        snappy_uncompress(bytes([4, 1 << 2]) + b"ab" + bytes([0x01, 9]))
    with _pytest.raises(ValueError, match="decoded"):
        snappy_uncompress(bytes([9, 4 << 2]) + b"hello")
    with _pytest.raises(ValueError, match="overruns"):
        snappy_uncompress(bytes([5, 4 << 2]) + b"he")

    rng = random.Random(11)
    for _ in range(120):
        n = rng.randrange(0, 4000)
        kind = rng.random()
        if kind < 0.34:
            blob = bytes(rng.randrange(256) for _ in range(n))
        elif kind < 0.67:
            unit = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 16)))
            blob = (unit * (n // max(1, len(unit)) + 1))[:n]
        else:
            words = [b"the", b"lorem", b"data", b" ", b"spark"]
            blob = b"".join(rng.choice(words) for _ in range(n // 3))[:n]
        assert snappy_uncompress(snappy_compress(blob)) == blob
    # repetitive input actually compresses
    rep = b"abcdefgh" * 500
    assert len(snappy_compress(rep)) < len(rep) // 4


def test_blosc_snappy_frame():
    """Blosc frame with cname=snappy (format code 2) decodes via the
    stdlib snappy path, including byte shuffle."""
    import struct

    from intake_spark.compress import blosc_decompress, snappy_compress

    raw = bytes(range(16)) * 8  # 128 bytes, typesize 4
    # shuffle bytes like blosc does: byte plane b of each element first
    typesize = 4
    nel = len(raw) // typesize
    shuffled = bytes(
        raw[e * typesize + b] for b in range(typesize) for e in range(nel)
    )
    comp = snappy_compress(shuffled)
    blocksize = len(raw)
    header = bytes([1, 0, (2 << 5) | 0x1, typesize]) + struct.pack(
        "<III", len(raw), blocksize, 16 + 4 + 4 + len(comp)
    )
    # one block: offset table (1 entry) then [csize][payload]
    frame = header + struct.pack("<I", 20) + struct.pack("<I", len(comp)) + comp
    assert blosc_decompress(frame) == raw


def test_to_zarr_blosc_lz4_roundtrip(spark, tmp_path):
    """to_zarr(compressor='blosc-lz4') writes the numcodecs-default
    compressor (Blosc1 frame, cname=lz4, byte shuffle) via the stdlib
    lz4/blosc encoders; ZarrReader round-trips it bit-exactly."""
    import json as _json

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.output import to_zarr
    from intake_spark.readers import ZarrReader

    p = tmp_path / "a.npy"
    arr = np.arange(120.0).reshape(30, 4)
    np.save(str(p), arr)
    df = NumpyArrayReader(data=dt.NumpyFile(url=str(p))).read(
        spark=spark, rows_per_chunk=8
    )
    dst = str(tmp_path / "z_blosc")
    to_zarr(df, dst, compressor="blosc-lz4")
    meta = _json.loads(open(f"{dst}/.zarray").read())
    assert meta["compressor"]["id"] == "blosc"
    assert meta["compressor"]["cname"] == "lz4"
    back = ZarrReader(data=dt.Zarr(url=dst)).read(spark=spark).collect()
    vals = [v for r in sorted(back, key=lambda r: r.offset0) for v in r.values]
    assert vals == [float(i) for i in range(120)]


def test_lz4_block_compress_roundtrip_fuzz():
    """LZ4 block encoder: spec end-rules honored, round trips against
    the spec-derived decoder across content shapes."""
    import random

    from intake_spark.compress import (
        blosc_compress,
        blosc_decompress,
        lz4_block_compress,
        lz4_block_decompress,
    )

    rng = random.Random(5)
    for _ in range(150):
        n = rng.randrange(0, 4000)
        k = rng.random()
        if k < 0.34:
            blob = bytes(rng.randrange(256) for _ in range(n))
        elif k < 0.67:
            unit = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 24)))
            blob = (unit * (n // max(1, len(unit)) + 1))[:n]
        else:
            blob = b"".join(
                rng.choice([b"spark", b"lz", b" ", b"zarr"]) for _ in range(n // 2)
            )[:n]
        assert lz4_block_decompress(lz4_block_compress(blob), len(blob)) == blob
        for cname in ("lz4", "snappy", "zlib"):
            fr = blosc_compress(blob, typesize=8, shuffle=True, cname=cname)
            assert blosc_decompress(fr) == blob
    rep = b"abcdefgh" * 500
    assert len(lz4_block_compress(rep)) < len(rep) // 4


def _write_zarr_v3_sharded(root, arr, shard_shape, inner_shape,
                           gzip_inner=False, index_location="end",
                           drop_inner=(), corrupt_crc=False):
    """Hand-built zarr v3 store using the sharding_indexed codec: each
    chunk-grid file is a shard of inner chunks + a C-order
    (offset, nbytes) uint64 index protected by crc32c. ``drop_inner``
    marks inner chunks (by flat index within EVERY shard) missing
    (offset 2^64-1) so the fill-value path is exercised."""
    import gzip as _gzip
    import itertools
    import json
    import os
    import struct

    import numpy as np

    from intake_spark.compress import crc32c

    os.makedirs(root, exist_ok=True)
    inner_codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if gzip_inner:
        inner_codecs.append({"name": "gzip", "configuration": {"level": 5}})
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(arr.shape),
        "data_type": arr.dtype.name,
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": list(shard_shape)}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": -1,
        "codecs": [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(inner_shape),
                "codecs": inner_codecs,
                "index_codecs": [
                    {"name": "bytes",
                     "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": index_location,
            },
        }],
    }
    with open(f"{root}/zarr.json", "w") as f:
        json.dump(meta, f)
    grid = [-(-s // c) for s, c in zip(arr.shape, shard_shape)]
    inner_grid = [c // ic for c, ic in zip(shard_shape, inner_shape)]
    n_inner = int(np.prod(inner_grid))
    for coords in itertools.product(*[range(g) for g in grid]):
        block = np.full(shard_shape, -1, dtype=arr.dtype)
        sel = tuple(slice(ci * c, min((ci + 1) * c, s))
                    for ci, c, s in zip(coords, shard_shape, arr.shape))
        valid = arr[sel]
        block[tuple(slice(0, v) for v in valid.shape)] = valid
        pieces, index = [], []
        isize = n_inner * 16 + 4
        pos = isize if index_location == "start" else 0
        for k in range(n_inner):
            ic = np.unravel_index(k, inner_grid)
            if k in drop_inner:
                index.append((2**64 - 1, 0))
                continue
            sl = tuple(slice(c * w, (c + 1) * w)
                       for c, w in zip(ic, inner_shape))
            raw = np.ascontiguousarray(
                block[sl].astype(block.dtype.newbyteorder("<"))
            ).tobytes()
            if gzip_inner:
                raw = _gzip.compress(raw)
            index.append((pos, len(raw)))
            pieces.append(raw)
            pos += len(raw)
        body = b"".join(pieces)
        idx = b"".join(struct.pack("<QQ", o, n) for o, n in index)
        crc = crc32c(idx)
        if corrupt_crc:
            crc ^= 0xFF
        idx += struct.pack("<I", crc)
        blob = (idx + body) if index_location == "start" else (body + idx)
        path = f"{root}/c/" + "/".join(map(str, coords))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(blob)


@pytest.mark.parametrize("gzip_inner,loc", [(False, "end"), (True, "end"),
                                            (False, "start")])
def test_zarr_v3_sharding_indexed(spark, tmp_path, gzip_inner, loc):
    """sharding_indexed (the zarr v3 codec for bundling many small
    chunks into few large objects — THE layout for 100 TB stores):
    shards decode inner-chunk-wise from the C-order uint64 index,
    crc32c verified, missing inner chunks take the fill value."""
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = (np.arange(12 * 10, dtype="float64").reshape(12, 10) + 1) * 0.25
    root = str(tmp_path / f"s_{gzip_inner}_{loc}.zarr")
    _write_zarr_v3_sharded(root, arr, shard_shape=[6, 10],
                           inner_shape=[3, 5], gzip_inner=gzip_inner,
                           index_location=loc)
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate(
        [np.array(r.values).reshape(-1, 10) for r in rows], axis=0
    )
    np.testing.assert_array_equal(rebuilt, arr)


def test_zarr_v3_sharding_missing_and_corrupt(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.arange(6 * 10, dtype="int64").reshape(6, 10)
    root = str(tmp_path / "m.zarr")
    # drop inner chunk 1 (top-right quarter of each shard) -> fill -1
    _write_zarr_v3_sharded(root, arr, shard_shape=[6, 10],
                           inner_shape=[3, 5], drop_inner=(1,))
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate(
        [np.array(r.values).reshape(-1, 10) for r in rows], axis=0
    )
    want = arr.copy().astype(float)
    want[0:3, 5:10] = -1
    np.testing.assert_array_equal(rebuilt, want)

    # corrupt index crc -> loud error, not silent garbage offsets
    root2 = str(tmp_path / "c.zarr")
    _write_zarr_v3_sharded(root2, arr, shard_shape=[6, 10],
                           inner_shape=[3, 5], corrupt_crc=True)
    import pytest as _pytest

    with _pytest.raises(Exception, match="crc32c"):
        ZarrReader(data=dt.Zarr(url=root2)).read(spark=spark).collect()


def test_zarr_v3_blosc_codec(spark, tmp_path):
    """zarr v3 with the blosc codec (zarr-python's default compressor)
    decodes through the same stdlib blosc frame parser as v2 — plain
    and inside a shard's inner chain."""
    import itertools
    import json
    import os

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.compress import blosc_compress
    from intake_spark.readers import ZarrReader

    arr = np.arange(8 * 6, dtype="int32").reshape(8, 6) * 3
    root = str(tmp_path / "b.zarr")
    os.makedirs(root)
    meta = {
        "zarr_format": 3, "node_type": "array",
        "shape": [8, 6], "data_type": "int32",
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": [4, 6]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "blosc", "configuration":
                {"cname": "zlib", "clevel": 5, "shuffle": "shuffle",
                 "typesize": 4}},
        ],
    }
    with open(f"{root}/zarr.json", "w") as f:
        json.dump(meta, f)
    for ci in range(2):
        block = arr[ci * 4 : (ci + 1) * 4].astype("<i4").tobytes()
        os.makedirs(f"{root}/c/{ci}", exist_ok=True)
        with open(f"{root}/c/{ci}/0", "wb") as f:
            f.write(blosc_compress(block, typesize=4, cname="zlib"))
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate(
        [np.array(r.values).reshape(-1, 6) for r in rows], axis=0
    )
    np.testing.assert_array_equal(rebuilt, arr)


def test_zarr_v3_transpose_codec(spark, tmp_path):
    """zarr v3 'transpose' codec: stored bytes carry the permuted axis
    order; the decoder inverts the permutation (plain chunks and shard
    inner chunks)."""
    import json
    import os

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.arange(6 * 4, dtype="float64").reshape(6, 4) + 0.5
    root = str(tmp_path / "t.zarr")
    os.makedirs(root)
    meta = {
        "zarr_format": 3, "node_type": "array",
        "shape": [6, 4], "data_type": "float64",
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": [3, 4]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [
            {"name": "transpose", "configuration": {"order": [1, 0]}},
            {"name": "bytes", "configuration": {"endian": "little"}},
        ],
    }
    with open(f"{root}/zarr.json", "w") as f:
        json.dump(meta, f)
    for ci in range(2):
        block = arr[ci * 3 : (ci + 1) * 3]  # (3, 4)
        stored = np.ascontiguousarray(block.T.astype("<f8"))  # (4, 3)
        os.makedirs(f"{root}/c/{ci}", exist_ok=True)
        with open(f"{root}/c/{ci}/0", "wb") as f:
            f.write(stored.tobytes())
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate(
        [np.array(r.values).reshape(-1, 4) for r in rows], axis=0
    )
    np.testing.assert_array_equal(rebuilt, arr)


def test_zarr_v2_delta_filter(spark, tmp_path):
    """numcodecs 'delta' filter (first value verbatim, then first
    differences): inverse is a cumsum — other filters stay loud."""
    import json
    import os
    import zlib

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = (np.arange(8, dtype="<i8") * 3 + 100).reshape(8)
    root = str(tmp_path / "d.zarr")
    os.makedirs(root)
    meta = {
        "zarr_format": 2, "shape": [8], "chunks": [4], "dtype": "<i8",
        "order": "C", "fill_value": 0,
        "compressor": {"id": "zlib", "level": 5},
        "filters": [{"id": "delta", "dtype": "<i8"}],
    }
    with open(f"{root}/.zarray", "w") as f:
        json.dump(meta, f)
    for ci in range(2):
        block = arr[ci * 4 : (ci + 1) * 4].astype("<i8")
        enc = np.diff(block, prepend=0)
        enc[0] = block[0]
        with open(f"{root}/{ci}", "wb") as f:
            f.write(zlib.compress(enc.astype("<i8").tobytes()))
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    got = np.concatenate([np.array(r.values) for r in rows])
    np.testing.assert_array_equal(got, arr)

    meta["filters"] = [{"id": "packbits"}]
    with open(f"{root}/.zarray", "w") as f:
        json.dump(meta, f)
    import pytest as _pytest

    with _pytest.raises(Exception, match="packbits"):
        ZarrReader(data=dt.Zarr(url=root)).read(spark=spark).collect()


def test_zarr_v2_delta_astype_decodes(spark, tmp_path):
    """Delta with an astype differing from the array dtype stores the
    differences in astype on disk (numcodecs views the buffer as astype
    and cumsums into dtype) — r10 decodes this instead of gating it."""
    import json
    import os
    import zlib

    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark.readers import ZarrReader

    arr = np.array([100, 103, 109, 118], dtype="<i8")
    enc = np.diff(arr, prepend=0).astype("<f4")
    enc[0] = arr[0]
    root = str(tmp_path / "m.zarr")
    os.makedirs(root)
    meta = {
        "zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i8",
        "order": "C", "fill_value": 0,
        "compressor": {"id": "zlib", "level": 5},
        "filters": [{"id": "delta", "dtype": "<i8", "astype": "<f4"}],
    }
    with open(f"{root}/.zarray", "w") as f:
        json.dump(meta, f)
    with open(f"{root}/0", "wb") as f:
        f.write(zlib.compress(enc.tobytes()))
    df = ZarrReader(data=dt.Zarr(url=root)).read(spark=spark)
    got = np.array(df.collect()[0].values)
    np.testing.assert_array_equal(got, arr)


def test_zarr_v2_filter_chain_pure():
    """decode_zarr_v2_filters inverts numcodecs filter chains buffer-
    for-buffer (no Spark needed): shuffle, fixedscaleoffset, astype,
    quantize, delta — alone and chained in encode order."""
    import numpy as np

    from intake_spark.readers import decode_zarr_v2_filters as dec

    # shuffle: byte-plane grouping at elementsize
    arr = np.arange(12, dtype="<i4") * 1000 + 7
    raw = arr.tobytes()
    shuffled = bytes(
        np.frombuffer(raw, np.uint8).reshape(-1, 4).T.reshape(-1)
    )
    out = dec(shuffled, [{"id": "shuffle", "elementsize": 4}], "<i4")
    np.testing.assert_array_equal(out, arr)

    # fixedscaleoffset: enc = round((x - offset) * scale) as astype
    x = np.array([1000.5, 1001.25, 1002.0], dtype="<f8")
    f = {"id": "fixedscaleoffset", "offset": 1000.0, "scale": 4,
         "dtype": "<f8", "astype": "<i1"}
    enc = np.round((x - 1000.0) * 4).astype("<i1").tobytes()
    np.testing.assert_allclose(dec(enc, [f], "<f8"), x)

    # astype: stored in encode_dtype, restored to decode_dtype
    y = np.array([1, 2, 300], dtype="<i8")
    f = {"id": "astype", "encode_dtype": "<i2", "decode_dtype": "<i8"}
    np.testing.assert_array_equal(
        dec(y.astype("<i2").tobytes(), [f], "<i8"), y
    )

    # quantize decode is the cast back to dtype
    q = np.array([0.5, 0.25], dtype="<f4")
    f = {"id": "quantize", "digits": 2, "dtype": "<f8", "astype": "<f4"}
    np.testing.assert_allclose(dec(q.tobytes(), [f], "<f8"),
                               q.astype("<f8"))

    # chain [delta, shuffle]: encode applies delta THEN shuffle, decode
    # walks back shuffle -> delta
    a = (np.arange(8, dtype="<i4") * 3 + 50)
    d = np.diff(a, prepend=0).astype("<i4")
    d[0] = a[0]
    raw = d.tobytes()
    shuffled = bytes(
        np.frombuffer(raw, np.uint8).reshape(-1, 4).T.reshape(-1)
    )
    chain = [{"id": "delta", "dtype": "<i4"},
             {"id": "shuffle", "elementsize": 4}]
    np.testing.assert_array_equal(dec(shuffled, chain, "<i4"), a)

    # misaligned shuffle buffer is loud
    import pytest as _p

    with _p.raises(ValueError, match="elementsize"):
        dec(b"12345", [{"id": "shuffle", "elementsize": 4}], "<i4")
