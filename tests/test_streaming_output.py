"""Streaming + sinks + inspection tests."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

from intake_spark import datatypes as dt
from intake_spark import output
from intake_spark.inspection import inspect_dataset, schema_report
from intake_spark.session import load_table
from intake_spark.streaming import FileStream, run_stream_to_memory, windowed_counts


def test_streaming_window_matches_batch(spark, tmp_path):
    """File-watch stream over events → windowed agg ≡ same agg on batch.
    (approx_count_distinct used in both, so results are comparable.)"""
    events = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)

    batch_df = spark.read.parquet(src)
    expected = {
        r.window_start: (r.n_events, r.value_sum)
        for r in windowed_counts(batch_df, window="1 day").collect()
    }

    stream = FileStream(data=dt.Parquet(url=src)).read(
        spark=spark, schema=batch_df.schema, max_files_per_trigger=2
    )
    assert stream.isStreaming
    agg = windowed_counts(stream, window="1 day", watermark="2 days")
    run_stream_to_memory(agg, "win_test", timeout_s=120)
    got = {
        r.window_start: (r.n_events, r.value_sum)
        for r in spark.sql("SELECT * FROM win_test").collect()
    }
    assert got == expected


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming dropDuplicatesWithinWatermark keeps one row per doc key
    (duplicates planted in the source) and equals the batch dedup on the
    same data — the watermark bounds state, dedup within the horizon is
    exact."""
    from pyspark.sql import functions as F

    from intake_spark.streaming import stream_exact_dedup

    events = load_table(spark, SF_SMALL, "events").limit(400)
    dup = events.unionByName(events.limit(150))  # planted duplicates
    src = str(tmp_path / "dedup_src")
    dup.write.mode("overwrite").parquet(src)

    batch_df = spark.read.parquet(src)
    expected = stream_exact_dedup(batch_df, ["event_id"]).count()
    assert expected == 400 and batch_df.count() == 550

    stream = FileStream(data=dt.Parquet(url=src)).read(
        spark=spark, schema=batch_df.schema, max_files_per_trigger=2
    )
    out = stream_exact_dedup(stream, ["event_id"], ts_col="ts", delay="365 days")
    run_stream_to_memory(out, "dedup_test", timeout_s=120, output_mode="append")
    got = spark.sql("SELECT * FROM dedup_test")
    assert got.count() == expected
    assert got.groupBy("event_id").count().agg(F.max("count")).first()[0] == 1


def test_file_stream_requires_schema(spark, tmp_path):
    src = str(tmp_path / "s2")
    load_table(spark, SF_SMALL, "region").write.mode("overwrite").parquet(src)
    with pytest.raises(Exception):
        FileStream(data=dt.Parquet(url=src)).read(spark=spark)  # no schema


def test_sinks_roundtrip(spark, tmp_path):
    region = load_table(spark, SF_SMALL, "region")
    for fn, cls in [
        (output.to_parquet, dt.Parquet),
        (output.to_csv, dt.CSV),
        (output.to_json, dt.JSONFile),
        (output.to_orc, dt.ORC),
    ]:
        url = str(tmp_path / cls.__name__.lower())
        desc = fn(region, url)
        assert isinstance(desc, cls)
        back = desc.to_reader().read(spark=spark)
        assert back.count() == 5


def test_partitioned_parquet_sink(spark, tmp_path):
    nation = load_table(spark, SF_SMALL, "nation")
    url = str(tmp_path / "nation_part")
    output.to_parquet(nation, url, partition_by=["n_regionkey"])
    import os

    subdirs = [d for d in os.listdir(url) if d.startswith("n_regionkey=")]
    assert len(subdirs) == 5
    # partition pruning: filter on the partition key reads 1/5 of dirs
    back = spark.read.parquet(url).filter("n_regionkey = 2")
    assert back.count() == 5


def test_save_as_table(spark):
    region = load_table(spark, SF_SMALL, "region")
    output.to_table(region, "region_tbl", comment="five regions")
    assert spark.sql("SELECT count(*) AS n FROM region_tbl").first().n == 5
    spark.sql("DROP TABLE region_tbl")


def test_catalog_yaml_sink(tmp_path):
    from intake_spark.catalog import Catalog
    from intake_spark.readers import SparkParquet

    cat = Catalog()
    cat["r"] = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/region.parquet"))
    desc = output.catalog_to_yaml(cat, str(tmp_path / "c.yaml"))
    assert isinstance(desc, dt.CatalogData)


def test_inspect_dataset(spark):
    rep = inspect_dataset(f"{SF_SMALL}/lineitem.parquet", spark=spark)
    assert rep["datatype"] == "Parquet"
    assert "l_orderkey" in rep["columns"]
    assert rep["bytes"] > 0 and rep["n_files"] == 1
    assert rep["npartitions"] >= 1


def test_schema_report(spark):
    rep = schema_report(load_table(spark, SF_SMALL, "orders"))
    assert rep["dtypes"]["o_orderkey"] == "bigint"


def test_zarr_sink_roundtrip(spark, tmp_path):
    """Distributed zarr write (executor chunk files) → ZarrReader read-back
    equals the source array."""
    import numpy as np

    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.readers import ZarrReader

    arr = np.arange(10 * 3, dtype="<f8").reshape(10, 3) * 0.5
    npy = str(tmp_path / "a.npy")
    np.save(npy, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(
        spark=spark, rows_per_chunk=4
    )
    store = str(tmp_path / "a.zarr")
    output.to_zarr(chunks, store)
    back = ZarrReader(data=dt.Zarr(url=store)).read(spark=spark)
    rows = sorted(back.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 3) for r in rows])
    np.testing.assert_array_equal(rebuilt, arr)


def test_npy_sink_roundtrip(spark, tmp_path):
    import numpy as np

    from intake_spark.arrays import NumpyArrayReader

    arr = np.linspace(0, 1, 24, dtype="<f8").reshape(6, 4)
    src = str(tmp_path / "in.npy")
    np.save(src, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=src)).read(spark=spark, rows_per_chunk=2)
    dst = str(tmp_path / "out.npy")
    output.to_npy(chunks, dst)
    np.testing.assert_array_equal(np.load(dst), arr)


def test_png_wav_sinks(spark, tmp_path):
    import struct
    import wave
    import zlib

    import numpy as np

    from intake_spark.arrays import NumpyArrayReader

    img = (np.arange(8 * 8) % 256).astype("<f8").reshape(8, 8)
    npy = str(tmp_path / "img.npy")
    np.save(npy, img)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(spark=spark, rows_per_chunk=8)
    png = str(tmp_path / "img.png")
    output.to_png(chunks, png)
    blob = open(png, "rb").read()
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", blob[16:24])
    assert (w, h) == (8, 8)
    # decode IDAT scanlines back and compare pixel values
    idat_off = blob.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", blob[idat_off - 8 : idat_off - 4])[0]
    raw = zlib.decompress(blob[idat_off : idat_off + idat_len])
    px = [list(raw[r * 9 + 1 : r * 9 + 9]) for r in range(8)]
    np.testing.assert_array_equal(np.array(px, dtype=float), img)

    sig = np.sin(np.linspace(0, 6.28, 100)).astype("<f8")
    npy2 = str(tmp_path / "sig.npy")
    np.save(npy2, sig)
    chunks2 = NumpyArrayReader(data=dt.NumpyFile(url=npy2)).read(spark=spark, rows_per_chunk=40)
    wav = str(tmp_path / "sig.wav")
    output.to_wav(chunks2, wav, rate=8000)
    with wave.open(wav) as wf:
        assert wf.getnframes() == 100
        assert wf.getframerate() == 8000
        frames = np.frombuffer(wf.readframes(100), dtype="<i2")
    np.testing.assert_allclose(frames / 32767.0, sig, atol=1e-3)


def test_single_file_sink_size_guard(spark, tmp_path):
    """Driver-streamed sinks refuse arrays above max_bytes (computed from
    shape metadata — no data action) and name the distributed alternative;
    max_bytes=None overrides deliberately."""
    import numpy as np
    import pytest

    from intake_spark.arrays import NumpyArrayReader

    arr = np.zeros((64, 4), dtype="<f8")  # 2048 bytes
    npy = str(tmp_path / "g.npy")
    np.save(npy, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(spark=spark, rows_per_chunk=16)
    for sink, args in [
        (output.to_npy, (str(tmp_path / "o.npy"),)),
        (output.to_png, (str(tmp_path / "o.png"),)),
        (output.to_wav, (str(tmp_path / "o.wav"),)),
        (output.to_netcdf, (str(tmp_path / "o.nc"),)),
    ]:
        with pytest.raises(ValueError, match="to_zarr"):
            sink(chunks, *args, max_bytes=1024)
    # explicit override still writes
    out = output.to_npy(chunks, str(tmp_path / "ok.npy"), max_bytes=None)
    np.testing.assert_array_equal(np.load(out.url), arr)


# every single-file array sink: (name, sink, file suffix, extra kwargs);
# to_wav runs twice, since max_bytes=None skips its shape pre-pass
ARRAY_SINKS = [
    ("to_npy", output.to_npy, ".npy", {}),
    ("to_png", output.to_png, ".png", {}),
    ("to_wav", output.to_wav, ".wav", {}),
    ("to_wav", output.to_wav, ".nocap.wav", {"max_bytes": None}),
    ("to_ogg", output.to_ogg, ".ogg", {}),
    ("to_netcdf", output.to_netcdf, ".nc", {}),
    ("to_hdf5", output.to_hdf5, ".h5", {}),
    ("to_tiff", output.to_tiff, ".tif", {}),
    ("to_jpeg2000", output.to_jpeg2000, ".j2k", {}),
    ("to_webp", output.to_webp, ".webp", {}),
    ("to_nrrd", output.to_nrrd, ".nrrd", {}),
    ("to_metaimage", output.to_metaimage, ".mha", {}),
]


def _grid_chunks(spark, tmp_path, arr, rows_per_chunk):
    import numpy as np

    from intake_spark.arrays import NumpyArrayReader

    npy = str(tmp_path / f"grid{arr.size}.npy")
    np.save(npy, arr)
    return NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(
        spark=spark, rows_per_chunk=rows_per_chunk
    )


def test_array_sinks_refuse_incomplete_frames(spark, tmp_path):
    """A frame missing a chunk makes every array sink raise, naming the
    sink, and leave no file (to_wav and to_ogg used to write the short
    signal, to_hdf5 kept its truncated file). A duplicated chunk that
    hides a gap (offsets 0, 0, 80 of 100 values) raises from to_npy and
    chunk_rows_to_numpy instead of filling rows 40-80 with unset
    memory."""
    import os

    import numpy as np
    from pyspark.sql import functions as F_

    from intake_spark.convert import chunk_rows_to_numpy

    arr = (np.arange(16 * 8) % 200).astype("<f8").reshape(16, 8) / 256.0
    holed = _grid_chunks(spark, tmp_path, arr, 4).filter(F_.col("offset0") != 4)
    for name, sink, suffix, kw in ARRAY_SINKS:
        url = str(tmp_path / f"holed{suffix}")
        with pytest.raises(ValueError, match=name):
            sink(holed, url, **kw)
        assert not os.path.exists(url), name

    sig = _grid_chunks(spark, tmp_path, np.linspace(-1, 1, 100), 40)
    c0 = sig.filter(F_.col("offset0") == 0)
    dup_gap = c0.unionByName(c0).unionByName(sig.filter(F_.col("offset0") == 80))
    with pytest.raises(ValueError, match="to_npy"):
        output.to_npy(dup_gap, str(tmp_path / "dup.npy"))
    assert not os.path.exists(str(tmp_path / "dup.npy"))
    with pytest.raises(ValueError, match="chunk_rows_to_numpy"):
        chunk_rows_to_numpy(dup_gap)


def test_array_sinks_stream_axis0_slices(spark, tmp_path):
    """slice_axis0 keeps global offsets (the first row starts at 3) while
    shape[0] is the sliced length: every array sink still streams it,
    and the .npy and the driver array hold exactly the sliced rows."""
    import numpy as np

    from intake_spark.arrays import slice_axis0
    from intake_spark.convert import chunk_rows_to_numpy

    arr = (np.arange(16 * 8) % 200).astype("<f8").reshape(16, 8) / 256.0
    sliced = slice_axis0(_grid_chunks(spark, tmp_path, arr, 4), 3, 11)
    for _name, sink, suffix, kw in ARRAY_SINKS:
        sink(sliced, str(tmp_path / f"sliced{suffix}"), **kw)
    np.testing.assert_array_equal(np.load(str(tmp_path / "sliced.npy")), arr[3:11])
    np.testing.assert_array_equal(chunk_rows_to_numpy(sliced), arr[3:11])


def test_chunk_rows_encoded_and_decoded_only_in_arrays():
    """arrays.py owns the chunk-row codec (cut_axis0, byte_range_df,
    stream_axis0). Anywhere else in the package, a dict literal with an
    "offset0" key, a frame built with a literal chunk-row ``columns=``
    list, an ``orderBy("offset0")`` or a ``toLocalIterator`` over chunk
    rows is a second hand-written copy of it."""
    import ast
    import pathlib

    from tests.conftest import method_calls

    def names_offset0(node, consts=("offset0",)):
        return any(
            isinstance(n, ast.Constant) and n.value in consts for n in ast.walk(node)
        )

    root = pathlib.Path(output.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "arrays.py":
            continue
        rel = path.relative_to(root.parent)
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict) and any(
                k is not None and names_offset0(k) for k in node.keys
            ):
                bad.append(f"{rel}:{node.lineno} chunk-row dict literal")
            if (isinstance(node, ast.keyword) and node.arg == "columns"
                    and isinstance(node.value, (ast.List, ast.Tuple))
                    and names_offset0(node.value)):
                bad.append(f"{rel}:{node.lineno} chunk-row columns list")
        for fn, call in method_calls(tree, "orderBy"):
            if any(names_offset0(a) for a in call.args):
                bad.append(f"{rel}:{call.lineno} orderBy(offset0) in {fn}")
        for fn, call in method_calls(tree, "toLocalIterator"):
            if names_offset0(call.func.value, ("offset0", "values", "shape")):
                bad.append(f"{rel}:{call.lineno} chunk-row toLocalIterator in {fn}")
    assert not bad, bad


def test_png_sink_multi_chunk(spark, tmp_path):
    """to_png must stitch ALL chunk rows in offset order — a 16-row image
    read as 4-row chunks writes a full 16-row PNG, not the first chunk."""
    import struct
    import zlib

    import numpy as np

    from intake_spark.arrays import NumpyArrayReader

    img = (np.arange(16 * 6) % 256).astype("<f8").reshape(16, 6)
    npy = str(tmp_path / "tall.npy")
    np.save(npy, img)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(spark=spark, rows_per_chunk=4)
    png = str(tmp_path / "tall.png")
    output.to_png(chunks, png)
    blob = open(png, "rb").read()
    w, h = struct.unpack(">II", blob[16:24])
    assert (w, h) == (6, 16)
    idat_off = blob.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", blob[idat_off - 8 : idat_off - 4])[0]
    raw = zlib.decompress(blob[idat_off : idat_off + idat_len])
    px = [list(raw[r * 7 + 1 : r * 7 + 7]) for r in range(16)]
    np.testing.assert_array_equal(np.array(px, dtype=float), img)


def test_netcdf_sink_roundtrip(spark, tmp_path):
    import numpy as np

    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.sci import NetCDF3Reader

    arr = np.arange(8 * 2, dtype="<f8").reshape(8, 2) / 3.0
    npy = str(tmp_path / "a.npy")
    np.save(npy, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(spark=spark, rows_per_chunk=3)
    nc = str(tmp_path / "a.nc")
    desc = output.to_netcdf(chunks, nc, variable="vals")
    back = NetCDF3Reader(data=desc).read(spark=spark)
    rows = sorted(back.collect(), key=lambda r: r.offset0)
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 2) for r in rows])
    np.testing.assert_array_equal(rebuilt, arr)


def test_tiff_sink_roundtrips_with_reader(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark import output
    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.sci import TIFFReader

    img = (np.arange(48, dtype="<f8").reshape(6, 8) * 5) % 256
    src = str(tmp_path / "img.npy")
    np.save(src, img)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=src)).read(spark=spark, rows_per_chunk=2)
    tif = str(tmp_path / "img.tif")
    output.to_tiff(chunks, tif)
    back = TIFFReader(data=dt.TIFF(url=tif)).read(spark=spark)
    got = sorted((r["offset0"], list(r["values"])) for r in back.select("offset0", "values").collect())
    flat = [v for _off, vv in got for v in vv]
    np.testing.assert_array_equal(np.array(flat).reshape(6, 8), img)


def test_nrrd_and_metaimage_sinks_roundtrip(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark import output
    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.sci import MetaImage, MetaImageReader, NRRD, NRRDReader

    arr = np.linspace(-3, 3, 24, dtype="<f8").reshape(2, 3, 4)
    src = str(tmp_path / "a.npy")
    np.save(src, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=src)).read(spark=spark, rows_per_chunk=1)

    nrrd = str(tmp_path / "a.nrrd")
    output.to_nrrd(chunks, nrrd)
    back = NRRDReader(data=NRRD(url=nrrd)).read(spark=spark)
    got = sorted((r["offset0"], list(r["values"])) for r in back.select("offset0", "values").collect())
    flat = [v for _o, vv in got for v in vv]
    np.testing.assert_allclose(np.array(flat).reshape(arr.shape), arr)

    mha = str(tmp_path / "a.mha")
    output.to_metaimage(chunks, mha)
    back2 = MetaImageReader(data=MetaImage(url=mha)).read(spark=spark)
    got2 = sorted((r["offset0"], list(r["values"])) for r in back2.select("offset0", "values").collect())
    flat2 = [v for _o, vv in got2 for v in vv]
    np.testing.assert_allclose(np.array(flat2).reshape(arr.shape), arr)


def test_avro_sink_roundtrips_with_ocf_reader(spark, tmp_path):
    from intake_spark import output
    from intake_spark.lakehouse import AvroOCFReader

    df = spark.createDataFrame(
        [
            (1, "alpha", 1.5, True, bytearray(b"\x01\x02")),
            (2, None, -2.25, False, None),
            (3, "c" * 40, None, None, bytearray(b"")),
        ],
        "id long, name string, score double, ok boolean, payload binary",
    ).repartition(2)
    dst = str(tmp_path / "out_avro")
    desc = output.to_avro(df, dst, codec="deflate")
    assert desc.metadata["rows_written"] == 3
    back = AvroOCFReader(data=desc).read(spark=spark)
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 3
    assert rows[1].name == "alpha" and rows[1].ok is True
    assert bytes(rows[1].payload) == b"\x01\x02"
    assert rows[2].name is None and rows[2].score == -2.25
    assert rows[3].score is None and rows[3].name == "c" * 40

    import pytest as _pytest

    # nested columns are supported now; Avro maps need STRING keys
    with _pytest.raises(ValueError, match="string keys"):
        output.to_avro(
            df.selectExpr("map(id, id) AS m"), str(tmp_path / "bad")
        )


def test_msgpack_sink_roundtrips_with_reader(spark, tmp_path):
    from intake_spark import output
    from intake_spark.documents import MessagePackReader

    df = spark.createDataFrame(
        [(1, "a", 0.5, True), (70000, "b" * 40, None, None), (-7, None, 2.0, False)],
        "id long, name string, score double, ok boolean",
    ).repartition(2)
    dst = str(tmp_path / "out_mp")
    desc = output.to_msgpack(df, dst)
    assert desc.metadata["rows_written"] == 3
    back = MessagePackReader(data=desc).read(spark=spark)
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 3
    assert rows[1].name == "a" and rows[1].ok is True
    assert rows[70000].score is None
    assert rows[-7].name is None and rows[-7].score == 2.0


def test_msgpack_sink_nonnull_numpy_dtypes(spark, tmp_path):
    """Non-null bool/long columns arrive as numpy scalars in the encode
    path — they must encode as msgpack bool/int, not stringify."""
    from intake_spark import output
    from intake_spark.documents import MessagePack, MessagePackReader

    df = spark.createDataFrame(
        [(1, True, 7), (2, False, -3)], "id long, ok boolean, n long"
    ).coalesce(1)
    dst = str(tmp_path / "np_mp")
    output.to_msgpack(df, dst)
    back = MessagePackReader(data=MessagePack(url=dst)).read(spark=spark)
    rows = {r.id: r for r in back.collect()}
    assert rows[1].ok is True and rows[2].ok is False
    assert rows[1].n == 7 and rows[2].n == -3
    assert dict(back.dtypes)["ok"] == "boolean" and dict(back.dtypes)["n"] == "bigint"


def test_parquet_layout_report(spark):
    from intake_spark.inspection import parquet_layout

    rep = parquet_layout(spark, f"{SF_SMALL}/lineitem.parquet")
    rows = rep.collect()
    cols = {r.column for r in rows}
    assert "l_orderkey" in cols and "l_shipdate" in cols
    ok = [r for r in rows if r.column == "l_orderkey"]
    assert all(r.has_stats for r in ok)
    # min/max present -> row-group pruning viable on the sort-ish key
    assert all(r.stat_min is not None and int(r.stat_min) >= 0 for r in ok)
    assert sum(r.n_rows for r in ok) >= 6000 / len({r.row_group for r in ok})
    assert all(r.compressed_bytes > 0 for r in rows)


def test_cross_format_roundtrip_chain(spark, tmp_path):
    """documents → Avro OCF → read → MessagePack → read: values survive
    two stdlib sink/reader hops unchanged (the format-switching path a
    migrating user exercises)."""
    from intake_spark import output
    from intake_spark.documents import MessagePack, MessagePackReader
    from intake_spark.lakehouse import AvroOCFReader

    src = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .limit(50)
    )
    avro_dst = str(tmp_path / "docs_avro")
    desc = output.to_avro(src, avro_dst)
    mid = AvroOCFReader(data=desc).read(spark=spark)
    mp_dst = str(tmp_path / "docs_mp")
    output.to_msgpack(mid, mp_dst)
    final = MessagePackReader(data=MessagePack(url=mp_dst)).read(spark=spark)
    a = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in src.collect()}
    b = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in final.collect()}
    assert a == b


def test_sinks_remove_stale_parts_on_rerun(spark, tmp_path):
    """Regression (r6 review): re-running to_avro / to_msgpack with fewer
    partitions must not leave previous-run part files for readers to
    silently merge (to_geoparquet already cleans; these two skipped it)."""
    from intake_spark import output
    from intake_spark.documents import MessagePackReader
    from intake_spark.lakehouse import AvroOCFReader

    big = spark.range(8).selectExpr("id", "id * 2 AS v").repartition(8)
    small = spark.range(100, 102).selectExpr("id", "id * 2 AS v").repartition(1)

    avro_dst = str(tmp_path / "av")
    output.to_avro(big, avro_dst)
    desc = output.to_avro(small, avro_dst)
    back = AvroOCFReader(data=desc).read(spark=spark)
    assert sorted(r.id for r in back.collect()) == [100, 101]

    mp_dst = str(tmp_path / "mp")
    output.to_msgpack(big, mp_dst)
    desc2 = output.to_msgpack(small, mp_dst)
    back2 = MessagePackReader(data=desc2).read(spark=spark)
    assert sorted(r.id for r in back2.collect()) == [100, 101]


def test_to_geoparquet_consistent_types_across_null_partitions(spark, tmp_path):
    """Regression (r6 review): a null concentrated in one partition must
    not flip that part's column to double while others stay int64 — all
    parts share one explicit arrow schema."""
    import pyarrow.parquet as pq

    from intake_spark import output
    from intake_spark.geo import GeoParquetReader

    rows = [
        ('{"type":"Point","coordinates":[0.0,0.0]}', 1, 10),
        ('{"type":"Point","coordinates":[1.0,1.0]}', 2, None),
    ]
    df = spark.createDataFrame(
        rows, "geometry string, fid long, attr long"
    ).repartition(2, "fid")
    dst = str(tmp_path / "gp")
    output.to_geoparquet(df, dst)
    import glob as _glob

    parts = sorted(_glob.glob(f"{dst}/part-*.parquet"))
    types = {str(pq.read_schema(p).field("attr").type) for p in parts}
    assert types == {"int64"}, types
    from intake_spark.geo import GeoParquet

    back = GeoParquetReader(data=GeoParquet(url=dst)).read(spark=spark)
    got = {r.fid: r.attr for r in back.select("fid", "attr").collect()}
    assert got == {1: 10, 2: None}


def test_to_zarr_rejects_misaligned_chunks(spark, tmp_path):
    """Regression (r6 review): slice_axis0 output (absolute offsets, first
    chunk starting mid-block) must be refused with a named error, not
    written to wrong chunk indices with zero-padding."""
    import numpy as np
    import pytest as _pytest

    from intake_spark import output
    from intake_spark.arrays import NumpyArrayReader, slice_axis0

    arr = np.arange(40, dtype="<f8").reshape(40, 1)
    npy = str(tmp_path / "m.npy")
    np.save(npy, arr)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(
        spark=spark, rows_per_chunk=10
    )
    # mid-block start: caught by the executor-side per-row guard
    sliced = slice_axis0(chunks, 5, 25)
    with _pytest.raises(Exception, match="aligned"):
        output.to_zarr(sliced, str(tmp_path / "z"))
    # block-ALIGNED slice that does not start at row 0: offsets 10/20 sit
    # on the grid but shape[0] was rebased to 20 — chunk 20 lands past the
    # array end and must be refused, not written to index 2 of a 2-chunk
    # store (r6 review: the first guard version missed exactly this)
    sliced2 = slice_axis0(chunks, 10, 30)
    with _pytest.raises(Exception, match="aligned"):
        output.to_zarr(sliced2, str(tmp_path / "z2"))
    # dropped interior block: total coverage check in the stats aggregate
    from pyspark.sql import functions as F_

    holed = chunks.filter(F_.col("offset0") != 10)
    with _pytest.raises(ValueError, match="does not tile"):
        output.to_zarr(holed, str(tmp_path / "z3"))


def test_to_table_comment_with_backslash(spark):
    from intake_spark import output

    df = spark.range(2)
    name = "t_comment_bs"
    try:
        output.to_table(df, name, comment="path C:\\temp\\ and 'quo'te\\")
        # the 'comment' property is promoted to the table comment (it is
        # hidden from SHOW TBLPROPERTIES)
        assert spark.catalog.getTable(name).description \
            == "path C:\\temp\\ and 'quo'te\\"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_to_avro_snappy_roundtrip(spark, tmp_path):
    """to_avro(codec='snappy') → AvroOCFReader: executor-side snappy
    encode with the spec's big-endian CRC32-of-uncompressed suffix,
    decoded by the stdlib snappy path (CRC verified on read)."""
    from intake_spark import output
    from intake_spark.lakehouse import AvroOCFReader

    df = spark.createDataFrame(
        [(i, f"name{i}" * 10, i * 0.25) for i in range(50)],
        "id long, name string, score double",
    ).repartition(2)
    dst = str(tmp_path / "out_avro_snappy")
    desc = output.to_avro(df, dst, codec="snappy")
    assert desc.metadata["rows_written"] == 50
    back = {r.id: r for r in AvroOCFReader(data=desc).read(spark=spark).collect()}
    assert len(back) == 50
    assert back[7].name == "name7" * 10 and back[7].score == 1.75


def test_to_avro_nested_columns_roundtrip(spark, tmp_path):
    """array / map / struct columns write through the generic Avro
    encoder (["null", X] unions at every nullable level) and round-trip
    with AvroOCFReader — element nulls, empty containers and NULL
    containers all preserved."""
    from intake_spark import output
    from intake_spark.lakehouse import AvroOCFReader

    df = spark.createDataFrame(
        [
            (1, [1, 2, None], {"a": 1.5}, ("x", 7)),
            (2, [], {}, (None, None)),
            (3, None, None, None),
        ],
        "id long, arr array<int>, m map<string,double>, st struct<s:string,k:long>",
    )
    out = output.to_avro(df, str(tmp_path / "nested_avro"), codec="snappy")
    back = AvroOCFReader(data=out).read(spark=spark)
    assert dict(back.dtypes) == {
        "id": "bigint", "arr": "array<int>", "m": "map<string,double>",
        "st": "struct<s:string,k:bigint>",
    }
    got = {r.id: r for r in back.collect()}
    assert list(got[1].arr) == [1, 2, None]
    assert dict(got[1].m) == {"a": 1.5}
    assert (got[1].st.s, got[1].st.k) == ("x", 7)
    assert list(got[2].arr) == [] and dict(got[2].m) == {}
    assert got[2].st.s is None and got[2].st.k is None
    assert got[3].arr is None and got[3].m is None and got[3].st is None


def test_to_token_shards_budget_and_manifest(spark, tmp_path):
    """Token-budgeted shard export: consecutive ids per shard, documents
    never split, per-shard token sums bracket the target, manifest
    matches the written data, deterministic under any partitioning."""
    import json
    import os

    from intake_spark.output import to_token_shards

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i % 7))) for i in range(100)],
        "doc_id long, text string",
    )
    url = str(tmp_path / "shards")
    man = to_token_shards(docs, url, target_tokens=200, shards_hint=4)

    back = spark.read.parquet(url)
    assert back.count() == 100
    rows = sorted(
        ((r.shard_id, r.doc_id, r.n_tokens) for r in back.collect())
    )
    # shards hold consecutive ascending ids
    by_shard: dict = {}
    for sid, did, nt in rows:
        by_shard.setdefault(sid, []).append((did, nt))
    ids_in_order = [d for sid in sorted(by_shard) for d, _ in by_shard[sid]]
    assert ids_in_order == sorted(ids_in_order) == list(range(100))
    # every shard except the last reaches the target once its LAST doc
    # lands (exclusive-cum assignment), and starts below it
    sids = sorted(by_shard)
    for sid in sids[:-1]:
        tot = sum(nt for _, nt in by_shard[sid])
        assert tot >= 200 - max(nt for _, nt in by_shard[sid])
        assert tot < 200 + max(nt for _, nt in by_shard[sid])
    # manifest agrees with the data
    with open(os.path.join(url, "_manifest.json")) as f:
        m2 = json.load(f)
    assert m2 == man and m2["target_tokens"] == 200
    assert {s["shard_id"]: s["n_docs"] for s in m2["shards"]} == {
        sid: len(v) for sid, v in by_shard.items()
    }
    assert {s["shard_id"]: s["n_tokens"] for s in m2["shards"]} == {
        sid: sum(nt for _, nt in v) for sid, v in by_shard.items()
    }
    # deterministic under a different input partitioning
    man2 = to_token_shards(
        docs.repartition(13), str(tmp_path / "shards2"), target_tokens=200,
        shards_hint=3,
    )
    assert man2["shards"] == man["shards"]

    import pytest

    with pytest.raises(ValueError):
        to_token_shards(docs, url, target_tokens=0)


def test_to_token_shards_guards(spark, tmp_path):
    """Review-finding guards: append mode refused (shard ids restart per
    call), pre-existing shard_id/n_tokens column collisions named, and
    tokens_col='n_tokens' (the natural re-shard case) works with a
    single n_tokens column in the output."""
    import pytest

    from intake_spark.output import to_token_shards

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(20)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="append"):
        to_token_shards(docs, str(tmp_path / "a"), target_tokens=50, mode="append")
    with pytest.raises(ValueError, match="shard_id"):
        to_token_shards(
            docs.withColumn("shard_id", docs.doc_id),
            str(tmp_path / "b"),
            target_tokens=50,
        )
    with pytest.raises(ValueError, match="n_tokens"):
        to_token_shards(
            docs.withColumn("n_tokens", docs.doc_id),
            str(tmp_path / "c"),
            target_tokens=50,
        )
    # re-shard on an existing n_tokens column: no duplicate columns
    from pyspark.sql import functions as F

    pre = docs.withColumn("n_tokens", F.lit(10).cast("long"))
    man = to_token_shards(
        pre, str(tmp_path / "d"), target_tokens=50, tokens_col="n_tokens"
    )
    back = spark.read.parquet(str(tmp_path / "d"))
    assert back.columns.count("n_tokens") == 1
    assert sum(s["n_tokens"] for s in man["shards"]) == 200
    assert all(s["n_tokens"] == 50 for s in man["shards"])


def test_to_token_shards_rejects_duplicate_ids(spark, tmp_path):
    """The shard map is id-keyed: a duplicated id would multiply rows
    through the join and silently inflate shard budgets — refused loudly
    before anything is written."""
    import pytest

    from intake_spark.output import to_token_shards

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (2, "g h i")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="unique 'doc_id'"):
        to_token_shards(docs, str(tmp_path / "dup"), target_tokens=5)
    assert not (tmp_path / "dup").exists()


def test_to_token_shards_null_id_and_intra_file_order(spark, tmp_path):
    """Review findings: a NULL id is refused by name (it has no position
    in the id order and would vanish through the join); rows WITHIN each
    written part file are in ascending id order (the write's own
    partition-column sort must not destroy it)."""
    import glob

    import pytest

    from intake_spark.output import to_token_shards

    docs = spark.createDataFrame(
        [(None, "a b c")] + [(i, "a b c") for i in range(10)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="non-NULL 'doc_id'"):
        to_token_shards(docs, str(tmp_path / "n"), target_tokens=9)

    ok = spark.createDataFrame(
        [(i, " ".join(["w"] * 5)) for i in range(60)],
        "doc_id long, text string",
    )
    url = str(tmp_path / "o")
    to_token_shards(ok.repartition(7), url, target_tokens=50)
    for part in glob.glob(f"{url}/shard_id=*/part-*.parquet"):
        ids = [r.doc_id for r in spark.read.parquet(part).collect()]
        assert ids == sorted(ids), part


def test_to_token_shards_curriculum_order(spark, tmp_path):
    """order_by=['difficulty'] shards in CURRICULUM order: shard 0 holds
    the easiest ~target_tokens, boundaries follow difficulty (id only
    breaks ties), and rows within each shard file are difficulty-ordered."""
    import glob

    from intake_spark.output import to_token_shards

    # difficulty anti-correlated with id so id order would be WRONG
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10), 100 - i) for i in range(60)],
        "doc_id long, text string, difficulty long",
    )
    url = str(tmp_path / "cur")
    man = to_token_shards(
        docs.repartition(7), url, target_tokens=200, order_by=["difficulty"]
    )
    back = spark.read.parquet(url).collect()
    by_shard: dict = {}
    for r in back:
        by_shard.setdefault(r.shard_id, []).append(r.difficulty)
    sids = sorted(by_shard)
    # curriculum: every difficulty in shard s < every difficulty in s+1
    for a, b in zip(sids, sids[1:]):
        assert max(by_shard[a]) < min(by_shard[b])
    # 10 tokens/doc, 200/shard -> 20 docs per shard
    assert [len(by_shard[s]) for s in sids] == [20, 20, 20]
    assert sum(s["n_tokens"] for s in man["shards"]) == 600
    # within each part file, difficulty ascending
    for part in glob.glob(f"{url}/shard_id=*/part-*.parquet"):
        ds = [r.difficulty for r in spark.read.parquet(part).collect()]
        assert ds == sorted(ds), part

    import pytest

    with pytest.raises(ValueError, match="order_by column 'nope'"):
        to_token_shards(docs, str(tmp_path / "x"), target_tokens=50,
                        order_by=["nope"])


def test_to_token_shards_order_by_rejects_column_objects(spark, tmp_path):
    from pyspark.sql import functions as F
    import pytest

    from intake_spark.output import to_token_shards

    docs = spark.createDataFrame(
        [(1, "a b c", 1)], "doc_id long, text string, d long"
    )
    with pytest.raises(ValueError, match="column NAMES"):
        to_token_shards(docs, str(tmp_path / "x"), target_tokens=5,
                        order_by=[F.col("d")])


def test_jpeg2000_sink_roundtrip_and_recommend(spark, tmp_path):
    """to_jpeg2000 writes a lossless codestream that decodes bit-exactly
    (incl. 16-bit values); recommend() classifies both JP2 boxes and raw
    codestreams as the JPEG2000 datatype."""
    import numpy as np

    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.llm.jpeg2000 import decode_jpeg2000

    rng = np.random.default_rng(3)
    img = rng.integers(0, 4096, (12, 9)).astype("<f8")
    npy = str(tmp_path / "img.npy")
    np.save(npy, img)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(
        spark=spark, rows_per_chunk=5
    )
    j2k = str(tmp_path / "img.j2k")
    out = output.to_jpeg2000(chunks, j2k)
    assert isinstance(out, dt.JPEG2000)
    np.testing.assert_array_equal(
        decode_jpeg2000(open(j2k, "rb").read()).astype("<f8"), img
    )
    # lossy form stays within quantizer error
    j2l = str(tmp_path / "img_lossy.j2k")
    output.to_jpeg2000(chunks, j2l, irreversible=True)
    lossy = decode_jpeg2000(open(j2l, "rb").read()).astype(int)
    assert np.abs(lossy - img.astype(int)).max() <= 4

    from intake_spark.datatypes import recommend

    blob = open(j2k, "rb").read()
    got = recommend(url="x.j2k", head=blob[:256])
    assert any(c.__name__ == "JPEG2000" for c in got[:2])
    got2 = recommend(url="x.jp2")
    assert any(c.__name__ == "JPEG2000" for c in got2[:2])
