"""Reader/pipeline/catalog integration: the reference's core workflows
(SURVEY §3.1-3.3) re-expressed on Spark and round-tripped through YAML."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from tests.conftest import SF_SMALL

from intake_spark import datatypes as dt
from intake_spark.catalog import Catalog, open_catalog
from intake_spark.convert import auto_pipeline, one_shot
from intake_spark.pipeline import Pipeline, Retry, Condition, PipelineError
from intake_spark.readers import SparkParquet, reader_from_call
from intake_spark.search import Importable, Text
from intake_spark.user_parameters import SimpleUserParameter, substitute


@pytest.fixture()
def li_reader():
    return SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/lineitem.parquet"))


def test_reader_read_and_discover(spark, li_reader):
    df = li_reader.read(spark=spark)
    assert isinstance(df, DataFrame)
    assert "l_orderkey" in df.columns
    assert li_reader.discover(spark=spark).count() == 10


def test_pipeline_getitem_method_chain(spark, li_reader):
    pipe = li_reader[["l_orderkey", "l_quantity"]].filter("l_quantity > 40").limit(5)
    assert isinstance(pipe, Pipeline)
    out = pipe.read(spark=spark)
    assert out.columns == ["l_orderkey", "l_quantity"]
    rows = out.collect()
    assert len(rows) == 5 and all(r.l_quantity > 40 for r in rows)


def test_pipeline_immutable_accumulation(spark, li_reader):
    base = li_reader[["l_orderkey"]]
    a = base.limit(1)
    b = base.limit(2)
    assert len(a.steps) == 2 and len(b.steps) == 2
    assert a.steps != b.steps


def test_pipeline_stepwise(spark, li_reader):
    ex = li_reader[["l_orderkey"]].limit(3).read_stepwise(spark=spark)
    first = ex.step()
    assert "l_quantity" in first.columns  # raw read
    ex.step()
    final = ex.step()
    assert final.columns == ["l_orderkey"] and ex.done
    assert final.count() == 3


def test_pipeline_error_carries_stage(spark, li_reader):
    pipe = li_reader.filter("no_such_column > 1")
    with pytest.raises(PipelineError) as ei:
        pipe.read(spark=spark).collect()
    assert ei.value.stage == 0


def test_method_allowlist(li_reader):
    with pytest.raises(AttributeError):
        li_reader.not_a_dataframe_method
    # but a chained pipeline also rejects unknown names
    with pytest.raises(AttributeError):
        li_reader[["l_orderkey"]].definitely_not_real


def test_catalog_roundtrip(spark, tmp_path, li_reader):
    cat = Catalog()
    pipe = li_reader[["l_orderkey", "l_extendedprice"]].limit(7)
    cat["lite"] = pipe
    path = str(tmp_path / "cat.yaml")
    cat.to_yaml_file(path)

    cat2 = open_catalog(path)
    assert "lite" in cat2
    out = cat2["lite"].read(spark=spark)
    assert out.count() == 7 and out.columns == ["l_orderkey", "l_extendedprice"]


def test_catalog_user_parameters(spark, tmp_path):
    cat = Catalog()
    reader = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/lineitem.parquet"))
    pipe = reader.filter("l_quantity > {min_qty}")
    cat["filtered"] = pipe
    tok = cat.aliases["filtered"]
    cat.entries[tok].user_parameters["min_qty"] = SimpleUserParameter(dtype=int, default=45)

    path = str(tmp_path / "cat.yaml")
    cat.to_yaml_file(path)
    cat2 = open_catalog(path)

    n_default = cat2["filtered"].read(spark=spark).count()
    n_lower = cat2.to_reader("filtered", min_qty=10).read(spark=spark).count()
    assert 0 < n_default < n_lower
    # coercion: string input becomes int
    n_str = cat2.to_reader("filtered", min_qty="45").read(spark=spark).count()
    assert n_str == n_default


def test_catalog_nested_reference_extraction(spark, li_reader):
    """Nested reader kwargs become {data(token)} refs, rehydrated on access."""
    cat = Catalog()
    cat["base"] = li_reader[["l_orderkey"]]
    assert len(cat.entries) >= 1
    tok = cat.add_entry(li_reader[["l_orderkey"]].limit(3), name="dup")
    # identical description → same token (dedup)
    assert tok in cat.entries


def test_catalog_search_and_merge(li_reader):
    cat = Catalog()
    cat["orders_like"] = li_reader[["l_orderkey"]]
    hits = cat.search("lineitem")
    assert "orders_like" in hits.aliases
    assert len(cat.search(Text("nonexistent-zzz")).entries) == 0
    assert len(cat.search(Importable())) == len(cat.entries)

    other = Catalog()
    other["extra"] = li_reader.limit(1)
    merged = cat + other
    assert "orders_like" in merged.aliases and "extra" in merged.aliases


def test_catalog_extract_parameter(spark, li_reader):
    cat = Catalog()
    cat["li"] = Pipeline(reader=li_reader, steps=[("method", "limit", [9], {})])
    cat.extract_parameter("li", "n", 9, SimpleUserParameter(dtype=int, default=9))
    assert cat.to_reader("li", n=4).read(spark=spark).count() == 4
    assert cat["li"].read(spark=spark).count() == 9


def test_catalog_register_views(spark, li_reader):
    cat = Catalog()
    cat["li_view"] = li_reader[["l_orderkey", "l_quantity"]]
    views = cat.register_views(spark=spark)
    assert "li_view" in views
    n = spark.sql("SELECT count(*) AS n FROM li_view WHERE l_quantity > 40").first().n
    assert n > 0


def test_substitute_templates(monkeypatch):
    monkeypatch.setenv("MY_TEST_VAR", "hello")
    out = substitute(
        {"a": "{x}", "b": "pre_{x}_post", "c": "env(MY_TEST_VAR)", "d": [1, "{y}"]},
        {"x": 42, "y": "z"},
    )
    assert out == {"a": 42, "b": "pre_42_post", "c": "hello", "d": [1, "z"]}


def test_auto_pipeline_and_one_shot(spark):
    url = f"{SF_SMALL}/orders.parquet"
    pipe = auto_pipeline(url)
    df = pipe.read(spark=spark)
    assert "o_orderkey" in df.columns
    df2 = one_shot(url, spark=spark)
    assert df2.count() == df.count()


def test_auto_pipeline_to_pandas(spark):
    import pandas as pd

    pipe = auto_pipeline(f"{SF_SMALL}/region.parquet", outtype="pandas:DataFrame")
    out = pipe.read(spark=spark)
    assert isinstance(out, pd.DataFrame) and len(out) == 5


def test_reader_from_call(spark):
    r = reader_from_call(f"spark.read.parquet('{SF_SMALL}/nation.parquet')")
    assert r.read(spark=spark).count() == 25


def test_retry_and_condition(spark, li_reader):
    calls = {"n": 0}

    class Flaky:
        def read(self, spark=None):
            calls["n"] += 1
            if calls["n"] < 3:
                raise IOError("transient")
            return li_reader.read(spark=spark)

    out = Retry(Flaky(), max_tries=5, backoff0=0.01).read(spark=spark)
    assert calls["n"] == 3 and out.count() > 0

    cond = Condition(if_true=li_reader.limit(1), if_false=li_reader.limit(2), condition=False)
    assert cond.read(spark=spark).count() == 2


def test_csv_reader_with_write_roundtrip(spark, tmp_path):
    """CSV write → detect → auto_pipeline → read back (full loop)."""
    from intake_spark import output

    li = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/region.parquet")).read(spark=spark)
    url = str(tmp_path / "region_csv")
    desc = output.to_csv(li, url)
    assert isinstance(desc, dt.CSV)
    back = desc.to_reader().read(spark=spark)
    assert back.count() == 5 and "r_name" in back.columns


def test_open_catalog_glob(spark, tmp_path, li_reader):
    """Glob over multiple catalog files merges entries (YAMLFilesCatalog)."""
    from intake_spark.catalog import Catalog, open_catalog

    a = Catalog()
    a["from_a"] = li_reader[["l_orderkey"]]
    a.to_yaml_file(str(tmp_path / "cat_a.yaml"))
    b = Catalog()
    b["from_b"] = li_reader.limit(2)
    b.to_yaml_file(str(tmp_path / "cat_b.yaml"))

    merged = open_catalog(str(tmp_path / "cat_*.yaml"))
    assert {"from_a", "from_b"} <= set(merged.aliases)
    assert merged["from_b"].read(spark=spark).count() == 2


def test_arrow_native_roundtrip(spark):
    """toArrow/createDataFrame(arrow) preserve decimal + timestamp types the
    pandas hop degrades (VERDICT r1 #10)."""
    import datetime
    from decimal import Decimal

    from intake_spark.convert import arrow_to_spark, spark_to_arrow

    df = spark.createDataFrame(
        [(Decimal("1.230"), datetime.datetime(2024, 3, 1, 12, 30, 0), [1, 2])],
        "d decimal(10,3), ts timestamp, arr array<int>",
    )
    table = spark_to_arrow(df)
    import pyarrow as pa

    assert pa.types.is_decimal(table.schema.field("d").type)
    back = arrow_to_spark(table, spark=spark)
    assert dict(back.dtypes) == dict(df.dtypes)
    assert back.collect() == df.collect()


def test_inspect_fallback_and_timeout(spark, tmp_path, monkeypatch):
    """Deliberately failing/hanging first candidate → inspect falls through
    to the next (reference inspect.py:743-776, 1092-1162)."""
    from intake_spark import datatypes as dt
    from intake_spark import inspection

    class Exploding(dt.FileData):
        def to_reader(self, **kw):
            raise RuntimeError("boom: no reader")

    class Hanging(dt.FileData):
        def to_reader(self, **kw):
            class R:
                __name__ = "HangingReader"

                def read(self, spark=None):
                    import time

                    time.sleep(30)

            return R()

    url = f"{SF_SMALL}/lineitem.parquet"
    real = inspection.recommend

    monkeypatch.setattr(
        inspection, "recommend", lambda u: [Exploding, *real(u)]
    )
    rep = inspection.inspect_dataset(url, spark=spark)
    assert rep["datatype"] == "Parquet"
    assert any("boom" in e for e in rep["errors"])

    monkeypatch.setattr(
        inspection, "recommend", lambda u: [Hanging, *real(u)]
    )
    rep = inspection.inspect_dataset(url, spark=spark, timeout=1.5)
    assert rep["datatype"] == "Parquet"
    assert any("exceeded" in e for e in rep["errors"])


def test_inspect_sample_and_thumbnail(spark, tmp_path):
    """Report parity fields (reference inspect.py:216-510): sampled rows +
    text repr for tabular data; grayscale thumbnail for array (chunk-row)
    and media (binary image) entries."""
    import numpy as np

    from intake_spark import inspection

    # tabular: sample_rows + repr, no thumbnail
    rep = inspection.inspect_dataset(f"{SF_SMALL}/region.parquet", spark=spark)
    assert rep["reader"] and len(rep["sample_rows"]) == 5
    assert "r_name" in rep["sample_rows"][0] and "r_name" in rep["repr"]
    assert rep["thumbnail"] is None

    # array: .npy → chunk rows → 2-D thumbnail clipped to thumb_size
    arr = np.arange(20 * 10, dtype="<f8").reshape(20, 10)
    npy = tmp_path / "a.npy"
    np.save(npy, arr)
    rep = inspection.inspect_dataset(str(npy), spark=spark, thumb_size=4)
    thumb = rep["thumbnail"]
    assert len(thumb) == 4 and len(thumb[0]) == 4
    assert thumb[0][0] == arr[0][0]

    # media: PNG binary column → decoded grayscale thumbnail
    from intake_spark.llm.multimodal import decode_png  # noqa: F401
    from tests.test_llm_ops import _png_rgb_with_filters

    img = np.full((6, 6, 3), 128, dtype=np.uint8)
    png = tmp_path / "img.png"
    png.write_bytes(_png_rgb_with_filters(img, filters=[0] * 6))
    rep = inspection.inspect_dataset(str(png), spark=spark, thumb_size=3)
    assert rep["thumbnail"] is not None
    assert all(abs(v - 128.0) < 1e-9 for row in rep["thumbnail"] for v in row)

    # opt-out: no sampling action at all
    rep = inspection.inspect_dataset(f"{SF_SMALL}/region.parquet", spark=spark, sample=False)
    assert "sample_rows" not in rep and "thumbnail" not in rep


def test_inspect_max_bytes_guard(spark, tmp_path):
    """Driver-side (lazy=False) readers are skipped when the dataset exceeds
    max_bytes — the reference's full-read tier size guard."""
    from intake_spark import inspection

    p = tmp_path / "cfg.toml"
    p.write_text("[a]\nx = 1\n")
    rep = inspection.inspect_dataset(str(p), spark=spark, max_bytes=1)
    assert "datatype" not in rep or rep.get("reader") != "TOMLReader"
    assert any("max_bytes" in e for e in rep.get("errors", []))
    rep2 = inspection.inspect_dataset(str(p), spark=spark)
    assert rep2.get("reader") == "TOMLReader"


# --- default user/global catalog (intake_spark.cat) -------------------------


def test_default_combo_catalog(spark, tmp_path, monkeypatch):
    """Out-of-box discovery (reference catalog/default.py:21-96): a YAML
    catalog dropped in the user data dir resolves through
    ``intake_spark.cat`` with no per-project configuration; extra
    INTAKE_SPARK_CATALOG_PATH dirs union in; example entries are present
    and rehydrate offline."""
    import os

    import intake_spark
    from intake_spark import config as isconf
    from intake_spark.default import (
        global_data_dir,
        load_user_catalog,
        user_data_dir,
    )

    # point the user dir into tmp (XDG on linux)
    monkeypatch.setenv("XDG_DATA_HOME", str(tmp_path / "xdg"))
    udir = user_data_dir()
    assert udir.startswith(str(tmp_path))
    os.makedirs(udir)

    src = Catalog()
    src.add_entry(
        SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/nation.parquet")),
        name="nations",
    )
    src.to_yaml_file(os.path.join(udir, "mydata.yaml"))

    # user catalog alone sees it
    assert "nations" in load_user_catalog().aliases

    # an extra search-path dir via env (pathsep-separated)
    extra = tmp_path / "extra"
    extra.mkdir()
    src2 = Catalog()
    src2.add_entry(
        SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/region.parquet")),
        name="regions",
    )
    src2.to_yaml_file(str(extra / "more.yml"))
    monkeypatch.setenv("INTAKE_SPARK_CATALOG_PATH", str(extra))
    isconf.reset()
    try:
        cat = intake_spark.cat
        assert "nations" in cat.aliases and "regions" in cat.aliases
        df = cat["nations"].read(spark=spark)
        assert df.count() == 25
        # examples are wired in and rehydrate without network
        assert "planetary_computer_stac" in cat.aliases
        assert "earth_search_stac" in cat.aliases
        rdr = cat["planetary_computer_stac"]
        assert type(rdr).__name__ == "StacCatalogReader"
    finally:
        monkeypatch.delenv("INTAKE_SPARK_CATALOG_PATH")
        isconf.reset()

    # global dir: empty catalog when absent (never raises)
    assert isinstance(global_data_dir(), str)


def test_catalog_search_keeps_referenced_entries():
    """A search hit whose payload references a nested token-keyed entry
    must carry that entry into the result catalog."""
    from intake_spark.catalog import Catalog
    from intake_spark import datatypes as dt
    from intake_spark.readers import LiteralReader

    cat = Catalog()
    inner = LiteralReader(data=dt.Literal(data=[{"a": 1}]))
    cat["outer-searchable"] = LiteralReader(data=dt.Literal(data=[{"b": "outer-term"}]))
    # nest the inner reader inside the outer entry's kwargs
    tok_outer = cat.aliases["outer-searchable"]
    from intake_spark.catalog import ReaderDescription
    from intake_spark.utils import tokenize

    inner_desc = ReaderDescription(payload=inner.to_dict())
    tok_inner = tokenize(inner_desc.to_dict())
    cat.entries[tok_inner] = inner_desc
    cat.entries[tok_outer].payload.setdefault("kwargs", {})["helper"] = (
        f"{{data({tok_inner})}}"
    )

    hits = cat.search("outer-term")
    assert tok_inner in hits.entries  # the reference closure
    assert "outer-searchable" in hits.aliases


def test_catalog_delete_keeps_shared_token():
    from intake_spark.catalog import Catalog
    from intake_spark import datatypes as dt
    from intake_spark.readers import LiteralReader

    cat = Catalog()
    r = LiteralReader(data=dt.Literal(data=[{"a": 1}]))
    cat["a"] = r
    cat["b"] = r
    assert cat.aliases["a"] == cat.aliases["b"]  # one shared entry
    cat.delete("a")
    assert "b" in cat.aliases and cat.aliases["b"] in cat.entries
    cat.delete("b")
    assert len(cat.entries) == 0


def test_extract_parameter_rekeys_entry():
    from intake_spark.catalog import Catalog
    from intake_spark import datatypes as dt
    from intake_spark.readers import LiteralReader
    from intake_spark.user_parameters import SimpleUserParameter
    from intake_spark.utils import tokenize

    cat = Catalog()
    cat["e"] = LiteralReader(data=dt.Literal(data=[{"path": "/data/x"}]))
    cat.extract_parameter(
        "e", "p", "/data/x", SimpleUserParameter(dtype=str, default="/data/x")
    )
    tok = cat.aliases["e"]
    assert tok in cat.entries
    # the content token is truthful again after the in-place edit
    assert tok == tokenize(cat.entries[tok].to_dict())


def test_environment_satisfied_term():
    """EnvironmentSatisfied: stdlib version checks against the live
    environment (reference search.py:95-139, minus the conda shell-out)."""
    import numpy

    from intake_spark.search import EnvironmentSatisfied, _spec_satisfied

    es = EnvironmentSatisfied()
    # no environment metadata -> pass (reference semantics)
    assert es({"metadata": {}})
    # satisfied: numpy exists, python floor version holds
    ok_env = "dependencies:\n  - numpy\n  - python>=3.8\n"
    assert es({"metadata": {"environment": ok_env}})
    # unsatisfied package
    assert not es({"metadata": {"environment": "dependencies:\n  - not-a-real-pkg-xyz\n"}})
    # version clauses
    nv = numpy.__version__
    assert _spec_satisfied(f"numpy>={nv.split('.')[0]}")
    assert not _spec_satisfied("numpy>=999")
    assert _spec_satisfied(f"numpy={'.'.join(nv.split('.')[:2])}")  # conda prefix
    assert not _spec_satisfied("numpy=999.1")
    # nested pip section + dict env
    env = {"dependencies": [{"pip": ["pandas>=1"]}, "python<4"]}
    assert es({"metadata": {"environment": env}})
    env_bad = {"dependencies": [{"pip": ["pandas>=999"]}]}
    assert not es({"metadata": {"environment": env_bad}})
    # r6 review regressions: pip wildcard pins are PREFIX matches, and
    # version tuples zero-pad before ordered comparison
    maj_min = ".".join(nv.split(".")[:2])
    assert _spec_satisfied(f"numpy=={maj_min}.*")
    assert not _spec_satisfied("numpy==0.0.*")
    assert not _spec_satisfied(f"numpy!={maj_min}.*")
    assert _spec_satisfied("numpy!=0.0.*")
    assert _spec_satisfied(f"numpy>={maj_min}.0")      # (1,26) vs (1,26,0)
    assert _spec_satisfied(f"numpy<={nv}.0")


def test_map_entries_closes_over_nested_refs(spark):
    """Regression (r6 review): mapped catalogs must carry the {data(token)}
    nested entries their payloads reference, like search() does."""
    from intake_spark import datatypes as dt
    from intake_spark.catalog import Catalog, ReaderDescription
    from intake_spark.readers import LiteralReader
    from intake_spark.utils import tokenize

    cat = Catalog()
    cat["outer"] = LiteralReader(data=dt.Literal(data=[{"a": 1}, {"a": 2}]))
    inner = LiteralReader(data=dt.Literal(data=[{"b": 9}]))
    inner_desc = ReaderDescription(payload=inner.to_dict())
    tok_inner = tokenize(inner_desc.to_dict())
    cat.entries[tok_inner] = inner_desc
    tok_outer = cat.aliases["outer"]
    cat.entries[tok_outer].payload.setdefault("kwargs", {})["helper"] = (
        f"{{data({tok_inner})}}"
    )
    mapped = cat.map_entries(("method", "limit", [1], {}))
    assert tok_inner in mapped.entries  # ref closure
    # the derived entry still rehydrates (KeyError before the fix)
    assert mapped["outer"] is not None


def test_rekey_rewrites_references():
    """Regression (r6 review): extract_parameter / promote_parameter on a
    NESTED entry must rewrite the {data(old_token)} references other
    entries hold, cascading re-keys."""
    from intake_spark import datatypes as dt
    from intake_spark.catalog import Catalog, ReaderDescription
    from intake_spark.readers import LiteralReader
    from intake_spark.user_parameters import SimpleUserParameter
    from intake_spark.utils import tokenize

    cat = Catalog()
    cat["outer"] = LiteralReader(data=dt.Literal(data=[{"a": 1}]))
    inner = LiteralReader(data=dt.Literal(data=[{"path": "/data/x"}]))
    inner_desc = ReaderDescription(payload=inner.to_dict())
    tok_inner = tokenize(inner_desc.to_dict())
    cat.entries[tok_inner] = inner_desc
    tok_outer = cat.aliases["outer"]
    cat.entries[tok_outer].payload.setdefault("kwargs", {})["helper"] = (
        f"{{data({tok_inner})}}"
    )
    cat._rekey(tok_outer)  # payload mutated above: restore token truth

    cat.extract_parameter(
        tok_inner, "p", "/data/x", SimpleUserParameter(dtype=str, default="/data/x")
    )
    # the inner entry moved to a new token...
    assert tok_inner not in cat.entries
    new_inner = next(
        t for t, e in cat.entries.items()
        if "Literal" in str(e.to_dict()) and "{p}" in str(e.to_dict())
    )
    # ...and the outer payload references the NEW token (dangled before)
    tok_outer2 = cat.aliases["outer"]
    assert f"{{data({new_inner})}}" in str(cat.entries[tok_outer2].to_dict())
    # every content token is truthful
    for t, e in cat.entries.items():
        assert t == tokenize(e.to_dict())


def test_promote_parameter_rekeys():
    from intake_spark import datatypes as dt
    from intake_spark.catalog import Catalog
    from intake_spark.readers import LiteralReader
    from intake_spark.user_parameters import SimpleUserParameter
    from intake_spark.utils import tokenize

    cat = Catalog()
    cat["e"] = LiteralReader(data=dt.Literal(data=[{"a": 1}]))
    tok = cat.aliases["e"]
    cat.entries[tok].user_parameters["q"] = SimpleUserParameter(dtype=int, default=3)
    cat._rekey(tok)
    cat.promote_parameter("e", "q")
    tok2 = cat.aliases["e"]
    assert "q" in cat.user_parameters
    assert tok2 == tokenize(cat.entries[tok2].to_dict())


def test_register_views_sanitizes_aliases(spark):
    from intake_spark import datatypes as dt
    from intake_spark.catalog import Catalog
    from intake_spark.readers import LiteralReader

    cat = Catalog()
    cat["pkg.entry-name/x"] = LiteralReader(data=dt.Literal(data=[{"a": 1}]))
    views = cat.register_views(spark=spark)
    assert views == ["pkg_entry_name_x"]
    assert spark.sql("SELECT * FROM pkg_entry_name_x").count() == 1
    spark.catalog.dropTempView("pkg_entry_name_x")


def test_env_satisfied_real_world_spec_forms():
    """Regression: conda build strings, channel prefixes, pip ~=/extras/
    markers, python!= and .* pins were all silently unsatisfied."""
    import importlib.metadata as md
    import sys

    from intake_spark.search import EnvironmentSatisfied, _spec_satisfied, _version_ok

    nv = md.version("numpy")
    assert _spec_satisfied(f"numpy={nv}=py39h20f2e39_0")  # build string
    assert _spec_satisfied(f"conda-forge::numpy={nv}")  # channel prefix
    assert _spec_satisfied("numpy~=" + ".".join(nv.split(".")[:2]))  # ~=
    assert _spec_satisfied("numpy[extra]>=1.0")  # extras
    assert _spec_satisfied("numpy; python_version<'9.99'")  # marker
    assert not _spec_satisfied("numpy==0.0.1")
    assert _version_ok("2.0", "=", "2.0.0")  # conda '=' zero-pad

    cons = EnvironmentSatisfied()._is_consistent
    maj, minor = sys.version_info[:2]
    assert cons({"dependencies": [f"python={maj}.{minor}.*"]})  # wildcard pin
    assert cons({"dependencies": ["python!=9.9"]})  # != routes to python
    # PEP 440: excluding a whole release series needs the wildcard form
    assert not cons({"dependencies": [f"python!={maj}.{minor}.*"]})


def test_open_catalog_ttl_reload(spark, tmp_path, li_reader):
    """open_catalog(path, ttl=) re-parses when the YAML's mtime changes
    (reference: TTL catalog reload, catalog/base.py:188-191); glob
    catalogs also re-glob so new files appear mid-session."""
    import os
    import time

    from intake_spark.catalog import Catalog, open_catalog

    a = Catalog()
    a["first"] = li_reader[["l_orderkey"]]
    p = str(tmp_path / "live_a.yaml")
    a.to_yaml_file(p)

    live = open_catalog(p, ttl=0)  # ttl=0: stat on every access
    assert "first" in live and "second" not in live

    a["second"] = li_reader.limit(3)
    a.to_yaml_file(p)
    # mtime granularity can be coarse; force a distinct mtime
    os.utime(p, (time.time() + 2, time.time() + 2))
    assert "second" in live
    assert live["second"].read(spark=spark).count() == 3

    # glob form: a NEW file matching the pattern appears mid-session
    g = open_catalog(str(tmp_path / "live_*.yaml"), ttl=0)
    assert "from_b" not in g
    b = Catalog()
    b["from_b"] = li_reader.limit(2)
    b.to_yaml_file(str(tmp_path / "live_b.yaml"))
    assert "from_b" in g and "first" in g

    # within a LONG ttl window no re-stat happens
    slow = open_catalog(p, ttl=3600)
    a["third"] = li_reader.limit(1)
    a.to_yaml_file(p)
    os.utime(p, (time.time() + 4, time.time() + 4))
    assert "third" not in slow
    slow.refresh()  # explicit refresh bypasses the window
    assert "third" in slow


def test_importable_false_only_for_missing_readers(monkeypatch):
    """Importable is False for a missing module, a missing attribute or
    an empty class string; any other error from the import propagates."""
    import intake_spark.utils as utils

    imp = Importable()
    assert not imp({"cls": "no_such_module_xyz.Reader"})
    assert not imp({"cls": "intake_spark.readers.NoSuchReader"})
    assert not imp({"cls": ""})
    assert imp({"cls": "intake_spark.readers.SparkParquet"})

    def broken(name):
        raise TypeError("bug in the import hook")

    monkeypatch.setattr(utils, "import_name", broken)
    with pytest.raises(TypeError, match="import hook"):
        imp({"cls": "intake_spark.readers.SparkParquet"})


def test_environment_satisfied_false_only_for_malformed_env(tmp_path, monkeypatch):
    """EnvironmentSatisfied is False for an unreadable file, text that is
    not YAML and an environment of the wrong shape; any other error
    propagates."""
    from intake_spark.search import EnvironmentSatisfied

    es = EnvironmentSatisfied()
    for env in ("dependencies: [unclosed", "- just\n- a list\n",
                {"dependencies": 5}, {"dependencies": [{"pip": 3}]}):
        assert not es({"metadata": {"environment": env}}), env
    unreadable = tmp_path / "env_dir.yml"
    unreadable.mkdir()  # exists, but open() raises IsADirectoryError
    assert not es({"metadata": {"environment": str(unreadable)}})

    def broken(env):
        raise TypeError("bug in the checker")

    monkeypatch.setattr(EnvironmentSatisfied, "_is_consistent", staticmethod(broken))
    with pytest.raises(TypeError, match="checker"):
        es({"metadata": {"environment": "dependencies: []"}})


def test_thumbnail_none_only_for_undecodable_content(spark, monkeypatch):
    """thumbnail is None for bytes that are not a decodable image; any
    other error from the decoder propagates."""
    import intake_spark.llm.multimodal as mm
    from intake_spark import inspection

    df = spark.createDataFrame([(bytearray(b"not an image"),)], "content binary")
    assert inspection.thumbnail(df) is None
    text = spark.createDataFrame([("plain text",)], "content string")
    assert inspection.thumbnail(text) is None

    def broken(content):
        raise TypeError("bug in the decoder")

    monkeypatch.setattr(mm, "decode_image", broken)
    with pytest.raises(TypeError, match="decoder"):
        inspection.thumbnail(df)
