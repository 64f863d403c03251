"""Catalog YAML I/O: one parse per catalog file (through
``catalog.load_yaml_file``, libyaml when PyYAML has it), V1/V2 dispatch on
the parsed document, the emitter's output against ``yaml.safe_dump``, and
loud entry-point discovery."""

from __future__ import annotations

import ast
import os

import pytest
import yaml

from tests.conftest import SF_SMALL, method_calls

from intake_spark import catalog as catmod
from intake_spark import datatypes as dt
from intake_spark.catalog import Catalog, load_yaml_file, open_catalog
from intake_spark.readers import SparkCSV, SparkParquet
from intake_spark.user_parameters import SimpleUserParameter

_V1 = """\
sources:
  lines:
    driver: csv
    args:
      urlpath: "{{ CATALOG_DIR }}/x.csv"
"""


@pytest.fixture()
def yaml_loads(monkeypatch):
    """Count every YAML parse: ``yaml.safe_load`` and the loader helper
    both go through ``yaml.load``."""
    calls = []
    real = yaml.load

    def counting(stream, Loader):
        calls.append(Loader)
        return real(stream, Loader=Loader)

    monkeypatch.setattr(yaml, "load", counting)
    return calls


def _v2_catalog() -> Catalog:
    """The shapes the suite's catalogs have: base readers, a pipeline
    over a nested reader with an entry user parameter, an alias."""
    cat = Catalog()
    reader = SparkParquet(data=dt.Parquet(url=f"{SF_SMALL}/lineitem.parquet"))
    cat["li"] = reader
    cat["csv"] = SparkCSV(data=dt.CSV(url=f"{SF_SMALL}/x.csv"))
    cat["filtered"] = reader.filter("l_quantity > {min_qty}")[
        ["l_orderkey", "l_quantity"]
    ].limit(7)
    tok = cat.aliases["filtered"]
    cat.entries[tok].user_parameters["min_qty"] = SimpleUserParameter(
        dtype=int, default=45
    )
    return cat


def test_open_catalog_parses_each_file_once(tmp_path, yaml_loads):
    v1 = tmp_path / "v1.yaml"
    v1.write_text(_V1)
    v2 = str(tmp_path / "v2.yaml")
    _v2_catalog().to_yaml_file(v2)

    cat1 = open_catalog(str(v1))
    assert "lines" in cat1
    assert len(yaml_loads) == 1

    cat2 = open_catalog(v2)
    assert "filtered" in cat2
    assert cat2.metadata["catalog_path"] == os.path.abspath(v2)
    assert len(yaml_loads) == 2
    if yaml.__with_libyaml__:
        assert set(yaml_loads) == {yaml.CSafeLoader}


def test_open_catalog_malformed_raises(tmp_path):
    bad = tmp_path / "bad.yaml"
    bad.write_text("entries: [unclosed\n  aliases: {\n")
    with pytest.raises(yaml.YAMLError):
        open_catalog(str(bad))


@pytest.mark.parametrize(
    "text,got", [("", "an empty document"), ("- a\n- b\n", "list"), ("7\n", "int")]
)
@pytest.mark.parametrize(
    "entry", [open_catalog, Catalog.from_yaml_file, "open_v1_catalog"]
)
def test_non_mapping_catalog_file_raises_value_error(tmp_path, text, got, entry):
    """An empty file or a top-level list is not a catalog: every entry
    point names the file and the expected mapping instead of failing
    inside ``from_dict`` with an AttributeError."""
    if entry == "open_v1_catalog":
        from intake_spark.v1compat import open_v1_catalog as entry
    path = tmp_path / "cat.yaml"
    path.write_text(text)
    with pytest.raises(ValueError, match="expected a YAML mapping") as err:
        entry(str(path))
    assert str(path) in str(err.value) and str(err.value).endswith(f"got {got}")


def _emitted(cat: Catalog, path) -> tuple[bytes, bytes]:
    cat.to_yaml_file(str(path))
    with open(path, "rb") as f:
        got = f.read()
    want = yaml.safe_dump(cat.to_dict(), sort_keys=True).encode()
    return got, want


def test_to_yaml_file_matches_safe_dump(tmp_path):
    """The libyaml emitter writes what the pure-Python one writes for the
    suite's catalog shapes and for non-ASCII, long and multi-line
    strings."""
    got, want = _emitted(_v2_catalog(), tmp_path / "a.yaml")
    assert got == want
    cat = _v2_catalog()
    cat.metadata.update({
        "non_ascii": "naïve café ü 日本語 😀",
        "long": "word " * 60 + "end",
        "long_unbroken": "x" * 300,
        "multi_line": "line one\nline two\n  indented\n",
        "multi_line_long": ("a fairly long line of prose" * 5 + "\n") * 4,
        "specials": ["yes", "0123", "~", "", "- x", "a: b # c", "tab\there"],
        "nested": {"deep": ["é" * 5, "b\n" * 5, None, 1.5, -0.0, 10**30]},
    })
    got, want = _emitted(cat, tmp_path / "b.yaml")
    assert got == want


@pytest.mark.parametrize("wide", [
    "é" * 30,
    ("a fairly long line of prose " * 5 + "\n") * 4,
    "word " * 40 + "\x07",
], ids=["escaped_non_ascii", "space_before_break", "control_character"])
def test_to_yaml_file_wide_double_quoted_folds_differently(tmp_path, wide):
    """The one known difference: a double-quoted scalar (non-ASCII,
    control characters, a space before a line break) that is wider than
    the line is folded at other points by libyaml, which does not break
    inside runs of escapes and breaks before a space instead of escaping
    it. Both files load back to the same catalog with either loader."""
    if not yaml.__with_libyaml__:
        pytest.skip("PyYAML without libyaml emits exactly safe_dump")
    cat = _v2_catalog()
    cat.metadata["wide"] = wide
    got, want = _emitted(cat, tmp_path / "c.yaml")
    assert got != want
    for text in (got, want):
        for loader in (yaml.SafeLoader, yaml.CSafeLoader):
            assert yaml.load(text, Loader=loader) == cat.to_dict()
    assert load_yaml_file(str(tmp_path / "c.yaml")) == cat.to_dict()


def test_to_yaml_file_round_trips_random_strings(tmp_path):
    """Whatever the folding, every string to_yaml_file writes loads back
    unchanged."""
    import random

    rng = random.Random(17)
    alphabet = ["a", " ", "\n", "é", "日", "😀", "\t", "\x07", ":", "#",
                "'", '"', "\\", "-", "\r", "~", "0"]
    cat = Catalog()
    cat.metadata["strings"] = [
        "".join(rng.choice(alphabet) for _ in range(rng.choice(
            [1, 5, 20, 79, 81, 120, 300])))
        for _ in range(300)
    ]
    path = str(tmp_path / "r.yaml")
    cat.to_yaml_file(path)
    assert load_yaml_file(path)["metadata"] == cat.metadata
    with open(path) as f:
        assert yaml.safe_load(f)["metadata"] == cat.metadata


def test_yaml_parse_and_dump_only_in_the_helper():
    """catalog.py and v1compat.py parse YAML only inside load_yaml_file,
    so a second parse per file cannot creep back."""
    root = os.path.dirname(catmod.__file__)
    found = []
    for mod in ("catalog.py", "v1compat.py"):
        with open(os.path.join(root, mod)) as f:
            tree = ast.parse(f.read())
        for name in ("safe_load", "safe_dump", "load"):
            for fn, call in method_calls(tree, name):
                owner = call.func.value
                if (isinstance(owner, ast.Name) and owner.id == "yaml"
                        and fn != "load_yaml_file"):
                    found.append(f"{mod}:{call.lineno} yaml.{name} in {fn}")
    assert not found


def test_entrypoints_catalog_records_broken_plugins(monkeypatch):
    import importlib.metadata as md

    class GoodEP:
        name = "good"

        @staticmethod
        def load():
            return SparkParquet(data=dt.Parquet(url="/tmp/x.parquet"))

    class BrokenEP:
        name = "broken"

        @staticmethod
        def load():
            raise ModuleNotFoundError("No module named 'missing_plugin'")

    monkeypatch.setattr(md, "entry_points",
                        lambda group=None: [GoodEP, BrokenEP])
    cat = catmod.entrypoints_catalog()
    assert "good" in cat.aliases and len(cat.entries) == 1
    assert cat.metadata["skipped"] == [{
        "name": "broken",
        "reason": "ModuleNotFoundError: No module named 'missing_plugin'",
    }]
