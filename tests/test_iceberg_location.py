"""A moved Iceberg table keeps its old absolute paths in its metadata;
every reader and writer maps them under the table's new root through one
rule (``lakehouse.iceberg_rebase``), whatever URI spelling the table's
``location`` uses."""

from __future__ import annotations

import json
import shutil

import pytest

from intake_spark import datatypes as dt
from intake_spark import lakehouse as lh


@pytest.mark.parametrize("spelling", ["file://{}", "file:{}", "{}"])
def test_append_to_moved_table_under_every_location_spelling(spark, tmp_path, spelling):
    from intake_spark.output import to_iceberg

    schema = "id long, s string"
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    to_iceberg(spark.createDataFrame([(1, "a"), (2, "b")], schema), old)
    _v, path, meta = lh.iceberg_metadata(old)
    meta["location"] = spelling.format(old)
    with open(path, "w") as f:
        json.dump(meta, f)
    shutil.move(old, new)
    to_iceberg(spark.createDataFrame([(3, "c")], schema), new, mode="append")
    df = lh.IcebergTableReader(data=dt.IcebergDataset(url=new)).read(spark=spark)
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_rebase_maps_only_paths_under_the_location():
    rebase = lh.iceberg_rebase("/new", {"location": "file:///old/"})
    assert rebase("file:/old/data/a.parquet") == "/new/data/a.parquet"
    assert rebase("/old/metadata/m.avro") == "/new/metadata/m.avro"
    assert rebase("/older/x.parquet") == "/older/x.parquet"
    assert lh.iceberg_rebase("/t", {})("file:///t/data/a") == "/t/data/a"
