"""V1 catalog compatibility: load legacy-format YAML catalogs
(``sources: {name: {driver, args, parameters}}``) into the engine.

Behavioral parity with the reference V1 layer (intake/catalog/local.py:
333-700 CatalogParser/YAMLFileCatalog; user parameters :28-135; jinja
templating catalog/utils.py:83-141). Templating implemented as a minimal
regex engine covering the constructs V1 catalogs actually use —
``{{ CATALOG_DIR }}``, ``{{ env("NAME") }}``, ``{{ parameter }}`` — with no
jinja2 dependency and no shell()/eval constructs (those are code-execution
templates the V2 design dropped; see README_refactor "Simplification").

Driver names map to Spark readers; a V1 catalog whose drivers are csv/
parquet/json/orc/textfiles/avro/deltalake/sql/yaml_file_cat loads unchanged.
"""

from __future__ import annotations

import os
import re
from typing import Any

from intake_spark import datatypes as dt
from intake_spark.catalog import Catalog, ReaderDescription, load_yaml_file
from intake_spark.readers import (
    BaseReader,
    SparkAvro,
    SparkCSV,
    SparkDeltaLake,
    SparkJDBC,
    SparkJSON,
    SparkORC,
    SparkParquet,
    SparkText,
)
from intake_spark.user_parameters import (
    BoundedNumberUserParameter,
    OptionsUserParameter,
    SimpleUserParameter,
)

def _v1_drivers() -> dict[str, tuple[type, type[BaseReader], str]]:
    from intake_spark.arrays import NumpyArrayReader
    from intake_spark.documents import XLSXReader
    from intake_spark.readers import ZarrReader
    from intake_spark.sci import NetCDF3, NetCDF3Reader

    return {
        # driver -> (datatype cls, reader cls, url arg name)
        "csv": (dt.CSV, SparkCSV, "urlpath"),
        "parquet": (dt.Parquet, SparkParquet, "urlpath"),
        "json": (dt.JSONFile, SparkJSON, "urlpath"),
        "orc": (dt.ORC, SparkORC, "urlpath"),
        "avro": (dt.AVRO, SparkAvro, "urlpath"),
        "textfiles": (dt.Text, SparkText, "urlpath"),
        "deltalake": (dt.DeltalakeTable, SparkDeltaLake, "urlpath"),
        # array-family V1 drivers (reference fixtures use driver: numpy etc.)
        "numpy": (dt.NumpyFile, NumpyArrayReader, "path"),
        "zarr": (dt.Zarr, ZarrReader, "urlpath"),
        "netcdf": (NetCDF3, NetCDF3Reader, "urlpath"),
        "excel": (dt.Excel, XLSXReader, "urlpath"),
    }


class _V1Drivers(dict):
    """Lazy driver table: leaf reader modules import on first use, not at
    package import (they pull pandas/numpy). Every read path populates
    first — plain dict methods like .get()/.items()/iteration bypass
    overridden __getitem__, so each is wrapped explicitly. An explicit
    flag (not emptiness) gates population so registering a custom driver
    before first read can't mask the builtins; __setitem__/copy populate
    too."""

    _populated = False

    def _ensure(self):
        if not self._populated:
            self._populated = True
            builtin = _v1_drivers()
            for k, v in builtin.items():
                dict.setdefault(self, k, v)  # user-registered keys win

    def __setitem__(self, k, v):
        self._ensure()
        dict.__setitem__(self, k, v)

    def copy(self):
        self._ensure()
        return dict(self.items())

    def __contains__(self, k):
        self._ensure()
        return dict.__contains__(self, k)

    def __getitem__(self, k):
        self._ensure()
        return dict.__getitem__(self, k)

    def __iter__(self):
        self._ensure()
        return dict.__iter__(self)

    def __len__(self):
        self._ensure()
        return dict.__len__(self)

    def get(self, k, default=None):
        self._ensure()
        return dict.get(self, k, default)

    def keys(self):
        self._ensure()
        return dict.keys(self)

    def values(self):
        self._ensure()
        return dict.values(self)

    def items(self):
        self._ensure()
        return dict.items(self)


V1_DRIVERS = _V1Drivers()

_TMPL = re.compile(r"\{\{\s*([^}]+?)\s*\}\}")


def render_template(value: Any, context: dict[str, Any]) -> Any:
    """Render ``{{ ... }}`` constructs (V1 jinja subset, fresh impl)."""
    if isinstance(value, dict):
        return {k: render_template(v, context) for k, v in value.items()}
    if isinstance(value, list):
        return [render_template(v, context) for v in value]
    if not isinstance(value, str):
        return value

    def sub(m: re.Match) -> str:
        expr = m.group(1).strip()
        env_m = re.fullmatch(r'env\(\s*["\']([^"\']+)["\']\s*\)', expr)
        if env_m:
            return os.environ.get(env_m.group(1), "")
        if expr in context:
            return str(context[expr])
        return m.group(0)  # unknown name: leave (may be a user parameter)

    return _TMPL.sub(sub, value)


def _v1_parameter(name: str, spec: dict) -> SimpleUserParameter:
    """V1 parameter spec → typed parameter (type/default/allowed/min/max,
    parity: intake/catalog/local.py:28-135)."""
    typemap = {"str": str, "int": int, "float": float, "bool": bool, "list": list}
    ptype = typemap.get(spec.get("type", "str"), str)
    desc = spec.get("description", "")
    default = spec.get("default")
    if "allowed" in spec:
        return OptionsUserParameter(
            options=spec["allowed"], dtype=ptype, default=default, description=desc
        )
    if "min" in spec or "max" in spec:
        return BoundedNumberUserParameter(
            min_value=spec.get("min"), max_value=spec.get("max"),
            dtype=ptype, default=default, description=desc,
        )
    return SimpleUserParameter(dtype=ptype, default=default, description=desc)


def from_v1_dict(doc: dict, catalog_dir: str = ".") -> Catalog:
    cat = Catalog(metadata={"v1_name": doc.get("name", ""), **(doc.get("metadata") or {})})
    context = {"CATALOG_DIR": catalog_dir}
    def _dejinja(v):
        # V1 convention: {{ parameter }} anywhere in args → our {param}
        # template (not just urlpath: sql_expr and friends carry them too)
        if isinstance(v, str):
            return re.sub(r"\{\{\s*(\w+)\s*\}\}", r"{\1}", v)
        if isinstance(v, dict):
            return {k: _dejinja(x) for k, x in v.items()}
        if isinstance(v, list):
            return [_dejinja(x) for x in v]
        return v

    for name, spec in (doc.get("sources") or {}).items():
        driver = spec.get("driver", "")
        args = _dejinja(render_template(spec.get("args") or {}, context))
        params = {
            pname: _v1_parameter(pname, pspec)
            for pname, pspec in (spec.get("parameters") or {}).items()
        }
        if driver in ("yaml_file_cat", "yaml_files_cat"):
            # nested catalog: load recursively and merge with prefixed aliases
            sub_path = args.get("path") or args.get("urlpath")
            sub = open_v1_catalog(sub_path)
            cat.entries.update(sub.entries)
            for alias, tok in sub.aliases.items():
                cat.aliases[f"{name}.{alias}"] = tok
                # keep the un-prefixed alias too when it is free: alias/
                # derived entries INSIDE the sub-catalog reference their
                # siblings by these names
                cat.aliases.setdefault(alias, tok)
            continue
        if driver in ("alias", "intake.source.derived.AliasSource"):
            akw: dict[str, Any] = {}
            if "target" in args:
                # V1 convention: {{ parameter }} target → our {param} template
                akw["target"] = re.sub(r"\{\{\s*(\w+)\s*\}\}", r"{\1}", str(args["target"]))
            if args.get("mapping"):
                akw["mapping"] = args["mapping"]
            if args.get("targets"):
                akw["targets"] = list(args["targets"])
            if args.get("chooser"):
                akw["chooser"] = args["chooser"]
            payload = {"cls": "intake_spark.v1compat:AliasReader", "data": None, "kwargs": akw}
        elif driver in _DERIVED_DRIVERS:
            keys = _DERIVED_DRIVERS[driver]
            dkw: dict[str, Any] = {"targets": list(args.get("targets") or [])}
            if args.get("chooser"):
                dkw["chooser"] = args["chooser"]
            for k in keys:
                if args.get(k) is not None:
                    dkw[k] = args[k]
            payload = {"cls": "intake_spark.v1compat:DerivedReader", "data": None, "kwargs": dkw}
        elif driver in ("sql", "sql_cat", "postgres"):
            data = dt.SQLQuery(conn=args.get("uri", ""), query=args.get("sql_expr", ""))
            payload = {
                "cls": "intake_spark.readers:SparkJDBC",
                "data": {"cls": "intake_spark.datatypes:SQLQuery",
                         "kwargs": {k: v for k, v in data.__dict__.items() if not k.startswith("_")}},
                "kwargs": {},
            }
        elif driver in V1_DRIVERS:
            dcls, rcls, urlarg = V1_DRIVERS[driver]
            url = args.pop(urlarg, None)
            if url is None:
                url = args.pop("path", "")
            # V1 convention: {{ parameter }} in urlpath → our {param} template
            url = re.sub(r"\{\{\s*(\w+)\s*\}\}", r"{\1}", str(url))
            data = dcls(url=url)
            payload = {
                "cls": f"{rcls.__module__}:{rcls.__name__}",
                "data": {
                    "cls": f"{dcls.__module__}:{dcls.__name__}",
                    "kwargs": {k: v for k, v in data.__dict__.items() if not k.startswith("_")},
                },
                "kwargs": args,
            }
        else:
            raise ValueError(f"unsupported V1 driver {driver!r} for source {name!r}")
        desc = ReaderDescription(
            payload=payload,
            user_parameters=params,
            metadata={"description": spec.get("description", ""), **(spec.get("metadata") or {})},
        )
        cat.add_entry(desc, name=name)
    return cat


# --- alias sources + target choosers (parity: derived.py:38-143) ----------


def _entry_reader(target: str, cat: Catalog):
    """Resolve ``name`` in ``cat`` or ``caturl:name`` in an external catalog
    (parity: get_source, derived.py:27-35)."""
    if ":" in target:
        caturl, name = target.rsplit(":", 1)
        if os.path.exists(caturl) or "/" in caturl:
            from intake_spark import open_catalog

            return open_catalog(caturl)[name]
    return cat[target]


def first(targets: list[str], cat: Catalog, spark=None):
    """Target chooser: the first target, read (derived.py:120-127)."""
    return _entry_reader(targets[0], cat).read(spark=spark)


def first_discoverable(targets: list[str], cat: Catalog, spark=None):
    """Target chooser: the first target whose lazy plan *builds* — schema
    resolution is Spark's discover; a missing file/driver fails here without
    reading data (derived.py:130-143)."""
    errs = []
    for t in targets:
        try:
            return _entry_reader(t, cat).read(spark=spark)
        except Exception as exc:
            errs.append(f"{t}: {exc}")
    raise RuntimeError(f"no targets succeeded at discover: {errs}")


_CHOOSERS = {"first": first, "first_discoverable": first_discoverable}


class AliasReader(BaseReader):
    """Indirection to other catalog entries, unmodified (parity: AliasSource
    derived.py:38-117 + choosers :120-143). Two forms:

    - ``target`` (+ optional ``mapping``): read the named entry; the target
      string may be a user-parameter template, so the choice of entry is
      deferred to read time (reference ``alias1`` fixture pattern).
    - ``targets`` (+ ``chooser``: "first" | "first_discoverable" | import
      string): fallback chain over entries.

    Only meaningful inside a catalog — rehydration injects ``_catalog``.
    """

    needs_catalog = True

    def _read(self, spark, target=None, targets=None, mapping=None, chooser="first", **kwargs):
        cat = getattr(self, "_catalog", None)
        if cat is None:
            raise ValueError("AliasReader cannot be used outside a catalog")
        if target is not None:
            t = (mapping or {}).get(target, target)
            return _entry_reader(t, cat).read(spark=spark)
        fn = _CHOOSERS.get(chooser, chooser) if isinstance(chooser, str) else chooser
        if isinstance(fn, str):
            from intake_spark.utils import str_to_func

            fn = str_to_func(fn)
        return fn(targets or [], cat, spark=spark)


class DerivedReader(BaseReader):
    """V1 derived sources over catalog targets (parity: Columns
    derived.py:289-313, GenericTransform :216-254, DataFrameTransform
    :257-286): read the chosen target, then apply a projection and/or an
    import-string transform (gated by ``conf["allow_import"]``, the same
    code-execution gate as pipeline ``apply``)."""

    needs_catalog = True

    def _read(
        self,
        spark,
        targets=None,
        columns=None,
        transform=None,
        transform_kwargs=None,
        chooser: str = "first",
        **kwargs,
    ):
        from intake_spark.config import conf
        from intake_spark.utils import str_to_func

        cat = getattr(self, "_catalog", None)
        if cat is None:
            raise ValueError("DerivedReader cannot be used outside a catalog")
        # unknown strings resolve as import paths (AliasReader semantics);
        # silently degrading to 'first' would read the wrong target
        if isinstance(chooser, str):
            fn = _CHOOSERS.get(chooser)
            if fn is None:
                from intake_spark.utils import str_to_func

                fn = str_to_func(chooser)
        else:
            fn = chooser
        df = fn(list(targets or []), cat, spark=spark)
        if columns:
            df = df.select(*columns)
        if transform:
            from intake_spark.utils import is_func_str

            # V1 transform strings are plain dotted/colon paths
            # ("pkg.mod.fn" / "pkg.mod:fn"); normalize to the gated
            # {func(mod:name)} template the engine uses everywhere else
            if not is_func_str(transform):
                if ":" not in transform:
                    mod, _, name = transform.rpartition(".")
                    transform = f"{mod}:{name}"
                transform = f"{{func({transform})}}"
            func = str_to_func(transform, allow_import=conf["allow_import"])
            df = func(df, **(transform_kwargs or {}))
        return df


_DERIVED_DRIVERS = {
    "intake.source.derived.Columns": ("columns",),
    "derived_columns": ("columns",),
    "intake.source.derived.GenericTransform": ("transform", "transform_kwargs"),
    "intake.source.derived.DataFrameTransform": ("transform", "transform_kwargs"),
    "derived_transform": ("transform", "transform_kwargs"),
}


def open_v1_catalog(path: str) -> Catalog:
    return from_v1_dict(load_yaml_file(path),
                        catalog_dir=os.path.dirname(os.path.abspath(path)))
