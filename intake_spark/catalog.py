"""Catalogs: named, parameterized, YAML-persisted collections of data and
reader/pipeline descriptions, rehydrating to Spark DataFrames.

Parity with intake/readers/entry.py (DataDescription :38-104,
ReaderDescription :107-212, Catalog :215-690): entries are keyed by their
deterministic content token; nested readers are extracted into
``{data(token)}`` references on insert and resolved recursively on access;
user parameters merge catalog→entry→call and substitute through kwargs.

Spark additions: every tabular entry can register as a temp view
(``register_views``) so plain ``spark.sql`` can address catalog entries.
"""

from __future__ import annotations

import os
from typing import Any

import yaml

from intake_spark.pipeline import Pipeline
from intake_spark.readers import BaseReader, reader_from_dict
from intake_spark.search import SearchBase, Text
from intake_spark.user_parameters import (
    BaseUserParameter,
    DATA_REF_RE,
    substitute,
)
from intake_spark.utils import Tokenizable, merge_dicts, tokenize, walk_replace

try:  # libyaml's C parser and emitter, when PyYAML was built with it
    from yaml import CSafeDumper as _Dumper, CSafeLoader as _Loader
except ImportError:
    from yaml import SafeDumper as _Dumper, SafeLoader as _Loader


def load_yaml_file(path: str) -> dict:
    """The one YAML parse of a catalog file: the safe loader, in C when
    PyYAML was built with libyaml. Malformed YAML raises
    ``yaml.YAMLError``; a document that is not a mapping (an empty file,
    a top-level list or scalar) raises ``ValueError`` naming the file."""
    with open(path) as f:
        doc = yaml.load(f, Loader=_Loader)
    if not isinstance(doc, dict):
        got = "an empty document" if doc is None else type(doc).__name__
        raise ValueError(
            f"catalog file {path!r}: expected a YAML mapping at the top level, got {got}"
        )
    return doc


class ReaderDescription(Tokenizable):
    """Serializable description of a reader or pipeline."""

    def __init__(self, payload: dict, user_parameters: dict[str, BaseUserParameter] | None = None, metadata: dict | None = None):
        self.payload = payload  # reader/pipeline to_dict() output
        self.user_parameters = user_parameters or {}
        self.metadata = metadata or {}

    def to_dict(self) -> dict:
        return {
            "payload": self.payload,
            "user_parameters": {k: p.to_dict() for k, p in self.user_parameters.items()},
            "metadata": self.metadata,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ReaderDescription":
        return cls(
            payload=d["payload"],
            user_parameters={
                k: BaseUserParameter.from_dict(p) for k, p in d.get("user_parameters", {}).items()
            },
            metadata=d.get("metadata", {}),
        )


class Catalog(Tokenizable):
    def __init__(
        self,
        entries: dict[str, ReaderDescription] | None = None,
        aliases: dict[str, str] | None = None,
        user_parameters: dict[str, BaseUserParameter] | None = None,
        metadata: dict | None = None,
    ):
        self.entries = entries or {}
        self.aliases = aliases or {}
        self.user_parameters = user_parameters or {}
        self.metadata = metadata or {}

    # -- entry management (parity: entry.py:239-309,653-688) ----------------

    def add_entry(self, item, name: str | None = None) -> str:
        """Insert a reader/pipeline; nested readers are extracted into their
        own entries and replaced by ``{data(token)}`` refs; token-keyed
        insert dedups identical descriptions for free."""
        if isinstance(item, (BaseReader, Pipeline)):
            payload = item.to_dict()
        elif isinstance(item, ReaderDescription):
            payload = item.payload
        else:
            raise TypeError(f"cannot catalog {type(item).__name__}")
        payload = self._extract_nested(payload)
        if isinstance(item, ReaderDescription):
            item.payload = payload
            desc = item
        else:
            desc = ReaderDescription(payload=payload)
        tok = tokenize(desc.to_dict())
        self.entries[tok] = desc
        if name:
            self.aliases[name] = tok
        return tok

    def _extract_nested(self, payload: dict) -> dict:
        """Replace nested reader dicts inside kwargs/steps with entry refs."""

        def maybe_extract(v):
            if isinstance(v, dict) and "cls" in v and ("data" in v or "steps" in v):
                sub = ReaderDescription(payload=v)
                tok = tokenize(sub.to_dict())
                self.entries[tok] = sub
                return f"{{data({tok})}}"
            return v

        out = dict(payload)
        if "kwargs" in out:
            out["kwargs"] = {k: maybe_extract(v) for k, v in out["kwargs"].items()}
        return out

    def __setitem__(self, name: str, item) -> None:
        self.add_entry(item, name=name)

    def delete(self, name: str) -> None:
        tok = self.aliases.pop(name, name)
        # identical descriptions share one token-keyed entry; only drop the
        # entry when NO other alias still points at it
        if tok not in self.aliases.values():
            self.entries.pop(tok, None)

    def rename(self, old: str, new: str) -> None:
        self.aliases[new] = self.aliases.pop(old)

    def get_aliases(self, tok: str) -> list[str]:
        return [a for a, t in self.aliases.items() if t == tok]

    def __iter__(self):
        return iter(self.aliases)

    def __len__(self):
        return len(self.entries)

    def __contains__(self, name: str) -> bool:
        return name in self.aliases or name in self.entries

    # -- access / rehydration (parity: entry.py:518-556) --------------------

    def __getitem__(self, name: str):
        tok = self.aliases.get(name, name)
        if tok not in self.entries:
            raise KeyError(name)
        return self._rehydrate(tok, seen=set())

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None

    def to_reader(self, name: str, **user_values):
        return self._rehydrate(self.aliases.get(name, name), seen=set(), user_values=user_values)

    def _rehydrate(self, tok: str, seen: set, user_values: dict | None = None):
        """Resolve ``{data(token)}`` refs recursively (with cycle detection),
        apply user parameters, and re-instantiate the reader/pipeline."""
        if tok in seen:
            raise ValueError(f"cyclic catalog reference at {tok}")
        seen = seen | {tok}
        desc = self.entries[tok]

        params = {k: p.default for k, p in self.user_parameters.items()}
        params.update({k: p.default for k, p in desc.user_parameters.items()})
        for k, v in (user_values or {}).items():
            p = desc.user_parameters.get(k) or self.user_parameters.get(k)
            params[k] = p.set_value(v) if p else v

        def resolve_refs(v):
            if isinstance(v, str):
                m = DATA_REF_RE.match(v)
                if m:
                    return self._rehydrate(m.group(1), seen)
            return v

        payload = substitute(desc.payload, params)
        payload = walk_replace(payload, resolve_refs)
        if "steps" in payload:
            reader = payload["reader"]
            if not isinstance(reader, (BaseReader, Pipeline)):
                reader = reader_from_dict(reader)
            return Pipeline(reader=reader, steps=[tuple(s) for s in payload["steps"]])
        if isinstance(payload, (BaseReader, Pipeline)):
            return payload
        reader = reader_from_dict(payload)
        if getattr(type(reader), "needs_catalog", False):
            reader._catalog = self  # alias/chooser readers resolve siblings
        return reader

    # -- search (parity: entry.py:496-516) ----------------------------------

    def search(self, term) -> "Catalog":
        if isinstance(term, str):
            term = Text(term)
        assert isinstance(term, SearchBase)
        hits = {tok: e for tok, e in self.entries.items() if term(e.to_dict())}
        # close over {data(token)} references so a hit whose payload points
        # at a non-matching nested entry still rehydrates from the result
        self._close_over_refs(hits)
        aliases = {a: t for a, t in self.aliases.items() if t in hits}
        return Catalog(entries=hits, aliases=aliases, user_parameters=dict(self.user_parameters))

    def _close_over_refs(self, hits: dict) -> None:
        """Pull every ``{data(token)}``-referenced nested entry of ``hits``
        (transitively) in from this catalog, so the subset rehydrates."""
        import re as _re

        frontier = list(hits)
        while frontier:
            tok = frontier.pop()
            for ref in _re.findall(
                r"\{data\(([0-9a-f]+)\)\}", str(hits[tok].to_dict())
            ):
                if ref not in hits and ref in self.entries:
                    hits[ref] = self.entries[ref]
                    frontier.append(ref)

    # -- merge (parity: entry.py:621-641) ------------------------------------

    def __add__(self, other: "Catalog") -> "Catalog":
        return Catalog(
            entries={**self.entries, **other.entries},
            aliases={**self.aliases, **other.aliases},
            user_parameters={**self.user_parameters, **other.user_parameters},
            metadata=merge_dicts(self.metadata, other.metadata),
        )

    def __iadd__(self, other: "Catalog") -> "Catalog":
        merged = self + other
        self.entries, self.aliases = merged.entries, merged.aliases
        self.user_parameters, self.metadata = merged.user_parameters, merged.metadata
        return self

    # -- mapping (parity: CatalogMapper transform.py:121-160) ----------------

    def map_entries(self, step: tuple) -> "Catalog":
        """Apply a pipeline step to *every* aliased entry → new catalog of
        derived entries (e.g. ``cat.map_entries(("method", "limit", [100],
        {}))`` caps every entry)."""
        out = Catalog(user_parameters=dict(self.user_parameters), metadata=dict(self.metadata))
        for alias, tok in self.aliases.items():
            desc = self.entries[tok]
            payload = desc.payload
            if "steps" in payload:
                new_payload = {
                    "reader": payload["reader"],
                    "steps": [*payload["steps"], list(step)],
                }
            else:
                new_payload = {"reader": payload, "steps": [list(step)]}
            new_desc = ReaderDescription(
                payload=new_payload, user_parameters=dict(desc.user_parameters)
            )
            tok2 = tokenize(new_desc.to_dict())
            out.entries[tok2] = new_desc
            out.aliases[alias] = tok2
        # derived payloads can reference nested {data(token)} entries that
        # are not themselves aliased — copy them over or rehydration of
        # the mapped catalog raises KeyError (search() closes identically)
        self._close_over_refs(out.entries)
        return out

    # -- parameter lifting (parity: entry.py:311-401) ------------------------

    def extract_parameter(self, name: str, param_name: str, value: Any, param: BaseUserParameter) -> None:
        """Lift a literal kwarg value into a templated user parameter: every
        occurrence of ``value`` in the entry's kwargs becomes ``{param_name}``."""
        tok = self.aliases.get(name, name)
        desc = self.entries[tok]

        def lift(v):
            return f"{{{param_name}}}" if v == value else v

        desc.payload = walk_replace(desc.payload, lift)
        desc.user_parameters[param_name] = param
        # the entry's content changed: re-key it so the content token stays
        # truthful (materialize caches and dedup both key on it)
        self._rekey(tok)

    def _rekey(self, tok: str) -> str:
        """Re-tokenize a mutated entry AND rewrite every ``{data(tok)}``
        reference other entries hold to it — re-keying alone leaves those
        references permanently dangling. Reference rewrites change the
        referencing entries' content too, so re-keying cascades (content
        tokens cannot cycle: a cycle would need a hash fixpoint)."""
        desc = self.entries[tok]
        new_tok = tokenize(desc.to_dict())
        if new_tok == tok:
            return tok
        self.entries[new_tok] = self.entries.pop(tok)
        for a, t in list(self.aliases.items()):
            if t == tok:
                self.aliases[a] = new_tok
        old_ref, new_ref = f"{{data({tok})}}", f"{{data({new_tok})}}"
        for other_tok in list(self.entries):
            other = self.entries[other_tok]
            if old_ref in str(other.to_dict()):
                other.payload = walk_replace(
                    other.payload,
                    lambda v: v.replace(old_ref, new_ref)
                    if isinstance(v, str)
                    else v,
                )
                self._rekey(other_tok)
        return new_tok

    def promote_parameter(self, name: str, param_name: str) -> None:
        """Move an entry-level parameter to catalog scope — and re-key the
        mutated entry (its content changed; a stale token breaks dedup and
        materialize caching, the invariant extract_parameter documents)."""
        tok = self.aliases.get(name, name)
        self.user_parameters[param_name] = self.entries[tok].user_parameters.pop(param_name)
        self._rekey(tok)

    # -- YAML persistence (parity: entry.py to_yaml_file / from_yaml_file) ---

    def to_dict(self) -> dict:
        return {
            "version": 2,
            "entries": {tok: e.to_dict() for tok, e in self.entries.items()},
            "aliases": dict(self.aliases),
            "user_parameters": {k: p.to_dict() for k, p in self.user_parameters.items()},
            "metadata": dict(self.metadata),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Catalog":
        return cls(
            entries={tok: ReaderDescription.from_dict(e) for tok, e in d.get("entries", {}).items()},
            aliases=d.get("aliases", {}),
            user_parameters={
                k: BaseUserParameter.from_dict(p) for k, p in d.get("user_parameters", {}).items()
            },
            metadata=d.get("metadata", {}),
        )

    def to_yaml_file(self, path: str) -> None:
        with open(path, "w") as f:
            yaml.dump(self.to_dict(), f, Dumper=_Dumper, sort_keys=True)

    @classmethod
    def from_yaml_file(cls, path: str) -> "Catalog":
        return cls._from_yaml_doc(load_yaml_file(path), path)

    @classmethod
    def _from_yaml_doc(cls, d, path: str) -> "Catalog":
        cat = cls.from_dict(d)
        cat.metadata.setdefault("catalog_path", os.path.abspath(path))
        return cat

    # -- materialization (token-keyed result cache; SURVEY §4 notes the
    # reference's entry tokens "enable result-cache keying") ----------------

    def materialize(self, name: str, cache_dir: str, spark=None, refresh: bool = False):
        """Execute an entry once and cache the result as parquet keyed by
        the entry's content token; subsequent calls read the cache. Because
        tokens are content-addressed, editing the entry (or its upstream
        refs) changes the token and naturally invalidates the cache."""
        import os

        from intake_spark.session import get_session

        spark = spark or get_session()
        tok = self.aliases.get(name, name)
        path = os.path.join(cache_dir, f"{tok}.parquet")
        marker = os.path.join(path, "_SUCCESS")
        if refresh or not os.path.exists(marker):
            df = self[name].read(spark=spark)
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # -- Spark integration ---------------------------------------------------

    def register_views(self, spark=None, names: list[str] | None = None) -> list[str]:
        """Register entries as temp views so ``spark.sql`` can query catalog
        entries by alias (the Spark-native catalog surface)."""
        from intake_spark.session import get_session

        spark = spark or get_session()
        registered = []
        import re as _re

        for alias in names or list(self.aliases):
            df = self[alias].read(spark=spark)
            # temp view names allow [A-Za-z0-9_] only — entrypoint aliases
            # ('pkg.entry'), zarr members ('grp/my.array') etc. must be
            # sanitized wholesale, not just '-'
            view = _re.sub(r"[^A-Za-z0-9_]", "_", alias)
            if not view or view[0].isdigit():
                view = "v_" + view
            df.createOrReplaceTempView(view)
            registered.append(view)
        return registered


def open_catalog(path: str | None = None, ttl: float | None = None):
    """Front door (≡ intake.open_catalog, intake/__init__.py:101-189):
    YAML path → Catalog (V1 ``sources:`` format auto-detected and loaded
    through the compat layer); glob pattern → merged catalog over every
    match (≡ V1 YAMLFilesCatalog, catalog/local.py:766-867); no path →
    empty catalog.

    ``ttl`` (seconds) returns a :class:`ReloadingCatalog` view that
    re-stats the file(s) at most once per TTL window and re-parses when
    an mtime changed — glob catalogs also re-glob, so files appearing
    or vanishing mid-session are picked up (parity: the reference's
    TTL-based catalog reload, intake/catalog/base.py:188-191).

    Each file is parsed once (:func:`load_yaml_file`, libyaml when
    PyYAML has it) and the parsed document picks the loader: a
    top-level ``sources:`` key is V1, any other mapping V2. Malformed
    YAML raises ``yaml.YAMLError``, a file that is not a mapping
    ``ValueError``."""
    if ttl is not None:
        if path is None:
            raise ValueError("ttl needs a catalog path to watch")
        return ReloadingCatalog(path, ttl)
    if path is None:
        return Catalog()
    if any(ch in path for ch in "*?["):
        import glob as globmod

        merged = Catalog()
        for p in sorted(globmod.glob(path)):
            merged += open_catalog(p)
        return merged
    doc = load_yaml_file(path)
    if "sources" in doc:
        from intake_spark.v1compat import from_v1_dict

        return from_v1_dict(
            doc, catalog_dir=os.path.dirname(os.path.abspath(path))
        )
    return Catalog._from_yaml_doc(doc, path)


class ReloadingCatalog:
    """TTL/mtime-reloading view over :func:`open_catalog` (reference:
    ``Catalog.reload`` on TTL expiry, intake/catalog/base.py:188-191).

    Every access first calls ``_maybe_reload``: if the TTL window since
    the last stat has elapsed, the watched file set is re-stat'ed (and
    re-globbed for glob paths) and the catalog is re-parsed ONLY when
    the (path, mtime) set actually changed — so a long-lived session
    sees catalog edits without paying a YAML parse per access. All
    Catalog behavior is delegated; ``refresh()`` forces a reload."""

    def __init__(self, path: str, ttl: float):
        import time as _time

        self._path = path
        self._ttl = float(ttl)
        self._cat = open_catalog(path)
        self._mtimes = self._stat()
        self._checked = _time.monotonic()

    def _stat(self) -> tuple:
        import glob as globmod

        if any(ch in self._path for ch in "*?["):
            paths = sorted(globmod.glob(self._path))
        else:
            paths = [self._path]
        out = []
        for p in paths:
            try:
                out.append((p, os.path.getmtime(p)))
            except OSError:
                continue
        return tuple(out)

    def refresh(self) -> None:
        import time as _time

        self._cat = open_catalog(self._path)
        self._mtimes = self._stat()
        self._checked = _time.monotonic()

    def _maybe_reload(self) -> None:
        import time as _time

        now = _time.monotonic()
        if now - self._checked < self._ttl:
            return
        self._checked = now
        st = self._stat()
        if st != self._mtimes:
            self._cat = open_catalog(self._path)
            self._mtimes = st

    # -- delegation (dunders bypass __getattr__, so each is explicit) ----
    def __getattr__(self, name: str):
        self._maybe_reload()
        return getattr(self._cat, name)

    def __getitem__(self, name: str):
        self._maybe_reload()
        return self._cat[name]

    def __setitem__(self, name: str, item) -> None:
        self._maybe_reload()
        self._cat[name] = item

    def __contains__(self, name: str) -> bool:
        self._maybe_reload()
        return name in self._cat

    def __iter__(self):
        self._maybe_reload()
        return iter(self._cat)

    def __len__(self) -> int:
        self._maybe_reload()
        return len(self._cat)

    def __add__(self, other):
        self._maybe_reload()
        return self._cat + (other._cat if isinstance(other, ReloadingCatalog) else other)

    def __repr__(self) -> str:
        return f"ReloadingCatalog({self._path!r}, ttl={self._ttl}) -> {self._cat!r}"


def entrypoints_catalog(group: str = "intake_spark.catalogs") -> Catalog:
    """Merge catalogs/readers that installed packages advertise via Python
    entry points (parity: EntrypointsCatalog catalog/local.py:925 +
    driver discovery source/discovery.py:18-99).

    Each entry point may resolve to a Catalog, a zero-arg callable returning
    one, or a reader/pipeline (catalogued under the entry-point name).
    Broken entry points are skipped — a bad plugin must not take down
    discovery — and recorded in ``metadata['skipped']`` as
    ``{"name", "reason": "Type: message"}``."""
    import importlib.metadata as _md

    out = Catalog(metadata={"skipped": []})
    for ep in _md.entry_points(group=group):
        try:
            obj = ep.load()
            if callable(obj) and not hasattr(obj, "to_dict"):
                obj = obj()
            if isinstance(obj, Catalog):
                # copy ALL entries (nested {data(token)} targets are
                # token-keyed with no alias), then prefix the aliases
                out.entries.update(obj.entries)
                for alias, tok in obj.aliases.items():
                    out.aliases[f"{ep.name}.{alias}"] = tok
            else:
                out.add_entry(obj, name=ep.name)
        except Exception as exc:  # any plugin failure: record, keep going
            out.metadata["skipped"].append(
                {"name": ep.name, "reason": f"{type(exc).__name__}: {exc}"}
            )
    return out
