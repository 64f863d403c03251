"""Search terms: composable boolean predicates over catalog entries.

Parity with intake/readers/search.py:11-139 — Text / And / Or / Not / Any /
All / Importable; evaluated against an entry description dict.
"""

from __future__ import annotations


class SearchBase:
    def __call__(self, entry: dict) -> bool:  # pragma: no cover - abstract
        raise NotImplementedError

    def __and__(self, other):
        return And(self, other)

    def __or__(self, other):
        return Or(self, other)

    def __invert__(self):
        return Not(self)


class Text(SearchBase):
    """Case-insensitive substring over the entry's full text description."""

    def __init__(self, text: str):
        self.text = text.lower()

    def __call__(self, entry: dict) -> bool:
        return self.text in repr(entry).lower()


class And(SearchBase):
    def __init__(self, *terms):
        self.terms = terms

    def __call__(self, entry: dict) -> bool:
        return all(t(entry) for t in self.terms)


class Or(SearchBase):
    def __init__(self, *terms):
        self.terms = terms

    def __call__(self, entry: dict) -> bool:
        return any(t(entry) for t in self.terms)


class Not(SearchBase):
    def __init__(self, term):
        self.term = term

    def __call__(self, entry: dict) -> bool:
        return not self.term(entry)


class Any(SearchBase):
    """Any of several substrings."""

    def __init__(self, *texts: str):
        self.terms = [Text(t) for t in texts]

    def __call__(self, entry: dict) -> bool:
        return any(t(entry) for t in self.terms)


class All(SearchBase):
    def __init__(self, *texts: str):
        self.terms = [Text(t) for t in texts]

    def __call__(self, entry: dict) -> bool:
        return all(t(entry) for t in self.terms)


class Importable(SearchBase):
    """Entry's reader class has its imports available."""

    def __call__(self, entry: dict) -> bool:
        from intake_spark.utils import import_name

        payload = entry.get("payload", entry)
        cls_str = payload.get("cls") or payload.get("reader", {}).get("cls", "")
        try:
            return import_name(cls_str).check_importable()
        except (ImportError, AttributeError, ValueError):
            # missing module / attribute (or no check_importable), or an
            # empty class string: the entry's reader is not importable
            return False


def _version_tuple(v: str) -> tuple:
    parts = []
    for tok in v.split("."):
        num = ""
        for ch in tok:
            if ch.isdigit():
                num += ch
            else:
                break
        parts.append(int(num) if num else 0)
    return tuple(parts)


def _version_ok(installed: str, op: str, want: str) -> bool:
    if op == "=":  # conda prefix match: "1.2" allows 1.2.*
        iv, wv = _version_tuple(installed), _version_tuple(want)
        # zero-pad the installed side: '=2.0.0' must accept an installed
        # '2.0' (same release), like the padded operators below
        if len(iv) < len(wv):
            iv = iv + (0,) * (len(wv) - len(iv))
        return iv[: len(wv)] == wv
    iv, wv = _version_tuple(installed), _version_tuple(want)
    # zero-pad to equal length: "1.2" and "1.2.0" are the same release, and
    # (1, 2) >= (1, 2, 0) is False under raw tuple order
    n = max(len(iv), len(wv))
    iv = iv + (0,) * (n - len(iv))
    wv = wv + (0,) * (n - len(wv))
    return {
        "==": iv == wv,
        "!=": iv != wv,
        ">=": iv >= wv,
        "<=": iv <= wv,
        ">": iv > wv,
        "<": iv < wv,
    }[op]


def _clauses_ok(installed: str, rest: str) -> bool:
    """Comma-separated version clauses against an installed version —
    shared by package specs and python pins. Supports ==/!=/>=/<=/>/</=,
    pip's compatible-release ``~=``, and ``.*`` wildcard pins."""
    import re

    for clause in rest.split(","):
        clause = clause.strip()
        if not clause:
            continue
        cm = re.match(r"^(==|!=|>=|<=|>|<|~=|=)\s*([0-9A-Za-z.*+!_-]+)$", clause)
        if not cm:
            return False
        op, want = cm.group(1), cm.group(2)
        if op == "~=":
            # compatible release: >= want AND matches want-minus-last-part
            if not _version_ok(installed, ">=", want):
                return False
            prefix = want.rsplit(".", 1)[0] if "." in want else want
            if not _version_ok(installed, "=", prefix):
                return False
            continue
        if want.endswith(".*"):
            # pip wildcard pin: "==1.2.*" is a prefix match, not "==1.2"
            want = want[:-2]
            if op == "==":
                op = "="
            elif op == "!=":
                if _version_ok(installed, "=", want):
                    return False
                continue
        if not _version_ok(installed, op, want):
            return False
    return True


def _spec_satisfied(spec: str) -> bool:
    """One conda/pip-style dependency spec against importlib.metadata —
    no conda, no network. Handles the common real-world forms: channel
    prefixes (``conda-forge::pkg=1.2``), conda build strings
    (``pkg=1.2=py39h..._0`` — the build qualifier is ignored, versions
    still checked), pip extras (``pkg[extra]>=1``), environment markers
    (``pkg; python_version<'3.11'`` — marker ignored, package checked),
    and ``~=`` compatible-release pins."""
    import importlib.metadata as md
    import re

    spec = spec.strip()
    spec = spec.split(";", 1)[0].strip()  # strip environment marker
    head = spec.split("=", 1)[0]
    if "::" in head:  # strip conda channel prefix
        spec = spec.split("::", 1)[1]
    m = re.match(r"^([A-Za-z0-9_.-]+)(\[[^\]]*\])?\s*(.*)$", spec)
    if not m:
        return False
    name, rest = m.group(1), m.group(3).strip()
    # conda build string pkg=VERSION=BUILD: drop the build qualifier
    # (un-checkable without conda metadata; the version still gates)
    if rest.startswith("=") and not rest.startswith("=="):
        vb = rest[1:].split("=")
        if len(vb) == 2:
            rest = "=" + vb[0]
    try:
        installed = md.version(name)
    except md.PackageNotFoundError:
        return False
    if not rest:
        return True
    return _clauses_ok(installed, rest)


class EnvironmentSatisfied(SearchBase):
    """Pass when the entry's ``environment`` metadata (a conda
    environment.yml subset: ``dependencies:`` list, optional nested pip
    list; literal YAML text, a dict, or a local file path) is satisfied
    by the CURRENT Python environment.

    Parity: reference search.py:95-139 (EnvironmentSatisfied), which
    shells out to ``conda compare``; here the check is stdlib
    importlib.metadata version lookups — deterministic, offline, no
    conda binary. Entries with no ``environment`` field pass, like the
    reference. Python version pins (``python>=3.10``) check
    ``sys.version_info``."""

    def __call__(self, entry: dict) -> bool:
        payload = entry.get("payload", entry)
        env = (payload.get("metadata") or entry.get("metadata") or {}).get(
            "environment"
        )
        if not env:
            return True
        import yaml

        try:
            return self._is_consistent(env)
        except (OSError, yaml.YAMLError):
            # unreadable environment file, or text that is not YAML
            return False

    @staticmethod
    def _is_consistent(env) -> bool:
        import os
        import sys

        if isinstance(env, str) and "dependencies:" not in env and os.path.exists(env):
            with open(env) as f:
                env = f.read()
        if isinstance(env, str):
            import yaml

            env = yaml.safe_load(env)
        if not isinstance(env or {}, dict):
            return False  # not an environment mapping
        deps = (env or {}).get("dependencies") or []
        if not isinstance(deps, list):
            return False
        for dep in deps:
            if isinstance(dep, dict):  # nested {"pip": [...]} section
                pips = dep.get("pip") or []
                if not isinstance(pips, list):
                    return False
                for sub in pips:
                    if not _spec_satisfied(str(sub)):
                        return False
                continue
            spec = str(dep).strip()
            import re

            # name extraction must stop at the FIRST operator character:
            # 'python!=3.9' has name 'python' (splitting on '=' alone left
            # 'python!', which fell through to a package lookup and always
            # failed)
            nm = re.match(r"^(?:[A-Za-z0-9_.-]+::)?([A-Za-z0-9_.-]+)", spec)
            if nm and nm.group(1) == "python":
                py = ".".join(str(x) for x in sys.version_info[:3])
                rest = spec[nm.end():].strip()
                # python pins share the full clause grammar (wildcards,
                # ~=, !=) instead of a narrower regex copy
                if rest and not _clauses_ok(py, rest):
                    return False
                continue
            if not _spec_satisfied(spec):
                return False
        return True
