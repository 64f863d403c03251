"""Spans recorded from the benchmark's side of each layer call.

A span has a name (``<module>.<call>``), start/end (perf_counter seconds),
the id of the span open when it started, the op it belongs to and the
pass number. While a span is open the Spark job group is
``p<pass>|<op>|<name>|<sid>``, so the event log attributes every Spark
job to the innermost span that launched it. Jobs a span starts on another
thread under a group of their own (a streaming query runs its batches
under its run id) are attributed through :meth:`Tracer.alias`.

Layers reached only from inside engine code (``session.load_table``,
``readers.BaseReader.read``, ``pipeline.Pipeline.read``,
``lakehouse.delta_log_state``) are wrapped at run time by
:func:`wrap_function` / :func:`wrap_method`; engine source is untouched.
With the tracer disabled every span is a no-op.
"""

from __future__ import annotations

import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: str | None
    pass_no: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self.enabled = False
        self.pass_no = 0
        self.op: str | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._sc = spark_context
        # foreign job group -> id of the span that started its jobs
        self.aliases: dict[str, int] = {}

    def alias(self, group: str, span: Span | None) -> None:
        """Attribute the jobs of job group ``group`` to ``span``."""
        if span is not None:
            self.aliases[group] = span.sid

    def span_id(self, group: str | None) -> int | None:
        """The span a job group names, or None."""
        if group in self.aliases:
            return self.aliases[group]
        if not group or group.count("|") < 3:
            return None
        return int(group.rsplit("|", 1)[1])

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.sid if parent else None,
                 name, self.op, self.pass_no, time.perf_counter(), attrs=attrs)
        self._stack.append(s)
        self._set_group(f"p{self.pass_no}|{self.op}|{name}|{s.sid}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            top = self._stack[-1] if self._stack else None
            self._set_group(
                f"p{top.pass_no}|{top.op}|{top.name}|{top.sid}" if top else None
            )


def _replace_everywhere(orig, new, attr: str) -> None:
    """Point every loaded ``intake_spark`` module attribute that holds
    ``orig`` at ``new`` (modules that did ``from x import f`` keep their
    own reference)."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("intake_spark") and getattr(mod, attr, None) is orig:
            setattr(mod, attr, new)


def wrap_function(tracer: Tracer, module, attr: str, name: str, on_result=None) -> None:
    orig = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            out = orig(*args, **kwargs)
            if s is not None and on_result is not None:
                on_result(s, out)
            return out

    wrapper.__wrapped__ = orig
    _replace_everywhere(orig, wrapper, attr)


def wrap_method(tracer: Tracer, cls, attr: str, name: str) -> None:
    orig = getattr(cls, attr)

    def wrapper(self, *args, **kwargs):
        with tracer.span(name):
            return orig(self, *args, **kwargs)

    wrapper.__wrapped__ = orig
    setattr(cls, attr, wrapper)
