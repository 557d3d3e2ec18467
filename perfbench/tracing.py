"""Spans around the engine's public entry points, and job tagging.

``Tracer.install()`` wraps, from outside the package:

* ``session.get_spark``                    → ``session.get_spark``
* ``ValidationSuite.run``                  → ``suite.run``
* each heavy check's ``run_extra``         → ``checks.<Class>.run_extra``
* ``CheckpointedRunner.run``               → ``checkpoint.run``
* ``report.render_scorecard``              → ``report.render_scorecard``
* ``DataFrameWriter.parquet``              → ``sink.<verdicts|violations|lineage|other>``

The benchmark opens its own spans (``cold_op``, ``op``, ``resume``,
``gate.<name>``) with ``Tracer.span``. Each span records (id, name, parent, start, end) and,
while open, tags the Spark jobs it causes: ``setJobDescription`` shows
the span's name in Spark's UI and logs, and the local property
``perfbench.span`` carries its id into the event log, where
``eventlog.fold_spans`` attributes task metrics to it.
"""

from __future__ import annotations

import contextlib
import functools
import time

from perfbench.eventlog import SPAN_PROP

CHECK_CLASSES = (
    ("anomalydetection_spark.checks.uniqueness", "UniquenessCheck"),
    ("anomalydetection_spark.checks.referential", "ReferentialCheck"),
    ("anomalydetection_spark.checks.drift", "DriftCheck"),
    ("anomalydetection_spark.checks.schema", "SchemaCheck"),
    ("anomalydetection_spark.image_udfs", "DecodeCheck"),
)


def _sink_kind(path: str) -> str:
    for kind in ("verdicts", "violations", "lineage"):
        if f"/{kind}" in path:
            return kind
    return "other"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # -- spans -------------------------------------------------------------
    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _tag(self, span: dict | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        sc.setLocalProperty(SPAN_PROP, None if span is None else str(span["id"]))
        sc.setJobDescription(None if span is None else span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": None if parent is None else parent["id"],
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    # -- wrappers ----------------------------------------------------------
    def _wrap(self, owner, attr: str, name) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> "Tracer":
        """Wrap the entry points for the rest of the process's life."""
        import importlib

        from anomalydetection_spark import report, session
        from anomalydetection_spark.checkpoint import CheckpointedRunner
        from anomalydetection_spark.suite import ValidationSuite
        from pyspark.sql.readwriter import DataFrameWriter

        self._wrap(session, "get_spark", "session.get_spark")
        self._wrap(ValidationSuite, "run", "suite.run")
        for mod, cls in CHECK_CLASSES:
            klass = getattr(importlib.import_module(mod), cls)
            self._wrap(klass, "run_extra", f"checks.{cls[:-len('Check')]}.run_extra")
        self._wrap(CheckpointedRunner, "run", "checkpoint.run")
        self._wrap(report, "render_scorecard", "report.render_scorecard")
        self._wrap(DataFrameWriter, "parquet",
                   lambda _w, path, *a, **k: f"sink.{_sink_kind(str(path))}")
        return self


class NullTracer:
    """Untraced runs: spans cost nothing and tag nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None
