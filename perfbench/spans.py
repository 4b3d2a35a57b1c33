"""Spans around the engine's layers, measured from outside the package.

The tracer wraps public callables of the package (and the PySpark
DataFrame methods the package calls) in the benchmark process only; no
package file changes. Every span sets its own Spark job group, so each
job the engine launches is attributed to the innermost span that caused
it. After an operation the tracer reads the UI REST API
(``jobs``, ``stages/<id>``, ``sql?details=true``) for that operation's
job groups and folds Spark's own job, stage and SQL metrics into the
per-layer record.

Span layers (named after the package modules, Spark's planner and
executor seen from outside):

    registry          build of a registered query / flagship / lake call
    catalyst          queryExecution().executedPlan() on the built frame
    exec              the sink (collect / toPandas) of the built frame
    pins              DataFrame.localCheckpoint / DataFrame.checkpoint
    collect           driver round-trips issued while building
    localframe        localframe.local_df literal frames
    sources           sources.tables.load_table fixture/parquet loads
    ml.inference      ml.inference.fit_centroids
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
import urllib.request
from contextlib import contextmanager

PKG = "embarrassingly_parallel_image_classification_spark"

# (module, attribute) -> span name; patched in every package module that
# holds the same function object, so `from x import f` call sites are
# covered as well as `x.f(...)` ones.
PACKAGE_HOOKS = {
    ("localframe", "local_df"): "localframe",
    ("sources.tables", "load_table"): "sources",  # t() calls it through the module
    ("ml.inference", "fit_centroids"): "ml.inference.fit",
}
PIN_METHODS = ("localCheckpoint", "checkpoint")
COLLECT_METHODS = ("collect", "toPandas", "count", "take", "head", "first", "toLocalIterator")


def layer_of(span_name: str) -> str:
    """Layer a span belongs to: the prefix before the first dot, or the
    module path for the ml.* spans."""
    if span_name.startswith("ml."):
        return ".".join(span_name.split(".")[:2])
    return span_name.split(".")[0]


class Tracer:
    """In-memory span recorder. One instance per traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id: str | None = None
        self._next = 0
        self._patched: list[tuple] = []
        self._ui = self.sc.uiWebUrl
        self._app = self.sc.applicationId

    # -- spans ------------------------------------------------------------
    def _group(self, rec: dict | None) -> str | None:
        return None if rec is None else f"pb:{rec['op']}:{rec['id']}"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        self._next += 1
        rec = {
            "id": self._next,
            "op": self.op_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": attrs,
            "t0": time.time(),
            "p0": time.perf_counter(),
        }
        self.stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(rec))
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - rec["p0"]
            rec["t1"] = rec["t0"] + rec["dur"]
            self.stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))
            self.spans.append(rec)

    def _inside(self, layer: str) -> bool:
        return any(layer_of(s["name"]) == layer for s in self.stack)

    # -- patching ---------------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the package hooks and the DataFrame pin/collect methods
        (on the concrete DataFrame class the session hands out)."""
        DataFrame = type(spark.range(1))
        for (mod_name, attr), span_name in PACKAGE_HOOKS.items():
            mod = sys.modules.get(f"{PKG}.{mod_name}")
            if mod is None:
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, attr, None) is orig:
                    self._patched.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        for meth in PIN_METHODS:
            orig = getattr(DataFrame, meth)
            self._patched.append((DataFrame, meth, orig))
            setattr(DataFrame, meth, self._wrap(orig, f"pins.{meth}", counts_rows=False))
        for meth in COLLECT_METHODS:
            orig = getattr(DataFrame, meth)
            self._patched.append((DataFrame, meth, orig))
            setattr(DataFrame, meth, self._wrap(orig, f"collect.{meth}", counts_rows=True))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, span_name: str, counts_rows: bool = False):
        layer = layer_of(span_name)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # Only calls made while an operation builds are attributed;
            # the benchmark's own sink and checks stay outside the trace,
            # and a collect nested in another collect (first -> take ->
            # collect) is one round-trip, not three.
            if tracer.op_id is None or not tracer._inside("registry") or tracer._inside(layer):
                return fn(*args, **kwargs)
            with tracer.span(span_name) as rec:
                out = fn(*args, **kwargs)
                if counts_rows:
                    rec["attrs"]["rows"] = _row_count(out)
                return out

        return wrapper

    # -- Spark's own metrics ----------------------------------------------
    def _get(self, path: str):
        url = f"{self._ui}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def sql_executions(self) -> list[dict]:
        """Every SQL execution of the application, with node metrics."""
        return self._get("sql?details=true&planDescription=false&offset=0&length=1000000")

    def spark_metrics(self, op_id: str, sql: list[dict]) -> dict:
        """Jobs, stages and SQL node metrics of one operation, keyed by
        the span that launched each job."""
        prefix = f"pb:{op_id}:"
        tracker = self.sc.statusTracker()
        group_of_job: dict[int, int] = {}
        for rec in self.spans:
            if rec["op"] != op_id:
                continue
            for jid in tracker.getJobIdsForGroup(f"{prefix}{rec['id']}"):
                group_of_job[jid] = rec["id"]
        jobs = []
        deadline = time.time() + 10
        for jid in sorted(group_of_job):
            while True:  # the UI listener bus is asynchronous
                j = self._get(f"jobs/{jid}")
                if j.get("completionTime") or time.time() > deadline:
                    break
                time.sleep(0.01)
            j["span"] = group_of_job[jid]
            stages = []
            for sid in j["stageIds"]:
                for attempt in self._get(f"stages/{sid}?details=false"):
                    if attempt["status"] == "COMPLETE":
                        stages.append(attempt)
            j["stages"] = stages
            jobs.append(j)
        job_ids = set(group_of_job)
        nodes = []
        for ex in sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if ex_jobs & job_ids:
                nodes.extend(ex.get("nodes", []))
        return {"jobs": jobs, "sql_nodes": nodes}


def _row_count(out) -> int:
    if isinstance(out, int):
        return 1
    try:
        return len(out)
    except TypeError:
        return 0


# ---------------------------------------------------------------------------
# SQL metric strings: "20,000", "5.6 MiB", "total (min, med, max ...)\n4.9 s (...)"
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _total_part(value: str) -> str:
    return value.split("\n", 1)[1] if "\n" in value else value


def metric_count(value: str) -> float:
    m = re.match(r"\s*([\d,]+)", _total_part(value))
    return float(m.group(1).replace(",", "")) if m else 0.0


def metric_bytes(value: str) -> float:
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", _total_part(value))
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


def metric_seconds(value: str) -> float:
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|min|m|h)\b", _total_part(value))
    return float(m.group(1).replace(",", "")) * _TIME[m.group(2)] if m else 0.0


def node_metric(node: dict, name: str) -> str | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["value"]
    return None


def parse_ui_time(s: str) -> float:
    """'2026-10-17T02:46:35.474GMT' -> epoch seconds."""
    import calendar

    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(rec: dict, children: list[dict]) -> float:
    return rec["dur"] - union_length([(c["t0"], c["t1"]) for c in children])
