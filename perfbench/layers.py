"""Per-layer numbers of a traced run.

``collect_op`` folds one traced operation's spans, its Spark jobs,
stages and SQL node metrics, and the Python UDF profile into a flat
record; ``per_layer`` turns the run's records into the per-layer
metrics of BENCHMARK.json. Times and counts are per operation (mean
over the traced operations); ratios are ratios of sums; set-up layers
are the median over the set-up repetitions.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from spans import (
    layer_of,
    metric_bytes,
    metric_count,
    metric_seconds,
    node_metric,
    parse_ui_time,
    self_time,
    union_length,
)

KERNEL = "nearest_centroid_predict"  # ml.inference's scoring kernel
EMB_DIM, N_CLASSES = 64, 10


def udf_profile(spark) -> tuple[float, int]:
    """(cumulative seconds, calls) of the scoring kernel in the perf
    profile Spark's UDF profiler collected since the last clear."""
    secs, calls = 0.0, 0
    results = spark.profile.profiler_collector._perf_profile_results
    for stats in results.values():
        for (_file, _line, func), (_cc, nc, _tt, ct, _callers) in stats.stats.items():
            if func == KERNEL:
                secs += ct
                calls += nc
    return secs, calls


def collect_op(tr, op_id: str, sql: list[dict], profile: tuple[float, int]) -> dict:
    spans = [s for s in tr.spans if s["op"] == op_id]
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            children[s["parent"]].append(s)
    root = next(s for s in spans if s["name"] == "op")
    phase = {c["id"]: c["name"] for c in children[root["id"]]}

    def phase_of(span_id: int) -> str:
        while span_id not in phase and span_id in by_id and by_id[span_id]["parent"] is not None:
            span_id = by_id[span_id]["parent"]
        return phase.get(span_id, "op")

    selfs: dict[str, float] = defaultdict(float)
    calls: Counter = Counter()
    collect_rows = 0
    for s in spans:
        layer = layer_of(s["name"])
        selfs[layer] += self_time(s, children[s["id"]])
        calls[layer] += 1
        collect_rows += s["attrs"].get("rows", 0) if layer == "collect" else 0

    m = tr.spark_metrics(op_id, sql)
    jobs = m["jobs"]
    stages = [st for j in jobs for st in j["stages"]]
    walls = [
        (parse_ui_time(j["submissionTime"]), parse_ui_time(j["completionTime"]))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    out = {
        "t_wall": root["dur"],
        "t_build": sum(c["dur"] for c in children[root["id"]] if c["name"] == "registry.build"),
        "t_plan": sum(c["dur"] for c in children[root["id"]] if c["name"] == "catalyst.plan"),
        "t_sink": sum(c["dur"] for c in children[root["id"]] if c["name"] == "exec.sink"),
        "registry_self": selfs["registry"],
        "build_jobs": sum(1 for j in jobs if phase_of(j["span"]) == "registry.build"),
        "pins_calls": calls["pins"],
        "pins_s": selfs["pins"],
        "pins_jobs": sum(1 for j in jobs if layer_of(by_id[j["span"]]["name"]) == "pins"),
        "collect_calls": calls["collect"],
        "collect_s": selfs["collect"],
        "collect_rows": collect_rows,
        "localframe_calls": calls["localframe"],
        "localframe_s": selfs["localframe"],
        "sources_s": selfs["sources"],
        "exec_wall": union_length(walls),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["numCompleteTasks"] for st in stages),
        "cpu_s": sum(st["executorCpuTime"] + st["executorDeserializeCpuTime"] for st in stages) / 1e9,
        "gc_s": sum(st["jvmGcTime"] for st in stages) / 1e3,
        "shuffle_read": sum(st["shuffleReadBytes"] for st in stages),
        "shuffle_write": sum(st["shuffleWriteBytes"] for st in stages),
        "spill": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages),
    }
    scan_rows = scan_bytes = udf_rows = udf_s = 0.0
    for node in m["sql_nodes"]:
        name = node["nodeName"]
        if name.startswith("Scan parquet"):
            scan_rows += metric_count(node_metric(node, "number of output rows") or "0")
            scan_bytes += metric_bytes(node_metric(node, "size of files read") or "0 B")
        elif name == "ArrowEvalPython":
            udf_rows += metric_count(node_metric(node, "number of output rows") or "0")
            udf_s += metric_seconds(node_metric(node, "time to run Python workers") or "0 ms")
    predict_s, batches = profile
    kernel_rows = udf_rows if batches else 0.0
    out.update(
        scan_rows=scan_rows, scan_bytes=scan_bytes,
        udf_rows=udf_rows, udf_s=udf_s, predict_s=predict_s, arrow_batches=batches,
        kernel_flops=2.0 * kernel_rows * EMB_DIM * N_CLASSES,
        # float64 rows in, int32 labels out; the 10x64 centroids stay in cache
        kernel_bytes=kernel_rows * (EMB_DIM * 8 + 4),
    )
    return out


def _mean(recs: list[dict], key: str) -> float:
    vals = [r.get(key, 0.0) for r in recs]
    return sum(vals) / len(vals) if vals else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def per_layer(records: list[dict], setup: dict) -> dict:
    """Per-layer metrics of a traced run whose records come in pairs:
    the same operation run untraced and traced, in either order."""
    traced = [r for r in records if r["traced"] and "t_wall" in r]
    overhead = _median([
        (b["wall"] - a["wall"]) * (1 if b["traced"] else -1)
        for a, b in zip(records[::2], records[1::2])
    ])
    rows = sum(r["rows"] for r in traced)
    return {
        # set-up layers
        "session.start_s": setup.get("session.start_s", 0.0),
        "session.warmup_s": setup.get("session.warmup_s", 0.0),
        "ml.inference.fit_s": setup.get("ml.inference.fit_s", 0.0),
        "ml.knn.index_build_s": setup.get("ml.knn.index_build_s", 0.0),
        # build: Python plan construction, pins, driver round-trips
        "registry.build_s": _mean(traced, "t_build"),
        "registry.self_s": _mean(traced, "registry_self"),
        "registry.build_jobs": _mean(traced, "build_jobs"),
        "pins.calls": _mean(traced, "pins_calls"),
        "pins.s": _mean(traced, "pins_s"),
        "pins.jobs": _mean(traced, "pins_jobs"),
        "collect.calls": _mean(traced, "collect_calls"),
        "collect.s": _mean(traced, "collect_s"),
        "collect.rows": _mean(traced, "collect_rows"),
        "localframe.calls": _mean(traced, "localframe_calls"),
        "localframe.s": _mean(traced, "localframe_s"),
        "exec.driver_gap_s": _mean(traced, "t_wall") - _mean(traced, "exec_wall"),
        # plan and execute
        "catalyst.plan_s": _mean(traced, "t_plan"),
        "exec.sink_s": _mean(traced, "t_sink"),
        "exec.wall_s": _mean(traced, "exec_wall"),
        "exec.jobs": _mean(traced, "jobs"),
        "exec.stages": _mean(traced, "stages"),
        "exec.tasks": _mean(traced, "tasks"),
        "exec.cpu_s": _mean(traced, "cpu_s"),
        "exec.gc_s": _mean(traced, "gc_s"),
        "exec.shuffle_read_bytes": _mean(traced, "shuffle_read"),
        "exec.shuffle_write_bytes": _mean(traced, "shuffle_write"),
        "exec.spill_bytes": _mean(traced, "spill"),
        # sources
        "sources.s": _mean(traced, "sources_s"),
        "sources.scan_rows": _mean(traced, "scan_rows"),
        "sources.scan_bytes": _mean(traced, "scan_bytes"),
        "sources.scan_passes": _ratio(sum(r["scan_rows"] for r in traced), rows),
        # Python UDF
        "ml.inference.udf_rows_per_row": _ratio(sum(r["udf_rows"] for r in traced), rows),
        "ml.inference.udf_s": _mean(traced, "udf_s"),
        "ml.inference.predict_s": _mean(traced, "predict_s"),
        "ml.inference.arrow_batches": _mean(traced, "arrow_batches"),
        "ml.inference.kernel_flops": _mean(traced, "kernel_flops"),
        "ml.inference.kernel_bytes": _mean(traced, "kernel_bytes"),
        # the trace itself
        "trace.unattributed_s": _mean(traced, "t_wall")
        - _mean(traced, "t_build") - _mean(traced, "t_plan") - _mean(traced, "t_sink"),
        "trace.overhead_s": overhead,
    }
