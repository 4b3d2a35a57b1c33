"""8-core vs 32-core scaling probe at a blown-up SF (r12 verdict item 2).

The driver's sf0.1 bench cannot demonstrate parallel scaling — at that
fixture scale every query is driver/overhead-bound and the 8-core bench
BEATS the 32-core bench. This probe produces the missing evidence: it
materializes the scale_ladder deterministic K× blow-up of sf0.1 ONCE
(K=16 ≈ sf1.6 by default), then times the selected queries in TWO fresh
subprocesses — SPARK_GRAFT_CPUS=32 and SPARK_GRAFT_CPUS=8 — using the
bench methodology (construction + noop sink, min over passes, warm
pass first). A query whose plan parallelizes shows t8/t32 → up to 4×;
a driver-bound chain shows ≈1. Both are honest answers — the point is
to measure which is which on data big enough for executor work to
dominate.

    python scripts/core_scaling.py                 # default query set, K=16
    python scripts/core_scaling.py --k 16 q_tpch_q21 q_dedup_substring
    python scripts/core_scaling.py --runner <dir> <cpus> <names...>  # internal

Prints a markdown table (paste into BASELINE.md) plus one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PASSES = 2

# Slowest HEADLINE lines whose input is one of the blown-up tables,
# spanning the operator families (dedup/text/tpch/knn/stats/selection/
# spatial/ml-training). Streaming and lakehouse lines are excluded:
# their cost is state-store commits / sequential snapshot commits,
# documented floors that no core count changes.
DEFAULT_QUERIES = [
    "q_text_winnowing",
    "q_dedup_containment",
    "q_dedup_substring",
    "q_dedup_incremental",
    "q_knn_self_join",
    "q_train_tree_depth3",
    "q_tpch_q21",
    "q_tpch_q9",
    "q_market_basket",
    "q_join_spatial_radius",
    "q_agg_group_median_select",
    "q_agg_quantile_select",
    "q_feat_robust_scale",
    "q_cluster_kmeans",
    "q_text_vocab_growth",
    "q_fn_timezone",
    "q_agg_equidepth",
    "q_stats_bootstrap_ci",
    "q_graph_pagerank",
    "q_graph_kcore",
]


def runner(data_dir: str, cpus: str, names: list[str]) -> None:
    """Subprocess body: fresh session at the given core count."""
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from embarrassingly_parallel_image_classification_spark import registry
    from embarrassingly_parallel_image_classification_spark.session import get_spark

    spark = get_spark(f"core-scaling-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    failed: dict[str, str] = {}

    def run(n: str) -> float | None:
        """One noop-sink run of ``n``; a failure is recorded against the
        query so the other queries of this core count still report."""
        t0 = time.time()
        try:
            qs[n](spark, data_dir).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 — isolate any per-query failure
            failed[n] = f"{type(ex).__name__}: {str(ex)[:200]}"
            return None
        return time.time() - t0

    for n in names:  # untimed warm pass (JIT, footers, python workers)
        run(n)
    best: dict[str, float] = {}
    for _ in range(PASSES):
        for n in names:
            if n in failed:
                continue
            spark.sparkContext.setJobDescription(f"core{cpus}:{n}")
            dt = run(n)
            if dt is not None:
                best[n] = min(best.get(n, float("inf")), dt)
    result = {"best": {n: round(v, 3) for n, v in best.items()}, "failed": failed}
    print("CORE_SCALING_RESULT " + json.dumps(result))
    spark.stop()


def main() -> None:
    argv = sys.argv[1:]
    if argv and argv[0] == "--runner":
        runner(argv[1], argv[2], argv[3:])
        return
    k = 16
    if argv and argv[0] == "--k":
        k = int(argv[1])
        argv = argv[2:]
    names = argv or DEFAULT_QUERIES

    # Build the blow-up once, with a shared path (both core counts read it).
    from embarrassingly_parallel_image_classification_spark.session import get_spark
    from scripts.scale_ladder import build_blowup

    spark = get_spark("core-scaling-gen")
    spark.sparkContext.setLogLevel("ERROR")
    blow = build_blowup(spark, k)  # all big tables
    spark.stop()

    results: dict[str, dict[str, float]] = {}
    failed: dict[str, dict[str, str]] = {}
    try:
        for cpus in ("32", "8"):
            env = dict(os.environ)
            env["SPARK_GRAFT_CPUS"] = cpus
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--runner", blow, cpus]
                + list(names),
                env=env,
                capture_output=True,
                text=True,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            line = [
                ln
                for ln in out.stdout.splitlines()
                if ln.startswith("CORE_SCALING_RESULT ")
            ]
            if not line:
                print(out.stdout[-3000:])
                print(out.stderr[-3000:])
                raise RuntimeError(f"runner cpus={cpus} produced no result")
            rec = json.loads(line[-1].split(" ", 1)[1])
            results[cpus], failed[cpus] = rec["best"], rec["failed"]
    finally:
        shutil.rmtree(blow, ignore_errors=True)

    print(f"\n| query | t@32c (s) | t@8c (s) | t8/t32 |")
    print("|---|---|---|---|")
    rows = []
    for n in names:
        t32, t8 = results["32"].get(n), results["8"].get(n)
        ratio = t8 / t32 if t32 and t8 is not None else None
        rows.append({"query": n, "t32": t32, "t8": t8,
                     "ratio": None if ratio is None else round(ratio, 3)})
        print(f"| {n} | {_cell(t32)} | {_cell(t8)} | {_cell(ratio)} |")
    for cpus, errs in failed.items():
        for n, err in errs.items():
            print(f"failed at {cpus} cores: {n}: {err}")
    print(json.dumps({"metric": "core_scaling", "k": k, "rows": rows, "failed": failed}))


def _cell(t: float | None) -> str:
    return "n/a" if t is None else f"{t:.2f}"


if __name__ == "__main__":
    main()
