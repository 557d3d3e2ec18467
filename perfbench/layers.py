"""Per-layer metrics of a traced run, folded from its spans and event log.

Normalization: ``suite.*``, ``checks.*`` and ``image_udfs.*`` are per
``ValidationSuite.run`` call (one per op in the suite workloads, one per
unit under ``CheckpointedRunner``); ``checkpoint.*_per_unit`` per unit the
runner executed; ``checkpoint.sink_write_s`` and ``report.*`` per runner
pass; ``functions.*``, ``kernels.*`` and ``spark.*`` per op. The cold op
is left out of every figure, as it is of ``wall_s``. A layer a workload
does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog

CHECKS = ("Uniqueness", "Referential", "Drift", "Schema", "Decode")
GATE_LAYERS = ("functions.text", "functions.similarity", "functions.graph",
               "kernels.recommender", "kernels.timeseries")
SPARK_KEYS = ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "shuffle_fetch_wait_s", "spill_bytes", "input_bytes", "tasks", "jobs")


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s") or leaf.endswith("_s_per_unit") or leaf.endswith("_pct"):
        return "%" if leaf.endswith("_pct") else "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("task_skew", "fail_rate"):
        return "ratio"
    return "count"


def per_layer(spans, log_dir, phase, untraced_walls, get_spark_s, host, fail_rate) -> dict:
    folded = eventlog.Folded(eventlog.read_events(eventlog.find_log(log_dir)))
    spans = [s for s in spans if s["end"] is not None]
    cold = set().union(*(eventlog.subtree(spans, s["id"])
                         for s in spans if s["name"] == "cold_op"))
    spans = [s for s in spans if s["id"] not in cold]
    fold = eventlog.fold_spans(folded, spans)

    def named(prefix: str, exact: bool = True) -> list[dict]:
        return [s for s in spans
                if (s["name"] == prefix if exact else s["name"].startswith(prefix))]

    def total(ss: list[dict], key: str) -> float:
        return sum(fold[s["id"]][key] for s in ss)

    def per(x: float, n: int) -> float:
        return x / n if n else 0.0

    m: dict[str, float] = {"session.get_spark_s": get_spark_s}

    suite_runs = named("suite.run")
    n_suite = len(suite_runs)
    sinks = {k: named(f"sink.{k}") for k in ("verdicts", "violations")}
    suite_scope = suite_runs + sinks["verdicts"] + sinks["violations"]
    m["suite.run_s"] = per(total(suite_runs, "wall_s"), n_suite)
    m["suite.verdicts_sink_s"] = per(total(sinks["verdicts"], "wall_s"), n_suite)
    m["suite.violations_sink_s"] = per(total(sinks["violations"], "wall_s"), n_suite)
    m["suite.jobs"] = per(total(suite_scope, "jobs"), n_suite)
    m["suite.driver_s"] = per(total(suite_scope, "driver_s"), n_suite)
    for c in CHECKS:
        ss = named(f"checks.{c}.run_extra")
        m[f"checks.{c}.run_extra_s"] = per(total(ss, "wall_s"), n_suite)
        m[f"checks.{c}.jobs"] = per(total(ss, "jobs"), n_suite)
    m["image_udfs.python_worker_s"] = per(total(suite_scope, "python_worker_s"), n_suite)
    m["image_udfs.bytes_to_python"] = per(total(suite_scope, "bytes_to_python"), n_suite)
    m["image_udfs.bytes_from_python"] = per(total(suite_scope, "bytes_from_python"), n_suite)
    m["image_udfs.decode_passes"] = per(total(suite_scope, "python_stages"), n_suite)

    runs = named("checkpoint.run")
    n_units = len(phase.units()) if runs else 0
    in_runs = set().union(*(eventlog.subtree(spans, s["id"]) for s in runs)) if runs else set()
    run_sinks = [s for s in spans if s["id"] in in_runs and s["name"].startswith("sink.")]
    m["checkpoint.jobs_per_unit"] = per(total(runs, "jobs"), n_units)
    m["checkpoint.driver_s_per_unit"] = per(total(runs, "driver_s"), n_units)
    m["checkpoint.sink_write_s"] = per(total(run_sinks, "wall_s"), len(runs))
    m["checkpoint.input_bytes_per_unit"] = per(total(runs, "input_bytes"), n_units)
    m["report.render_scorecard_s"] = per(total(named("report.render_scorecard"), "wall_s"),
                                         len(runs))

    ops = named("op")
    n_ops = len(ops)
    gates = named("gate.", exact=False)
    for layer in GATE_LAYERS:
        ss = [s for s in gates if s.get("layer") == layer]
        m[f"{layer}_s"] = per(total(ss, "wall_s"), n_ops)
        m[f"{layer}.python_worker_s"] = per(total(ss, "python_worker_s"), n_ops)
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = per(total(ops, k), n_ops)
    m["spark.task_skew"] = max((fold[s["id"]]["task_skew"] for s in ops), default=1.0)

    traced_wall = statistics.median(op["wall"] for op in phase.ops)
    m["trace.overhead_pct"] = (100.0 * (traced_wall / statistics.median(untraced_walls) - 1.0)
                               if untraced_walls else 0.0)
    m["trace.baseline_runs"] = float(len(untraced_walls))
    m["fail_rate"] = fail_rate
    m["unit_samples"] = float(len(phase.units()))
    m["host.nproc"] = float(host["nproc"])
    m["host.mem_total_mb"] = host["mem_total_mb"]
    m["host.driver_heap_mb"] = host["driver_heap_mb"]
    return {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}
