#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the validation engine.

    python3 perfbench/run.py --workload resumable_run --seed 1 --seconds 20 --trace 0

Run from the repository root. One process drives one closed loop (one op
in flight) against ``local[<nproc>]`` with the package's default session
(driver heap included). The run

1. materializes the seed's inputs into ``.perfbench/cache`` (outside every
   measured number),
2. times ``get_spark`` once and the workload's preparation three times;
   ``setup_s`` is ``get_spark`` plus the median preparation,
3. runs one cold op, which pays the session's first-use costs,
4. runs warm ops until ``--seconds`` have passed (at least one),
5. runs the workload's closing op, if it has one (the resume pass).

Every op is checked after its clock stops. ``wall_s`` and ``cpu_s`` are
medians over the warm ops. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics. ``--trace 1`` runs the same loop with the
engine's entry points wrapped in spans and Spark's event log on, and
reports the per-layer metrics folded from that log. Its tracing overhead
is its ``wall_s`` against the median ``wall_s`` of the untraced runs of
the same code and seed made in the same checkout in the last hour (kept
in ``.perfbench/results``); ``trace.baseline_runs`` says how many there
were (0: no overhead figure).
Lines before the last one start with ``#`` and carry the host facts
(nproc, MemTotal, driver heap, free memory and page cache at the start, a
CPU calibration loop's time), where the run's time went and the CPU time
the hypervisor stole meanwhile, each op's times, the unit sample count,
the fail rate and every failed check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREP_REPEATS = 3
# untraced runs older than this are not a baseline for a traced run: the
# host's speed drifts over hours
BASELINE_MAX_AGE_S = 3600


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_DRIVER_JAVA_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)


def _host() -> dict:
    """Host facts, plus the host state a run starts in: free memory, page
    cache and the time of a fixed single-threaded loop (median of 5), so
    that drift of the host can be told from a change of the program."""
    with open("/proc/meminfo") as f:
        mem_kb = {k: int(v.split()[0]) for k, v in
                  (line.split(":", 1) for line in f)}
    loops = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        loops.append(time.perf_counter() - t0)
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb["MemTotal"] / 1024,
            "mem_available_mb": mem_kb["MemAvailable"] / 1024,
            "page_cache_mb": mem_kb["Cached"] / 1024,
            "calib_ms": 1000 * statistics.median(loops)}


def _cpu_ticks() -> list[int]:
    """The host's CPU time by state (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), in ticks, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _heap_mb(spark) -> float:
    v = spark.conf.get("spark.driver.memory", "1g").strip().lower()
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return float(v[:-1]) * scale[v[-1]] if v[-1] in scale else float(v) / 2**20


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _start(app: str, nproc: int, work: str, extra: dict | None = None):
    # attribute lookup at call time, so a traced run sees the wrapper
    from anomalydetection_spark import session

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            **(extra or {})}
    spark = session.get_spark(app, master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every process
    this run started (the JVM, the Python daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench.procstat import running, tree_pids

    started = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(map(running, started)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(running, started):
        os.kill(pid, 9)


class Phase:
    """One closed loop: a cold op, ops for ``seconds``, then the closing op.

    The cold op pays the session's first-use costs (JIT, codegen, Python
    worker start-up); it is checked like every op but kept out of
    ``wall_s`` and ``cpu_s``, which are medians over the ops after it."""

    def __init__(self, workload, spark, tracer, seconds: float):
        from perfbench.procstat import tree_cpu_s

        self.cold = self._one(lambda: workload.cold_op(spark, tracer),
                              tracer, "cold_op", tree_cpu_s)
        self.ops: list[dict] = []
        start = time.perf_counter()
        while not self.ops or time.perf_counter() - start < seconds:
            self.ops.append(self._one(lambda: workload.op(spark, tracer),
                                      tracer, "op", tree_cpu_s))
        self.closing = self._one(lambda: workload.finish(spark, tracer),
                                 tracer, "resume", tree_cpu_s)
        if self.closing["result"] is None and not self.closing["problems"]:
            self.closing = None

    @staticmethod
    def _one(fn, tracer, name, cpu) -> dict:
        """Run and time one op, then run its check outside the timing."""
        cpu0, t0 = cpu(), time.perf_counter()
        res, problems = None, []
        try:
            with tracer.span(name):
                res = fn()
        except Exception as exc:  # an op that raises counts as failed
            traceback.print_exc()
            problems = [f"{name} raised {exc!r}"[:500]]
        wall, used = time.perf_counter() - t0, cpu() - cpu0
        if res is not None:
            try:
                problems = res.check()
            except Exception as exc:
                traceback.print_exc()
                problems = [f"{name} check raised {exc!r}"[:500]]
        return {"wall": wall, "cpu": used, "result": res, "problems": problems}

    @property
    def all_ops(self) -> list[dict]:
        return [self.cold] + self.ops + ([self.closing] if self.closing else [])

    def units(self) -> list[float]:
        """Unit walls of the warm ops and the closing op."""
        ops = self.ops + ([self.closing] if self.closing else [])
        return [w for op in ops if op["result"] for _name, w in op["result"].units]


def _end_to_end(phase: Phase, setup_s: float, peak_rss: int) -> dict:
    wall = statistics.median(op["wall"] for op in phase.ops)
    rows = next((op["result"].rows for op in phase.all_ops if op["result"]), 0)
    units = phase.units() or [wall]
    # without a ledger to resume from (gate_mix), resume_s is the cold op:
    # what a freshly started process pays for its first pass
    resume = (phase.closing or phase.cold)["wall"]
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "1/s"),
        "cpu_s": (statistics.median(op["cpu"] for op in phase.ops), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "unit_s_p50": (_pct(units, 50), "s"),
        "resume_s": (resume, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("anomalydetection_spark/__init__.py", "__spark_entry__.py",
                 "scripts/oracle_parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    work = os.path.join(ROOT, ".perfbench", "work")
    _environment(work)
    sys.path.insert(0, ROOT)

    from perfbench import layers
    from perfbench.procstat import TreeSampler
    from perfbench.tracing import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload](ROOT, args.seed)
    t_run = time.perf_counter()
    workload.materialize()
    host = _host()
    timeline = {"materialize_s": time.perf_counter() - t_run}

    tracer, extra = NullTracer(), {}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        tracer = Tracer().install()
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 # this install has no zstandard module to read a compressed log
                 "spark.eventLog.compress": "false"}
    ticks0 = _cpu_ticks()
    with TreeSampler(0.25) as sampler:
        t0 = time.perf_counter()
        spark = _start(f"perfbench-{args.workload}", host["nproc"], work, extra)
        get_spark_s = time.perf_counter() - t0
        prep = []
        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            workload.prepare(spark)
            prep.append(time.perf_counter() - t0)
        host["driver_heap_mb"] = _heap_mb(spark)
        t0 = time.perf_counter()
        phase = Phase(workload, spark, tracer, args.seconds)
        timeline["loop_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        _shutdown(spark)
        timeline["shutdown_s"] = time.perf_counter() - t0
    # CPU time the hypervisor gave to other guests while this run wanted it
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    timeline.update(get_spark_s=get_spark_s, prepare_s=prep,
                    steal_pct=100 * ticks[7] / max(sum(ticks), 1))

    ops = phase.all_ops
    failed = [op for op in ops if op["problems"]]
    fail_rate = len(failed) / len(ops)
    print("# host " + json.dumps(host))
    print("# timeline " + json.dumps(timeline))
    print("# ops (cold, warm..., closing) " + json.dumps([
        {"wall_s": round(op["wall"], 3), "cpu_s": round(op["cpu"], 2),
         "units": {n: round(w, 3) for n, w in op["result"].units} if op["result"] else None}
        for op in ops]))
    units = phase.units()
    spread = (f" (p50 {_pct(units, 50):.3f} s, p90 {_pct(units, 90):.3f} s)"
              if units else "")
    print(f"# workload {args.workload} seed {args.seed}: {len(phase.ops)} warm ops, "
          f"{len(units)} unit samples{spread}, fail_rate {fail_rate:.4f}")
    for op in failed:
        for p in op["problems"]:
            print(f"# FAILED: {p}")
    history = os.path.join(ROOT, ".perfbench", "results", f"{args.workload}.jsonl")
    code = _code_digest()
    if args.trace:
        metrics = layers.per_layer(tracer.spans, log_dir, phase,
                                   _baseline_walls(history, code, args.seed),
                                   get_spark_s, host, fail_rate)
    else:
        metrics = _end_to_end(phase, get_spark_s + statistics.median(prep),
                              sampler.peak_bytes)
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps({"code": code, "seed": args.seed, "time": time.time(),
                                "wall_s": metrics["wall_s"]["value"]}) + "\n")
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


def _code_digest() -> str:
    """Digest of the engine's and the benchmark's sources and data."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("anomalydetection_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            paths += [os.path.join(dirpath, f) for f in sorted(files)
                      if f.endswith((".py", ".parquet"))]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _baseline_walls(history: str, code: str, seed: int) -> list[float]:
    """``wall_s`` of the untraced runs of the same code and seed made in
    this checkout within ``BASELINE_MAX_AGE_S``: the traced run's baseline."""
    if not os.path.exists(history):
        return []
    now = time.time()
    with open(history) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    return [r["wall_s"] for r in runs
            if r.get("code") == code and r.get("seed") == seed
            and now - r["time"] <= BASELINE_MAX_AGE_S]


if __name__ == "__main__":
    main()
