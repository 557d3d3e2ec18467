"""The benchmark's workloads: inputs, set-up, one op, and its checks.

Every workload drives the engine through its public API only. An op
returns an ``OpResult``: its units (the timed pieces inside the op), the
input rows it covered, and its correctness check. The check runs after
the op's clock stops and returns the problems it found (none when the op
is correct).
"""

from __future__ import annotations

import collections
import dataclasses
import hashlib
import json
import os
import random
import shutil
import time
from typing import Callable

from perfbench import inputs

FMT_DIM = ["jpeg", "png", "webp"]
# gate → the engine layer it exercises (each calls into that module); one
# gate per layer: all twelve gates that call into functions/kernels take
# ~55 s per cold pass on 4 cores, more than one run can spend
GATE_LAYERS = {
    "bpe_merge_apply": "functions.text",
    "pq_encode": "functions.similarity",
    "dedup_clusters": "functions.graph",
    "rec_analysis_flags": "kernels.recommender",
    "ts_band_flags": "kernels.timeseries",
}
TABLES = ("documents", "embeddings", "events")
TABLE_OF = {"functions.text": "documents", "functions.graph": "documents",
            "functions.similarity": "embeddings",
            "kernels.recommender": "events", "kernels.timeseries": "events"}

# row counts of the gates that have no DuckDB oracle, derived in SQL from
# each kernel's documented output shape
ROWS_ONLY_SQL = {
    # one row per user of the pivoted events matrix
    "rec_analysis_flags": "SELECT count(DISTINCT user_id) FROM events",
    # three model rows per (user, event_type) series with >= 8 of the last
    # 12 periods (period = event_id % 24) present
    "ts_band_flags": """
        WITH m AS (SELECT max(event_id % 24) AS ap FROM events),
        s AS (SELECT user_id, event_type,
                     count(DISTINCT event_id % 24) FILTER (
                         WHERE event_id % 24 > (SELECT ap FROM m) - 12) AS k
              FROM events GROUP BY 1, 2)
        SELECT 3 * count(*) FILTER (WHERE k >= 8) FROM s""",
}


@dataclasses.dataclass
class OpResult:
    rows: int
    units: list[tuple[str, float]]          # (unit name, wall seconds)
    check: Callable[[], list[str]]


def _violation_problems(counts: dict[str, int], expected: dict[str, int]) -> list[str]:
    return [f"{c}: {counts.get(c, 0)} violation rows, expected {n}"
            for c, n in sorted(expected.items()) if counts.get(c, 0) != n]


class Workload:
    name = ""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.work = os.path.join(root, ".perfbench", "work")
        self.cache = os.path.join(root, ".perfbench", "cache")

    def materialize(self) -> None:
        """Seeded inputs and expectations; no Spark, outside all timing."""

    def prepare(self, spark) -> None:
        """Set-up through the public API; timed into ``setup_s``."""

    def op(self, spark, tracer) -> OpResult:
        raise NotImplementedError

    def cold_op(self, spark, tracer) -> OpResult:
        """The first op of a session, which pays its first-use costs."""
        return self.op(spark, tracer)

    def finish(self, spark, tracer) -> OpResult | None:
        """An optional closing op (the resume pass)."""
        return None


class ResumableRun(Workload):
    """``CheckpointedRunner`` as ``scripts/run_validation.py`` drives it
    (decode on), plus drift baselines: bucket mode on ``image_id``, real
    parquet sinks, ledger and scorecard in a fresh directory per pass. Each
    unit runs the whole image suite, so this workload also carries the
    suite, check and decode layers. Verdict rows must be identical across
    the passes of a run. ``finish`` deletes half the ledger manifests of
    the last pass and resumes it."""

    name = "resumable_run"
    rows_n = 1_000
    n_buckets = 2

    def materialize(self) -> None:
        self.path, self.facts = inputs.image_table(self.cache, self.seed, self.rows_n)
        self.passes = 0
        self.outputs = self.reference = None
        self.last_out = self.last_outputs = None

    def prepare(self, spark) -> None:
        from anomalydetection_spark.plans.image_suite import drift_baseline_histograms

        self.images = spark.read.parquet(self.path)
        self.baselines = drift_baseline_histograms(self.images)

    def _runner(self, out_dir: str, n_buckets: int):
        from anomalydetection_spark.checkpoint import CheckpointedRunner
        from anomalydetection_spark.plans.image_suite import build_image_suite

        suite = build_image_suite(FMT_DIM, with_decode=True,
                                  drift_baselines=self.baselines)
        return CheckpointedRunner(suite, out_dir=out_dir, bucket_key="image_id",
                                  n_buckets=n_buckets)

    @staticmethod
    def _outputs(out_dir: str) -> tuple:
        """(verdict rows, violation rows, lineage row set) of a run's sinks,
        read with pyarrow, not the engine; lineage is compared as a set
        because a resume appends to it."""
        import pyarrow.dataset as ds

        def rows(sub, cols):
            t = ds.dataset(os.path.join(out_dir, sub), format="parquet",
                           partitioning="hive").to_table(columns=cols)
            return sorted(zip(*(t.column(c).to_pylist() for c in cols)), key=repr)

        return (
            rows("verdicts", ["table", "partition", "check", "column", "metric",
                              "value", "lo", "hi", "passed", "unit"]),
            rows("violations", ["unit", "image_id", "_check"]),
            sorted(set(rows("lineage", ["unit", "snapshot", "rows", "checks",
                                        "verdicts", "failed", "violation_rows"])),
                   key=repr),
        )

    def _pass(self, out: str, n_buckets: int) -> OpResult:
        """One uninterrupted pass into a fresh ``out``. Its check reads the
        sinks back into ``self.outputs`` and compares their violations with
        the planted counts."""
        shutil.rmtree(out, ignore_errors=True)
        report = self._runner(out, n_buckets).run(self.images, input_path=self.path)
        units = [(u.unit, u.elapsed_sec) for u in report.units if not u.skipped]
        problems = []
        if report.completed != n_buckets:
            problems.append(f"{report.completed} units completed, expected {n_buckets}")

        def check() -> list[str]:
            self.outputs = self._outputs(out)
            counts = collections.Counter(c for _unit, _iid, c in self.outputs[1])
            return problems + _violation_problems(counts, self.facts["expected_violations"])

        return OpResult(self.facts["rows"], units, check)

    def cold_op(self, spark, tracer) -> OpResult:
        """A single-unit pass: it takes every code path of a pass (suite,
        checks, decode, sinks, ledger, scorecard) at half a pass's cost."""
        return self._pass(os.path.join(self.work, "resumable_cold"), 1)

    def op(self, spark, tracer) -> OpResult:
        out = os.path.join(self.work, f"resumable_pass{self.passes % 2}")
        self.passes += 1
        res = self._pass(out, self.n_buckets)
        check_pass = res.check

        def check() -> list[str]:
            problems = check_pass()
            if self.reference is None:
                self.reference = self.outputs
            elif self.outputs[0] != self.reference[0]:
                problems.append("verdict rows differ from the run's first pass")
            self.last_out, self.last_outputs = out, self.outputs
            return problems

        return OpResult(res.rows, res.units, check)

    def finish(self, spark, tracer) -> OpResult | None:
        out, reference = self.last_out, self.last_outputs
        ledger = os.path.join(out, "_ledger")
        for k in range(0, self.n_buckets, 2):
            os.remove(os.path.join(ledger, f"bucket={k:04d}.json"))
        report = self._runner(out, self.n_buckets).run(self.images, input_path=self.path)
        units = [(u.unit, u.elapsed_sec) for u in report.units if not u.skipped]

        def check() -> list[str]:
            problems = []
            if report.completed + report.resumed != self.n_buckets:
                problems.append(f"completed {report.completed} + resumed "
                                f"{report.resumed} != {self.n_buckets} buckets")
            if report.resumed != self.n_buckets // 2:
                problems.append(f"{report.resumed} units resumed, "
                                f"expected {self.n_buckets // 2}")
            for name, got, want in zip(("verdict", "violation", "lineage"),
                                       self._outputs(out), reference):
                if got != want:
                    problems.append(f"{name} rows after resume differ from the "
                                    "uninterrupted pass")
            return problems

        return OpResult(self.facts["rows"], units, check)


class GateMix(Workload):
    """A list of oracle gates that call into ``functions`` and ``kernels``,
    one gate per layer, over the copy of the sf0.01 test tables in
    ``inputs.GATE_DATA``. The tables are fixed; the seed permutes the gate
    order. Each gate's value hash must equal the DuckDB oracle hash of the
    same SQL ``scripts/oracle_parity.py`` runs; rows-only gates check row
    count."""

    name = "gate_mix"

    def materialize(self) -> None:
        import __spark_entry__  # noqa: F401  (imported outside setup_s)

        self.dir = inputs.GATE_DATA
        self.gates = tuple(random.Random(self.seed).sample(list(GATE_LAYERS), len(GATE_LAYERS)))
        self.value_hash = _value_hash(self.root)
        sources = [os.path.join(self.dir, f"{t}.parquet") for t in TABLES] + [
            os.path.join(self.root, "__spark_entry__.py"),
            os.path.join(self.root, "scripts", "oracle_parity.py"), __file__]
        digest = hashlib.sha256()
        for path in sources:
            with open(path, "rb") as f:
                digest.update(f.read())
        cached = os.path.join(self.cache, f"gate_oracle_{digest.hexdigest()[:16]}.json")
        if not os.path.exists(cached):
            os.makedirs(self.cache, exist_ok=True)
            with open(cached + ".tmp", "w") as f:
                json.dump(self._oracle(), f)
            os.replace(cached + ".tmp", cached)
        with open(cached) as f:
            oracle = json.load(f)
        self.expected = oracle["expected"]
        self.rows = sum(oracle["sizes"][TABLE_OF[GATE_LAYERS[g]]] for g in self.gates)

    def _oracle(self) -> dict:
        """Table sizes and each gate's expected result, from DuckDB."""
        import duckdb

        import __spark_entry__ as E

        oracle = E.oracle_sql()
        con = duckdb.connect()
        sizes = {}
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            sizes[t] = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        expected = {}
        for g in GATE_LAYERS:
            if g in oracle:
                res = con.sql(oracle[g])
                expected[g] = ("hash", self.value_hash(list(res.columns), res.fetchall()))
            else:
                expected[g] = ("rows", con.sql(ROWS_ONLY_SQL[g]).fetchone()[0])
        con.close()
        return {"sizes": sizes, "expected": expected}

    def prepare(self, spark) -> None:
        import __spark_entry__ as E

        self.queries = E.queries()
        for t in TABLES:
            spark.read.parquet(f"{self.dir}/{t}.parquet").schema  # noqa: B018

    def op(self, spark, tracer) -> OpResult:
        # the gates do unlike work, so a percentile over them would only be
        # one gate's time: the whole pass is the op's one unit
        results = []
        t0 = time.perf_counter()
        for g in self.gates:
            with tracer.span(f"gate.{g}", layer=GATE_LAYERS[g]):
                df = self.queries[g](spark, self.dir)
                results.append((g, list(df.columns), [tuple(r) for r in df.collect()]))
        units = [("gates", time.perf_counter() - t0)]

        def check() -> list[str]:
            problems = []
            for g, cols, rows in results:
                kind, want = self.expected[g]
                got = self.value_hash(cols, rows) if kind == "hash" else len(rows)
                if got != want:
                    problems.append(f"{g}: {kind} {got} != oracle {want}")
            return problems

        return OpResult(self.rows, units, check)


def _value_hash(root: str):
    """``value_hash`` of ``scripts/oracle_parity.py``, the oracle's own."""
    import importlib.util

    path = os.path.join(root, "scripts", "oracle_parity.py")
    spec = importlib.util.spec_from_file_location("oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


WORKLOADS = {w.name: w for w in (ResumableRun, GateMix)}
