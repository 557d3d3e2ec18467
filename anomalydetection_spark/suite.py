"""ValidationSuite — plans and runs a set of checks with minimal scans.

Lifecycle (SURVEY.md §3.4): build checks → ONE fused aggregation job
computes every stats-class metric (optionally grouped by partition
columns for per-partition verdicts) → driver evaluates thresholds on the
tiny collected stats → shared post rounds (one agg per round) → ONE
histogram job per drift ``group_cols`` set → join/group-class checks run
their own O(1) jobs → verdicts (as driver-held rows AND an Arrow-built
DataFrame) and one lazy violations frame come back for the caller to
write to its sink tables. The violations frame reads every row-level
check in ONE scan; only join/cache-backed checks add a union branch.
Every job reads the input frame itself, uncached; Catalyst's column
pruning keeps ``bytes`` out of every job whose expressions do not use it.

The reference's equivalent is the reactive graph of eager data.frames and
shinyalert asserts (``/root/reference/PRIME_App/server.R:951-1092``); the
scan-count discipline here (SURVEY.md §4.2.1) is what makes the same
semantics viable at 10^12 rows.
"""

from __future__ import annotations

import operator
import time
from dataclasses import dataclass
from functools import reduce
from typing import Any, Sequence

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from anomalydetection_spark.checks.base import Check, VERDICT_SCHEMA
from anomalydetection_spark.checks.drift import DriftCheck, binned_counts


def local_frame(spark: SparkSession, rows: list[dict[str, Any]], schema: str) -> DataFrame:
    """DataFrame over driver-held ``rows`` (dicts keyed by field name),
    shipped to the JVM as Arrow record batches. A list of tuples would be
    pickled through a Python RDD, so every job over it — each sink write
    — would start Python workers to unpickle a few hundred rows."""
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, schema=struct)


@dataclass
class SuiteResult:
    verdicts: DataFrame      # one row per (partition, check, metric)
    violations: DataFrame | None  # offending rows, tagged with check name
    metrics: dict[str, Any]  # raw collected stats (global slice)
    elapsed_sec: float
    # the rows behind ``verdicts``, already on the driver: read these
    # instead of collecting ``verdicts`` back
    verdict_rows: list[dict[str, Any]]
    suite: "ValidationSuite | None" = None  # owner, for release()

    @property
    def passed(self) -> bool:
        return all(r["passed"] for r in self.verdict_rows)

    def release(self) -> None:
        """Free check-held persisted intermediates (the decode verdict
        cache) once ``violations`` has been written/collected. Required
        when the suite instance is throwaway (``run_image_validation``
        builds one per call) — otherwise the cache outlives the run."""
        if self.suite is not None:
            self.suite.release()


class ValidationSuite:
    def __init__(
        self,
        checks: Sequence[Check],
        table_name: str = "",
        partition_by: Sequence[str] = (),
    ):
        self.checks = list(checks)
        self.table_name = table_name
        self.partition_by = list(partition_by)

    # ------------------------------------------------------------------
    def _fused_stats(self, df: DataFrame) -> tuple[dict, list[tuple[str, dict]]]:
        """Run the single fused agg. Returns (global_stats, per_partition)."""
        exprs = []
        seen: set[str] = set()
        for c in self.checks:
            for e in c.stats_exprs():
                # dedupe identical aliases contributed by multiple checks
                # (str(Column) renders "Column<'expr AS alias'>" on both
                # classic and Connect backends)
                alias = str(e).rsplit(" AS ", 1)[-1].rstrip("'>`").lstrip("`")
                if alias not in seen:
                    seen.add(alias)
                    exprs.append(e)
        if not exprs:
            return {}, []
        if self.partition_by:
            # ONE scan for both the per-partition slices and the global
            # row: rollup computes every aggregate per group AND merged
            # across groups (all our aggregates — counts, moments,
            # percentile/HLL sketches — are merge-combinable, which is
            # exactly what rollup's partial-merge tree exploits).
            # grouping_id separates the grand-total row (all bits set)
            # from real groups (0) and, for multi-column partition_by,
            # skips the intermediate prefix levels.
            full = (1 << len(self.partition_by)) - 1
            rows = (
                df.rollup(*self.partition_by)
                .agg(*exprs, F.grouping_id(*self.partition_by).alias("__gid"))
                .collect()
            )
            g: dict = {}
            per_part = []
            for r in rows:
                d = r.asDict()
                gid = d.pop("__gid")
                if gid == full:
                    for p in self.partition_by:
                        d.pop(p)
                    g = d
                elif gid == 0:
                    key = "/".join(str(d.pop(p)) for p in self.partition_by)
                    per_part.append((key, d))
            per_part.sort(key=lambda kv: kv[0])
            return g, per_part
        g = df.agg(*exprs).first().asDict()
        return g, []

    def run(
        self,
        df: DataFrame,
        spark: SparkSession | None = None,
        with_violations: bool = True,
    ) -> SuiteResult:
        # every job below reads ``df``; Catalyst prunes each scan to its columns
        spark = spark or df.sparkSession
        t0 = time.time()
        for c in self.checks:
            c.reset()  # drop models/caches fitted by a previous run()
            # verdicts-only runs skip shared-pass caches (decode results):
            # nothing will re-read them, so building the cache is pure cost
            c.cache_intermediates = with_violations
        try:
            global_stats, per_part = self._fused_stats(df)

            verdict_rows: list[dict[str, Any]] = []
            for c in self.checks:
                for v in c.verdicts(global_stats):
                    v.update(table=self.table_name, partition="")
                    verdict_rows.append(v)
                for part_key, stats in per_part:
                    for v in c.verdicts(stats):
                        v.update(table=self.table_name, partition=part_key)
                        verdict_rows.append(v)

            # fused post rounds: ONE agg per round shared by all checks
            # (robust-z MAD → violation counts, Mahalanobis flag counts, …)
            max_rounds = max((c.n_post_rounds for c in self.checks), default=0)
            for rnd in range(max_rounds):
                exprs = []
                for c in self.checks:
                    if c.n_post_rounds > rnd:
                        exprs.extend(c.post_exprs(rnd))
                if not exprs:
                    continue
                post_stats = df.agg(*exprs).first().asDict()
                for c in self.checks:
                    if c.n_post_rounds > rnd:
                        for v in c.post_verdicts(rnd, post_stats):
                            v.update(table=self.table_name, partition="")
                            verdict_rows.append(v)

            drift = self._drift_verdicts(df)
            for c in self.checks:
                if id(c) in drift:
                    extra = drift[id(c)]
                else:
                    extra = c.run_extra(df, global_stats)
                for v in extra:
                    v.update(table=self.table_name, partition="")
                    verdict_rows.append(v)

            return SuiteResult(
                verdicts=local_frame(spark, verdict_rows, VERDICT_SCHEMA),
                violations=self._violations(df) if with_violations else None,
                metrics=global_stats,
                elapsed_sec=time.time() - t0,
                verdict_rows=verdict_rows,
                suite=self,
            )
        finally:
            if not with_violations:
                # nothing downstream will re-read check-held intermediates
                # (decode-result caches etc.) — free them now; otherwise
                # they stay persisted so the returned lazy violations
                # frame shares the run's single decode pass (call
                # ``release()`` after consuming it).
                self.release()

    def _drift_verdicts(self, df: DataFrame) -> dict[int, list[dict[str, Any]]]:
        """Verdicts of every DriftCheck, keyed by ``id(check)``: ONE
        ``binned_counts`` job per distinct ``group_cols`` set over the raw
        frame, instead of one histogram job per check."""
        groups: dict[tuple[str, ...], list[DriftCheck]] = {}
        for c in self.checks:
            if isinstance(c, DriftCheck):
                groups.setdefault(tuple(c.group_cols), []).append(c)
        out: dict[int, list[dict[str, Any]]] = {}
        for group_cols, checks in groups.items():
            counts = binned_counts(df, [c.spec() for c in checks], group_cols)
            for c, by_group in zip(checks, counts):
                out[id(c)] = c.drift_verdicts(by_group)
        return out

    def _violations(self, df: DataFrame) -> DataFrame | None:
        """Every check's violation rows as one lazy frame.

        Checks with a ``row_violation`` share ONE scan:
        ``df.filter(c1 | c2 | …)`` then ``inline`` of the concatenation
        of, per check, ``[struct(cols_i…, name_i AS _check)]`` where
        ``c_i`` holds and ``[]`` elsewhere — so a row that breaks k checks
        still yields k rows. (Empty arrays rather than NULL elements
        filtered out: ``inline`` over an array that may hold NULLs makes
        every output column nullable, which would change the sink's
        parquet schema.) The conditions are not wrapped in
        ``coalesce``: ``NULL OR TRUE`` is TRUE, so the row set is
        unchanged and an OR of pushable atoms still reaches the scan.
        The other checks (uniqueness semi-join, DataFrame-dimension
        anti-join, the cached decode frame) keep their own union branch.
        Columns come out in the order, and with the types, of chaining
        each check's own ``violations()`` with
        ``unionByName(allowMissingColumns=True)``."""
        rowwise: list[tuple[Column, dict[str, Column]]] = []
        branches: list[DataFrame] = []
        order: list[str] = []  # first-appearance order over the checks
        for c in self.checks:
            rv = c.row_violation(df)
            if rv is not None:
                cond, cols = rv
                named = c.tagged(cols)
                rowwise.append((cond, named))
                names = list(named)
            else:
                v = c.violations(df)
                if v is None:
                    continue
                branches.append(v)
                names = v.columns
            order.extend(n for n in names if n not in order)
        out = None
        if rowwise:
            fields = [n for n in order if any(n in cols for _, cols in rowwise)]
            tagged = F.flatten(F.array(*[
                F.when(cond, F.array(F.struct(*[cols.get(n, F.lit(None)).alias(n)
                                                for n in fields])))
                .otherwise(F.array())
                for cond, cols in rowwise
            ]))
            out = df.filter(reduce(operator.or_, [cond for cond, _ in rowwise])).select(
                F.inline(tagged)
            )
        for b in branches:
            out = b if out is None else out.unionByName(b, allowMissingColumns=True)
        if out is not None and out.columns != order:
            out = out.select(*[F.col(f"`{n}`") for n in order])
        return out

    def release(self) -> None:
        """Free persisted intermediates held by checks (e.g. the decode
        verdict cache). Call after the returned violation frames have
        been written/collected; the next ``run()`` also frees them via
        ``reset()``."""
        for c in self.checks:
            c.release()


def quarantine_split(
    df: DataFrame, violations: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Partition ``df`` into (clean, quarantined) by the violation keys —
    the standard downstream move after a run: train on ``clean``, route
    ``quarantined`` to triage. A row violating several checks appears in
    ``violations`` once per check, so keys are deduped first; both sides
    are key-only joins (semi/anti), so the violation frame's payload
    never joins wide, and a small violation set broadcasts."""
    vk = violations.select(*keys).distinct()
    return (
        df.join(vk, list(keys), "left_anti"),
        df.join(vk, list(keys), "left_semi"),
    )
