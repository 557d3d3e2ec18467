"""Tests of the event-log folder, over a log a tiny Spark job writes.

    python3 -m pytest perfbench/test_eventlog.py -q

The Spark test runs a plain two-core session with a small default heap,
not the engine's session factory, in a child interpreter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402


def test_job_union_and_skew_without_spark():
    f = eventlog.Folded([])
    f.job_time = {1: (10.0, 12.0), 2: (11.0, 13.0), 3: (20.0, 21.0), 4: (30.0, 31.0)}
    # overlapping jobs count once; the window clips
    assert f.job_union_s([1, 2, 3], 0.0, 100.0) == pytest.approx(4.0)
    assert f.job_union_s([1, 2, 3], 11.5, 20.5) == pytest.approx(2.0)
    assert f.job_union_s([4], 0.0, 25.0) == 0.0
    f.stage_job = {7: 1, 8: 1, 9: 2}
    f.stage_tasks = {7: [1.0, 1.0, 4.0], 8: [2.0, 2.0], 9: [1.0, 10.0]}
    assert f.task_skew([1]) == pytest.approx(4.0)
    assert f.task_skew([2]) == pytest.approx(10.0 / 5.5)
    assert f.task_skew([1, 2]) == pytest.approx(4.0)
    assert f.task_skew([]) == 1.0


# Runs in its own interpreter: a Spark session already open in the test
# process (another suite's fixture) would ignore the event-log settings.
SPARK_JOB = """
import json, sys, time
import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from perfbench.tracing import Tracer

log_dir, local_dir = sys.argv[1:3]
spark = (
    SparkSession.builder.master("local[2]").appName("eventlog-test")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", "file://" + log_dir)
    .config("spark.eventLog.compress", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", local_dir)
    .getOrCreate()
)
tracer = Tracer()

def double(batches):
    for pdf in batches:
        pdf["y"] = pdf["id"] * 2
        yield pdf

df = spark.range(0, 4000, 1, 4)
with tracer.span("outer"):
    with tracer.span("python"):
        counts = (df.mapInPandas(double, "id long, y long")
                  .groupBy((F.col("y") % 3).alias("k")).count().collect())
    time.sleep(0.3)  # driver-only time inside "outer"
with tracer.span("plain"):
    evens = df.filter("id % 2 = 0").count()
df.count()  # a job outside every span
spark.stop()
print(json.dumps({"rows": sum(r["count"] for r in counts), "evens": evens,
                  "spans": tracer.spans}))
"""


def test_fold_attributes_a_generated_event_log(tmp_path):
    pytest.importorskip("pyspark")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", SPARK_JOB, str(log_dir), str(tmp_path / "local")],
        env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == 4000 and out["evens"] == 2000
    spans = out["spans"]

    folded = eventlog.Folded(eventlog.read_events(eventlog.find_log(str(log_dir))))
    fold = eventlog.fold_spans(folded, spans)
    outer, python, plain = (fold[s["id"]] for s in spans)

    assert None in folded.job_span.values()  # the untagged job
    assert python["jobs"] >= 1 and plain["jobs"] >= 1
    assert outer["jobs"] == python["jobs"]  # a span includes its children
    assert python["tasks"] >= 4  # four input partitions at least
    assert python["executor_cpu_s"] > 0 and plain["executor_cpu_s"] > 0
    # the Python boundary: bytes both ways and worker time, one Python stage
    assert python["bytes_to_python"] > 0 and python["bytes_from_python"] > 0
    assert python["python_worker_s"] > 0
    assert python["python_stages"] == 1
    assert plain["bytes_to_python"] == 0 and plain["python_stages"] == 0
    # the group-by shuffles
    assert python["shuffle_write_bytes"] > 0 and python["shuffle_read_bytes"] > 0
    # driver time = wall minus the union of the subtree's jobs
    assert outer["driver_s"] >= 0.29
    assert outer["self_s"] >= 0.29
    for m in (outer, python, plain):
        assert 0.0 <= m["driver_s"] <= m["wall_s"] + 1e-6
