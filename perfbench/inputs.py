"""Seeded benchmark inputs, materialized once per (seed, size) into a cache.

Image tables come from ``anomalydetection_spark.synth``: its rows are a
pure function of the row index (its ``SEED`` constant is left alone), so a
benchmark seed selects a disjoint row-index window. The window start is a
multiple of ``synth.N_BUCKETS``, so the planted drift bucket keeps its
place. The expected violation counts per check are derived here from the
generator's own plant list, in plain Python, never by the engine.

The gate tables are not generated: ``GATE_DATA`` holds a copy of the
``documents``, ``embeddings`` and ``events`` tables of the repository's
sf0.01 test data, the input its DuckDB oracle parity check runs on.

Generation runs in the benchmark's own Python process with pyarrow; it
never touches Spark, so it stays out of every measured number.
"""

from __future__ import annotations

import collections
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

WINDOW = 1 << 22          # rows between two seeds' windows (multiple of 16)
N_FILES = 8               # parquet files per table: splits for local[N]
GATE_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

IMAGES_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])

# violation families the generator plants → the checks that must flag them
FAMILY_CHECKS = {
    "referential:fmt": ("referential:fmt", "in_set:fmt"),
    "not_null:caption": ("not_null:caption",),
}
# checks whose planted expectation is "no rows at all"
ZERO_CHECKS = ("rlike:image_id", "range:w", "range:h")


def _write_table(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def _publish(tmp: str, final: str) -> None:
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def image_table(cache: str, seed: int, n: int) -> tuple[str, dict]:
    """Materialize ``n`` synth rows, with payloads, of seed ``seed``'s window.

    Returns (parquet dir, facts); facts carry the row count and the
    expected violation rows per check name."""
    from anomalydetection_spark import synth

    final = os.path.join(cache, f"images_payload_s{seed}_n{n}")
    facts_path = os.path.join(final, "_facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            return final, json.load(f)
    start = seed * WINDOW
    cols = {f: [] for f in IMAGES_ARROW.names}
    planted = collections.Counter()
    corrupt = []
    for i in range(start, start + n):
        r = synth._row(i, True)
        for v in r.pop("_violations"):
            planted[v] += 1
            if v == "decode:bytes":
                corrupt.append(len(cols["image_id"]))
        for k, v in r.items():
            cols[k].append(v)
    expected = {c: 0 for c in ZERO_CHECKS}
    for fam, checks in FAMILY_CHECKS.items():
        for c in checks:
            expected[c] = planted[fam]
    # a planted duplicate id flags every row carrying that id in the window
    ids = collections.Counter(cols["image_id"])
    expected["unique:image_id"] = sum(k for k in ids.values() if k > 1)
    # DecodeCheck flags undecodable payloads and every caption that
    # differs from the caption its claimed id re-derives to: planted
    # null/empty captions and the rows of planted duplicate ids
    bad = set(corrupt)
    for j, (iid, cap) in enumerate(zip(cols["image_id"], cols["caption"])):
        if cap is None or cap != synth.reference_caption(int(iid.split("_")[-1])):
            bad.add(j)
    expected["decode:bytes"] = len(bad)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_table(pa.table(cols, schema=IMAGES_ARROW), tmp)
    facts = {"rows": n, "expected_violations": expected}
    with open(os.path.join(tmp, "_facts.json"), "w") as f:
        json.dump(facts, f)
    _publish(tmp, final)
    return final, facts
