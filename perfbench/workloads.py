"""Seeded workload inputs for the benchmark.

Each workload's inputs are a pure function of (workload, seed, scale) and
of this generator's source: they are written once under a cache directory
keyed by all four and reused by later runs. The engine only ever sees the
input columns (``CLIPS_SCHEMA``); the gold cluster of every clip is written
to a separate ``gold.json`` that stays with the benchmark.

Run as a script to generate one workload in a child process, so the
generator's memory never counts towards the measured process:

    python3 perfbench/workloads.py --workload batch_skewed --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Workload shapes at scale 1.0. Sizes are bounded by the per-run time
# budget: on a 4-core host a stream micro-batch costs 10-15 s of mostly
# fixed work, so a measured stream unit is one micro-batch.
WORKLOADS = {
    "batch_skewed": {
        "kind": "batch",
        "clusters": 350,
        # long clips, up to 44.1 kHz: decode + MFCC is real work
        "dur_ms": (500, 5001),
        # c % 7 < 2 → 2/7 of the clusters share the "hot0" blocking key, a
        # block well above max_block_rows=256, so it goes through salting
        "skew_keys": 2,
        "files": 8,
        "warmup_clusters": 12,
    },
    "stream_source_addition": {
        "kind": "stream",
        "clusters": 120,
        # short clips: per-batch fixed cost dominates, MFCC is small
        "dur_ms": (200, 501),
        "skew_keys": 0,
        # the reference's source-addition protocol: set-up clusters
        # sources 1-3 (the initial clustering); each measured unit adds
        # sources 4 and 5 to that clustering as one micro-batch
        "initial_sources": ("1", "2", "3"),
        "added_sources": ("4", "5"),
    },
}


def generator_version() -> str:
    """Hash of every source file that shapes the generated inputs."""
    h = hashlib.sha256()
    for rel in (
        "perfbench/workloads.py",
        "mapping_analysis_spark/datagen/clips.py",
        "mapping_analysis_spark/schema.py",
    ):
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def scaled(n: int, scale: float) -> int:
    return max(4, int(round(n * scale)))


def input_tag(workload: str, seed: int, scale: float) -> str:
    """Names one set of inputs: the same tag means the same input files."""
    return f"{workload}-s{seed}-x{scale:g}-g{generator_version()}"


def input_dir(cache_root: str, workload: str, seed: int, scale: float) -> str:
    return os.path.join(cache_root, input_tag(workload, seed, scale))


def _arrow_schema():
    import pyarrow as pa

    from mapping_analysis_spark.schema import CLIPS_SCHEMA

    kinds = {
        "string": pa.string(),
        "binary": pa.binary(),
        "integer": pa.int32(),
        "long": pa.int64(),
        # Spark reads INT64 TIMESTAMP(MICROS); pandas would write nanos
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    return pa.schema(
        [
            pa.field(f.name, kinds[f.dataType.typeName()], f.nullable)
            for f in CLIPS_SCHEMA.fields
        ]
    )


def _write(pdf, path: str, row_group_rows: int = 128) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_schema()
    table = pa.Table.from_pandas(
        pdf[schema.names], schema=schema, preserve_index=False
    )
    # small row groups: parquet splits at row-group boundaries only, and a
    # long-clip row is ~150 KB
    pq.write_table(table, path, row_group_size=row_group_rows)


def _write_stream_file(pdf, path: str, sources, batch: int) -> None:
    """The clips of ``sources`` as one file; its modification time orders
    it in the file source's backlog."""
    os.makedirs(os.path.dirname(path))
    _write(pdf[pdf["source"].isin(sources)].sort_values(["event_time", "clip_id"]), path)
    os.utime(path, (1_700_000_000 + batch, 1_700_000_000 + batch))


def _batch_file(job) -> dict[str, int]:
    """Generate one input file of a batch corpus (a contiguous gold-cluster
    range); returns its clip → gold map."""
    from mapping_analysis_spark.datagen.clips import generate_clips_pdf

    path, seed, lo, hi, kw = job
    pdf = generate_clips_pdf(hi - lo, seed=seed, cluster_offset=lo, **kw)
    _write(pdf, path)
    return {r.clip_id: int(r.gold_cluster) for r in pdf.itertuples()}


def generate(workload: str, seed: int, scale: float, out: str) -> None:
    """Write the inputs (batch: ``input/`` and ``warmup/``; stream:
    ``initial/`` and ``added/``) and ``gold.json``; ``_DONE`` marks a
    complete cache entry."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    from mapping_analysis_spark.datagen.clips import generate_clips_pdf

    spec = WORKLOADS[workload]
    n = scaled(spec["clusters"], scale)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    kw = {"dur_range_ms": spec["dur_ms"], "skew_keys": spec["skew_keys"]}
    if spec["kind"] == "batch":
        os.makedirs(os.path.join(tmp, "input"))
        k = spec["files"]
        jobs = [
            (
                os.path.join(tmp, "input", f"part-{i:04d}.parquet"),
                seed,
                i * n // k,
                (i + 1) * n // k,
                kw,
            )
            for i in range(k)
        ]
        # clips are generated per gold cluster from (seed, cluster) alone,
        # so splitting the range across processes changes no clip
        workers = min(4, len(os.sched_getaffinity(0)))
        with ProcessPoolExecutor(
            max_workers=workers, mp_context=multiprocessing.get_context("spawn")
        ) as pool:
            clips = {}
            for part in pool.map(_batch_file, jobs):
                clips.update(part)
        # the warm-up corpus is disjoint from the measured one (other gold
        # cluster ids → other clip ids) but has the same shape
        warm = generate_clips_pdf(
            spec["warmup_clusters"], seed=seed, cluster_offset=10 * n + 1000, **kw
        )
        os.makedirs(os.path.join(tmp, "warmup"))
        _write(warm, os.path.join(tmp, "warmup", "part-0000.parquet"))
    else:
        main = generate_clips_pdf(n, seed=seed, **kw)
        for batch, part in enumerate(("initial", "added")):
            _write_stream_file(
                main,
                os.path.join(tmp, part, f"part-{batch:04d}.parquet"),
                spec[f"{part}_sources"],
                batch,
            )
        clips = {r.clip_id: int(r.gold_cluster) for r in main.itertuples()}
    with open(os.path.join(tmp, "gold.json"), "w") as f:
        json.dump({"clips": clips, "gold_clusters": n}, f)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure_inputs(cache_root: str, workload: str, seed: int, scale: float) -> tuple[str, float]:
    """Return (input dir, generation seconds — 0.0 on a cache hit).
    Generates in a child process."""
    import subprocess
    import time

    out = input_dir(cache_root, workload, seed, scale)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    os.makedirs(cache_root, exist_ok=True)
    t0 = time.perf_counter()
    subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--workload", workload,
            "--seed", str(seed),
            "--scale", str(scale),
            "--out", out,
        ],
        check=True,
        timeout=170,
        # spawned generator workers import the engine from the checkout
        env=dict(os.environ, PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )),
    )
    return out, time.perf_counter() - t0


def load_gold(in_dir: str) -> dict[str, int]:
    with open(os.path.join(in_dir, "gold.json")) as f:
        return json.load(f)["clips"]


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    generate(a.workload, a.seed, a.scale, a.out)
