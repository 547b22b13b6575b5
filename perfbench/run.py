#!/usr/bin/env python3
"""Repository benchmark: entity resolution over seeded clip corpora, driven
through the public API (``pipeline.run_batch`` and
``streaming.engine.StreamingERJob``) on ``local[nproc]``.

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads are listed in ``workloads.py``
and explained in ``RATIONALE.md``. One run:

1. sizes Spark to the host and points every scratch path into
   ``.bench_build/perfbench`` under the repository root;
2. generates the seeded inputs in a child process (cached per workload,
   seed, scale and generator version; reported as ``gen_s``);
3. sets up: SparkSession, a cold pass over a small disjoint corpus of the
   same shape (batch) or the stream's initial clustering, and one untimed
   unit, so that measured units run warm (``setup_s``);
4. repeats the workload's unit of work — one batch pass, or one source
   addition to a copy of the initial clustering — until ``--seconds`` have
   passed (at least once), each after a full garbage collection, sampling
   RSS over each unit's timed region and gating every output after it
   (``gate.py``);
5. with ``--trace 1``, runs one more unit with span tracing and the Spark
   event log on, and reports per-layer numbers instead.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it are
a readable report. A run that cannot start prints no result and exits
non-zero.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import workloads  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
# generous: the generator back-dates ~5% of clips by up to an hour, and
# source-by-source files are not in event-time order across files
WATERMARK_DELAY_S = 7 * 24 * 3600


def log(msg: str) -> None:
    print(msg, flush=True)


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares; the result carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ---------------------------------------------------------------------------
# host sizing
# ---------------------------------------------------------------------------


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def size_host(scratch: str) -> dict:
    """Set the engine's env seams from the host, before pyspark starts."""
    nproc = len(os.sched_getaffinity(0))
    mem = _mem_total_gb()
    dirs = {k: os.path.join(scratch, k) for k in ("local", "mat", "tmp", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        # a fifth of the host for the heap, a sixteenth off-heap: the engine
        # defaults (64g + 32g) cannot start on a small host
        "SPARK_DRIVER_MEMORY": f"{int(min(6, max(1, mem // 5)))}g",
        "SPARK_OFFHEAP": f"{int(min(2, max(1, mem // 16)))}g",
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_TMP": dirs["mat"],
        "TMPDIR": dirs["tmp"],
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return {
        "nproc": nproc,
        "mem_total_gb": round(mem, 2),
        "master": f"local[{nproc}]",
        "scratch": os.path.relpath(scratch, ROOT),
        "scratch_fs": _fs_type(scratch),
        **{k: v for k, v in env.items() if k not in ("PYTHONPATH",)},
        "dirs": dirs,
    }


# ---------------------------------------------------------------------------
# peak RSS of the PySpark driver (this process and its JVM) and the Python
# workers
# ---------------------------------------------------------------------------


def _process_tree(root: int) -> set[int]:
    """``root`` and all its live descendants (zombies excluded)."""
    parent, state = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            state[int(d)], parent[int(d)] = fields[0], int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return {pid for pid in tree if state.get(pid, "Z") != "Z"}


class RssSampler(threading.Thread):
    """Peak of the summed RSS of the PySpark driver (this Python process
    and its JVM) and the Python workers, sampled from ``/proc`` while a
    ``window()`` is open. Other descendants of the JVM are left out: the
    JVM forks short-lived helpers (``jspawnhelper``, shell commands) whose
    RSS and argv, before they exec, are the JVM's own, and would count it
    twice."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.last_peak: dict | None = None
        self._peak: dict | None = None
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _sample(self) -> None:
        parts = {"driver": self._rss(os.getpid()), "jvm": self._rss(self.jvm_pid),
                 "workers": 0, "n_workers": 0}
        for pid in _process_tree(self.jvm_pid) - {self.jvm_pid}:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
            except OSError:
                continue
            # a worker runs python with pyspark.daemon / pyspark.worker as
            # arguments; a JVM fork before its exec has the JVM's argv
            if not (
                os.path.basename(argv[0]).startswith(b"python")
                and {b"pyspark.daemon", b"pyspark.worker"} & set(argv)
            ):
                continue
            parts["workers"] += self._rss(pid)
            parts["n_workers"] += 1
        parts["total"] = parts["driver"] + parts["jvm"] + parts["workers"]
        with self._lock:
            if self._peak is not None and parts["total"] > self._peak["total"]:
                self._peak = parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            if self._active.is_set():
                self._sample()
            self._stop_evt.wait(self.interval)

    @contextlib.contextmanager
    def window(self):
        """Sample while the body runs; the peak is left in ``last_peak``."""
        self.last_peak = None
        with self._lock:
            self._peak = {"total": 0}
        self._sample()
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()
            with self._lock:
                self.last_peak, self._peak = self._peak, None

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark() -> None:
    """Stop Spark, then end the JVM and wait until it and every other
    process this run started (the Python worker daemon and its workers)
    have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    children = _process_tree(os.getpid()) - {os.getpid()}
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in children) and time.time() < deadline:
        time.sleep(0.1)
    for p in children:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# expected partitions: committed for the seeds recorded from the unchanged
# engine, else the first passing run of the seed in this checkout
# ---------------------------------------------------------------------------

COMMITTED_HASHES = os.path.join(HERE, "partition_hashes.json")
LOCAL_HASHES = os.path.join(WORK_ROOT, "partition_hashes.json")


def _load_hashes(path: str) -> dict[str, str]:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def expected_hash(tag: str) -> str | None:
    return _load_hashes(COMMITTED_HASHES).get(tag) or _load_hashes(LOCAL_HASHES).get(tag)


def record_hash(tag: str, h: str) -> None:
    hashes = _load_hashes(LOCAL_HASHES)
    if tag in hashes:
        return
    hashes[tag] = h
    tmp = LOCAL_HASHES + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(hashes, f, indent=0, sort_keys=True)
    os.replace(tmp, LOCAL_HASHES)


# ---------------------------------------------------------------------------
# units of work; ``measured`` wraps exactly the timed region
# ---------------------------------------------------------------------------


def batch_pass(spark, in_dir: str) -> dict:
    """One ``run_batch`` over the corpus, timed until the representatives
    are on the driver."""
    from mapping_analysis_spark.pipeline import PipelineConfig, run_batch

    t0 = time.perf_counter()
    res = run_batch(spark.read.parquet(in_dir), PipelineConfig())
    reps = res["clusters"].collect()
    res["prepared"].unpersist()
    wall = time.perf_counter() - t0
    clusters = [list(r.members) for r in reps]
    return {
        "wall_s": wall,
        "latencies_s": [wall],
        "clips": sum(len(c) for c in clusters),
        "clusters": clusters,
    }


def stream_drain(spark, src_dir: str, work_dir: str, measured=contextlib.nullcontext) -> dict:
    """Run the streaming job until the file backlog is drained, one file
    per micro-batch; timed from query start until the drain ends."""
    from mapping_analysis_spark.pipeline import PipelineConfig
    from mapping_analysis_spark.streaming.engine import StreamingERConfig, StreamingERJob

    cfg = StreamingERConfig(
        source_dir=src_dir,
        work_dir=work_dir,
        watermark_delay_sec=WATERMARK_DELAY_S,
        max_files_per_trigger=1,
        pipeline=PipelineConfig(),
    )
    job = StreamingERJob(spark, cfg)
    with measured():
        t0 = time.perf_counter()
        q = job.start(available_now=True)
        finished = q.awaitTermination(170)
        wall = time.perf_counter() - t0
    if not finished:
        q.stop()
        raise RuntimeError("stream drain did not finish in 170 s")
    if q.exception() is not None:
        raise RuntimeError(f"stream query failed: {q.exception()}")
    return {"wall_s": wall, "job": job, "query_id": str(q.id), "work_dir": work_dir}


def _read_progress(path: str, query_id: str, expect: int, timeout: float = 15.0) -> list[dict]:
    """The query's progress events from the engine's ``progress.jsonl``;
    listener events arrive asynchronously, so wait for ``expect`` of them."""
    deadline = time.time() + timeout
    while True:
        out = []
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    if ev.get("event") == "progress" and ev.get("id") == query_id:
                        out.append(ev)
        if len(out) >= expect or time.time() > deadline:
            return sorted(out, key=lambda e: e["batchId"])
        time.sleep(0.1)


def stream_results(u: dict, batches: list[int], id_map: dict) -> list[str]:
    """Fill in a drain's latencies, clip count and membership from the
    engine's progress log and final state; return the stream checks'
    errors. The drain must commit exactly ``batches``; ``id_map`` maps
    engine ids to clip ids."""
    job = u.pop("job")
    progress = _read_progress(
        os.path.join(u["work_dir"], "progress.jsonl"), u["query_id"], len(batches)
    )
    u["progress"] = progress
    u["latencies_s"] = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    u["clips"] = sum(p["numInputRows"] for p in progress)
    errs = []
    members = [r.members for r in job.final_state().select("members").collect()]
    unknown = sum(1 for ms in members for m in ms if m not in id_map)
    if unknown:
        errs.append(f"{unknown} state members are not input clips")
    u["clusters"] = [[id_map.get(m, str(m)) for m in ms] for ms in members]
    committed = sorted(p["batchId"] for p in progress)
    if committed != batches:
        errs.append(f"drain committed batches {committed}, expected {batches}")
    every = list(range(batches[-1] + 1))
    out_batches = sorted(
        r.batch_id for r in job.output().select("batch_id").distinct().collect()
    )
    if out_batches != every:
        errs.append(f"output partitions {out_batches} != committed batches {every}")
    lineage = {
        r.batch_id: r.n_clusters_total
        for r in job.lineage().select("batch_id", "n_clusters_total").distinct().collect()
    }
    if sorted(lineage) != every or lineage[every[-1]] != len(members):
        errs.append(
            f"lineage totals {lineage} do not end at the final state's {len(members)} clusters"
        )
    return errs


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, host: dict, in_dir: str):
        self.args = args
        self.host = host
        self.in_dir = in_dir
        self.tag = os.path.basename(in_dir)
        self.spec = workloads.WORKLOADS[args.workload]
        self.gold = workloads.load_gold(in_dir)
        self.units: list[dict] = []
        self.spark = None
        self.id_map = None
        self.source = self.initial = None
        self._units = 0

    def start_spark(self):
        from mapping_analysis_spark.session import get_spark

        dirs = self.host["dirs"]
        # the heap starts at its full size: G1 otherwise grows it by its own
        # timing-driven ergonomics, and the JVM's RSS (half of peak_rss_mb)
        # then moves by ±30% from run to run
        heap = os.environ["SPARK_DRIVER_MEMORY"]
        conf = {
            "spark.local.dir": dirs["local"],
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
            ),
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + dirs["events"],
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark("perfbench", cpus=self.host["nproc"], extra_conf=conf)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def warm_up(self) -> None:
        """The untimed work of set-up. Batch: a cold pass over the small
        warm-up corpus, then one untimed unit. Stream: the initial
        clustering (sources 1-3, batch 0), after which the added sources'
        file joins the source directory, then one untimed unit. The first
        unit after a cold start is still slow (Python workers spawning, JIT
        compilation of the full-size paths: 13-25% above the units after
        it on a 4-core host), so only warm units are measured."""
        if self.spec["kind"] == "batch":
            batch_pass(self.spark, os.path.join(self.in_dir, "warmup"))
        else:
            mat = self.host["dirs"]["mat"]
            self.source = os.path.join(mat, "source")
            self.initial = os.path.join(mat, "initial")
            os.makedirs(self.source)
            self._stage("initial")
            stream_drain(self.spark, self.source, self.initial)
            self._stage("added")
        self.unit(contextlib.nullcontext)

    def _stage(self, part: str) -> None:
        src = os.path.join(self.in_dir, part)
        for f in os.listdir(src):
            # copy2 keeps the modification time that orders the backlog
            shutil.copy2(os.path.join(src, f), self.source)

    def unit(self, measured) -> dict:
        if self.spec["kind"] == "batch":
            with measured():
                return batch_pass(self.spark, os.path.join(self.in_dir, "input"))
        # every unit adds the sources to its own copy of the initial
        # clustering (state, sink, lineage and query checkpoint)
        self._units += 1
        work = os.path.join(self.host["dirs"]["mat"], f"unit-{self._units}")
        shutil.copytree(self.initial, work)
        os.remove(os.path.join(work, "progress.jsonl"))
        return stream_drain(self.spark, self.source, work, measured)

    def collect_garbage(self) -> None:
        """Start every unit from the same heap state: a full collection in
        the JVM and in this process, outside the timed region."""
        import gc

        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def load_id_map(self) -> None:
        if self.spec["kind"] != "stream":
            return
        from pyspark.sql import functions as F

        from mapping_analysis_spark.functions.text import stable_hash64

        rows = (
            self.spark.read.parquet(self.source)
            .select("clip_id", stable_hash64(F.col("clip_id")).alias("id"))
            .collect()
        )
        self.id_map = {r.id: r.clip_id for r in rows}

    def gated_unit(self, measured) -> dict:
        """One unit, timed inside ``measured``, then its gate outside it;
        failures are recorded, not raised."""
        try:
            self.collect_garbage()
            u = self.unit(measured)
            t0 = time.perf_counter()
            errors = []
            if self.spec["kind"] == "stream":
                errors = stream_results(u, [1], self.id_map)
            g = gate.check_clustering(u["clusters"], self.gold, expected_hash(self.tag))
            u["f1"] = g["f1"]
            u["errors"] = errors + g["errors"]
            u["gate_s"] = time.perf_counter() - t0
            if not u["errors"]:
                record_hash(self.tag, g["hash"])
        except Exception as e:  # noqa: BLE001 — a failed unit is a failed operation
            traceback.print_exc()
            u = {"wall_s": 0.0, "latencies_s": [], "errors": [f"{type(e).__name__}: {e}"]}
        self.units.append(u)
        return u


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplies the workload's gold-cluster count (smoke tests use a small one)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapping_analysis_spark")):
        print(
            f"error: {ROOT} holds no mapping_analysis_spark package; run the "
            "benchmark from a checkout of the repository",
            file=sys.stderr,
        )
        return 2

    scratch = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        return _run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, scratch: str) -> int:
    host = size_host(scratch)
    in_dir, gen_s = workloads.ensure_inputs(
        os.path.join(WORK_ROOT, "inputs"), args.workload, args.seed, args.scale
    )
    run = Run(args, host, in_dir)
    n_clips = len(run.gold)
    log(f"workload {args.workload} seed {args.seed} scale {args.scale:g}: "
        f"{n_clips} clips, {len(set(run.gold.values()))} gold clusters; gen_s {gen_s:.3f}")
    log("host " + json.dumps({k: v for k, v in host.items() if k != "dirs"}))

    rss = None
    try:
        t_setup = time.perf_counter()
        run.start_spark()
        session_s = time.perf_counter() - t_setup
        run.warm_up()
        setup_s = time.perf_counter() - t_setup
        run.load_id_map()
        log(f"setup_s {setup_s:.3f} (session {session_s:.3f} + warm-up)")

        rss = RssSampler(run.jvm_pid())
        rss.start()
        t_meas = time.perf_counter()
        while True:
            u = run.gated_unit(rss.window)
            u["rss"] = rss.last_peak
            log(f"unit {len(run.units)}: wall {u['wall_s']:.3f} s, "
                f"latencies {[round(x, 3) for x in u['latencies_s']]}, "
                f"f1 {u.get('f1', float('nan')):.4f}, gate {u.get('gate_s', 0.0):.3f} s, "
                f"errors {u['errors']}")
            if u["rss"]:
                log("  peak rss (MB) " + json.dumps(
                    {k: v if k == "n_workers" else round(v / 1024**2) for k, v in u["rss"].items()}
                ))
            if u["errors"] or time.perf_counter() - t_meas >= args.seconds:
                break
        if args.trace:
            per_layer = traced_unit(run)
    finally:
        if rss is not None:
            rss.stop()
        stop_spark()

    attempted = len(run.units)
    failed = sum(1 for u in run.units if u["errors"])
    ok = [u for u in run.units if not u["errors"]]
    for u in run.units:
        for e in u["errors"]:
            log(f"GATE FAIL: {e}")
    if args.trace:
        metrics = per_layer
    else:
        # no passing unit: report zeros, the result is marked incorrect
        lats = [x for u in ok for x in u["latencies_s"]] or [0.0]

        def med(values):
            values = list(values)
            return (statistics.median(values) if values else 0.0, len(values))

        measured = {
            "setup_s": (setup_s, 1),
            "clips_per_s": med(u["clips"] / u["wall_s"] for u in ok),
            "commit_latency_p50_s": (statistics.median(lats), len(lats)),
            "pairwise_f1": med(u["f1"] for u in ok),
            "peak_rss_mb": med(u["rss"]["total"] / 1024**2 for u in ok),
        }
        units = metric_units("end_to_end")
        log("metric                      value        unit      n")
        for name, (v, n) in measured.items():
            log(f"{name:<27} {v:<12.5g} {units[name]:<9} {n}")
        metrics = {k: (v, units[k]) for k, (v, _) in measured.items()}
    log(f"correct {failed == 0}, attempted {attempted}, failed {failed}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def traced_unit(run: Run) -> dict:
    """One more unit with the layer wrappers installed; returns the
    per-layer metrics as {name: (value, unit)}. The root span and the
    event-log window cover the same region as an untraced unit's
    ``wall_s``; the unit's gate runs after it."""
    import layertrace as tracing

    ok = [u for u in run.units if not u["errors"]]
    untraced = statistics.median(u["wall_s"] for u in ok) if ok else 0.0
    run_id = f"{run.args.workload}-s{run.args.seed}-{os.getpid()}"
    tr = tracing.Tracer(run_id)
    spark = run.spark
    gc = {}

    @contextlib.contextmanager
    def measured():
        gc0 = tracing.jvm_gc_ms(spark)
        with tr.span("unit", root=True):
            yield
        gc["s"] = (tracing.jvm_gc_ms(spark) - gc0) / 1000.0

    uninstall = tracing.install(tr)
    try:
        u = run.gated_unit(measured)
    finally:
        uninstall()
    tr.release()
    log(f"traced unit: wall {u['wall_s']:.3f} s, errors {u['errors']}")
    units = metric_units("per_layer")
    if u["errors"] or tr.root is None:
        return {k: (0.0, unit) for k, unit in units.items()}
    spark.stop()
    root = next(s for s in tr.spans if s["id"] == tr.root)
    events = tracing.parse_event_log(
        run.host["dirs"]["events"], tr.spans, root["start"], root["end"]
    )
    metrics, details = tracing.derive(tr, untraced, u.get("progress", []), events, gc["s"])
    trace_path = os.path.join(WORK_ROOT, "traces", f"{run_id}.json")
    tr.write(trace_path)
    log(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    log("span                                   n   total_s    self_s")
    for name, s in details["spans"].items():
        log(f"{name:<36} {s['n']:>3} {s['total_s']:>9.3f} {s['self_s']:>9.3f}")
    log("spark per layer " + json.dumps(
        {k: {kk: round(vv, 3) for kk, vv in v.items()} for k, v in details["spark_per_layer"].items()}
    ))
    log("report " + json.dumps(details["report"]))
    log("trace " + json.dumps({k: round(v, 3) for k, v in details["trace"].items()}))
    log("per-layer metric                   value")
    for k, unit in units.items():
        log(f"{k:<34} {metrics[k]:<14.6g} {unit}")
    return {k: (metrics[k], unit) for k, unit in units.items()}


if __name__ == "__main__":
    sys.exit(main())
