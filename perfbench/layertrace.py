"""Span tracing around the engine's layer functions, from outside the engine.

``install(tracer)`` rebinds each traced public function where its callers
look it up at call time (module globals, or the class attribute for
``StreamingERJob.process_batch``) and returns an ``uninstall`` callable.
Each wrapper materializes its result (persist + count), so the lazy plan a
layer builds is charged to that layer's span and not to whichever later
action would have run it. Wrappers that receive a lazy plan built by their
caller materialize it first under a span named for the caller's layer.

Counters that need extra Spark jobs are taken after the layer span closes,
inside ``trace.count`` spans, so they show as tracing overhead and never as
layer time. Spans are kept in memory and written out once at the end.
"""

from __future__ import annotations

import glob
import inspect
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._persisted = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        """Record ``name`` from entry to exit. The parent is the innermost
        open span of this thread, else the root span (streaming batches run
        on the query's callback thread)."""
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else self.root,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        if root:
            rec["parent"] = None
            self.root = sid
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def materialize(self, df):
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": sorted(self.spans, key=lambda s: s["id"])},
                f,
            )


def _bound(real, args, kwargs):
    b = inspect.signature(real).bind(*args, **kwargs)
    b.apply_defaults()
    return b.arguments


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _chain_len(state_dir: str) -> int:
    """Committed deltas after the newest committed full snapshot."""
    entries = []
    for d in os.listdir(state_dir):
        if d[:2] in ("v=", "d=") and os.path.exists(
            os.path.join(state_dir, d, "_COMMITTED")
        ):
            entries.append((int(d[2:]), d[0]))
    fulls = [b for b, k in entries if k == "v"]
    last = max(fulls) if fulls else -1
    return sum(1 for b, k in entries if k == "d" and b > last)


def install(tr: Tracer):
    """Wrap every traced layer function; returns ``uninstall``."""
    from pyspark.sql import functions as F

    import mapping_analysis_spark.operators.blocking as blocking
    import mapping_analysis_spark.operators.clustering as clustering
    import mapping_analysis_spark.operators.graph as graph
    import mapping_analysis_spark.pipeline as pipeline
    import mapping_analysis_spark.streaming.engine as engine

    def wrap_prepare(real):
        def prepare(clips, *args, **kwargs):
            with tr.span("prepare"):
                out = tr.materialize(real(clips, *args, **kwargs))
            with tr.span("trace.count"):
                aggs = [F.count(F.lit(1))]
                if "fingerprint" in out.columns:
                    aggs.append(F.count("fingerprint"))
                row = out.agg(*aggs).first()
                tr.counts["prepare.rows"] += row[0]
                tr.counts["prepare.with_fingerprint"] += row[1] if len(row) > 1 else 0
                if "bytes" in clips.columns:
                    pcm = clips.agg(F.sum(F.length("bytes"))).first()[0]
                    tr.counts["prepare.pcm_bytes"] += pcm or 0
            return out

        return prepare

    def wrap_salted(real):
        def salted_block_pair_scores(*args, **kwargs):
            a = _bound(real, args, kwargs)
            with tr.span("blocking.salted_block_pair_scores"):
                out = tr.materialize(real(*args, **kwargs))
            with tr.span("trace.count"):
                key = a["key_col"]
                sizes = [
                    r[0]
                    for r in a["df"]
                    .filter(F.col(key).isNotNull())
                    .groupBy(key)
                    .count()
                    .select("count")
                    .collect()
                ]
                tr.counts["blocking.pairs_scored"] += sum(n * (n - 1) // 2 for n in sizes)
                tr.counts["blocking.pairs_kept"] += out.count()
                tr.counts["blocking.max_block_rows"] = max(
                    tr.counts["blocking.max_block_rows"], max(sizes, default=0)
                )
            return out

        return salted_block_pair_scores

    def wrap_lsh(real):
        def lsh_pairs(*args, **kwargs):
            with tr.span("blocking.lsh_pairs"):
                out = tr.materialize(real(*args, **kwargs))
            with tr.span("trace.count"):
                tr.counts["blocking.lsh_pairs"] += out.count()
            return out

        return lsh_pairs

    def wrap_cc(real):
        def connected_components(edges, *args, **kwargs):
            a = _bound(real, (edges,) + args, kwargs)
            # the edge list is the caller's lazy plan (candidate pairs →
            # link filter): charge it to the clustering layer
            with tr.span("clustering.link_filter"):
                edges = tr.materialize(edges)
            with tr.span("graph.connected_components"):
                out = tr.materialize(real(edges, *args, **kwargs))
            with tr.span("trace.count"):
                n_edges = edges.count()
                tr.counts["graph.edges"] += n_edges
                tr.counts["graph.components"] += (
                    out.select(a["cc_col"]).distinct().count()
                )
                limit = a["local_edges_threshold"]
                if limit is None:
                    limit = int(os.environ.get("SPARK_GRAFT_CC_LOCAL_EDGES", "4000000"))
                distributed = not (limit and n_edges <= limit)
                tr.counts["graph.distributed_calls"] += int(distributed)
                tr.counts["graph.calls"] += 1
            return out

        return connected_components

    def wrap_candidates(real):
        def candidate_components(*args, **kwargs):
            with tr.span("clustering.candidate_components"):
                return tr.materialize(real(*args, **kwargs))

        return candidate_components

    def wrap_merge(real):
        def merge_components(clusters, *args, **kwargs):
            with tr.span("clustering.component_split"):
                clusters = tr.materialize(clusters)
            with tr.span("clustering.merge_components"):
                out = tr.materialize(real(clusters, *args, **kwargs))
            with tr.span("trace.count"):
                tr.counts["clustering.multi_rows"] += clusters.count()
            return out

        return merge_components

    def wrap_rounds(real):
        def cluster_rounds(state, *args, **kwargs):
            # in the streaming engine this is the working set: state-chain
            # rebuild + touched-cluster lookup + arrivals
            with tr.span("clustering.input"):
                state = tr.materialize(state)
            with tr.span("clustering.cluster_rounds"):
                out = tr.materialize(real(state, *args, **kwargs))
            with tr.span("trace.count"):
                tr.counts["clustering.input_rows"] += state.count()
            return out

        return cluster_rounds

    def wrap_reps(real):
        def create_representatives(*args, **kwargs):
            with tr.span("representatives"):
                out = tr.materialize(real(*args, **kwargs))
            with tr.span("trace.count"):
                tr.counts["representatives.clusters"] += out.count()
            return out

        return create_representatives

    def wrap_run_batch(real):
        def run_batch(*args, **kwargs):
            with tr.span("engine.run_batch"):
                res = real(*args, **kwargs)
                res["clusters"] = tr.materialize(res["clusters"])
            return res

        return run_batch

    def wrap_process_batch(real):
        def process_batch(self, batch_df, batch_id):
            with tr.span("engine.process_batch"):
                real(self, batch_df, batch_id)
            with tr.span("trace.count"):
                _engine_counters(tr, self.cfg, batch_id)

        return process_batch

    targets = [
        (pipeline, "prepare", wrap_prepare),
        (engine, "prepare", wrap_prepare),
        (blocking, "salted_block_pair_scores", wrap_salted),
        (blocking, "lsh_pairs", wrap_lsh),
        (graph, "connected_components", wrap_cc),
        (clustering, "candidate_components", wrap_candidates),
        (clustering, "merge_components", wrap_merge),
        (clustering, "cluster_rounds", wrap_rounds),
        (pipeline, "create_representatives", wrap_reps),
        (pipeline, "run_batch", wrap_run_batch),
        (engine.StreamingERJob, "process_batch", wrap_process_batch),
    ]
    saved = []
    for owner, name, wrap in targets:
        real = owner.__dict__[name]
        saved.append((owner, name, real))
        setattr(owner, name, wrap(real))

    def uninstall() -> None:
        for owner, name, real in saved:
            setattr(owner, name, real)

    return uninstall


def _lineage_total(cfg, batch_id: int) -> int:
    """``n_clusters_total`` of a committed batch's lineage rows (0 before
    the first batch)."""
    import pyarrow.parquet as pq

    path = os.path.join(cfg.lineage_dir, f"batch_id={batch_id}")
    if not os.path.isdir(path):
        return 0
    table = pq.read_table(path, columns=["n_clusters_total"])
    return int(table.column(0)[0].as_py())


def _engine_counters(tr: Tracer, cfg, batch_id: int) -> None:
    """Per-batch state-store counters read from the engine's files: the
    sink partition (a copy of the batch's ``d=<b>/rows``, kept even when a
    compaction retires the delta), the lineage rows' ``n_clusters_total``,
    the ``d=<b>/removed`` tombstone footers and the state directory."""
    new_rows = _footer_rows(os.path.join(cfg.output_dir, f"batch_id={batch_id}"))
    removed_dir = os.path.join(cfg.state_dir, f"d={batch_id}", "removed")
    if os.path.isdir(removed_dir):
        touched = _footer_rows(removed_dir)
    else:
        # compaction folded the delta away: total = prev − removed + new
        touched = (
            _lineage_total(cfg, batch_id - 1) - _lineage_total(cfg, batch_id) + new_rows
        )
    tr.counts["engine.batches"] += 1
    tr.counts["engine.new_rows"] += new_rows
    tr.counts["engine.touched_rows"] += touched
    tr.counts["engine.compactions"] += int(
        os.path.isdir(os.path.join(cfg.state_dir, f"v={batch_id}"))
    )
    tr.counts["engine.delta_chain_len"] = max(
        tr.counts["engine.delta_chain_len"], _chain_len(cfg.state_dir)
    )
    tr.counts["engine.state_bytes"] = _dir_bytes(cfg.state_dir)


def jvm_gc_ms(spark) -> int:
    """Total collection time of the (single, local-mode) JVM's collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


# ---------------------------------------------------------------------------
# derived numbers
# ---------------------------------------------------------------------------


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        cover = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union_len(cover)
    return out


def _ancestors(span: dict, by_id: dict[int, dict]):
    p = span["parent"]
    while p is not None:
        yield by_id[p]
        p = by_id[p]["parent"]


def parse_event_log(event_dir: str, spans: list[dict], t0: float, t1: float) -> dict:
    """Spark runtime numbers for jobs submitted in [t0, t1], each job
    charged to the innermost span open at its submission time."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(event_dir, "*", "events_*")))
    job_time, stage_job, tasks = {}, {}, []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_time[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append((ev["Stage ID"], info, m))
    jobs = {j: t for j, t in job_time.items() if t0 <= t <= t1}

    def owner(t: float) -> str:
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]
            ):
                best = s
        return best["name"] if best else "unit"

    job_owner = {j: owner(t) for j, t in jobs.items()}
    per_layer = defaultdict(lambda: defaultdict(float))
    stage_times = defaultdict(list)
    out = defaultdict(float)
    for j, name in job_owner.items():
        per_layer[_layer(name)]["jobs"] += 1
    for stage, info, m in tasks:
        j = stage_job.get(stage)
        if j not in jobs:
            continue
        layer = _layer(job_owner[j])
        dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
        run = m.get("Executor Run Time", 0) / 1000.0
        overhead = (
            m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0)
        ) / 1000.0 + info.get("Getting Result Time", 0) / 1000.0
        delay = max(0.0, dur - run - overhead)
        shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        gc = m.get("JVM GC Time", 0) / 1000.0
        stage_times[stage].append(run)
        for key, val in (
            ("tasks", 1),
            ("shuffle_write_bytes", shuffle),
            ("scheduler_delay_s", delay),
            ("task_gc_s", gc),
        ):
            per_layer[layer][key] += val
            if layer != "trace":
                out[key] += val
    skews = {}
    for stage, runs in stage_times.items():
        med = statistics.median(runs)
        if len(runs) >= 4 and med > 0:
            skews[stage] = max(runs) / med
    out["jobs"] = sum(1 for n in job_owner.values() if _layer(n) != "trace")
    out["task_skew"] = max(skews.values(), default=1.0)
    return {"totals": dict(out), "per_layer": {k: dict(v) for k, v in per_layer.items()}}


def derive(
    tr: Tracer,
    untraced_median_s: float,
    progress: list[dict],
    events: dict,
    gc_s: float,
) -> tuple[dict, dict]:
    """Return (per-layer metrics, detail tables)."""
    spans = tr.spans
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    root = by_id[tr.root]
    wall = root["end"] - root["start"]

    def total(pred) -> float:
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    def named(name):
        return lambda s: s["name"] == name

    def is_engine(s):
        return _layer(s["name"]) == "engine"

    def under_engine(s):
        return any(is_engine(a) for a in _ancestors(s, by_id))

    c = tr.counts
    scored = c["blocking.pairs_scored"]
    trig = [
        (p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0))
        / 1000.0
        for p in progress
    ]
    ev = events["totals"]
    m = {
        "prepare.busy_s": total(named("prepare")),
        "blocking.busy_s": total(lambda s: _layer(s["name"]) == "blocking"),
        "blocking.pairs_scored": scored,
        "blocking.pair_yield": c["blocking.pairs_kept"] / scored if scored else 0.0,
        "graph.busy_s": total(named("graph.connected_components")),
        "graph.edges": c["graph.edges"],
        "clustering.candidates_s": total(named("clustering.candidate_components")),
        "clustering.merge_s": total(named("clustering.merge_components")),
        "clustering.multi_rows": c["clustering.multi_rows"],
        "engine.batch_s": total(is_engine),
        "engine.working_set_s": total(
            lambda s: s["name"] == "clustering.input" and under_engine(s)
        ),
        "engine.commit_self_s": sum(selfs[s["id"]] for s in spans if is_engine(s)),
        "engine.touched_rows": c["engine.touched_rows"],
        "engine.state_bytes": c["engine.state_bytes"],
        "spark.jobs": ev.get("jobs", 0),
        "spark.tasks": ev.get("tasks", 0),
        "shuffle.write_bytes": ev.get("shuffle_write_bytes", 0),
        "task.skew": ev.get("task_skew", 1.0),
        "task.scheduler_delay_s": ev.get("scheduler_delay_s", 0.0),
        "jvm.gc_s": gc_s,
        "trace.overhead_s": wall - untraced_median_s,
        "trace.unattributed_share": selfs[root["id"]] / wall if wall else 0.0,
    }
    by_name = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        agg = by_name[s["name"]]
        agg[0] += 1
        agg[1] += s["end"] - s["start"]
        agg[2] += selfs[s["id"]]
    details = {
        "spans": {k: {"n": v[0], "total_s": v[1], "self_s": v[2]} for k, v in sorted(by_name.items())},
        "report": {
            "representatives.busy_s": total(named("representatives")),
            "engine.trigger_overhead_s": sum(trig),
            "prepare.rows": c["prepare.rows"],
            "prepare.with_fingerprint": c["prepare.with_fingerprint"],
            "prepare.pcm_bytes": c["prepare.pcm_bytes"],
            "blocking.pairs_kept": c["blocking.pairs_kept"],
            "blocking.lsh_pairs": c["blocking.lsh_pairs"],
            "blocking.max_block_rows": c["blocking.max_block_rows"],
            "graph.components": c["graph.components"],
            "graph.path": (
                "distributed" if c["graph.distributed_calls"] else "local"
            ) if c["graph.calls"] else "none",
            "clustering.singleton_rows": c["clustering.input_rows"] - c["clustering.multi_rows"],
            "representatives.clusters": c["representatives.clusters"],
            "engine.batches": c["engine.batches"],
            "engine.delta_chain_len": c["engine.delta_chain_len"],
            "engine.new_rows": c["engine.new_rows"],
            "engine.compactions": c["engine.compactions"],
        },
        "spark_per_layer": events["per_layer"],
        "trace": {
            "traced_wall_s": wall,
            "untraced_median_s": untraced_median_s,
            "count_s": total(named("trace.count")),
        },
    }
    return m, details
