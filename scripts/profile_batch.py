"""Profile the batch ER pipeline's driver-side serial floor.

Runs the same job as scripts/bench_scaling.py at ONE parallelism level,
then pulls the Spark UI REST API (/api/v1) for per-job wall times. The
report splits elapsed time into:

  * job time  — sum of per-job durations (work the DAG scheduler ran)
  * gap time  — elapsed − (union of job intervals): pure driver think
                time (planning, py4j round-trips, Python in the loop)

and lists the slowest jobs with their descriptions, so the non-scaling
component (the serial floor that caps N→4N efficiency) is attributable
line-by-line.

Usage: SCALING_N_CLUSTERS=10000 python scripts/profile_batch.py 16
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_scaling import CORPUS, ensure_corpus, _isolate_shared_disk  # noqa: E402


def fetch(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    ensure_corpus()
    _isolate_shared_disk(cpus)
    os.environ.setdefault("SPARK_GRAFT_DEBUG_CC", "1")

    from pyspark.sql import functions as F

    from mapping_analysis_spark.pipeline import PipelineConfig, run_batch
    from mapping_analysis_spark.session import get_spark

    spark = get_spark(
        f"profile-{cpus}",
        cpus=cpus,
        shuffle_partitions=4 * cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = spark.sparkContext.uiWebUrl
    clips = spark.read.parquet(CORPUS).drop("gold_cluster")
    n_clips = clips.count()
    t0 = time.time()
    res = run_batch(clips, PipelineConfig(min_sim=0.7))
    agg = (
        res["clusters"]
        .select(
            F.xxhash64(F.col("cluster_id"), F.concat_ws(",", F.col("members"))).alias(
                "h"
            )
        )
        .agg(F.expr("bit_xor(h)").alias("s"), F.count("h").alias("n"))
        .collect()[0]
    )
    elapsed = time.time() - t0
    app = fetch(f"{ui}/api/v1/applications")[0]["id"]
    jobs = fetch(f"{ui}/api/v1/applications/{app}/jobs?status=succeeded")

    def ts(s: str) -> float:
        from datetime import datetime

        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    rows = []
    for j in jobs:
        st, en = ts(j["submissionTime"]), ts(j["completionTime"])
        rows.append((st, en, en - st, j["jobId"], (j.get("description") or j["name"])[:110]))
    rows.sort()
    # union of job intervals → busy time; elapsed − busy = driver gaps
    busy, cur_s, cur_e = 0.0, None, None
    for st, en, *_ in rows:
        if cur_e is None or st > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = st, en
        else:
            cur_e = max(cur_e, en)
    if cur_e is not None:
        busy += cur_e - cur_s

    print(f"\n==== profile local[{cpus}] n_clips={n_clips} "
          f"clusters={agg.n} hash={agg.s}")
    print(f"elapsed={elapsed:.1f}s  jobs={len(rows)}  "
          f"job-busy={busy:.1f}s  driver-gaps={elapsed - busy:.1f}s")
    print("\nslowest jobs:")
    for st, en, dur, jid, desc in sorted(rows, key=lambda r: -r[2])[:25]:
        print(f"  {dur:7.2f}s  job {jid:4d}  {desc}")

    stages = fetch(f"{ui}/api/v1/applications/{app}/stages?status=complete")
    print("\nslowest stages (wall / sum-task-run / sum-task-cpu / gc / tasks):")
    for s in sorted(
        stages, key=lambda s: -(ts(s["completionTime"]) - ts(s["firstTaskLaunchedTime"]))
    )[:15]:
        wall = ts(s["completionTime"]) - ts(s["firstTaskLaunchedTime"])
        print(
            f"  stage {s['stageId']:4d} wall={wall:7.1f}s run={s['executorRunTime']/1e3:8.1f}s "
            f"cpu={s['executorCpuTime']/1e9:8.1f}s gc={s['jvmGcTime']/1e3:6.1f}s "
            f"tasks={s['numCompleteTasks']:4d} "
            f"in={s['inputBytes']/1e9:6.2f}GB sh_r={s['shuffleReadBytes']/1e9:5.2f}GB "
            f"{(s.get('description') or s['name'])[:60]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
