"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -s

The gate tests are pure Python and take milliseconds. The smoke tests run
every workload at a tiny scale through ``run.py`` (about a minute each) and
print every metric name with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gate  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _gold(n_clusters: int = 20, per: int = 3) -> dict[str, int]:
    return {f"c{c}s{s}": c for c in range(n_clusters) for s in range(per)}


def _perfect(gold: dict[str, int]) -> list[list[str]]:
    by = {}
    for clip, g in gold.items():
        by.setdefault(g, []).append(clip)
    return list(by.values())


def test_gate_accepts_the_gold_clustering():
    gold = _gold()
    assert gate.check_clustering(_perfect(gold), gold)["errors"] == []


def test_gate_fails_on_a_dropped_member():
    gold = _gold()
    clusters = _perfect(gold)
    dropped = clusters[0].pop()
    res = gate.check_clustering(clusters, gold)
    assert any("in no cluster" in e and dropped in e for e in res["errors"])


def test_gate_fails_on_a_duplicated_member():
    gold = _gold()
    clusters = _perfect(gold)
    clusters[1].append(clusters[0][0])
    res = gate.check_clustering(clusters, gold)
    assert any("more than one cluster" in e for e in res["errors"])


def test_gate_fails_below_the_f1_floor():
    gold = _gold()
    singletons = [[clip] for clip in gold]
    res = gate.check_clustering(singletons, gold)
    assert res["f1"] == 0.0
    assert res["errors"] and all("below the floor" in e for e in res["errors"])


def test_gate_fails_on_a_changed_partition_for_the_same_seed():
    gold = _gold()
    clusters = _perfect(gold)
    expected = gate.partition_hash(clusters)
    # same partition in another order: same hash
    shuffled = [list(reversed(c)) for c in reversed(clusters)]
    assert gate.check_clustering(shuffled, gold, expected)["errors"] == []
    # one clip moved to another cluster: F1 still passes, the hash does not
    clusters[1].append(clusters[0].pop())
    res = gate.check_clustering(clusters, gold, expected)
    assert res["f1"] >= gate.F1_FLOOR
    assert len(res["errors"]) == 1 and "partition hash" in res["errors"][0]


def test_pairwise_f1_matches_pairwise_quality():
    """The gate's Spark-less F1 is the engine's ``pairwise_quality``."""
    sys.path.insert(0, ROOT)
    from mapping_analysis_spark.operators.quality import (
        cluster_pairs,
        gold_pairs,
        pairwise_quality,
    )
    from mapping_analysis_spark.session import get_spark

    gold = _gold(12, 4)
    clusters = _perfect(gold)
    clusters[1].append(clusters[0].pop())  # a false link and a missed one
    clusters[2:4] = [clusters[2] + clusters[3]]  # false links across clusters
    clusters[4:5] = [clusters[4][:2], clusters[4][2:]]  # missed links
    # the engine's default heap and off-heap sizes do not fit a small host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ.setdefault("SPARK_OFFHEAP", "1g")
    spark = get_spark(
        "perfbench-test", cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    q = pairwise_quality(
        cluster_pairs(spark.createDataFrame([(c,) for c in clusters], "members array<string>")),
        gold_pairs(spark.createDataFrame(list(gold.items()), "clip_id string, gold_cluster long")),
    )
    spark.stop()
    f1 = gate.pairwise_f1(clusters, gold)
    assert f1 == 2.0 * q["tp"] / (q["n_test"] + q["n_gold"])
    assert round(f1, 4) == q["f1"] < 1.0


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload, trace):
    p = _run(
        ["--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.1"]
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        print(f"{workload} trace={trace} {m['name']} {got['value']:.6g} {got['unit']}")
    if not trace:
        for m in expected:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout (only BENCHMARK.json and the benchmark files) the
    benchmark must exit non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    p = _run(
        ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path),
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
