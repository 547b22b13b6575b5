"""Correctness gate applied to every clustering the benchmark produces.

Pure Python over the collected membership (a list of clusters, each a list
of clip ids), so it is cheap, exact and testable without Spark. The
pairwise F1 is ``operators.quality.pairwise_quality``'s, counted here
without Spark: that operator costs seconds of Spark jobs per unit, which a
run's time budget cannot spare (``tests/test_perfbench.py`` checks that
both agree).
"""

from __future__ import annotations

import hashlib
from collections import Counter

# The reference's published incremental MAX_BOTH pairwise F1 (BASELINE.md:
# MusicBrainz 20k, source-addition, IncrementalMusicClusteringTest.java:581)
F1_FLOOR = 0.9336


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pairwise_f1(clusters: list[list[str]], gold: dict[str, int]) -> float:
    """F1 = 2·tp / (n_test + n_gold) of ``pairwise_quality``: test links
    are all member pairs of an output cluster, gold links all pairs of a
    gold cluster (QualityUtils semantics)."""
    n_test = sum(_pairs(len(c)) for c in clusters)
    n_gold = sum(_pairs(k) for k in Counter(gold.values()).values())
    tp = sum(_pairs(k) for c in clusters for k in Counter(gold[m] for m in c).values())
    return 2.0 * tp / (n_test + n_gold) if n_test + n_gold else 0.0


def partition_hash(clusters: list[list[str]]) -> str:
    """Order-insensitive hash of the membership partition."""
    canon = sorted("\x1f".join(sorted(c)) for c in clusters)
    return hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]


def check_clustering(
    clusters: list[list[str]],
    gold: dict[str, int],
    expected_hash: str | None = None,
) -> dict:
    """Gate one clustering. Returns ``{"errors": [...], "f1", "hash"}``; an
    empty ``errors`` list passes."""
    errors = []
    seen = Counter(m for c in clusters for m in c)
    dup = [m for m, k in seen.items() if k > 1]
    if dup:
        errors.append(f"{len(dup)} clips in more than one cluster, e.g. {dup[0]}")
    missing = [m for m in gold if m not in seen]
    if missing:
        errors.append(f"{len(missing)} input clips in no cluster, e.g. {missing[0]}")
    unknown = [m for m in seen if m not in gold]
    if unknown:
        errors.append(f"{len(unknown)} unknown clips in the output, e.g. {unknown[0]}")
    if any(not c for c in clusters):
        errors.append("empty cluster in the output")
    f1 = pairwise_f1([[m for m in c if m in gold] for c in clusters], gold)
    if f1 < F1_FLOOR:
        errors.append(f"pairwise F1 {f1:.4f} below the floor {F1_FLOOR}")
    h = partition_hash(clusters)
    if expected_hash is not None and h != expected_hash:
        errors.append(f"partition hash {h} differs from {expected_hash} for this seed")
    return {"errors": errors, "f1": f1, "hash": h}
