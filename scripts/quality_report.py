"""F1 parity artifact: run the reference's incremental protocol
(IncrementalMusicClusteringTest.java:104-115 — 80% bootstrap, +10% vertex
addition, + new source, +10% vertex addition) on the synthetic clips corpus
and write QUALITY.md with pairwise P/R/F1 vs the generation-time gold,
next to the reference's published baselines.

Also runs the NC (person-record) incremental protocol
(integration/IncrementalNcClusteringTest.java:100-176: one source at a
time, Hungarian per-block assignment per step, no-duplicate-membership
asserted after every step, final quality printed) on a synthetic voter
corpus with name/surname typos and NC number-char corruption, and appends
the NC P/R/F1 section.

Usage: python scripts/quality_report.py [n_clusters] [seed] [--nc-only]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _nc_voter_corpus(spark, n_entities: int, seed: int):
    """Deterministic voter-style corpus: per entity a (name, surname,
    number); each entity appears in 2-5 of the 5 sources with per-source
    corruption — name char drop, surname adjacent swap, NC number-char
    corruption (digit→lookalike letter: the inverse of the
    SinglePropertySimilarity.java:82-119 repair map), casing noise."""
    import hashlib
    import random

    rng = random.Random(seed)
    digit_to_char = {"5": "s", "1": "l", "2": "z", "0": "o", "4": "q", "9": "g"}
    rows = []
    for e in range(n_entities):
        h = hashlib.md5(f"ent{e}:{seed}".encode()).hexdigest()
        name = "".join(c for c in h[:7] if not c.isdigit()) or "abcd"
        surname = "".join(c for c in h[7:15] if not c.isdigit()) or "efgh"
        number = str(100000 + int(h[16:22], 16) % 900000)
        srcs = rng.sample(range(5), rng.randint(2, 5))
        for s in srcs:
            nm, sn, no = name, surname, number
            if s == 1 and len(nm) > 3:
                nm = nm[:-1]  # char drop
            elif s == 2 and len(sn) > 3:
                sn = sn[:-2] + sn[-1] + sn[-2]  # tail adjacent swap
            elif s == 3:
                no = "".join(digit_to_char.get(c, c) for c in no[:3]) + no[3:]
            elif s == 4:
                nm = nm.upper()
            rows.append((e * 10 + s, nm, sn, no, f"geco{s + 1}", e))
    return spark.createDataFrame(
        rows, "rid long, name string, surname string, number string,"
        " source string, gold long"
    )


def nc_section(spark, n_entities: int = 1500, seed: int = 42) -> list[str]:
    """Run the NC incremental protocol and return QUALITY.md lines."""
    from mapping_analysis_spark.operators.nc import nc_hungarian_matches, nc_prepare
    from mapping_analysis_spark.operators.quality import (
        cluster_pairs,
        gold_pairs,
        pairwise_quality,
    )
    from mapping_analysis_spark.util import materialize

    t0 = time.time()
    corpus = _nc_voter_corpus(spark, n_entities, seed).persist()
    bits = {f"geco{i + 1}": 1 << i for i in range(5)}
    sources = [f"geco{i + 1}" for i in range(5)]

    def prep(df):
        return nc_prepare(df, id_col="rid", blocking_length=4, source_bits=bits)

    # clusters: (cluster_id, members, name, surname, number, source) —
    # representative fields from the founding record (the reference's
    # representatives merge properties; matching only needs one exemplar)
    first = corpus.filter(F.col("source") == sources[0])
    clusters = materialize(
        first.select(
            F.col("rid").alias("cluster_id"),
            F.array("rid").alias("members"),
            "name", "surname", "number", "source",
        )
    )
    steps = []
    for src_name in sources[1:]:
        bt = time.time()
        arrivals = corpus.filter(F.col("source") == src_name).drop("gold")
        state_rec = prep(
            clusters.select(
                F.col("cluster_id").alias("rid"),
                "name", "surname", "number", "source",
            )
        )
        arr_rec = prep(arrivals)
        # use_lsh=False: the reference's incremental NC protocol runs the
        # Hungarian per BLOCKING KEY, where every record lives in exactly
        # one block — that is what makes per-block optimal assignment also
        # globally ≤1-per-id (the invariant asserted below). The LSH
        # complement pairs records ACROSS blocks (an arrival could then be
        # matched in two blocks' matrices); it belongs to the candidate-
        # generation strategies, tested in tests/test_nc.py.
        matches = nc_hungarian_matches(
            state_rec, arr_rec, min_sim=0.7, use_lsh=False, seed=seed
        ).select(F.col("src").alias("cluster_id"), F.col("dst").alias("new_id"))
        grown = (
            clusters.join(matches, "cluster_id", "left")
            .withColumn(
                "members",
                F.when(
                    F.col("new_id").isNotNull(),
                    F.array_union(F.col("members"), F.array("new_id")),
                ).otherwise(F.col("members")),
            )
            .drop("new_id")
        )
        fresh = (
            arrivals.join(
                matches.select(F.col("new_id").alias("rid")), "rid", "left_anti"
            )
            .select(
                F.col("rid").alias("cluster_id"),
                F.array("rid").alias("members"),
                "name", "surname", "number", "source",
            )
        )
        clusters = materialize(grown.unionByName(fresh))
        # the reference's per-step invariant
        # (IncrementalNcClusteringTest.java:162): no id in two clusters
        tot = clusters.select(F.sum(F.size("members"))).first()[0]
        uniq = clusters.select(F.explode("members")).distinct().count()
        assert tot == uniq, f"duplicate membership after {src_name}"
        steps.append((src_name, arrivals.count(), clusters.count(),
                      round(time.time() - bt, 1)))

    membership = clusters.select(
        F.col("cluster_id"), F.explode("members").alias("id")
    ).select("id", F.col("cluster_id").alias("cluster"))
    q = pairwise_quality(
        cluster_pairs(membership.groupBy("cluster").agg(
            F.collect_list("id").alias("members")
        ).select(F.col("cluster").alias("cluster_id"), "members")),
        gold_pairs(corpus.select(F.col("rid").alias("id"), "gold"), "id", "gold"),
    )
    n_rec = corpus.count()
    lines = [
        "",
        "## NC incremental (Hungarian per block) quality",
        "",
        f"Voter-style corpus: {n_entities} gold entities / {n_rec} records,",
        "5 duplicate-free sources (geco1-5), per-source corruption: name",
        "char-drop, surname adjacent-swap, NC number-char corruption",
        "(digit→lookalike letter — the inverse of the repair map at",
        "SinglePropertySimilarity.java:82-119), casing noise. Protocol =",
        "IncrementalNcClusteringTest.java:100-176: sources added one at a",
        "time, per-block optimal Hungarian assignment per step",
        "(HungarianAlgorithmReduceFunction.java:27-181), the reference's",
        "no-duplicate-membership invariant ASSERTED after every step.",
        "",
        "| step | arrivals | clusters after | sec |",
        "|---|---|---|---|",
    ]
    for name, n_in, n_cl, sec in steps:
        lines.append(f"| +{name} | {n_in} | {n_cl} | {sec} |")
    lines += [
        "",
        "| metric | this engine | reference |",
        "|---|---|---|",
        f"| precision | **{q['precision']}** | printed, not committed (QualityUtils.printNcQuality) |",
        f"| recall | **{q['recall']}** | — |",
        f"| F1 | **{q['f1']}** | — |",
        f"| TP / test / gold pairs | {q['tp']} / {q['n_test']} / {q['n_gold']} | — |",
        "",
        "The reference prints NC quality but commits no baseline constants;",
        "its committed NC checks are the per-step no-duplicate-membership",
        "assertion (reproduced above) and structural counts (NcBaseTest).",
        f"\nNC wall time: {round(time.time() - t0, 1)}s.",
        "",
    ]
    print(json.dumps({"nc_f1": q["f1"], "nc_precision": q["precision"],
                      "nc_recall": q["recall"], "nc_steps": steps}))
    return lines


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_clusters = int(args[0]) if args else 500
    seed = int(args[1]) if len(args) > 1 else 42

    from mapping_analysis_spark.datagen.clips import clips_spark_df
    from mapping_analysis_spark.operators.clustering import (
        _cluster_state,
        cluster_rounds,
    )
    from mapping_analysis_spark.operators.incremental import (
        source_addition_clustering,
    )
    from mapping_analysis_spark.operators.quality import (
        cluster_pairs,
        gold_pairs,
        pairwise_quality,
    )
    from mapping_analysis_spark.pipeline import PipelineConfig, prepare
    from mapping_analysis_spark.session import get_spark
    from mapping_analysis_spark.util import materialize

    spark = get_spark("quality-report", cpus=os.cpu_count() or 8)
    t0 = time.time()
    clips = clips_spark_df(spark, n_clusters, seed=seed).persist()
    pcfg = PipelineConfig(min_sim=0.7)

    gold = prepare(clips, pcfg).select("id", "gold_cluster").persist()

    # splits (by gold entity, like the reference's id-list files):
    # 80% bootstrap / 10% add / hold back source "5" / last 10% add
    ent = F.col("gold_cluster") % 10
    not5 = F.col("source") != "5"
    batches = [
        ("initial 80% (sources 1-4)", clips.filter((ent < 8) & not5)),
        ("+10% vertex addition", clips.filter((ent == 8) & not5)),
        ("+source 5 (source addition)", clips.filter(F.col("source") == "5")),
        ("+last 10% vertex addition", clips.filter((ent == 9) & not5)),
    ]

    state = None
    steps = []
    for name, batch in batches:
        bt = time.time()
        arrivals = _cluster_state(prepare(batch.drop("gold_cluster"), pcfg), True)
        if state is None:
            state = materialize(cluster_rounds(arrivals, pcfg))
        elif "source addition" in name:
            state = materialize(
                source_addition_clustering(
                    state,
                    arrivals,
                    min_sim=pcfg.min_sim,
                    max_sources=pcfg.max_sources,
                    selection="max_both",
                )
            )
        else:
            state = materialize(
                cluster_rounds(state.unionByName(arrivals), pcfg)
            )
        steps.append((name, batch.count(), state.count(), round(time.time() - bt, 1)))

    q = pairwise_quality(cluster_pairs(state), gold_pairs(gold, "id", "gold_cluster"))
    total = round(time.time() - t0, 1)
    n_clips = clips.count()

    lines = [
        "# QUALITY — incremental protocol F1 vs gold",
        "",
        f"Corpus: {n_clusters} gold clusters / {n_clips} clips, 5 duplicate-free",
        f"sources, seeded transcript corruption + audio channel (seed {seed}).",
        "Protocol = the reference's incremental scenario",
        "(IncrementalMusicClusteringTest.java:104-115): 80% bootstrap →",
        "+10% VERTEX_ADDITION → +source 5 SOURCE_ADDITION (MAX_BOTH) →",
        "+10% VERTEX_ADDITION. Produced by `python scripts/quality_report.py`.",
        "",
        "| step | clips in | clusters after | sec |",
        "|---|---|---|---|",
    ]
    for name, n_in, n_cl, sec in steps:
        lines.append(f"| {name} | {n_in} | {n_cl} | {sec} |")
    lines += [
        "",
        "## Final pairwise quality",
        "",
        "| metric | this engine | reference baseline (MusicBrainz 20k) |",
        "|---|---|---|",
        f"| precision | **{q['precision']}** | 0.98905 (IncrementalMusicClusteringTest.java:111) |",
        f"| recall | **{q['recall']}** | 0.88394 |",
        f"| F1 | **{q['f1']}** | 0.93355 |",
        f"| TP / test / gold pairs | {q['tp']} / {q['n_test']} / {q['n_gold']} | 16,250 gold pairs |",
        "",
        "The corpora differ (synthetic clips vs MusicBrainz CSV), so the",
        "numbers are not directly comparable — the artifact documents that the",
        "incremental protocol meets the reference's quality regime (F1 ≥ 0.93)",
        "on a corpus with the same corruption character.",
        f"\nTotal wall time: {total}s on local[{os.cpu_count()}].",
        "",
    ]
    lines += nc_section(spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUALITY.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({"f1": q["f1"], "precision": q["precision"],
                      "recall": q["recall"], "steps": steps, "sec": total}))
    spark.stop()


def main_nc_only() -> None:
    """Append/refresh only the NC section of an existing QUALITY.md."""
    from mapping_analysis_spark.session import get_spark

    spark = get_spark("quality-report-nc", cpus=os.cpu_count() or 8)
    lines = nc_section(spark)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUALITY.md"
    )
    with open(out) as f:
        existing = f.read()
    head = existing.split("\n## NC incremental")[0].rstrip("\n")
    with open(out, "w") as f:
        f.write(head + "\n" + "\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    if "--nc-only" in sys.argv:
        main_nc_only()
    else:
        main()
