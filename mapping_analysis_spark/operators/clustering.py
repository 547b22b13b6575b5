"""Decompose-then-merge clustering — the engine's distributed clustering core.

Re-creates the reference's agglomerative clustering semantics (the delta-
iteration merge, merge/MergeExecution.java:139-297, and the incremental
MAX_BOTH path, clusterstrategies/SourceAdditionClustering.java:62-191) as
two fully distributed stages:

  decomposition: candidate pairs between current clusters (blocked,
         salted, ∪ LSH; source-overlap + max-source restrictions
         — CheckRestrictionsFilterFunction.java:27-50)
       → pair similarity (trigram cosine + optional MFCC cosine, mean-agg)
       → threshold ≥ min_sim
       → best-link filter (BasicLinkFilterFunction.java:46-79)
       → connected components = merge groups
  merge: per group, the exact local greedy fixpoint — merge the max-sim
         pair: min id survives, union members, OR source masks, keep the
         longer label, member-weighted mean fingerprint
         (DualMergeMusicMapper.java:22-129) — until no pair survives.

Every stage is a constant number of shuffles — no driver rounds and no
per-key Python fixpoint over an unbounded group, so a hot blocking key
never serializes onto one core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import (
    cosine_trigram_from_sets,
    mean_agg_sim,
    trigram_set,
)
from ..functions.text import music_blocking_label
from ..pipeline import BLOCKING_LENGTH, PipelineConfig
from ..util import materialize, parallel_grouped

# salting threshold: blocks above this many rows are split into salt cells,
# bounding any pair-scoring task at ~MAX_BLOCK_ROWS² work
MAX_BLOCK_ROWS = 256
# guardrail: candidate components larger than this fall back to
# (component × prefix-blocking-key) sub-grouping — a chain of borderline
# candidate edges (e.g. spuriously-similar fingerprints) must never
# produce an unbounded quadratic merge group
MAX_COMPONENT_ROWS = 512
# LSH candidate union: catches pairs whose prefix blocking keys diverged
# (typo in the first chars, dropped first token — the recall gap of pure
# prefix blocking; the reference offers LSH_BLOCKING as an alternative
# strategy, we run it as a complement). 12 bands × 4 rows puts the banding
# s-curve midpoint at (1/12)^(1/4) ≈ 0.54 Jaccard — generous recall for
# true pairs whose blocking prefix diverged (a dropped first token leaves
# J ≈ 0.6-0.8); the extra low-J candidates are cheap because pair scoring
# is a single narrow materialized pass. The streaming engine's band-key
# state index uses the same banding.
LSH_BANDS = 12
LSH_ROWS_PER_BAND = 4
LSH_SEED = 42


def _cluster_state(prepared: DataFrame, use_audio: bool) -> DataFrame:
    """Singleton cluster per record: (id, members, sources_mask, label,
    blocking_key, trigram_set[, fingerprint, n_members])."""
    cols = [
        F.col("id"),
        F.array(F.col("id")).alias("members"),
        F.col("source_bit").alias("sources_mask"),
        F.col("transcript_norm").alias("label"),
        F.col("blocking_key"),
        F.col("trigram_set"),
        F.lit(1).alias("n_members"),
    ]
    if use_audio and "fingerprint" in prepared.columns:
        cols.append(F.col("fingerprint"))
    return prepared.select(*cols)


def _round_pairs(
    clusters: DataFrame, cfg: PipelineConfig, lsh_pair_ids: DataFrame
) -> DataFrame:
    """Candidate pairs between current clusters with restrictions.
    ``lsh_pair_ids`` (src, dst) are unioned in, then the pair set is
    deduplicated.

    Scale shape (each step measured on a 35k-clip / 13.9M-candidate run):

    1. Only (id, sources_mask) ride the salted self-join; the mask
       restriction prunes pairs inside the join.
    2. The similarity arrays (xxhash64-hashed trigram sets — long
       intersects, no per-probe UTF8 hashing — and fingerprints) are
       equi-joined onto the pair ids and consumed IN the same stage; the
       wide rows are never shuffled.
    3. Scores are written to a NARROW (src, dst, sims) parquet before the
       threshold filter: Spark's higher-order array functions are not
       codegen'd and every downstream reference re-evaluates them, so
       without the materialize boundary the sims were computed ~3× per
       candidate (this was the single hottest spot of the whole pipeline).
    4. Payloads are joined back only for the ~1% surviving pairs.
    """
    payload = ["members", "sources_mask", "label", "trigram_set", "n_members"]
    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    if use_audio:
        payload.append("fingerprint")
    # Blocked pairs are enumerated, mask-restricted, AND scored inside one
    # block-local grouped-map pass (salted_block_pair_scores): each
    # record's hashed trigram array travels once per salt cell — never
    # per pair. The previous shape (id-only pair materialize, then two
    # equi-joins attaching the arrays per pair) was only cheap while the
    # sim side auto-broadcast; past the 64 MB broadcast threshold (~150k
    # records) it silently became two sort-merge joins shuffling the array
    # payload once per PAIR (~50 GB at 300k clips / 120M candidates — the
    # dominant non-scaling term in the N-vs-4N bench).
    hashed_cols = [
        "id",
        "blocking_key",
        "sources_mask",
        F.array_sort(
            F.transform(F.col("trigram_set"), lambda t: F.xxhash64(t))
        ).alias("_tg"),
    ]
    if use_audio:
        hashed_cols.append("fingerprint")
    hashed = clusters.select(*hashed_cols)
    # One block-local pass scores BOTH channels (round 5): the trigram
    # cosine is the cheap channel and bounds the reachable agg_sim — with
    # mean aggregation over two channels, a pair needs sim_text ≥
    # 2·min_sim − 1 to pass the threshold even at a perfect audio sim of
    # 1.0, so the audio dot runs only on pairs that clear the bound — and
    # it runs INSIDE the same grouped-map kernel over a ≤ 53 KB per-group
    # fingerprint matrix (fp_col), so no per-pair float arrays are ever
    # materialized or joined (the former two hash joins + interpreted JVM
    # fold were one of the non-scaling DRAM-bound stages in the N-vs-4N
    # bench). The 1e-6 slack keeps the 6dp HALF_UP rounding boundary on
    # the kept side, so the survivor set is provably identical to scoring
    # both channels on every pair.
    from .blocking import fp_pair_cosine, salted_block_pair_scores

    text_bound = (2.0 * cfg.min_sim - 1.0 if use_audio else cfg.min_sim) - 1e-6
    blocked_scored = salted_block_pair_scores(
        hashed,
        key_col="blocking_key",
        id_col="id",
        tokens_col="_tg",
        mask_col="sources_mask",
        max_block_rows=MAX_BLOCK_ROWS,
        max_sources=cfg.max_sources,
        emit_min=text_bound,
        fp_col="fingerprint" if use_audio else None,
    )
    if use_audio:
        # grouped-map float columns carry NaN for 'no vote' (Arrow has no
        # null-in-float64-from-numpy); normalize to proper nulls so
        # mean_agg_sim's absent-channel semantics apply and the union
        # below dedupes on identical rows
        blocked_scored = blocked_scored.withColumn(
            "sim_audio",
            F.when(F.isnan("sim_audio"), F.lit(None)).otherwise(
                F.col("sim_audio")
            ),
        )
    # LSH extras are few (≈ one per banded record); join the arrays
    # back by id for them only, then dedupe on the NARROW rows (a pair
    # can surface both blocked and via LSH; sims are BIT-identical —
    # the text twin is pinned by test, the audio twin delegates to the
    # same fp_cosine_grid kernel — so dropDuplicates is deterministic).
    side_cols = ["id", "_tg"] + (["fingerprint"] if use_audio else [])
    tg_side = hashed.select(*side_cols)
    lsh_scored = (
        lsh_pair_ids.select("src", "dst")
        .join(
            tg_side.select(
                F.col("id").alias("src"),
                F.col("_tg").alias("_stg"),
                *([F.col("fingerprint").alias("_sfp")] if use_audio else []),
            ),
            "src",
        )
        .join(
            tg_side.select(
                F.col("id").alias("dst"),
                F.col("_tg").alias("_dtg"),
                *([F.col("fingerprint").alias("_dfp")] if use_audio else []),
            ),
            "dst",
        )
        .select(
            "src",
            "dst",
            cosine_trigram_from_sets(F.col("_stg"), F.col("_dtg")).alias(
                "sim_text"
            ),
            *(
                [fp_pair_cosine(F.col("_sfp"), F.col("_dfp")).alias("sim_audio")]
                if use_audio
                else []
            ),
        )
    )
    if use_audio:
        lsh_scored = lsh_scored.withColumn(
            "sim_audio",
            F.when(F.isnan("sim_audio"), F.lit(None)).otherwise(
                F.col("sim_audio")
            ),
        )
    blocked_scored = blocked_scored.unionByName(lsh_scored).dropDuplicates(
        ["src", "dst"]
    )
    narrow = materialize(blocked_scored)
    if use_audio:
        # LSH extras skipped the emit_min bound — apply it here (blocked
        # rows already cleared it; null sim_text = no-vote passes through)
        scored_full = narrow.filter(
            F.col("sim_text").isNull() | (F.col("sim_text") >= text_bound)
        )
    else:
        scored_full = narrow
    sim_cols = [F.col("sim_text")] + ([F.col("sim_audio")] if use_audio else [])
    survivors = scored_full.withColumn(
        "agg_sim", mean_agg_sim(*sim_cols, scale=6)
    ).filter(F.col("agg_sim") >= cfg.min_sim)
    side = clusters.select("id", "blocking_key", *[F.col(c) for c in payload])
    return (
        survivors.join(
            side.select(
                F.col("id").alias("src"),
                F.col("blocking_key"),
                *[F.col(c).alias(f"src_{c}") for c in payload],
            ),
            "src",
        )
        .join(
            side.select(
                F.col("id").alias("dst"),
                *[F.col(c).alias(f"dst_{c}") for c in payload],
            ),
            "dst",
        )
        # LSH extras skipped the in-join mask restriction — re-check on the
        # (tiny) surviving set (CheckRestrictionsFilterFunction.java:27-50)
        .filter(
            (F.col("src_sources_mask").bitwiseAND(F.col("dst_sources_mask")) == 0)
            & (
                F.bit_count(F.col("src_sources_mask"))
                + F.bit_count(F.col("dst_sources_mask"))
                <= cfg.max_sources
            )
        )
    )


def candidate_components(state: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Decomposition pass (the reference's DefaultPreprocessing →
    ConnectedComponentIdAdder chain, preprocessing/DefaultPreprocessing
    .java:39-60): candidate pairs = blocked pairs ∪ LSH pairs, sim ≥
    threshold, then connected components over them. Returns (id, cc).

    Components become the merge grouping — every record reachable through
    above-threshold candidates is clusterable with its peers even when
    their prefix blocking keys diverged (the recall limit of pure prefix
    blocking)."""
    from .blocking import lsh_pairs

    lsh = lsh_pairs(
        state,
        trigram_col="trigram_set",
        id_col="id",
        bands=LSH_BANDS,
        rows_per_band=LSH_ROWS_PER_BAND,
        seed=LSH_SEED,
    )
    pairs = _round_pairs(state, cfg, lsh)
    # BasicLinkFilter (BasicLinkFilterFunction.java:46-79): an edge
    # survives only if it is the max-sim link of its src towards dst's
    # source set AND of its dst towards src's source set; ties by
    # (src asc, dst asc). Keeps every true-duplicate link (a record's
    # best match per source IS its duplicate) while cutting the
    # borderline cross-cluster edges that chain components together.
    # Without it, hot artists chain thousands of above-threshold
    # borderline pairs into one giant component (measured: 16k rows of a
    # 35k corpus in ONE cc) whose CC convergence and merge grouping
    # serialize; with it, components are bounded near the true cluster
    # size.
    order = [F.desc("agg_sim"), F.asc("src"), F.asc("dst")]
    w_src = Window.partitionBy("src", "dst_sources_mask").orderBy(*order)
    w_dst = Window.partitionBy("dst", "src_sources_mask").orderBy(*order)
    pairs = (
        pairs.withColumn("_r1", F.row_number().over(w_src))
        .withColumn("_r2", F.row_number().over(w_dst))
        .filter((F.col("_r1") == 1) & (F.col("_r2") == 1))
    )
    from .graph import connected_components

    return connected_components(
        pairs.select("src", "dst"),
        vertices=state.select("id"),
        id_col="id",
        cc_col="cc",
    )


def merge_components(clusters: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """One-shot merge: per component group, run the exact local greedy
    fixpoint (DeltaIterateMergeMusicStepFunction.java:45-163 semantics —
    max-sim pair first, ties min small id / min big id, source-overlap and
    max-source restrictions, attribute + fingerprint fusion).

    The decomposition guardrail caps groups at MAX_COMPONENT_ROWS, so the
    local O(n²) solve is bounded; the whole merge phase costs exactly ONE
    shuffle (groupBy blocking_key) — no driver rounds. This is the same
    trade the reference makes: its delta iteration confines every superstep
    to one blocking key; with bounded groups the local fixpoint is
    semantically identical and removes #supersteps × 4 shuffles."""
    import math

    import pandas as pd

    from ..functions.local_sim import (
        _INSANE,
        round6_half_up,
        simplify_local,
        trigram_set_local,
    )
    from pyspark.sql import types as T

    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    fields = [
        T.StructField("id", T.LongType(), False),
        T.StructField("members", T.ArrayType(T.LongType()), False),
        T.StructField("sources_mask", T.LongType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("blocking_key", T.StringType(), True),
        T.StructField("n_members", T.IntegerType(), False),
    ]
    if use_audio:
        fields.append(T.StructField("fingerprint", T.ArrayType(T.FloatType()), True))
    schema = T.StructType(fields)
    threshold, max_sources = cfg.min_sim, cfg.max_sources

    def _tg(label: str | None) -> frozenset | None:
        if label is None or label in _INSANE:
            return None
        return trigram_set_local(simplify_local(label))

    audio_text_bound = 2.0 * threshold - 1.0 - 1e-6

    def sim_fn(a: dict, b: dict) -> float | None:
        # trigram sets cached per cluster ('_tg'), semantics identical to
        # local_sim.cosine_trigram_local
        sa_, sb_ = a.get("_tg"), b.get("_tg")
        if sa_ is None or sb_ is None:
            st = None
        elif not sa_ and not sb_:
            st = 1.0
        elif not sa_ or not sb_:
            st = 0.0
        else:
            inter = len(sa_ & sb_)
            st = round6_half_up(inter / math.sqrt(len(sa_) * len(sb_)))
        if not use_audio:
            return st
        if st is not None and st < audio_text_bound:
            # even a perfect audio sim of 1.0 cannot lift the mean to the
            # threshold — identical survivor set, audio dot skipped
            return None
        fa, fb = a.get("fingerprint"), b.get("fingerprint")
        if fa is None or fb is None:
            au = None
        else:
            dot = 0.0
            for x_, y_ in zip(fa, fb):
                dot += x_ * y_
            nrm = a["_fpn"] * b["_fpn"]
            au = round6_half_up(dot / nrm) if nrm > 0 else None
        if st is None and au is None:
            return None
        if st is None:
            return au
        if au is None:
            return st
        return round6_half_up((st + au) / 2.0)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import heapq

        clusters_l: dict[int, dict] = {}
        for row in pdf.to_dict("records"):
            row["members"] = list(row["members"])
            if use_audio:
                fp = row.get("fingerprint")
                if fp is not None:
                    row["fingerprint"] = list(fp)
                    row["_fpn"] = math.sqrt(sum(x_ * x_ for x_ in fp))
                else:
                    row["_fpn"] = 0.0
            row["_tg"] = _tg(row.get("label"))
            clusters_l[row["id"]] = row

        def valid(a: dict, b: dict) -> bool:
            if a["sources_mask"] & b["sources_mask"]:
                return False
            return (
                bin(a["sources_mask"]).count("1")
                + bin(b["sources_mask"]).count("1")
                <= max_sources
            )

        # lazy-deletion priority queue: entries are (-sim, a, b, ver_a,
        # ver_b); heapq pops the smallest tuple = highest sim, then min a,
        # then min b — the same total order as the previous max((sim, -a,
        # -b)) scan, but O(log n) per op instead of a full dict rebuild
        # per merge (which was O(pairs) × merges — the dominant cost on
        # 512-row components).
        ver: dict[int, int] = {i: 0 for i in clusters_l}
        heap_l: list = []

        def push(a: int, b: int, s: float) -> None:
            heapq.heappush(heap_l, (-s, a, b, ver[a], ver[b]))

        ids = sorted(clusters_l)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if valid(clusters_l[a], clusters_l[b]):
                    s = sim_fn(clusters_l[a], clusters_l[b])
                    if s is not None and s >= threshold:
                        push(a, b, s)
        while heap_l:
            negs, a, b, va, vb = heapq.heappop(heap_l)
            if ver.get(a) != va or ver.get(b) != vb:
                continue
            ca, cb = clusters_l[a], clusters_l[b]
            keep, drop = (a, b) if a < b else (b, a)
            merged = dict(clusters_l[keep])
            merged["members"] = sorted(ca["members"] + cb["members"])
            merged["sources_mask"] = ca["sources_mask"] | cb["sources_mask"]
            la, lb = ca.get("label") or "", cb.get("label") or ""
            merged["label"] = la if len(la) >= len(lb) else lb
            merged["_tg"] = ca["_tg"] if len(la) >= len(lb) else cb["_tg"]
            na, nb = ca["n_members"], cb["n_members"]
            merged["n_members"] = na + nb
            if use_audio:
                fa, fb = ca.get("fingerprint"), cb.get("fingerprint")
                if fa is None:
                    merged["fingerprint"] = fb
                    merged["_fpn"] = cb["_fpn"]
                elif fb is None:
                    merged["fingerprint"] = fa
                    merged["_fpn"] = ca["_fpn"]
                else:
                    fm = [(x * na + y * nb) / (na + nb) for x, y in zip(fa, fb)]
                    merged["fingerprint"] = fm
                    merged["_fpn"] = math.sqrt(sum(x_ * x_ for x_ in fm))
            clusters_l[keep] = merged
            del clusters_l[drop]
            del ver[drop]
            ver[keep] += 1
            for other in clusters_l:
                if other == keep:
                    continue
                if valid(merged, clusters_l[other]):
                    s = sim_fn(merged, clusters_l[other])
                    if s is not None and s >= threshold:
                        push(min(keep, other), max(keep, other), s)
        cols = [f.name for f in fields]
        return pd.DataFrame(
            [{c: cl.get(c) for c in cols} for cl in clusters_l.values()],
            columns=cols,
        )

    keep_cols = [f.name for f in fields]
    return (
        parallel_grouped(clusters.select(*keep_cols), "blocking_key")
        .groupBy("blocking_key")
        .applyInPandas(solve, schema=schema)
    )


def cluster_rounds(state: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Cluster an existing cluster-state DataFrame (id, members,
    sources_mask, label, blocking_key, trigram_set, n_members
    [, fingerprint]).

    Stage 1 (decomposition): candidate components over blocked ∪ LSH
    above-threshold pairs (size-capped), the grouping within which merging
    happens. Stage 2 (merge): per-component local greedy fixpoint — one
    shuffle. The returned state's ``blocking_key`` is restored to the
    prefix key of the fused label (the same key ``pipeline.prepare``
    derives, so streaming re-keying stays stable), and ``trigram_set`` is
    recomputed from the fused label."""
    clusters = materialize(state)
    cc = candidate_components(clusters, cfg)
    sizes = cc.groupBy("cc").agg(F.count(F.lit(1)).alias("_cc_n"))
    clusters = (
        clusters.join(cc, "id")
        .join(sizes, "cc")
        .withColumn(
            "blocking_key",
            F.when(
                F.col("_cc_n") <= MAX_COMPONENT_ROWS,
                F.col("cc").cast("string"),
            ).otherwise(
                F.concat_ws("|", F.col("cc").cast("string"), F.col("blocking_key"))
            ),
        )
    )
    # singleton components (no surviving candidate edge) can never merge —
    # route them around the grouped-map Python stage; they are the largest
    # group population and each group costs an Arrow batch + pandas frame
    keep_cols = [
        c
        for c in (
            "id",
            "members",
            "sources_mask",
            "label",
            "blocking_key",
            "n_members",
            "fingerprint",
        )
        if c in clusters.columns
    ]
    singletons = clusters.filter(F.col("_cc_n") == 1).select(*keep_cols)
    multi = clusters.filter(F.col("_cc_n") > 1).drop("cc", "_cc_n")
    merged = merge_components(multi, cfg).unionByName(singletons)
    return merged.withColumn(
        "blocking_key", music_blocking_label(F.col("label"), BLOCKING_LENGTH)
    ).withColumn("trigram_set", trigram_set(F.col("label")))
