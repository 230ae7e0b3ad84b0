#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Each headline query runs $SPARK_GRAFT_BENCH_RUNS times (default 9)
and reports the per-query MEDIAN plus the raw per-run samples, the
per-query IQR, and a MEASURED scheduler noise floor (so the spread is
auditable from the artifact and deltas can be classified as plan
signal vs env jitter) — env wall-time variance was ±50% in r01, and
round-over-round comparison needs stable numbers.
The shared disk indexes (KG snapshot, neighbor postings + scored
pairs, LSH signatures, LPA labels, near-dup pairs) are force-built
FIRST on the cold session and timed as their own `*_index_build`
extended entries — before the headline warm-up, which would otherwise
silently pay them (r04's kg_snapshot_index_build read 0.0s). The
heaviest extended ops are median-of-3 with samples emitted.

Prints ONE compact JSON line (headline only) as the FINAL stdout
line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"tpch_q1": sec, ...}, "sf": 0.1}
The per-operator "extended" timings go to bench_extended.json next to
this script — r02's single line with the 63-entry extended dict
overflowed the driver's tail capture and made BENCH_r02.json
unparseable ("parsed": null).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mcp_memory_libsql_spark.registry import QUERIES  # noqa: E402
from mcp_memory_libsql_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "kg_search_nodes",
    "kg_degree",
    "kg_recent_entities",
    "vec_knn_cosine",
    "vec_knn_batch",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_quality",
    "events_sessionize",
]

# Round-2 operators, timed single-run and reported under "extended" —
# NOT part of the headline total, so the headline stays comparable
# round-over-round. Set SPARK_GRAFT_BENCH_EXTENDED=0 to skip.
EXTENDED = [
    "kg_postings_refresh",
    "kg_pairs_refresh",
    "vec_lsh_refresh",
    "vec_neardup_refresh",
    "dedup_substring_star",
    "dedup_winnowing_star",
    "dedup_substring_keep",
    "dedup_winnowing_keep",
    "kg_lpa_refresh",
    "index_refresh_plan",
    "text_semantic_exact",
    "kg_hits",
    "kg_walks",
    "kg_pagerank_full",
    "kg_suggest_weighted",
    "data_quality_checks",
    "events_user_features",
    "nation_supplier_hhi",
    "dedup_winnowing",
    "dedup_bloom",
    "vec_lsh_bucket_profile",
    "events_time_to_convert",
    "events_ewma",
    "orders_backlog",
    "events_asof_attribution",
    "events_range_attribution",
    "events_hypertable",
    "events_mad_outliers",
    "kg_similar_minhash",
    "text_decontaminate",
    "events_heavy_hitters_cms",
    "basket_rules",
    "orders_rfm",
    "vec_pca",
    "vec_gram_exact",
    "doc_keywords",
    "events_funnel_steps",
    "vec_hamming_knn",
    "vec_matryoshka_recall",
    "kg_entity_neardup",
    "kg_merge_entities",
    "dedup_lsh_eval",
    "text_quality_classifier",
    "text_ttr",
    "data_skew_report",
    "events_lateness_profile",
    "kg_ppr",
    "kg_communities",
    "kg_modularity",
    "vec_hard_negatives",
    "text_diversity",
    "text_shingle_hll",
    "text_diversity_approx",
    "events_sample_est",
    "kg_obs_duplicates",
    "mm_dedup",
    "mm_neardup",
    "kg_context_pack",
    "vec_centroid_drift",
    "text_dsir_scores",
    "text_lm_score",
    "text_lm_score_bigram",
    "text_perplexity_keep",
    "text_fertility",
    "vec_rp_distortion",
    "supplier_scorecard",
    "orders_cohort_ltv",
    "events_conversion_windows",
    "kg_as_of",
    "text_readability",
    "text_bpe_pairs",
    "kg_metapaths",
    "vec_ivfpq_ann",
    "vec_ivf_cells",
    "vec_pq_codes",
    "vec_pq_distortion",
    "data_shard_plan",
    "data_shard_plan_incremental",
    "events_user_hll",
    "vec_kmeans",
    "dedup_semantic_clusters",
    "text_curriculum_order",
    "text_ngram_novelty",
    "text_novelty_keep",
    "data_epoch_plan",
    "mm_video_stats",
    "mm_container_audit",
    "vec_kmeans_profile",
    "bridge_cluster_lang",
    "dedup_semantic_cluster_keep",
    "vec_ivf_kmeans_ann",
    "dedup_semantic_keep",
    "kg_suggest_relations",
    "events_bounce_rate",
    "events_bot_score",
    "events_type_entropy",
    "table_stats",
    "events_type_overlap",
    "events_user_histogram",
    "kg_obs_staleness",
    "dedup_simhash_capped",
    "dedup_minhash_lsh_capped",
    "kg_similar_entities",
    "kg_similar_content",
    "ann_lsh_cosine",
    "dedup_embedding_lsh",
]


# Heaviest extended ops (r03 single-run wall ≥ ~5s): median-of-3 so
# round-over-round comparison reads plan changes, not env variance
# (single-run extended numbers swung ±50% between r02 and r03).
EXT_MEDIAN3 = {
    # r09: the refresh merges and the capped simhash miner joined the
    # median-3 set — their single samples swung 2-3x with box load
    # (calib-tracked) while their median-3 walls were stable, so a
    # lone bad sample read as a phantom regression.
    "vec_neardup_refresh",
    "kg_lpa_refresh",
    "dedup_simhash_capped",
    # r09 session 4: three identical-code runs read 8.3 / 10.1 / 13.1
    # under the box's drifting external load — same phantom-regression
    # exposure that moved the three keys above into this set
    "index_refresh_plan",
    "kg_suggest_weighted",
    "kg_suggest_relations",
    "dedup_winnowing",
    "kg_similar_entities",
    "kg_similar_content",
    "kg_communities",
    "kg_ppr",
    "kg_hits",
    "kg_pagerank_full",
    "vec_lsh_bucket_profile",
    "dedup_embedding_lsh",
    "dedup_semantic_keep",
    "kg_merge_entities",
}


def cpu_calib_sec(n: int = 1_000_000) -> float:
    """Single-thread CPU reference: n chained md5 digests over a
    16-byte state — deterministic, allocation-free, no I/O. Emitted as
    `calib_sec` next to every timing artifact so cross-session walls
    can be normalized for box contention (r08's 18.0s-vs-8.9s headline
    ambiguity came from a ~3x-loaded box with no in-artifact way to
    tell). Reported as the median of 3 runs; a contended box shows up
    directly as a larger value (~0.4s on an idle core here)."""
    samples = []
    for _ in range(3):
        b = b"spark-graft-calib"
        t0 = time.perf_counter()
        for _ in range(n):
            b = hashlib.md5(b).digest()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def _calib_burn(n: int = 400_000) -> float:
    """One worker's share of the parallel calibration: n chained md5
    digests (same kernel as cpu_calib_sec), returns its own wall."""
    b = b"spark-graft-calib-par"
    t0 = time.perf_counter()
    for _ in range(n):
        b = hashlib.md5(b).digest()
    return time.perf_counter() - t0


def cpu_calib_par(cpus: int | None = None) -> dict[str, float]:
    """ALL-CORE throughput reference: `cpus` processes each running
    the single-thread calibration kernel concurrently. Emitted as
    `calib_par` next to calib_sec because the single-thread number
    alone cannot distinguish a fast-core/few-core box from a
    slow-core/many-core one: this session measured single-thread calib
    ~25% FASTER than the prior r09 sessions while every fully-parallel
    32-task build stage ran ~2x SLOWER — SMT siblings counted as
    vCPUs (effective parallelism 16.4 on local[32]). Fields: wall of
    the parallel batch, and effective_parallelism = sum(per-task
    walls)/wall — the box's real concurrent-throughput multiple."""
    import multiprocessing

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    with multiprocessing.Pool(cpus) as pool:
        t0 = time.perf_counter()
        per_task = pool.map(_calib_burn, [400_000] * cpus)
        wall = time.perf_counter() - t0
    return {
        "cpus": cpus,
        "wall_sec": round(wall, 4),
        "effective_parallelism": round(sum(per_task) / wall, 2),
    }


def _build_indexes(spark, sf_dir: str) -> dict[str, float]:
    """Force-build each shared disk index BEFORE any extended timing
    and report the build as its own named entry. r03's single-run
    extended loop billed these one-time builds to whichever consumer
    ran first (kg_suggest_weighted +48%, vec_lsh_bucket_profile +85%
    phantom regressions); at 100 TB they're ingest-time artifacts, so
    the bench accounts for them the same way. Artifacts built as
    another's dependency are already cached when their own line runs,
    so each line times only its own build."""
    from mcp_memory_libsql_spark import registry as reg

    builds: dict[str, float] = {}
    for get in reg._INDEX_BUILDS:
        t0 = time.perf_counter()
        get(spark, sf_dir)
        builds[get.artifact] = round(time.perf_counter() - t0, 3)
    return builds


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # CPU calibration BEFORE the JVM spins up (quietest point) — see
    # cpu_calib_sec. A second sample after the timed suites catches a
    # box whose load changed mid-run.
    calib_pre = cpu_calib_sec()
    calib_par = cpu_calib_par()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Build + time the shared disk indexes FIRST, on a cold session:
    # r04 ran the headline warm-up before _build_indexes, so the
    # warm-up's kg queries paid the KG snapshot ingest and
    # kg_snapshot_index_build reported 0.0s — a real one-time cost
    # hidden inside an untimed loop (VERDICT r04 item 5).
    builds = _build_indexes(spark, sf_dir)

    # Warm the JVM + parquet footers + codegen for EVERY headline query
    # before any timing starts. r02 warmed only tpch_q1 once, and the
    # residual session warm-up (whole-stage codegen compilation for the
    # other plan shapes, broadcast thread pools) still landed in the
    # first timed query's median — tpch_q1 read 1.44s vs its real 0.76s.
    for key in HEADLINE:
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # 9 runs (was 5): r05's min-to-max spread exceeded 10% of median
    # for 8 of 12 sub-second queries — scheduler noise on a shared
    # 32-core box dominates a 0.4s query. With 9 runs the artifact
    # reports the IQR (robust to the stray slow run) and a MEASURED
    # noise floor, so a reader can tell plan changes from env noise.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "9"))

    # Noise floor: the same submit→schedule→noop-commit path with a
    # trivial 32-partition job — pure harness+scheduler overhead, no
    # query work. Its max-min over `runs` runs is the box's ambient
    # jitter; per-query spreads at or under it carry no plan signal.
    floor_samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, 32, 1, 32).write.format("noop").mode("overwrite").save()
        floor_samples.append(time.perf_counter() - t0)
    noise_floor = round(max(floor_samples) - min(floor_samples), 3)

    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    iqrs: dict[str, float] = {}
    for key in HEADLINE:
        # Drop the PREVIOUS query's persisted intermediates first
        # (dead weight → GC pressure), then one untimed run so THIS
        # query's internal persists (postings tables, LSH indexes)
        # are built before timing starts: r05's first artifact showed
        # bimodal samples (run 1 = persist build + steady run, runs
        # 2-5 = steady) which made the min/max spread fail the <10%
        # audit for reasons that aren't plan variance.
        spark.catalog.clearCache()
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = QUERIES[key](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        timings[key] = round(statistics.median(samples), 3)
        all_samples[key] = [round(s, 3) for s in samples]
        # quantiles() needs >=2 samples; a SPARK_GRAFT_BENCH_RUNS=1
        # smoke run has no spread to report, not an error.
        if len(samples) >= 2:
            q = statistics.quantiles(samples, n=4)
            iqrs[key] = round(q[2] - q[0], 3)
        else:
            iqrs[key] = 0.0
    spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline-suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # every raw run per query, so the spread claim is checkable
        # from this artifact alone (VERDICT r04 item 3); still far
        # under the driver's tail-capture limit that nulled r02's
        # 63-entry line.
        "samples": all_samples,
        # IQR per query (quartile 3 − quartile 1 over the 9 runs) —
        # the robust spread statistic; min-to-max spread on a shared
        # box reads the one stray descheduled run, not the engine.
        # Reading rule (VERDICT r05 missing-item 1): a per-query
        # delta is PLAN SIGNAL only if it exceeds
        # max(IQR, noise_floor_sec); noise_floor_sec is the measured
        # max-min of a trivial 32-partition noop job on this box —
        # pure scheduler jitter, ~the floor any sub-second query
        # inherits.
        "iqr": iqrs,
        "noise_floor_sec": noise_floor,
        # single-thread CPU reference (median-of-3 of 1e6 chained md5
        # digests) before/after the timed suites: normalizes walls
        # across sessions with different box contention (r09).
        "calib_sec_pre": calib_pre,
        "calib_sec_post": cpu_calib_sec(),
        # all-core throughput reference (see cpu_calib_par): the
        # single-thread calib pair cannot tell a 32-real-core box from
        # 32 SMT threads on 16 cores, which moves every fully-parallel
        # stage ~2x while calib_sec stays flat
        "calib_par": calib_par,
        "sf": sf,
    }
    if os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "1") != "0":
        ext: dict[str, float] = dict(builds)
        ext_samples: dict[str, list[float]] = {}
        for key in EXTENDED:
            samples = []
            for _ in range(3 if key in EXT_MEDIAN3 else 1):
                t0 = time.perf_counter()
                QUERIES[key](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            ext[key] = round(statistics.median(samples), 3)
            if len(samples) > 1:
                ext_samples[key] = [round(s, 3) for s in samples]
        # Written to a sibling file, NOT the stdout line: the driver's
        # tail capture truncates long lines, which nulled BENCH_r02.
        ext_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_extended.json"
        )
        with open(ext_path, "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "extended": ext,
                    "samples": ext_samples,
                    # taken AFTER the extended suite: with the headline
                    # pre/post pair this brackets the whole run
                    "calib_sec_post_extended": cpu_calib_sec(),
                    "calib_par": calib_par,
                    "note": (
                        "regenerated by EVERY bench.py run — the "
                        "driver re-runs bench post-HEAD each round, "
                        "so working-tree drift vs the committed copy "
                        "is expected, not an error (VERDICT r05 "
                        "missing-item 3)"
                    ),
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"extended timings ({len(ext)} queries) -> {ext_path}")
    # Compact headline JSON alone on the final line — this is what the
    # driver parses into BENCH_r{N}.json.
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
