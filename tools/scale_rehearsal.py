#!/usr/bin/env python
"""Scale rehearsal: run the headline suite at ~sf1 (10× sf0.1) to
surface skew and memory pressure the sf0.1 numbers hide (VERDICT r02
item 9 — no sf1 testdata ships with the harness), and sweep the
HEAVIEST ops across multiple scale points to fit per-op growth
exponents (VERDICT r03 item 6: "no op superlinear" is a measured
claim, not an asserted one).

The rehearsal corpus is DERIVED, DISCLOSED, AND PERF-ONLY:
key-shifted copies of the driver-provided sf0.1 tables (fact keys
offset by 10M per copy so FK joins stay consistent and KG entity
names stay distinct; region/nation dims are copied once). It is
written under _rehearsal/ (gitignored) and used for NOTHING except
wall-time measurement — every correctness artifact in this repo runs
exclusively on the driver-generated /root/testdata parquet.

r05 evidence upgrades (VERDICT r04 items 1/2/4):
- WARM-UP PASS per sweep point: every timed key runs once untimed
  first, so one-time session costs (codegen JIT, broadcast pools,
  first-consumer index reads) can't land inside the first timed op —
  r04's first point produced a physically-impossible -0.42 exponent
  for kg_suggest_weighted.
- dedup_ngram_jaccard joins the sweep WITH per-point output-pair
  counts, plus a PERTURBED-corpus twin: copies i>0 get every 2nd
  whitespace token suffixed with the copy index, so NO shingle is
  shared across copies — the twin measures the pure plan-growth
  (non-duplicate) scaling path, while the standard corpus measures
  the duplicate-output path (10 identical copies → true pair output
  itself grows ~C(copies,2), which is what made r04's lone 26×@10×
  point look quadratic).
- A 100× point (sf10-equivalent, ~5 GB of facts — fits the 128 GiB
  sandbox) for the heaviest ops; cap-bite rates at every point now
  flag when the adaptive-LSH width clamp (lsh.MAX_BITS) is the
  binding constraint.

Usage: python tools/scale_rehearsal.py [copies[,copies...]]
  default "3,10,30,100": full suite at the 10× point
  (round-over-round continuity), sweep ops at every point, only the
  SWEEP_100X subset at points >30. Growth exponent per op =
  least-squares slope of log(wall) vs log(copies).
Writes SCALE_REHEARSAL.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mcp_memory_libsql_spark.io.tables import (  # noqa: E402
    TABLE_NAMES,
    load_table,
)
from mcp_memory_libsql_spark.registry import QUERIES  # noqa: E402
from mcp_memory_libsql_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_REHEARSAL_SRC", "/root/testdata/sf0.1")
OFF = 10_000_000

# (table, key columns to shift per copy); dims absent = copied once
SHIFT = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

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
# the most expensive extended plans from bench_extended.json — the
# ones whose 10× behavior actually answers "does this survive scale"
HEAVY = [
    "kg_pagerank_full",
    "kg_communities",
    "kg_suggest_weighted",
    "dedup_winnowing",
    "dedup_semantic_keep",
    "text_lm_score",
    "mm_neardup",
]


# The growth-sweep subjects: the most expensive plans in
# bench_extended PLUS dedup_ngram_jaccard (r04's only superlinear
# measured point); each must come out ~linear or the superlinearity
# must be attributable to true-duplicate output growth (see the
# perturbed twin).
SWEEP = [
    "kg_suggest_weighted",
    "dedup_winnowing",
    "kg_communities",
    "dedup_semantic_keep",
    "mm_neardup",
    "dedup_ngram_jaccard",
    # r07: md5 baselines for the two mining families gaining fasthash
    # twins this round (VERDICT r06 item 2) — the flag-on column needs
    # a flag-off wall at the same point
    "dedup_minhash_lsh_capped",
    "dedup_substring",
    # the output-bounded star twins: their growth vs the clique twins
    # IS the measurement that the star reduction removes the
    # output-quadratic tail
    "dedup_substring_star",
    "dedup_winnowing_star",
    # r08: the end-to-end star-fed keep path (star pairs → HashMin
    # components → broadcast anti-join) — the wired consumer VERDICT
    # r07 item 1 asked to measure to 100×
    "dedup_substring_keep",
    "dedup_winnowing_keep",
]
# sweep ops whose OUTPUT ROW COUNT is recorded per point — separates
# output growth (true duplicates multiply with copies) from plan
# growth for the dedup family. dedup_substring joined after its r07
# 30→100× segment came out 1.69: on the copies corpus every repeated
# window matches across all copies (a within-copy-unique window's
# posting list is exactly `copies` long → C(copies,2) pairs per
# window until DF_CAP bites at copies=100), so its output plausibly
# grows like ngram's raw path. dedup_winnowing joined after its r07
# 30→100× segment came out 1.39 — same postings-combo output math.
COUNT_ROWS = {
    "dedup_ngram_jaccard",
    "dedup_substring",
    "dedup_substring_star",
    "dedup_winnowing",
    "dedup_winnowing_star",
}
# ops that get a PERTURBED-corpus twin (cross-copy sharing engineered
# away — the pure plan-growth path) with wall + output rows per point
# and a 3×-largest tail point. The perturbation suffixes every 2nd
# word token per copy, which lands inside every 40-char substring
# window too, so one corpus serves both miners.
PERTURBED = ["dedup_ngram_jaccard", "dedup_substring"]
# at points >30 only the heaviest subset runs (top-3 extended walls
# at sf0.1 + the superlinear suspect), to bound the 100x wall-clock
SWEEP_100X = [
    "kg_suggest_weighted",
    "dedup_winnowing",
    "kg_communities",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_capped",
    "dedup_substring",
    "dedup_substring_star",
    "dedup_winnowing_star",
    "dedup_substring_keep",
    "dedup_winnowing_keep",
]


def build(spark, copies: int, dst: str, tables=None) -> None:
    """Materialize the copies corpus: one crossJoin against
    range(copies) per table (a single scan multiplied row-wise — the
    r04 version unioned `copies` scan branches, whose plan grew
    linearly with the point and dominated the 100x build). `tables`
    restricts the build for targeted --keys reruns (the doc-only
    dedup miners never touch the 5 GB of facts at 100×)."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    ci = F.col("_ci")
    for name in tables or TABLE_NAMES:  # load_tables() is lazy — enumerate
        df = load_table(spark, SRC, name)
        keys = SHIFT.get(name)
        if keys is None:
            out = df
        else:
            out = df.crossJoin(
                spark.range(copies).select(F.col("id").alias("_ci"))
            )
            for k in keys:
                out = out.withColumn(k, F.col(k) + ci * OFF)
            out = out.drop("_ci")
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))


def build_perturbed_docs(spark, copies: int, dst: str) -> None:
    """documents-only variant corpus for the non-duplicate scaling
    path: copy i>0 gets every 2nd WORD TOKEN ([a-z0-9]+ on the
    lowercased text — the exact tokenizer the shingler uses, not a
    whitespace split, which left punctuation-adjacent and multi-word
    tokens unperturbed and leaked a few cross-copy shingles) suffixed
    with the copy index, so every 3-gram shingle contains a per-copy
    token and NO shingle is shared across copies — posting lists grow
    only within-copy and candidate pairs scale linearly in `copies`.
    (Within a copy the corpus's real duplicates survive untouched:
    identical texts perturb identically.) Only documents.parquet is
    written; the dedup queries load tables lazily."""
    from mcp_memory_libsql_spark.textops.tokenize import WORD_RE

    if os.path.isdir(dst):
        shutil.rmtree(dst)
    ci = F.col("_ci")
    df = load_table(spark, SRC, "documents").crossJoin(
        spark.range(copies).select(F.col("id").alias("_ci"))
    )
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
    tagged = F.array_join(
        F.transform(
            toks,
            lambda t, j: F.when(
                j % 2 == 0, F.concat(t, F.lit("q"), ci.cast("string"))
            ).otherwise(t),
        ),
        " ",
    )
    df = (
        df.withColumn("doc_id", F.col("doc_id") + ci * OFF)
        .withColumn("text", F.when(ci == 0, F.col("text")).otherwise(tagged))
        .drop("_ci")
    )
    df.write.mode("overwrite").parquet(os.path.join(dst, "documents.parquet"))


def build_delta_copy(spark, base_copies: int, dst: str) -> None:
    """One-copy ENTITY-DISJOINT ingest delta for the index-refresh
    measurement (VERDICT r06 item 1): keys shifted past the base
    corpus (fresh Part# names) and customer/supplier NAME columns
    suffixed (fresh KG entities) — the realistic new-shard arrival.
    An entity-OVERLAPPING delta whose shared entities change post-cap
    index size degrades the neighbor-index refresh toward a rebuild
    by design: sz is denormalized into every group row (the
    write-amplification price of one fewer join on every read), so a
    delta that changes a ubiquitous entity's sz dirties every stored
    group holding it."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    for name in TABLE_NAMES:
        df = load_table(spark, SRC, name)
        for k in SHIFT.get(name, []):
            df = df.withColumn(k, F.col(k) + F.lit(base_copies * OFF))
        if name == "customer":
            df = df.withColumn(
                "c_name", F.concat(F.col("c_name"), F.lit("-d1"))
            )
        if name == "supplier":
            df = df.withColumn(
                "s_name", F.concat(F.col("s_name"), F.lit("-d1"))
            )
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))


def index_refresh_point(
    spark, dst: str, copies: int, pairs_only: bool = False
) -> dict:
    """+1-copy delta measurement for the two heaviest shared indexes:
    refresh (disk-backed N-copy artifacts + 1-copy delta, via
    kg.refresh / vector.lsh.refresh_index) vs a from-scratch rebuild
    over the SAME N+1 rows, both timed to the noop sink. Result
    identity is pytest-pinned (tests/test_refresh.py) and
    oracle-pinned (kg_postings_refresh / kg_pairs_refresh /
    vec_lsh_refresh), so this entry measures cost only."""
    from mcp_memory_libsql_spark import registry as reg
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import views as kg_views
    from mcp_memory_libsql_spark.kg.refresh import refresh_neighbor_index
    from mcp_memory_libsql_spark.kg.similarity import (
        neighbor_postings,
        scored_pairs,
    )
    from mcp_memory_libsql_spark.vector import lsh

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    ddir = os.path.join(REPO, "_rehearsal", f"x{copies}_delta1")
    t0 = time.time()
    build_delta_copy(spark, copies, ddir)
    delta_build_sec = round(time.time() - t0, 1)
    t_delta = load_tables(spark, ddir)
    d_rel = kg_views.kg(t_delta)["relations"].localCheckpoint(eager=True)
    d_emb = t_delta["embeddings"]

    nbr_refresh = nbr_rebuild = lsh_refresh = lsh_rebuild = None
    if not pairs_only:
        g = reg._kg(spark, dst)
        postings, names, pairs, und, sizes = reg._nbr_index(spark, dst)

        t0 = time.time()
        new_p, new_n, new_pairs, new_und = refresh_neighbor_index(
            postings, names, pairs, und, d_rel, old_sizes=sizes
        )
        for df in (new_p, new_n, new_pairs, new_und):
            noop(df)
        nbr_refresh = round(time.time() - t0, 1)
        print(f"nbr refresh (+1 copy at {copies}x): {nbr_refresh}s",
              flush=True)

        full_rel = g["relations"].unionByName(d_rel)
        t0 = time.time()
        p2, n2 = neighbor_postings(full_rel)
        p2 = p2.persist()
        noop(p2)
        noop(n2)
        noop(scored_pairs(p2))
        noop(
            full_rel.where(F.col("source") != F.col("target"))
            .select(
                F.least("source", "target").alias("a"),
                F.greatest("source", "target").alias("b"),
            )
            .distinct()
        )
        p2.unpersist()
        nbr_rebuild = round(time.time() - t0, 1)
        print(f"nbr rebuild ({copies}+1 copies): {nbr_rebuild}s", flush=True)

        old_idx = reg._lsh_index(spark, dst)
        t0 = time.time()
        noop(lsh.refresh_index(old_idx, d_emb, dim=64, n_bits=lsh.MAX_BITS))
        lsh_refresh = round(time.time() - t0, 1)
        print(f"lsh refresh (+1 copy at {copies}x): {lsh_refresh}s",
              flush=True)
        t0 = time.time()
        noop(lsh.bucketize(
            load_tables(spark, dst)["embeddings"].unionByName(d_emb),
            dim=64, n_bits=lsh.MAX_BITS,
        ))
        lsh_rebuild = round(time.time() - t0, 1)
        print(f"lsh rebuild ({copies}+1 copies): {lsh_rebuild}s", flush=True)

        # LPA labels (r08, VERDICT r07 item 4): the stored artifact is
        # the per-round label HISTORY (kg/refresh.py), billed as its
        # own build line like refresh_base_build; refresh re-propagates
        # only the delta-adjacent neighborhood, rebuild runs all four
        # rounds over the merged graph.
        from mcp_memory_libsql_spark.kg import refresh as kgr_lpa

        t0 = time.time()
        lpa_hist = kgr_lpa.label_propagation_history(
            g["relations"], 4
        ).localCheckpoint(eager=True)
        lpa_edges = kgr_lpa._sym_edges(g["relations"]).localCheckpoint(
            eager=True
        )
        lpa_hist_build = round(time.time() - t0, 1)
        print(f"lpa hist build ({copies}x): {lpa_hist_build}s", flush=True)
        t0 = time.time()
        noop(kgr_lpa.refresh_lpa_labels(lpa_hist, lpa_edges, d_rel, 4))
        lpa_refresh = round(time.time() - t0, 1)
        print(f"lpa refresh (+1 copy at {copies}x): {lpa_refresh}s",
              flush=True)
        t0 = time.time()
        noop(kgr_lpa.label_propagation_history(full_rel, 4))
        lpa_rebuild = round(time.time() - t0, 1)
        print(f"lpa rebuild ({copies}+1 copies): {lpa_rebuild}s", flush=True)
    full_emb = load_tables(spark, dst)["embeddings"].unionByName(d_emb)

    # the scored near-dup PAIR stream (third refreshable artifact,
    # vector/lsh.refresh_pairs): refresh merges the delta into the
    # stored pair parquet at the stored mining width; rebuild re-mines
    # the full pair stream from the (already refreshed) signature
    # index — both start from stored signatures, so the comparison
    # isolates the pair-mining stage the refresh actually replaces.
    # Width note: a +1-copy delta at this point does not cross a
    # width_for_corpus boundary (checked in-plan by _mining_bits'
    # count rule); a boundary cross IS a rebuild by contract.
    bits = reg._mining_bits(spark, dst, 0.4)
    old_idx_m = reg._lsh_index(spark, dst, n_bits=bits)
    base_emb = load_tables(spark, dst)["embeddings"]
    old_pairs = reg._lsh_pairs(spark, dst)
    t0 = time.time()
    noop(
        lsh.refresh_pairs(
            old_idx_m, old_pairs, base_emb, d_emb,
            threshold=0.4, dim=64, n_bits=bits,
        )
    )
    pairs_refresh = round(time.time() - t0, 1)
    print(f"pairs refresh (+1 copy at {copies}x): {pairs_refresh}s", flush=True)
    full_idx = lsh.refresh_index(old_idx_m, d_emb, dim=64, n_bits=bits)
    t0 = time.time()
    noop(
        lsh.near_dup_pairs_lsh(
            full_emb, threshold=0.4, n_bits=bits, index=full_idx
        )
    )
    pairs_rebuild = round(time.time() - t0, 1)
    print(f"pairs rebuild ({copies}+1 copies): {pairs_rebuild}s", flush=True)

    # SPARSE delta variant — the regime the pair refresh is FOR. The
    # +1-copy delta (~3% of rows) touches ~|delta|·tables of the
    # ~rows/TARGET_BUCKET total buckets, i.e. about HALF of them, so
    # bucket-granular re-mining covers half the corpus and the
    # rebuild-from-stored-signatures wins (measured 0.45x above at
    # 30x). A day's-arrivals-sized delta (1/50th of a copy) is
    # bucket-sparse and shows the intended asymmetry; both numbers
    # stay in the artifact so the breakeven (|delta|·tables ≈
    # #buckets) is measured, not asserted.
    d_sparse = d_emb.where(F.pmod(F.col("vec_id"), F.lit(50)) == 0)
    n_sparse = d_sparse.count()
    t0 = time.time()
    noop(
        lsh.refresh_pairs(
            old_idx_m, old_pairs, base_emb, d_sparse,
            threshold=0.4, dim=64, n_bits=bits,
        )
    )
    pairs_refresh_sp = round(time.time() - t0, 1)
    print(
        f"pairs refresh (sparse {n_sparse} rows at {copies}x): "
        f"{pairs_refresh_sp}s",
        flush=True,
    )
    sparse_idx = lsh.refresh_index(old_idx_m, d_sparse, dim=64, n_bits=bits)
    t0 = time.time()
    noop(
        lsh.near_dup_pairs_lsh(
            base_emb.unionByName(d_sparse), threshold=0.4, n_bits=bits,
            index=sparse_idx,
        )
    )
    pairs_rebuild_sp = round(time.time() - t0, 1)
    print(
        f"pairs rebuild (base+{n_sparse} rows): {pairs_rebuild_sp}s",
        flush=True,
    )

    # ------------------------------------------------ gate decisions
    # (VERDICT r07 item 2): what maintenance.choose_refresh would pick
    # for each measured regime, recorded next to the measured walls so
    # the artifact shows the gate selecting the winner in BOTH
    # regimes. Counts are cheap aggregates (delta + stored metadata).
    from mcp_memory_libsql_spark.maintenance import choose_refresh

    n_base_emb = base_emb.count()
    n_delta_emb = d_emb.count()

    def gate_entry(dec, refresh_sec, rebuild_sec):
        e = {"path": dec.path, "est_frac": round(dec.est_frac, 4)}
        if refresh_sec is not None and rebuild_sec is not None:
            winner = "refresh" if refresh_sec < rebuild_sec else "rebuild"
            e["measured_winner"] = winner
            e["picked_winner"] = dec.path == winner
        return e

    gate_pairs = gate_entry(
        choose_refresh("pairs", n_base=n_base_emb, n_delta=n_delta_emb),
        pairs_refresh,
        pairs_rebuild,
    )
    gate_pairs_sp = gate_entry(
        choose_refresh("pairs", n_base=n_base_emb, n_delta=n_sparse),
        pairs_refresh_sp,
        pairs_rebuild_sp,
    )
    gate_sig = gate_postings = gate_lpa = None
    if not pairs_only:
        gate_sig = gate_entry(
            choose_refresh(
                "signatures", n_base=n_base_emb, n_delta=n_delta_emb
            ),
            lsh_refresh,
            lsh_rebuild,
        )
        from mcp_memory_libsql_spark.kg.refresh import delta_undirected

        new_edges = delta_undirected(und, d_rel)
        endpoints = (
            new_edges.select(F.col("a").alias("name"))
            .unionByName(new_edges.select(F.col("b").alias("name")))
            .distinct()
        )
        by_name = sizes.join(names, "nid").select("name", "sz")
        row = (
            endpoints.join(by_name, "name", "left")
            .agg(
                F.count("*").alias("n_endpoints"),
                F.coalesce(F.sum("sz"), F.lit(0)).alias("sz_sum"),
            )
            .collect()[0]
        )
        gate_postings = gate_entry(
            choose_refresh(
                "postings",
                n_rewritten=int(row.n_endpoints + row.sz_sum),
                n_groups=postings.count(),
            ),
            nbr_refresh,
            nbr_rebuild,
        )
        # lpa: members of stored communities holding a delta endpoint
        # (the maintain_lpa_labels proxy) + brand-new nodes
        d_ep = (
            kgr_lpa._sym_edges(d_rel)
            .select(F.col("b").alias("name"))
            .distinct()
        )
        final = lpa_hist.select("name", F.col("l4").alias("community"))
        touched_comms = (
            final.join(d_ep, "name", "leftsemi")
            .select("community")
            .distinct()
        )
        n_touched = final.join(
            touched_comms, "community", "leftsemi"
        ).count() + d_ep.join(lpa_hist, "name", "left_anti").count()
        gate_lpa = gate_entry(
            choose_refresh(
                "labels", n_touched=n_touched, n_nodes=lpa_hist.count()
            ),
            lpa_refresh,
            lpa_rebuild,
        )

    out = {
        "copies": copies,
        "delta_copies": 1,
        "delta_build_sec": delta_build_sec,
        **(
            {}
            if pairs_only
            else {
                "nbr_postings": {
                    "refresh_sec": nbr_refresh,
                    "rebuild_sec": nbr_rebuild,
                    "speedup": round(
                        nbr_rebuild / max(nbr_refresh, 0.001), 2
                    ),
                    "gate": gate_postings,
                },
                "lsh_signature": {
                    "refresh_sec": lsh_refresh,
                    "rebuild_sec": lsh_rebuild,
                    "speedup": round(
                        lsh_rebuild / max(lsh_refresh, 0.001), 2
                    ),
                    "gate": gate_sig,
                },
                "lpa_labels": {
                    "hist_build_sec": lpa_hist_build,
                    "refresh_sec": lpa_refresh,
                    "rebuild_sec": lpa_rebuild,
                    "speedup": round(
                        lpa_rebuild / max(lpa_refresh, 0.001), 2
                    ),
                    "gate": gate_lpa,
                },
            }
        ),
        "lsh_neardup_pairs": {
            "refresh_sec": pairs_refresh,
            "rebuild_sec": pairs_rebuild,
            "speedup": round(pairs_rebuild / max(pairs_refresh, 0.001), 2),
            "gate": gate_pairs,
        },
        "lsh_neardup_pairs_sparse_delta": {
            "delta_rows": n_sparse,
            "refresh_sec": pairs_refresh_sp,
            "rebuild_sec": pairs_rebuild_sp,
            "speedup": round(
                pairs_rebuild_sp / max(pairs_refresh_sp, 0.001), 2
            ),
            "gate": gate_pairs_sp,
        },
        "note": (
            "refresh merges a 1-copy entity-disjoint delta into the "
            "disk-backed N-copy artifacts; rebuild recomputes the same "
            "artifacts from scratch over the identical N+1 rows; both "
            "timed to the noop sink. Identity is pytest- and "
            "oracle-pinned, not re-proved here. lsh_neardup_pairs is "
            "bucket-granular, so its +1-copy entry measures the past-"
            "breakeven regime by construction (the delta touches "
            "~|delta|*tables of ~rows/32 buckets, about half) and the "
            "rebuild is expected to win there; the sparse_delta twin "
            "measures the day's-arrivals regime the refresh exists "
            "for. Both stay recorded so the breakeven is a measured "
            "boundary — and since r08 the boundary is a GATE "
            "(maintenance.choose_refresh, routed by maintain_* and "
            "the registered index_refresh_plan query): each entry's "
            "'gate' field records the decision the gate takes for "
            "that regime's counts and whether it picked the measured "
            "winner."
        ),
    }
    # cleanup LAST: the gate section lazily re-reads d_emb / d_rel /
    # new_edges from the delta dir — removing it earlier fails the
    # gate counts with FILE_NOT_EXIST (r08 session fix).
    shutil.rmtree(ddir, ignore_errors=True)
    return out


def lpa_sparse_point(spark, dst: str, copies: int,
                     hub_avoiding: bool = False) -> dict:
    """SPARSE-delta LPA refresh-vs-rebuild. Measured regimes:
    (a) 1/50th of a copy's relations — STILL rebuild territory here,
    because the un-shifted nation/region hubs sit on the delta's
    LOCATED_IN/PART_OF endpoints and their communities hold every
    node (est_frac 1.0; measured 0.58x); (b) hub_avoiding=True keeps
    only SUPPLIES/PURCHASED relations, whose endpoints are all
    key-shifted brand-new entities — the 'new shard arrivals before
    dimension links' delta whose affected set stays inside the delta
    subgraph, so each refresh round is a broadcast-semijoin edge scan
    instead of the rebuild's full per-round label rollup."""
    from mcp_memory_libsql_spark.kg import refresh as kgr
    from mcp_memory_libsql_spark.kg import views as kg_views
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.maintenance import choose_refresh
    from mcp_memory_libsql_spark import registry as reg

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    ddir = os.path.join(REPO, "_rehearsal", f"x{copies}_delta1")
    build_delta_copy(spark, copies, ddir)
    d_rel_full = kg_views.kg(load_tables(spark, ddir))[
        "relations"
    ].localCheckpoint(eager=True)
    if hub_avoiding:
        d_rel_full = d_rel_full.where(
            F.col("relation_type").isin("SUPPLIES", "PURCHASED")
        )
    d_sparse = d_rel_full.where(
        F.pmod(F.xxhash64("source", "target"), F.lit(50)) == 0
    ).localCheckpoint(eager=True)
    n_sparse = d_sparse.count()

    g = reg._kg(spark, dst)
    t0 = time.time()
    hist = kgr.label_propagation_history(g["relations"], 4).localCheckpoint(
        eager=True
    )
    edges = kgr._sym_edges(g["relations"]).localCheckpoint(eager=True)
    hist_build = round(time.time() - t0, 1)
    print(f"lpa hist build ({copies}x): {hist_build}s", flush=True)

    t0 = time.time()
    noop(kgr.refresh_lpa_labels(hist, edges, d_sparse, 4))
    refresh_sec = round(time.time() - t0, 1)
    print(f"lpa refresh (sparse {n_sparse} rels at {copies}x): "
          f"{refresh_sec}s", flush=True)

    t0 = time.time()
    noop(kgr.label_propagation_history(
        g["relations"].unionByName(d_sparse), 4
    ))
    rebuild_sec = round(time.time() - t0, 1)
    print(f"lpa rebuild (base+{n_sparse} rels): {rebuild_sec}s", flush=True)

    # gate counts: members of stored communities holding a delta
    # endpoint + brand-new nodes (the maintain_lpa_labels proxy)
    d_ep = (
        kgr._sym_edges(d_sparse).select(F.col("b").alias("name")).distinct()
    )
    final = hist.select("name", F.col("l4").alias("community"))
    touched = final.join(d_ep, "name", "leftsemi").select(
        "community"
    ).distinct()
    n_touched = final.join(touched, "community", "leftsemi").count() + (
        d_ep.join(hist, "name", "left_anti").count()
    )
    n_nodes = hist.count()
    dec = choose_refresh("labels", n_touched=n_touched, n_nodes=n_nodes)
    winner = "refresh" if refresh_sec < rebuild_sec else "rebuild"
    entry = {
        "delta_rels": n_sparse,
        "hist_build_sec": hist_build,
        "refresh_sec": refresh_sec,
        "rebuild_sec": rebuild_sec,
        "speedup": round(rebuild_sec / max(refresh_sec, 0.001), 2),
        "gate": {
            "path": dec.path,
            "est_frac": round(dec.est_frac, 4),
            "measured_winner": winner,
            "picked_winner": dec.path == winner,
        },
    }
    shutil.rmtree(ddir, ignore_errors=True)
    return entry


def suggestion_recall(spark, k: int = 25) -> dict:
    """Member-level cost of NEIGHBOR_CAP hub suppression (VERDICT r06
    item 4): both suggestion feeds recomputed UNCAPPED on the
    driver-provided sf0.01 corpus — small enough that the true hubs'
    C(w,2) explode is feasible (~28M pairs), so this is a genuine
    uncapped ground truth, not a bigger cap — and recall@k of the
    default capped feed measured against it. For the Jaccard feed the
    readout also counts how many truth pairs share ONLY hub neighbors
    (width > cap): uncapped, two degree-1 entities whose sole common
    neighbor is a nation hub score J = 1.0 — the exact noise class
    the cap exists to suppress (and the reason the RA feed weights
    shared neighbors by 1/deg)."""
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import similarity as sim
    from mcp_memory_libsql_spark.kg import views as kg_views

    sf_dir = "/root/testdata/sf0.01"
    g = kg_views.kg(load_tables(spark, sf_dir))
    rel = g["relations"].persist()
    big = 1 << 30
    out: dict = {"corpus": sf_dir, "k": k, "cap": sim.NEIGHBOR_CAP}
    feeds = {
        "jaccard_feed": sim.suggest_relations,
        "ra_feed": sim.suggest_relations_weighted,
    }
    truth_sets = {}
    for name, fn in feeds.items():
        capped = {(r[0], r[1]) for r in fn(rel, k=k).collect()}
        truth = {(r[0], r[1]) for r in fn(rel, k=k, cap=big).collect()}
        truth_sets[name] = truth
        out[name] = {
            "recall_at_k": round(len(capped & truth) / max(len(truth), 1), 4)
        }
    # diagnostic: truth pairs whose every shared neighbor is a hub
    tp = spark.createDataFrame(
        sorted(truth_sets["jaccard_feed"]), "a string, b string"
    )
    und = sim.undirected_neighbors(rel)
    non_hub = (
        und.groupBy("nbr")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") <= sim.NEIGHBOR_CAP)
        .select("nbr")
    )
    na = und.select(F.col("name").alias("a"), "nbr")
    nb = und.select(F.col("name").alias("b"), "nbr")
    with_signal = (
        tp.join(na, "a")
        .join(nb, ["b", "nbr"])
        .join(non_hub, "nbr", "leftsemi")
        .select("a", "b")
        .distinct()
        .count()
    )
    n_truth = len(truth_sets["jaccard_feed"])
    out["jaccard_feed"]["truth_pairs_hub_only"] = n_truth - with_signal
    out["jaccard_feed"]["truth_pairs_total"] = n_truth
    rel.unpersist()
    return out


def cap_bites(spark, sf_dir: str) -> dict:
    """Measured recall cost of every skew cap at this corpus size.

    r06 change: the banded pair miners (media simhash chunks,
    embedding-LSH buckets) now SPLIT fat buckets instead of dropping
    them (textops.tokenize.split_fat_buckets — r05 measured 33.7% /
    15.8% of buckets dropped at the 100× point under the old rule),
    so each entry reports BOTH ends of the pipeline: `fat_rate` =
    fraction of ≥2-member buckets over the cap BEFORE the split (the
    r05-comparable number, now a split trigger, not a loss), and
    `drop_rate` = fraction of post-split sub-buckets still over the
    cap and therefore dropped (the binomial tail — the ACTUAL recall
    loss, the ≤10% bar). `member_drop_rate` weights the same loss by
    rows. neighbor_postings keeps the plain over-cap rate: the
    postings cap is a high-DF semantic drop, not a banding bound.
    The embedding-LSH entry also flags `clamp_bound`: True when
    lsh.MAX_BITS (not the TARGET_BUCKET rule) picked the width — the
    precursor of the fixed-width recall collapse r04 fixed, visible
    BEFORE it bites."""
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import similarity as sim
    from mcp_memory_libsql_spark.kg import views as kg_views
    from mcp_memory_libsql_spark.multimodal import media as mm
    from mcp_memory_libsql_spark.textops.tokenize import md5_hash32
    from mcp_memory_libsql_spark.vector import lsh

    def rate(widths, cap):
        row = widths.agg(
            F.count("*").alias("n"),
            F.sum((F.col("count") > cap).cast("long")).alias("over"),
        ).first()
        n, over = row["n"], row["over"] or 0
        return {"buckets": n, "cap": cap, "dropped": over,
                "drop_rate": round(over / max(n, 1), 6)}

    def split_rate(banded, key_cols, member_col, cap):
        """Pre-split fat rate + post-split residual drop, replicating
        split_fat_buckets' sub-key formula (kept in lockstep by the
        synthetic-fat-bucket parity pytests)."""
        from pyspark.sql import Window

        d1 = banded.withColumn(
            "_cnt", F.count("*").over(Window.partitionBy(*key_cols))
        ).where(F.col("_cnt") >= 2)
        n_sub = F.when(
            F.col("_cnt") <= cap, F.lit(1).cast("bigint")
        ).otherwise(F.expr(f"CAST((2 * _cnt + {cap - 1}) DIV {cap} AS BIGINT)"))
        salt = F.concat_ws(
            "#",
            *[F.col(k).cast("string") for k in key_cols],
            F.col(member_col).cast("string"),
        )
        d2 = d1.withColumn("_sub", F.pmod(md5_hash32(salt), n_sub))
        pre = (
            d2.groupBy(*key_cols)
            .agg(F.max("_cnt").alias("cnt"))
            .agg(
                F.count("*").alias("n"),
                F.sum((F.col("cnt") > cap).cast("long")).alias("fat"),
            )
            .first()
        )
        post = (
            d2.groupBy(*key_cols, "_sub")
            .count()
            .where(F.col("count") >= 2)
            .agg(
                F.count("*").alias("n"),
                F.sum((F.col("count") > cap).cast("long")).alias("over"),
                F.sum("count").alias("rows"),
                F.sum(
                    F.when(F.col("count") > cap, F.col("count")).otherwise(0)
                ).alias("rows_over"),
            )
            .first()
        )
        n_pre, fat = pre["n"], pre["fat"] or 0
        n_post, over = post["n"], post["over"] or 0
        rows, rows_over = post["rows"] or 0, post["rows_over"] or 0
        return {
            "cap": cap,
            "buckets": n_pre,
            "fat": fat,
            "fat_rate": round(fat / max(n_pre, 1), 6),
            "sub_buckets": n_post,
            "dropped": over,
            "drop_rate": round(over / max(n_post, 1), 6),
            "member_drop_rate": round(rows_over / max(rows, 1), 6),
        }

    t = load_tables(spark, sf_dir)
    g = kg_views.kg(t)
    out = {}
    und = sim.undirected_neighbors(g["relations"])
    out["neighbor_postings"] = rate(
        und.groupBy("nbr").count(), sim.NEIGHBOR_CAP
    )
    # measure at the width the pair miner ACTUALLY uses at this
    # corpus size (corpus-adaptive, floored at the τ=0.4 width)
    n_emb = t["embeddings"].count()
    w = max(lsh.n_bits_for_threshold(0.4), lsh.width_for_corpus(n_emb))
    out["embedding_lsh_buckets"] = {
        "mining_bits": w,
        "n_embeddings": n_emb,
        "clamp_bound": bool(
            w == lsh.MAX_BITS
            and n_emb > lsh.TARGET_BUCKET * (1 << lsh.MAX_BITS)
        ),
        **split_rate(
            lsh.bucketize(t["embeddings"], dim=64, n_bits=w),
            ["table_id", "sig"],
            "vec_id",
            lsh.BUCKET_CAP,
        ),
    }
    sig = mm.media_signatures(mm.encode_media(t["documents"]))
    banded = sig.select(
        "media_id",
        F.explode(
            F.array(*[
                F.concat_ws(
                    "_",
                    F.col("kind"),
                    F.lit(str(i)),
                    F.expr(f"(simhash >> {15 * i}) % {1 << 15}"),
                )
                for i in range(4)
            ])
        ).alias("chunk_key"),
    )
    out["mm_simhash_buckets"] = split_rate(
        banded, ["chunk_key"], "media_id", 256
    )
    return out


def _exponent(points: dict[int, float]) -> float | None:
    """Least-squares slope of log(wall) vs log(copies) — the measured
    growth exponent (1.0 = linear, <1 sublinear)."""
    import math

    pts = [(math.log(c), math.log(t)) for c, t in points.items() if t > 0]
    if len(pts) < 2:
        return None
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    sxy = sum((x - mx) * (y - my) for x, y in pts)
    return round(sxy / sxx, 3) if sxx else None


def _segment_slopes(points: dict[int, float]) -> dict[str, float]:
    """Per-segment log-log slopes between consecutive sweep points —
    VERDICT r05 item 4: a global fit can mask a super-linear tail
    exactly at the largest (most scale-relevant) segment."""
    import math

    ks = sorted(c for c, t in points.items() if t > 0)
    out = {}
    for a, b in zip(ks, ks[1:]):
        out[f"{a}x->{b}x"] = round(
            (math.log(points[b]) - math.log(points[a]))
            / (math.log(b) - math.log(a)),
            3,
        )
    return out


def _run(spark, key: str, dst: str) -> float:
    t0 = time.time()
    try:
        QUERIES[key](spark, dst).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)
    except Exception as exc:  # noqa: BLE001 — record the failure
        print(f"{key} FAILED: {type(exc).__name__}: {exc}"[:300], flush=True)
        return -1.0


def main() -> None:
    # `--keys a,b` reruns ONLY those sweep subjects and MERGES their
    # growth entries into the existing artifact (everything else —
    # cap_bites, index builds, refresh point, suggestion recall, the
    # anchor headline suite — is kept from the full run, not re-paid).
    # `--tables documents` restricts the corpus build to the tables
    # the targeted keys actually scan.
    argv = sys.argv[1:]
    only_keys: list[str] | None = None
    only_tables: list[str] | None = None
    refresh_only: int | None = None
    lpa_sparse_only: int | None = None
    lpa_hub_avoiding = False
    pairs_only = False
    pos: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--keys":
            only_keys = argv[i + 1].split(",")
            i += 2
        elif argv[i] == "--tables":
            only_tables = argv[i + 1].split(",")
            i += 2
        elif argv[i] == "--refresh-only":
            refresh_only = int(argv[i + 1])
            i += 2
        elif argv[i] == "--pairs-only":
            pairs_only = True
            i += 1
        elif argv[i] == "--lpa-sparse-only":
            lpa_sparse_only = int(argv[i + 1])
            i += 2
        elif argv[i] == "--lpa-shard-only":
            lpa_sparse_only = int(argv[i + 1])
            lpa_hub_avoiding = True
            i += 2
        else:
            pos.append(argv[i])
            i += 1
    targeted = only_keys is not None
    points = sorted(int(x) for x in (pos[0] if pos else "3,10,30,100").split(","))
    anchor = 10 if 10 in points else points[-1]
    spark = get_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    if lpa_sparse_only is not None:
        copies = lpa_sparse_only
        dst = os.path.join(REPO, "_rehearsal", f"x{copies}")
        t0 = time.time()
        build(spark, copies, dst)
        print(f"built {copies}x in {round(time.time()-t0,1)}s", flush=True)
        entry = lpa_sparse_point(
            spark, dst, copies, hub_avoiding=lpa_hub_avoiding
        )
        shutil.rmtree(dst, ignore_errors=True)
        key = (
            "lpa_labels_shard_delta"
            if lpa_hub_avoiding
            else "lpa_labels_sparse_delta"
        )
        path = os.path.join(REPO, "SCALE_REHEARSAL.json")
        with open(path) as f:
            prev = json.load(f)
        prev.setdefault("index_refresh", {})[key] = entry
        ups = [
            u
            for u in prev.get("targeted_updates", [])
            if u.get("keys") != [key]
        ]
        ups.append(
            {
                "keys": [key],
                "points": [copies],
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
                "measured": [key],
            }
        )
        prev["targeted_updates"] = ups
        with open(path, "w") as f:
            json.dump(prev, f, indent=1, sort_keys=True)
        print(json.dumps(entry))
        spark.stop()
        return

    if refresh_only is not None:
        # re-take ONLY the +1-copy index-refresh point (corpus +
        # stored artifacts built untimed, the entry's own timers wrap
        # refresh/rebuild) and merge it into the existing artifact.
        copies = refresh_only
        dst = os.path.join(REPO, "_rehearsal", f"x{copies}")
        t0 = time.time()
        build(spark, copies, dst)
        print(f"built {copies}x in {round(time.time()-t0,1)}s", flush=True)
        entry = index_refresh_point(spark, dst, copies, pairs_only=pairs_only)
        shutil.rmtree(dst, ignore_errors=True)
        path = os.path.join(REPO, "SCALE_REHEARSAL.json")
        with open(path) as f:
            prev = json.load(f)
        if pairs_only and prev.get("index_refresh", {}).get(
            "copies"
        ) == copies:
            prev["index_refresh"] = {**prev["index_refresh"], **entry}
        else:
            prev["index_refresh"] = entry
        ups = [
            u
            for u in prev.get("targeted_updates", [])
            if u.get("keys") != ["index_refresh"]
        ]
        ups.append(
            {
                "keys": ["index_refresh"],
                "points": [copies],
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
                "measured": ["index_refresh"],
            }
        )
        prev["targeted_updates"] = ups
        with open(path, "w") as f:
            json.dump(prev, f, indent=1, sort_keys=True)
        print(json.dumps(entry))
        spark.stop()
        return

    sweep_list = [k for k in SWEEP if only_keys is None or k in only_keys]
    sweep_100x = [k for k in SWEEP_100X if only_keys is None or k in only_keys]
    sweep: dict[str, dict[int, float]] = {}
    rows_by: dict[str, dict[int, int]] = {}
    bites: dict[int, dict] = {}
    ibuilds: dict[int, float] = {}
    full: dict = {}
    refresh_entry: dict | None = None
    sugg = None
    if not targeted:
        # member-level hub-suppression readout — driver testdata, one-time
        sugg = suggestion_recall(spark)
        print(f"suggestion recall: {json.dumps(sugg)}", flush=True)
    # LARGEST point first: the per-point checkpoint then carries the
    # scale-relevant (judged) point even if a later point crashes or
    # the round clock runs out — the failure mode that matters is
    # losing the 100x evidence, not the 3x one. Per-point warm-ups
    # make the order measurement-neutral.
    # Per-POINT single-thread CPU calibration (VERDICT r08 item 2):
    # point retakes have landed in sessions with a measured ~3x wall
    # spread, making cross-session segment slopes unfalsifiable. The
    # reference loop is taken right before each point's timed keys so
    # any slope over mixed sessions can be normalized from the
    # artifact alone.
    from bench import cpu_calib_sec

    calib_by_point: dict[int, float] = {}
    for copies in sorted(points, reverse=True):
        dst = os.path.join(REPO, "_rehearsal", f"x{copies}")
        pert = os.path.join(REPO, "_rehearsal", f"x{copies}_pert")
        point_sweep = sweep_100x if copies > 30 else sweep_list
        pert_keys = [k for k in PERTURBED if k in point_sweep]
        t0 = time.time()
        build(spark, copies, dst, tables=only_tables)
        if pert_keys:
            build_perturbed_docs(spark, copies, pert)
        build_sec = round(time.time() - t0, 1)
        print(f"built {copies}x sf0.1 at {dst} in {build_sec}s", flush=True)

        kg_ingest_sec = 0.0
        index_build_sec = 0.0
        if not targeted:
            # pay the one-time KG snapshot ingest (bucketed write of the
            # scaled graph) outside the per-query timings, and record it
            # separately — in production it is an ingest job, not latency
            t0 = time.time()
            QUERIES["kg_recent_entities"](spark, dst).write.format("noop").mode(
                "overwrite"
            ).save()
            kg_ingest_sec = round(time.time() - t0, 1)
            print(f"kg ingest (one-time, {copies}x): {kg_ingest_sec}s", flush=True)

            # Force-build the shared disk indexes OUTSIDE the sweep
            # timings (same attribution rule as bench.py): the sweep must
            # measure per-query growth, not one-time ingest artifacts.
            from mcp_memory_libsql_spark import registry as reg

            # ALL five shared artifacts, same set as bench._build_indexes:
            # r04 omitted LPA labels + the near-dup pair stream here, so
            # the warm-up paid them silently and their consumers
            # (kg_communities, dedup_semantic_keep) timed as pure
            # index reads with the build cost unattributed. r07: timed
            # PER ARTIFACT — the refresh-vs-rebuild entry needs the
            # single-artifact build walls, and the +20%/round total was
            # unattributable to a specific index before.
            parts: dict[str, float] = {}
            t0 = time.time()
            reg._kg(spark, dst)
            parts["kg_snapshot"] = round(time.time() - t0, 1)
            t0 = time.time()
            reg._nbr_index(spark, dst)
            parts["nbr_postings"] = round(time.time() - t0, 1)
            t0 = time.time()
            reg._lsh_index(spark, dst)
            parts["lsh_signature"] = round(time.time() - t0, 1)
            t0 = time.time()
            reg._lpa(spark, dst)
            parts["lpa_labels"] = round(time.time() - t0, 1)
            t0 = time.time()
            reg._lsh_pairs(spark, dst)
            parts["lsh_neardup_pairs"] = round(time.time() - t0, 1)
            index_build_sec = round(sum(parts.values()), 1)
            print(
                f"index builds ({copies}x): {index_build_sec}s "
                f"{json.dumps(parts)}",
                flush=True,
            )

            ibuilds[copies] = {"total": index_build_sec, **parts}

            # VERDICT r06 item 1: the +1-copy incremental-refresh point.
            # Measured at the 30× point, NOT the largest: the rebuild half
            # needs a second full pair-stream materialization next to the
            # point's existing ~37G index artifacts, and at 100× that
            # second copy + its C(w,2) shuffle spill exceeds the sandbox's
            # ~94G usable disk (measured ENOSPC mid-rebuild; the refresh
            # half alone was fine — 132.5s vs the point's 971.3s build).
            if copies == (30 if 30 in points else max(points)):
                refresh_entry = index_refresh_point(spark, dst, copies)
            bites[copies] = cap_bites(spark, dst)
            print(
                f"cap bites ({copies}x): {json.dumps(bites[copies])}",
                flush=True,
            )

        keys = (
            HEADLINE + HEAVY + [k for k in point_sweep if k not in HEADLINE + HEAVY]
            if copies == anchor and not targeted
            else list(point_sweep)
        )
        # WARM-UP: one untimed pass over every key about to be timed
        # (plus the perturbed twins), so codegen JIT / first-consumer
        # costs can't inflate the first timed op of the point — the
        # bug that gave r04's kg_suggest_weighted a -0.42 "exponent".
        for key in keys:
            _run(spark, key, dst)
        for k in pert_keys:
            _run(spark, k, pert)
        spark.catalog.clearCache()

        calib_by_point[copies] = cpu_calib_sec()
        print(f"calib_sec ({copies}x): {calib_by_point[copies]}", flush=True)

        timings = {}
        for key in keys:
            timings[key] = _run(spark, key, dst)
            print(f"{key} ({copies}x): {timings[key]}s", flush=True)
        for k in point_sweep:
            if k in timings:
                sweep.setdefault(k, {})[copies] = timings[k]
        # VERDICT r06 item 2: the flag-gated xxhash64 fast path
        # (SPARK_GRAFT_FAST_HASH=1 — the 100 TB CPU-bill lever; md5
        # parity pytests pin the flag-off default) measured where the
        # rest of the CPU bill lives: all four md5-bound mining
        # families at the two largest points, not just winnowing. The
        # perturbed-ngram twin gets a flag-on column too (the
        # non-duplicate scaling path). Winnowing also measures at 10×
        # so its fasthash fit has THREE points — r06's 1.089 slope
        # rested on a two-point segment.
        fh_keys = []
        if copies >= 30:
            fh_keys = [
                k
                for k in (
                    "dedup_winnowing",
                    "dedup_ngram_jaccard",
                    "dedup_minhash_lsh_capped",
                    "dedup_substring",
                )
                if k in timings
            ]
        elif copies == 10 and "dedup_winnowing" in timings:
            fh_keys = ["dedup_winnowing"]
        if fh_keys:
            os.environ["SPARK_GRAFT_FAST_HASH"] = "1"
            try:
                for k in fh_keys:
                    _run(spark, k, dst)  # warm the flag-on plan
                    wfh = _run(spark, k, dst)
                    sweep.setdefault(f"{k}_fasthash", {})[copies] = wfh
                    print(f"{k}_fasthash ({copies}x): {wfh}s", flush=True)
                for k in pert_keys:
                    if k not in fh_keys:
                        continue
                    _run(spark, k, pert)
                    wfh = _run(spark, k, pert)
                    sweep.setdefault(f"{k}_perturbed_fasthash", {})[copies] = wfh
                    print(
                        f"{k}_perturbed_fasthash ({copies}x): {wfh}s",
                        flush=True,
                    )
            finally:
                os.environ.pop("SPARK_GRAFT_FAST_HASH", None)
        # the perturbed twins: same op, cross-copy shingle/window
        # sharing engineered away — the pure plan-growth path
        for k in pert_keys:
            w = _run(spark, k, pert)
            sweep.setdefault(f"{k}_perturbed", {})[copies] = w
            print(f"{k}_perturbed ({copies}x): {w}s", flush=True)
            n = QUERIES[k](spark, pert).count()
            rows_by.setdefault(f"{k}_perturbed", {})[copies] = n
            print(f"{k}_perturbed rows ({copies}x): {n}", flush=True)
        for k in COUNT_ROWS & set(timings):
            n = QUERIES[k](spark, dst).count()
            rows_by.setdefault(k, {})[copies] = n
            print(f"{k} rows ({copies}x): {n}", flush=True)
        if copies == anchor and not targeted:
            full = {
                "copies": copies,
                "approx_sf": round(0.1 * copies, 2),
                "build_sec": build_sec,
                "kg_ingest_sec": kg_ingest_sec,
                "index_build_sec": index_build_sec,
                "headline_total_sec": round(
                    sum(v for k, v in timings.items() if k in HEADLINE and v > 0),
                    3,
                ),
                "queries": timings,
            }
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(pert, ignore_errors=True)
        # checkpoint the artifact after EVERY point: a crash at the
        # largest point (the 100x OOM that motivated this) must not
        # lose the completed ones
        _emit(full, points, sweep, rows_by, bites, ibuilds,
              refresh=refresh_entry, sugg=sugg, partial=copies,
              merge=targeted, only_keys=only_keys, calib=calib_by_point)

    # VERDICT r05 item 4 (tail settle): one extra perturbed-docs-ONLY
    # point at 3× the largest for each perturbed twin — the
    # non-duplicate scaling path's last segment rose to slope ~1.26 at
    # 30→100× (r05, ngram) against a 0.977 global fit; a
    # 300×-equivalent point (documents-only corpus, cheap to build)
    # shows whether that segment keeps rising or was a one-point wobble.
    tail_keys = [k for k in PERTURBED if f"{k}_perturbed" in sweep]
    if points and points[-1] >= 100 and tail_keys:
        big = points[-1] * 3
        pert = os.path.join(REPO, "_rehearsal", f"x{big}_pert")
        calib_by_point[big] = cpu_calib_sec()
        print(f"calib_sec ({big}x): {calib_by_point[big]}", flush=True)
        t0 = time.time()
        build_perturbed_docs(spark, big, pert)
        print(f"built {big}x perturbed docs in {round(time.time()-t0,1)}s",
              flush=True)
        for k in tail_keys:
            # one warm pass before timing: the sweep loop runs points
            # largest-first, so the run immediately preceding this block
            # was the SMALLEST point — codegen/JIT is hot from any prior
            # identical-plan run, but the shuffle/memory pools are sized
            # for the small corpus. Warm on the 300x data itself so the
            # timed pass measures the steady state.
            _run(spark, k, pert)
            w = _run(spark, k, pert)
            sweep.setdefault(f"{k}_perturbed", {})[big] = w
            print(f"{k}_perturbed ({big}x): {w}s", flush=True)
            n = QUERIES[k](spark, pert).count()
            rows_by.setdefault(f"{k}_perturbed", {})[big] = n
            print(f"{k}_perturbed rows ({big}x): {n}", flush=True)
        shutil.rmtree(pert, ignore_errors=True)

    _emit(full, points, sweep, rows_by, bites, ibuilds,
          refresh=refresh_entry, sugg=sugg,
          merge=targeted, only_keys=only_keys, calib=calib_by_point)
    spark.stop()


def _emit(full, points, sweep, rows_by, bites, ibuilds, refresh=None,
          sugg=None, partial=None, merge=False, only_keys=None,
          calib=None) -> None:
    out = dict(full)
    out["sweep_points"] = points
    out["growth"] = {
        k: {
            "wall_sec_by_copies": {str(c): t for c, t in v.items()},
            "exponent": _exponent(v),
            "segment_slopes": _segment_slopes(v),
            **(
                {
                    "output_rows_by_copies": {
                        str(c): n for c, n in rows_by[k].items()
                    },
                    "output_rows_exponent": _exponent(
                        {c: float(n) for c, n in rows_by[k].items()}
                    ),
                }
                if k in rows_by
                else {}
            ),
        }
        for k, v in sweep.items()
    }
    out["cap_bites_by_copies"] = {str(c): b for c, b in bites.items()}
    # per-point single-thread CPU reference (VERDICT r08 item 2): lets
    # a reader normalize cross-session segment slopes from the
    # artifact alone (merged point-wise like the walls on --keys runs)
    if calib:
        out["calib_sec_by_copies"] = {str(c): s for c, s in calib.items()}
    if refresh is not None:
        out["index_refresh"] = refresh
    if sugg is not None:
        out["suggestion_recall"] = sugg
    out["index_build_sec_by_copies"] = {str(c): v for c, v in ibuilds.items()}
    # the local-mode heap the run used: local[32] crams every executor
    # thread into ONE JVM, so the default 8g (=250MB/thread) OOMs the
    # 100x postings build's map-side collect_list partials — a sandbox
    # artifact, not a plan defect (a production executor owns a
    # multi-GB heap per a handful of cores). Recorded so walls are
    # comparable across rounds only at the same setting.
    out["driver_mem"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if partial is not None:
        out["partial_through_copies"] = partial
    path = os.path.join(REPO, "SCALE_REHEARSAL.json")
    if merge:
        # targeted --keys rerun: update ONLY the growth entries this
        # run measured; every other section (cap_bites, index builds,
        # refresh point, suggestion recall, anchor headline suite)
        # stays from the last full run. Provenance goes in
        # targeted_updates so mixed-session walls are attributable.
        try:
            with open(path) as f:
                prev = json.load(f)
        except (OSError, ValueError):
            prev = {}
        merged = dict(prev)
        g = dict(prev.get("growth", {}))
        for k, entry in out["growth"].items():
            old = g.get(k)
            if not old:
                g[k] = entry
                continue
            # POINT-WISE merge: a single-point re-take (e.g. a clean
            # 100x after a contaminated one) replaces that point and
            # keeps the others; exponents/slopes recomputed over the
            # merged walls so the fit always reflects every point.
            walls = dict(old.get("wall_sec_by_copies", {}))
            walls.update(entry.get("wall_sec_by_copies", {}))
            w_int = {int(c): t for c, t in walls.items()}
            new_e = {
                "wall_sec_by_copies": walls,
                "exponent": _exponent(w_int),
                "segment_slopes": _segment_slopes(w_int),
            }
            rows = dict(old.get("output_rows_by_copies", {}))
            rows.update(entry.get("output_rows_by_copies", {}))
            if rows:
                r_int = {int(c): float(n) for c, n in rows.items()}
                new_e["output_rows_by_copies"] = rows
                new_e["output_rows_exponent"] = _exponent(r_int)
            g[k] = new_e
        merged["growth"] = g
        cal = dict(prev.get("calib_sec_by_copies", {}))
        cal.update(out.get("calib_sec_by_copies", {}))
        if cal:
            merged["calib_sec_by_copies"] = cal
        merged.pop("partial_through_copies", None)
        if partial is not None:
            merged["partial_through_copies"] = partial
        ups = [
            u
            for u in prev.get("targeted_updates", [])
            if u.get("keys") != (only_keys or [])
        ]
        ups.append(
            {
                "keys": only_keys or [],
                "points": points,
                "driver_mem": out["driver_mem"],
                "measured": sorted(out["growth"]),
                # per-batch box factor: the same reference loop, taken
                # inside THIS batch right before its timed points
                "calib_sec_by_point": out.get("calib_sec_by_copies", {}),
            }
        )
        merged["targeted_updates"] = ups
        out = merged
    out["note"] = (
        "perf-only corpus: key-shifted copies of the provided sf0.1 "
        "tables; all correctness gates run on /root/testdata. "
        "growth.exponent = log-log slope of wall vs corpus size "
        "(1.0 linear; <1 sublinear); segment_slopes = the same slope "
        "per consecutive point pair (tail visibility). Every point "
        "warm-runs each key once before timing. "
        "*_perturbed = same op on a corpus where copies share no "
        "shingles/windows (the non-duplicate scaling path, "
        "word-token-exact perturbation — which also lands inside "
        "every 40-char substring window — with one 3x-the-largest "
        "extra point); output_rows_by_copies separates true-duplicate "
        "output growth from plan growth. *_fasthash = the same point "
        "under SPARK_GRAFT_FAST_HASH=1 (xxhash64) for every md5-bound "
        "mining family (winnowing/ngram(+perturbed)/minhash-capped/"
        "substring; winnowing from 10x for a 3-point fit). "
        "index_refresh = +1-copy incremental refresh vs from-scratch "
        "rebuild of the two heaviest shared indexes at the largest "
        "point (identity pytest- and oracle-pinned). "
        "cap_bites: fat_rate = pre-split over-cap bucket fraction "
        "(split trigger), drop_rate = post-split residual sub-bucket "
        "drops (the actual recall loss, <=10% bar)."
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    if partial is None:
        print(json.dumps({k: v for k, v in out.items() if k != "queries"}))


if __name__ == "__main__":
    main()
