"""Query registry: maps SURVEY.md §2 keys to Spark callables and
DuckDB oracle SQL. ``__spark_entry__.py`` re-exports these for the
driver's correctness gate.

Each callable takes (spark, sf_dir) and returns a DataFrame whose
column names/types match the oracle exactly (the gate sorts columns
by name and hashes values order-insensitively).

Shared artifacts (the KG snapshot, the neighbor and LSH indexes, the
refresh bases, fitted models) come from getters made by
:func:`_artifact`. Each is keyed by (Spark application id, sf_dir,
artifact name) and built once per session on first use. A call from
a new session evicts every other session's entries and deletes their
temp dirs; an atexit hook deletes the rest. They are per-session
BUILD artifacts — the stored index a query reads — never query
results reused across runs. ``_INDEX_BUILDS`` lists the ones bench.py
times as their own lines.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import broadcast

from .analytics import events as ev_ops
from .analytics import tpch
from .io.layout import write_bucketed
from .io.tables import load_tables
from .kg import search as kg_search
from .kg import store as kg_store
from .kg import traverse as kg_traverse
from .kg import views as kg_views
from .oracles_analytics import ORACLES as ANALYTICS_ORACLES
from .oracles_kg import ORACLES as KG_ORACLES
from .oracles_text import ORACLES as TEXT_ORACLES
from .oracles_vector import ORACLES as VECTOR_ORACLES
from .textops import dedup as dd
from .textops import quality as tq
from .vector import knn

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
ORACLES.update(KG_ORACLES)
ORACLES.update(ANALYTICS_ORACLES)
ORACLES.update(VECTOR_ORACLES)
ORACLES.update(TEXT_ORACLES)


def query(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco


# In a real deployment the KG tables are materialized tables written
# by an ingest job, not views re-derived per query. Mirror that: the
# first KG query per (session, sf_dir) derives the tables ONCE and
# writes them as bucketed parquet tables (``_kg``); every query then
# reads the materialized parquet — column-pruned, pushdown-friendly,
# and free of the relations derivation cost (the lineitem⋈orders
# distinct dominated kg_search_nodes in r01's bench). The other shared
# indexes below follow the same rule: build once, read back per query.
#
# One guard for every artifact: without it, two threads racing the
# same key would both build and one tempdir would clobber the other's
# entry, leaking disk until process exit — the same race
# io/tables._SPLIT_LOCK closes for the sf-split cache. RLock because
# builders fetch their dependencies through the getters on the same
# thread (_lsh_pairs → _lsh_signatures + _emb_count).
_ARTIFACTS: dict[tuple[str, str, str], tuple[object, str | None]] = {}
_ARTIFACT_LOCK = threading.RLock()


def _drop_artifacts(keep_app: str | None = None) -> None:
    """Forget every artifact not built by session ``keep_app`` and
    delete its directory. Entries of a previous SparkSession are
    pinned to a stopped context, so a long-lived process that restarts
    sessions would otherwise leak memory and /tmp disk per entry; with
    no argument (the atexit hook) everything goes."""
    for key in [k for k in _ARTIFACTS if k[0] != keep_app]:
        path = _ARTIFACTS.pop(key)[1]
        if path is not None:
            shutil.rmtree(path, ignore_errors=True)


atexit.register(_drop_artifacts)


def _artifact(name: str, disk: bool = True):
    """Turn ``build(spark, sf_dir[, path])`` into a getter
    ``(spark, sf_dir)`` that builds once per (session, sf_dir)
    and caches what the builder returns. A ``disk`` builder gets a
    fresh temp dir to write under; the dir lives as long as the entry.
    Builders fetch their dependencies by calling those getters."""

    def deco(build):
        @functools.wraps(build)
        def get(spark: SparkSession, sf_dir: str):
            app = spark.sparkContext.applicationId
            key = (app, sf_dir, name)
            with _ARTIFACT_LOCK:
                _drop_artifacts(keep_app=app)
                if key not in _ARTIFACTS:
                    path = tempfile.mkdtemp(prefix=f"spark_{name}_") if disk else None
                    args = (spark, sf_dir, path) if disk else (spark, sf_dir)
                    try:
                        value = build(*args)
                    except BaseException:
                        if path is not None:
                            shutil.rmtree(path, ignore_errors=True)
                        raise
                    _ARTIFACTS[key] = (value, path)
                return _ARTIFACTS[key][0]

        get.artifact = name
        return get

    return deco


def _read_back(spark: SparkSession, path: str, *parts: str) -> tuple:
    return tuple(spark.read.parquet(f"{path}/{p}") for p in parts)


def _write_neighbor_index(spark: SparkSession, rel: DataFrame, path: str) -> None:
    """Write the (postings, names, pairs, und) neighbor index of the
    edge set ``rel`` under ``path``. The scored-pair stream (the
    Σ C(w,2) explode + rollup — the family's dominant stage) is
    materialized with the postings, so consumers re-read one parquet
    instead of re-running it."""
    from .kg import similarity

    postings, names = similarity.neighbor_postings(rel)
    postings.write.mode("overwrite").parquet(path + "/postings")
    names.write.mode("overwrite").parquet(path + "/names")
    similarity.scored_pairs(
        spark.read.parquet(path + "/postings")
    ).write.mode("overwrite").parquet(path + "/pairs")
    # the UNcapped undirected distinct edge set (a<b) — the
    # exact-graph artifact the structure rollups (modularity) read;
    # the per-call edge distinct was their whole cost
    (
        rel.where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("a"),
            F.greatest("source", "target").alias("b"),
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(path + "/und")
    )


# Natural join keys: bucketing each KG table on its key makes
# entities⋈observations (name = entity_name) and
# entities⋈relations (name = source) exchange-free.
BUCKET_KEYS = {
    "entities": "name",
    "observations": "entity_name",
    "relations": "source",
}


@_artifact("kg_snapshot_index_build")
def _kg(spark: SparkSession, sf_dir: str, path: str) -> dict[str, DataFrame]:
    # One-time ingest of the three KG tables under the store's SCHEMAS
    # (the oracle gate compares types), each BUCKETED on its natural
    # join key: entity⋈observation attach joins and every
    # per-iteration rank⋈edges join in the graph algorithms read the
    # edge side exchange-free (plan-asserted in tests/test_layout.py)
    # — the ingest-time layout a read-heavy 100 TB KG wants. The
    # tables are EXTERNAL with their data under ``path``, so dropping
    # the artifact reclaims it, and named after ``path``, so two
    # sf_dirs in one session never share a table.
    prefix = "kg_" + hashlib.md5(path.encode()).hexdigest()[:8]
    tables = kg_views.kg(load_tables(spark, sf_dir))
    for t, schema in kg_store.SCHEMAS.items():
        write_bucketed(
            kg_store._conform(tables[t], schema),
            f"{prefix}_{t}",
            [BUCKET_KEYS[t]],
            f"{path}/{t}",
        )
    return {t: spark.table(f"{prefix}_{t}") for t in kg_store.SCHEMAS}


@_artifact("nbr_postings_index_build")
def _nbr_index(spark: SparkSession, sf_dir: str, path: str) -> tuple:
    """Disk-backed (postings, names, scored_pairs, und, sizes)
    neighbor index (kg/similarity.neighbor_postings) — three
    similarity surfaces (kg_similar_entities, kg_suggest_relations,
    kg_suggest_weighted) read a column-pruned scan instead of
    rebuilding the edge shuffle, and an external clearCache() can't
    unpin it. Built un-pruned (RA needs every co-neighbor pair); the
    index's NEIGHBOR_CAP governs — per-query ``cap`` args don't apply
    to the shared artifact."""
    _write_neighbor_index(spark, _kg(spark, sf_dir)["relations"], path)
    # per-entity post-cap index sizes — tiny (one row per entity),
    # stored so the incremental refresh path
    # (kg.refresh.refresh_neighbor_index) starts from a read instead
    # of an O(E) explode-rollup over the postings
    (
        spark.read.parquet(path + "/postings")
        .select(F.explode("ids").alias("m"))
        .select(F.col("m.nid").alias("nid"), F.col("m.sz").alias("sz"))
        .groupBy("nid")
        .agg(F.max("sz").alias("sz"))
        .write.mode("overwrite")
        .parquet(path + "/sizes")
    )
    return _read_back(spark, path, "postings", "names", "pairs", "und", "sizes")


@_artifact("lsh_signature_index_build")
def _lsh_signatures(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from .vector import lsh as _lsh

    emb = load_tables(spark, sf_dir)["embeddings"]
    idx = _lsh.bucketize(emb, dim=64, n_bits=_lsh.MAX_BITS)
    idx.write.mode("overwrite").partitionBy("table_id").parquet(path)
    return spark.read.parquet(path).select("vec_id", "table_id", "sig")


def _lsh_index(spark: SparkSession, sf_dir: str, n_bits: int | None = None):
    """Disk-backed embedding LSH signature index: four serving/dedup
    surfaces (ann_lsh_cosine, vec_lsh_bucket_profile,
    dedup_embedding_lsh, dedup_semantic_keep) share ONE stored index,
    built at the WIDEST signature (lsh.MAX_BITS = 16). Plane seeds are
    per (table, bit), so the low w bits of the stored signature equal
    a w-bit signature exactly — each consumer masks down
    (``sig % 2^w``) to its own width: serving keeps the narrow
    recall-oriented 4 bits, pair mining uses the CORPUS-ADAPTIVE width
    (lsh.width_for_corpus — fixed-width buckets grow linearly with N
    and the mining cap was measurably dropping 100% of buckets by 2×
    sf0.1). At 100 TB this IS the ANN index build, an ingest artifact,
    partitioned by table_id; the row count that picks the width is
    parquet-footer metadata."""
    out = _lsh_signatures(spark, sf_dir)
    if n_bits is not None:
        out = out.withColumn("sig", F.col("sig") % F.lit(1 << n_bits))
    return out


@_artifact("lsh_neardup_pairs_build")
def _lsh_pairs(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Disk-backed scored near-dup pair stream (vec_a, vec_b,
    cosine_sim) at τ=0.4 with the corpus-adaptive signature width —
    the artifact one level above the signature index, exactly like
    the KG scored-pair stream: FOUR dedup surfaces
    (dedup_embedding_lsh, dedup_semantic_keep,
    dedup_semantic_clusters, dedup_semantic_cluster_keep) consume the
    identical pair set, so the bucket join + exact rescore runs once."""
    from .vector import lsh as _lsh

    _lsh.near_dup_pairs_lsh(
        load_tables(spark, sf_dir)["embeddings"],
        threshold=0.4,
        index=_lsh_index(spark, sf_dir, n_bits=_mining_bits(spark, sf_dir, 0.4)),
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@_artifact("emb_count", disk=False)
def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    # corpus size for the adaptive LSH width — one scalar metadata
    # read (parquet row-count footers at scale)
    return load_tables(spark, sf_dir)["embeddings"].count()


def _mining_bits(spark: SparkSession, sf_dir: str, threshold: float) -> int:
    """Effective pair-mining signature width: the threshold floor
    widened to the corpus-adaptive width (lsh.width_for_corpus) —
    mirrored by the COUNT-driven CASE in oracles_vector."""
    from .vector import lsh as _lsh

    return max(
        _lsh.n_bits_for_threshold(threshold),
        _lsh.width_for_corpus(_emb_count(spark, sf_dir)),
    )


# ---------------------------------------------------------------- KG


@query("kg_entities")
def q_kg_entities(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return g["entities"]


@query("kg_observations")
def q_kg_observations(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return g["observations"]


@query("kg_relations")
def q_kg_relations(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return g["relations"]


@query("kg_get_entity")
def q_kg_get_entity(spark, sf_dir):
    g = _kg(spark, sf_dir)
    name = "Customer#000000042"
    e = g["entities"].where(F.col("name") == name)
    o = (
        g["observations"]
        .where(F.col("entity_name") == name)
        .groupBy("entity_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("content")), "|").alias(
                "observations"
            )
        )
    )
    return e.join(broadcast(o), e["name"] == o["entity_name"], "left").select(
        "name", "entity_type", "created_at", "observations"
    )


@query("kg_search_entities")
def q_kg_search_entities(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.search_entities(
        g["entities"], g["observations"], "customer", limit=50
    )


@query("kg_search_fuzzy")
def q_kg_search_fuzzy(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.search_entities(
        g["entities"], g["observations"], "middle east", limit=10
    )


@query("kg_recent_entities")
def q_kg_recent_entities(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.get_recent_entities(g["entities"], 10)


@query("kg_read_graph")
def q_kg_read_graph(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.read_graph(g["entities"], g["relations"], 10)


@query("kg_search_nodes")
def q_kg_search_nodes(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.search_nodes(
        g["entities"], g["observations"], g["relations"], "economy", limit=10
    )


@query("kg_create_entities")
def q_kg_create_entities(spark, sf_dir):
    g = _kg(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    batch_e = t["customer"].where(F.col("c_custkey") <= 5).select(
        F.col("c_name").alias("name"),
        F.lit("vip_customer").alias("entity_type"),
        (F.col("c_custkey") + 20000).cast("bigint").alias("created_at"),
    )
    batch_o = t["customer"].where(F.col("c_custkey") <= 5).select(
        F.col("c_name").alias("entity_name"),
        F.lit("tier=vip").alias("content"),
        (F.col("c_custkey") + 20000).cast("bigint").alias("created_at"),
    )
    e2, _ = kg_store.upsert_entities(
        g["entities"], g["observations"], batch_e, batch_o
    )
    return e2


@query("kg_create_relations")
def q_kg_create_relations(spark, sf_dir):
    g = _kg(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    batch = (
        t["supplier"]
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("s_suppkey") <= 5)
        .select(
            F.col("s_name").alias("source"),
            F.col("n_name").alias("target"),
            F.lit("AUDITED_IN").alias("relation_type"),
        )
    )
    return kg_store.create_relations(g["relations"], batch)


@query("kg_search_entities_full")
def q_kg_search_entities_full(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.search_entities_full(
        g["entities"], g["observations"], "middle east", limit=10
    )


@query("kg_recent_entities_full")
def q_kg_recent_entities_full(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.get_recent_entities_full(g["entities"], g["observations"], 10)


@query("kg_read_graph_entities")
def q_kg_read_graph_entities(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.get_recent_entities_full(g["entities"], g["observations"], 25)


@query("kg_delete_entity")
def q_kg_delete_entity(spark, sf_dir):
    g = _kg(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    names = t["customer"].where(F.col("c_custkey") <= 3).select(
        F.col("c_name").alias("name")
    )
    _, _, r2 = kg_store.delete_entities(
        g["entities"], g["observations"], g["relations"], names
    )
    return r2


@query("kg_delete_relation")
def q_kg_delete_relation(spark, sf_dir):
    g = _kg(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    batch = (
        t["nation"]
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_regionkey") == 0)
        .select(
            F.col("n_name").alias("source"),
            F.col("r_name").alias("target"),
            F.lit("PART_OF").alias("relation_type"),
        )
    )
    return kg_store.delete_relations(g["relations"], batch)


@query("kg_degree")
def q_kg_degree(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.degree(g["relations"])


@query("kg_neighbors_2hop")
def q_kg_neighbors_2hop(spark, sf_dir):
    g = _kg(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    seeds = t["supplier"].where(F.col("s_suppkey") == 1).select(
        F.col("s_name").alias("name")
    )
    return kg_traverse.neighbors_n_hop(g["relations"], seeds, 2)


@query("kg_entity_type_counts")
def q_kg_entity_type_counts(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.entity_type_counts(g["entities"])


# --------------------------------------------------------- analytics


@query("tpch_q1")
def q_tpch_q1(spark, sf_dir):
    return tpch.q1_pricing_summary(load_tables(spark, sf_dir))


@query("tpch_q3")
def q_tpch_q3(spark, sf_dir):
    return tpch.q3_shipping_priority(load_tables(spark, sf_dir))


@query("tpch_q5")
def q_tpch_q5(spark, sf_dir):
    return tpch.q5_local_supplier_volume(load_tables(spark, sf_dir))


@query("events_windowed")
def q_events_windowed(spark, sf_dir):
    return ev_ops.windowed_counts_exact(load_tables(spark, sf_dir), minutes=60)


@query("events_sessionize")
def q_events_sessionize(spark, sf_dir):
    return ev_ops.sessionize(load_tables(spark, sf_dir))


@query("events_topk_users")
def q_events_topk_users(spark, sf_dir):
    return ev_ops.topk_users(load_tables(spark, sf_dir), k=20)


# ------------------------------------------------------------ vector


@query("vec_knn_cosine")
def q_vec_knn_cosine(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.knn_cosine(t["embeddings"], query_vec_id=0, k=20)


@query("vec_knn_dot")
def q_vec_knn_dot(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.knn_dot(t["embeddings"], query_vec_id=0, k=20)


@query("vec_knn_batch")
def q_vec_knn_batch(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    queries_df = t["embeddings"].where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return knn.knn_batch(t["embeddings"], queries_df, k=5)


@query("vec_centroids")
def q_vec_centroids(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.centroids(t["embeddings"])


@query("vec_norms")
def q_vec_norms(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.norm_stats(t["embeddings"])


@query("dedup_embedding")
def q_dedup_embedding(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    # τ=0.4 so the oracle comparison checks non-trivial pairs (the
    # testdata's max pairwise cosine is ~0.51; τ=0.95 matched on an
    # empty result in r01)
    return dd.embedding_near_pairs(t["embeddings"], threshold=0.4)


# ------------------------------------------------------- text / dedup


@query("dedup_exact")
def q_dedup_exact(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.exact_groups(t["documents"])


@query("dedup_ngram_jaccard")
def q_dedup_ngram_jaccard(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.ngram_jaccard_pairs(t["documents"], n=3, threshold=0.1)


@query("dedup_minhash")
def q_dedup_minhash(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.minhash_signatures(t["documents"], n=3)


@query("text_ngram_novelty")
def q_text_ngram_novelty(spark, sf_dir):
    # first-occurrence shingle novelty — the set-level curation
    # signal complementing pairwise dedup; full oracle
    t = load_tables(spark, sf_dir)
    return dd.ngram_novelty(t["documents"], n=3)


@query("text_novelty_keep")
def q_text_novelty_keep(spark, sf_dir):
    # novelty-filter keep list: drop documents whose first-occurrence
    # shingle novelty is below 0.5 — more than half their distinct
    # shingles were already in the corpus. The SET-level dedup cut
    # that pairwise keep-lists miss (a doc stitched from many sources
    # never crosses any single pair threshold); short docs with no
    # shingles pass through un-judged, same convention as the dedup
    # keep-lists. FULL oracle.
    t = load_tables(spark, sf_dir)
    drops = (
        dd.ngram_novelty(t["documents"], n=3)
        .where(F.col("novelty") < 0.5)
        .select("doc_id")
    )
    return (
        t["documents"]
        .join(drops, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


@query("dedup_minhash_lsh")
def q_dedup_minhash_lsh(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.minhash_lsh_candidates(t["documents"], n=3)


@query("dedup_minhash_lsh_capped")
def q_dedup_minhash_lsh_capped(spark, sf_dir):
    # scale-path twin of dedup_minhash_lsh: band buckets bounded at
    # 64 members via the shared fat-bucket SPLIT (not a drop), so a
    # replication-heavy corpus can't blow up the C(g,2) combo stage
    # while true-duplicate pairs inside fat bands largely survive —
    # the same tokenize.split_fat_buckets path the simhash and
    # embedding-LSH miners use, mirrored in the oracle
    t = load_tables(spark, sf_dir)
    return dd.minhash_lsh_candidates(t["documents"], n=3, bucket_cap=64)


@query("dedup_simhash")
def q_dedup_simhash(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.simhash_signatures(t["documents"], n=3)


@query("text_quality")
def q_text_quality(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.quality(t["documents"])


@query("text_tokens")
def q_text_tokens(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.token_counts(t["documents"])


@query("text_langid")
def q_text_langid(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.lang_id(t["documents"])


@query("text_fingerprint")
def q_text_fingerprint(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.fingerprint(t["documents"])


# ---------------------------------------- approximate / multimodal
# (no SQL oracle — rows-only gate; correctness covered in pytest:
# ann recall vs brute force, multimodal feature determinism)

from .multimodal import media as mm  # noqa: E402
from .vector import lsh  # noqa: E402


@query("vec_lsh_bucket_profile")
def q_vec_lsh_bucket_profile(spark, sf_dir):
    # LSH index-health occupancy readout — full oracle (identical
    # md5-seeded index rebuilt in SQL, integer counts only)
    t = load_tables(spark, sf_dir)
    return lsh.bucket_profile(
        t["embeddings"], dim=64, index=_lsh_index(spark, sf_dir, n_bits=4)
    )


@query("ann_lsh_cosine")
def q_ann_lsh_cosine(spark, sf_dir):
    # approximate, but DETERMINISTIC (md5-seeded planes) — fully
    # hash-gated: the oracle embeds the same plane constants
    # (oracles_vector._ann_lsh_oracle); recall floors in pytest
    t = load_tables(spark, sf_dir)
    return lsh.ann_cosine(
        t["embeddings"],
        query_vec_id=0,
        k=10,
        dim=64,
        index=_lsh_index(spark, sf_dir, n_bits=4),
    )


@query("mm_resize_meta")
def q_mm_resize_meta(spark, sf_dir):
    # metadata half of the resize op (pixel transform is the stubbed
    # codec step) — typed-struct manipulation stays JVM-side
    t = load_tables(spark, sf_dir)
    resized = mm.resize_stub(mm.synthesize_media(t["documents"]), 64, 48)
    return resized.select(
        "media_id",
        "kind",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
    )


@query("mm_kind_stats")
def q_mm_kind_stats(spark, sf_dir):
    # decode → aggregate pipeline shape: Arrow-batched feature map,
    # then a JVM-side rollup per media kind
    t = load_tables(spark, sf_dir)
    feats = mm.extract_features(mm.encode_media(t["documents"]))
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.min("n_bytes").cast("int").alias("min_bytes"),
        F.max("n_bytes").cast("int").alias("max_bytes"),
    )


@query("mm_features")
def q_mm_features(spark, sf_dir):
    # payloads are REAL BMP/WAV containers (encode_media) and the
    # worker decode is a real header parse; decode(encode(x)) == x,
    # so the text-derived oracle verifies the parse bit-for-bit
    t = load_tables(spark, sf_dir)
    feats = mm.extract_features(mm.encode_media(t["documents"]))
    # Gate output flattens the frame-hash array to a '|'-joined string:
    # the harness canonicalizes with pandas sort_values, which cannot
    # hash list cells (r01 gate crash). The library API keeps the array.
    return feats.withColumn("frame_hashes", F.array_join("frame_hashes", "|"))


# ----------------------------------------------------- coverage wave 2

from .vector import ivf  # noqa: E402


@query("tpch_q6")
def q_tpch_q6(spark, sf_dir):
    return tpch.q6_forecast_revenue(load_tables(spark, sf_dir))


@query("tpch_q10")
def q_tpch_q10(spark, sf_dir):
    return tpch.q10_returned_items(load_tables(spark, sf_dir))


@query("events_daily")
def q_events_daily(spark, sf_dir):
    return ev_ops.daily_type_counts(load_tables(spark, sf_dir))


@query("events_funnel")
def q_events_funnel(spark, sf_dir):
    return ev_ops.signup_purchase_funnel(load_tables(spark, sf_dir), days=7)


@query("kg_relation_type_counts")
def q_kg_relation_type_counts(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.relation_type_counts(g["relations"])


@query("kg_observation_counts")
def q_kg_observation_counts(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.observation_counts(g["entities"], g["observations"])


@query("kg_pagerank")
def q_kg_pagerank(spark, sf_dir):
    # iterative, but the 5-iteration loop is UNROLLED in the oracle
    # (oracles_kg._PR_BODY) — fully hash-gated; convergence/sum
    # invariants additionally covered in tests/test_kg2.py
    g = _kg(spark, sf_dir)
    return kg_traverse.pagerank(g["relations"], iterations=5)


@query("vec_ivf_ann")
def q_vec_ivf_ann(spark, sf_dir):
    # approximate — rows-only gate; recall vs brute force in pytest
    t = load_tables(spark, sf_dir)
    return ivf.ivf_ann(t["embeddings"], query_vec_id=0, k=10, dim=64)


@query("vec_ivf_cells")
def q_vec_ivf_cells(spark, sf_dir):
    # The IVF coarse quantizer's cell assignment as a FULL-oracle
    # surface (integer-exact label-seeded Lloyd — the vec_kmeans
    # recipe applied to vec_ivf_ann's cells): at scale this IS the
    # ANN table's partition-by-cell layout, so hashing it verifies
    # the data placement; only the serving top-k stays rows-only.
    t = load_tables(spark, sf_dir)
    return ivf.ivf_cells_exact(t["embeddings"])


@query("text_quality_filter")
def q_text_quality_filter(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        tq.quality(t["documents"])
        .where((F.col("n_tokens") >= 30) & (F.col("stopword_ratio") <= 0.2))
        .select("doc_id", "n_tokens", "stopword_ratio")
    )


@query("dedup_keep_docs")
def q_dedup_keep_docs(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    drops = dd.ngram_jaccard_pairs(t["documents"], n=3, threshold=0.5).select(
        F.col("doc_b").alias("doc_id")
    )
    return t["documents"].join(drops, "doc_id", "left_anti").select(
        "doc_id", "n_chars"
    )


# ----------------------------------------------------- coverage wave 3


@query("tpch_q7")
def q_tpch_q7(spark, sf_dir):
    return tpch.q7_volume_shipping(load_tables(spark, sf_dir))


@query("events_retention")
def q_events_retention(spark, sf_dir):
    return ev_ops.weekly_retention(load_tables(spark, sf_dir))


@query("dedup_simhash_pairs")
def q_dedup_simhash_pairs(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.simhash_near_pairs(t["documents"], n=3, max_hamming=6)


@query("dedup_simhash_capped")
def q_dedup_simhash_capped(spark, sf_dir):
    # scale-path twin of dedup_simhash_pairs: chunk buckets with > 64
    # members dropped before the C(g,2) combo stage — the bound a
    # boilerplate-heavy corpus needs (cap semantics mirrored in the
    # oracle; cap-bites behavior pinned in tests/test_text.py)
    t = load_tables(spark, sf_dir)
    return dd.simhash_near_pairs(
        t["documents"], n=3, max_hamming=6, bucket_cap=64
    )


@query("kg_components")
def q_kg_components(spark, sf_dir):
    # iterative HashMin, oracle-gated against a recursive-CTE ground
    # truth (labels are exact strings; 8 rounds > graph diameter, so
    # the propagation has converged); invariants in tests/test_kg2.py
    g = _kg(spark, sf_dir)
    return kg_traverse.connected_components(g["relations"])


@query("tpch_q4")
def q_tpch_q4(spark, sf_dir):
    return tpch.q4_priority_late(load_tables(spark, sf_dir))


@query("dedup_minhash_est")
def q_dedup_minhash_est(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.minhash_jaccard_estimates(t["documents"], n=3)


@query("kg_search_typed")
def q_kg_search_typed(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_search.search_entities(
        g["entities"].where(F.col("entity_type") == "part"),
        g["observations"],
        "economy",
        limit=20,
    )


@query("dedup_embedding_lsh")
def q_dedup_embedding_lsh(spark, sf_dir):
    # approximate (LSH candidates) but DETERMINISTIC — fully
    # hash-gated (oracle embeds the md5-seeded planes); candidate
    # recall vs brute force covered in tests/test_vector.py. τ=0.4
    # like the brute twin so the gate checks non-trivial pairs (the
    # testdata's max pairwise cosine is ~0.51).
    return _lsh_pairs(spark, sf_dir).select("vec_a", "vec_b", "cosine_sim")


@query("ann_recall_eval")
def q_ann_recall_eval(spark, sf_dir):
    # rows-only gate (LSH planes / IVF cells aren't SQL-expressible);
    # recall floors asserted in tests/test_vector.py
    from .vector import evaluate

    t = load_tables(spark, sf_dir)
    return evaluate.recall_eval(t["embeddings"])


# ----------------------------------------------------- coverage wave 5


@query("tpch_q13")
def q_tpch_q13(spark, sf_dir):
    return tpch.q13_customer_distribution(load_tables(spark, sf_dir))


@query("tpch_q14")
def q_tpch_q14(spark, sf_dir):
    return tpch.q14_promo_effect(load_tables(spark, sf_dir))


@query("tpch_q15")
def q_tpch_q15(spark, sf_dir):
    return tpch.q15_top_supplier(load_tables(spark, sf_dir))


@query("tpch_q18")
def q_tpch_q18(spark, sf_dir):
    return tpch.q18_large_orders(load_tables(spark, sf_dir))


@query("events_cohorts")
def q_events_cohorts(spark, sf_dir):
    return ev_ops.weekly_cohorts(load_tables(spark, sf_dir))


@query("text_corpus_stats")
def q_text_corpus_stats(spark, sf_dir):
    return tq.corpus_stats(load_tables(spark, sf_dir)["documents"])


@query("tpch_q16")
def q_tpch_q16(spark, sf_dir):
    return tpch.q16_parts_supplier_count(load_tables(spark, sf_dir))


@query("events_props_stats")
def q_events_props_stats(spark, sf_dir):
    return ev_ops.props_stats(load_tables(spark, sf_dir))


@query("text_top_terms")
def q_text_top_terms(spark, sf_dir):
    return tq.top_terms(load_tables(spark, sf_dir)["documents"], k=50)


@query("kg_isolated")
def q_kg_isolated(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.isolated_entities(g["entities"], g["relations"])


@query("text_chunks")
def q_text_chunks(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.chunk_documents(t["documents"], size=200, stride=160)


@query("text_pack_bins")
def q_text_pack_bins(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.pack_bins(t["documents"], target_chars=2000)


@query("data_shard_plan")
def q_data_shard_plan(spark, sf_dir):
    # corpus-wide greedy shard assignment by token budget (textops/
    # quality.shard_plan): the deterministic two-pass block prefix
    # sum — no global-order window touches the full corpus
    t = load_tables(spark, sf_dir)
    return tq.shard_plan(t["documents"], target_tokens=2000)


@query("data_shard_plan_incremental")
def q_data_shard_plan_incremental(spark, sf_dir):
    # append-only shard planning (textops/quality.
    # shard_plan_incremental): docs >= cutover are planned without
    # re-scanning the old corpus (1-row base-total broadcast); the
    # oracle is the full RECOMPUTE plan filtered to the incoming docs,
    # pinning append ≡ replan
    t = load_tables(spark, sf_dir)
    return tq.shard_plan_incremental(
        t["documents"], target_tokens=2000, cutover=250
    )


@query("text_length_histogram")
def q_text_length_histogram(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.length_histogram(t["documents"], bucket_chars=50)


# TF-IDF model: fitted ONCE per (session, sf_dir) — the serve path
# never refits (an index-build job owns fitting at scale); doc
# vectors persist for reuse across queries.
@_artifact("tfidf_index", disk=False)
def _tfidf_index(spark, sf_dir):
    from .vector import embed

    docs = load_tables(spark, sf_dir)["documents"]
    pipeline = embed.fit_tfidf(docs)
    return pipeline, embed.embed_documents(docs, pipeline).persist()


@query("text_semantic_search")
def q_text_semantic_search(spark, sf_dir):
    # MLlib TF-IDF pipeline — rows-only gate; self-retrieval property
    # covered in tests/test_vector.py. Query text is a parameter (no
    # driver-side collect), embedded through the prefitted model.
    from .vector import embed

    t = load_tables(spark, sf_dir)
    pipeline, doc_vecs = _tfidf_index(spark, sf_dir)
    # Self-heal against an external spark.catalog.clearCache() (bench.py
    # issues one between queries): the cache would otherwise keep
    # handing out an unpersisted handle that recomputes the full
    # transform on every downstream action. persist() on an
    # unpersisted DataFrame just re-registers it.
    lvl = doc_vecs.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        doc_vecs.persist()
    return embed.semantic_search(
        t["documents"],
        "hash join filter on the customer table with vector scan window",
        k=10,
        pipeline=pipeline,
        doc_vecs=doc_vecs,
    )


# ------------------------------------------------- TPC-H completion


@query("tpch_q2")
def q_tpch_q2(spark, sf_dir):
    return tpch.q2_min_cost_supplier(load_tables(spark, sf_dir))


@query("tpch_q8")
def q_tpch_q8(spark, sf_dir):
    return tpch.q8_market_share(load_tables(spark, sf_dir))


@query("tpch_q9")
def q_tpch_q9(spark, sf_dir):
    return tpch.q9_product_profit(load_tables(spark, sf_dir))


@query("tpch_q11")
def q_tpch_q11(spark, sf_dir):
    return tpch.q11_important_parts(load_tables(spark, sf_dir))


@query("tpch_q12")
def q_tpch_q12(spark, sf_dir):
    return tpch.q12_shipmode_priority(load_tables(spark, sf_dir))


@query("tpch_q17")
def q_tpch_q17(spark, sf_dir):
    return tpch.q17_small_quantity_revenue(load_tables(spark, sf_dir))


@query("tpch_q19")
def q_tpch_q19(spark, sf_dir):
    return tpch.q19_discounted_revenue(load_tables(spark, sf_dir))


@query("tpch_q20")
def q_tpch_q20(spark, sf_dir):
    return tpch.q20_excess_shippers(load_tables(spark, sf_dir))


@query("tpch_q21")
def q_tpch_q21(spark, sf_dir):
    return tpch.q21_waiting_suppliers(load_tables(spark, sf_dir))


@query("tpch_q22")
def q_tpch_q22(spark, sf_dir):
    return tpch.q22_global_sales_opportunity(load_tables(spark, sf_dir))


# ------------------------------------- training-data pipeline ops


@query("dedup_clusters")
def q_dedup_clusters(spark, sf_dir):
    # transitive near-dup clusters over the LSH pair graph (HashMin
    # components; 8 rounds exceed any near-dup cluster's diameter)
    t = load_tables(spark, sf_dir)
    return dd.dedup_clusters(t["documents"])


@query("dedup_cluster_keep")
def q_dedup_cluster_keep(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.cluster_canonical_docs(t["documents"])


@query("data_split_assign")
def q_data_split_assign(spark, sf_dir):
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.split_assign(t["documents"])


@query("text_stratified_sample")
def q_text_stratified_sample(spark, sf_dir):
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.stratified_sample(t["documents"])


@query("text_pii_scrub")
def q_text_pii_scrub(spark, sf_dir):
    # synthetic-PII injection + redaction (see sampling module docs:
    # the corpus has no organic PII, so the gate injects its own)
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.pii_scrub(sampling.inject_pii(t["documents"]))


@query("vec_quantize_int8")
def q_vec_quantize_int8(spark, sf_dir):
    from .vector import quant

    t = load_tables(spark, sf_dir)
    return quant.quantize_stats_int8(t["embeddings"])


# ------------------------------------------- window-function family


@query("events_rolling_hour")
def q_events_rolling_hour(spark, sf_dir):
    from .analytics import windows

    return windows.rolling_hour(load_tables(spark, sf_dir))


@query("events_cumsum")
def q_events_cumsum(spark, sf_dir):
    from .analytics import windows

    return windows.cumulative_value(load_tables(spark, sf_dir))


@query("events_gaps")
def q_events_gaps(spark, sf_dir):
    from .analytics import windows

    return windows.event_gaps(load_tables(spark, sf_dir))


@query("part_top_suppliers")
def q_part_top_suppliers(spark, sf_dir):
    from .analytics import windows

    return windows.top_suppliers_per_part(load_tables(spark, sf_dir), k=3)


@query("events_rollup")
def q_events_rollup(spark, sf_dir):
    from .analytics import windows

    return windows.rollup_day_type(load_tables(spark, sf_dir))


@query("events_percentiles")
def q_events_percentiles(spark, sf_dir):
    from .analytics import windows

    return windows.value_percentiles(load_tables(spark, sf_dir))


@query("kg_bfs_depth")
def q_kg_bfs_depth(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.bfs_depths(
        g["relations"], seed="Customer#000000042", max_hops=3
    )


@query("events_enriched")
def q_events_enriched(spark, sf_dir):
    from .streaming import pipeline as stream_pipeline

    t = load_tables(spark, sf_dir)
    return stream_pipeline.enrich_events(
        t["events"], t["customer"], t["nation"]
    )


@query("corpus_curate")
def q_corpus_curate(spark, sf_dir):
    # the composed flagship: quality -> cluster dedup -> sample -> split
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.curate(t["documents"])


@query("mm_frame_sample")
def q_mm_frame_sample(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    # REAL containers: AVI chunk boundaries are the video frames
    return mm.sample_frames(mm.encode_media(t["documents"]), stride=2)


@query("events_user_hll")
def q_events_user_hll(spark, sf_dir):
    # the HLL sketch CONTENT as a FULL-oracle surface (analytics/
    # events.user_hll_registers): portable md5-60 registers, max-
    # mergeable — completes the exact-sketch trio with the Bloom and
    # CMS twins; only the engine-internal approx_count_distinct
    # estimate (events_approx_users) stays rows-only
    t = load_tables(spark, sf_dir)
    return ev_ops.user_hll_registers(t["events"])


@query("events_approx_users")
def q_events_approx_users(spark, sf_dir):
    # rows-only: HLL estimates are engine-specific by nature; the
    # error bound is pytest-gated (test_analytics.py)
    from .analytics import windows

    return windows.approx_user_counts(load_tables(spark, sf_dir))


@query("events_zscores")
def q_events_zscores(spark, sf_dir):
    from .analytics import windows

    return windows.value_outliers(load_tables(spark, sf_dir))


@query("supplier_cooccurrence")
def q_supplier_cooccurrence(spark, sf_dir):
    return tpch.supplier_cooccurrence(load_tables(spark, sf_dir))


@query("events_approx_percentiles")
def q_events_approx_percentiles(spark, sf_dir):
    # rows-only: digest estimates are engine-specific; error bound
    # vs the exact percentiles is pytest-gated (test_analytics.py)
    from .analytics import windows

    return windows.approx_value_percentiles(load_tables(spark, sf_dir))


@query("vec_pq_ann")
def q_vec_pq_ann(spark, sf_dir):
    # rows-only: PQ codebooks are learned — recall bounded in
    # tests/test_vector.py (overlap vs exact L2 top-k)
    from .vector import pq

    t = load_tables(spark, sf_dir)
    return pq.ann_pq(t["embeddings"], query_vec_id=0, k=10, dim=64)


@query("vec_pq_codes")
def q_vec_pq_codes(spark, sf_dir):
    # the PQ ENCODER as a FULL-oracle surface (the vec_ivf_cells
    # recipe applied to the per-subspace codebooks): integer-exact
    # label-seeded Lloyd training + codeword assignment, hash-matched
    # against an unrolled DuckDB CTE; only ADC serving (vec_pq_ann)
    # stays rows-only
    from .vector import pq

    t = load_tables(spark, sf_dir)
    return pq.pq_codes_exact(t["embeddings"], dim=64)


@query("vec_pq_distortion")
def q_vec_pq_distortion(spark, sf_dir):
    # the encoder's quantization-error profile (vector/pq.
    # pq_distortion): per-(subspace, codeword) n/sum/max of the exact
    # integer squared errors — FULL oracle via a GROUP BY over the
    # same unrolled CTE that backs vec_pq_codes
    from .vector import pq

    t = load_tables(spark, sf_dir)
    return pq.pq_distortion(t["embeddings"], dim=64)


@query("text_ngram_counts")
def q_text_ngram_counts(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.ngram_counts(t["documents"], n=2, k=100)


# --- doc↔embedding bridge rollups (analytics/bridge.py) ---

@query("bridge_lang_stats")
def q_bridge_lang_stats(spark, sf_dir):
    from .analytics import bridge

    t = load_tables(spark, sf_dir)
    return bridge.lang_embedding_stats(t["documents"], t["embeddings"])


@query("bridge_label_purity")
def q_bridge_label_purity(spark, sf_dir):
    from .analytics import bridge

    t = load_tables(spark, sf_dir)
    return bridge.label_purity(t["documents"], t["embeddings"])


@query("bridge_centroid_outliers")
def q_bridge_centroid_outliers(spark, sf_dir):
    from .analytics import bridge

    t = load_tables(spark, sf_dir)
    return bridge.lang_centroid_outliers(t["documents"], t["embeddings"], k=20)


# --- temporal operators (analytics/temporal.py): as-of join, range
#     (interval) join, hypertable continuous-aggregate rollup ---

@query("events_asof_attribution")
def q_events_asof_attribution(spark, sf_dir):
    from .analytics import temporal

    t = load_tables(spark, sf_dir)
    return temporal.asof_attribution(t["events"])


@query("events_range_attribution")
def q_events_range_attribution(spark, sf_dir):
    from .analytics import temporal

    t = load_tables(spark, sf_dir)
    return temporal.range_attribution(t["events"], window_secs=21600)


@query("basket_rules")
def q_basket_rules(spark, sf_dir):
    from .analytics import basket

    t = load_tables(spark, sf_dir)
    return basket.association_rules(t["lineitem"], min_pair=2)


@query("vec_pca")
def q_vec_pca(spark, sf_dir):
    from .vector import pca

    t = load_tables(spark, sf_dir)
    return pca.pca_projection(t["embeddings"], k=8)


@query("vec_gram_exact")
def q_vec_gram_exact(spark, sf_dir):
    # integer-exact X^T X upper triangle (vector/pca.gram_exact):
    # the distributed half of vec_pca's sufficient statistic under
    # the hash gate (quantize once to BIGINT, exact product sums; the
    # rows-only part of PCA shrinks to the driver-side eigensolve).
    # FULL oracle.
    from .vector import pca

    t = load_tables(spark, sf_dir)
    return pca.gram_exact(t["embeddings"])


@query("events_heavy_hitters_cms")
def q_events_heavy_hitters_cms(spark, sf_dir):
    from .analytics import sketches

    t = load_tables(spark, sf_dir)
    return sketches.heavy_hitters(t["events"], k=20)


@query("text_decontaminate")
def q_text_decontaminate(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.benchmark_contamination(t["documents"], bench_mod=20, n=3, tau=0.5)


@query("events_mad_outliers")
def q_events_mad_outliers(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.mad_outliers(t["events"], k=3.0)


@query("events_value_histogram_ed")
def q_events_value_histogram_ed(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.value_equidepth_histogram(t["events"], buckets=10)


@query("doc_keywords")
def q_doc_keywords(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.keywords(t["documents"], k=3)


@query("events_funnel_steps")
def q_events_funnel_steps(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.funnel_steps(t["events"])


@query("events_forecast_eval")
def q_events_forecast_eval(spark, sf_dir):
    from .analytics import temporal

    t = load_tables(spark, sf_dir)
    return temporal.seasonal_naive_eval(t["events"])


@query("parts_pareto")
def q_parts_pareto(spark, sf_dir):
    from .analytics import basket

    t = load_tables(spark, sf_dir)
    return basket.revenue_pareto(t["lineitem"])


@query("text_len_token_corr")
def q_text_len_token_corr(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.length_token_corr(t["documents"])


@query("events_ab_test")
def q_events_ab_test(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.ab_value_test(t["events"])


@query("events_seasonality")
def q_events_seasonality(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.seasonality_profile(t["events"])


@query("orders_rfm")
def q_orders_rfm(spark, sf_dir):
    from .analytics import basket

    t = load_tables(spark, sf_dir)
    return basket.rfm_segments(t["orders"])


@query("events_activity_ranks")
def q_events_activity_ranks(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.user_activity_ranks(t["events"])


@query("text_rarity")
def q_text_rarity(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.lexical_rarity(t["documents"], rare_df=2)


@query("kg_similar_minhash")
def q_kg_similar_minhash(spark, sf_dir):
    from .kg import similarity

    g = _kg(spark, sf_dir)
    return similarity.similar_entities_minhash(g["relations"], min_est=0.25)


@query("events_transitions")
def q_events_transitions(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.type_transitions(t["events"])


@query("kg_similar_entities")
def q_kg_similar_entities(spark, sf_dir):
    from .kg import similarity

    g = _kg(spark, sf_dir)
    return similarity.similar_entities(
        g["relations"], threshold=0.1, index=_nbr_index(spark, sf_dir)
    )


@query("events_hypertable")
def q_events_hypertable(spark, sf_dir):
    from .analytics import temporal

    t = load_tables(spark, sf_dir)
    return temporal.hypertable_rollup(t["events"])


@query("text_repetition")
def q_text_repetition(spark, sf_dir):
    from .textops import repetition as rep

    t = load_tables(spark, sf_dir)
    return rep.repetition(t["documents"])


@query("events_user_lifetime")
def q_events_user_lifetime(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.user_lifetime(t)


@query("events_dau_wau")
def q_events_dau_wau(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.dau_wau(t)


@query("events_sliding")
def q_events_sliding(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.sliding_windows(t)


@query("kg_schema_profile")
def q_kg_schema_profile(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.schema_profile(g["entities"], g["relations"])


@query("kg_degree_histogram")
def q_kg_degree_histogram(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.degree_histogram(g["relations"])


@query("kg_triangles")
def q_kg_triangles(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.triangle_stats(g["relations"])


@query("vec_knn_range")
def q_vec_knn_range(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.knn_range(t["embeddings"], query_vec_id=0, threshold=0.2)


@query("dedup_incremental")
def q_dedup_incremental(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.dedup_incremental(t["documents"], prefix_words=6)


@query("dedup_substring")
def q_dedup_substring(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.substring_dup_pairs(t["documents"])


@query("dedup_substring_docs")
def q_dedup_substring_docs(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.substring_dup_coverage(t["documents"])


@query("dedup_substring_star")
def q_dedup_substring_star(spark, sf_dir):
    # output-bounded star twin of dedup_substring: per-SPAN-witness
    # stars (adjacent-window bigram keys — evidence packed into the
    # key, so the keep-independent threshold is 1 and the star
    # PROVABLY preserves the clique-over-spans components, fixing the
    # r07 keep-conditioned min_shared rule) at Σ|postings| output
    # instead of Σ C(|postings|,2) — the scale path for
    # heavily-duplicated corpora, where the rehearsal measured the
    # clique twin's OUTPUT (not its plan) growing ~copies². FULL
    # oracle (adjacent-bigram + min-per-key CTE mirror).
    t = load_tables(spark, sf_dir)
    return dd.substring_dup_star(t["documents"])


@query("dedup_substring_clusters")
def q_dedup_substring_clusters(spark, sf_dir):
    # THE consumer the star twin exists for: HashMin connected
    # components over the span-witness star pair graph — exact
    # keep-list input at linear pair-stream output (rehearsal: star
    # 5.7s vs clique 48.7s at 100×). FULL oracle (recursive-CTE
    # components over the mirrored star SQL).
    t = load_tables(spark, sf_dir)
    return dd.substring_dup_clusters(t["documents"])


@query("dedup_substring_keep")
def q_dedup_substring_keep(spark, sf_dir):
    # corpus after copied-span cluster dedup: drop non-canonical
    # members via broadcast anti-join — the end-to-end 100 TB
    # substring-dedup ship shape (star pairs → components → keep),
    # no stage quadratic in the duplication factor. FULL oracle.
    t = load_tables(spark, sf_dir)
    return dd.substring_keep_docs(t["documents"])


@query("dedup_winnowing_star")
def q_dedup_winnowing_star(spark, sf_dir):
    # same span-witness star reduction over the winnowing fingerprint
    # sequence (run-collapsed adjacent selected fps; the rehearsal
    # measured the clique twin's output exponent at 2.04 on the
    # copies corpus — keep-list consumers only need components). FULL
    # oracle.
    t = load_tables(spark, sf_dir)
    return dd.winnowing_star(t["documents"])


@query("dedup_winnowing_clusters")
def q_dedup_winnowing_clusters(spark, sf_dir):
    # components over the winnowing span-witness star graph — the
    # insertion-robust cluster twin (star 43.0s vs clique 205.0s at
    # 100× in the r07 rehearsal). FULL oracle (recursive CTE).
    t = load_tables(spark, sf_dir)
    return dd.winnowing_dup_clusters(t["documents"])


@query("dedup_winnowing_keep")
def q_dedup_winnowing_keep(spark, sf_dir):
    # corpus after winnowing cluster dedup (broadcast anti-join keep)
    # — closes the star scale path end-to-end. FULL oracle.
    t = load_tables(spark, sf_dir)
    return dd.winnowing_keep_docs(t["documents"])


@query("dedup_bloom")
def q_dedup_bloom(spark, sf_dir):
    # Bloom-filter membership audit vs exact truth — full oracle
    # (bit-identical md5-positioned filter; proves no false negatives)
    t = load_tables(spark, sf_dir)
    return dd.bloom_incremental(t["documents"])


@query("dedup_winnowing")
def q_dedup_winnowing(spark, sf_dir):
    # MOSS winnowing fingerprint pairs — full oracle (identical
    # per-window min selection rebuilt with DuckDB list lambdas)
    t = load_tables(spark, sf_dir)
    return dd.winnowing_pairs(t["documents"])


@query("mm_audio_windows")
def q_mm_audio_windows(spark, sf_dir):
    from .multimodal import media as mm

    t = load_tables(spark, sf_dir)
    # REAL WAV containers; the RIFF walk yields the sample stream
    return mm.audio_windows(mm.encode_media(t["documents"]))


@query("vec_dim_stats")
def q_vec_dim_stats(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.dim_stats(t["embeddings"])


@query("orders_yoy_growth")
def q_orders_yoy_growth(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tpch.yoy_growth(t)


@query("events_winsorize")
def q_events_winsorize(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.winsorize_stats(t)


@query("corpus_curation_report")
def q_corpus_curation_report(spark, sf_dir):
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.curation_report(t["documents"])


@query("events_session_stats")
def q_events_session_stats(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.session_stats(t)


@query("text_lang_confusion")
def q_text_lang_confusion(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.lang_confusion(t["documents"])


@query("text_char_classes")
def q_text_char_classes(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.char_classes(t["documents"])


@query("text_ttr")
def q_text_ttr(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.type_token(t["documents"])


@query("data_mixture_weights")
def q_data_mixture_weights(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.mixture_weights(t["documents"])


@query("events_cusum")
def q_events_cusum(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.daily_cusum(t)


@query("vec_hamming_knn")
def q_vec_hamming_knn(spark, sf_dir):
    from .vector import binary

    t = load_tables(spark, sf_dir)
    queries_df = t["embeddings"].where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return binary.hamming_knn(t["embeddings"], queries_df, k=5)


@query("kg_k_core")
def q_kg_k_core(spark, sf_dir):
    # iterative peel, but the rounds are UNROLLED in the oracle
    # (oracles_kg._KCORE_BODY, 12 materialized rounds) — fully
    # hash-gated; membership/maximality invariants additionally
    # covered in tests/test_kg2.py
    g = _kg(spark, sf_dir)
    return kg_traverse.k_core(g["relations"], k=3)


@query("vec_matryoshka_recall")
def q_vec_matryoshka_recall(spark, sf_dir):
    from .vector import evaluate

    t = load_tables(spark, sf_dir)
    queries_df = t["embeddings"].where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return evaluate.matryoshka_recall(t["embeddings"], queries_df, k=10)


@query("dedup_lsh_eval")
def q_dedup_lsh_eval(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.lsh_eval(t["documents"], threshold=0.5)


@query("mm_image_patches")
def q_mm_image_patches(spark, sf_dir):
    from .multimodal import media as mm

    t = load_tables(spark, sf_dir)
    return mm.image_patches(mm.synthesize_media(t["documents"]))


@_artifact("quality_model", disk=False)
def _quality_model(spark, sf_dir):
    """The fitted (assembler, model) pair — fitted on first use, then
    shared by every call in the session."""
    from .textops import classifier

    return classifier.fit_quality_model(load_tables(spark, sf_dir)["documents"])


@query("text_quality_classifier")
def q_text_quality_classifier(spark, sf_dir):
    # MLlib fit is iterative — no SQL oracle (rows-only gate);
    # accuracy/AUC floors covered in tests/test_text.py
    from .textops import classifier

    t = load_tables(spark, sf_dir)
    return classifier.score_with_model(
        t["documents"], *_quality_model(spark, sf_dir)
    )


@query("kg_entity_neardup")
def q_kg_entity_neardup(spark, sf_dir):
    from .kg import similarity as kg_sim

    g = _kg(spark, sf_dir)
    return kg_sim.entity_name_neardup(g["entities"], threshold=0.6)


@query("kg_merge_entities")
def q_kg_merge_entities(spark, sf_dir):
    from .kg import similarity as kg_sim

    g = _kg(spark, sf_dir)
    return kg_sim.merge_candidates(g["entities"], threshold=0.6)


@query("data_skew_report")
def q_data_skew_report(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tpch.data_skew_report(t)


@query("events_lateness_profile")
def q_events_lateness_profile(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.lateness_profile(t)


@query("dedup_containment")
def q_dedup_containment(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.containment_pairs(t["documents"], threshold=0.5)


@query("kg_growth")
def q_kg_growth(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return (
        g["entities"]
        .groupBy(
            F.expr("created_at div 1000").alias("epoch_bucket"),
            "entity_type",
        )
        .agg(F.count("*").alias("n_entities"))
    )


@query("join_cardinality_report")
def q_join_cardinality_report(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tpch.join_cardinality_report(t)


@query("events_session_paths")
def q_events_session_paths(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.session_paths(t)


@query("mm_scene_cuts")
def q_mm_scene_cuts(spark, sf_dir):
    from .multimodal import media as mm

    t = load_tables(spark, sf_dir)
    # REAL containers: video scene cuts over true AVI frame chunks
    return mm.scene_cuts(mm.encode_media(t["documents"]), stride=1)


@query("orders_ship_latency")
def q_orders_ship_latency(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tpch.ship_latency(t)


@query("text_sample_k_per_lang")
def q_text_sample_k_per_lang(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.sample_k_per_lang(t["documents"], k=50)


@query("text_resample_balanced")
def q_text_resample_balanced(spark, sf_dir):
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.resample_balanced(t["documents"])


@query("events_ab_srm")
def q_events_ab_srm(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.ab_srm_check(t)


@query("events_daily_dense")
def q_events_daily_dense(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.daily_dense(t)


@query("events_type_pivot")
def q_events_type_pivot(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.daily_type_pivot(t)


@query("kg_obs_history")
def q_kg_obs_history(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.observation_history(g["observations"])


@query("tpch_cube")
def q_tpch_cube(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tpch.pricing_cube(t)


@query("dedup_shingle_profile")
def q_dedup_shingle_profile(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.shingle_df_profile(t["documents"])


@query("kg_reciprocity")
def q_kg_reciprocity(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.relation_reciprocity(g["relations"])


@query("events_new_vs_returning")
def q_events_new_vs_returning(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.new_vs_returning(t)


@query("dedup_source_overlap")
def q_dedup_source_overlap(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.source_overlap(t["documents"])


@query("events_sessionize_native")
def q_events_sessionize_native(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.sessionize_native(t)


@query("dedup_inflation")
def q_dedup_inflation(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.dedup_inflation(t["documents"])


@query("kg_assortativity")
def q_kg_assortativity(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.type_assortativity(g["entities"], g["relations"])


@query("text_boilerplate_lines")
def q_text_boilerplate_lines(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tq.boilerplate_lines(t["documents"])


@query("events_peak_concurrency")
def q_events_peak_concurrency(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return ev_ops.peak_concurrency(t)


@query("events_gap_histogram")
def q_events_gap_histogram(spark, sf_dir):
    from .analytics import windows

    return windows.gap_histogram(load_tables(spark, sf_dir))


@query("kg_degree_assortativity")
def q_kg_degree_assortativity(spark, sf_dir):
    g = _kg(spark, sf_dir)
    return kg_traverse.degree_assortativity(g["relations"])


@query("orders_monthly_trend")
def q_orders_monthly_trend(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return tpch.monthly_trend(t)


@query("vec_cosine_distribution")
def q_vec_cosine_distribution(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return knn.cosine_distribution(t["embeddings"])


@query("dedup_cluster_sizes")
def q_dedup_cluster_sizes(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return dd.cluster_size_histogram(t["documents"])


@query("kg_ppr")
def q_kg_ppr(spark, sf_dir):
    # personalized PageRank from the supplier seed set — iterative,
    # but the 5-iteration loop is UNROLLED in the oracle (fully
    # hash-gated, same IEEE discipline as kg_pagerank)
    g = _kg(spark, sf_dir)
    seeds = g["entities"].where(
        F.col("entity_type") == "supplier"
    ).select("name")
    return kg_traverse.personalized_pagerank(
        g["relations"], seeds, iterations=5
    )


# LPA labels are an ingest artifact (like the _kg materialization):
# computed once per (session, sf_dir), persisted, and shared by the
# communities and modularity queries instead of re-propagating 4
# rounds per call.
@_artifact("lpa_labels_index_build", disk=False)
def _lpa(spark, sf_dir) -> tuple[DataFrame, int]:
    # eager localCheckpoint, not persist(): TRUNCATES the lineage, so
    # downstream consumers (kg_modularity's two rollups) plan over a
    # block scan instead of re-deriving the 4 propagation rounds —
    # r03's census showed 22 shuffles in kg_modularity's plan vs ≤9
    # for every other graph op, all lineage inflation. Checkpoint
    # blocks also survive catalog.clearCache() (RDD storage, not SQL
    # cache), so no self-heal repersist needed.
    df = kg_traverse.label_propagation(
        _kg(spark, sf_dir)["relations"], iterations=4
    ).localCheckpoint(eager=True)
    # count once at ingest (a block-scan job over the fresh
    # checkpoint) so modularity's broadcast gate takes the cardinality
    # HINT instead of re-copying + re-counting the artifact per call
    # (r07 ADVICE item)
    return df, df.count()


@query("kg_communities")
def q_kg_communities(spark, sf_dir):
    # deterministic synchronous label propagation, 4 rounds unrolled
    # in the oracle — integer/string math only, fully hash-gated
    return _lpa(spark, sf_dir)[0]


@query("vec_hard_negatives")
def q_vec_hard_negatives(spark, sf_dir):
    # contrastive hard-negative mining — full oracle
    t = load_tables(spark, sf_dir)
    return knn.hard_negatives(t["embeddings"], n_anchors=10, k=5)


@query("text_diversity")
def q_text_diversity(spark, sf_dir):
    # cross-doc n-gram diversity per language — full oracle
    t = load_tables(spark, sf_dir)
    return tq.shingle_diversity(t["documents"], n=3)


@query("text_fertility")
def q_text_fertility(spark, sf_dir):
    # multilingual tokenizer-fertility audit — full oracle
    t = load_tables(spark, sf_dir)
    return tq.tokenizer_fertility(t["documents"])


@query("text_lm_score")
def q_text_lm_score(spark, sf_dir):
    # unigram-LM cross-entropy (perplexity-filter signal) — full
    # oracle via integer-millibit quantization
    t = load_tables(spark, sf_dir)
    return tq.lm_score(t["documents"])


@query("text_diversity_approx")
def q_text_diversity_approx(spark, sf_dir):
    # rows-only: HLL estimates are engine-specific; 2% rsd bound vs
    # the exact twin is pytest-gated (test_text.py)
    t = load_tables(spark, sf_dir)
    return tq.shingle_diversity_approx(t["documents"], n=3)


@query("text_shingle_hll")
def q_text_shingle_hll(spark, sf_dir):
    # the distinct-shingle HLL sketch CONTENT as a FULL-oracle
    # surface (textops/quality.shingle_hll_registers, the
    # events_user_hll recipe over the shingle stream): portable
    # md5-60 registers, max-mergeable across corpus slices; only
    # the engine-internal HLL++ estimate (text_diversity_approx)
    # stays rows-only
    t = load_tables(spark, sf_dir)
    return tq.shingle_hll_registers(t["documents"], n=3)


@query("kg_modularity")
def q_kg_modularity(spark, sf_dir):
    # partition-quality profile of kg_communities — full oracle;
    # reads BOTH ingest artifacts (LPA labels + the materialized
    # undirected edge set) so the per-query plan is one rollup
    labels, n_labels = _lpa(spark, sf_dir)
    return kg_traverse.community_modularity(
        _kg(spark, sf_dir)["relations"],
        iterations=4,
        labels=labels,
        und=_nbr_index(spark, sf_dir)[3],
        # cardinality hint: the labels artifact is checkpointed and
        # counted at ingest — no per-call copy or count job
        n_labels=n_labels,
    )


@query("events_sample_est")
def q_events_sample_est(spark, sf_dir):
    # approximate-query-processing readout: pushdown-able hash sample
    # with decimal-exact scale-up, exact columns alongside for error
    t = load_tables(spark, sf_dir)
    return ev_ops.sample_estimates(t, pct=10)


@query("kg_obs_duplicates")
def q_kg_obs_duplicates(spark, sf_dir):
    # boilerplate-observation hygiene scan — full oracle
    g = _kg(spark, sf_dir)
    return kg_traverse.observation_duplicates(g["observations"])


@query("mm_neardup")
def q_mm_neardup(spark, sf_dir):
    # perceptual (container-invariant) near-dup: the corpus has no
    # near-identical payloads, so the gate injects a deterministic
    # "re-encode" of every 7th media row — fresh container wrapping
    # the text plus one trailing space (id offset 2.1M keeps
    # doc_id % 3, so the variant stays in its kind partition). Exact
    # digests differ; the byte-histogram SimHash pairs them.
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    reenc = (
        docs.where(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" ")))
        .withColumn("doc_id", F.col("doc_id") + F.lit(2100000))
    )
    media = mm.encode_media(docs.unionByName(reenc))
    return mm.media_neardup(media, max_hamming=3)


@query("mm_dedup")
def q_mm_dedup(spark, sf_dir):
    # exact payload dedup; the testdata has no byte-identical docs,
    # so the gate injects a deterministic "re-crawl" copy of every
    # 10th media row (id-offset) — the oracle mirrors the injection,
    # so the collapse logic is exercised on non-trivial groups
    t = load_tables(spark, sf_dir)
    media = mm.synthesize_media(t["documents"])
    recrawl = media.where(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + F.lit(1000000)
    )
    return mm.media_dedup(media.unionByName(recrawl))


@query("kg_context_pack")
def q_kg_context_pack(spark, sf_dir):
    # char-budgeted LLM-context packing of search results (the MCP
    # payload shape, greedily cut to budget) — full oracle
    g = _kg(spark, sf_dir)
    return kg_search.context_pack(
        g["entities"], g["observations"], "economy",
        budget_chars=2000, limit=50,
    )


@query("vec_centroid_drift")
def q_vec_centroid_drift(spark, sf_dir):
    # embedding-drift monitor between vec_id-parity cohorts — full
    # oracle (rounded-before-cosine determinism)
    from .analytics import bridge

    t = load_tables(spark, sf_dir)
    return bridge.centroid_drift(t["embeddings"])


@query("text_dsir_scores")
def q_text_dsir_scores(spark, sf_dir):
    # DSIR-style target-affinity selection score, integer-exact
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.dsir_scores(t["documents"], target_lang="en")


@query("vec_rp_distortion")
def q_vec_rp_distortion(spark, sf_dir):
    # JL random-projection distance-distortion histogram — full
    # oracle (sign matrix embedded in SQL, left-fold float order)
    from .vector import rp

    t = load_tables(spark, sf_dir)
    return rp.rp_distortion(t["embeddings"])


@query("kg_as_of")
def q_kg_as_of(spark, sf_dir):
    # point-in-time read over SCD2 observation intervals — full oracle
    g = _kg(spark, sf_dir)
    return kg_traverse.graph_as_of(
        g["entities"], g["observations"], t=10500
    )


@query("text_bpe_pairs")
def q_text_bpe_pairs(spark, sf_dir):
    # one BPE-training merge step: TF-weighted adjacent char-pair
    # counts over distinct words — full oracle
    from .textops import tokenize as tkz

    t = load_tables(spark, sf_dir)
    return tkz.bpe_merge_candidates(t["documents"], k=50)


@query("text_readability")
def q_text_readability(spark, sf_dir):
    # Flesch-Kincaid grade (education-level curation axis) — full
    # oracle, integer counts + fixed IEEE formula
    t = load_tables(spark, sf_dir)
    return tq.readability(t["documents"])


@query("kg_metapaths")
def q_kg_metapaths(spark, sf_dir):
    # typed 2-hop metapath census via in×out count products — full
    # oracle, never materializes paths
    g = _kg(spark, sf_dir)
    return kg_traverse.metapath_census(g["entities"], g["relations"])


@query("orders_cohort_ltv")
def q_orders_cohort_ltv(spark, sf_dir):
    # money-side cohort matrix, decimal-exact — full oracle
    return tpch.cohort_ltv(load_tables(spark, sf_dir))


@query("vec_ivfpq_ann")
def q_vec_ivfpq_ann(spark, sf_dir):
    # composed IVF+PQ+rescore (FAISS IVFADC shape) — rows-only gate;
    # recall and rescore exactness pytest-bounded
    from .vector import pq

    t = load_tables(spark, sf_dir)
    return pq.ann_ivfpq(t["embeddings"], query_vec_id=0, k=10, dim=64)


@query("supplier_scorecard")
def q_supplier_scorecard(spark, sf_dir):
    # per-supplier late/return scorecard — full oracle
    return tpch.supplier_scorecard(load_tables(spark, sf_dir))


@query("events_conversion_windows")
def q_events_conversion_windows(spark, sf_dir):
    # attribution-window sensitivity sweep, one scan — full oracle
    return ev_ops.conversion_windows(load_tables(spark, sf_dir))


@query("events_type_overlap")
def q_events_type_overlap(spark, sf_dir):
    # audience-overlap Jaccard matrix between event types
    return ev_ops.type_audience_overlap(load_tables(spark, sf_dir))


@query("table_stats")
def q_table_stats(spark, sf_dir):
    # ANALYZE-style column profile (one aggregation pass) — full
    # oracle over the string/bigint table
    from .io import stats

    t = load_tables(spark, sf_dir)
    return stats.column_stats(t["documents"], "documents")


@query("dedup_semantic_keep")
def q_dedup_semantic_keep(spark, sf_dir):
    # SEMANTIC corpus dedup end-to-end: embedding-LSH near-dup pairs
    # (the 100 TB path) → drop the higher id of each pair → surviving
    # documents. The embedding twin of dedup_keep_docs; vec_id is the
    # doc_id (the bridge key every bridge_* op uses).
    t = load_tables(spark, sf_dir)
    drops = _lsh_pairs(spark, sf_dir).select(F.col("vec_b").alias("doc_id"))
    return t["documents"].join(
        F.broadcast(drops.distinct()), "doc_id", "left_anti"
    ).select("doc_id", "lang", "n_chars")


@query("kg_suggest_relations")
def q_kg_suggest_relations(spark, sf_dir):
    # link-prediction suggestion feed (similar but unconnected pairs)
    from .kg import similarity

    g = _kg(spark, sf_dir)
    return similarity.suggest_relations(
        g["relations"], threshold=0.1, k=25, index=_nbr_index(spark, sf_dir)
    )


@query("kg_suggest_weighted")
def q_kg_suggest_weighted(spark, sf_dir):
    # Resource-Allocation (inverse-degree) link prediction — full
    # oracle (sorted-weight fold order mirrored in SQL)
    from .kg import similarity

    g = _kg(spark, sf_dir)
    return similarity.suggest_relations_weighted(
        g["relations"], k=25, index=_nbr_index(spark, sf_dir)
    )


@query("kg_walks")
def q_kg_walks(spark, sf_dir):
    # deterministic DeepWalk corpus generation — full oracle (4 md5-
    # indexed steps unrolled in SQL)
    g = _kg(spark, sf_dir)
    return kg_traverse.random_walks(g["relations"], length=4)


@query("kg_pagerank_full")
def q_kg_pagerank_full(spark, sf_dir):
    # dangling-redistributed PageRank (the published formulation;
    # kg_pagerank keeps the documented leaking variant) — FULL oracle
    # with the 5 damped iterations + per-round dangling sums unrolled
    g = _kg(spark, sf_dir)
    return kg_traverse.pagerank_full(g["relations"], iterations=5)


@query("kg_hits")
def q_kg_hits(spark, sf_dir):
    # integer-exact unnormalized HITS, 2 rounds unrolled in the
    # oracle — full oracle (BIGINT path counts, no double sums)
    g = _kg(spark, sf_dir)
    return kg_traverse.hits(g["relations"], iterations=2)


@query("events_bounce_rate")
def q_events_bounce_rate(spark, sf_dir):
    # daily bounce rate over the verified sessionizer — full oracle
    return ev_ops.bounce_rate(load_tables(spark, sf_dir))


@query("events_user_histogram")
def q_events_user_histogram(spark, sf_dir):
    # heavy-tail activity distribution (log2 buckets) — full oracle
    return ev_ops.user_activity_histogram(load_tables(spark, sf_dir))


@query("events_time_to_convert")
def q_events_time_to_convert(spark, sf_dir):
    # signup→purchase conversion-delay histogram — full oracle
    return ev_ops.time_to_convert(load_tables(spark, sf_dir))


@query("events_ewma")
def q_events_ewma(spark, sf_dir):
    # EWMA adaptive-baseline anomaly scan — full oracle (chronological
    # prefix folds, bit-identical across engines)
    return ev_ops.daily_ewma(load_tables(spark, sf_dir))


@query("data_quality_checks")
def q_data_quality_checks(spark, sf_dir):
    # declarative data-contract report (range/enum/null/FK/uniqueness)
    # — full oracle, one agg pass per table + key-rollup FK check
    from .io.stats import data_quality_checks

    return data_quality_checks(load_tables(spark, sf_dir))


@query("nation_supplier_hhi")
def q_nation_supplier_hhi(spark, sf_dir):
    # Herfindahl supplier-concentration per nation — full oracle
    # (decimal-exact squares, fixed IEEE expression tree)
    return tpch.nation_supplier_hhi(load_tables(spark, sf_dir))


@query("events_user_features")
def q_events_user_features(spark, sf_dir):
    # per-user feature-store row (one shuffle, fixed type set) —
    # full oracle
    return ev_ops.user_features(load_tables(spark, sf_dir))


@query("orders_backlog")
def q_orders_backlog(spark, sf_dir):
    # open-order backlog ±1 sweep — full oracle
    return ev_ops.orders_backlog(load_tables(spark, sf_dir))


@query("kg_obs_staleness")
def q_kg_obs_staleness(spark, sf_dir):
    # memory-staleness histogram — full oracle
    g = _kg(spark, sf_dir)
    return kg_traverse.observation_staleness(
        g["entities"], g["observations"]
    )


@query("kg_suggest_minhash")
def q_kg_suggest_minhash(spark, sf_dir):
    # suggestion feed on the MinHash signature index (scale path)
    from .kg import similarity

    g = _kg(spark, sf_dir)
    return similarity.suggest_relations_minhash(
        g["relations"], min_est=0.25, k=25
    )


@query("vec_knn_outliers")
def q_vec_knn_outliers(spark, sf_dir):
    # k-NN-distance outlier mining over a deterministic sample
    t = load_tables(spark, sf_dir)
    return knn.knn_outliers(t["embeddings"])


# ----------------------------------------------------- coverage wave 4


@query("vec_kmeans")
def q_vec_kmeans(spark, sf_dir):
    # integer-exact Lloyd k-means, 3 unrolled rounds — FULL oracle
    # (oracles_vector._kmeans_oracle: the PageRank discipline applied
    # to clustering; quantized BIGINT math end-to-end)
    from .vector import kmeans

    t = load_tables(spark, sf_dir)
    return kmeans.kmeans_assign(t["embeddings"])


@query("dedup_semantic_clusters")
def q_dedup_semantic_clusters(spark, sf_dir):
    # transitive SEMANTIC near-dup clusters: connected components over
    # the embedding-LSH pair graph (adaptive-width index) — the
    # embedding twin of dedup_clusters; pair-level dedup misses
    # transitivity (A~B, B~C keeps both A and C). FULL oracle
    # (recursive-CTE fixpoint over the mirrored pair SQL).
    from .kg.traverse import connected_components

    pairs = _lsh_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("source"), F.col("vec_b").alias("target")
    )
    cc = connected_components(pairs)
    return cc.select(
        F.col("name").alias("vec_id"), F.col("component").alias("cluster_id")
    )


@query("text_curriculum_order")
def q_text_curriculum_order(spark, sf_dir):
    # per-language curriculum schedule (easy->hard by FK grade, 4
    # contiguous phases) — FULL oracle; the rank window partitions by
    # lang so every stratum sorts in parallel at scale
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.curriculum_order(t["documents"], phases=4)


@query("data_epoch_plan")
def q_data_epoch_plan(spark, sf_dir):
    # integer epoch/repeat plan per source (uniform-by-token target),
    # pure BIGINT per-mille math — FULL oracle
    from .textops import sampling

    t = load_tables(spark, sf_dir)
    return sampling.epoch_plan(t["documents"])


@query("mm_video_stats")
def q_mm_video_stats(spark, sf_dir):
    # per-video frame-size audit over REAL AVI chunk boundaries —
    # FULL oracle (balanced-split sizes mirrored in SQL)
    from .multimodal import media as mm

    t = load_tables(spark, sf_dir)
    return mm.video_stats(mm.encode_media(t["documents"]))


@query("vec_kmeans_profile")
def q_vec_kmeans_profile(spark, sf_dir):
    # per-cluster quality rollup over the k-means assignment:
    # size, exact integer inertia, worst member — the index-health
    # readout for the coarse quantizer (IVF cell balance). FULL
    # oracle (wraps the unrolled-Lloyd SQL).
    from .vector import kmeans

    t = load_tables(spark, sf_dir)
    a = kmeans.kmeans_assign(t["embeddings"])
    return a.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("dist_q").cast("bigint").alias("inertia_q"),
        F.max("dist_q").cast("bigint").alias("max_dist_q"),
    )


@query("bridge_cluster_lang")
def q_bridge_cluster_lang(spark, sf_dir):
    # k-means cluster x language confusion: do embedding clusters
    # track language strata? (vec_id = doc_id bridge key). The
    # cluster-purity readout that decides whether per-cluster
    # sampling quotas duplicate per-lang quotas. FULL oracle.
    from .vector import kmeans

    t = load_tables(spark, sf_dir)
    a = kmeans.kmeans_assign(t["embeddings"]).select("vec_id", "cluster")
    d = t["documents"].select(F.col("doc_id").alias("vec_id"), "lang")
    return (
        a.join(d, "vec_id")
        .groupBy("cluster", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


@query("text_lm_score_bigram")
def q_text_lm_score_bigram(spark, sf_dir):
    # interpolated bigram LM perplexity filter (millibit-quantized,
    # Jelinek-Mercer lambda=0.75) — FULL oracle
    t = load_tables(spark, sf_dir)
    return tq.lm_score_bigram(t["documents"])


@query("text_perplexity_keep")
def q_text_perplexity_keep(spark, sf_dir):
    # perplexity-filter keep list: documents whose bigram-LM cross-
    # entropy is below the CORPUS MEAN — the CCNet "head+middle" cut.
    # The comparison is exact integer cross-multiplication
    # (ce_i·Σn < Σce·n_i) so no float mean ever exists; BIGINT
    # products are lifted to DECIMAL(38,0) (HUGEINT in the oracle)
    # because at 100 TB Σce·n_i overflows int64. FULL oracle.
    t = load_tables(spark, sf_dir)
    # per-doc CE feeds TWO consumers (corpus totals + the keep
    # filter); materialize once or the whole bigram-LM pipeline
    # re-plans per consumer (census read 15 shuffles, now 3)
    ce = (
        tq.lm_score_bigram(t["documents"])
        .select("doc_id", "n_bigrams", "ce_millibits")
        .localCheckpoint(eager=True)
    )
    totals = ce.agg(
        F.sum("ce_millibits").cast("decimal(38,0)").alias("s_ce"),
        F.sum("n_bigrams").cast("decimal(38,0)").alias("s_n"),
    )
    kept = (
        ce.crossJoin(F.broadcast(totals))
        .where(
            F.col("ce_millibits").cast("decimal(38,0)") * F.col("s_n")
            < F.col("s_ce") * F.col("n_bigrams").cast("decimal(38,0)")
        )
        .select("doc_id")
    )
    return t["documents"].join(kept, "doc_id", "leftsemi").select(
        "doc_id", "lang", "n_chars"
    )


@query("dedup_semantic_cluster_keep")
def q_dedup_semantic_cluster_keep(spark, sf_dir):
    # corpus after transitive SEMANTIC dedup: drop every non-canonical
    # cluster member (vec_id != min of its embedding near-dup
    # cluster); singletons pass through. The cluster-level upgrade of
    # dedup_semantic_keep (pairwise drop misses transitivity). FULL
    # oracle; drop set is tiny -> broadcast anti-join.
    members = QUERIES["dedup_semantic_clusters"](spark, sf_dir)
    drops = members.where(F.col("vec_id") != F.col("cluster_id")).select(
        F.col("vec_id").alias("doc_id")
    )
    t = load_tables(spark, sf_dir)
    return t["documents"].join(F.broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


@query("vec_ivf_kmeans_ann")
def q_vec_ivf_kmeans_ann(spark, sf_dir):
    # IVF serving against the integer-exact Lloyd coarse quantizer
    # (vec_kmeans centroids dequantized) — the fit/serve composition
    # an IVF index actually deploys. Approximate: rows-only gate;
    # recall floor vs brute force in pytest.
    from .vector import ivf, kmeans

    t = load_tables(spark, sf_dir)
    cents = kmeans.fit_centroids(t["embeddings"]).select(
        F.col("cluster").alias("cell"),
        F.expr(
            f"transform(q, v -> CAST(v AS DOUBLE) / {kmeans.SCALE})"
        ).alias("centroid"),
    )
    return ivf.ivf_ann(t["embeddings"], query_vec_id=0, k=10, cents=cents)


@query("kg_similar_content")
def q_kg_similar_content(spark, sf_dir):
    # content-based entity similarity: observation-shingle Jaccard
    # (the "talk about the same things" axis, complementing the
    # structural neighbor-overlap of kg_similar_entities) — FULL
    # oracle (same postings/DF-cap plan as dedup_ngram_jaccard)
    from .kg import similarity

    g = _kg(spark, sf_dir)
    return similarity.similar_entities_content(g["observations"])


@query("events_bot_score")
def q_events_bot_score(spark, sf_dir):
    # gap-regularity automation screen (cv of inter-event gaps;
    # integer-exact moments, one fixed-shape float formula) — FULL
    # oracle
    from .analytics import windows

    return windows.bot_scores(load_tables(spark, sf_dir))


@query("events_type_entropy")
def q_events_type_entropy(spark, sf_dir):
    # per-user event-type Shannon entropy (millibit-quantized integer
    # totals) — the diversity half of the automation screen; FULL
    # oracle
    t = load_tables(spark, sf_dir)
    return ev_ops.user_type_entropy(t["events"])


@query("mm_container_audit")
def q_mm_container_audit(spark, sf_dir):
    # container overhead per kind, oracle-recomputed from the exact
    # BMP/WAV/AVI byte-layout formulas — a bit-level codec test
    from .multimodal import media as mm

    t = load_tables(spark, sf_dir)
    return mm.container_audit(mm.encode_media(t["documents"]))


# -------------------------------------------- incremental index refresh
# VERDICT r06 item 1: the two heaviest shared indexes gain batch
# incremental-refresh paths, each gated by a FULL oracle that takes
# the OPPOSITE path (Spark = build on the base slice + refresh with
# the delta slice; DuckDB = one from-scratch build over everything) —
# the data_shard_plan_incremental trick, proving refresh ≡ rebuild
# cross-engine, not just Spark-vs-Spark.


def _refresh_split(rel):
    """Deterministic 95/5 base/delta split of the relations table
    (md5-bucketed on the full edge identity; the oracle needs no
    mirror — it rebuilds from scratch over base∪delta, so ANY split
    hash-matches iff the refresh is exact). The delta OVERLAPS the
    base graph (shared entities, growing groups, changed sizes — at
    sf0.01 thousands of delta edges), so the refresh's general
    signed-merge path is what the gate exercises, not just the
    disjoint-append fast case; cap crossings are pinned separately by
    the synthetic tests in tests/test_refresh.py. 5%% (not the r07
    draft's 20%%): a random 20%% delta made the rewrite set ≈ the
    whole graph, so the gate's wall read as two full pair builds —
    adversarial structure comes from the overlap, not the volume."""
    from .textops.tokenize import md5_hash32

    key = F.concat_ws("|", "source", "target", "relation_type")
    is_delta = F.pmod(md5_hash32(key), F.lit(20)) == 0
    return rel.where(~is_delta), rel.where(is_delta)


def _neardup_split(emb):
    """vec_id%19 base/delta split of the embeddings for
    vec_neardup_refresh: the ~95% base the stored old index is built
    on, and the ~5% delta the refresh merges in."""
    is_delta = F.pmod(F.col("vec_id"), F.lit(19)) == 0
    return emb.where(~is_delta), emb.where(is_delta)


@_artifact("refresh_base_build")
def _refresh_base(spark: SparkSession, sf_dir: str, path: str):
    """Disk-backed BASE-split artifacts for the refresh twins:
    (postings, names, pairs, und) of the md5-bucketed 95%% slice plus
    the 5%% delta slice, read back from parquet — the exact shape of
    the production old index (and heap-free: a persisted pair stream
    OOM'd the vanilla 1g gate session)."""
    base, delta = _refresh_split(_kg(spark, sf_dir)["relations"])
    _write_neighbor_index(spark, base, path)
    delta.write.mode("overwrite").parquet(path + "/delta")
    return _read_back(spark, path, "postings", "names", "pairs", "und", "delta")


@_artifact("neardup_base_build")
def _neardup_base(spark: SparkSession, sf_dir: str, path: str):
    """Disk-backed BASE-split artifacts for vec_neardup_refresh: the
    95% slice's signature index and scored pair stream, read back from
    parquet — the embedding twin of :func:`_refresh_base` (the refresh
    consumes a STORED old index; rebuilding it per invocation timed
    the wrong thing). Width pinned to the GROWN corpus (the refresh
    contract; the oracle's COUNT-driven CASE sees the full table
    either way)."""
    from .vector import lsh as _lsh

    base, _ = _neardup_split(load_tables(spark, sf_dir)["embeddings"])
    bits = _mining_bits(spark, sf_dir, 0.4)
    _lsh.bucketize(base, dim=64, n_bits=bits).write.mode("overwrite").parquet(
        path + "/idx"
    )
    _lsh.near_dup_pairs_lsh(
        base,
        threshold=0.4,
        index=spark.read.parquet(path + "/idx"),
    ).write.mode("overwrite").parquet(path + "/pairs")
    return _read_back(spark, path, "idx", "pairs")


@query("kg_postings_refresh")
def q_kg_postings_refresh(spark, sf_dir):
    # incremental neighbor-index maintenance (kg/refresh.py): build
    # postings on the base 95%, merge the 5% delta through
    # refresh_neighbor_index, emit the exploded index content
    # (nbr, name, sz); oracle = full-graph postings build — FULL
    # oracle for the refresh path itself
    from .kg import refresh as kgr
    from .kg import similarity

    postings, names, pairs, und, delta = _refresh_base(spark, sf_dir)
    new_p, new_n, _, _ = kgr.refresh_neighbor_index(
        postings, names, None, und, delta
    )
    ex = new_p.select("nbr", F.explode("ids").alias("m")).select(
        "nbr", F.col("m.nid").alias("nid"), F.col("m.sz").alias("sz")
    )
    return ex.join(new_n, "nid").select(
        "nbr", "name", F.col("sz").cast("bigint").alias("sz")
    )


@query("kg_pairs_refresh")
def q_kg_pairs_refresh(spark, sf_dir):
    # the signed pair-stream merge: old pairs of the base graph,
    # minus old contributions of rewritten groups, plus new ones,
    # sizes rejoined — vs the oracle's from-scratch full-graph pair
    # rollup; ra_sum stays the raw scaled BIGINT (exact integer
    # merge, the same counter family as the Bloom/CMS/HLL twins).
    # WALL NOTE: the md5-random delta is the refresh's WORST case —
    # random edges touch O(delta) distinct entities whose sz is
    # denormalized into every group holding them, so the rewrite set
    # saturates to ~the whole graph and this gate pays ~2 pair
    # explodes (≈2× a rebuild). That is what the gate is FOR (it
    # exercises the full signed-merge path); the production cost —
    # an entity-disjoint ingest shard, rewrite ∝ delta neighborhood —
    # is measured by SCALE_REHEARSAL's index_refresh entry instead.
    from .kg import refresh as kgr
    from .kg import similarity

    postings, names, pairs, und, delta = _refresh_base(spark, sf_dir)
    _, new_n, new_pairs, _ = kgr.refresh_neighbor_index(
        postings, names, pairs, und, delta
    )
    da = new_n.select(F.col("nid").alias("na"), F.col("name").alias("name_a"))
    db = new_n.select(F.col("nid").alias("nb"), F.col("name").alias("name_b"))
    return (
        new_pairs.join(F.broadcast(da), "na")
        .join(F.broadcast(db), "nb")
        .select(
            # nid order is not name order: re-canonicalize by name
            F.least("name_a", "name_b").alias("entity_a"),
            F.greatest("name_a", "name_b").alias("entity_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.when(F.col("name_a") < F.col("name_b"), F.col("size_a"))
            .otherwise(F.col("size_b"))
            .cast("bigint")
            .alias("size_a"),
            F.when(F.col("name_a") < F.col("name_b"), F.col("size_b"))
            .otherwise(F.col("size_a"))
            .cast("bigint")
            .alias("size_b"),
            F.col("ra_sum").cast("bigint").alias("ra_sum"),
        )
        # output filter only (mirrored in the oracle): the merge runs
        # unfiltered; >=3 keeps the parity payload at ~284k rows at
        # sf0.01 instead of 1.75M
        .where(F.col("n_common") >= 3)
    )


@query("vec_lsh_refresh")
def q_vec_lsh_refresh(spark, sf_dir):
    # incremental ANN signature-index maintenance (vector/lsh.py
    # refresh_index): signatures of the vec_id%5==0 delta appended to
    # the base index; oracle rebuilds every signature from the same
    # md5-seeded planes in SQL — FULL oracle
    from .vector import lsh as _lsh

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    delta = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    old = _lsh.bucketize(base, dim=64)
    return _lsh.refresh_index(old, delta, dim=64).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("table_id").cast("bigint").alias("table_id"),
        F.col("sig").cast("bigint").alias("sig"),
    )


@query("vec_neardup_refresh")
def q_vec_neardup_refresh(spark, sf_dir):
    # incremental maintenance of the scored near-dup PAIR stream
    # (vector/lsh.refresh_pairs — the third shared index gaining a
    # refresh path, after nbr_postings and lsh_signature): the base
    # pair stream of the vec_id%19!=0 95% is merged with the 5%
    # delta; oracle = the FULL from-scratch rebuild over all rows
    # (_neardup_lsh_oracle, the same generated SQL dedup_embedding_lsh
    # gates against) — the hash gate IS the refresh≡rebuild proof.
    # The stored base artifacts are parquet-backed per (session,
    # sf_dir) via _neardup_base — the SAME precedent as the KG
    # refresh twins' _refresh_base: the old index/pair stream is the
    # refresh's production INPUT (a stored artifact), so the timed
    # query is the refresh merge, not a from-scratch base rebuild per
    # invocation (r09; was localCheckpoint per call — ~40s of a 48s
    # wall spent re-deriving the base every bench rep).
    from .vector import lsh as _lsh

    base, delta = _neardup_split(load_tables(spark, sf_dir)["embeddings"])
    old_idx, old_pairs = _neardup_base(spark, sf_dir)
    return _lsh.refresh_pairs(
        old_idx,
        old_pairs,
        base,
        delta,
        threshold=0.4,
        dim=64,
        n_bits=_mining_bits(spark, sf_dir, 0.4),
        # the gate VERIFIES the append-only contract the exactness
        # proof assumes (one early-exit semi probe); production
        # ingest that guarantees disjointness skips the scan
        check_disjoint=True,
    ).select(
        F.col("vec_a").cast("bigint").alias("vec_a"),
        F.col("vec_b").cast("bigint").alias("vec_b"),
        "cosine_sim",
    )


@query("text_semantic_exact")
def q_text_semantic_exact(spark, sf_dir):
    # integer-exact sparse-retrieval twin of text_semantic_search
    # (vector/embed.semantic_search_exact): rational tf/df weights,
    # per-term integer quantization before the sum — the embed+score
    # path under the hash gate; the MLlib cosine serving stays
    # rows-only. FULL oracle.
    from .vector import embed

    t = load_tables(spark, sf_dir)
    return embed.semantic_search_exact(
        t["documents"],
        "hash join filter on the customer table with vector scan window",
        k=10,
    )


@query("index_refresh_plan")
def q_index_refresh_plan(spark, sf_dir):
    # refresh-vs-rebuild GATE decisions for the shared-index
    # artifacts (maintenance.choose_refresh as IN-PLAN arithmetic —
    # pure aggregates + CASE, no driver round-trip; a pytest pins
    # these rows equal to the driver-side function): one row per
    # (artifact, delta regime) with the estimated invalidated
    # fraction, the measured boundary, and the chosen path. The pairs
    # rows demonstrate BOTH measured regimes (the 5% delta saturates
    # the buckets -> rebuild, the 0.2% delta refreshes); the postings
    # rows do the same for the rewrite-set bound. FULL oracle
    # (identical CASE arithmetic over identical counts in SQL).
    from . import maintenance as mx
    from .textops.tokenize import md5_hash32
    from .vector.lsh import MAX_BITS, N_BITS, TARGET_BUCKET

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    g = _kg(spark, sf_dir)
    rel = g["relations"]

    def width_of(n):
        # smallest w in [N_BITS, MAX_BITS] with n <= TARGET_BUCKET*2^w
        expr = F.lit(MAX_BITS)
        for w in range(MAX_BITS - 1, N_BITS - 1, -1):
            expr = F.when(n <= TARGET_BUCKET * (1 << w), w).otherwise(expr)
        return expr

    def emb_row(artifact, kind, mod):
        nb = F.sum((F.pmod("vec_id", F.lit(mod)) != 0).cast("bigint"))
        nd = F.sum((F.pmod("vec_id", F.lit(mod)) == 0).cast("bigint"))
        crossed = width_of(nb) != width_of(nb + nd)
        if kind == "signatures":
            frac = F.when(crossed, F.lit(1.0)).otherwise(F.lit(0.0))
            boundary = F.lit(0.5)
        else:
            frac = F.when(crossed, F.lit(1.0)).otherwise(
                F.least(
                    F.lit(1.0),
                    F.lit(float(TARGET_BUCKET)) * nd / F.greatest(nb, F.lit(1)),
                )
            )
            boundary = F.lit(mx.PAIRS_MAX_TOUCHED_FRAC)
        return emb.agg(
            F.lit(artifact).alias("artifact"),
            nb.alias("n_base"),
            nd.alias("n_delta"),
            F.round(frac, 6).alias("est_frac"),
            boundary.alias("boundary"),
            F.when(F.round(frac, 6) <= boundary, "refresh")
            .otherwise("rebuild")
            .alias("path"),
        )

    def postings_row(artifact, is_delta):
        base = rel.where(~is_delta)
        delta = rel.where(is_delta)
        # und_base feeds BOTH the new-edge anti-join build and the
        # symmetrized posting stream below; left lazy it is planned
        # (scan + O(E) distinct shuffle) once per consumer — the r09
        # plan census read 62 relations scans / 180 HashAggregates for
        # this one query with zero ReusedExchange. A lazy persist lets
        # the cache manager substitute one InMemoryRelation for every
        # occurrence without the extra eager jobs a localCheckpoint
        # would add (the probe is scheduling-bound, not byte-bound);
        # the bench's clearCache between keys reclaims the blocks.
        und_base = (
            base.where(F.col("source") != F.col("target"))
            .select(
                F.least("source", "target").alias("a"),
                F.greatest("source", "target").alias("b"),
            )
            .distinct()
            .persist()
        )
        new_edges = (
            delta.where(F.col("source") != F.col("target"))
            .select(
                F.least("source", "target").alias("a"),
                F.greatest("source", "target").alias("b"),
            )
            .distinct()
            .join(und_base, ["a", "b"], "left_anti")
        )
        # one generate pass instead of union-of-two-selects: the union
        # form re-plans its child per branch (same multiset out)
        endpoints = new_edges.select(
            F.explode(F.array("a", "b")).alias("name")
        ).distinct()
        bidir = und_base.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("name"), F.col("b").alias("nbr")
                    ),
                    F.struct(
                        F.col("b").alias("name"), F.col("a").alias("nbr")
                    ),
                )
            ).alias("e")
        ).select("e.name", "e.nbr")
        # kept feeds the semi-join build AND the n_groups count
        kept = (
            bidir.groupBy("nbr")
            .agg(F.count("*").alias("w"))
            .where(F.col("w") <= 256)
            .persist()
        )
        sizes = (
            bidir.join(kept.select("nbr"), "nbr", "leftsemi")
            .groupBy("name")
            .agg(F.count("*").alias("sz"))
        )
        scalars = (
            endpoints.join(sizes, "name", "left")
            .agg(
                F.count("*").alias("n_endpoints"),
                F.coalesce(F.sum("sz"), F.lit(0)).alias("sz_sum"),
            )
            .crossJoin(kept.agg(F.count("*").alias("n_groups")))
            .crossJoin(base.agg(F.count("*").alias("n_base")))
            .crossJoin(delta.agg(F.count("*").alias("n_delta")))
        )
        frac = F.least(
            F.lit(1.0),
            (F.col("n_endpoints") + F.col("sz_sum"))
            / F.greatest(F.col("n_groups"), F.lit(1)),
        )
        return scalars.select(
            F.lit(artifact).alias("artifact"),
            F.col("n_base").cast("bigint").alias("n_base"),
            F.col("n_delta").cast("bigint").alias("n_delta"),
            F.round(frac, 6).alias("est_frac"),
            F.lit(mx.POSTINGS_MAX_REWRITE_FRAC).alias("boundary"),
            F.when(
                F.round(frac, 6) <= mx.POSTINGS_MAX_REWRITE_FRAC, "refresh"
            )
            .otherwise("rebuild")
            .alias("path"),
        )

    edge_key = F.concat_ws("|", "source", "target", "relation_type")
    dense = F.pmod(md5_hash32(edge_key), F.lit(20)) == 0
    sparse = (F.pmod(md5_hash32(F.col("source")), F.lit(200)) == 0) & (
        F.pmod(md5_hash32(F.col("target")), F.lit(200)) == 0
    )
    return (
        emb_row("lsh_signature", "signatures", 19)
        .unionByName(emb_row("lsh_pairs", "pairs", 19))
        .unionByName(emb_row("lsh_pairs_sparse", "pairs", 500))
        .unionByName(postings_row("nbr_postings", dense))
        .unionByName(postings_row("nbr_postings_sparse", sparse))
    )


@_artifact("lpa_hist_base_build", disk=False)
def _lpa_hist_base(spark, sf_dir):
    """Stored-artifact shape for the LPA refresh twin: the 95% base
    split's per-round label HISTORY (kg/refresh.py
    label_propagation_history — the k·V-label artifact that makes
    fixed-round synchronous LPA refreshable) plus the base symmetric
    edge set, checkpoint-materialized once per (session, sf_dir)."""
    from .kg import refresh as kgr

    base, delta = _refresh_split(_kg(spark, sf_dir)["relations"])
    hist = kgr.label_propagation_history(base, 4).localCheckpoint(eager=True)
    edges = kgr._sym_edges(base).localCheckpoint(eager=True)
    return hist, edges, delta


@query("kg_lpa_refresh")
def q_kg_lpa_refresh(spark, sf_dir):
    # incremental LPA community maintenance (VERDICT r07 item 4,
    # kg/refresh.refresh_lpa_labels): the base 95%'s per-round label
    # history is merged with the 5% delta by DELTA-LOCALIZED
    # re-propagation (affected set grows one hop per round; untouched
    # nodes read their stored round labels), then community sizes
    # rebuilt from the merged final column. Oracle = the from-scratch
    # full-graph kg_communities SQL (4 unrolled rounds) — the
    # opposite-path trick: a hash match proves refresh ≡ rebuild
    # cross-engine. FULL oracle.
    from .kg import refresh as kgr

    hist, edges, delta = _lpa_hist_base(spark, sf_dir)
    new_hist = kgr.refresh_lpa_labels(hist, edges, delta, iterations=4)
    labels = new_hist.select("name", F.col("l4").alias("community"))
    sizes = labels.groupBy("community").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "community").select(
        "name", "community", "community_size"
    )


# The shared builds bench.py times as their own lines, in build order.
_INDEX_BUILDS = (
    _kg,
    _nbr_index,
    _lsh_signatures,
    _lpa,
    _lsh_pairs,
    _refresh_base,
    _neardup_base,
    _lpa_hist_base,
)
