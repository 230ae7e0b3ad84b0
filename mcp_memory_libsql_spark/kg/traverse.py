"""Graph traversal / structure ops (implied by the reference's
"Explore entity relationships" surface, README.md:109).

Scale: degree is one shuffle on entity name with map-side partial
aggregation; n-hop traversal from a small seed set is a chain of
broadcast joins (frontier stays small), so the big relations table
never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..textops.tokenize import md5_hash32, pair_combos


def degree(relations: DataFrame) -> DataFrame:
    """(name, out_degree, in_degree, degree) per entity appearing in
    any relation."""
    out_d = relations.groupBy(F.col("source").alias("name")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = relations.groupBy(F.col("target").alias("name")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "name", "full_outer")
        .select(
            "name",
            F.coalesce("out_degree", F.lit(0)).cast("bigint").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("bigint").alias("in_degree"),
        )
        .withColumn(
            "degree", (F.col("out_degree") + F.col("in_degree")).cast("bigint")
        )
    )


def neighbors(relations: DataFrame, seeds: DataFrame) -> DataFrame:
    """Directed 1-hop neighborhood of a seed name set → (name,)."""
    s = broadcast(seeds.select("name").distinct())
    fwd = relations.join(s, relations["source"] == s["name"], "leftsemi").select(
        F.col("target").alias("name")
    )
    bwd = relations.join(s, relations["target"] == s["name"], "leftsemi").select(
        F.col("source").alias("name")
    )
    return fwd.unionByName(bwd).distinct()


def neighbors_n_hop(
    relations: DataFrame, seeds: DataFrame, hops: int
) -> DataFrame:
    """Entities reachable (undirected) within ``hops`` hops, seeds
    excluded. Frontier-expansion via repeated broadcast joins.

    The frontier/seen sets are localCheckpointed per hop: without the
    cut, hop h's plan embeds h copies of the full relations scan +
    distinct chain (the r02 plan census counted 34 shuffle
    boundaries for the 2-hop query — lineage bloat, not data
    volume), and the broadcast of ``seen`` re-derives the whole
    chain. With the cut each hop's plan is one scan + one distinct
    against a materialized frontier."""
    frontier = seeds.select("name").distinct().localCheckpoint(eager=True)
    seen = frontier
    for _ in range(hops):
        frontier = (
            neighbors(relations, frontier)
            .join(broadcast(seen), "name", "left_anti")
            .localCheckpoint(eager=True)
        )
        seen = (
            seen.unionByName(frontier).distinct().localCheckpoint(eager=True)
        )
    return seen.join(seeds.select("name").distinct(), "name", "left_anti")


def entity_type_counts(entities: DataFrame) -> DataFrame:
    return entities.groupBy("entity_type").agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.min("created_at").alias("oldest"),
        F.max("created_at").alias("newest"),
    )


def relation_type_counts(relations: DataFrame) -> DataFrame:
    return relations.groupBy("relation_type").agg(
        F.count("*").alias("n_relations"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("target").alias("n_targets"),
    )


def observation_counts(entities: DataFrame, observations: DataFrame) -> DataFrame:
    """(name, entity_type, n_observations) — left join so
    observation-less entities report 0, like the reference's
    get_entity returning an empty observations list."""
    counts = observations.groupBy(F.col("entity_name").alias("name")).agg(
        F.count("*").alias("n_obs")
    )
    return entities.join(counts, "name", "left").select(
        "name",
        "entity_type",
        F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_observations"),
    )


def pagerank(relations: DataFrame, iterations: int = 5, damping: float = 0.85) -> DataFrame:
    """PageRank over the relation graph → (name, rank).

    Iterative DataFrame algebra: each step is one shuffle
    (contributions grouped by target). The per-iteration plan is
    identical, so at cluster scale you checkpoint every few steps to
    cut lineage. Deterministic: rank rounded at the end only.

    VARIANT NOTE: dangling nodes (no out-edges — every part/region in
    this KG) do NOT redistribute their mass; it leaks each iteration,
    so ranks sum to < 1 (the Pregel-default simplification, asserted
    in tests). The published fix adds a per-iteration global dangling
    sum back uniformly — one extra scalar aggregate per round; the
    oracle mirrors the leaking variant exactly.
    """
    # Loop invariants persist once — without this every iteration's
    # lineage re-derives the edge distinct (5x the scan+shuffle).
    edges = relations.select("source", "target").distinct().persist()
    nodes = (
        edges.select(F.col("source").alias("name"))
        .unionByName(edges.select(F.col("target").alias("name")))
        .distinct()
        .persist()
    )
    out_deg = edges.groupBy(F.col("source").alias("name")).agg(
        F.count("*").alias("out_degree")
    )
    # out_degree rides ON the edge rows (joined once, persisted) so
    # each iteration is ONE join + one aggregation, not two joins
    edges_w = edges.join(
        out_deg, edges["source"] == out_deg["name"]
    ).select("source", "target", "out_degree")
    n_nodes = nodes.count()  # scalar graph size — drives the teleport term
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0).cast("double"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    # rank map is O(V) ≪ O(E): gated broadcast below the loop gate;
    # above it the cached edge side is co-partitioned on the join key
    # ONCE so each round shuffles only the O(V) map (_loop_edge_side)
    co_part = n_nodes > BROADCAST_LOOP_MAX
    edges_w = _loop_edge_side(edges_w, "source", co_part)
    hint = (lambda df: df) if co_part else broadcast
    for _ in range(iterations):
        contribs = (
            edges_w.join(hint(ranks), edges_w["source"] == ranks["name"])
            .select(
                F.col("target").alias("name"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy("name")
            .agg(F.sum("contrib").alias("in_rank"))
        )
        ranks = (
            nodes.join(contribs, "name", "left")
            .select(
                "name",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce("in_rank", F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("name", F.round("rank", 8).alias("rank"))


def hits(relations: DataFrame, iterations: int = 2) -> DataFrame:
    """Kleinberg HITS → (name, hub_score, authority_score): which
    entities point at the graph's information centers (hubs) and which
    ARE the centers (authorities) — the directed complement of
    :func:`pagerank` over the same relation edges ("Explore entity
    relationships", reference README.md:109).

    This is the UNNORMALIZED integer variant: with all-ones init,
    iteration t's scores are exact BIGINT path counts (authority_t(v)
    = # of alternating back-forth paths of length 2t-1 ending at v),
    so every value is a deterministic integer and the oracle unrolls
    the identical rounds in SQL — no engine-ordered double sums.
    Per-iteration L2 normalization (the convergent variant) only
    rescales each round's ranking, which the integer variant preserves
    round-for-round. 2 rounds of BIGINT headroom bounds
    max_degree^4·|V|; at larger graphs normalize with doubles and gate
    on rank order instead.

    Scale: each half-step is one join + one groupBy on a node key —
    identical shuffle shape to a PageRank step; edge table persisted
    once.
    """
    if iterations < 1:
        raise ValueError("hits() needs at least 1 iteration")
    edges = relations.select("source", "target").distinct().persist()
    nodes = (
        edges.select(F.col("source").alias("name"))
        .unionByName(edges.select(F.col("target").alias("name")))
        .distinct()
        .persist()
    )
    # score maps are O(V) ≪ O(E): same gated broadcast as
    # pagerank_full — checkpointed maps carry no stats, so without the
    # hint the planner shuffles the edge side twice per round. Above
    # the gate the rounds alternate join keys (source for the auth
    # half-step, target for the hub half-step), so the edge side is
    # cached TWICE, once clustered per key (_loop_edge_side) — 2×E
    # cache for zero per-round O(E) shuffles.
    n_nodes = nodes.count()
    co_part = n_nodes > BROADCAST_LOOP_MAX
    edges_src = _loop_edge_side(edges, "source", co_part) if co_part else edges
    edges_tgt = _loop_edge_side(edges, "target", co_part) if co_part else edges
    hint = (lambda df: df) if co_part else broadcast
    hubs = nodes.withColumn("h", F.lit(1).cast("bigint"))
    auths = None
    for _ in range(iterations):
        # authority(v) = Σ h(u) over in-edges (u, v)
        auths = (
            edges_src.join(hint(hubs), edges_src["source"] == hubs["name"])
            .groupBy(F.col("target").alias("name"))
            .agg(F.sum("h").alias("a"))
        )
        auths = nodes.alias("n").join(auths, "name", "left").select(
            "name", F.coalesce("a", F.lit(0)).cast("bigint").alias("a")
        )
        # cut auths BEFORE the hub half-step consumes it: auths has
        # two consumers (this round's hubs + the final join / next
        # round), so an un-cut auths subtree would be planned twice —
        # the same two-consumer duplication pagerank_full's dangling
        # aggregate had (values identical; checkpoint is a plan
        # artifact, r09)
        auths = auths.localCheckpoint(eager=False)
        # hub(u) = Σ a(v) over out-edges (u, v), from THIS round's a
        hubs = (
            edges_tgt.join(hint(auths), edges_tgt["target"] == auths["name"])
            .groupBy(F.col("source").alias("name"))
            .agg(F.sum("a").alias("h"))
        )
        hubs = nodes.join(hubs, "name", "left").select(
            "name", F.coalesce("h", F.lit(0)).cast("bigint").alias("h")
        )
        hubs = hubs.localCheckpoint(eager=False)
    return (
        hubs.join(auths.select("name", "a"), "name")
        .select(
            "name",
            F.col("h").alias("hub_score"),
            F.col("a").alias("authority_score"),
        )
    )


CC_LOCAL_MAX_EDGES = 2_000_000
"""Edge bound for the single-task union-find path: below it the whole
component computation runs as ONE Arrow task (executor-side
mapInPandas over a single partition — NOT a driver collect) instead
of min-label rounds. Why: the r08 A/B measured the HashMin loop at
~0.5s PER ROUND of pure scheduler/broadcast/checkpoint overhead on a
918-node near-dup pair graph that needed 10 rounds (min-label
DISTANCE, not size, sets the round count — chain-shaped duplicate
clusters are common), i.e. 5.9s for microseconds of actual work; the
single task runs the same fixpoint in ~0.3s. A 2M-edge union-find is
~1-2s of Python and ~250 MB in one worker — comfortably single-node,
and every bounded pair stream this engine mines (DF-capped shingle
postings, BUCKET_CAP'd LSH buckets, NEIGHBOR_CAP'd postings) stays
orders of magnitude under it even at the 100× rehearsal point
(450k star pairs). Graphs past the bound take the scale-out HashMin
rounds unchanged — that regime amortizes the per-round overhead."""


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Exact min-label components as ONE Arrow task: union-find over
    the (already symmetric, distinct) edge list, then min member per
    root — identical output to the HashMin fixpoint (both compute
    component = min reachable name; Python str comparison is
    code-point order = Spark's UTF-8 binary order)."""
    from pyspark.sql.types import StructField, StructType

    dt = edges.schema["a"].dataType
    schema = StructType(
        [StructField("name", dt), StructField("component", dt)]
    )

    def cc(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
        roots: dict = {}
        for n in parent:
            r = find(n)
            if r not in roots or n < roots[r]:
                roots[r] = n
        names = list(parent)
        yield pd.DataFrame(
            {"name": names, "component": [roots[find(n)] for n in names]}
        )

    return edges.repartition(1).mapInPandas(cc, schema)


def connected_components(relations: DataFrame, max_iter: int = 50) -> DataFrame:
    """Undirected connected components via min-label propagation
    → (name, component) where component = lexicographic min name
    reachable. Runs TO CONVERGENCE (fixpoint — no label changed), so
    the result equals the oracle's exact recursive closure on any
    graph shape; ``max_iter`` is only the runaway bound (min-label
    distance can exceed a fixed round count on chain graphs, which
    would silently diverge). Each step is one shuffle (min over
    neighbor labels), lineage cut with localCheckpoint; convergence
    is detected by an ``observe()`` metric collected DURING the
    checkpoint materialization itself — ONE job per round, no
    separate driver-side count action (the r02 census flagged the
    per-round ``.count()``s; at 1000 executors each extra job is a
    scheduler round-trip). Bounded graphs (≤ CC_LOCAL_MAX_EDGES,
    measured on the materialized edge set) skip the rounds entirely
    and run the identical fixpoint as one Arrow task — see
    :data:`CC_LOCAL_MAX_EDGES` for the measured rationale."""
    from pyspark.sql import Observation
    fwd = relations.select(F.col("source").alias("a"), F.col("target").alias("b"))
    bwd = relations.select(F.col("target").alias("a"), F.col("source").alias("b"))
    edges = fwd.unionByName(bwd).distinct().persist()
    n_edges = edges.count()
    if n_edges <= CC_LOCAL_MAX_EDGES:
        out = _cc_single_task(edges)
        # the persist must outlive the lazy consumer; localCheckpoint
        # materializes the (small) result so edges can release
        out = out.localCheckpoint(eager=True)
        edges.unpersist()
        return out
    labels = edges.select(F.col("a").alias("name")).distinct().withColumn(
        "component", F.col("name")
    )
    # component map is O(V) ≪ O(E): gated broadcast below the loop
    # gate; above it the cached edge side is co-partitioned on the
    # join key once so each round shuffles only the O(V) map
    n_nodes = labels.count()
    co_part = n_nodes > BROADCAST_LOOP_MAX
    edges_a = _loop_edge_side(edges, "a", co_part) if co_part else edges
    hint = (lambda df: df) if co_part else broadcast
    for _ in range(max_iter):
        neighbor_min = (
            edges_a.join(hint(labels), edges_a["a"] == labels["name"])
            .groupBy(F.col("b").alias("name"))
            .agg(F.min("component").alias("nbr_component"))
        )
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, "name", "left")
            .select(
                "name",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
                F.col("component").alias("_prev"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("_prev")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.drop("_prev")
        if (obs.get["changed"] or 0) == 0:
            break
    return labels


def isolated_entities(entities: DataFrame, relations: DataFrame) -> DataFrame:
    """Entities with no incident relation (neither source nor target)
    — the orphan audit a graph-store operator runs after bulk deletes.
    The endpoint set is a distinct union (partial-agg shuffle on
    name); the anti-join shuffles entities on the same key, so the
    two stages co-partition."""
    endpoints = (
        relations.select(F.col("source").alias("name"))
        .unionByName(relations.select(F.col("target").alias("name")))
        .distinct()
    )
    return entities.join(endpoints, "name", "left_anti")


def bfs_depths(
    relations: DataFrame, seed: str, max_hops: int = 3
) -> DataFrame:
    """Undirected BFS from ``seed`` → (name, depth) with depth = min
    hops ≤ ``max_hops``. Frontier expansion: each round broadcasts
    the (small) new frontier into the edge table, so the edge side
    never shuffles; visited-set dedup is a broadcast anti-join. The
    classic iterative-BFS-on-Spark shape (GraphX Pregel without the
    framework)."""
    spark = relations.sparkSession
    fwd = relations.select(F.col("source").alias("a"), F.col("target").alias("b"))
    bwd = relations.select(F.col("target").alias("a"), F.col("source").alias("b"))
    edges = fwd.unionByName(bwd).distinct()
    depths = spark.createDataFrame([(seed, 0)], "name string, depth int")
    frontier = depths.select("name")
    for hop in range(1, max_hops + 1):
        neighbors = (
            edges.join(broadcast(frontier), edges["a"] == frontier["name"])
            .select(F.col("b").alias("name"))
            .distinct()
        )
        fresh = neighbors.join(
            broadcast(depths.select("name")), "name", "left_anti"
        ).select("name", F.lit(hop).cast("int").alias("depth"))
        fresh = fresh.localCheckpoint(eager=True)
        if fresh.isEmpty():
            break
        depths = depths.unionByName(fresh)
        frontier = fresh.select("name")
    return depths


def schema_profile(entities: DataFrame, relations: DataFrame) -> DataFrame:
    """Typed adjacency summary: (source_type, relation_type,
    target_type, n_edges, n_sources, n_targets) — the graph-schema
    profile an ingest audit runs to see which entity classes connect
    how. Two broadcast joins against the (tiny relative to edges)
    entities dim, then one partial-agg shuffle on a key space bounded
    by |types|² × |relation types| — constant-size output at any edge
    count."""
    src_t = entities.select(
        F.col("name").alias("source"), F.col("entity_type").alias("source_type")
    )
    tgt_t = entities.select(
        F.col("name").alias("target"), F.col("entity_type").alias("target_type")
    )
    return (
        relations.join(broadcast(src_t), "source")
        .join(broadcast(tgt_t), "target")
        .groupBy("source_type", "relation_type", "target_type")
        .agg(
            F.count("*").alias("n_edges"),
            F.count_distinct("source").alias("n_sources"),
            F.count_distinct("target").alias("n_targets"),
        )
    )


def degree_histogram(relations: DataFrame) -> DataFrame:
    """(degree, n_entities) — the degree distribution over the
    undirected degree of every entity incident to an edge. Two
    partial-agg shuffles (entity, then degree), both fully map-side
    combined; the second key space is O(max degree)."""
    return (
        degree(relations)
        .groupBy("degree")
        .agg(F.count("*").alias("n_entities"))
    )


TRIANGLE_DEG_CAP = 64
# Largest label map community_modularity will broadcast: ~10M
# (name, community) rows ≈ a few hundred MB serialized — the
# practical executor/driver broadcast ceiling. Beyond it the label
# joins fall back to the planner's shuffle strategy.
BROADCAST_LABEL_MAX = 10_000_000
# Tighter gate for PER-ROUND broadcasts inside iterative loops
# (PageRank/HITS/components/k-core/LPA): successive rounds' broadcast
# hash relations coexist in executor heaps until the old plans are
# GC'd, so an N-round loop can hold ~N live relations where a one-shot
# broadcast (modularity's label map) holds one. 2M rows ≈ 200-300 MB
# hashed — a few of those fit any sane executor heap; 10M × several
# rounds OOM'd the 8g local rehearsal driver at the 100× point (4M
# nodes), which is exactly the hazard a 1000-executor cluster would
# hit per-executor.
BROADCAST_LOOP_MAX = 2_000_000
# pagerank_full lineage-cut cadence, in rounds. The dangling-mass
# aggregate makes each round's ranks a TWO-consumer node (next round's
# dm + next round's contribs join); an un-checkpointed round is
# therefore planned twice downstream, so the cadence trades checkpoint
# materializations against duplicated O(E) joins. Measured in
# OPTIMIZATION_r09.md — see the call site.
PAGERANK_CKPT_EVERY = 1


def _loop_edge_side(edges: DataFrame, key: str, co_partition: bool) -> DataFrame:
    """Persist the loop-invariant O(E) side of an iterative join.

    Below BROADCAST_LOOP_MAX the per-round O(V) map is broadcast, so
    the edge side is cached as-is. ABOVE the gate the old fallback let
    the planner re-shuffle the edge side EVERY round — the per-round
    map is checkpointed and stats-less, so each iteration planned a
    fresh symmetric shuffle join: O(E) re-shuffled `iterations` times,
    the structural 100 TB scale-killer (VERDICT r08 item 4). Instead,
    hash-partition the edge side ONCE on the per-round join key before
    caching: the cached InMemoryRelation keeps its outputPartitioning
    (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning stays
    at its false default), so every round's EnsureRequirements finds
    the O(E) child already clustered on the key and inserts an
    exchange only for the O(V) map side — per-iteration shuffle drops
    from O(E) to O(V)."""
    if co_partition:
        edges = edges.repartition(key)
    return edges.persist()


def triangle_stats(relations: DataFrame, cap: int = TRIANGLE_DEG_CAP) -> DataFrame:
    """One-row global triangle census over the hub-capped undirected
    graph → (n_nodes, n_edges, n_wedges, n_closed, n_triangles,
    clustering). ``clustering`` is the global clustering coefficient
    (closed wedges / all wedges); ``n_triangles = n_closed / 3``
    exactly, since every triangle closes one wedge at each vertex.

    Implied by the reference's "Explore entity relationships" surface
    (README.md:109): triangle density is the standard cohesion
    measure over the same relations table the traversal ops read.

    Scale: hubs (degree > ``cap``) are dropped first — a hub of
    degree d contributes C(d, 2) wedges, so the cap is THE bound that
    keeps wedge volume ≤ C(cap, 2)·N instead of quadratic in the hub
    width (same role as DF_CAP in the dedup postings). Wedges are
    generated in-row from sorted adjacency lists (one shuffle builds
    the lists, sizes ≤ cap by construction) and closed by one join
    against the capped edge set — no all-pairs anywhere.

    ``n_butterflies`` counts 2×2 bicliques / 4-cycles
    (Σ C(support, 2) over wedge-endpoint pairs, halved: every
    rectangle is seen once per diagonal — the standard 4-cycle count
    formula): the KG projection is near-bipartite
    (customer–part, entity–nation, nation–region), where triangles
    are structurally impossible but butterflies are the standard
    cohesion motif — so the census stays informative on both graph
    shapes. Butterfly support reuses the SAME wedge stream (one
    extra partial-agg shuffle on the endpoint pair).
    """
    e = (
        relations.select(
            F.least("source", "target").alias("a"),
            F.greatest("source", "target").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.selectExpr("a AS n", "b AS m").unionByName(
        e.selectExpr("b AS n", "a AS m")
    )
    keep = (
        und.groupBy("n")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") <= cap)
        .select("n")
    )
    # localCheckpoint (not persist): five census branches consume e2 /
    # wedges, and with persist each branch's PLAN still embeds the
    # whole distinct+cap lineage (68 shuffle boundaries in the r02
    # census — static plan bloat; runtime was fine). The checkpoint
    # truncates lineage so every branch plans from the materialized
    # partitions.
    e2 = (
        e.join(keep.withColumnRenamed("n", "a"), "a")
        .join(keep.withColumnRenamed("n", "b"), "b")
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    und2 = e2.selectExpr("a AS n", "b AS m").unionByName(
        e2.selectExpr("b AS n", "a AS m")
    )
    adj = und2.groupBy("n").agg(F.sort_array(F.collect_list("m")).alias("ms"))
    combos = pair_combos("ms", "x", "y")
    wedges = adj.select(F.explode(combos).alias("p")).select(
        F.col("p.x").alias("x"), F.col("p.y").alias("y")
    ).localCheckpoint(eager=True)
    nn = keep.agg(F.count("*").alias("n_nodes"))
    ne = e2.agg(F.count("*").alias("n_edges"))
    nw = wedges.agg(F.count("*").alias("n_wedges"))
    nc = wedges.join(
        e2, (wedges["x"] == e2["a"]) & (wedges["y"] == e2["b"])
    ).agg(F.count("*").alias("n_closed"))
    nb = (
        wedges.groupBy("x", "y")
        .agg(F.count("*").alias("c"))
        # halve: each 4-cycle contributes C(2,2) once per DIAGONAL
        # (endpoints {x,y} with two centers, and endpoints = the two
        # centers with {x,y} as their common neighbors)
        .agg(
            (F.sum(F.expr("c * (c - 1) DIV 2")) / 2)
            .cast("bigint")
            .alias("n_butterflies")
        )
    )
    return (
        nn.crossJoin(ne)
        .crossJoin(nw)
        .crossJoin(nc)
        .crossJoin(nb)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_closed",
            F.expr("n_closed DIV 3").alias("n_triangles"),
            F.col("n_butterflies").cast("bigint").alias("n_butterflies"),
            F.round(F.col("n_closed") / F.col("n_wedges"), 6).alias("clustering"),
        )
    )


def k_core(relations: DataFrame, k: int = 3, max_iter: int = 20) -> DataFrame:
    """k-core decomposition of the undirected relation graph →
    (name, core_degree): the maximal subgraph where every node keeps
    ≥ k neighbors, the standard dense-region extractor (spam rings,
    tight entity clusters) the degree rollup alone can't find.

    Iterative peel: drop nodes with degree < k, recompute degrees on
    the induced subgraph, repeat to fixpoint. Each round is one
    semi-join + one degree agg — the same shuffle shape as HashMin
    components above, with localCheckpoint cutting lineage. Converges
    in ≤ max_iter rounds or stops early when no node was peeled —
    detected by an ``observe()`` row-count metric collected during
    the checkpoint job itself, so each round is ONE job with no
    extra driver-side count actions (r02 census note).

    Distinct undirected neighbor pairs (not parallel edges) define
    degree, matching the classic definition."""
    from pyspark.sql import Observation

    edges = (
        relations.select("source", "target")
        .where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("a"),
            F.greatest("source", "target").alias("b"),
        )
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    live = sym  # (a, b) adjacency of the current induced subgraph
    # keep-set is O(V) ≪ O(E) and only shrinks while peeling: gate the
    # per-round broadcast on the INITIAL node count (an upper bound
    # for every round), same rationale as pagerank_full's rank map —
    # without the hint both induced-subgraph joins shuffle live edges
    n_nodes = sym.select("a").distinct().count()
    hint = broadcast if n_nodes <= BROADCAST_LOOP_MAX else (lambda df: df)
    prev_rows = None  # unknown until the first materialization
    for _ in range(max_iter):
        deg = live.groupBy("a").agg(F.count("*").alias("core_degree"))
        keep = deg.where(F.col("core_degree") >= k)
        obs = Observation()
        nxt = (
            live.join(hint(keep.select("a")), "a")
            .join(
                hint(keep.select(F.col("a").alias("b"))),
                "b",
            )
            .observe(obs, F.count(F.lit(1)).alias("rows"))
            .localCheckpoint(eager=True)
        )
        rows = obs.get["rows"]
        live = nxt
        if rows == prev_rows:
            break
        prev_rows = rows
    return (
        live.groupBy(F.col("a").alias("name"))
        .agg(F.count("*").alias("core_degree"))
        .where(F.col("core_degree") >= k)
    )


def observation_history(observations: DataFrame) -> DataFrame:
    """SCD2-style validity intervals over each entity's observation
    feed → (entity_name, content, valid_from, valid_to, is_current):
    every observation is valid from its created_at until the entity's
    NEXT observation arrives (NULL = still current) — the
    point-in-time view a memory store needs to answer "what did we
    know about X at time T" (the query GraphStore's snapshot
    time-travel answers at table level, expressed here at row level).

    One window per entity (lead over created_at with a content
    tiebreak for equal timestamps) — parallel across entities, no
    other shuffle."""
    w = Window.partitionBy("entity_name").orderBy("created_at", "content")
    nxt = F.lead("created_at").over(w)
    return observations.select(
        "entity_name",
        "content",
        F.col("created_at").cast("bigint").alias("valid_from"),
        nxt.cast("bigint").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def relation_reciprocity(relations: DataFrame) -> DataFrame:
    """Per-type reciprocity → (relation_type, n_edges, n_reciprocal,
    reciprocity): how many distinct directed edges have a reverse
    edge of the SAME type — the graph-health metric that separates
    naturally symmetric relations (SIMILAR_TO) from hierarchies
    (PART_OF), and flags ingest bugs that double-write both
    directions. Distinct edge set self-joined on the swapped key —
    both sides hash-partition on the same (source, target) domain."""
    e = relations.select("source", "target", "relation_type").distinct()
    rev = e.select(
        F.col("target").alias("source"),
        F.col("source").alias("target"),
        "relation_type",
    )
    recip = e.join(rev, ["source", "target", "relation_type"]).groupBy(
        "relation_type"
    ).agg(F.count("*").alias("n_reciprocal"))
    totals = e.groupBy("relation_type").agg(F.count("*").alias("n_edges"))
    return totals.join(recip, "relation_type", "left").select(
        "relation_type",
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.coalesce("n_reciprocal", F.lit(0)).cast("bigint").alias("n_reciprocal"),
        F.round(
            F.coalesce("n_reciprocal", F.lit(0)) / F.col("n_edges"), 6
        ).alias("reciprocity"),
    )


def type_assortativity(entities: DataFrame, relations: DataFrame) -> DataFrame:
    """Per-relation-type mixing profile → (relation_type, n_edges,
    n_same_type, same_type_frac): how often an edge connects entities
    of the SAME type — the assortativity readout that distinguishes
    intra-class relations (entity↔entity of one kind) from
    cross-class structure (customer→nation), and catches
    miscategorized ingests (a LOCATED_IN edge between two customers).

    The (name → type) map joins onto each endpoint — at 100 TB the
    entity dim shuffles once per side on the name key, co-partitioned
    with the relations shuffle."""
    typ = entities.select("name", "entity_type")
    src_t = typ.select(
        F.col("name").alias("source"), F.col("entity_type").alias("_st")
    )
    tgt_t = typ.select(
        F.col("name").alias("target"), F.col("entity_type").alias("_tt")
    )
    e = relations.select("source", "target", "relation_type")
    return (
        e.join(src_t, "source")
        .join(tgt_t, "target")
        .groupBy("relation_type")
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.sum((F.col("_st") == F.col("_tt")).cast("bigint")).alias(
                "n_same_type"
            ),
            F.round(
                F.sum((F.col("_st") == F.col("_tt")).cast("int"))
                / F.count("*"),
                6,
            ).alias("same_type_frac"),
        )
    )


def degree_assortativity(relations: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected relation graph → ONE
    row (n_edges, corr): Pearson correlation of endpoint degrees over
    all undirected edges — the classic Newman metric (positive: hubs
    link hubs, social-network-like; negative: hubs link leaves,
    star/infrastructure-like).

    Exact BIGINT moments (Σx, Σy, Σx², Σy², Σxy over both edge
    orientations, so the measure is symmetric) and ONE double
    formula at the end — the engine's standard never-streaming-corr
    pattern. Degrees join onto edges co-partitioned on the name
    key."""
    und = (
        relations.select("source", "target")
        .where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("a"),
            F.greatest("source", "target").alias("b"),
        )
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    da = deg.select(F.col("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("a").alias("b"), F.col("d").alias("dy"))
    e = sym.join(da, "a").join(db, "b")
    x = F.col("dx").cast("bigint")
    y = F.col("dy").cast("bigint")
    m = e.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        (n / 2).cast("bigint").alias("n_edges"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr"),
    )


def personalized_pagerank(
    relations: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank → (name, rank): teleport mass returns to
    the SEED set instead of uniformly — "which memories are most
    relevant to this query seed", the graph-walk generalization of the
    reference's relevance ranking (src/db/client.ts:231-245 ranks by
    match field; this ranks by multi-hop proximity).

    Same unrolled-iteration shape as :func:`pagerank` (one shuffle per
    step, lineage cut via localCheckpoint); the oracle unrolls the
    identical damped updates in SQL with IEEE-exact constants.
    Seeds outside the relation graph are ignored (they can neither
    receive nor forward walk mass).
    """
    edges = relations.select("source", "target").distinct().persist()
    nodes = (
        edges.select(F.col("source").alias("name"))
        .unionByName(edges.select(F.col("target").alias("name")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()  # gates the per-round rank-map broadcast
    seed_nodes = seeds.select("name").distinct().join(nodes, "name")
    n_seeds = seed_nodes.count()  # scalar — sizes the teleport term
    if n_seeds == 0:
        return nodes.withColumn("rank", F.lit(0.0).cast("double"))
    out_deg = edges.groupBy(F.col("source").alias("name")).agg(
        F.count("*").alias("out_degree")
    )
    co_part = n_nodes > BROADCAST_LOOP_MAX
    edges_w = _loop_edge_side(
        edges.join(out_deg, edges["source"] == out_deg["name"]).select(
            "source", "target", "out_degree"
        ),
        "source",
        co_part,
    )
    base = nodes.join(
        broadcast(seed_nodes.withColumn("_s", F.lit(1))), "name", "left"
    ).select("name", F.coalesce("_s", F.lit(0)).alias("is_seed"))
    base = base.localCheckpoint(eager=False)
    # Python computes (1.0 - damping) / n the same IEEE sequence the
    # oracle writes as (CAST(1.0 AS DOUBLE) - 0.85) / cnt — see the
    # kg_pagerank oracle note on why the literal 0.15 would NOT match.
    teleport = (1.0 - damping) / n_seeds
    ranks = base.withColumn(
        "rank",
        F.when(F.col("is_seed") == 1, F.lit(1.0 / n_seeds)).otherwise(
            F.lit(0.0)
        ),
    )
    # rank map is O(V) ≪ O(E): same gated broadcast as pagerank_full
    # (6.4s → 4.4s there); above the gate the edge side is cached
    # co-partitioned on source (see _loop_edge_side)
    hint = (lambda df: df) if co_part else broadcast
    for _ in range(iterations):
        contribs = (
            edges_w.join(hint(ranks), edges_w["source"] == ranks["name"])
            .select(
                F.col("target").alias("name"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy("name")
            .agg(F.sum("contrib").alias("in_rank"))
        )
        ranks = base.join(contribs, "name", "left").select(
            "name",
            "is_seed",
            (
                F.when(F.col("is_seed") == 1, F.lit(teleport)).otherwise(
                    F.lit(0.0)
                )
                + F.lit(damping) * F.coalesce("in_rank", F.lit(0.0))
            ).alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("name", F.round("rank", 8).alias("rank"))


def label_propagation(relations: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation communities → (name, community,
    community_size). Fully deterministic: each round every node takes
    the most frequent label among its (undirected) neighbors, ties
    broken by lexicographic min — integer counts + string order only,
    so the oracle unrolls the identical rounds with ROW_NUMBER().

    Scale: each round is one groupBy on (node, label) plus a per-node
    top-1 window — both shuffle on the node key; lineage cut per round.
    A fixed round count (not convergence detection) keeps the plan
    static and the oracle expressible.
    """
    fwd = relations.select(F.col("source").alias("a"), F.col("target").alias("b"))
    bwd = relations.select(F.col("target").alias("a"), F.col("source").alias("b"))
    edges = fwd.unionByName(bwd).distinct().persist()
    labels = (
        edges.select(F.col("a").alias("name"))
        .distinct()
        .withColumn("label", F.col("name"))
    )
    # label map is O(V) ≪ O(E): same gated broadcast as pagerank_full
    # (the checkpointed map has no stats, so the planner otherwise
    # shuffles the edge side every round — this is the LPA index
    # build, the heaviest growing line in the rehearsal's build wall).
    # Above the gate the edge side is cached co-partitioned on the
    # join key once so each round shuffles only the O(V) label map.
    n_nodes = labels.count()
    co_part = n_nodes > BROADCAST_LOOP_MAX
    edges_a = _loop_edge_side(edges, "a", co_part) if co_part else edges
    hint = (lambda df: df) if co_part else broadcast
    for _ in range(iterations):
        counts = (
            edges_a.join(hint(labels), edges_a["a"] == labels["name"])
            .groupBy(F.col("b").alias("name"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count DESC, label ASC) as ONE aggregation:
        # min(struct(-c, label)) — struct ordering is field-
        # lexicographic, so this is exactly the window's top-1 with
        # half the shuffles per round
        labels = (
            counts.groupBy("name")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("s")
            )
            .select("name", F.col("s.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    sizes = labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("community_size")
    )
    return labels.select("name", F.col("label").alias("community")).join(
        sizes, "community"
    ).select(
        "name", "community", F.col("community_size").cast("bigint").alias("community_size")
    )


def community_modularity(
    relations: DataFrame,
    iterations: int = 4,
    labels: DataFrame | None = None,
    und: DataFrame | None = None,
    n_labels: int | None = None,
) -> DataFrame:
    """Newman modularity profile of the label-propagation partition →
    (community, n_nodes, internal_edges, total_degree,
    modularity_term). The partition-quality readout for
    :func:`label_propagation`: term_c = e_c/m − (D_c/2m)², global Q =
    Σ terms. Emitting per-community rows keeps every value a
    deterministic function of exact BIGINT counts (a single global Q
    would sum doubles in engine-dependent order).

    Scale: communities from LPA, then one undirected-edge join against
    the (tiny) label map — broadcast — and two rollups keyed by
    community. The 1-row edge total joins back via cross join, never a
    driver collect. Pass ``labels`` (a materialized LPA result) to
    skip re-running the propagation — labels are an ingest artifact
    in production, not a per-query cost.
    """
    comms = (
        labels
        if labels is not None
        else label_propagation(relations, iterations)
    ).select("name", "community")
    # four consumers below (the broadcast-gate count, la, lb,
    # n_nodes) — materialize so the label map computes once whichever
    # path supplied it; a caller-provided labels frame is typically an
    # unmaterialized plan too (r06 only checkpointed the inline path,
    # so the provided path re-evaluated the input once per consumer).
    # ``n_labels`` is the cardinality-hint contract (r07 ADVICE): a
    # caller whose frame is ALREADY materialized (the registry's
    # checkpointed _lpa artifact, a stored label table) passes its
    # known row count and skips both the checkpoint block copy and
    # the count job — zero extra evaluations of the provided frame.
    if n_labels is None:
        comms = comms.localCheckpoint(eager=True)
        n_labels = comms.count()
    if und is None:
        # pass ``und`` (the materialized a<b distinct edge artifact
        # from the shared neighbor index) to skip this per-call
        # distinct — it was the whole remaining cost at sf0.1
        und = (
            relations.where(F.col("source") != F.col("target"))
            .select(
                F.least("source", "target").alias("a"),
                F.greatest("source", "target").alias("b"),
            )
            .distinct()
        )
    # label map is O(V) ≪ O(E): broadcast EXPLICITLY — the LPA labels
    # arrive as a checkpointed RDD scan whose size the planner can't
    # estimate, so without the hint both joins planned sort-merge
    # (measured 1.9s vs 0.5s at sf0.1; AQE never got a shuffle
    # boundary to re-plan at). The hint is GATED on the measured row
    # count (a footer/metadata-cheap count over the checkpoint
    # blocks): an unconditional broadcast of an O(V) map is a
    # driver/executor memory hazard at extreme V, exactly where this
    # module aims — past the gate, fall back to the planner's shuffle
    # join (or, in a deployed store, the bucketed co-located join on
    # the name layout).
    hint = broadcast if n_labels <= BROADCAST_LABEL_MAX else (lambda df: df)
    la = hint(
        comms.select(F.col("name").alias("a"), F.col("community").alias("ca"))
    )
    lb = hint(
        comms.select(F.col("name").alias("b"), F.col("community").alias("cb"))
    )
    # internal
    # edges and endpoint degrees come from ONE explode-rollup: each
    # edge emits its two endpoints flagged is-internal, so
    # total_degree = COUNT(*) and internal_edges = SUM(flag) DIV 2
    # (both endpoint rows of an internal edge carry the flag — exact
    # integer halving). r04 ran THREE rollups over a localCheckpoint
    # of the labeled edges; one consumer needs no materialization and
    # the plan drops from 4 heavy exchanges to 2 (edge distinct +
    # this rollup), which took kg_modularity from 3.3s to ~1s sf0.1.
    edges = und.join(la, "a").join(lb, "b")
    i_flag = (F.col("ca") == F.col("cb")).cast("long").alias("i")
    per = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("ca").alias("community"), i_flag),
                    F.struct(F.col("cb").alias("community"), i_flag),
                )
            ).alias("e")
        )
        .select("e.community", "e.i")
        .groupBy("community")
        .agg(
            F.count("*").alias("total_degree"),
            F.expr("SUM(i) DIV 2").alias("internal_edges"),
        )
        # K rows, but TWO consumers (the community join and the m
        # agg): eager-materialize so the edge distinct + label joins
        # + explode rollup above run ONCE — without it the plan
        # inlines the whole subtree per consumer (3.6s → ~1s sf0.1).
        .localCheckpoint(eager=True)
    )
    # 2m = Σ_c total_degree — a K-row agg over the rollup, not a
    # second pass over the edges; 1 row, broadcast back in-plan.
    m_total = per.agg(F.expr("SUM(total_degree) DIV 2").alias("m"))
    n_nodes = comms.groupBy("community").agg(F.count("*").alias("n_nodes"))
    joined = (
        n_nodes.join(per, "community", "left")
        .withColumn(
            "total_degree", F.coalesce("total_degree", F.lit(0))
        )
        .crossJoin(broadcast(m_total))
        .select(
            "community",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            F.col("total_degree").cast("bigint").alias("total_degree"),
            # d² via explicit multiply (POWER may route through
            # exp/log in some engines — multiplication is IEEE-exact)
            F.round(
                F.coalesce("internal_edges", F.lit(0)) / F.col("m")
                - (F.col("total_degree") / (F.lit(2) * F.col("m")))
                * (F.col("total_degree") / (F.lit(2) * F.col("m"))),
                8,
            ).alias("modularity_term"),
        )
    )
    return joined


def observation_duplicates(
    observations: DataFrame, min_entities: int = 2, k: int = 50
) -> DataFrame:
    """Observation contents attached to ≥ ``min_entities`` DISTINCT
    entities → (content, n_entities, n_rows), top-k by spread. The
    copy-paste-ingest detector for the memory store: boilerplate facts
    stamped onto many entities dilute search relevance (the reference
    ranks observation matches at weight 1, src/db/client.ts:231-245 —
    a fact shared by 500 entities makes them all "match").

    One groupBy on content with map-side combine; the distinct-entity
    count is the standard two-phase expand. Deterministic top-k
    (spread DESC, content ASC).
    """
    agg = observations.groupBy("content").agg(
        F.countDistinct("entity_name").alias("n_entities"),
        F.count("*").alias("n_rows"),
    )
    return (
        agg.where(F.col("n_entities") >= min_entities)
        .select(
            "content",
            F.col("n_entities").cast("bigint").alias("n_entities"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
        )
        .orderBy(F.col("n_entities").desc(), "content")
        .limit(k)
    )


def degree_delta(
    prev_degree: DataFrame,
    added: DataFrame,
    removed: DataFrame | None = None,
) -> DataFrame:
    """Incremental view maintenance for :func:`degree`: fold a
    relations delta (added/removed edge rows) into a previously
    computed degree rollup WITHOUT touching the base relations table
    → same (name, out_degree, in_degree, degree) schema.

    This is the aggregate twin of GraphStore's O(batch) delta log:
    counts are addition-mergeable, so the update is
    delta-rollup ∪ prev → sum, costing O(|delta| + |affected keys|).
    At 100 TB the nightly degree refresh reads yesterday's rollup +
    today's batch — never the full edge history. Rows whose degree
    reaches 0 are dropped (matching a recompute over the merged edge
    set, where such names no longer appear).
    """
    def _counts(rel: DataFrame, sign: int) -> DataFrame:
        out_d = rel.groupBy(F.col("source").alias("name")).agg(
            (F.count("*") * sign).alias("d_out")
        )
        in_d = rel.groupBy(F.col("target").alias("name")).agg(
            (F.count("*") * sign).alias("d_in")
        )
        return out_d.join(in_d, "name", "full_outer").select(
            "name",
            F.coalesce("d_out", F.lit(0)).alias("d_out"),
            F.coalesce("d_in", F.lit(0)).alias("d_in"),
        )

    delta = _counts(added, 1)
    if removed is not None:
        delta = delta.unionByName(_counts(removed, -1))
    base = prev_degree.select(
        "name",
        F.col("out_degree").alias("d_out"),
        F.col("in_degree").alias("d_in"),
    )
    merged = (
        base.unionByName(delta)
        .groupBy("name")
        .agg(F.sum("d_out").alias("out_degree"), F.sum("d_in").alias("in_degree"))
        .where((F.col("out_degree") > 0) | (F.col("in_degree") > 0))
    )
    return merged.select(
        "name",
        F.col("out_degree").cast("bigint").alias("out_degree"),
        F.col("in_degree").cast("bigint").alias("in_degree"),
        (F.col("out_degree") + F.col("in_degree")).cast("bigint").alias("degree"),
    )


def graph_as_of(
    entities: DataFrame, observations: DataFrame, t: int
) -> DataFrame:
    """Point-in-time read → the (name, entity_type, content) facts
    known at surrogate time ``t``: entities created at-or-before
    ``t``, each with the observations whose SCD2 validity interval
    (see :func:`observation_history`) covers ``t`` — "what did the
    memory say about the world at time T", the row-level analog of
    GraphStore's snapshot time travel.

    Interval predicate is a scan filter (codegen) over the history
    window's output; the entity filter pushes to the parquet scan.
    """
    hist = observation_history(observations)
    live_obs = hist.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
    live_ent = entities.where(F.col("created_at") <= t)
    return live_ent.join(
        live_obs, live_ent["name"] == live_obs["entity_name"], "left"
    ).select("name", "entity_type", "content")


def metapath_census(entities: DataFrame, relations: DataFrame) -> DataFrame:
    """Typed 2-hop metapath census → (type_a, rel_ab, type_b, rel_bc,
    type_c, n_paths): how many directed paths follow each type
    pattern (customer −LOCATED_IN→ nation −PART_OF→ region, …) — the
    composition layer over :func:`schema_profile`'s single-triple
    view, and the schema signal metapath-based embeddings
    (metapath2vec-style) start from.

    NEVER materializes paths: per middle node, count incoming edges
    by (type_a, rel_ab) and outgoing by (rel_bc, type_c); n_paths =
    Σ_b in_count·out_count. The join carries one row per (node,
    pattern) — path count can be quadratic in degree, the rollup
    never is. Exact BIGINT arithmetic throughout. The type map is
    O(V) so it joins WITHOUT a broadcast hint — AQE broadcasts it
    when it measures small, shuffles on the node key when it isn't.
    """
    types = entities.select("name", "entity_type")
    ta = types.select(
        F.col("name").alias("source"), F.col("entity_type").alias("type_a")
    )
    tb = types.select(
        F.col("name").alias("mid"), F.col("entity_type").alias("type_b")
    )
    tc = types.select(
        F.col("name").alias("target"), F.col("entity_type").alias("type_c")
    )
    inc = (
        relations.join(ta, "source")
        .groupBy(
            F.col("target").alias("mid"),
            "type_a",
            F.col("relation_type").alias("rel_ab"),
        )
        .agg(F.count("*").alias("n_in"))
    )
    out = (
        relations.select(
            F.col("source").alias("mid"),
            F.col("relation_type").alias("rel_bc"),
            "target",
        )
        .join(tc, "target")
        .groupBy("mid", "rel_bc", "type_c")
        .agg(F.count("*").alias("n_out"))
    )
    return (
        inc.join(out, "mid")
        .join(tb, "mid")
        .groupBy("type_a", "rel_ab", "type_b", "rel_bc", "type_c")
        .agg(F.sum(F.col("n_in") * F.col("n_out")).cast("bigint").alias("n_paths"))
    )


def observation_staleness(
    entities: DataFrame, observations: DataFrame
) -> DataFrame:
    """Memory-staleness profile → (staleness_bucket, n_entities,
    min_staleness, max_staleness): per entity, age of its NEWEST
    observation relative to the store's latest write (surrogate
    clock), log2-bucketed; entities with no observations bucket at
    -1. "How stale is what the assistant remembers" — the hygiene
    readout that schedules re-ingestion.

    One obs rollup + a 1-row max joined in-plan (cross join, no
    driver scalar), then a tiny bucket rollup."""
    latest = observations.agg(
        F.max("created_at").alias("_now")
    )  # 1 row, stays in-plan
    per_ent = (
        entities.join(
            observations.groupBy("entity_name").agg(
                F.max("created_at").alias("last_obs")
            ),
            entities["name"] == F.col("entity_name"),
            "left",
        )
        .crossJoin(F.broadcast(latest))
        .select(
            (F.col("_now") - F.col("last_obs")).alias("staleness"),
        )
    )
    bucket = F.when(F.col("staleness").isNull(), F.lit(-1)).otherwise(
        F.when(F.col("staleness") <= 0, F.lit(0)).otherwise(
            F.floor(F.log2(F.col("staleness"))) + 1
        )
    )
    return per_ent.groupBy(bucket.cast("bigint").alias("staleness_bucket")).agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.min("staleness").cast("bigint").alias("min_staleness"),
        F.max("staleness").cast("bigint").alias("max_staleness"),
    )


def random_walks(
    relations: DataFrame,
    length: int = 4,
    start_mod: int = 50,
) -> DataFrame:
    """Deterministic random-walk corpus → (start, path): the data-gen
    step of DeepWalk/node2vec (Perozzi et al.) — walk sequences that
    downstream skip-gram training consumes as sentences — made fully
    reproducible: the "random" step from node v at step t of the walk
    started at s picks sorted-neighbor index
    ``md5(s:t:v) % degree(v)``, so the whole corpus is a pure function
    of the graph and the oracle replays the identical walks in SQL.
    Walks start at the md5 hash-sample ``hash(name) % start_mod == 0``
    (deterministic ~1/start_mod of nodes); a node with no out-edges
    absorbs the walk (self-stay), the standard dead-end rule.

    Scale: one groupBy builds the sorted adjacency (neighbor lists
    capped only by true out-degree — hub lists are one row each), then
    ``length`` broadcast-able equi-joins of the walk frontier against
    it; the frontier never exceeds the start sample size. At 100 TB
    the adjacency is a bucketed table and every step reuses its
    partitioning.
    """
    edges = relations.select("source", "target").distinct()
    adj = (
        edges.groupBy(F.col("source").alias("node"))
        .agg(F.sort_array(F.collect_list("target")).alias("nbrs"))
        .persist()
    )
    starts = (
        edges.select(F.col("source").alias("name"))
        .unionByName(edges.select(F.col("target").alias("name")))
        .distinct()
        .where(md5_hash32(F.col("name")) % start_mod == 0)
    )
    cur = starts.select(
        F.col("name").alias("start"),
        F.col("name").alias("cur"),
        F.col("name").alias("path"),
    )
    for t in range(1, length + 1):
        pick = F.concat_ws(":", F.col("start"), F.lit(str(t)), F.col("cur"))
        cur = (
            cur.join(adj, cur["cur"] == adj["node"], "left")
            .select(
                "start",
                F.coalesce(
                    F.element_at(
                        "nbrs",
                        (md5_hash32(pick) % F.size("nbrs") + 1).cast("int"),
                    ),
                    F.col("cur"),
                ).alias("cur"),
                F.concat_ws(
                    "->",
                    F.col("path"),
                    F.coalesce(
                        F.element_at(
                            "nbrs",
                            (md5_hash32(pick) % F.size("nbrs") + 1).cast(
                                "int"
                            ),
                        ),
                        F.col("cur"),
                    ),
                ).alias("path"),
            )
        )
    return cur.select("start", "path")


def pagerank_full(
    relations: DataFrame, iterations: int = 5, damping: float = 0.85
) -> DataFrame:
    """PageRank WITH dangling-mass redistribution → (name, rank): the
    published formulation (Page et al.) next to :func:`pagerank`'s
    leaking Pregel-default — each iteration the rank mass sitting on
    nodes with no out-edges (every part/region in this KG) is summed
    and returned uniformly, so Σ rank = 1 at every step and
    dangling-heavy neighborhoods are ranked faithfully.

    The dangling sum is a 1-row in-plan aggregate broadcast back into
    the update (the community_modularity m_total pattern — never a
    driver collect), so each iteration costs ONE extra tiny
    aggregate over the already-shuffled ranks. The oracle unrolls the
    identical damped updates with the same IEEE expression tree
    (teleport + β·(in + dangling/n))."""
    edges = relations.select("source", "target").distinct().persist()
    nodes = (
        edges.select(F.col("source").alias("name"))
        .unionByName(edges.select(F.col("target").alias("name")))
        .distinct()
        .persist()
    )
    out_deg = edges.groupBy(F.col("source").alias("name")).agg(
        F.count("*").alias("out_degree")
    )
    edges_w = edges.join(
        out_deg, edges["source"] == out_deg["name"]
    ).select("source", "target", "out_degree")
    base = nodes.join(
        out_deg.select(F.col("name"), F.lit(1).alias("_has_out")),
        "name",
        "left",
    ).select(
        "name", F.coalesce("_has_out", F.lit(0)).alias("has_out")
    )
    base = base.localCheckpoint(eager=False)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0).cast("double"))
    # rank map is O(V) ≪ O(E): broadcast it into the per-round edge
    # join EXPLICITLY, gated on the measured node count — the
    # checkpointed rank RDD has no stats, so without the hint the
    # planner shuffles the 1.2M-row edge side every round (measured
    # 6.4s → 4.4s at sf0.1, values identical). The LOOP gate (see
    # BROADCAST_LOOP_MAX) is tighter than modularity's one-shot gate
    # because each round's broadcast relation stays live until its
    # plan is GC'd; past the gate the edge side is cached
    # co-partitioned on source so each round shuffles only the O(V)
    # rank map (_loop_edge_side), not O(E) per iteration.
    co_part = n_nodes > BROADCAST_LOOP_MAX
    edges_w = _loop_edge_side(edges_w, "source", co_part)
    hint = (lambda df: df) if co_part else broadcast
    ranks = base.withColumn("rank", F.lit(1.0 / n_nodes))
    for it in range(iterations):
        dm = ranks.where(F.col("has_out") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contribs = (
            edges_w.join(hint(ranks), edges_w["source"] == ranks["name"])
            .select(
                F.col("target").alias("name"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy("name")
            .agg(F.sum("contrib").alias("in_rank"))
        )
        ranks = (
            base.join(contribs, "name", "left")
            .crossJoin(broadcast(dm))
            .select(
                "name",
                "has_out",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce("in_rank", F.lit(0.0))
                        + F.col("dm") / n_nodes
                    )
                ).alias("rank"),
            )
        )
        # Lineage-cut cadence (PAGERANK_CKPT_EVERY; the checkpoint is
        # a plan artifact, not semantics — values identical across
        # cadences, equality-gated in the A/B of OPTIMIZATION_r09.md).
        # r08 ran cadence 2 to halve materializations, but unlike the
        # sibling loops each round's ranks here has TWO downstream
        # consumers (the next round's dangling-mass aggregate AND its
        # contribs join), so an un-cut round's O(E) join subtree is
        # planned twice — the r08 4.4s→9.5s sf0.1 drift. The dm 1-row
        # aggregate still forces one stage barrier per round — that is
        # the published formulation's data dependence, not removable
        # by cadence.
        if it % PAGERANK_CKPT_EVERY == PAGERANK_CKPT_EVERY - 1 or (
            it == iterations - 1
        ):
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("name", F.round("rank", 8).alias("rank"))
