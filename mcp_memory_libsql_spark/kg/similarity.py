"""Entity similarity over the knowledge graph — neighbor-overlap
Jaccard via an inverted neighbor index (the graph analog of the
n-gram postings dedup in ``textops/dedup.py``).

Implied by the reference's "Explore entity relationships" surface
(README.md:109): "which entities look alike" is the link-prediction /
recommendation question over the same relations table the traversal
ops read.

Scale notes: the neighbor postings table shuffles ONCE on the
neighbor name; hub neighbors (a nation every customer links to, a
part everyone buys) are dropped by the postings cap, which is what
bounds the pair explosion — sum over neighbors of C(|postings|, 2)
with |postings| ≤ cap, the same skew bound DF_CAP provides for
shingles. Pairs never materialize as an entity×entity cross product.
Jaccard is computed over the capped index (sizes from surviving
postings), so scores are exact w.r.t. the hub-suppressed graph —
the standard co-occurrence-mining semantics, mirrored exactly by the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..textops.tokenize import md5_hash60, pair_combos

# Drop neighbors with more incident entities than this: a hub neighbor
# contributes C(width, 2) candidate pairs, so the cap is the skew /
# output bound (and hubs carry no similarity signal anyway).
NEIGHBOR_CAP = 256


def undirected_neighbors(relations: DataFrame) -> DataFrame:
    """(name, nbr) — symmetric closure of the relation edges,
    relation types collapsed, self-loops dropped."""
    fwd = relations.select(F.col("source").alias("name"), F.col("target").alias("nbr"))
    bwd = relations.select(F.col("target").alias("name"), F.col("source").alias("nbr"))
    return fwd.unionByName(bwd).where(F.col("name") != F.col("nbr")).distinct()


def neighbor_postings(
    relations: DataFrame, cap: int = NEIGHBOR_CAP
) -> tuple[DataFrame, DataFrame]:
    """Build the inverted neighbor index ONCE → (postings, names).

    ``postings``: one row per (non-hub) neighbor with its sorted
    ``array<struct<nid,sz>>`` postings list — entity names
    dictionary-encoded to 60-bit md5 ints (the pair explode emits
    ~Σ C(w,2) rows, mostly singleton groups, so key width drives the
    shuffle+agg cost; measured ~1.6× on the sf0.1 graph: 28.7s →
    17.9s for the pair rollup). ``sz`` is the entity's post-cap index
    size, riding IN-ROW so consumers can prune hopeless pairs before
    the pair shuffle. ``names``: the broadcast-able (nid, name)
    decode dictionary.

    At 100 TB this is an INGEST/INDEX-BUILD artifact, exactly like
    the bucketed KG snapshot: three similarity surfaces
    (similar pairs, Jaccard link prediction, RA link prediction) read
    the same index, so the registry materializes it to parquet once
    per (session, sf_dir) instead of re-shuffling the edge table per
    query. Total downstream work is Σ_nbr C(w,2) ≤ cap·|edges| —
    linear in graph size at a fixed degree distribution, never N².
    For tight thresholds at extreme scale, the MinHash/LSH machinery
    in textops.dedup applies to neighbor sets verbatim (neighbors
    play the role of shingles)."""
    und = undirected_neighbors(relations)
    nid = md5_hash60(F.col("name"))
    enc = und.select(nid.alias("nid"), "name", "nbr")
    # Hub cap BEFORE the posting lists materialize (r10, the same
    # guide-§5 bounded-buffer fix as textops.dedup's DF cap): the
    # size(ids) filter on the aggregated row buffered a hub
    # neighbor's FULL posting list — O(graph) ids for a nation every
    # customer links to — in one aggregation buffer before dropping
    # it. The count window's per-group state is one spill-backed
    # long, shares the same single hash-partitioning on nbr as the
    # groupBy (no second exchange, one sort), and the collect_list
    # below it is ≤ cap by construction. Rows exceptAll-identical.
    from pyspark.sql.window import Window

    w = F.count("*").over(Window.partitionBy("nbr"))
    post0 = (
        enc.withColumn("_w", w)
        .where(F.col("_w") <= cap)
        .groupBy("nbr")
        .agg(F.sort_array(F.collect_list("nid")).alias("ids"))
    )
    sizes = (
        post0.select(F.explode("ids").alias("nid"))
        .groupBy("nid")
        .agg(F.count("*").alias("sz"))
    )
    # Rebuild postings with (nid, sz) structs: one extra O(|edges|)
    # shuffle buys the size-ratio prune in similar_entities — J ≤
    # min/max, so a pair whose set sizes differ by more than 1/τ can
    # never reach the threshold and is dropped BEFORE the Σ C(w,2)
    # pair shuffle (~33% fewer shuffled pair rows and two fewer joins
    # at sf0.1: 11.0s → 8.7s for the scored-pairs stage).
    postings = (
        post0.select("nbr", F.explode("ids").alias("nid"))
        .join(sizes, "nid")
        .groupBy("nbr")
        .agg(F.sort_array(F.collect_list(F.struct("nid", "sz"))).alias("ids"))
    )
    names = enc.select("nid", "name").distinct()
    return postings, names


RA_SCALE = 1 << 40


def scored_pairs(
    struct_postings: DataFrame, prune_threshold: float = 0.0
) -> DataFrame:
    """ONE pair rollup → (na, nb, n_common, size_a, size_b, ra_sum)
    serving every downstream similarity score: ``n_common`` with the
    in-row sizes yields exact neighbor-Jaccard, and ``ra_sum`` is the
    scaled-BIGINT Resource-Allocation sum (Σ round(2⁴⁰/deg(z)) over
    shared neighbors z — order-independent integer math, see
    :func:`suggest_relations_weighted`).

    This is the expensive stage of the whole family — the Σ C(w,2)
    explode + shuffle — so the registry materializes ITS output per
    (session, sf_dir) (the scored-pair stream is the index-build
    artifact one level up from the postings; three query surfaces
    re-read it instead of re-running the explode). Built WITHOUT the
    size-ratio prune when shared (``prune_threshold=0``) because the
    RA consumer needs all co-neighbor pairs; standalone Jaccard
    callers pass their threshold to keep the measured ~33%
    shuffled-row saving.
    """
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(
                    x["nid"].alias("a"),
                    x["sz"].alias("sa"),
                    y["nid"].alias("b"),
                    y["sz"].alias("sb"),
                ),
            ),
        )
    )
    if prune_threshold > 0:
        # 1e-6 slack keeps boundary pairs whose exact J rounds up to
        # the threshold at 6 decimals (the consumer's jaccard filter
        # is authoritative); J ≤ min/max so the dropped pairs are
        # provably below threshold.
        combos = F.filter(
            combos,
            lambda p: F.least(p["sa"], p["sb"])
            >= F.lit(prune_threshold - 1e-6) * F.greatest(p["sa"], p["sb"]),
        )
    contrib = F.expr(
        f"CAST(({RA_SCALE} + size(ids) DIV 2) DIV size(ids) AS BIGINT)"
    )
    return (
        struct_postings.select(contrib.alias("c"), F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("na"), F.col("p.b").alias("nb"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("p.sa").alias("size_a"),
            F.first("p.sb").alias("size_b"),
            F.sum("c").alias("ra_sum"),
        )
    )


def similar_entities(
    relations: DataFrame,
    threshold: float = 0.2,
    cap: int = NEIGHBOR_CAP,
    index: tuple | None = None,
) -> DataFrame:
    """Entity pairs with neighbor-set Jaccard ≥ threshold →
    (entity_a, entity_b, inter_size, size_a, size_b, jaccard),
    entity_a < entity_b.

    One shuffle builds the per-neighbor postings list; pairs are
    in-row explosions of each list (no second shuffle of the edge
    table); per-entity sizes travel inside the postings structs, so
    provably-hopeless pairs are pruned IN-ROW before the pair
    shuffle. When the prebuilt ``index`` — (postings, names) or
    (postings, names, scored_pairs) from the registry's disk-backed
    per-session artifact — is passed, BOTH the postings build and
    (3-tuple form) the whole pair rollup are skipped; the index's
    own build cap then governs and ``cap`` is ignored.
    """
    pairs = None
    if index is None:
        postings, names = neighbor_postings(relations, cap)
        postings = postings.persist()
    elif len(index) >= 3:
        # explicit 3-slot unpack: postings stays bound so an index
        # tuple carrying pairs=None falls back to the pair rollup
        # instead of a NameError (extra tuple slots are ignored)
        postings, names, pairs = index[0], index[1], index[2]
    else:
        postings, names = index
    if pairs is None:
        pairs = scored_pairs(postings, prune_threshold=threshold)
    scored = (
        pairs.withColumnRenamed("n_common", "inter_size")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    da = names.select(F.col("nid").alias("na"), F.col("name").alias("name_a"))
    db = names.select(F.col("nid").alias("nb"), F.col("name").alias("name_b"))
    return (
        scored.join(F.broadcast(da), "na")
        .join(F.broadcast(db), "nb")
        .select(
            # nid order is not name order: re-canonicalize a < b by name
            F.least("name_a", "name_b").alias("entity_a"),
            F.greatest("name_a", "name_b").alias("entity_b"),
            "inter_size",
            # sizes follow their names through the swap
            F.when(F.col("name_a") < F.col("name_b"), F.col("size_a"))
            .otherwise(F.col("size_b"))
            .alias("size_a"),
            F.when(F.col("name_a") < F.col("name_b"), F.col("size_b"))
            .otherwise(F.col("size_a"))
            .alias("size_b"),
            "jaccard",
        )
    )


MINHASH_K = 8
MINHASH_BANDS = 8  # single-hash bands: catch low-jaccard pairs too
BUCKET_CAP = 256


def similar_entities_minhash(
    relations: DataFrame,
    min_est: float = 0.25,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """MinHash twin of :func:`similar_entities` → (entity_a,
    entity_b, est_jaccard) for band-colliding pairs with estimated
    neighbor-Jaccard ≥ ``min_est``.

    This is the extreme-scale path: signatures are K=8 md5-chunk
    min-hashes of the neighbor set (the textops.dedup family applied
    with neighbors as shingles), so each entity is reduced to 64
    bytes before any pairing happens; candidates come from
    single-hash band buckets (bucket-grouped pair generation, one
    shuffle on the band key, bucket width capped), and the estimate
    is signature agreement — the full neighbor sets are never
    intersected. Work scales with Σ C(bucket, 2) ≤ cap · #banded
    rows, independent of neighbor-set width.
    """
    und = undirected_neighbors(relations)
    # Dictionary-encode names to 60-bit ints BEFORE any pairing (same
    # trick as similar_entities): the candidate pair stream — the one
    # unbounded-size intermediate — then shuffles 2×8-byte ints
    # instead of wide strings; survivors decode through a broadcast
    # dictionary at the very end.
    d = und.select(
        md5_hash60(F.col("name")).alias("nid"),
        F.md5(F.col("nbr")).alias("d1"),
        F.md5(F.concat(F.lit("x:"), F.col("nbr"))).alias("d2"),
    )
    aggs = []
    for i in range(MINHASH_K):
        src = F.col("d1") if i < 4 else F.col("d2")
        chunk = F.substring(src, 1 + 8 * (i % 4), 8)
        aggs.append(F.min(F.conv(chunk, 16, 10).cast("bigint")).alias(f"h{i}"))
    sig = d.groupBy("nid").agg(*aggs).persist()

    keys = F.array(
        *[
            F.concat_ws("_", F.lit(str(b)), F.col(f"h{b}").cast("string"))
            for b in range(MINHASH_BANDS)
        ]
    )
    banded = sig.select("nid", F.explode(keys).alias("band_key"))
    combos = pair_combos("ids")
    # bucket cap via count window before the collect (r10, guide §5
    # bounded aggregation state — see neighbor_postings): a fat band
    # bucket is filtered as rows, never buffered as a full list
    from pyspark.sql.window import Window

    bw = F.count("*").over(Window.partitionBy("band_key"))
    cand = (
        banded.withColumn("_w", bw)
        .where((F.col("_w") >= 2) & (F.col("_w") <= bucket_cap))
        .groupBy("band_key")
        .agg(F.sort_array(F.collect_list("nid")).alias("ids"))
        .select(F.explode(combos).alias("p"))
        .select(F.col("p.a").alias("na"), F.col("p.b").alias("nb"))
        .distinct()
    )
    sa = sig.select(F.col("nid").alias("na"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(MINHASH_K)])
    sb = sig.select(F.col("nid").alias("nb"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(MINHASH_K)])
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    # sig is O(#entities) rows of 9 narrow columns — tiny next to the
    # candidate pair stream — so both signature sides broadcast: the
    # (possibly huge) pair stream never shuffles again after its
    # band-key grouping. Measured 13.2s → ~5s at sf0.1 (strings),
    # then further with the int-encoded pair stream.
    scored = (
        cand.join(F.broadcast(sa), "na")
        .join(F.broadcast(sb), "nb")
        .withColumn("est_jaccard", F.round(agree / MINHASH_K, 6))
        .where(F.col("est_jaccard") >= min_est)
        .select("na", "nb", "est_jaccard")
    )
    names = und.select(
        md5_hash60(F.col("name")).alias("nid"), "name"
    ).distinct()
    da = names.select(F.col("nid").alias("na"), F.col("name").alias("name_a"))
    db = names.select(F.col("nid").alias("nb"), F.col("name").alias("name_b"))
    return (
        scored.join(F.broadcast(da), "na")
        .join(F.broadcast(db), "nb")
        .select(
            # nid order is not name order: re-canonicalize a < b
            F.least("name_a", "name_b").alias("entity_a"),
            F.greatest("name_a", "name_b").alias("entity_b"),
            "est_jaccard",
        )
    )


NAME_GRAM_CAP = 100


def entity_name_neardup(
    entities: DataFrame, threshold: float = 0.6, cap: int = NAME_GRAM_CAP
) -> DataFrame:
    """Near-duplicate ENTITY NAMES by character-trigram Jaccard →
    (entity_a, entity_b, inter_size, size_a, size_b, jaccard).

    The reference's memory store accumulates near-duplicate entities
    over time ("Acme Corp" vs "acme_corp" vs "Acme-Corp") because
    create_entities upserts by exact name (client.ts:140-176); this
    op is the remediation scan that finds merge candidates. Names are
    normalized exactly like the reference's fuzzy search treats query
    separators ([\\s_-]+ → one space, client.ts:217) before
    trigramming.

    Same bounded plan as the document dedup family: one shuffle
    builds trigram postings, hub trigrams (shared prefixes like
    'Customer#…') die at the DF cap, pairs are in-row combos of the
    surviving postings — never an entity×entity product."""
    nm = F.concat_ws(
        " ",
        F.regexp_extract_all(F.lower(F.col("name")), F.lit("[a-z0-9]+"), 0),
    )
    d = entities.select("name", nm.alias("nm"))
    grams = F.when(
        F.length("nm") >= 3,
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(nm) - 2), "
                "i -> substring(nm, i, 3))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g0 = d.select("name", F.explode(grams).alias("gram"))
    # DF cap via count window before the collect (r10, guide §5
    # bounded aggregation state — see neighbor_postings)
    from pyspark.sql.window import Window

    gw = F.count("*").over(Window.partitionBy("gram"))
    postings = (
        g0.withColumn("_w", gw)
        .where(F.col("_w") <= cap)
        .groupBy("gram")
        .agg(F.sort_array(F.collect_list("name")).alias("ids"))
        .persist()
    )
    sizes = (
        postings.select(F.explode("ids").alias("name"))
        .groupBy("name")
        .agg(F.count("*").alias("sz"))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS a, y AS b))))"
    )
    pairs = (
        postings.where(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("entity_a"), F.col("p.b").alias("entity_b"))
        .agg(F.count("*").alias("inter_size"))
    )
    sa = sizes.select(F.col("name").alias("entity_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("name").alias("entity_b"), F.col("sz").alias("size_b"))
    return (
        pairs.join(F.broadcast(sa), "entity_a")
        .join(F.broadcast(sb), "entity_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "entity_a", "entity_b", "inter_size", "size_a", "size_b", "jaccard"
        )
    )


def merge_candidates(
    entities: DataFrame, threshold: float = 0.6, max_iter: int = 64
) -> DataFrame:
    """Entity-merge plan over the near-dup name graph → (name,
    canonical, cluster_size): connected components of
    :func:`entity_name_neardup` pairs, canonical = lexicographic min
    name per cluster — the remediation step after the scan (rewrite
    relations/observations onto the canonical entity, then delete the
    rest through the reference's cascade semantics).

    Near-dup NAME clusters can be long chains (Entity-1 ~ Entity-2 ~
    Entity-3 …), so unlike the hub-connected relation graph
    (``kg_components``, fixed 8 rounds) this HashMin loop runs to
    CONVERGENCE, detecting the fixpoint with an ``observe()`` metric
    collected during each round's checkpoint materialization — one
    job per round, no separate compare-join + count action (r02
    census note). Exact same fixpoint as the oracle's recursive
    CTE."""
    from pyspark.sql import Observation
    pairs = entity_name_neardup(entities, threshold).select(
        F.col("entity_a").alias("a"), F.col("entity_b").alias("b")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("name"))
        .distinct()
        .withColumn("component", F.col("name"))
        .localCheckpoint(eager=True)
    )
    # label/pointer maps are O(V) with no stats after the checkpoint:
    # per-round gated broadcast, same rationale and gate as the
    # traverse.py loops (BROADCAST_LOOP_MAX — successive rounds'
    # relations coexist in the heap)
    from ..kg.traverse import BROADCAST_LOOP_MAX

    n_nodes = labels.count()
    hint = (
        F.broadcast if n_nodes <= BROADCAST_LOOP_MAX else (lambda df: df)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(hint(labels), edges["a"] == labels["name"])
            .groupBy(F.col("b").alias("name"))
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(neighbor_min, "name", "left").select(
            "name",
            F.least(
                F.col("component"),
                F.coalesce("nbr_component", F.col("component")),
            ).alias("component"),
            F.col("component").alias("_prev"),
        )
        # Pointer jump (path halving): component ← label OF the
        # current component. One extra self-join per round turns the
        # O(diameter) chain walk into O(log diameter) — the classic
        # Shiloach-Vishkin acceleration, and the reason 100-long
        # numbered-name chains converge in a handful of rounds.
        ptr = propagated.select(
            F.col("name").alias("_c"), F.col("component").alias("_cc")
        )
        obs = Observation()
        new_labels = (
            propagated.join(
                hint(ptr), propagated["component"] == ptr["_c"], "left"
            )
            .select(
                "name",
                F.least(
                    F.col("component"),
                    F.coalesce("_cc", F.col("component")),
                ).alias("component"),
                "_prev",
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
    sizes = labels.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "component").select(
        "name",
        F.col("component").alias("canonical"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def suggest_relations(
    relations: DataFrame,
    threshold: float = 0.1,
    k: int = 25,
    cap: int = NEIGHBOR_CAP,
    index: tuple | None = None,
) -> DataFrame:
    """Actionable link prediction → (entity_a, entity_b, jaccard):
    the top-k MOST-similar entity pairs that are NOT already directly
    connected — the "you might want to relate these memories"
    suggestion feed over the reference's relationship-exploration
    surface (README.md:109). similar_entities finds the candidates;
    the anti-join against the (undirected) existing edge set leaves
    only genuinely new suggestions; deterministic top-k.

    Scale: adds exactly one broadcast-able anti-join (distinct edge
    pairs, canonicalized a<b) over the bounded similar-pair stream.
    """
    sims = similar_entities(relations, threshold, cap, index=index).select(
        "entity_a", "entity_b", "jaccard"
    )
    existing = (
        relations.where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("entity_a"),
            F.greatest("source", "target").alias("entity_b"),
        )
        .distinct()
    )
    return (
        sims.join(existing, ["entity_a", "entity_b"], "left_anti")
        .orderBy(F.col("jaccard").desc(), "entity_a", "entity_b")
        .limit(k)
    )


def suggest_relations_weighted(
    relations: DataFrame,
    k: int = 25,
    cap: int = NEIGHBOR_CAP,
    index: tuple | None = None,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009) →
    top-k unconnected pairs by RA index: score(a,b) =
    Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z). Rare shared neighbors carry more
    signal than popular ones — the inverse-degree-weighted upgrade of
    the Jaccard feed in :func:`suggest_relations` (same
    relationship-exploration surface, reference README.md:109), and
    the exact-rational cousin of Adamic-Adar (whose 1/ln(deg) weights
    would hash-differently across engines' libm).

    Determinism: deg(z) is the width of z's postings list, so the
    weight travels IN-ROW with each pair (no extra join), quantized
    to a scaled BIGINT ``(2⁴⁰ + w div 2) div w`` (half-up 1/w at
    2⁻⁴⁰ resolution — pure integer math, identical in any engine).
    The per-pair score is then an ORDER-INDEPENDENT integer SUM
    (map-side combinable, no per-pair weight arrays, no fold-order
    contract to keep) divided once at the end — the scaled-integer
    discipline of ``analytics.tpch._avg4``; quantization error is
    ≤ n_common·2⁻⁴¹, invisible at the 6-decimal rounding. Hub
    neighbors past ``cap`` are dropped (hub-suppressed RA, the same
    skew bound as :func:`similar_entities` — they contribute ≤ 1/cap
    each anyway).

    Scale: one postings shuffle + one bounded pair rollup
    (Σ C(w,2) ≤ cap·|edges|) + a broadcast-able anti-join; top-k via
    TakeOrdered. Never N².
    """
    raw = None
    if index is None:
        struct_postings, names = neighbor_postings(relations, cap)
        struct_postings = struct_postings.persist()
    elif len(index) >= 3:
        _, names, raw = index[0], index[1], index[2]
    else:
        struct_postings, names = index
    if raw is None:
        raw = scored_pairs(struct_postings)
    pairs = raw.select(
        "na",
        "nb",
        "n_common",
        F.round(
            F.col("ra_sum").cast("double") / F.lit(float(RA_SCALE)), 6
        ).alias("ra_score"),
    )
    da = names.select(F.col("nid").alias("na"), F.col("name").alias("name_a"))
    db = names.select(F.col("nid").alias("nb"), F.col("name").alias("name_b"))
    decoded = (
        pairs.join(F.broadcast(da), "na")
        .join(F.broadcast(db), "nb")
        .select(
            F.least("name_a", "name_b").alias("entity_a"),
            F.greatest("name_a", "name_b").alias("entity_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            "ra_score",
        )
    )
    existing = (
        relations.where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("entity_a"),
            F.greatest("source", "target").alias("entity_b"),
        )
        .distinct()
    )
    return (
        decoded.join(existing, ["entity_a", "entity_b"], "left_anti")
        .orderBy(F.col("ra_score").desc(), "entity_a", "entity_b")
        .limit(k)
    )


def suggest_relations_minhash(
    relations: DataFrame, min_est: float = 0.25, k: int = 25
) -> DataFrame:
    """Scale-path twin of :func:`suggest_relations`: candidates from
    the MinHash signature index (64-byte signatures, band buckets —
    width-independent) instead of the exact postings join. Same
    anti-join against existing edges, same deterministic top-k →
    (entity_a, entity_b, est_jaccard). The exact/sketch duality every
    similarity surface here ships (dedup_ngram_jaccard ↔
    dedup_minhash_lsh)."""
    sims = similar_entities_minhash(relations, min_est).select(
        "entity_a", "entity_b", "est_jaccard"
    )
    existing = (
        relations.where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("entity_a"),
            F.greatest("source", "target").alias("entity_b"),
        )
        .distinct()
    )
    return (
        sims.join(existing, ["entity_a", "entity_b"], "left_anti")
        .orderBy(F.col("est_jaccard").desc(), "entity_a", "entity_b")
        .limit(k)
    )


CONTENT_DF_CAP = 100


def similar_entities_content(
    observations: DataFrame,
    n: int = 3,
    threshold: float = 0.15,
    cap: int = CONTENT_DF_CAP,
) -> DataFrame:
    """CONTENT-based entity similarity → (entity_a, entity_b,
    inter_size, size_a, size_b, jaccard): entities whose observation
    texts share word-``n``-gram shingles (Jaccard over each entity's
    shingle SET, unioned across its observations). The complement of
    the structural :func:`similar_entities` — "entities that talk
    about the same things" vs "entities that link to the same things"
    — and the similarity axis behind the reference's observation-
    content search ranking (client.ts:231-245 matches observation
    text at weight 1).

    Same bounded postings plan as textops.dedup.ngram_jaccard_pairs:
    one shuffle builds per-shingle postings, boilerplate shingles die
    at the DF cap (an observation template stamped on every entity
    carries no signal — and would make Σ C(w,2) quadratic), pairs are
    in-row combos of surviving postings. Never entity×entity."""
    from ..textops.tokenize import word_shingles, words

    toks = observations.select(
        F.col("entity_name").alias("eid"), words(F.col("content")).alias("w")
    )
    sh = toks.select(
        "eid", F.explode(word_shingles(F.col("w"), n)).alias("shingle")
    ).distinct()
    # DF cap via count window before the collect (r10, guide §5
    # bounded aggregation state — see neighbor_postings)
    from pyspark.sql.window import Window

    shw = F.count("*").over(Window.partitionBy("shingle"))
    postings = (
        sh.withColumn("_w", shw)
        .where(F.col("_w") <= cap)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("eid")).alias("ids"))
        .persist()
    )
    sizes = (
        postings.select(F.explode("ids").alias("eid"))
        .groupBy("eid")
        .agg(F.count("*").alias("sz"))
    )
    pairs = (
        postings.where(F.size("ids") >= 2)
        .select(F.explode(pair_combos("ids")).alias("p"))
        .groupBy(F.col("p.a").alias("entity_a"), F.col("p.b").alias("entity_b"))
        .agg(F.count("*").alias("inter_size"))
    )
    sa = sizes.select(F.col("eid").alias("entity_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("eid").alias("entity_b"), F.col("sz").alias("size_b"))
    return (
        pairs.join(sa, "entity_a")
        .join(sb, "entity_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "entity_a",
            "entity_b",
            F.col("inter_size").cast("bigint").alias("inter_size"),
            F.col("size_a").cast("bigint").alias("size_a"),
            F.col("size_b").cast("bigint").alias("size_b"),
            "jaccard",
        )
    )
