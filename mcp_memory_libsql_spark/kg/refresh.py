"""Incremental maintenance of the shared neighbor index — the batch
refresh path VERDICT r06 item 1 asked for.

The neighbor index (``similarity.neighbor_postings`` +
``similarity.scored_pairs``) is the dominant shared-index build cost
at scale (21.8s cold at sf0.1, ~minutes at the 100× rehearsal point),
yet it was rebuilt from scratch every session while the streaming
layer already proves the partials are mergeable. This module refreshes
all four disk artifacts (postings, names, pairs, und) from an
APPEND-ONLY relation delta — the same delta shape the GraphStore
delta log and ``relation_upsert_stream`` emit — touching only the
neighborhood the delta actually changes.

Semantics contract (pytest-pinned result-identical to a full rebuild
in tests/test_refresh.py, and cross-engine-pinned by the
``kg_postings_refresh`` / ``kg_pairs_refresh`` FULL-oracle registry
twins, whose DuckDB oracle takes the opposite path: a from-scratch
build over base+delta):

- postings group for neighbor g = entities adjacent to g, kept iff
  |group| ≤ cap. Appends only GROW groups, so a group absent from the
  old postings (over cap) can never return — old membership of a
  group is exactly its old postings row (or nothing).
- sz(e) = number of surviving groups containing e. The delta changes
  sz only through groups it touches, and every pair involving an
  entity whose sz changed lives in some group containing that entity
  — so rewriting (a) groups gaining members and (b) groups containing
  any changed-sz entity covers every stale byte.
- pairs merge is SIGNED: old contributions of rewritten groups are
  subtracted, new contributions added — n_common and ra_sum are
  additive counters (the same merge family as the Bloom/CMS/HLL
  register twins), and size_a/size_b rejoin from the merged sizes.

Cost shape (the incremental bound): one anti-join of the delta
against the old ``und`` artifact, two scans of the merged edge set
with map-side semi-filters (broadcast-gated on the measured affected/
rewrite set sizes), the C(w,2) explode ONLY over rewritten groups,
and one scan of the old pair stream (broadcast anti/semi against the
delta keys — never a full re-explode). For a +1-copy append to an
N-copy corpus the explode work is ~1/N of the rebuild's.

Deletes or relation-type edits are NOT incremental here (a removed
edge can shrink a group back under the cap, which needs the dropped
members this index no longer stores) — rebuild for those, exactly as
the reference's delete_entity cascades rebuild its read views
(reference: src/client.ts:140-176).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..textops.tokenize import md5_hash60
from .similarity import NEIGHBOR_CAP, scored_pairs

# Broadcast gates for the delta-derived key sets (affected groups,
# rewrite groups, touched pair keys): below the gate the semi/anti
# joins are map-side over one scan of the big artifact; above it we
# fall back to the planner's shuffle join — still O(scan), never
# O(re-explode). Same hazard reasoning as traverse.BROADCAST_LABEL_MAX.
BROADCAST_KEY_MAX = 5_000_000


def _hint(df: DataFrame, n: int) -> DataFrame:
    return F.broadcast(df) if n <= BROADCAST_KEY_MAX else df


def _ckpt(df: DataFrame) -> DataFrame:
    """Reliable (disk-backed) eager checkpoint: truncates lineage like
    localCheckpoint — without it the nested intermediates multiply into
    a ~10⁸-char analyzed plan — but the blocks are FILES in the
    checkpoint dir, so executor storage eviction can never lose them
    (localCheckpoint's fatal failure mode under bench-scale memory
    pressure). Sets a temp checkpoint dir on first use if the session
    has none (the vanilla driver sessions don't), and deletes it when
    the process exits: Spark leaves checkpoint files in place."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        path = tempfile.mkdtemp(prefix="spark_refresh_ckpt_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        sc.setCheckpointDir(path)
    return df.checkpoint(eager=True)


def _edges(und: DataFrame) -> DataFrame:
    """Bidirectional (name, nbr) stream of an a<b undirected artifact
    — ``name`` is the member entity, ``nbr`` the postings group key
    (matches similarity.undirected_neighbors output)."""
    return und.select(
        F.col("a").alias("name"), F.col("b").alias("nbr")
    ).unionByName(und.select(F.col("b").alias("name"), F.col("a").alias("nbr")))


def delta_undirected(old_und: DataFrame, delta_relations: DataFrame) -> DataFrame:
    """Truly-new undirected distinct edges (a<b) in the delta: the
    canonical form anti-joined against the old artifact, so re-sent
    edges and new relation TYPES over an existing edge are no-ops —
    the postings family collapses relation types by construction."""
    d = (
        delta_relations.where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("a"),
            F.greatest("source", "target").alias("b"),
        )
        .distinct()
    )
    return d.join(old_und, ["a", "b"], "left_anti")


def refresh_neighbor_index(
    old_postings: DataFrame,
    old_names: DataFrame,
    old_pairs: DataFrame | None,
    old_und: DataFrame,
    delta_relations: DataFrame,
    cap: int = NEIGHBOR_CAP,
    old_sizes: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame]:
    """Merge an append-only relation delta into the four neighbor-
    index artifacts → (postings, names, pairs, und), each result-
    identical to a from-scratch ``neighbor_postings`` +
    ``scored_pairs`` build over old∪delta (pytest + oracle-pinned).
    Pass ``old_pairs=None`` to skip the pair-stream merge (postings-
    only consumers). Pass ``old_sizes`` — the (nid, sz) table the
    registry persists next to the postings — to skip the one O(E)
    explode-rollup this function otherwise derives it with."""
    # RELIABLE checkpoints (disk-backed via _ckpt), deliberately not
    # localCheckpoint and not persist: these intermediates nest inside
    # one another (dsz → sizes → rw_rows → scored_pairs → merge), so
    # WITHOUT lineage truncation the final pair plan multiplies the
    # shared subtrees into a ~10⁸-char tree (measured: 97k Exchange
    # nodes, OOM at analysis time) — and WITH localCheckpoint the
    # blocks are non-recomputable, so a storage-pressure eviction at
    # bench scale died with "Block rdd_N does not exist". A reliable
    # checkpoint cuts lineage AND survives eviction (the files live in
    # the checkpoint dir until session exit). The broadcast-gate
    # counts below read the materialized files.
    d_new = _ckpt(delta_undirected(old_und, delta_relations))
    und_merged = old_und.unionByName(d_new)

    # groups gaining members = both endpoints of every new edge
    affected = _ckpt(_edges(d_new).select("nbr").distinct())
    n_aff = affected.count()

    # old surviving membership of the affected groups (absent row =
    # group was over cap, and appends keep it there)
    old_aff = (
        old_postings.join(_hint(affected, n_aff), "nbr", "leftsemi")
        .select(F.explode("ids").alias("m"))
        .select(F.col("m.nid").alias("nid"))
    )
    # new membership: full recompute of ONLY the affected groups from
    # one map-side-filtered scan of the merged edge set. The cap is a
    # COUNT-WINDOW filter (r10, guide §5): the old
    # collect_list→size→explode roundtrip buffered a hub-affected
    # group's full member list in one aggregation buffer just to
    # drop it; the window's per-group state is one spill-backed long
    # and the collect/explode pair disappears entirely (the list
    # existed only to carry the size filter).
    aff_members = _edges(und_merged).join(_hint(affected, n_aff), "nbr", "leftsemi")
    new_aff = (
        aff_members.withColumn(
            "_w", F.count("*").over(Window.partitionBy("nbr"))
        )
        .where(F.col("_w") <= cap)
        .select(md5_hash60(F.col("name")).alias("nid"))
    )
    # net per-entity index-size change: retained members cancel (+1/−1),
    # new members +1, members of cap-crossing groups −1
    dsz = _ckpt(
        new_aff.select("nid", F.lit(1).alias("d"))
        .unionByName(old_aff.select("nid", F.lit(-1).alias("d")))
        .groupBy("nid")
        .agg(F.sum("d").alias("dsz"))
        .where(F.col("dsz") != 0)
    )
    n_ch = dsz.count()

    # rewrite set: affected groups ∪ every STORED group holding an
    # entity whose sz changed (their struct sz bytes are stale even
    # when their membership is not). The stored-only restriction is
    # the scale lever: a group with no postings row was over cap and
    # appends keep it there — it holds no stale bytes — while a hub-
    # adjacent delta (say, new customers of 25 nation entities) would
    # otherwise pull every group those hubs belong to into the
    # rewrite. Groups that never existed before are complete in
    # ``affected`` (every member arrived on a new edge).
    ch_groups = (
        _edges(und_merged)
        .select(md5_hash60(F.col("name")).alias("nid"), "nbr")
        .join(_hint(dsz.select("nid"), n_ch), "nid", "leftsemi")
        .select("nbr")
        .join(old_postings.select("nbr"), "nbr", "leftsemi")
    )
    rewrite = (
        _ckpt(affected.unionByName(ch_groups).distinct())
    )
    n_rw = rewrite.count()

    # merged per-entity sizes: old sizes (every struct for an entity
    # carries the same sz → max() is a plain read) + the net delta
    if old_sizes is None:
        old_sizes = (
            old_postings.select(F.explode("ids").alias("m"))
            .select(F.col("m.nid").alias("nid"), F.col("m.sz").alias("sz"))
            .groupBy("nid")
            .agg(F.max("sz").alias("sz"))
        )
    sizes_merged = (
        old_sizes.join(dsz, "nid", "full_outer")
        .select(
            "nid",
            (F.coalesce(F.col("sz"), F.lit(0)) + F.coalesce(F.col("dsz"), F.lit(0)))
            .cast("bigint")
            .alias("sz"),
        )
        .where(F.col("sz") > 0)
    )

    # rebuilt postings rows for the rewrite set only. Group survival
    # is decided on the FULL member count BEFORE the sizes join: an
    # over-cap group can hold sz=0 members (entities in no surviving
    # group) that the inner sizes join silently drops, which would
    # shrink the group back under the cap and resurrect it — the full
    # rebuild keeps no such group. (Members of genuinely surviving
    # groups always have sz ≥ 1 — they are in that group — so the
    # inner join after the filter loses nothing.)
    # (cap via count window, not collect_list→size→explode — same
    # bounded-buffer rewrite as new_aff above; the full-count-before-
    # sizes-join rule is unchanged because the window counts every
    # member, sz-less or not)
    rw_rows = (
        _edges(und_merged)
        .join(_hint(rewrite, n_rw), "nbr", "leftsemi")
        .select("nbr", md5_hash60(F.col("name")).alias("nid"))
        .withColumn("_w", F.count("*").over(Window.partitionBy("nbr")))
        .where(F.col("_w") <= cap)
        .drop("_w")
        .join(sizes_merged, "nid")
        .groupBy("nbr")
        .agg(F.sort_array(F.collect_list(F.struct("nid", "sz"))).alias("ids"))
    )
    if old_pairs is not None:
        # two consumers (postings output + the new-contribution
        # explode below) — pin the rebuilt groups
        rw_rows = _ckpt(rw_rows)
    postings_merged = old_postings.join(
        _hint(rewrite, n_rw), "nbr", "left_anti"
    ).unionByName(rw_rows)

    # decode dictionary gains only genuinely new entity names
    d_names = (
        _edges(d_new)
        .select(md5_hash60(F.col("name")).alias("nid"), "name")
        .distinct()
    )
    names_merged = old_names.unionByName(
        d_names.join(old_names, "nid", "left_anti")
    )

    pairs_merged: DataFrame | None = None
    if old_pairs is not None:
        old_rw = old_postings.join(_hint(rewrite, n_rw), "nbr", "leftsemi")
        neg = scored_pairs(old_rw).select(
            "na",
            "nb",
            (-F.col("n_common")).alias("d_common"),
            (-F.col("ra_sum")).alias("d_ra"),
        )
        pos = scored_pairs(rw_rows).select(
            "na",
            "nb",
            F.col("n_common").alias("d_common"),
            F.col("ra_sum").alias("d_ra"),
        )
        delta_agg = (
            pos.unionByName(neg)
            .groupBy("na", "nb")
            .agg(
                F.sum("d_common").alias("d_common"),
                F.sum("d_ra").alias("d_ra"),
            )
        )
        delta_agg = _ckpt(delta_agg)
        n_keys = delta_agg.count()
        keys = delta_agg.select("na", "nb")
        # untouched pairs pass through on ONE scan (map-side anti join
        # under the gate); touched pairs merge counters and rejoin
        # sizes — every pair with a stale size is touched because all
        # groups holding a changed-sz entity were rewritten
        untouched = old_pairs.join(_hint(keys, n_keys), ["na", "nb"], "left_anti")
        touched_old = old_pairs.join(
            _hint(keys, n_keys), ["na", "nb"], "leftsemi"
        )
        sa = sizes_merged.select(
            F.col("nid").alias("na"), F.col("sz").alias("size_a")
        )
        sb = sizes_merged.select(
            F.col("nid").alias("nb"), F.col("sz").alias("size_b")
        )
        merged_touched = (
            touched_old.select("na", "nb", "n_common", "ra_sum")
            .join(delta_agg, ["na", "nb"], "full_outer")
            .select(
                "na",
                "nb",
                (
                    F.coalesce(F.col("n_common"), F.lit(0))
                    + F.coalesce(F.col("d_common"), F.lit(0))
                ).alias("n_common"),
                (
                    F.coalesce(F.col("ra_sum"), F.lit(0))
                    + F.coalesce(F.col("d_ra"), F.lit(0))
                ).alias("ra_sum"),
            )
            .where(F.col("n_common") > 0)
            .join(sa, "na")
            .join(sb, "nb")
            .select("na", "nb", "n_common", "size_a", "size_b", "ra_sum")
        )
        pairs_merged = untouched.select(
            "na", "nb", "n_common", "size_a", "size_b", "ra_sum"
        ).unionByName(merged_touched)

    return postings_merged, names_merged, pairs_merged, und_merged


# ----------------------------------------------------------- LPA refresh

def _sym_edges(relations: DataFrame) -> DataFrame:
    """The symmetric distinct edge set label_propagation propagates
    over (fwd ∪ bwd, distinct — self-loops kept, relation types
    collapsed): ONE definition shared by the history build, the
    refresh, and the delta derivation, so the three can never drift."""
    fwd = relations.select(
        F.col("source").alias("a"), F.col("target").alias("b")
    )
    bwd = relations.select(
        F.col("target").alias("a"), F.col("source").alias("b")
    )
    return fwd.unionByName(bwd).distinct()


def _lpa_round(edges: DataFrame, prev: DataFrame) -> DataFrame:
    """One synchronous LPA round over ``edges`` given the previous
    round's (name, label) map — the exact argmax-by-(count DESC,
    label ASC) single aggregation traverse.label_propagation runs."""
    counts = (
        edges.join(prev, edges["a"] == prev["name"])
        .groupBy(F.col("b").alias("name"), "label")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("name")
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("label"))
            ).alias("s")
        )
        .select("name", F.col("s.label").alias("label"))
    )


def label_propagation_history(
    relations: DataFrame, iterations: int = 4
) -> DataFrame:
    """(name, l1 … l{k}) — EVERY round's label of the synchronous LPA,
    not just the final one. This is the stored shape that makes label
    propagation refreshable at all: synchronous fixed-round LPA is not
    append-monotone (a delta edge can re-seed whole communities), but
    round r's label of node v is a deterministic function of v's
    ≤ r-hop neighborhood — so an append-only delta can only change
    round-r labels within r hops of a delta endpoint, PROVIDED the
    unchanged nodes' per-round labels are still known. The final-only
    artifact throws those away; this k-column history (k·V extra
    label bytes, ~the size of the label map itself) keeps them.

    Built with the same per-round plan as
    :func:`traverse.label_propagation` (one groupBy + struct-min
    argmax per round, lineage cut); a pytest pins l{k} ≡ the
    production function's labels."""
    edges = _sym_edges(relations).persist()
    prev = (
        edges.select(F.col("a").alias("name"))
        .distinct()
        .withColumn("label", F.col("name"))
    )
    from pyspark.sql.functions import broadcast

    from .traverse import BROADCAST_LOOP_MAX, _loop_edge_side

    n_nodes = prev.count()
    # above the loop gate, cache the edge side co-partitioned on the
    # per-round join key once so each round shuffles only the O(V)
    # label map — the same fix as traverse.label_propagation
    co_part = n_nodes > BROADCAST_LOOP_MAX
    if co_part:
        edges_loop = _loop_edge_side(edges, "a", True)
    else:
        edges_loop = edges
    hint = (lambda df: df) if co_part else broadcast
    hist = prev.select("name")
    for r in range(1, iterations + 1):
        prev = _ckpt(_lpa_round(edges_loop, hint(prev)))
        hist = hist.join(
            prev.select("name", F.col("label").alias(f"l{r}")), "name"
        )
    edges.unpersist()
    return hist


def refresh_lpa_labels(
    old_hist: DataFrame,
    old_edges: DataFrame,
    delta_relations: DataFrame,
    iterations: int = 4,
    changed_only: bool = False,
) -> DataFrame:
    """Delta-localized LPA re-propagation (VERDICT r07 item 4) →
    the refreshed (name, l1 … l{k}) history over base∪delta,
    result-identical to :func:`label_propagation_history` on the
    merged graph (pytest-pinned; the ``kg_lpa_refresh`` registry twin
    pins it cross-engine against the from-scratch kg_communities
    oracle SQL).

    The affected-set argument (exact, not heuristic): with
    synchronous rounds seeded from node names, round-r labels can
    differ from the stored run ONLY for nodes in
    A_r = D ∪ N(A_{r-1}) where D = endpoints of truly-new symmetric
    edges (their neighbor multiset changed) — every other node sees
    identical inputs at every round, by induction. The loop keeps a
    monotone superset of A_r, recomputes labels ONLY there, and reads
    every other node's round-(r-1) label from the stored history
    (l0 = the node name itself). Each round's work is one
    semi-filtered scan of the merged edge set (broadcast-gated on the
    measured affected count) plus a prev-label map restricted to the
    frontier's sources — never a full re-propagation. Community sizes
    are global, so consumers rebuild them from the merged final
    column (one O(V) rollup, the cheap part).

    Convergence guard: the affected set grows by one hop per round
    and the loop runs EXACTLY the stored round count, so the refresh
    terminates by construction; the cost guard is
    maintenance.choose_refresh("labels", …) — past the measured
    boundary (delta-adjacent communities holding > half the nodes)
    callers take the rebuild path (maintenance.maintain_lpa_labels
    routes this).

    ``changed_only=True`` returns ONLY the affected-set rows (the
    rows whose history this refresh recomputed — a superset of the
    rows that actually changed) instead of the merged full history:
    the delta-log row set :class:`LpaHistoryLog` appends per refresh,
    so successive refreshes write O(affected) history rows, not k·V
    (VERDICT r08 item 5). The merged view is recoverable exactly as
    untouched-stored ∪ changed (latest-wins per name), which is what
    ``LpaHistoryLog.read`` folds.
    """
    from pyspark.sql.functions import broadcast

    from .traverse import BROADCAST_LOOP_MAX

    k = iterations
    d_sym = _ckpt(_sym_edges(delta_relations).join(
        old_edges, ["a", "b"], "left_anti"
    ))
    edges_full = old_edges.unionByName(d_sym).persist()
    # D: nodes whose neighbor multiset changed (symmetric set ⇒ the b
    # column alone covers both endpoints), including brand-new nodes
    d_nodes = _ckpt(d_sym.select(F.col("b").alias("name")).distinct())

    affected = d_nodes  # A_0 (superset: l0 never changes, but the
    # monotone set needs a seed and D is exactly round 1's scope)
    recomputed = d_nodes.withColumn("label", F.col("name"))  # l0 = name
    for r in range(1, k + 1):
        n_aff = affected.count()
        a_hint = broadcast if n_aff <= BROADCAST_KEY_MAX else (lambda df: df)
        # A_r = A_{r-1} ∪ N(A_{r-1}) ∪ D (monotone superset)
        grown = (
            edges_full.join(
                a_hint(affected.select(F.col("name").alias("a"))),
                "a",
                "leftsemi",
            )
            .select(F.col("b").alias("name"))
            .unionByName(affected)
            .unionByName(d_nodes)
            .distinct()
        )
        affected_new = _ckpt(grown)
        n_new = affected_new.count()
        g_hint = broadcast if n_new <= BROADCAST_KEY_MAX else (lambda df: df)
        # edges INTO the affected set; their sources are the only
        # nodes whose round-(r-1) labels we need
        e_r = edges_full.join(
            g_hint(affected_new.select(F.col("name").alias("b"))),
            "b",
            "leftsemi",
        )
        srcs = e_r.select(F.col("a").alias("name")).distinct()
        stored_prev = (
            old_hist.select("name", F.col("name").alias("label"))
            if r == 1
            else old_hist.select("name", F.col(f"l{r-1}").alias("label"))
        )
        prev = recomputed.unionByName(
            stored_prev.join(
                a_hint(affected), "name", "left_anti"
            ).join(srcs, "name", "leftsemi")
        )
        new_labels = _ckpt(_lpa_round(e_r, prev))
        # every affected node has ≥1 incoming edge (the symmetric set
        # gives every edge-set node an incoming edge, and A only ever
        # holds edge-set nodes), so new_labels covers affected_new
        # exactly
        if r == 1:
            hist_re = new_labels.select(
                "name", F.col("label").alias("l1")
            )
        else:
            hist_re = hist_re.join(
                new_labels.select("name", F.col("label").alias(f"l{r}")),
                "name",
                "full_outer",
            )
        affected = affected_new
        recomputed = new_labels
    # merge: recomputed rows win; untouched stored rows pass through
    n_aff = affected.count()
    a_hint = broadcast if n_aff <= BROADCAST_KEY_MAX else (lambda df: df)
    untouched = old_hist.join(a_hint(affected), "name", "left_anti")
    cols = ["name"] + [f"l{r}" for r in range(1, k + 1)]
    # hist_re holds only rounds a node was recomputed in; for a node
    # that entered A at round r (full_outer join left earlier rounds
    # NULL), the earlier labels equal the STORED ones — coalesce
    filled = hist_re.join(old_hist.select(
        "name", *[F.col(f"l{r}").alias(f"_s{r}") for r in range(1, k + 1)]
    ), "name", "left").select(
        "name",
        *[
            F.coalesce(F.col(f"l{r}"), F.col(f"_s{r}"), F.col("name")).alias(f"l{r}")
            for r in range(1, k + 1)
        ],
    )
    if changed_only:
        edges_full.unpersist()
        return filled.select(*cols)
    out = untouched.select(*cols).unionByName(filled.select(*cols))
    edges_full.unpersist()
    return out


COMPACT_EVERY = 8  # deltas folded into a fresh snapshot, LSM-style


class LpaHistoryLog:
    """Snapshot + changed-rows delta log for the (name, l1..lk) LPA
    history artifact (VERDICT r08 item 5).

    The history is what makes fixed-round synchronous LPA refreshable
    (see :func:`label_propagation_history`), but the r08 rehearsal
    measured its full build as the #3 index line (141s at 30×) and a
    naive store rewrites all k·V label cells on EVERY refresh even
    when the delta touches a sliver of the graph. This class applies
    the GraphStore delta-log recipe to the history: a full snapshot
    written once, then each refresh appends ONLY the affected-set
    rows (``refresh_lpa_labels(..., changed_only=True)`` — O(affected
    × k) cells); reads fold snapshot + deltas with latest-version-
    wins-per-name (one max_by aggregation); every ``COMPACT_EVERY``
    deltas the folded view is rewritten as a fresh snapshot and the
    delta files dropped, bounding read amplification exactly like
    GraphStore.checkpoint (kg/store.py). Append-only regime only —
    deletes need a rebuild, same as the neighbor-index refresh.

    Result identity is pytest-pinned: after N successive deltas,
    ``read()`` ≡ ``label_propagation_history`` over the fully merged
    relation set whenever each step's refresh path itself is exact
    (tests/test_refresh.py)."""

    def __init__(self, spark, path: str, iterations: int = 4):
        import os

        self.spark = spark
        self.path = path
        self.k = iterations
        self.cols = ["name"] + [f"l{r}" for r in range(1, iterations + 1)]
        os.makedirs(path, exist_ok=True)

    def _delta_versions(self) -> list[int]:
        import os

        return sorted(
            int(d.split("_", 1)[1])
            for d in os.listdir(self.path)
            if d.startswith("delta_")
        )

    def write_snapshot(self, hist: DataFrame) -> None:
        """Write ``hist`` as the new base snapshot and drop the folded
        delta files (atomic enough for a single-writer maintenance
        job, which is the GraphStore model too)."""
        hist.select(*self.cols).write.mode("overwrite").parquet(
            self.path + "/snapshot"
        )
        for v in self._delta_versions():
            shutil.rmtree(f"{self.path}/delta_{v}", ignore_errors=True)

    def append(self, changed: DataFrame) -> None:
        vs = self._delta_versions()
        v = (vs[-1] + 1) if vs else 1
        changed.select(*self.cols).write.mode("overwrite").parquet(
            f"{self.path}/delta_{v}"
        )
        if len(vs) + 1 >= COMPACT_EVERY:
            folded = self.read().localCheckpoint(eager=True)
            self.write_snapshot(folded)

    def read(self) -> DataFrame:
        """Fold snapshot + deltas: latest version wins per name — ONE
        max_by aggregation over the union, no per-delta join chain."""
        parts = self.spark.read.parquet(self.path + "/snapshot").withColumn(
            "_v", F.lit(0)
        )
        for v in self._delta_versions():
            parts = parts.unionByName(
                self.spark.read.parquet(f"{self.path}/delta_{v}").withColumn(
                    "_v", F.lit(v)
                )
            )
        label_cols = self.cols[1:]
        folded = parts.groupBy("name").agg(
            F.max(F.struct("_v", *label_cols)).alias("s")
        )
        return folded.select(
            "name", *[F.col(f"s.{c}").alias(c) for c in label_cols]
        )

    def refresh(self, old_edges: DataFrame, delta_relations: DataFrame) -> None:
        """One maintenance step: delta-localized re-propagation against
        the CURRENT folded view, appending only the affected rows."""
        changed = refresh_lpa_labels(
            self.read(),
            old_edges,
            delta_relations,
            iterations=self.k,
            changed_only=True,
        )
        self.append(changed)
