"""Incremental index refresh ≡ full rebuild (VERDICT r06 item 1).

Every test pins the refreshed artifact RESULT-IDENTICAL (row-set
equality) to a from-scratch build over base∪delta — the within-engine
half of the gate; the cross-engine half is the kg_postings_refresh /
kg_pairs_refresh / vec_lsh_refresh oracle twins in the parity suite,
whose DuckDB side takes the from-scratch path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_memory_libsql_spark.io.tables import load_tables
from mcp_memory_libsql_spark.kg import views as kg_views
from mcp_memory_libsql_spark.kg.refresh import refresh_neighbor_index
from mcp_memory_libsql_spark.kg.similarity import (
    neighbor_postings,
    scored_pairs,
)
from mcp_memory_libsql_spark.vector import lsh


def _und(rel):
    return (
        rel.where(F.col("source") != F.col("target"))
        .select(
            F.least("source", "target").alias("a"),
            F.greatest("source", "target").alias("b"),
        )
        .distinct()
    )


def _rows(df):
    """Order-insensitive canonical row set (postings arrays are
    sorted structs, so plain stringification is deterministic)."""
    return sorted(str(r) for r in df.collect())


def _rel(spark, edges):
    return spark.createDataFrame(
        [(s, t, "REL") for s, t in edges],
        "source string, target string, relation_type string",
    )


def _check_refresh(spark, base_edges, delta_edges, cap):
    base = _rel(spark, base_edges)
    delta = _rel(spark, delta_edges)
    full = base.unionByName(delta)

    old_p, old_n = neighbor_postings(base, cap)
    old_p = old_p.localCheckpoint(eager=True)
    old_pairs = scored_pairs(old_p).localCheckpoint(eager=True)
    new_p, new_n, new_pairs, new_und = refresh_neighbor_index(
        old_p, old_n, old_pairs, _und(base).localCheckpoint(eager=True),
        delta, cap,
    )

    reb_p, reb_n = neighbor_postings(full, cap)
    reb_p = reb_p.localCheckpoint(eager=True)
    assert _rows(new_p) == _rows(reb_p)
    assert _rows(new_n) == _rows(reb_n)
    assert _rows(new_pairs) == _rows(scored_pairs(reb_p))
    assert _rows(new_und) == _rows(_und(full))


def test_nbr_refresh_cap_crossing_and_sz_propagation(spark):
    """The adversarial shape: a group at exactly cap gains a member
    and DROPS OUT (its members lose index size, which must propagate
    into every OTHER group's structs and every pair's size columns),
    plus a brand-new disjoint component, plus a duplicate delta edge
    and a new relation TYPE over an existing edge (both no-ops)."""
    cap = 3
    # group "hub": members m1,m2,m3 (== cap, survives the base build)
    base = [
        ("m1", "hub"), ("m2", "hub"), ("m3", "hub"),
        # second group "g2" holding m1,m2 — their sz bytes live here too
        ("m1", "g2"), ("m2", "g2"),
    ]
    delta = [
        ("m4", "hub"),          # pushes hub over cap → drops out
        ("m1", "g2"),           # duplicate edge — no-op
        ("x1", "y1"), ("x2", "y1"),  # disjoint new component
    ]
    _check_refresh(spark, base, delta, cap)


def test_nbr_refresh_type_collapse_and_growth(spark):
    """Growing an under-cap group (new member; retained members'
    counters must cancel exactly in the signed merge) and re-sending
    an existing edge under a different relation type."""
    cap = 10
    base = [("a", "n1"), ("b", "n1"), ("a", "n2"), ("c", "n2")]
    delta = [("c", "n1"), ("b", "n2")]
    base_df = _rel(spark, base)
    # different relation_type over an existing edge: must be a no-op
    delta_df = _rel(spark, delta).unionByName(
        spark.createDataFrame(
            [("a", "n1", "OTHER_TYPE")],
            "source string, target string, relation_type string",
        )
    )
    full = base_df.unionByName(delta_df)
    old_p, old_n = neighbor_postings(base_df, cap)
    old_p = old_p.localCheckpoint(eager=True)
    old_pairs = scored_pairs(old_p).localCheckpoint(eager=True)
    new_p, new_n, new_pairs, _ = refresh_neighbor_index(
        old_p, old_n, old_pairs, _und(base_df), delta_df, cap
    )
    reb_p, reb_n = neighbor_postings(full, cap)
    reb_p = reb_p.localCheckpoint(eager=True)
    assert _rows(new_p) == _rows(reb_p)
    assert _rows(new_pairs) == _rows(scored_pairs(reb_p))


def test_nbr_refresh_real_graph(spark, sf_dir):
    """95/5 md5 split of the real KG relations — the registry twin's
    exact shape, asserted within-engine over all four artifacts."""
    from mcp_memory_libsql_spark.textops.tokenize import md5_hash32

    g = kg_views.kg(load_tables(spark, sf_dir))
    rel = g["relations"]
    key = F.concat_ws("|", "source", "target", "relation_type")
    is_delta = F.pmod(md5_hash32(key), F.lit(20)) == 0
    base, delta = rel.where(~is_delta), rel.where(is_delta)

    old_p, old_n = neighbor_postings(base)
    old_p = old_p.localCheckpoint(eager=True)
    old_pairs = scored_pairs(old_p).localCheckpoint(eager=True)
    new_p, new_n, new_pairs, new_und = refresh_neighbor_index(
        old_p, old_n, old_pairs, _und(base).localCheckpoint(eager=True),
        delta,
    )
    reb_p, reb_n = neighbor_postings(rel)
    reb_p = reb_p.localCheckpoint(eager=True)
    assert _rows(new_p) == _rows(reb_p)
    assert _rows(new_n) == _rows(reb_n)
    assert _rows(new_pairs) == _rows(scored_pairs(reb_p))
    assert _rows(new_und) == _rows(_und(rel))


def test_nbr_refresh_stored_sizes_path(spark):
    """Passing the registry's persisted (nid, sz) table must produce
    the same artifacts as deriving sizes from the postings."""
    cap = 3
    base = [("m1", "hub"), ("m2", "hub"), ("m1", "g2"), ("m2", "g2")]
    delta = [("m3", "hub"), ("m4", "hub")]  # hub crosses the cap
    base_df, delta_df = _rel(spark, base), _rel(spark, delta)
    old_p, old_n = neighbor_postings(base_df, cap)
    old_p = old_p.localCheckpoint(eager=True)
    sizes = (
        old_p.select(F.explode("ids").alias("m"))
        .select(F.col("m.nid").alias("nid"), F.col("m.sz").alias("sz"))
        .groupBy("nid")
        .agg(F.max("sz").alias("sz"))
    )
    a = refresh_neighbor_index(
        old_p, old_n, None, _und(base_df), delta_df, cap, old_sizes=sizes
    )[0]
    b = refresh_neighbor_index(
        old_p, old_n, None, _und(base_df), delta_df, cap
    )[0]
    assert _rows(a) == _rows(b)


def test_lsh_refresh_identity(spark, sf_dir):
    """Appended signatures == full rebuild, at the stored MAX_BITS
    width and the serving width."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    delta = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    for bits in (lsh.N_BITS, lsh.MAX_BITS):
        refreshed = lsh.refresh_index(
            lsh.bucketize(base, dim=64, n_bits=bits), delta, dim=64,
            n_bits=bits,
        )
        rebuilt = lsh.bucketize(emb, dim=64, n_bits=bits)
        assert _rows(refreshed) == _rows(rebuilt)


def _synth_emb(spark, n, dim=8):
    """Deterministic pseudo-random vectors (LCG, no RNG state)."""
    rows = [
        (
            i,
            f"v{i}",
            [
                ((i * 2654435761 + j * 40503) % 1000) / 500.0 - 1.0
                for j in range(dim)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )


def _mine(idx, cap):
    """Replica of refresh_pairs' candidate pass, for the
    non-vacuity probes below only (the library path under test is
    lsh.refresh_pairs itself)."""
    from mcp_memory_libsql_spark.textops.tokenize import (
        pair_combos,
        split_fat_buckets,
    )

    capped = split_fat_buckets(idx, ["table_id", "sig"], "vec_id", cap)
    return (
        capped.groupBy("table_id", "sig", "_sub")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .select(F.explode(pair_combos("ids", "vec_a", "vec_b")).alias("p"))
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )


def test_lsh_pairs_refresh_cap_crossing(spark):
    """refresh_pairs == full re-mine on a corpus ENGINEERED to
    exercise both hard branches. A 24-member near-identical cluster
    (perturbations ≪ hyperplane margins, so it co-buckets in EVERY
    table) is 3× over cap=8, forcing fat-bucket splits whose
    per-table sub-deals are independent (the md5 salt includes the
    table's own sig). The delta vector is CHOSEN to share the
    cluster's signature in exactly ONE table — its arrival re-deals
    that table's sub-buckets while the other table's stay untouched,
    so some old pair loses its touched-table justification but keeps
    the untouched-table one: the rescue branch's exact case.
    threshold=-1 keeps every candidate so the test pins
    CANDIDATE-set maintenance, not scoring. Non-vacuity is asserted,
    not assumed: the re-deal must remove old pairs and a naive
    kept∪new merge that skips the untouched-bucket rescue must
    differ from the rebuild."""
    dim, nt, nb, cap, thr = 8, 2, 4, 8, -1.0
    u = [0.9, -0.7, 0.5, 0.8, -0.6, 0.4, -0.9, 0.7]
    rows = []
    for i in range(24):
        v = list(u)
        v[i % dim] += (i + 1) * 1e-7
        rows.append((i, f"c{i}", v))
    for i in range(60):
        vid = 100 + i
        v = [
            ((vid * 2654435761 + j * 40503) % 1000) / 500.0 - 1.0
            for j in range(dim)
        ]
        rows.append((vid, f"n{vid}", v))
    all_emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).localCheckpoint(eager=True)
    sig_map: dict[int, dict[int, int]] = {}
    for r in lsh.bucketize(all_emb, dim=dim, n_tables=nt, n_bits=nb).collect():
        sig_map.setdefault(r.vec_id, {})[r.table_id] = r.sig
    cl = sig_map[0]
    assert all(sig_map[i] == cl for i in range(24))  # cluster co-buckets
    dvid = next(
        vid
        for vid in range(100, 160)
        if sum(sig_map[vid][t] == cl[t] for t in range(nt)) == 1
    )
    base = all_emb.where(F.col("vec_id") != dvid)
    delta = all_emb.where(F.col("vec_id") == dvid)
    old_idx = lsh.bucketize(base, dim=dim, n_tables=nt, n_bits=nb)
    old_pairs = lsh.near_dup_pairs_lsh(
        base, threshold=thr, dim=dim, n_tables=nt, n_bits=nb,
        bucket_cap=cap, index=old_idx,
    )
    refreshed = lsh.refresh_pairs(
        old_idx, old_pairs, base, delta, threshold=thr, dim=dim,
        n_tables=nt, n_bits=nb, bucket_cap=cap,
    )
    rebuilt = lsh.near_dup_pairs_lsh(
        all_emb, threshold=thr, dim=dim, n_tables=nt, n_bits=nb,
        bucket_cap=cap,
    )
    assert _rows(refreshed) == _rows(rebuilt)

    old_set = {(r.vec_a, r.vec_b) for r in old_pairs.collect()}
    new_set = {(r.vec_a, r.vec_b) for r in rebuilt.collect()}
    assert old_set - new_set  # the re-deal genuinely removed pairs
    d_idx = lsh.bucketize(delta, dim=dim, n_tables=nt, n_bits=nb)
    touched = d_idx.select("table_id", "sig").distinct()
    old_t = old_idx.join(touched, ["table_id", "sig"], "leftsemi")
    old_cand = {(r.vec_a, r.vec_b) for r in _mine(old_t, cap).collect()}
    new_cand = {
        (r.vec_a, r.vec_b)
        for r in _mine(old_t.unionByName(d_idx), cap).collect()
    }
    naive = (old_set - old_cand) | (new_set & new_cand)
    assert naive != new_set  # the rescue branch carried real pairs


def test_lsh_pairs_refresh_real_corpus(spark, sf_dir):
    """refresh_pairs == full re-mine on the driver corpus with the
    registry twin's exact split (vec_id%19) and τ=0.4 width — the
    within-engine half of the vec_neardup_refresh oracle gate."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(19)) != 0)
    delta = emb.where(F.pmod(F.col("vec_id"), F.lit(19)) == 0)
    bits = lsh.n_bits_for_threshold(0.4)
    old_idx = lsh.bucketize(base, dim=64, n_bits=bits).localCheckpoint(
        eager=True
    )
    old_pairs = lsh.near_dup_pairs_lsh(
        base, threshold=0.4, index=old_idx
    ).localCheckpoint(eager=True)
    refreshed = lsh.refresh_pairs(
        old_idx, old_pairs, base, delta, threshold=0.4, dim=64, n_bits=bits
    )
    rebuilt = lsh.near_dup_pairs_lsh(emb, threshold=0.4, n_bits=bits)
    assert _rows(refreshed) == _rows(rebuilt)


def test_lsh_pairs_refresh_rejects_overlapping_delta(spark, sf_dir):
    """The exactness algebra assumes an APPEND-ONLY delta; an
    overlapping vec_id used to duplicate rows in the rescore joins
    silently. With check_disjoint=True (the registry gate's setting)
    misuse fails loudly instead."""
    import pytest as _pytest

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(19)) != 0)
    # delta deliberately overlaps base on one id
    delta = emb.where(
        (F.pmod(F.col("vec_id"), F.lit(19)) == 0)
        | (F.col("vec_id") == base.agg(F.min("vec_id")).collect()[0][0])
    )
    bits = lsh.n_bits_for_threshold(0.4)
    old_idx = lsh.bucketize(base, dim=64, n_bits=bits)
    old_pairs = lsh.near_dup_pairs_lsh(base, threshold=0.4, index=old_idx)
    with _pytest.raises(ValueError, match="append-only"):
        lsh.refresh_pairs(
            old_idx,
            old_pairs,
            base,
            delta,
            threshold=0.4,
            dim=64,
            n_bits=bits,
            check_disjoint=True,
        )


# ------------------------------------------------- refresh-vs-rebuild gate


def test_choose_refresh_measured_regimes():
    """The decision function must pick the MEASURED winner in every
    regime SCALE_REHEARSAL.json recorded at the 30x point (VERDICT
    r07 item 2's acceptance rule)."""
    from mcp_memory_libsql_spark.maintenance import choose_refresh

    # pairs, sparse 40-row delta on the 30x corpus (60k embeddings):
    # measured 1.24x -> refresh
    d = choose_refresh("pairs", n_base=60000, n_delta=40)
    assert d.path == "refresh" and d.est_frac < 0.075

    # pairs, +1-copy delta (2000 rows on 60k): measured 0.35x ->
    # rebuild (bucket saturation)
    d = choose_refresh("pairs", n_base=60000, n_delta=2000)
    assert d.path == "rebuild" and d.est_frac == 1.0

    # signatures, same +1-copy delta: measured 6.8x -> refresh
    # (pure per-row function; no width cross at 62k under MAX_BITS)
    d = choose_refresh("signatures", n_base=60000, n_delta=2000)
    assert d.path == "refresh" and d.est_frac == 0.0

    # signatures, width-boundary cross: every stored signature is at
    # the wrong width -> rebuild (510 <= 32*2^4 < 520)
    d = choose_refresh("signatures", n_base=510, n_delta=10)
    assert d.path == "rebuild" and d.est_frac == 1.0

    # a width cross forces the pair stream to rebuild too
    d = choose_refresh("pairs", n_base=510, n_delta=10)
    assert d.path == "rebuild"

    # postings, entity-disjoint +1-copy shape (rewrite set ~ the new
    # copy's groups, a small fraction): measured 3.85x -> refresh
    d = choose_refresh("postings", n_rewritten=2500, n_groups=30000)
    assert d.path == "refresh"

    # postings, scattered random delta saturating the rewrite bound
    d = choose_refresh("postings", n_rewritten=29000, n_groups=30000)
    assert d.path == "rebuild"

    # labels mirrors postings
    assert choose_refresh("labels", n_touched=100, n_nodes=10000).path == "refresh"
    assert choose_refresh("labels", n_touched=9000, n_nodes=10000).path == "rebuild"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        choose_refresh("nonsense")


def test_refresh_plan_rows_route_through_gate(spark, sf_dir):
    """The registered index_refresh_plan rows must equal
    maintenance.choose_refresh on the same counts — the in-plan CASE
    arithmetic and the driver-side function are the same policy."""
    from mcp_memory_libsql_spark import maintenance as mx
    from mcp_memory_libsql_spark.registry import QUERIES

    rows = {r.artifact: r for r in QUERIES["index_refresh_plan"](spark, sf_dir).collect()}
    assert set(rows) == {
        "lsh_signature",
        "lsh_pairs",
        "lsh_pairs_sparse",
        "nbr_postings",
        "nbr_postings_sparse",
    }
    for art, kind in [
        ("lsh_signature", "signatures"),
        ("lsh_pairs", "pairs"),
        ("lsh_pairs_sparse", "pairs"),
    ]:
        r = rows[art]
        d = mx.choose_refresh(kind, n_base=r.n_base, n_delta=r.n_delta)
        assert r.path == d.path, (art, r, d)
        assert abs(r.est_frac - d.est_frac) < 1e-6
        assert abs(r.boundary - d.boundary) < 1e-12
    for art in ("nbr_postings", "nbr_postings_sparse"):
        r = rows[art]
        assert abs(r.boundary - mx.POSTINGS_MAX_REWRITE_FRAC) < 1e-12
        assert r.path == (
            "refresh" if r.est_frac <= r.boundary else "rebuild"
        )
    # and the plan demonstrates BOTH regimes of each boundary
    assert rows["lsh_pairs"].path == "rebuild"
    assert rows["lsh_pairs_sparse"].path == "refresh"
    assert rows["nbr_postings"].path == "rebuild"
    assert rows["nbr_postings_sparse"].path == "refresh"


def test_maintain_pairs_routes_and_matches(spark, sf_dir):
    """maintain_pairs picks refresh for a bucket-sparse delta and
    rebuild for the saturating one; BOTH outputs equal the
    from-scratch rebuild (the gate changes cost, never answers)."""
    from mcp_memory_libsql_spark.maintenance import maintain_pairs

    emb = load_tables(spark, sf_dir)["embeddings"]
    bits = lsh.n_bits_for_threshold(0.4)

    for mod, want in ((500, "refresh"), (19, "rebuild")):
        base = emb.where(F.pmod(F.col("vec_id"), F.lit(mod)) != 0)
        delta = emb.where(F.pmod(F.col("vec_id"), F.lit(mod)) == 0)
        old_idx = lsh.bucketize(base, dim=64, n_bits=bits).localCheckpoint(
            eager=True
        )
        old_pairs = lsh.near_dup_pairs_lsh(
            base, threshold=0.4, index=old_idx
        ).localCheckpoint(eager=True)
        out, dec = maintain_pairs(
            old_idx, old_pairs, base, delta,
            threshold=0.4, dim=64, n_bits=bits,
        )
        assert dec.path == want, (mod, dec)
        rebuilt = lsh.near_dup_pairs_lsh(emb, threshold=0.4, n_bits=bits)
        assert _rows(out) == _rows(rebuilt)


def test_maintain_signature_index_width_cross_rebuilds(spark, sf_dir):
    """A delta crossing the width_for_corpus boundary rebuilds the
    whole index at the NEW width; a non-crossing delta appends."""
    from mcp_memory_libsql_spark.maintenance import maintain_signature_index

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.where(F.col("vec_id") < 480)
    delta = emb.where(F.col("vec_id") >= 480).limit(20)
    old = lsh.bucketize(base, dim=64, n_bits=lsh.width_for_corpus(510))
    # forced-cross counts: 510 -> w=4, 520 -> w=5
    out, dec = maintain_signature_index(
        old, base, delta, dim=64, counts=(510, 10)
    )
    assert dec.path == "rebuild" and dec.est_frac == 1.0
    full = base.unionByName(delta)
    assert _rows(out) == _rows(
        lsh.bucketize(full, dim=64, n_bits=lsh.width_for_corpus(520))
    )
    # non-crossing: pure append, identical to rebuild at same width
    out2, dec2 = maintain_signature_index(
        old, base, delta, dim=64, counts=(480, 20),
        n_bits=lsh.width_for_corpus(510),
    )
    assert dec2.path == "refresh"
    assert _rows(out2) == _rows(
        lsh.bucketize(full, dim=64, n_bits=lsh.width_for_corpus(510))
    )


def test_maintain_neighbor_index_routes(spark, sf_dir):
    """Gate-routed postings maintenance: the registry's scattered 5%
    delta saturates the rewrite bound (rebuild); an entity-local
    sparse delta refreshes; both outputs equal the rebuild."""
    from mcp_memory_libsql_spark.maintenance import maintain_neighbor_index
    from mcp_memory_libsql_spark.textops.tokenize import md5_hash32

    rel = kg_views.kg(load_tables(spark, sf_dir))["relations"]
    key = F.concat_ws("|", "source", "target", "relation_type")
    dense = F.pmod(md5_hash32(key), F.lit(20)) == 0
    sparse = (F.pmod(md5_hash32(F.col("source")), F.lit(200)) == 0) & (
        F.pmod(md5_hash32(F.col("target")), F.lit(200)) == 0
    )
    for pred, want in ((sparse, "refresh"), (dense, "rebuild")):
        base = rel.where(~pred).localCheckpoint(eager=True)
        delta = rel.where(pred).localCheckpoint(eager=True)
        postings, names = neighbor_postings(base)
        postings = postings.localCheckpoint(eager=True)
        names = names.localCheckpoint(eager=True)
        (new_p, new_n, _, _), dec = maintain_neighbor_index(
            postings, names, None, _und(base), base, delta
        )
        assert dec.path == want, (want, dec)
        full_p, full_n = neighbor_postings(base.unionByName(delta))
        ex = lambda p, n: (
            p.select("nbr", F.explode("ids").alias("m"))
            .select("nbr", F.col("m.nid").alias("nid"), F.col("m.sz").alias("sz"))
            .join(n, "nid")
            .select("nbr", "name", "sz")
        )
        assert _rows(ex(new_p, new_n)) == _rows(ex(full_p, full_n))


# ------------------------------------------------------- LPA refresh


def _hist_rows(df):
    return sorted(str(r) for r in df.collect())


def test_lpa_history_final_equals_production(spark, sf_dir):
    """label_propagation_history's last column must be the exact
    production label_propagation result (same rounds, same argmax) —
    the history artifact is a superset, never a variant."""
    from mcp_memory_libsql_spark.kg import refresh as kgr
    from mcp_memory_libsql_spark.kg import traverse

    rel = kg_views.kg(load_tables(spark, sf_dir))["relations"]
    hist = kgr.label_propagation_history(rel, 4)
    l4 = _rows(hist.select("name", F.col("l4").alias("community")))
    lp = _rows(
        traverse.label_propagation(rel, 4).select("name", "community")
    )
    assert l4 == lp


def test_lpa_refresh_bridging_delta(spark):
    """The adversarial LPA shape: the delta BRIDGES two settled
    communities (labels must re-seed across the bridge within the
    remaining rounds), adds a brand-new disjoint component, and
    re-sends an existing edge (no-op). Refresh ≡ from-scratch history
    on the merged graph."""
    from mcp_memory_libsql_spark.kg import refresh as kgr

    # two 4-cliques A and B, plus a chain hanging off A
    def clique(ns):
        return [(a, b) for a in ns for b in ns if a < b]

    base = (
        clique(["a1", "a2", "a3", "a4"])
        + clique(["b1", "b2", "b3", "b4"])
        + [("a4", "c1"), ("c1", "c2")]
    )
    delta = [
        ("a1", "b1"),  # bridge between the communities
        ("a1", "a2"),  # duplicate edge — no-op
        ("z1", "z2"), ("z2", "z3"),  # new disjoint component
    ]
    base_df, delta_df = _rel(spark, base), _rel(spark, delta)
    hist = kgr.label_propagation_history(base_df, 4).localCheckpoint(
        eager=True
    )
    edges = kgr._sym_edges(base_df).localCheckpoint(eager=True)
    refreshed = kgr.refresh_lpa_labels(hist, edges, delta_df, 4)
    rebuilt = kgr.label_propagation_history(
        base_df.unionByName(delta_df), 4
    )
    assert _hist_rows(refreshed) == _hist_rows(rebuilt)


def test_lpa_refresh_real_graph(spark, sf_dir):
    """The registry twin's exact 95/5 split, asserted within-engine
    over the FULL history (the oracle twin only gates the final
    round)."""
    from mcp_memory_libsql_spark.kg import refresh as kgr
    from mcp_memory_libsql_spark.textops.tokenize import md5_hash32

    rel = kg_views.kg(load_tables(spark, sf_dir))["relations"]
    key = F.concat_ws("|", "source", "target", "relation_type")
    is_delta = F.pmod(md5_hash32(key), F.lit(20)) == 0
    base, delta = rel.where(~is_delta), rel.where(is_delta)
    hist = kgr.label_propagation_history(base, 4).localCheckpoint(
        eager=True
    )
    edges = kgr._sym_edges(base).localCheckpoint(eager=True)
    refreshed = kgr.refresh_lpa_labels(hist, edges, delta, 4)
    rebuilt = kgr.label_propagation_history(rel, 4)
    assert _hist_rows(refreshed) == _hist_rows(rebuilt)


def test_maintain_lpa_labels_routes(spark):
    """Gate routing: a one-edge delta inside one community refreshes;
    a delta touching every community rebuilds; both equal the
    from-scratch history."""
    from mcp_memory_libsql_spark.kg import refresh as kgr
    from mcp_memory_libsql_spark.maintenance import maintain_lpa_labels

    def clique(ns):
        return [(a, b) for a in ns for b in ns if a < b]

    base = (
        clique(["a1", "a2", "a3", "a4"])
        + clique(["b1", "b2", "b3", "b4"])
        + clique(["c1", "c2", "c3", "c4"])
    )
    base_df = _rel(spark, base)
    hist = kgr.label_propagation_history(base_df, 4).localCheckpoint(
        eager=True
    )
    edges = kgr._sym_edges(base_df).localCheckpoint(eager=True)

    sparse = _rel(spark, [("a1", "a5")])  # touches community A only
    out, dec = maintain_lpa_labels(hist, edges, base_df, sparse, 4)
    assert dec.path == "refresh", dec
    assert _hist_rows(out) == _hist_rows(
        kgr.label_propagation_history(base_df.unionByName(sparse), 4)
    )

    wide = _rel(spark, [("a1", "b1"), ("b2", "c1")])  # every community
    out2, dec2 = maintain_lpa_labels(hist, edges, base_df, wide, 4)
    assert dec2.path == "rebuild", dec2
    assert _hist_rows(out2) == _hist_rows(
        kgr.label_propagation_history(base_df.unionByName(wide), 4)
    )


def test_lpa_history_log_bounded_and_exact(spark, tmp_path, monkeypatch):
    """VERDICT r08 item 5: the LpaHistoryLog appends only the
    affected-set rows per refresh (bounded, not k·V), its folded read
    equals the from-scratch history over the merged graph after ≥3
    successive deltas, and compaction collapses the deltas into a
    fresh snapshot without changing the read."""
    import os

    from mcp_memory_libsql_spark.kg import refresh as kgr

    def clique(ns):
        return [(a, b) for a in ns for b in ns if a < b]

    # three well-separated communities + a long chain: localized
    # deltas touch one community's neighborhood only
    base = (
        clique(["a1", "a2", "a3", "a4"])
        + clique(["b1", "b2", "b3", "b4"])
        + clique(["c1", "c2", "c3", "c4"])
        + [("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("d4", "d5")]
    )
    base_df = _rel(spark, base)
    log = kgr.LpaHistoryLog(spark, str(tmp_path / "lpa_log"), 4)
    log.write_snapshot(
        kgr.label_propagation_history(base_df, 4).localCheckpoint(eager=True)
    )
    n_nodes = (
        base_df.select("source")
        .union(base_df.select("target"))
        .distinct()
        .count()
    )

    deltas = [
        [("a1", "a5")],           # grow community A
        [("b4", "b5"), ("b5", "b6")],  # grow community B by a chain
        [("z1", "z2")],           # brand-new disjoint component
    ]
    merged = base_df
    edges = kgr._sym_edges(base_df).localCheckpoint(eager=True)
    for d in deltas:
        d_df = _rel(spark, d)
        log.refresh(edges, d_df)
        merged = merged.unionByName(d_df)
        edges = kgr._sym_edges(merged).localCheckpoint(eager=True)

    # bounded: each delta file holds the affected superset, strictly
    # fewer rows than the full node set (k·V would be a full rewrite)
    delta_dirs = sorted(
        p for p in os.listdir(str(tmp_path / "lpa_log"))
        if p.startswith("delta_")
    )
    assert len(delta_dirs) == 3
    for p in delta_dirs:
        n = spark.read.parquet(str(tmp_path / "lpa_log" / p)).count()
        assert 0 < n < n_nodes, (p, n, n_nodes)

    # exact: folded read ≡ from-scratch history over the merged graph
    rebuilt = kgr.label_propagation_history(merged, 4)
    assert _hist_rows(log.read()) == _hist_rows(rebuilt)

    # compaction: force the threshold, append one more delta, and pin
    # that the deltas collapsed into the snapshot with the read intact
    monkeypatch.setattr(kgr, "COMPACT_EVERY", 2)
    d_df = _rel(spark, [("c4", "c5")])
    log.refresh(edges, d_df)
    merged = merged.unionByName(d_df)
    assert not [
        p for p in os.listdir(str(tmp_path / "lpa_log"))
        if p.startswith("delta_")
    ]
    assert _hist_rows(log.read()) == _hist_rows(
        kgr.label_propagation_history(merged, 4)
    )


def test_refresh_plan_probe_subtrees_stay_deduped(spark, sf_dir):
    """r09 plan-shape pin: index_refresh_plan's postings probes persist
    their multi-consumer intermediates (und_base, kept), so the
    physical plan must carry InMemoryTableScans and far fewer base
    scans than the pre-fix shape (62 relations scans / 90 Exchange —
    every consumer re-planned the O(E) distinct). Loose ceilings: the
    point is catching a regression to per-consumer re-planning, not
    pinning exact operator counts across Spark versions."""
    from mcp_memory_libsql_spark.registry import QUERIES

    df = QUERIES["index_refresh_plan"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("InMemoryTableScan") >= 4, plan[:2000]
    # 28 isolated at sf0.1; 44 inside the full suite at sf0.001 (session
    # cache state + size-dependent join planning move it) — the
    # regression being pinned is the ~62-scan per-consumer re-planning
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 52, f"{n_scans} parquet scans - probe dedup regressed?"


def test_ckpt_dir_is_removed_at_exit(tmp_path):
    """``_ckpt`` makes a temp checkpoint dir for a session that has
    none; Spark leaves checkpoint files in place, so the dir must go
    when the process exits."""
    import glob
    import os
    import subprocess
    import sys

    script = (
        "from pyspark.sql import SparkSession\n"
        "from mcp_memory_libsql_spark.kg.refresh import _ckpt\n"
        "spark = SparkSession.builder.master('local[1]').getOrCreate()\n"
        "assert _ckpt(spark.range(10)).count() == 10\n"
        "print(spark.sparkContext.getCheckpointDir())\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "spark_refresh_ckpt_" in out.stdout.splitlines()[-1]
    assert glob.glob(str(tmp_path / "spark_refresh_ckpt_*")) == []
