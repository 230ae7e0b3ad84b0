"""Wave-2 KG / vector op tests: PageRank invariants, IVF recall,
funnel correctness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mcp_memory_libsql_spark.analytics import events as ev_ops
from mcp_memory_libsql_spark.io.tables import load_tables
from mcp_memory_libsql_spark.kg import traverse as kg_traverse
from mcp_memory_libsql_spark.kg import views as kg_views
from mcp_memory_libsql_spark.vector import ivf


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return load_tables(spark, sf_dir)


def test_pagerank_sums_to_one(spark, t):
    rel = kg_views.relations(t)
    pr = kg_traverse.pagerank(rel, iterations=5)
    total = pr.agg(F.sum("rank")).collect()[0][0]
    # dangling mass leaks, so total ≤ 1 but must stay substantial
    assert 0.2 <= total <= 1.000001
    rows = {r.name: r.rank for r in pr.collect()}
    n = len(rows)
    floor = (1.0 - 0.85) / n
    # every node keeps at least the teleport floor; in-degree-heavy
    # nodes (parts, regions) accumulate clearly more
    assert all(v >= floor * 0.999 for v in rows.values())
    assert max(rows.values()) > 5 * floor


def test_pagerank_deterministic(spark, t):
    rel = kg_views.relations(t)
    a = sorted(map(tuple, kg_traverse.pagerank(rel, 3).collect()))
    b = sorted(map(tuple, kg_traverse.pagerank(rel, 3).collect()))
    assert a == b


def test_ivf_recall(spark, t):
    emb = t["embeddings"]
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    q = mat[ids == 0][0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(round(s, 6), i) for s, i in zip(sims, ids) if i != 0],
        key=lambda x: (-x[0], x[1]),
    )
    want = {i for _, i in order[:10]}
    got = {r.vec_id for r in ivf.ivf_ann(emb, 0, k=10, dim=64, n_probe=3).collect()}
    assert len(got & want) >= 3  # probing 3 of ~N cells


def test_funnel_semantics(spark, t):
    out = ev_ops.signup_purchase_funnel(t, days=7).collect()
    assert out, "funnel should be non-empty on testdata"
    for r in out:
        assert r.signup_epoch <= r.purchase_epoch <= r.signup_epoch + 7 * 86400


def test_observation_counts_cover_all_entities(spark, t):
    g = kg_views.kg(t)
    oc = kg_traverse.observation_counts(g["entities"], g["observations"])
    assert oc.count() == g["entities"].count()
    # regions have no observations
    assert (
        oc.where(F.col("entity_type") == "region")
        .where(F.col("n_observations") != 0)
        .count()
        == 0
    )


def test_connected_components(spark, t):
    from mcp_memory_libsql_spark.kg import views as kv

    rel = kv.relations(t)
    cc = kg_traverse.connected_components(rel)
    comps = {r.component for r in cc.collect()}
    # the KG graph is fully connected through nation/region hubs →
    # a single component labeled by the global min name
    names = [r.name for r in cc.collect()]
    assert comps == {min(names)}


def test_connected_components_disjoint(spark):
    rel = spark.createDataFrame(
        [("a", "b", "t"), ("b", "c", "t"), ("x", "y", "t")],
        "source string, target string, relation_type string",
    )
    cc = {
        r.name: r.component
        for r in kg_traverse.connected_components(rel, max_iter=4).collect()
    }
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_graphstore_vacuum_and_checkpoint(spark, tmp_path):
    import os

    from mcp_memory_libsql_spark.kg.store import GraphStore

    store = GraphStore(spark, str(tmp_path / "store"))
    store.init_empty()
    ents = spark.createDataFrame(
        [("A", "t", 1), ("B", "t", 2)],
        "name string, entity_type string, created_at bigint",
    )
    for _ in range(3):  # v1..v3
        store.write(
            {
                "entities": ents,
                "observations": store.read()["observations"],
                "relations": store.read()["relations"],
            }
        )
    assert store.list_versions() == [0, 1, 2, 3]
    before = {r.name for r in store.read()["entities"].collect()}

    removed = store.vacuum(keep_last=2)
    assert removed == [0, 1]
    assert store.list_versions() == [2, 3]
    # current snapshot unchanged by GC
    assert {r.name for r in store.read()["entities"].collect()} == before

    v = store.checkpoint()
    assert v == 4
    # compaction preserved data, in no more files per table than v3
    assert {r.name for r in store.read()["entities"].collect()} == before

    def files(version, tbl):
        d = tmp_path / "store" / f"v{version}" / tbl
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    for tbl in store.TABLES:
        assert files(4, tbl) <= max(1, files(3, tbl)), tbl
    # old (pre-compaction) snapshot still time-travels
    assert {r.name for r in store.read(version=3)["entities"].collect()} == before


def _mk_store(spark, tmp_path):
    from mcp_memory_libsql_spark.kg.store import GraphStore

    store = GraphStore(spark, str(tmp_path / "dstore"))
    store.init_empty()  # v0 snapshot
    ents = spark.createDataFrame(
        [("A", "person", 10), ("B", "place", 20)],
        "name string, entity_type string, created_at bigint",
    )
    obs = spark.createDataFrame(
        [("A", "likes tea", 10), ("B", "is cold", 20)],
        "entity_name string, content string, created_at bigint",
    )
    rels = spark.createDataFrame(
        [("A", "B", "visited")],
        "source string, target string, relation_type string",
    )
    store.write({"entities": ents, "observations": obs, "relations": rels})
    return store


def test_graphstore_delta_upsert_matches_eager(spark, tmp_path):
    from mcp_memory_libsql_spark.kg.store import upsert_entities

    store = _mk_store(spark, tmp_path)
    b_ent = spark.createDataFrame(
        [("A", "human", 99), ("C", "thing", 30)],
        "name string, entity_type string, created_at bigint",
    )
    b_obs = spark.createDataFrame(
        [("A", "likes coffee", 99), ("C", "is new", 30)],
        "entity_name string, content string, created_at bigint",
    )
    base = store.read()
    want_e, want_o = upsert_entities(
        base["entities"], base["observations"], b_ent, b_obs
    )
    want = (
        {tuple(r) for r in want_e.collect()},
        {tuple(r) for r in want_o.collect()},
    )

    v = store.write_delta(
        "upsert", {"batch_entities": b_ent, "batch_observations": b_obs}
    )
    assert store.version_type(v) == "delta:upsert"
    assert store.delta_chain_length() == 1
    got = store.read()
    assert {tuple(r) for r in got["entities"].collect()} == want[0]
    assert {tuple(r) for r in got["observations"].collect()} == want[1]
    # upserted A keeps stored created_at (reference UPDATE semantics)
    a = {r.name: r.created_at for r in got["entities"].collect()}
    assert a["A"] == 10 and a["C"] == 30


def test_graphstore_delta_chain_and_checkpoint(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    rel = "source string, target string, relation_type string"
    store.write_delta("create_relations", {
        "batch_relations": spark.createDataFrame([("B", "A", "hosted")], rel)
    })
    store.write_delta("delete_relations", {
        "batch_relations": spark.createDataFrame([("A", "B", "visited")], rel)
    })
    store.write_delta(
        "delete_entities", {"names": spark.createDataFrame([("B",)], "name string")}
    )
    assert store.delta_chain_length() == 3
    # B gone everywhere; hosted relation (B->A) cascaded away too
    state = store.read()
    assert {r.name for r in state["entities"].collect()} == {"A"}
    assert state["relations"].count() == 0
    assert {r.entity_name for r in state["observations"].collect()} == {"A"}

    # time-travel to mid-chain delta: B deleted only at the last step
    mid = store.read(version=store.current_version() - 1)
    assert {r.name for r in mid["entities"].collect()} == {"A", "B"}
    assert {tuple(r) for r in mid["relations"].collect()} == {
        ("B", "A", "hosted")
    }

    before = {tuple(r) for r in state["entities"].collect()}
    cv = store.checkpoint()
    assert store.version_type(cv) == "snapshot"
    assert store.delta_chain_length() == 0
    assert {tuple(r) for r in store.read()["entities"].collect()} == before


def test_graphstore_vacuum_keeps_delta_anchor(spark, tmp_path):
    store = _mk_store(spark, tmp_path)  # v0 empty snap, v1 data snap
    for i in range(3):  # v2..v4 deltas anchored on v1
        store.write_delta("create_relations", {
            "batch_relations": spark.createDataFrame(
                [(f"A", "B", f"r{i}")],
                "source string, target string, relation_type string",
            )
        })
    removed = store.vacuum(keep_last=2)
    # v0 removable; v1 is the anchor of retained deltas — must survive
    assert removed == [0]
    assert store.list_versions() == [1, 2, 3, 4]
    assert store.read()["relations"].count() == 4


def test_graphstore_vacuum_without_a_committed_version(spark, tmp_path):
    """Nothing to collect before the first version: a missing store and
    one holding only a pending write both vacuum to ``[]``."""
    import os

    from mcp_memory_libsql_spark.kg.store import GraphStore

    store = GraphStore(spark, str(tmp_path / "none"))
    assert store.vacuum() == []
    os.makedirs(os.path.join(store.path, "_pending-0"))
    assert store.vacuum() == []
    assert store.list_versions() == []
    assert os.listdir(store.path) == ["_pending-0"]


def _mk_delta_store(spark, tmp_path):
    """``_mk_store``'s snapshot followed by one delta of each op."""
    store = _mk_store(spark, tmp_path)
    store.write_delta("upsert", {
        "batch_entities": spark.createDataFrame(
            [("C", "thing", 30)],
            "name string, entity_type string, created_at bigint",
        ),
        "batch_observations": spark.createDataFrame(
            [("C", "is new", 30)],
            "entity_name string, content string, created_at bigint",
        ),
    })
    rel = "source string, target string, relation_type string"
    store.write_delta("create_relations", {
        "batch_relations": spark.createDataFrame([("C", "A", "knows")], rel)
    })
    store.write_delta("delete_relations", {
        "batch_relations": spark.createDataFrame([("A", "B", "visited")], rel)
    })
    store.write_delta(
        "delete_entities", {"names": spark.createDataFrame([("B",)], "name string")}
    )
    return store


def test_graphstore_read_launches_no_spark_job(spark, tmp_path):
    store = _mk_delta_store(spark, tmp_path)
    sc = spark.sparkContext
    group = f"graphstore-read-{tmp_path.name}"
    sc.setJobGroup(group, "GraphStore.read")
    try:
        state = store.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # every snapshot and payload is read under its declared schema,
    # so building the merge-on-read plan infers nothing
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert {tuple(r) for r in state["entities"].collect()} == {
        ("A", "person", 10),
        ("C", "thing", 30),
    }
    assert {tuple(r) for r in state["relations"].collect()} == {
        ("C", "A", "knows")
    }


def test_graphstore_read_plans_carry_no_batch_work(spark, tmp_path):
    import re

    store = _mk_delta_store(spark, tmp_path)
    # deltas hold prepared payloads: merge-on-read only joins and
    # unions them, with nothing left to sanitize, window or shuffle
    for table, df in store.read().items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, (table, plan)
        assert "regexp_replace" not in plan, (table, plan)
        assert not re.search(r"\bExchange (hash|range)partitioning", plan), (
            table, plan
        )


def test_graphstore_raw_upsert_delta_matches_eager(spark, tmp_path):
    from mcp_memory_libsql_spark.kg.store import upsert_entities

    store = _mk_store(spark, tmp_path)
    ents = spark.createDataFrame(
        [
            ("  A\x00 ", "robot", 40),  # control char + edge whitespace
            ("C", "thing", 30),
            ("C", "widget", 31),  # duplicate name, second type wins
            ("\x01\x02", "void", 50),  # sanitizes to "": dropped
        ],
        "name string, entity_type string, created_at bigint",
    )
    obs = spark.createDataFrame(
        [("C", f"fact {i:03d}", 30) for i in range(101)]
        + [(" A", "likes\x07 coffee\n\n\n\nand tea ", 40), ("\x01\x02", "gone", 50)],
        "entity_name string, content string, created_at bigint",
    )
    base = store.read()
    want_e, want_o = upsert_entities(
        base["entities"], base["observations"], ents, obs
    )
    store.write_delta("upsert", {"batch_entities": ents, "batch_observations": obs})
    got = store.read()
    got_e = {tuple(r) for r in got["entities"].collect()}
    got_o = {tuple(r) for r in got["observations"].collect()}
    assert got_e == {tuple(r) for r in want_e.collect()}
    assert got_o == {tuple(r) for r in want_o.collect()}
    assert got_e == {("A", "robot", 10), ("B", "place", 20), ("C", "widget", 31)}
    assert sum(1 for r in got_o if r[0] == "C") == 100
    assert ("A", "likes coffee\n\nand tea", 40) in got_o


def test_graphstore_chain_walks_each_version_once(spark, tmp_path, monkeypatch):
    store = _mk_delta_store(spark, tmp_path)
    calls = {"version_type": 0, "list_versions": 0}
    for meth in calls:
        orig = getattr(store, meth)

        def counted(*args, _orig=orig, _meth=meth):
            calls[_meth] += 1
            return _orig(*args)

        monkeypatch.setattr(store, meth, counted)
    chain = store.delta_chain_length()
    assert chain == 4
    # the four deltas plus their anchor, each typed once
    assert calls == {"version_type": chain + 1, "list_versions": 1}


def test_graphstore_write_delta_bounds_the_chain(spark, tmp_path):
    from mcp_memory_libsql_spark.kg.store import (
        SCHEMAS,
        create_relations,
        delete_entities,
        delete_relations,
        upsert_entities,
    )

    def rows(tables):
        return {t: sorted(map(tuple, df.collect())) for t, df in tables.items()}

    def frames(state):
        return {t: spark.createDataFrame(r, SCHEMAS[t]) for t, r in state.items()}

    def eager(state, op, p):
        t = frames(state)
        e, o, r = t["entities"], t["observations"], t["relations"]
        if op == "upsert":
            e, o = upsert_entities(e, o, p["batch_entities"], p["batch_observations"])
        elif op == "create_relations":
            r = create_relations(r, p["batch_relations"])
        elif op == "delete_relations":
            r = delete_relations(r, p["batch_relations"])
        else:
            e, o, r = delete_entities(e, o, r, p["names"])
        return rows({"entities": e, "observations": o, "relations": r})

    def upsert(*ents):
        return {
            "batch_entities": spark.createDataFrame(
                [(n, t, ts) for n, t, ts, _ in ents], SCHEMAS["entities"]
            ),
            "batch_observations": spark.createDataFrame(
                [(n, c, ts) for n, _, ts, c in ents], SCHEMAS["observations"]
            ),
        }

    def rels(*rs):
        return {"batch_relations": spark.createDataFrame(rs, SCHEMAS["relations"])}

    writes = [
        ("upsert", upsert(("A", "human", 99, "likes coffee"), ("C", "thing", 30, "is new"))),
        ("create_relations", rels(("C", "A", "knows"), ("B", "C", "sees"))),
        ("delete_relations", rels(("A", "B", "visited"), ("A", "B", "visited"))),
        ("upsert", upsert(("B", "city", 50, "is warm"), ("D", "tool", 50, "cuts"))),
        ("delete_entities", {"names": spark.createDataFrame([("C",), ("C",)], "name string")}),
        ("upsert", upsert(("C", "thing", 60, "is back"), ("A", "robot", 70, "beeps"))),
    ]
    store = _mk_store(spark, tmp_path)  # v0 empty snapshot, v1 data
    want = {v: rows(store.read(version=v)) for v in (0, 1)}
    for i, (op, payload) in enumerate(writes, 1):
        before = want[max(want)]
        v = store.write_delta(op, payload)
        assert store.delta_chain_length() <= 4, (i, store.delta_chain_length())
        want[v] = eager(before, op, payload)
        if op.startswith("delete_"):
            # a delete batch is stored as given: a repeated key removes
            # nothing more than the deduplicated batch does
            dedup = {n: df.distinct() for n, df in payload.items()}
            assert want[v] == eager(before, op, dedup), op
        if i == 5:
            # the write that takes the chain to 5 checkpoints after
            # committing its delta, which stays readable
            assert store.current_version() == v + 1
            assert store.version_type(v + 1) == "snapshot"
            want[v + 1] = want[v]
    assert sorted(want) == store.list_versions()
    assert [store.delta_chain_length(v) for v in sorted(want)] == [
        0, 0, 1, 2, 3, 4, 5, 0, 1
    ]
    for v, w in want.items():
        assert rows(store.read(version=v)) == w, v
    # upserted A kept its first created_at through the checkpoint
    assert ("A", "robot", 10) in want[max(want)]["entities"]


def test_graphstore_write_delta_rejects_undeclared_payload(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    v = store.current_version()
    rels = spark.createDataFrame(
        [("A", "B", "r")], "source string, target string, relation_type string"
    )
    with pytest.raises(ValueError, match="unknown delta op"):
        store.write_delta("merge", {"batch_relations": rels})
    with pytest.raises(ValueError):  # missing payload name
        store.write_delta("upsert", {"batch_entities": rels})
    with pytest.raises(ValueError):  # extra payload name
        store.write_delta(
            "create_relations", {"batch_relations": rels, "names": rels}
        )
    # a refused write claims no version
    assert store.current_version() == v
    assert store.list_versions() == [0, v]


def test_graphstore_payload_conforms_to_declared_schema(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    v = store.write_delta("upsert", {
        "batch_entities": spark.createDataFrame(
            [("C", "thing", 30, "extra")],
            "name string, entity_type string, created_at int, note string",
        ),
        "batch_observations": spark.createDataFrame(
            [("C", "is new", 30)],
            "entity_name string, content string, created_at int",
        ),
    })
    declared = [
        ("name", "string"), ("entity_type", "string"), ("created_at", "bigint")
    ]
    # written cast and selected, so even a schema-inferring reader
    # sees the declared columns
    payload = spark.read.parquet(store._dir(v, "batch_entities"))
    assert payload.dtypes == declared
    got = store.read()
    assert got["entities"].dtypes == declared
    assert ("C", "thing", 30) in {tuple(r) for r in got["entities"].collect()}
    assert ("C", "is new", 30) in {
        tuple(r) for r in got["observations"].collect()
    }


def _relation_rows(store):
    return sorted(map(tuple, store.read()["relations"].collect()))


def test_graphstore_failed_write_leaves_no_version(spark, tmp_path):
    """A write that fails mid-job publishes nothing and leaves no
    pending directory; a pending directory a killed writer left behind
    is never read and blocks no later write."""
    import os

    store = _mk_store(spark, tmp_path)
    versions, rows = store.list_versions(), _relation_rows(store)
    bad = spark.createDataFrame(
        [("A", "B", "ok"), ("X", "B", "boom")],
        "source string, target string, relation_type string",
    ).withColumn(
        "source",
        F.when(F.col("source") == "X", F.raise_error(F.lit("injected")))
        .otherwise(F.col("source")),
    )
    with pytest.raises(Exception, match="injected"):
        store.write_delta("create_relations", {"batch_relations": bad})
    assert store.list_versions() == versions
    assert sorted(os.listdir(store.path)) == sorted(f"v{v}" for v in versions)
    assert _relation_rows(store) == rows

    killed = tmp_path / "dstore" / "_pending-killed"
    killed.mkdir()
    (killed / "_TYPE").write_text("snapshot")
    assert store.list_versions() == versions
    assert _relation_rows(store) == rows

    v = store.write_delta("create_relations", {"batch_relations": spark.createDataFrame(
        [("B", "A", "next")], "source string, target string, relation_type string"
    )})
    assert v == versions[-1] + 1
    assert _relation_rows(store) == sorted(rows + [("B", "A", "next")])
    assert killed.is_dir()
    with pytest.raises(FileNotFoundError):
        store.read(version=v + 1)


def test_graphstore_concurrent_writers_lose_no_update(spark, tmp_path):
    """Four writers, each through its own GraphStore on one path, write
    three deltas apiece: every delta gets its own version and is
    stored exactly once, the versions stay contiguous, and the next
    write bounds the chain again."""
    import os
    import sys
    import threading
    from collections import Counter

    from mcp_memory_libsql_spark.kg.store import SCHEMAS, GraphStore

    path = _mk_store(spark, tmp_path).path
    rows = _relation_rows(GraphStore(spark, path))
    returned, errors = [], []

    def writer(t):
        store = GraphStore(spark, path)
        try:
            for i in range(3):
                batch = spark.createDataFrame(
                    [(f"w{t}", f"n{i}", "wrote")], SCHEMAS["relations"]
                )
                returned.append(
                    store.write_delta("create_relations", {"batch_relations": batch})
                )
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(returned) == len(set(returned)) == 12
    store = GraphStore(spark, path)
    versions = store.list_versions()
    assert versions == list(range(versions[0], versions[-1] + 1))
    written = [(f"w{t}", f"n{i}", "wrote") for t in range(4) for i in range(3)]
    got = Counter(_relation_rows(store))
    assert got == Counter(rows + written)
    store.write_delta("create_relations", {"batch_relations": spark.createDataFrame(
        [("A", "B", "after")], SCHEMAS["relations"]
    )})
    assert store.delta_chain_length() <= GraphStore.MAX_DELTA_CHAIN
    assert not [d for d in os.listdir(path) if d.startswith("_pending")]


def test_similar_entities_jaccard_and_symmetry(spark, sf_dir):
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import similarity, views

    rel = views.relations(load_tables(spark, sf_dir))
    out = similarity.similar_entities(rel, threshold=0.1)
    rows = out.collect()
    assert rows
    for r in rows[:200]:
        assert r.entity_a < r.entity_b  # canonical orientation, no dupes
        assert 0 < r.inter_size <= min(r.size_a, r.size_b)
        union = r.size_a + r.size_b - r.inter_size
        assert abs(r.jaccard - r.inter_size / union) < 1e-6
        assert r.jaccard >= 0.1


def test_similar_entities_cap_bounds_pairs(spark, sf_dir):
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import similarity, views
    from pyspark.sql import functions as F

    rel = views.relations(load_tables(spark, sf_dir))
    # tiny cap: every surviving neighbor contributes <= C(cap,2) pairs
    out = similarity.similar_entities(rel, threshold=0.0, cap=8)
    und = similarity.undirected_neighbors(rel)
    kept = (
        und.groupBy("nbr").count().where(F.col("count") <= 8).count()
    )
    assert out.count() <= kept * 28  # C(8,2)


def test_minhash_similarity_finds_top_exact_pair(spark, sf_dir):
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import similarity, views
    from pyspark.sql import functions as F

    rel = views.relations(load_tables(spark, sf_dir))
    top = (
        similarity.similar_entities(rel, threshold=0.5)
        .orderBy(F.desc("jaccard"), "entity_a")
        .limit(1)
        .collect()
    )
    assert top, "fixture graph should contain a high-jaccard pair"
    est = {
        (r.entity_a, r.entity_b): r.est_jaccard
        for r in similarity.similar_entities_minhash(rel, min_est=0.25).collect()
    }
    key = (top[0].entity_a, top[0].entity_b)
    # a 0.5+ true-jaccard pair collides on >=1 of 8 single-hash bands
    # with probability 1-(1-j)^8 > 0.99 and estimates near truth
    assert key in est
    assert est[key] >= 0.25
    assert all(0.25 <= v <= 1.0 for v in est.values())


def test_k_core_invariants(spark, t):
    rel = kg_views.relations(t)
    core = kg_traverse.k_core(rel, k=3)
    members = {r.name for r in core.collect()}
    assert members, "3-core should be non-empty on the KG testdata"
    # undirected distinct adjacency
    import collections

    adj = collections.defaultdict(set)
    for r in rel.select("source", "target").distinct().collect():
        if r.source != r.target:
            adj[r.source].add(r.target)
            adj[r.target].add(r.source)
    # every member keeps >= k neighbors inside the core
    for m in members:
        assert len(adj[m] & members) >= 3, m
    # maximality: no excluded node has >= k neighbors in the core
    # (the k-core is the unique maximal such subgraph)
    for n, nb in adj.items():
        if n not in members:
            assert len(nb & members) < 3, n


def test_k_core_matches_reported_degree(spark, t):
    rel = kg_views.relations(t)
    rows = kg_traverse.k_core(rel, k=3).collect()
    assert all(r.core_degree >= 3 for r in rows)


def test_graphstore_diff_tracks_upsert_and_delete(spark, tmp_path):
    store = _mk_store(spark, tmp_path)  # v1: A, B
    v1 = store.current_version()
    b_ent = spark.createDataFrame(
        [("A", "human", 99), ("C", "thing", 30)],
        "name string, entity_type string, created_at bigint",
    )
    b_obs = spark.createDataFrame(
        [("A", "likes coffee", 99), ("C", "is new", 30)],
        "entity_name string, content string, created_at bigint",
    )
    store.write_delta(
        "upsert", {"batch_entities": b_ent, "batch_observations": b_obs}
    )
    d = {
        (r.table_name, r.change, r.row_key)
        for r in store.diff(v1).collect()
    }
    # A's type changed (created_at preserved at 10) → removed+added;
    # C is new; A's observations replaced by the upsert. Row keys are
    # JSON structs (separator-safe, NULL-explicit).
    def ekey(name, etype, ts):
        return (
            f'{{"name":"{name}","entity_type":"{etype}","created_at":"{ts}"}}'
        )

    def okey(name, content, ts):
        return (
            f'{{"entity_name":"{name}","content":"{content}",'
            f'"created_at":"{ts}"}}'
        )

    assert ("entities", "added", ekey("A", "human", 10)) in d
    assert ("entities", "removed", ekey("A", "person", 10)) in d
    assert ("entities", "added", ekey("C", "thing", 30)) in d
    assert ("observations", "removed", okey("A", "likes tea", 10)) in d
    assert ("observations", "added", okey("A", "likes coffee", 99)) in d
    assert not any(t == "relations" for (t, _, _) in d)
    # diff of a version against itself is empty
    assert store.diff(v1, v1).count() == 0


def test_degree_delta_matches_recompute(spark, t):
    """IVM: folding an add+remove delta into the degree rollup equals
    recomputing degree over the merged edge set."""
    from mcp_memory_libsql_spark.kg import views as kg_views
    from mcp_memory_libsql_spark.kg.traverse import degree, degree_delta

    rels = kg_views.kg(t)["relations"]
    base = rels.where(F.col("relation_type") != "PART_OF")
    added = rels.where(F.col("relation_type") == "PART_OF")
    removed = base.limit(7)
    got = degree_delta(degree(base), added, removed)
    want = degree(base.exceptAll(removed).unionByName(added))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_hits_toy_graph_exact_counts(spark):
    # a->c, b->c, c->d: after round 1 a(c)=2 (a,b point at it with
    # h0=1), a(d)=1; h(a)=h(b)=2, h(c)=1. Round 2: a(c)=h(a)+h(b)=4,
    # a(d)=h(c)=1; h(a)=h(b)=a(c)=4, h(c)=a(d)=1, h(d)=0.
    rel = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("c", "d")], "source string, target string"
    )
    out = {r.name: (r.hub_score, r.authority_score)
           for r in kg_traverse.hits(rel, iterations=2).collect()}
    assert out == {"a": (4, 0), "b": (4, 0), "c": (1, 4), "d": (0, 1)}


def test_hits_relation_graph_nonnegative_and_deterministic(spark, t):
    rel = kg_views.relations(t)
    a = sorted(map(tuple, kg_traverse.hits(rel, 2).collect()))
    b = sorted(map(tuple, kg_traverse.hits(rel, 2).collect()))
    assert a == b
    assert all(h >= 0 and au >= 0 for _, h, au in a)
    # someone must accumulate mass
    assert max(h for _, h, _au in a) > 0


def test_suggest_weighted_ra_scores(spark):
    from mcp_memory_libsql_spark.kg import similarity

    # x and y share neighbors m (deg 2) and n (deg 3) and are not
    # connected: RA = 1/2 + 1/3. z-n edge gives n its third neighbor.
    rel = spark.createDataFrame(
        [("x", "m"), ("y", "m"), ("x", "n"), ("y", "n"), ("z", "n")],
        "source string, target string",
    )
    out = similarity.suggest_relations_weighted(rel, k=5).collect()
    by_pair = {(r.entity_a, r.entity_b): r for r in out}
    assert ("x", "y") in by_pair
    r = by_pair[("x", "y")]
    assert r.n_common == 2
    assert abs(r.ra_score - round(1 / 2 + 1 / 3, 6)) < 1e-9
    # connected pairs never appear
    assert ("x", "m") not in by_pair and ("m", "x") not in by_pair


def test_time_to_convert_buckets(spark):
    ev = spark.createDataFrame(
        [
            (1, 10, "signup", "2024-01-01 00:00:00"),
            (2, 10, "purchase", "2024-01-01 00:00:05"),  # delay 5 -> bucket 4
            (3, 11, "signup", "2024-01-01 00:00:00"),
            (4, 11, "purchase", "2024-01-01 00:00:00"),  # delay 0 -> bucket 0
            (5, 12, "signup", "2024-01-01 00:00:00"),   # never converts
            (6, 13, "purchase", "2024-01-01 00:00:00"),  # no signup
        ],
        "event_id long, user_id long, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.delay_bucket_s: r for r in ev_ops.time_to_convert({"events": ev}).collect()}
    assert set(out) == {0, 4}
    assert out[0].n_users == 1 and out[0].min_delay_s == 0
    assert out[4].n_users == 1 and out[4].min_delay_s == 5 and out[4].max_delay_s == 5


def test_daily_ewma_exact_fold(spark):
    ev = spark.createDataFrame(
        [(i, 1, "click", f"2024-01-0{d} 00:00:00")
         for i, d in enumerate([1, 1, 1, 1, 2, 3])],  # day1:4, day2:1, day3:1
        "event_id long, user_id long, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type",
             F.col("ts_s").cast("timestamp").alias("ts"))
    out = sorted(
        ev_ops.daily_ewma({"events": ev}).collect(), key=lambda r: r.day
    )
    # s1=4; s2=4+0.25*(1-4)=3.25; s3=3.25+0.25*(1-3.25)=2.6875
    assert [r.ewma for r in out] == [4.0, 3.25, 2.6875]
    assert out[0].residual is None
    assert [r.residual for r in out[1:]] == [1 - 4.0, 1 - 3.25]


def test_orders_backlog_conservation(spark, t):
    out = ev_ops.orders_backlog(t).collect()
    assert all(r.backlog >= 0 for r in out)
    assert sum(r.n_opened for r in out) == sum(r.n_closed for r in out)
    final = max(out, key=lambda r: r.day)
    assert final.backlog == 0


def test_random_walks_deterministic_and_valid(spark, t):
    rel = kg_views.relations(t)
    a = sorted(map(tuple, kg_traverse.random_walks(rel, length=4).collect()))
    b = sorted(map(tuple, kg_traverse.random_walks(rel, length=4).collect()))
    assert a == b and a
    edges = {
        (r.source, r.target)
        for r in rel.select("source", "target").distinct().collect()
    }
    out_nodes = {s for s, _ in edges}
    for start, path in a:
        hops = path.split("->")
        assert hops[0] == start and len(hops) == 5
        for u, v in zip(hops, hops[1:]):
            # every hop is a real edge, or a self-stay at a dead end
            assert (u, v) in edges or (u == v and u not in out_nodes)


def test_data_quality_checks_all_pass_on_testdata(spark, t):
    from mcp_memory_libsql_spark.io.stats import data_quality_checks

    rows = {r.check_name: r for r in data_quality_checks(t).collect()}
    assert len(rows) == 7
    assert all(r.passed for r in rows.values()), rows
    # and the checker actually detects violations on corrupted input
    bad = dict(t)
    bad["orders"] = t["orders"].withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 100 == 0, None).otherwise(
            F.col("o_custkey")
        ),
    )
    got = {r.check_name: r for r in data_quality_checks(bad).collect()}
    assert not got["orders.custkey_not_null"].passed
    assert got["orders.custkey_not_null"].n_violations > 0


def test_connected_components_long_chain_converges(spark):
    """A 20-node path graph needs ~19 rounds of HashMin — the
    fixpoint loop (not a fixed round count) must still produce one
    component equal to the exact closure."""
    rel = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(19)],
        "source string, target string",
    )
    out = {r.name: r.component for r in kg_traverse.connected_components(rel).collect()}
    assert len(out) == 20
    assert set(out.values()) == {"n00"}


def test_peak_concurrency_carries_midnight_sessions(spark):
    """A session spanning midnight must count toward the NEXT day's
    concurrency (the per-day sweep carries prior days' net deltas)."""
    ev = spark.createDataFrame(
        [
            # user 1: one session 23:30 day1 -> 00:30 day2
            (1, 1, "x", "2024-01-01 23:30:00", 1.0),
            (2, 1, "x", "2024-01-02 00:30:00", 1.0),
            # user 2: short session at 00:15 day2, overlapping user 1
            (3, 2, "x", "2024-01-02 00:15:00", 1.0),
        ],
        "event_id long, user_id long, event_type string, ts_s string, value double",
    ).select("event_id", "user_id", "event_type",
             F.col("ts_s").cast("timestamp").alias("ts"), "value")
    out = {r.day: r.peak_concurrent
           for r in ev_ops.peak_concurrency({"events": ev}, gap_minutes=90).collect()}
    assert out["2024-01-01"] == 1
    # at 00:15-00:30 on day2 BOTH sessions are open
    assert out["2024-01-02"] == 2


def test_pagerank_full_conserves_mass(spark, t):
    """The dangling-redistributed variant must keep Σ rank = 1 every
    run (vs the leaking variant's documented Σ < 1)."""
    rel = kg_views.relations(t)
    pr = kg_traverse.pagerank_full(rel, iterations=5)
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6
    leaky = kg_traverse.pagerank(rel, iterations=5)
    leaky_total = leaky.agg(F.sum("rank")).collect()[0][0]
    assert leaky_total < total  # the leak the full variant repairs


def test_similar_content_jaccard_bounds(spark, sf_dir):
    from mcp_memory_libsql_spark.registry import QUERIES

    rows = QUERIES["kg_similar_content"](spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        assert r.entity_a < r.entity_b
        assert 0.15 <= r.jaccard <= 1.0
        assert r.inter_size <= min(r.size_a, r.size_b)
        # J = i/(sa+sb-i) recomputes exactly
        assert abs(r.jaccard - round(r.inter_size / (r.size_a + r.size_b - r.inter_size), 6)) < 1e-9


def test_modularity_cardinality_hint_no_reevaluation(spark):
    """r07 ADVICE regression guard: with ``n_labels`` provided (the
    contract: the caller's labels frame is already materialized),
    community_modularity must not re-evaluate the provided frame — no
    checkpoint copy, no count job. Instrumented with an accumulator
    inside the labels plan: its value after the call proves how many
    times the frame's rows were recomputed (block re-scans of the
    caller's checkpoint don't re-run the python stage)."""
    from pyspark.sql import functions as F

    from mcp_memory_libsql_spark.kg import traverse

    rel = spark.createDataFrame(
        [("a", "b", "R"), ("b", "c", "R"), ("c", "a", "R"),
         ("x", "y", "R"), ("y", "z", "R")],
        "source string, target string, relation_type string",
    )
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    labels_plan = traverse.label_propagation(rel, 2).select(
        "name", "community"
    )
    instrumented = labels_plan.mapInPandas(
        bump, "name string, community string"
    )
    materialized = instrumented.localCheckpoint(eager=True)
    n = materialized.count()
    evals_at_ingest = acc.value
    assert evals_at_ingest == 6  # 6 nodes, evaluated exactly once

    out = traverse.community_modularity(
        rel, labels=materialized, n_labels=n
    ).collect()
    assert out  # non-vacuous: real modularity rows came back
    assert acc.value == evals_at_ingest  # ZERO re-evaluations

    # and the hinted path is result-identical to the counting path
    base = sorted(
        map(str, traverse.community_modularity(
            rel, labels=materialized
        ).collect())
    )
    assert sorted(map(str, out)) == base


def test_cc_single_task_equals_hashmin_rounds(spark, monkeypatch):
    """The size-gated single-Arrow-task union-find must produce the
    identical (name, component) set as the HashMin rounds on a shape
    that maximizes round count (a chain: min-label distance = length)
    plus unicode names (python code-point order == Spark UTF-8 binary
    order)."""
    from mcp_memory_libsql_spark.kg import traverse

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    extra = [("ü2", "ü1"), ("a", "ü1"), ("solo1", "solo2")]
    rel = spark.createDataFrame(
        [(s, t, "R") for s, t in chain + extra],
        "source string, target string, relation_type string",
    )
    fast = sorted(
        map(str, traverse.connected_components(rel).collect())
    )
    monkeypatch.setattr(traverse, "CC_LOCAL_MAX_EDGES", 0)
    slow = sorted(
        map(str, traverse.connected_components(rel).collect())
    )
    assert fast == slow and len(fast) == 18


def test_loop_gate_co_partitioned_path_identical(spark, t, monkeypatch):
    """Above BROADCAST_LOOP_MAX every iterative loop joins the cached
    co-partitioned edge side against the per-round O(V) map instead of
    broadcasting it (r09: the old above-gate fallback re-shuffled O(E)
    per round). Force the gate to 0 and pin that the co-partitioned
    regime returns the identical rows as the broadcast regime for all
    six gated loops (pagerank, pagerank_full, ppr, hits, components,
    LPA) plus the LPA history build."""
    from mcp_memory_libsql_spark.kg import refresh as kg_refresh
    from mcp_memory_libsql_spark.kg import traverse

    rel = kg_views.relations(t).localCheckpoint(eager=True)
    seeds = rel.select(F.col("source").alias("name")).limit(3)

    def run():
        return {
            "pagerank": sorted(map(str, traverse.pagerank(rel, 3).collect())),
            "pagerank_full": sorted(
                map(str, traverse.pagerank_full(rel, 3).collect())
            ),
            "ppr": sorted(
                map(
                    str,
                    traverse.personalized_pagerank(rel, seeds, 3).collect(),
                )
            ),
            "hits": sorted(map(str, traverse.hits(rel, 2).collect())),
            "cc": sorted(
                map(str, traverse.connected_components(rel).collect())
            ),
            "lpa": sorted(
                map(str, traverse.label_propagation(rel, 2).collect())
            ),
            "lpa_hist": sorted(
                map(
                    str,
                    kg_refresh.label_propagation_history(rel, 2).collect(),
                )
            ),
        }

    base = run()
    monkeypatch.setattr(traverse, "BROADCAST_LOOP_MAX", 0)
    # keep the single-task CC shortcut out of the way so the gated
    # HashMin loop itself runs in the co-partitioned regime
    monkeypatch.setattr(traverse, "CC_LOCAL_MAX_EDGES", 0)
    co = run()
    for k in base:
        assert co[k] == base[k], k
    assert base["pagerank"] and base["lpa_hist"]


def test_pagerank_full_cadence_invariant(spark, t, monkeypatch):
    """The lineage-cut cadence (PAGERANK_CKPT_EVERY, r09) is a plan
    artifact, not semantics: rank rows must be identical at every
    cadence. Pins the equality the r09 A/B
    (OPTIMIZATION_r09.md) gated before restoring the
    per-round cut."""
    from mcp_memory_libsql_spark.kg import traverse

    rel = kg_views.relations(t)

    def rows(cadence):
        monkeypatch.setattr(traverse, "PAGERANK_CKPT_EVERY", cadence)
        return sorted(
            map(str, traverse.pagerank_full(rel, iterations=5).collect())
        )

    base = rows(1)
    assert base
    assert rows(2) == base
    assert rows(3) == base
