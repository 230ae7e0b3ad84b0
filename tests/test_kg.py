"""KG behavior tests — DataFrame edition of the reference's vitest
suite (src/db/client.test.ts): upsert replaces observations, cascade
delete, search relevance ordering, limits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_memory_libsql_spark.io.tables import load_tables
from mcp_memory_libsql_spark.kg import search as kg_search
from mcp_memory_libsql_spark.kg import store as kg_store
from mcp_memory_libsql_spark.kg import traverse as kg_traverse
from mcp_memory_libsql_spark.kg import views as kg_views


@pytest.fixture(scope="module")
def g(spark, sf_dir):
    return kg_views.kg(load_tables(spark, sf_dir))


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_entities_unique_names(g):
    e = g["entities"]
    assert e.count() == e.select("name").distinct().count()


def test_search_relevance_tiers(spark, g):
    # 'customer' matches entity names (Customer#...) at relevance 3
    out = kg_search.search_entities(
        g["entities"], g["observations"], "customer", limit=50
    ).collect()
    assert out and all(r.relevance_score == 3 for r in out)
    # 'economy' only appears in part observations → relevance 1
    out = kg_search.search_entities(
        g["entities"], g["observations"], "economy", limit=10
    ).collect()
    assert out and all(r.relevance_score == 1 for r in out)
    # ordering: relevance desc then created_at desc
    out = kg_search.search_entities(
        g["entities"], g["observations"], "a", limit=50
    ).collect()
    scores = [(r.relevance_score, -r.created_at) for r in out]
    assert scores == sorted(scores, key=lambda x: (-x[0], x[1]))


def test_search_limit_capped_at_50(g):
    out = kg_search.search_entities(
        g["entities"], g["observations"], "customer", limit=999
    )
    assert out.count() <= 50


def test_search_empty_query_raises(g):
    with pytest.raises(ValueError):
        kg_search.search_entities(g["entities"], g["observations"], "  ")


def test_fuzzy_normalization(g):
    # runs of space/underscore/hyphen become % wildcards (client.ts:217)
    assert kg_search.normalize_query("middle east") == "%middle%east%"
    out = kg_search.search_entities(
        g["entities"], g["observations"], "middle_east", limit=10
    ).collect()
    assert any(r.name == "MIDDLE EAST" for r in out)


def test_search_match_equals_ilike_of_normalized_query(spark):
    texts = [
        None, "", "Middle East", "the middle-east desk", "east of middle",
        "aba", "abba", "a\\b", "a\\\\b", "50% off", "5 off", "x\nY\nz",
        "ΟΔΟΣ οδος", "İstanbul", "ab_cd", "abXcd",
    ]
    queries = [
        "middle east", "middle_east", "ab ba", "a\\b", "50%off", "%",
        "_", "x z", "ΟΔΟΣ", "i̇stanbul", "ab-cd", "b", "zz",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    for q in queries:
        got = df.select(
            F.coalesce(kg_search._ilike("t", q), F.lit(False)),
            F.coalesce(
                F.col("t").ilike(kg_search.normalize_query(q)), F.lit(False)
            ),
        ).collect()
        assert [a for a, _ in got] == [b for _, b in got], q


def test_sql_str_round_trips(spark):
    # quotes, backslashes and ${...} reach Spark as data, not SQL
    values = [
        "", "plain", "it's", "a\\b", "${spark.app.name}", "x\ny\x00",
        "é中", "😀 emoji", "--", "')",
    ]
    got = spark.range(1).select(
        *[F.expr(kg_search._sql_str(v)) for v in values]
    ).collect()[0]
    assert list(got) == values


def test_search_new_query_compiles_no_code(spark, g):
    # the query's words are data, not generated source: a query of a
    # shape already run reuses the compiled classes
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = lambda: compiled.METRIC_COMPILATION_TIME().getCount()  # noqa: E731

    def search(q):
        return kg_search.search_entities(
            g["entities"], g["observations"], q, limit=10
        ).collect()

    search("middle east")
    before = count()
    assert search("economy brushed_steel") is not None
    assert search("customer") is not None
    assert count() == before


def test_upsert_replaces_observations(spark, g):
    batch_e = _df(
        spark,
        [("Customer#000000001", "vip", 99999)],
        "name string, entity_type string, created_at bigint",
    )
    batch_o = _df(
        spark,
        [("Customer#000000001", "tier=vip", 99999)],
        "entity_name string, content string, created_at bigint",
    )
    e2, o2 = kg_store.upsert_entities(
        g["entities"], g["observations"], batch_e, batch_o
    )
    row = e2.where(F.col("name") == "Customer#000000001").collect()
    assert len(row) == 1 and row[0].entity_type == "vip"
    obs = o2.where(F.col("entity_name") == "Customer#000000001").collect()
    assert [r.content for r in obs] == ["tier=vip"]  # old obs replaced
    # other entities untouched
    assert e2.count() == g["entities"].count()


def test_upsert_inserts_new_entity(spark, g):
    batch_e = _df(
        spark,
        [("Wholly New Entity", "widget", 123)],
        "name string, entity_type string, created_at bigint",
    )
    batch_o = _df(
        spark,
        [("Wholly New Entity", "obs one", 123)],
        "entity_name string, content string, created_at bigint",
    )
    e2, _ = kg_store.upsert_entities(
        g["entities"], g["observations"], batch_e, batch_o
    )
    assert e2.count() == g["entities"].count() + 1


def test_upsert_last_writer_wins_in_batch(spark, g):
    batch_e = _df(
        spark,
        [("X", "old", 1), ("X", "new", 2)],
        "name string, entity_type string, created_at bigint",
    )
    batch_o = spark.createDataFrame(
        [], "entity_name string, content string, created_at bigint"
    )
    e2, _ = kg_store.upsert_entities(
        g["entities"], g["observations"], batch_e, batch_o
    )
    rows = e2.where(F.col("name") == "X").collect()
    assert len(rows) == 1 and rows[0].entity_type == "new"


def test_cascade_delete(spark, g):
    names = _df(spark, [("Customer#000000001",)], "name string")
    e2, o2, r2 = kg_store.delete_entities(
        g["entities"], g["observations"], g["relations"], names
    )
    assert e2.where(F.col("name") == "Customer#000000001").count() == 0
    assert o2.where(F.col("entity_name") == "Customer#000000001").count() == 0
    assert (
        r2.where(
            (F.col("source") == "Customer#000000001")
            | (F.col("target") == "Customer#000000001")
        ).count()
        == 0
    )


def test_delete_relation_exact_match_only(spark, g):
    batch = _df(
        spark,
        [("NATION_0", "AFRICA", "PART_OF")],
        "source string, target string, relation_type string",
    )
    before = g["relations"].count()
    r2 = kg_store.delete_relations(g["relations"], batch)
    assert r2.count() == before - 1


def test_read_graph_relations_touch_recent(spark, g):
    recent = kg_search.get_recent_entities(g["entities"], 10)
    rel = kg_search.read_graph(g["entities"], g["relations"], 10)
    names = {r.name for r in recent.collect()}
    for row in rel.collect():
        assert row.source in names or row.target in names


def test_degree_consistency(g):
    deg = kg_traverse.degree(g["relations"])
    total = deg.agg(F.sum("degree")).collect()[0][0]
    assert total == 2 * g["relations"].count()


def test_neighbors_exclude_seeds(spark, g):
    seeds = _df(spark, [("NATION_0",)], "name string")
    n1 = kg_traverse.neighbors(g["relations"], seeds)
    assert n1.where(F.col("name") == "NATION_0").count() == 0
    n2 = kg_traverse.neighbors_n_hop(g["relations"], seeds, 2)
    assert n2.count() > n1.count()


def test_graph_store_roundtrip(spark, tmp_path):
    store = kg_store.GraphStore(spark, str(tmp_path / "kgstore"))
    store.init_empty()
    batch_e = spark.createDataFrame(
        [("E1", "t", 1)], "name string, entity_type string, created_at bigint"
    )
    batch_o = spark.createDataFrame(
        [("E1", "obs", 1)], "entity_name string, content string, created_at bigint"
    )
    t0 = store.read()
    e2, o2 = kg_store.upsert_entities(
        t0["entities"], t0["observations"], batch_e, batch_o
    )
    v = store.write(
        {"entities": e2, "observations": o2, "relations": t0["relations"]}
    )
    assert v == 1
    t1 = store.read()
    assert t1["entities"].count() == 1
    assert t1["observations"].collect()[0].content == "obs"


def test_graph_store_time_travel(spark, tmp_path):
    store = kg_store.GraphStore(spark, str(tmp_path / "tt"))
    store.init_empty()
    for i, name in enumerate(["A", "B"]):
        t = store.read()
        e2, o2 = kg_store.upsert_entities(
            t["entities"],
            t["observations"],
            spark.createDataFrame(
                [(name, "t", i)],
                "name string, entity_type string, created_at bigint",
            ),
            spark.createDataFrame(
                [], "entity_name string, content string, created_at bigint"
            ),
        )
        store.write({"entities": e2, "observations": o2, "relations": t["relations"]})
    assert store.list_versions() == [0, 1, 2]
    assert store.read(version=0)["entities"].count() == 0
    assert store.read(version=1)["entities"].count() == 1
    assert store.read()["entities"].count() == 2
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.read(version=99)


def test_upsert_preserves_stored_created_at(spark, g):
    """The reference updates only entity_type on conflict
    (client.ts:145-156): an upserted existing entity keeps its stored
    created_at, so recency ordering is unaffected."""
    orig = g["entities"].where(F.col("name") == "Customer#000000001").collect()[0]
    batch_e = _df(
        spark,
        [("Customer#000000001", "vip", 99999)],
        "name string, entity_type string, created_at bigint",
    )
    batch_o = _df(spark, [], "entity_name string, content string, created_at bigint")
    e2, _ = kg_store.upsert_entities(
        g["entities"], g["observations"], batch_e, batch_o
    )
    row = e2.where(F.col("name") == "Customer#000000001").collect()[0]
    assert row.entity_type == "vip"  # type replaced
    assert row.created_at == orig.created_at  # recency preserved
    # brand-new names DO take the batch created_at
    batch_new = _df(
        spark,
        [("Fresh Entity", "widget", 424242)],
        "name string, entity_type string, created_at bigint",
    )
    e3, _ = kg_store.upsert_entities(g["entities"], g["observations"], batch_new, batch_o)
    assert e3.where(F.col("name") == "Fresh Entity").collect()[0].created_at == 424242


def test_upsert_tied_created_at_deterministic(spark, g):
    """Equal created_at in a batch → entity_type tiebreak, not a
    nondeterministic row_number winner."""
    batch_e = _df(
        spark,
        [("Tied Entity", "zeta", 7), ("Tied Entity", "alpha", 7)],
        "name string, entity_type string, created_at bigint",
    )
    batch_o = _df(spark, [], "entity_name string, content string, created_at bigint")
    for _ in range(3):
        e2, _ = kg_store.upsert_entities(
            g["entities"], g["observations"], batch_e, batch_o
        )
        assert e2.where(F.col("name") == "Tied Entity").collect()[0].entity_type == "alpha"


def test_rejected_rows_observable(spark):
    """Invalid batch rows are dropped by the batch merge (the
    reference throws per-call); rejected_* exposes them."""
    batch_r = _df(
        spark,
        [("", "T", "REL"), ("S", "T", "LINKS"), ("S", "T", "")],
        "source string, target string, relation_type string",
    )
    rej = kg_store.rejected_relations(batch_r).collect()
    assert {(r.source, r.target) for r in rej} == {("", "T"), ("S", "T")}
    kept = kg_store.create_relations(
        _df(spark, [], "source string, target string, relation_type string"),
        batch_r,
    )
    assert kept.count() == 1
    batch_e = _df(
        spark,
        [("   ", "ghost", 1), ("Real", "t", 2)],
        "name string, entity_type string, created_at bigint",
    )
    assert kg_store.rejected_entities(batch_e).count() == 1


def test_get_entity_strict_not_found(g):
    """Reference parity: get_entity throws 'Entity not found'
    (client.ts:195)."""
    with pytest.raises(KeyError, match="Entity not found"):
        kg_search.get_entity_strict(
            g["entities"], g["observations"], "No Such Entity"
        )
    # present name returns the row
    row = kg_search.get_entity_strict(
        g["entities"], g["observations"], "Customer#000000001"
    ).collect()
    assert len(row) == 1


def test_search_full_attaches_observations(g):
    out = kg_search.search_entities_full(
        g["entities"], g["observations"], "customer", limit=5
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r.observations is not None and "segment=" in r.observations
        # sorted, '|'-joined
        parts = r.observations.split("|")
        assert parts == sorted(parts)


def test_search_backslash_query_is_literal(spark, sf_dir):
    """A backslash in the query must neither crash ilike (Spark's
    LIKE escape char) nor act as an escape — the reference's SQLite
    LIKE matches it literally."""
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.kg import search as kg_search
    from mcp_memory_libsql_spark.kg import views as kg_views

    g = kg_views.kg(load_tables(spark, sf_dir))
    out = kg_search.search_entities(
        g["entities"], g["observations"], "C:\\temp", limit=5
    )
    assert out.count() == 0  # no crash, no spurious match
