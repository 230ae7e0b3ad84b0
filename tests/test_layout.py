"""Physical-layout properties: bucketed joins must not shuffle, and
salted joins must be row-identical to plain joins. The plan
assertions make the scale properties regression-tested facts rather
than docstring claims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_memory_libsql_spark.io.layout import salted_join, write_bucketed
from mcp_memory_libsql_spark.io.tables import load_tables
from tests.conftest import broadcast_disabled


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    t = load_tables(spark, sf_dir)
    root = tmp_path_factory.mktemp("bucketed")
    write_bucketed(
        t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
        "b_lineitem",
        ["l_orderkey"],
        str(root / "b_lineitem"),
        n_buckets=8,
    )
    write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
        "b_orders",
        ["o_orderkey"],
        str(root / "b_orders"),
        n_buckets=8,
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed):
    li = spark.table("b_lineitem")
    o = spark.table("b_orders")
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    # force a non-broadcast join so the exchange question is real
    with broadcast_disabled(spark):
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed):
    t = load_tables(spark, sf_dir)
    li = spark.table("b_lineitem")
    o = spark.table("b_orders")
    got = li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
    expect = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert got == expect


def test_salted_join_row_identical(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    big = t["lineitem"].select(
        F.col("l_suppkey").alias("k"), "l_orderkey", "l_extendedprice"
    )
    small = t["supplier"].select(F.col("s_suppkey").alias("k"), "s_name")
    plain = big.join(small, "k")
    salted = salted_join(big, small, "k", n_salts=8)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_is_deterministic(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    big = t["lineitem"].select(F.col("l_suppkey").alias("k"), "l_orderkey")
    small = t["supplier"].select(F.col("s_suppkey").alias("k"), "s_name")
    a = salted_join(big, small, "k", n_salts=4, distribute_on="l_orderkey")
    b = salted_join(big, small, "k", n_salts=4, distribute_on="l_orderkey")
    assert a.exceptAll(b).count() == 0


def test_q6_predicates_reach_the_scan(spark, sf_dir):
    """The pushdown showcase stays pushed down: every q6 predicate
    must appear in the parquet scan's PushedFilters, and the scan
    must not read money columns the query never touches."""
    from mcp_memory_libsql_spark.analytics.tpch import q6_forecast_revenue

    df = q6_forecast_revenue(load_tables(spark, sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters:")[1][:400]
    assert "l_tax" not in plan.split("ReadSchema:")[1][:400]


def test_dedup_exact_column_pruning(spark, sf_dir):
    """Exact dedup reads only (doc_id, text) — a scan that drags the
    full documents schema through md5 hashing is wrong at 100 TB."""
    from mcp_memory_libsql_spark.textops.dedup import exact_groups
    from mcp_memory_libsql_spark.io.tables import load_tables as _lt

    df = exact_groups(_lt(spark, sf_dir)["documents"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1][:400]
    assert "text" in read_schema
    assert "lang" not in read_schema
    assert "source" not in read_schema


def _morton_ref(vals: list[int], bits: int) -> int:
    key = 0
    n = len(vals)
    for ci, v in enumerate(vals):
        v &= (1 << bits) - 1
        for b in range(bits):
            key |= ((v >> b) & 1) << (b * n + ci)
    return key


def test_zorder_key_matches_reference(spark):
    from mcp_memory_libsql_spark.io.layout import zorder_key

    rows = [(3, 5, 9), (0, 0, 0), (1048575, 1048575, 1048575), (7, 1, 2)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = [
        r.k
        for r in df.select(zorder_key(["a", "b", "c"]).alias("k"))
        .orderBy("a")
        .collect()
    ]
    want = [
        _morton_ref(list(v), 20)
        for v in sorted(rows, key=lambda x: x[0])
    ]
    assert got == want
    # 3 cols x 20 bits stays BIGINT-safe
    assert all(0 <= k < (1 << 60) for k in got)


def test_zorder_write_narrows_rowgroup_stats(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from mcp_memory_libsql_spark.io.layout import write_zordered
    from mcp_memory_libsql_spark.io.tables import load_tables

    t = load_tables(spark, sf_dir)
    # hash-derived dims give a full 0..1023 domain at every SF (the
    # raw ids span too little at sf0.001 to show row-group pruning)
    ev = t["events"].select(
        "event_id",
        F.pmod(F.xxhash64("event_id"), F.lit(1024)).alias("u"),
        F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(1024)).alias("v"),
    )
    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    ev.repartition(16).write.parquet(plain)
    write_zordered(ev, zord, ["u", "v"], bits=10, files_per_write=16)

    def mean_width(path, col):
        import glob

        widths, total = [], 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                widths.append(st.max - st.min)
                total += 1
        return sum(widths) / total

    # both dimensions must tighten vs the unsorted layout
    assert mean_width(zord, "u") < mean_width(plain, "u") * 0.5
    assert mean_width(zord, "v") < mean_width(plain, "v") * 0.5
    # and the rewrite is content-identical
    a = spark.read.parquet(plain)
    b = spark.read.parquet(zord)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_parquet_roundtrip(spark, tmp_path):
    from mcp_memory_libsql_spark.io.layout import compact_parquet

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 10000).withColumn("x", F.col("id") * 2)
    df.repartition(50).write.parquet(src)  # 50 tiny files
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 50
    files = compact_parquet(spark, src, dst, target_rows_per_file=4000)
    assert files == 3
    assert len(glob.glob(dst + "/*.parquet")) == 3
    assert spark.read.parquet(dst).exceptAll(df).count() == 0


def test_parquet_layout_report(spark, tmp_path):
    from mcp_memory_libsql_spark.io.layout import (
        compact_parquet,
        parquet_layout_report,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    spark.range(0, 9000).repartition(30).write.parquet(src)
    rep = parquet_layout_report(src)
    assert len(rep) == 30
    assert sum(r["rows"] for r in rep) == 9000
    compact_parquet(spark, src, dst, target_rows_per_file=9000)
    rep2 = parquet_layout_report(dst)
    assert len(rep2) == 1 and rep2[0]["rows"] == 9000
    assert rep2[0]["rows_per_group"] > rep[0]["rows_per_group"]


def test_kg_snapshot_edge_iteration_is_exchange_free(spark, sf_dir):
    """The bucketed KG snapshot (registry._kg ingest layout)
    must give the graph algorithms their per-iteration edge plan with
    NO shuffle on the edge side: distinct(source,target), the
    out-degree rollup, and the rank⋈edges equi-join all reuse the
    relations table's source-bucket partitioning. BroadcastExchange
    is allowed (broadcasting the small side is the point); what must
    not appear is a shuffle (Exchange hashpartitioning) feeding from
    the bucketed scan."""
    from mcp_memory_libsql_spark.registry import _kg

    g = _kg(spark, sf_dir)
    edges = g["relations"].select("source", "target").distinct()
    out_deg = edges.groupBy("source").agg(F.count("*").alias("out_degree"))
    edges_w = edges.join(out_deg, "source")

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        return plan.count("Exchange hashpartitioning")

    assert shuffles(edges) == 0
    assert shuffles(out_deg) == 0
    # rank⋈edges with broadcast disabled: the ONE shuffle allowed is
    # the (tiny) rank side being re-clustered to the edge buckets
    ranks = (
        edges.select(F.col("source").alias("name"))
        .distinct()
        .withColumn("rank", F.lit(1.0))
    )
    with broadcast_disabled(spark):
        it_join = edges_w.join(ranks, edges_w["source"] == ranks["name"])
        plan = it_join._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_kg_snapshot_attach_join_is_exchange_free(spark, sf_dir):
    """registry._kg writes each KG table under the store's declared
    schema, and entities⋈observations (name = entity_name) reads both
    bucketed sides pairwise: no shuffle even with broadcast off."""
    from mcp_memory_libsql_spark.kg.store import SCHEMAS, _fields
    from mcp_memory_libsql_spark.registry import _kg

    g = _kg(spark, sf_dir)
    for t, schema in SCHEMAS.items():
        got = [(f.name, f.dataType.simpleString()) for f in g[t].schema]
        assert got == _fields(schema), t
    e, o = g["entities"], g["observations"]
    joined = e.join(o, e["name"] == o["entity_name"])
    with broadcast_disabled(spark):
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan
