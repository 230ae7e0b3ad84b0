"""The copies-corpus builder in tools/scale_rehearsal.py: the contract
bench.py relies on when it times keys on a key-shifted copies corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_memory_libsql_spark.io.tables import TABLE_NAMES, load_table
from mcp_memory_libsql_spark.registry import QUERIES
from tools.scale_rehearsal import SHIFT, build


def test_copies_corpus_multiplies_facts_and_keeps_joins(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "copies")
    build(spark, sf_dir, 2, dst)

    def profile(root, name):
        keys = SHIFT.get(name, [])
        row = load_table(spark, root, name).agg(
            F.count(F.lit(1)).alias("_rows"),
            *[F.count_distinct(k).alias(k) for k in keys],
        ).first()
        return row.asDict()

    for name in TABLE_NAMES:
        src, out = profile(sf_dir, name), profile(dst, name)
        factor = 2 if name in SHIFT else 1
        assert out == {k: factor * v for k, v in src.items()}, name
    assert not {"region", "nation"} & set(SHIFT)

    def q1(root):
        return {
            (r.l_returnflag, r.l_linestatus): r.count_order
            for r in QUERIES["tpch_q1"](spark, root).collect()
        }

    src, out = q1(sf_dir), q1(dst)
    assert src
    assert out == {g: 2 * n for g, n in src.items()}


def test_dump_plans_flags_a_plan_that_only_scans_a_checkpoint(spark, sf_dir):
    from tools.dump_plans import NOTHING_TO_COMPARE, plan_text

    def flagged(df):
        return plan_text(df).startswith(NOTHING_TO_COMPARE)

    # kg_pagerank's frame scans its localCheckpointed ranks
    assert flagged(QUERIES["kg_pagerank"](spark, sf_dir))
    assert not flagged(QUERIES["kg_degree"](spark, sf_dir))
    counts = spark.range(20).groupBy((F.col("id") % 3).alias("k")).count()
    assert not flagged(counts)
    ckpt = counts.localCheckpoint()
    assert flagged(ckpt.where("k > 0").select("k"))
    # a join over checkpoints still has a join strategy to compare
    assert not flagged(ckpt.join(ckpt.withColumnRenamed("count", "c"), "k"))
