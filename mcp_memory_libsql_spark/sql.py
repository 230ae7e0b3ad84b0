"""Raw-SQL surface: register every engine table as a temp view so
users can drive the whole engine with ``spark.sql`` — the ten
testdata tables plus the derived KG tables (entities / observations /
relations: ``registry._kg``'s bucketed tables, the ones the gated
queries read).

This is the "BI tool / notebook" entry point: DataFrame callers use
``registry.QUERIES``; SQL callers do::

    from mcp_memory_libsql_spark.sql import register_views
    register_views(spark, "/root/testdata/sf0.01")
    spark.sql("SELECT entity_type, COUNT(*) FROM kg_entities GROUP BY 1")

The ten raw-table views are lazy plans over parquet — registering
them costs nothing until queried — while ``kg=True`` (the default)
runs the one-time KG INGEST up front (derive + bucketed write through
``io.layout.write_bucketed``, cached per session/sf_dir): the kg_*
views then read those tables like every gated query. Pass ``kg=False`` for
a zero-cost raw-tables-only registration. Every Catalyst
optimization (pushdown, pruning, AQE) applies to user SQL exactly as
to the built-in queries.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .io.tables import TABLE_NAMES, load_table


def register_views(
    spark: SparkSession, sf_dir: str, kg: bool = True
) -> list[str]:
    """Create temp views; returns the registered view names."""
    names = []
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
        names.append(n)
    if kg:
        from .registry import _kg

        g = _kg(spark, sf_dir)
        for n, df in g.items():
            view = f"kg_{n}"
            df.createOrReplaceTempView(view)
            names.append(view)
    return names
