#!/usr/bin/env python
"""Build a larger corpus from key-shifted copies of a source corpus.

The corpus is DERIVED, DISCLOSED, AND PERF-ONLY: fact keys are offset
by ``OFF`` per copy, so FK joins stay consistent and KG entity names
stay distinct; tables absent from ``SHIFT`` (region, nation) are
copied once. Correctness artifacts run only on the generated
testdata, never on this corpus.

    python tools/scale_rehearsal.py SRC COPIES DST

Time keys on it with the bench harness (the extended board is
skipped so the committed bench_extended.json is not overwritten):

    SPARK_GRAFT_SF_DIR=DST SPARK_GRAFT_BENCH_EXTENDED=0 python bench.py

SCALE_REHEARSAL.json records the r03-r09 scale sweeps.
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mcp_memory_libsql_spark.io.tables import (  # noqa: E402
    TABLE_NAMES,
    load_table,
)
from mcp_memory_libsql_spark.session import get_spark  # noqa: E402

OFF = 10_000_000

# (table, key columns to shift per copy); dims absent = copied once
SHIFT = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build(spark, src: str, copies: int, dst: str) -> None:
    """Materialize the copies corpus of ``src`` under ``dst``: one
    crossJoin against range(copies) per table (a single scan
    multiplied row-wise; unioning `copies` scan branches grew the plan
    linearly with the point and dominated the 100x build)."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    ci = F.col("_ci")
    for name in TABLE_NAMES:  # load_tables() is lazy — enumerate
        df = load_table(spark, src, name)
        keys = SHIFT.get(name)
        if keys is None:
            out = df
        else:
            out = df.crossJoin(
                spark.range(copies).select(F.col("id").alias("_ci"))
            )
            for k in keys:
                out = out.withColumn(k, F.col(k) + ci * OFF)
            out = out.drop("_ci")
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))


def main() -> None:
    if len(sys.argv) != 4:
        sys.exit("usage: python tools/scale_rehearsal.py SRC COPIES DST")
    src, copies, dst = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    spark = get_spark("scale-rehearsal-build")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, src, copies, dst)
    spark.stop()
    print(f"built {copies} copies of {src} under {dst}", flush=True)


if __name__ == "__main__":
    main()
