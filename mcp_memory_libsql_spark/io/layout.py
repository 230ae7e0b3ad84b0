"""Physical-layout utilities for the 100 TB path: bucketed tables
(co-located, shuffle-free joins) and salted joins (hot-key skew).

Bucketing is the ingest-time answer to "this join shuffles every
query": write both sides bucketed+sorted on the join key once, and
every subsequent equi-join on that key is exchange-free (Spark reads
matching buckets pairwise). ``tests/test_layout.py`` asserts the
no-Exchange plan property directly, so a regression that silently
reintroduces the shuffle fails CI — the property IS the feature.

Salting is the query-time answer to "one key holds 10% of the rows":
spread the hot side's rows across ``n_salts`` sub-keys and replicate
the small side to all of them. AQE's skew-join handles sort-merge
skew automatically; explicit salting remains necessary for skewed
AGGREGATIONS and for broadcast-ineligible dimension joins, so both
tools belong in the box.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    path: str,
    n_buckets: int = 32,
) -> None:
    """Persist ``df`` as a bucketed+sorted EXTERNAL table ``table``
    whose data files live at ``path``: the catalog holds only the
    bucketing metadata, so the write works under a session whose
    warehouse dir is unwritable, and deleting ``path`` reclaims the
    data. Bucket count is a layout contract: both sides of a
    co-located join must use the SAME n_buckets (at 100 TB pick
    n_buckets ≈ cluster cores so one bucket ≈ one task)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    distribute_on: str | None = None,
) -> DataFrame:
    """Inner equi-join with the big side's hot keys spread over
    ``n_salts`` sub-partitions and the small side replicated to all
    of them. Result is row-identical to ``big.join(small, key)``.

    The big side's salt must be deterministic but uniform per row —
    derived from ``distribute_on`` (default: every big-side column),
    never from rand() (retries/speculative tasks would re-roll it).
    Replication cost is n_salts× the SMALL side only."""
    salt_src = (
        [F.col(c) for c in big.columns]
        if distribute_on is None
        else [F.col(distribute_on)]
    )
    big_s = big.withColumn("_salt", F.pmod(F.hash(*salt_src), F.lit(n_salts)))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = big_s.join(small_s, [key, "_salt"])
    return out.drop("_salt")


def zorder_key(cols: list[str], bits: int = 20) -> F.Column:
    """Bit-interleaved (Morton / Z-order) clustering key over up to 3
    integer columns → one BIGINT.

    Sorting a table by this key before writing clusters rows that are
    close in EVERY dimension into the same parquet row groups, so
    min/max row-group statistics prune multi-dimensional range
    predicates — the data-skipping trick behind Delta/Iceberg OPTIMIZE
    ZORDER, expressed here as a pure column expression (each column is
    clamped to ``bits`` bits, then bits are interleaved with
    shiftleft/or — codegen'd, no UDF).

    With 3 columns at 20 bits each the key fills 60 bits — the repo's
    BIGINT-safe convention. Columns must already be non-negative ints
    (rank/normalize first for floats or skewed domains; at 100 TB use
    a percent_rank pass so each dimension is uniform)."""
    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder_key takes 1-3 columns")
    n = len(cols)
    key = F.lit(0).cast("bigint")
    if bits * len(cols) > 62:
        # Java shiftleft masks the shift amount mod 64: a key bit
        # landing at position >= 64 silently wraps onto a low
        # interleave slot, and bit 63 flips the sign and inverts the
        # sort — refuse instead of clustering on a garbage key
        raise ValueError(
            f"bits*len(cols) = {bits * len(cols)} exceeds 62 — the "
            "interleaved key must fit a non-negative BIGINT"
        )
    one = F.lit(1).cast("bigint")
    for ci, c in enumerate(cols):
        mask = F.lit((1 << bits) - 1).cast("bigint")
        v = F.col(c).cast("bigint").bitwiseAND(mask)
        for b in range(bits):
            bit = F.shiftright(v, b).bitwiseAND(one)
            key = key.bitwiseOR(F.shiftleft(bit, b * n + ci))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 20,
    files_per_write: int = 8,
) -> None:
    """Write ``df`` as parquet clustered by the Z-order key of
    ``zcols``: repartitionByRange on the key (range partitioning keeps
    key locality ACROSS files, unlike hash) then sortWithinPartitions
    so every row group covers a tight key range. Readers then prune
    files AND row groups on any conjunction of range predicates over
    ``zcols`` via parquet min/max stats."""
    keyed = df.withColumn("_zkey", zorder_key(zcols, bits))
    (
        keyed.repartitionByRange(files_per_write, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite ``src`` parquet into ``dst``
    with ≈``target_rows_per_file`` rows per file → returns file
    count. The maintenance job every long-lived ingest needs (tiny
    files destroy scan throughput: per-file open cost, starved
    vectorized reads, bloated listings). Row-count-based sizing keeps
    it deterministic; at 100 TB you'd size by bytes via
    spark.sql.files.maxRecordsPerFile instead of a coalesce (or a
    repartition when the read has fewer partitions than files)."""
    df = spark.read.parquet(src)
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    if df.rdd.getNumPartitions() >= files:
        df = df.coalesce(files)
    else:
        df = df.repartition(files)
    df.write.mode("overwrite").parquet(dst)
    return files


def parquet_layout_report(path: str) -> list[dict]:
    """Physical-layout health audit of a parquet dataset → one dict
    per file: row groups, rows, bytes, mean rows/row-group. The ops
    check behind the compaction / Z-order utilities above: tiny row
    groups (≪ 100k rows) or tiny files flag a layout that will
    starve vectorized readers at scale.

    Driver-side pyarrow metadata read — footers only, never data
    pages; for a 100 TB table you'd parallelize the footer reads
    with a mapInPandas over the file list, same math."""
    import glob
    import os as _os

    import pyarrow.parquet as pq

    out = []
    # recursive: hive-partitioned sinks put every data file under
    # key=value subdirectories — a top-level-only glob would report
    # an empty (vacuously healthy) layout for exactly those datasets
    files = sorted(
        glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows = md.num_rows
        rgs = md.num_row_groups
        out.append(
            {
                "file": _os.path.relpath(f, path),
                "rows": rows,
                "row_groups": rgs,
                "bytes": _os.path.getsize(f),
                "rows_per_group": rows / max(rgs, 1),
            }
        )
    return out


def fan_out(df: DataFrame) -> DataFrame:
    """Widen a narrow scan before per-row-HEAVY compute (the dense
    md5 gram hashing + window selection below): a small parquet file
    arrives as one row-group = one task, serializing the whole map
    side on a single core while the other 31 idle — measured 7.2s →
    0.6s for the sf0.1 winnowing fingerprint stage. Repartitions ONLY
    when the input is narrower than the session's parallelism: at
    warehouse scale the text scan is already thousands of splits and
    this is a no-op (adding an unconditional shuffle of the raw text
    would be exactly the 100 TB mistake). The row-group bound is a
    file-layout fact AQE cannot fix at runtime — it can split shuffle
    partitions, not scan partitions."""
    if df.isStreaming:  # micro-batch sources size their own splits
        return df
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df
