"""Structured Streaming twins of the batch event/KG operators.

The reference is an always-on server mutating state per request; the
Spark-native equivalent of that "live" surface is Structured
Streaming: an events stream feeding watermarked windowed aggregates,
and an entity-upsert stream applied through the same last-writer-wins
merge as the batch store (via ``foreachBatch``).

Scale notes: windowed aggregation state is partitioned by
(window, event_type) in the state store; the 10-minute watermark
bounds state size.

Replays: Spark re-runs a micro-batch whose commit is missing from the
stream checkpoint (a crash between its write and its commit), with the
same ``batch_id``. A partials sink writes each micro-batch to its own
``batch_id=N`` directory, replacing what an earlier run of that batch
wrote, so its merge-on-read sees every batch once. A sink directory
written by code that appended all batches into one directory cannot be
mixed with this layout. The GraphStore streams are at-least-once: a
replayed micro-batch writes its delta again (a replayed relation is
stored twice), until deltas record the batch they came from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kg.store import SCHEMAS

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream of event JSON files (one file per micro-batch
    in tests; a Kafka source drops in unchanged on a cluster)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(dir_path)
    )


def windowed_agg_stream(
    events: DataFrame, minutes: int = 60, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation — streaming twin of
    ``analytics.events.windowed_counts``; late data beyond the
    watermark is dropped and state is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, mode: str = "update"
):
    """Drive a streaming DF into a memory sink (tests/demos)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .start()
    )


def dedup_stream(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup — the continuous-ingest twin of
    ``textops.dedup.exact_groups``: drop records whose content digest
    was already seen, with the watermark bounding dedup state (a
    pragmatic TTL: exact-once only within the watermark horizon, which
    is the standard trade at 100 TB/day ingest rates — unbounded
    dedup state would grow forever).

    State is partitioned by the digest, the same key the batch
    dedup's groupBy shuffles on. The digest hashes a JSON struct
    rendering, not a concat_ws join — concat_ws both skips NULLs and
    is ambiguous under separator characters in the values, so
    (null, "x") / ("x", null) and ("a|b", "c") / ("a", "b|c") would
    collide and silently drop real events."""
    keyed = events.withColumn(
        "digest",
        F.md5(F.to_json(F.struct("user_id", "event_type", "props"))),
    )
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["digest"]
    )


def _foreach_batch(stream: DataFrame, apply_batch, checkpoint_location: str):
    """Start ``stream``, calling ``apply_batch(batch_df, batch_id)`` on
    each micro-batch, with its progress in ``checkpoint_location``."""
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
        .start()
    )


def _partials_stream(stream: DataFrame, partials, sink_dir: str, checkpoint_dir: str):
    """Write ``partials(batch_df)`` of each micro-batch as parquet to
    ``{sink_dir}/batch_id={batch_id}``. The write replaces that
    directory, so a replayed micro-batch leaves one copy of its
    partials, not two. Readers load ``sink_dir`` and merge by named
    columns, ignoring the ``batch_id`` partition column."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials(batch_df).write.mode("overwrite").parquet(
            f"{sink_dir}/batch_id={batch_id}"
        )

    return _foreach_batch(stream, apply_batch, checkpoint_dir)


def _store_stream(
    spark: SparkSession, dir_path: str, schema: str, apply, checkpoint_location: str
):
    """Stream JSON files (DDL ``schema``, one per micro-batch) into a
    ``GraphStore`` through ``apply(batch_df)``. The stream checkpoint
    is not optional: without it a restart re-reads EVERY source file
    and re-applies every delta, doubling the store. It does not make a
    write exactly-once: a micro-batch replayed after a crash before its
    commit applies its delta a second time."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.take(1):
            apply(batch_df)

    return _foreach_batch(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir_path),
        apply_batch,
        checkpoint_location,
    )


def entity_upsert_stream(
    spark: SparkSession,
    dir_path: str,
    store,
    checkpoint_dir: str | None = None,
):
    """Micro-batch entity upserts: each arriving JSON file carries
    create_entities batches (name, entity_type, created_at, plus
    observation content rows) applied to a ``GraphStore`` through the
    same merge as the batch path — streaming and batch share one
    mutation semantics (no divergent code paths to keep correct).

    Each micro-batch is an O(batch) **delta write** (the base tables
    are never rewritten per batch — at 100 TB a full-snapshot rewrite
    per micro-batch would be the whole job's cost); the store bounds
    its own merge-on-read chain, the way an LSM compacts.
    """

    def apply(batch_df: DataFrame) -> None:
        # observation-only rows carry a null entity_type; they must
        # NOT enter the entity batch (NULL sorts first in the LWW
        # tiebreak and would null the stored type)
        batch_e = batch_df.where(F.col("entity_type").isNotNull())
        batch_o = batch_df.where(F.col("content").isNotNull()).select(
            F.col("name").alias("entity_name"), "content", "created_at"
        )
        store.write_delta(
            "upsert", {"batch_entities": batch_e, "batch_observations": batch_o}
        )

    return _store_stream(
        spark,
        dir_path,
        "name string, entity_type string, created_at bigint, content string",
        apply,
        checkpoint_dir or store.path + "/_stream_ckpt_entities",
    )


def enrich_events(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Attach customer identity + nation to events (user_id maps to
    c_custkey = user_id + 1 in the synthetic data). Works identically
    on a batch frame and a streaming frame: a stream-static broadcast
    join needs no state store and no watermark — the dim is
    re-broadcast per micro-batch, which is exactly how a cluster
    enriches a Kafka stream against a slowly-changing dimension."""
    from pyspark.sql.functions import broadcast

    dim = customer.join(
        broadcast(nation.select("n_nationkey", "n_name")),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_mktsegment", "n_name")
    return events.join(
        broadcast(dim), events["user_id"] + 1 == dim["c_custkey"]
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "c_name",
        "c_mktsegment",
        "n_name",
    )


def interval_join_stream(
    events: DataFrame,
    window_secs: int = 21600,
    watermark: str = "1 hour",
    right_type: str = "purchase",
    left_type: str = "click",
) -> DataFrame:
    """Streaming twin of ``analytics.temporal.range_attribution`` —
    Spark's NATIVE watermarked stream-stream interval join (no custom
    state code): every purchase joined to all same-user clicks in the
    preceding ``window_secs``.

    Both sides carry a watermark and the join condition bounds event
    time on both sides, so the state store evicts rows once
    ``watermark + window`` has passed — bounded state at any ingest
    rate, which is why this beats hand-rolled state for the interval
    join (the batch bucket-replicate trick exists only because batch
    has no state store).
    """
    clicks = (
        events.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""p_user_id = c_user_id
            AND c_ts <= p_ts
            AND c_ts >= p_ts - INTERVAL {window_secs} SECONDS"""
        ),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("us_between"),
    )


def hypertable_stream(
    events: DataFrame, sink_dir: str, checkpoint_dir: str
):
    """Continuous-aggregate maintenance — streaming twin of
    ``analytics.temporal.hypertable_rollup``'s minute level: each
    micro-batch appends its minute-grain PARTIALS (count + exact
    decimal sum) to a parquet delta log; readers merge partials on
    read (``read_hypertable``). O(micro-batch) writes, never a
    rewrite of the aggregate table — the same merge-on-read trade the
    GraphStore delta log makes, and how TimescaleDB refreshes a
    continuous aggregate incrementally.
    """
    minute_start = (F.unix_timestamp("ts") / 60).cast("bigint") * 60
    return _partials_stream(
        events,
        lambda batch_df: batch_df.groupBy(
            minute_start.alias("bucket_start"), F.col("event_type")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum"),
        ),
        sink_dir,
        checkpoint_dir,
    )


def read_hypertable(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge-on-read over the streamed minute partials, then the same
    finer→coarser derivation as the batch rollup — so a stream-built
    hypertable serves the identical (granularity, bucket, type) rows
    the batch operator computes from raw history."""
    from ..analytics import temporal

    partials = spark.read.parquet(sink_dir)
    minutes = partials.groupBy("bucket_start", "event_type").agg(
        F.sum("n_events").alias("n_events"), F.sum("_sum").alias("_sum")
    )
    return temporal.rollup_from_minutes(minutes)


def neardup_stream(
    docs: DataFrame, ts_col: str = "ts", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: drop arriving docs whose
    per-row SimHash (``textops.dedup.simhash_sql`` — the stateless
    twin of the batch bit-majority signature) was already seen within
    the watermark horizon.

    Exact-identity dedup (``dedup_stream``) misses boilerplate
    variants; keying the state on the SimHash value collapses
    highly-similar docs to one representative. State is one row per
    distinct simhash inside the horizon — the same bounded-TTL trade
    as the exact stream, with the same single stateful operator (the
    signature itself adds NO state: it's a column expression)."""
    from ..textops.dedup import simhash_sql

    keyed = docs.withColumn("simhash", simhash_sql("text"))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


def relation_upsert_stream(
    spark: SparkSession,
    dir_path: str,
    store,
    checkpoint_dir: str | None = None,
):
    """Micro-batch relation creation — the streaming twin of the
    reference's ``create_relations`` tool (src/index.ts:207,
    src/db/client.ts:298-338), completing the live write surface next
    to ``entity_upsert_stream``: arriving JSON files carry (source,
    target, relation_type) rows applied as O(batch) GraphStore deltas
    through the SAME merge as the batch path."""
    return _store_stream(
        spark,
        dir_path,
        SCHEMAS["relations"],
        lambda batch: store.write_delta(
            "create_relations", {"batch_relations": batch}
        ),
        checkpoint_dir or store.path + "/_stream_ckpt_relations",
    )


def topk_users_stream(events: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Streaming top-k users — live twin of ``events.topk_users``.

    Per-user totals are addition-mergeable, so each micro-batch
    appends only its own per-user PARTIALS (count + exact decimal
    value sum) to a parquet delta log: O(micro-batch) writes, no
    unbounded streaming state, no rewrite of the totals table.
    ``read_topk_users`` merges partials and takes the global top-k at
    read time — the leaderboard pattern (write partials continuously,
    rank on serve) that holds at any user cardinality."""

    return _partials_stream(
        events,
        lambda batch_df: batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum"),
        ),
        sink_dir,
        checkpoint_dir,
    )


def read_topk_users(spark: SparkSession, sink_dir: str, k: int = 20) -> DataFrame:
    """Merge-on-read over streamed per-user partials → same
    (user_id, n_events, sum_value) top-k rows as the batch operator:
    one partial-agg shuffle on user_id, then a tiny global top-k."""
    partials = spark.read.parquet(sink_dir)
    return (
        partials.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("_sum").cast("double"), 2).alias("sum_value"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(k)
    )


def session_window_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 minute"
) -> DataFrame:
    """Streaming twin of ``analytics.events.sessionize_native``: the
    SAME ``session_window`` expression, now with watermark-bounded
    state — Spark merges a user's open session in state and emits it
    (append mode) once the watermark passes session end + gap, so
    state size tracks OPEN sessions only, at any ingest rate.

    Batch/stream equivalence is tested file-by-file with sentinel
    events advancing the watermark (tests/test_streaming.py) — closed
    sessions match the batch operator row-for-row."""
    from pyspark.sql import functions as F

    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", sw.alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("bigint").alias("start_epoch"),
            "n_events",
            "sum_value",
        )
    )


def stats_stream(events: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Streaming column-stats maintenance — the nightly ANALYZE job
    (io.stats.column_stats) kept fresh per micro-batch: each batch
    appends its PARTIAL stats (count, nulls, min, max per column —
    all addition/extremum-mergeable) to a parquet delta log;
    ``read_stats`` merges on read. Exact distincts are NOT mergeable,
    so the streaming profile carries the mergeable subset — the
    HLL-sketch trade (events_approx_users) covers distincts when a
    stream needs them."""
    cols = ["event_id", "user_id", "event_type", "value"]
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        col = F.col(c)
        # partials stay NATIVELY typed — merging string-rendered
        # minima would order "10" < "9"; rendering happens once
        # at read time
        aggs += [
            F.sum(col.isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
        ]
    return _partials_stream(
        events, lambda batch_df: batch_df.agg(*aggs), sink_dir, checkpoint_dir
    )


def read_stats(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge-on-read over streamed stat partials → (column_name,
    n_rows, n_nulls, min_value, max_value)."""
    cols = ["event_id", "user_id", "event_type", "value"]
    p = spark.read.parquet(sink_dir)
    merged = p.agg(
        F.sum("_rows").alias("_rows"),
        *[
            a
            for c in cols
            for a in (
                F.sum(f"{c}__nulls").alias(f"{c}__nulls"),
                F.min(f"{c}__min").alias(f"{c}__min"),
                F.max(f"{c}__max").alias(f"{c}__max"),
            )
        ],
    )
    parts = []
    for c in cols:
        parts.append(
            merged.select(
                F.lit(c).alias("column_name"),
                F.col("_rows").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__min").cast("string").alias("min_value"),
                F.col(f"{c}__max").cast("string").alias("max_value"),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


def cms_stream(events: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Streaming count-min-sketch maintenance — the frequency sketch
    behind events_heavy_hitters_cms kept fresh on a firehose: each
    micro-batch appends its PARTIAL (seed, bucket, c) counter rows to
    a parquet delta log. Counters are addition-mergeable (the defining
    sketch property), so ``read_cms`` merges on read with one tiny
    groupBy — the identical merge the batch operator's partial
    aggregation applies within a single pass, which is what makes the
    streamed sketch provably equal to the batch one (tested).

    Scale: per-batch state is O(d·w) counter rows regardless of batch
    size; the log grows one sketch per micro-batch and compacts by
    re-summing (same checkpoint pattern as hypertable_stream)."""
    from ..analytics.sketches import cms_counters

    return _partials_stream(
        events,
        lambda batch_df: cms_counters(
            batch_df.select(F.col("user_id").cast("string").alias("key"))
        ),
        sink_dir,
        checkpoint_dir,
    )


def read_cms(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge-on-read over streamed sketch partials → (seed, bucket,
    c): sum the counters — the sketch's native merge."""
    return (
        spark.read.parquet(sink_dir)
        .groupBy("seed", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def bloom_stream(documents: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Streaming Bloom-filter maintenance — the membership filter
    behind dedup_bloom kept fresh on a document firehose: each
    micro-batch appends its PARTIAL (word_idx, mask) bit-words to a
    parquet delta log. Bit-words merge by OR (the filter's native
    merge), so ``read_bloom`` collapses the log with one tiny groupBy
    and the streamed filter is provably identical to the batch one
    (tested cell-for-cell). A dedup consumer joins the ≤ ⌈m/60⌉-row
    merged filter as a broadcast, exactly like the batch probe.

    Expects a ``text`` column; fingerprints the 6-word lead prefix
    (the dedup_bloom contract)."""
    from ..textops.dedup import bloom_bit_words, lead_prefix_fp

    return _partials_stream(
        documents,
        lambda batch_df: bloom_bit_words(
            batch_df.select(lead_prefix_fp(6).alias("fp")).distinct()
        ),
        sink_dir,
        checkpoint_dir,
    )


def read_bloom(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge-on-read over streamed filter partials → (word_idx, mask):
    OR the bit-words — the Bloom filter's native merge."""
    return (
        spark.read.parquet(sink_dir)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("mask"))
    )


def kmeans_serve_stream(
    vectors: DataFrame,
    centroids: list,
    sink_dir: str,
    checkpoint_dir: str,
):
    """Streaming k-means serving — the batch-fitted coarse quantizer
    (vector.kmeans.fit_centroids, k rows of quantized BIGINT
    centroids) deployed against a vector firehose: each micro-batch
    quantizes its embeddings with the IDENTICAL floor(v·2²⁰+0.5) rule
    and appends nearest-centroid assignments to a parquet log. The
    model is integers, the distances are exact integers, so the
    streamed assignment is provably EQUAL to the batch one row-for-row
    (tested) — the fit/serve split every production clustering
    deployment has, with the serve side a stateless narrow map
    (O(k·dim) broadcast, no state store).

    ``centroids``: list of (cluster:int, q:list[int]) collected from
    fit_centroids — k·dim ints, the deployable artifact."""
    from ..vector.kmeans import DIST_EXPR, SCALE

    def assign(batch_df: DataFrame) -> DataFrame:
        cdf = batch_df.sparkSession.createDataFrame(
            centroids, "cluster int, c array<bigint>"
        )
        q = batch_df.select(
            "vec_id",
            F.expr(
                f"transform(embedding, v -> "
                f"CAST(FLOOR(CAST(v AS DOUBLE) * {SCALE} + 0.5) AS BIGINT))"
            ).alias("q"),
        )
        d = q.crossJoin(F.broadcast(cdf)).select(
            "vec_id", "cluster", F.expr(DIST_EXPR).alias("dist")
        )
        return (
            d.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cluster")).alias("s"))
            .select(
                "vec_id",
                F.col("s.cluster").cast("int").alias("cluster"),
                F.col("s.dist").cast("bigint").alias("dist_q"),
            )
        )

    return _partials_stream(vectors, assign, sink_dir, checkpoint_dir)


def type_count_stream(events: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Streaming (user_id, event_type) count maintenance — the
    sufficient statistic behind events_type_entropy kept fresh per
    micro-batch: counts are addition-mergeable, so each batch appends
    its partial rows to a parquet delta log and ``read_type_entropy``
    merges on read and applies the IDENTICAL millibit entropy formula
    — streamed result provably equal to the batch op (tested). State
    is O(users×types) counter rows per batch, no state store."""

    return _partials_stream(
        events,
        lambda batch_df: batch_df.groupBy("user_id", "event_type").agg(
            F.count("*").cast("bigint").alias("n_t")
        ),
        sink_dir,
        checkpoint_dir,
    )


def read_type_entropy(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge-on-read over streamed type-count partials → the exact
    events_type_entropy output (same millibit quantization)."""
    from ..analytics.events import user_type_entropy

    merged = (
        spark.read.parquet(sink_dir)
        .groupBy("user_id", "event_type")
        .agg(F.sum("n_t").cast("bigint").alias("n_t"))
    )
    # user_type_entropy only needs (user_id, event_type) rows — feed
    # it the merged counts re-expanded as weights is unnecessary:
    # replicate its rollup from the merged per-type counts directly.
    per_user = merged.groupBy("user_id").agg(
        F.sum("n_t").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    scored = merged.join(per_user, "user_id").select(
        "user_id",
        "n",
        "n_types",
        "n_t",
        F.round(F.lit(1000.0) * F.log2(F.col("n_t") / F.col("n")), 0)
        .cast("bigint")
        .alias("mb"),
    )
    agg = scored.groupBy("user_id").agg(
        F.first("n").alias("n_events"),
        F.first("n_types").alias("n_types"),
        (-F.sum(F.col("n_t") * F.col("mb"))).cast("bigint").alias("h_millibits"),
    )
    return agg.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        "n_types",
        "h_millibits",
        F.round(
            F.col("h_millibits") / (F.lit(1000.0) * F.col("n_events")), 6
        ).alias("entropy_bits"),
    )


def novelty_index_stream(
    documents: DataFrame, sink_dir: str, checkpoint_dir: str
):
    """Streaming first-occurrence shingle index — the state behind
    text_ngram_novelty maintained on a document firehose: each
    micro-batch appends its PARTIAL (shingle, first_doc) rows (the
    batch-local min doc_id per shingle) to a parquet delta log. MIN
    is the index's native merge, so :func:`read_novelty_index`
    collapses the log with one groupBy and the streamed index is
    provably identical to the batch window-min (tested
    shingle-for-shingle). A curation consumer joins incoming docs'
    shingles against the merged index to score novelty without ever
    re-scanning the historical corpus — O(micro-batch) work per
    trigger, the same merge-on-read shape as the Bloom/CMS/stats
    twins."""
    from ..textops.dedup import _exploded_shingles

    return _partials_stream(
        documents,
        lambda batch_df: _exploded_shingles(batch_df, 3)
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc")),
        sink_dir,
        checkpoint_dir,
    )


def read_novelty_index(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge-on-read over streamed first-occurrence partials →
    (shingle, first_doc): MIN — the index's native merge."""
    return (
        spark.read.parquet(sink_dir)
        .groupBy("shingle")
        .agg(F.min("first_doc").alias("first_doc"))
    )


def novelty_against_index(documents: DataFrame, index: DataFrame) -> DataFrame:
    """Score documents against a (shingle, first_doc) index →
    (doc_id, n_shingles, n_new, novelty); with the full-corpus merged
    index this equals textops.dedup.ngram_novelty exactly."""
    from ..textops.dedup import _exploded_shingles

    sh = _exploded_shingles(documents, 3)
    return (
        sh.join(index, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_new"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_new",
            F.round(F.col("n_new") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )
