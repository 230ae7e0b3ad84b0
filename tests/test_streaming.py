"""Streaming ↔ batch equivalence and stream upserts."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from mcp_memory_libsql_spark.io.tables import load_tables
from mcp_memory_libsql_spark.kg.store import GraphStore
from mcp_memory_libsql_spark.streaming import pipeline


def _wait(q, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        q.processAllAvailable()
        return
    raise TimeoutError


def test_windowed_stream_matches_batch(spark, sf_dir, tmp_path):
    # split the batch events into 3 json files → 3 micro-batches
    events = load_tables(spark, sf_dir)["events"]
    pdf = events.toPandas()
    src = tmp_path / "stream_src"
    src.mkdir()
    n = len(pdf)
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        with open(src / f"part{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "event_id": int(row.event_id),
                            "ts": row.ts.isoformat(),
                            "user_id": int(row.user_id),
                            "event_type": row.event_type,
                            "value": float(row.value),
                            "props": row.props,
                        }
                    )
                    + "\n"
                )

    stream = pipeline.read_event_stream(spark, str(src))
    agg = pipeline.windowed_agg_stream(stream, minutes=60)
    q = pipeline.run_stream_to_memory(agg, "win_agg", mode="complete")
    try:
        _wait(q)
        got = spark.sql(
            "select window_start, event_type, n_events, sum_value from win_agg"
        )
        expect = (
            events.groupBy(
                F.window("ts", "60 minutes").alias("w"), "event_type"
            )
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
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        q.stop()


def test_entity_upsert_stream(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "store"))
    store.init_empty()
    src = tmp_path / "upsert_src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        f.write(
            json.dumps(
                {"name": "E1", "entity_type": "t1", "created_at": 1, "content": "o1"}
            )
            + "\n"
        )
    q = pipeline.entity_upsert_stream(spark, str(src), store)
    try:
        q.processAllAvailable()
        # second batch updates E1 and adds E2, and E3 whose two
        # observation rows both carry its entity_type
        with open(src / "b2.json", "w") as f:
            for rec in (
                {"name": "E1", "entity_type": "t2", "created_at": 2, "content": "o2"},
                {"name": "E2", "entity_type": "t1", "created_at": 2, "content": "oX"},
                {"name": "E3", "entity_type": "t3", "created_at": 2, "content": "p1"},
                {"name": "E3", "entity_type": "t3", "created_at": 2, "content": "p2"},
            ):
                f.write(json.dumps(rec) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    # each micro-batch landed as an O(batch) delta, not a snapshot rewrite
    assert [
        store.version_type(v) for v in store.list_versions()
    ] == ["snapshot", "delta:upsert", "delta:upsert"]
    t = store.read()
    rows = t["entities"].collect()
    assert sorted(r.name for r in rows) == ["E1", "E2", "E3"]
    assert {r.name: r.entity_type for r in rows} == {"E1": "t2", "E2": "t1", "E3": "t3"}
    e3 = t["observations"].where(F.col("entity_name") == "E3").collect()
    assert sorted(r.content for r in e3) == ["p1", "p2"]
    obs = {
        r.content
        for r in t["observations"].where(F.col("entity_name") == "E1").collect()
    }
    assert obs == {"o2"}  # o1 replaced, not appended


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """State must carry across micro-batches: events 10 min apart stay
    in one session; a 2h gap opens a new one."""
    src = tmp_path / "sess_src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for eid, ts, uid, val in rows:
                f.write(
                    json.dumps(
                        {
                            "event_id": eid,
                            "ts": ts,
                            "user_id": uid,
                            "event_type": "x",
                            "value": val,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )

    from mcp_memory_libsql_spark.streaming import sessions

    write_batch("b1.json", [(1, "2024-01-01T00:00:00", 7, 1.0)])
    stream = pipeline.read_event_stream(spark, str(src))
    out = sessions.sessionize_stream(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: +10 min (same session) and +2h (new session)
        write_batch(
            "b2.json",
            [(2, "2024-01-01T00:10:00", 7, 2.0), (3, "2024-01-01T02:30:00", 7, 5.0)],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "select * from sess_out order by session_id, n_events"
        ).collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:
        latest[(r.user_id, r.session_id)] = (r.n_events, r.sum_value)
    assert latest[(7, 1)] == (2, 3.0)  # carried across batches
    assert latest[(7, 2)] == (1, 5.0)  # gap opened a new session


def test_dedup_stream_drops_repeats(spark, tmp_path):
    """Streaming exact dedup keeps one record per content digest
    within the watermark horizon."""
    src = tmp_path / "dedup_src"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T00:{i:02d}:00", "user_id": i,
         "event_type": "click" if i % 2 == 0 else "view",
         "value": 1.0, "props": '{"k": %d}' % (i % 3)}
        for i in range(12)
    ]
    with open(src / "a.json", "w") as f:
        for r in rows + rows[:6]:  # re-send the first 6 (exact repeats)
            f.write(json.dumps(r) + "\n")

    stream = pipeline.read_event_stream(spark, str(src))
    deduped = pipeline.dedup_stream(stream)
    q = pipeline.run_stream_to_memory(deduped, "dedup_sink", mode="append")
    try:
        _wait(q)
        got = spark.sql("select digest from dedup_sink")
        n_digests = got.distinct().count()
        # every surviving row is a unique digest
        assert got.count() == n_digests
        # record identity = (user_id, event_type, props): all 12
        # original rows are distinct records; the 6 re-sent EXACT
        # repeats are dropped
        assert n_digests == 12
    finally:
        q.stop()


def test_enrich_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast join: streaming enrichment over 2
    micro-batches equals the batch join on the same rows."""
    t = load_tables(spark, sf_dir)
    events = t["events"]
    pdf = events.toPandas()
    src = tmp_path / "enrich_src"
    src.mkdir()
    n = len(pdf)
    for i in range(2):
        chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
        with open(src / f"part{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "event_id": int(row.event_id),
                            "ts": row.ts.isoformat(),
                            "user_id": int(row.user_id),
                            "event_type": row.event_type,
                            "value": float(row.value),
                            "props": row.props,
                        }
                    )
                    + "\n"
                )
    stream = pipeline.read_event_stream(spark, str(src))
    enriched = pipeline.enrich_events(stream, t["customer"], t["nation"])
    q = pipeline.run_stream_to_memory(enriched, "enriched_mem", mode="append")
    try:
        _wait(q)
        got = spark.sql("select * from enriched_mem")
        expect = pipeline.enrich_events(events, t["customer"], t["nation"])
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        q.stop()


def test_stateless_curation_ops_run_on_streams(spark, sf_dir, tmp_path):
    """split_assign / stratified_sample / pii_scrub are pure column
    expressions, so the SAME functions run unchanged on a streaming
    frame — stream output equals the batch output on the same rows."""
    from mcp_memory_libsql_spark.textops import sampling

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    src = tmp_path / "docs_src"
    src.mkdir()
    pdf = docs.toPandas()
    with open(src / "docs.json", "w") as f:
        for _, row in pdf.iterrows():
            f.write(
                json.dumps(
                    {
                        "doc_id": int(row.doc_id),
                        "text": row.text,
                        "lang": row.lang,
                        "source": row.source,
                        "n_chars": int(row.n_chars),
                    }
                )
                + "\n"
            )
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = spark.readStream.schema(schema).json(str(src))
    out = sampling.stratified_sample(stream)
    q = pipeline.run_stream_to_memory(out, "curate_mem", mode="append")
    q2 = pipeline.run_stream_to_memory(
        sampling.split_assign(stream), "split_mem", mode="append"
    )
    try:
        _wait(q)
        _wait(q2)
        got = spark.sql("select * from curate_mem")
        expect = sampling.stratified_sample(docs)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expect.collect())
        )
        got_split = spark.sql("select * from split_mem")
        expect_split = sampling.split_assign(docs)
        assert sorted(map(tuple, got_split.collect())) == sorted(
            map(tuple, expect_split.collect())
        )
    finally:
        q.stop()
        q2.stop()


def _events_as_json_files(spark, sf_dir, tmp_path, n_files=3):
    events = load_tables(spark, sf_dir)["events"]
    pdf = events.toPandas()
    src = tmp_path / "stream_src"
    src.mkdir(exist_ok=True)
    n = len(pdf)
    for i in range(n_files):
        chunk = pdf.iloc[i * n // n_files : (i + 1) * n // n_files]
        with open(src / f"part{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "event_id": int(row.event_id),
                            "ts": row.ts.isoformat(),
                            "user_id": int(row.user_id),
                            "event_type": row.event_type,
                            "value": float(row.value),
                            "props": row.props,
                        }
                    )
                    + "\n"
                )
    return events, src


def test_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    from mcp_memory_libsql_spark.analytics import temporal

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    stream = pipeline.read_event_stream(spark, str(src))
    joined = pipeline.interval_join_stream(stream, window_secs=21600)
    q = pipeline.run_stream_to_memory(joined, "ivj", mode="append")
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.purchase_id, r.click_id, r.us_between)
        for r in spark.table("ivj").collect()
    }
    want = {
        (r.purchase_id, r.click_id, r.us_between)
        for r in temporal.range_attribution(events, window_secs=21600).collect()
    }
    # the stream may legitimately drop pairs whose click aged past the
    # watermark before the purchase arrived; with the whole history in
    # 3 in-order files and a 1h watermark none should be dropped here
    assert got == want


def test_hypertable_stream_matches_batch(spark, sf_dir, tmp_path):
    from mcp_memory_libsql_spark.analytics import temporal

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    sink = str(tmp_path / "ht_sink")
    ckpt = str(tmp_path / "ht_ckpt")
    stream = pipeline.read_event_stream(spark, str(src))
    q = pipeline.hypertable_stream(stream, sink, ckpt)
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.granularity, r.bucket_start, r.event_type, r.n_events, r.sum_value)
        for r in pipeline.read_hypertable(spark, sink).collect()
    }
    want = {
        (r.granularity, r.bucket_start, r.event_type, r.n_events, r.sum_value)
        for r in temporal.hypertable_rollup(events).collect()
    }
    assert got == want


def test_hypertable_stream_restart_resumes_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """Stop the maintenance job, deliver more data, restart with the
    SAME checkpoint: the file source must resume past already-ingested
    files (no double-counted partials) and the merged hypertable must
    equal the batch rollup over the full history."""
    from mcp_memory_libsql_spark.analytics import temporal

    events = load_tables(spark, sf_dir)["events"]
    pdf = events.toPandas()
    src = tmp_path / "restart_src"
    src.mkdir()
    sink = str(tmp_path / "restart_sink")
    ckpt = str(tmp_path / "restart_ckpt")

    def write_chunk(i, lo, hi):
        with open(src / f"part{i}.json", "w") as f:
            for _, row in pdf.iloc[lo:hi].iterrows():
                f.write(
                    json.dumps(
                        {
                            "event_id": int(row.event_id),
                            "ts": row.ts.isoformat(),
                            "user_id": int(row.user_id),
                            "event_type": row.event_type,
                            "value": float(row.value),
                            "props": row.props,
                        }
                    )
                    + "\n"
                )

    n = len(pdf)
    write_chunk(0, 0, n // 2)
    stream = pipeline.read_event_stream(spark, str(src))
    q = pipeline.hypertable_stream(stream, sink, ckpt)
    q.processAllAvailable()
    q.stop()

    write_chunk(1, n // 2, n)
    stream2 = pipeline.read_event_stream(spark, str(src))
    q2 = pipeline.hypertable_stream(stream2, sink, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = {
        (r.granularity, r.bucket_start, r.event_type, r.n_events, r.sum_value)
        for r in pipeline.read_hypertable(spark, sink).collect()
    }
    want = {
        (r.granularity, r.bucket_start, r.event_type, r.n_events, r.sum_value)
        for r in temporal.hypertable_rollup(events).collect()
    }
    assert got == want


def test_cms_counters_stream_matches_batch(spark, sf_dir, tmp_path):
    """The count-min counter matrix is a plain streaming aggregation
    (explode + groupBy count) — the sketch a streaming job maintains
    IS the batch sketch once all data has arrived."""
    from mcp_memory_libsql_spark.analytics import sketches

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    stream = pipeline.read_event_stream(spark, str(src))
    skt = sketches.cms_counters(
        stream.select(F.col("user_id").cast("string").alias("key"))
    )
    q = pipeline.run_stream_to_memory(skt, "cms_stream", mode="complete")
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.seed, r.bucket, r.c) for r in spark.table("cms_stream").collect()
    }
    want = {
        (r.seed, r.bucket, r.c)
        for r in sketches.cms_counters(
            events.select(F.col("user_id").cast("string").alias("key"))
        ).collect()
    }
    assert got == want


def test_neardup_stream_keeps_one_per_simhash(spark, sf_dir, tmp_path):
    from mcp_memory_libsql_spark.textops import dedup as dd

    docs = load_tables(spark, sf_dir)["documents"]
    pdf = docs.toPandas()
    src = tmp_path / "nd_src"
    src.mkdir()
    base = 1_700_000_000
    with open(src / "docs.json", "w") as f:
        for _, row in pdf.iterrows():
            f.write(
                json.dumps(
                    {
                        "doc_id": int(row.doc_id),
                        "ts": base + int(row.doc_id),
                        "text": row.text,
                    }
                )
                + "\n"
            )
        # verbatim re-arrivals (crawler re-fetches): same text, later ts
        for _, row in pdf.head(20).iterrows():
            f.write(
                json.dumps(
                    {
                        "doc_id": int(row.doc_id) + 10_000,
                        "ts": base + 5_000 + int(row.doc_id),
                        "text": row.text,
                    }
                )
                + "\n"
            )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ts", LongType()),
            StructField("text", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.timestamp_seconds("ts"))
    )
    out = pipeline.neardup_stream(stream)
    q = pipeline.run_stream_to_memory(out, "neardup", mode="append")
    _wait(q)
    q.processAllAvailable()
    q.stop()
    kept = spark.table("neardup").select("doc_id", "simhash").collect()
    batch = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", dd.simhash_sql("text").alias("sh")
        ).collect()
    }
    # exactly one survivor per distinct signature; all 20 re-arrivals
    # (doc_id >= 10000) suppressed in favor of the first arrival
    assert len(kept) == len(set(batch.values()))
    assert len({r.simhash for r in kept}) == len(kept)
    assert all(r.doc_id < 10_000 for r in kept)
    for r in kept:
        assert batch[r.doc_id] == r.simhash


def test_relation_upsert_stream(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "rel_store"))
    store.init_empty()
    # relations require existing endpoints
    store.write_delta("upsert", {
        "batch_entities": spark.createDataFrame(
            [("A", "t", 1), ("B", "t", 1), ("C", "t", 1)],
            "name string, entity_type string, created_at bigint",
        ),
        "batch_observations": spark.createDataFrame(
            [], "entity_name string, content string, created_at bigint"
        ),
    })
    src = tmp_path / "rel_src"
    src.mkdir()
    with open(src / "r1.json", "w") as f:
        f.write(json.dumps({"source": "A", "target": "B", "relation_type": "knows"}) + "\n")
    q = pipeline.relation_upsert_stream(spark, str(src), store)
    try:
        q.processAllAvailable()
        with open(src / "r2.json", "w") as f:
            f.write(json.dumps({"source": "A", "target": "B", "relation_type": "knows"}) + "\n")  # dup
            f.write(json.dumps({"source": "B", "target": "C", "relation_type": "likes"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    kinds = [store.version_type(v) for v in store.list_versions()]
    assert kinds[-2:] == ["delta:create_relations", "delta:create_relations"]
    rels = {
        (r.source, r.target, r.relation_type)
        for r in store.read()["relations"].collect()
    }
    assert rels == {("A", "B", "knows"), ("B", "C", "likes")}


def test_topk_users_stream_matches_batch(spark, sf_dir, tmp_path):
    from mcp_memory_libsql_spark.analytics import events as ev_ops

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    sink = str(tmp_path / "topk_sink")
    ckpt = str(tmp_path / "topk_ckpt")
    stream = pipeline.read_event_stream(spark, str(src))
    q = pipeline.topk_users_stream(stream, sink, ckpt)
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = [
        (r.user_id, r.n_events, r.sum_value)
        for r in pipeline.read_topk_users(spark, sink, k=10).collect()
    ]
    want = [
        (r.user_id, r.n_events, round(float(r.sum_value), 2))
        for r in ev_ops.topk_users({"events": events}, k=10).collect()
    ]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for g, w in zip(got, want):
        assert abs(g[2] - w[2]) < 0.02


def test_classifier_scores_stream_matches_batch(spark, sf_dir, tmp_path):
    """Batch-fitted quality model scoring a document stream: the
    fitted LR applies as stateless expressions, so stream scores must
    be row-identical to batch scores."""
    from mcp_memory_libsql_spark.textops.classifier import (
        fit_quality_model,
        score_with_model,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    asm, model = fit_quality_model(docs)
    batch = {
        r.doc_id: (r.weak_label, r.score, r.prediction)
        for r in score_with_model(docs, asm, model).collect()
    }

    pdf = docs.toPandas()
    src = tmp_path / "docs_src"
    src.mkdir()
    n = len(pdf)
    for i in range(2):
        chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
        with open(src / f"part{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "doc_id": int(row.doc_id),
                            "text": row.text,
                            "lang": row.lang,
                            "source": row.source,
                            "n_chars": int(row.n_chars),
                        }
                    )
                    + "\n"
                )
    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    scored = score_with_model(stream, asm, model)
    q = pipeline.run_stream_to_memory(scored, "clf_mem", mode="append")
    try:
        _wait(q)
        got = {
            r.doc_id: (r.weak_label, r.score, r.prediction)
            for r in spark.sql("SELECT * FROM clf_mem").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """Native session_window on a stream (append mode, watermark
    state) emits exactly the batch operator's sessions once the
    watermark passes them — sentinel files push the watermark."""
    import os

    from mcp_memory_libsql_spark.analytics import events as ev_ops

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    # two sentinel files far in the future: the first advances the
    # watermark past every real session, the second triggers a batch
    # in which those sessions are emitted
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    for j, days in enumerate((10, 20)):
        ts = (max_ts + __import__("datetime").timedelta(days=days)).isoformat()
        p = src / f"sentinel{j}.json"
        with open(p, "w") as f:
            f.write(
                json.dumps(
                    {
                        "event_id": -1 - j,
                        "ts": ts,
                        "user_id": -1,
                        "event_type": "x",
                        "value": 0.0,
                        "props": "{}",
                    }
                )
                + "\n"
            )
    # file order = modification time; space them out explicitly
    for i, name in enumerate(sorted(os.listdir(src))):
        os.utime(src / name, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = pipeline.session_window_stream(stream, gap_minutes=30)
    q = (
        agg.writeStream.format("memory")
        .queryName("sw_stream")
        .outputMode("append")
        .start()
    )
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        tuple(r)
        for r in spark.table("sw_stream").where("user_id >= 0").collect()
    }
    want = {
        tuple(r)
        for r in ev_ops.sessionize_native(
            {"events": events}, gap_minutes=30
        ).collect()
    }
    assert got == want


def test_stats_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed column-stat partials merge to the batch profiler's
    values for the mergeable subset (count/nulls/min/max)."""
    from mcp_memory_libsql_spark.io.stats import column_stats

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    stream = pipeline.read_event_stream(spark, str(src))
    sink = str(tmp_path / "stats_sink")
    q = pipeline.stats_stream(stream, sink, str(tmp_path / "stats_ckpt"))
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        r.column_name: (r.n_rows, r.n_nulls, r.min_value, r.max_value)
        for r in pipeline.read_stats(spark, sink).collect()
    }
    want = {
        r.column_name: (r.n_rows, r.n_nulls, r.min_value, r.max_value)
        for r in column_stats(
            events.select("event_id", "user_id", "event_type", "value"),
            "events",
        ).collect()
    }
    assert got == want


def test_cms_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed count-min partials merge to the EXACT batch sketch —
    counters are addition-mergeable, so micro-batch boundaries must
    not change a single cell."""
    from mcp_memory_libsql_spark.analytics.sketches import cms_counters

    events, src = _events_as_json_files(spark, sf_dir, tmp_path)
    stream = pipeline.read_event_stream(spark, str(src))
    sink = str(tmp_path / "cms_sink")
    q = pipeline.cms_stream(stream, sink, str(tmp_path / "cms_ckpt"))
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.seed, r.bucket): r.c
        for r in pipeline.read_cms(spark, sink).collect()
    }
    keyed = events.select(F.col("user_id").cast("string").alias("key"))
    want = {(r.seed, r.bucket): r.c for r in cms_counters(keyed).collect()}
    assert got == want


def test_bloom_stream_matches_batch_filter(spark, sf_dir, tmp_path):
    """Streamed Bloom bit-word partials OR-merge to the EXACT batch
    filter built over the same documents."""
    from mcp_memory_libsql_spark.textops.dedup import (
        bloom_bit_words,
        lead_prefix_fp,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    src = tmp_path / "bloom_src"
    src.mkdir()
    pdf = docs.select("doc_id", "text").toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * len(pdf) // 3 : (i + 1) * len(pdf) // 3]
        with open(src / f"p{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(json.dumps({"doc_id": int(row.doc_id), "text": row.text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = str(tmp_path / "bloom_sink")
    q = pipeline.bloom_stream(stream, sink, str(tmp_path / "bloom_ckpt"))
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        r.word_idx: r.mask for r in pipeline.read_bloom(spark, sink).collect()
    }
    # batch filter over the same corpus, through the SAME shared
    # bit-word builder the stream uses
    want = {
        r.word_idx: r.mask
        for r in bloom_bit_words(
            docs.select(lead_prefix_fp(6).alias("fp")).distinct()
        ).collect()
    }
    assert got == want


def test_sessionize_late_event_does_not_rewind_frontier(spark, tmp_path):
    """A late event delivered in a later micro-batch joins the current
    session but must NOT rewind last_epoch — the next on-time event
    would otherwise measure its gap from the stale late timestamp and
    spuriously open a new session."""
    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for eid, ts in rows:
                f.write(json.dumps({
                    "event_id": eid, "ts": ts, "user_id": 9,
                    "event_type": "x", "value": 1.0, "props": "{}",
                }) + "\n")

    from mcp_memory_libsql_spark.streaming import sessions

    write_batch("b1.json", [(1, "2024-01-01T10:00:00")])
    stream = pipeline.read_event_stream(spark, str(src))
    out = sessions.sessionize_stream(stream, gap_minutes=30)
    q = (out.writeStream.format("memory").queryName("late_out")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        write_batch("b2.json", [(2, "2024-01-01T09:45:00")])  # late
        q.processAllAvailable()
        write_batch("b3.json", [(3, "2024-01-01T10:05:00")])  # on time
        q.processAllAvailable()
        rows = spark.sql("select * from late_out").collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:
        latest[(r.user_id, r.session_id)] = r.n_events
    # all three events are one session (true timeline 09:45..10:05)
    assert latest == {(9, 1): 3}


def test_entity_upsert_stream_obs_only_rows_keep_entity_type(spark, tmp_path):
    """Observation-only rows (null entity_type) must not enter the
    entity LWW merge — NULL sorts first in the tiebreak and would
    null the stored type."""
    src = tmp_path / "nulltype_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(json.dumps({"name": "E1", "entity_type": "person",
                            "created_at": 1}) + "\n")
        f.write(json.dumps({"name": "E1", "content": "obs one",
                            "created_at": 1}) + "\n")
    store = GraphStore(spark, str(tmp_path / "nulltype_store"))
    store.init_empty()
    q = pipeline.entity_upsert_stream(
        spark, str(src), store,
        checkpoint_dir=str(tmp_path / "nulltype_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    g = store.read()
    rows = g["entities"].collect()
    assert [(r.name, r.entity_type) for r in rows] == [("E1", "person")]
    assert g["observations"].count() == 1


def test_kmeans_serve_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed nearest-centroid assignments (batch-fitted integer
    model, stateless serve map) equal the batch k-means assignment
    row-for-row."""
    from mcp_memory_libsql_spark.vector.kmeans import (
        fit_centroids,
        kmeans_assign,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    model = [
        (int(r.cluster), [int(x) for x in r.q])
        for r in fit_centroids(emb).collect()
    ]
    batch = {
        r.vec_id: (r.cluster, r.dist_q) for r in kmeans_assign(emb).collect()
    }

    src = tmp_path / "km_src"
    src.mkdir()
    pdf = emb.select("vec_id", "embedding").toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * len(pdf) // 3 : (i + 1) * len(pdf) // 3]
        with open(src / f"p{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "vec_id": int(row.vec_id),
                            "embedding": [float(x) for x in row.embedding],
                        }
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = str(tmp_path / "km_sink")
    q = pipeline.kmeans_serve_stream(
        stream, model, sink, str(tmp_path / "km_ckpt")
    )
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {
        r.vec_id: (r.cluster, r.dist_q)
        for r in spark.read.parquet(sink).collect()
    }
    assert got == batch


def test_type_entropy_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed (user,type) count partials merge to the EXACT batch
    entropy rows (same millibit quantization)."""
    from mcp_memory_libsql_spark.analytics.events import user_type_entropy

    events = load_tables(spark, sf_dir)["events"]
    batch = {tuple(r) for r in user_type_entropy(events).collect()}

    src = tmp_path / "te_src"
    src.mkdir()
    pdf = events.select("event_id", "user_id", "event_type").toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * len(pdf) // 3 : (i + 1) * len(pdf) // 3]
        with open(src / f"p{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "event_id": int(row.event_id),
                            "user_id": int(row.user_id),
                            "event_type": row.event_type,
                        }
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = str(tmp_path / "te_sink")
    q = pipeline.type_count_stream(stream, sink, str(tmp_path / "te_ckpt"))
    _wait(q)
    q.processAllAvailable()
    q.stop()
    got = {tuple(r) for r in pipeline.read_type_entropy(spark, sink).collect()}
    assert got == batch


def test_novelty_index_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed (shingle, first_doc) MIN-partials merge to the exact
    batch first-occurrence index, and scoring the corpus against the
    merged index reproduces batch ngram_novelty row-for-row."""
    from mcp_memory_libsql_spark.textops.dedup import ngram_novelty

    docs = load_tables(spark, sf_dir)["documents"]
    src = tmp_path / "nov_src"
    src.mkdir()
    pdf = docs.select("doc_id", "text").toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * len(pdf) // 3 : (i + 1) * len(pdf) // 3]
        with open(src / f"p{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(
                    json.dumps({"doc_id": int(row.doc_id), "text": row.text})
                    + "\n"
                )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = str(tmp_path / "nov_sink")
    q = pipeline.novelty_index_stream(stream, sink, str(tmp_path / "nov_ckpt"))
    _wait(q)
    q.processAllAvailable()
    q.stop()
    idx = pipeline.read_novelty_index(spark, sink)
    got = {
        r.doc_id: (r.n_shingles, r.n_new, r.novelty)
        for r in pipeline.novelty_against_index(docs, idx).collect()
    }
    want = {
        r.doc_id: (r.n_shingles, r.n_new, r.novelty)
        for r in ngram_novelty(docs, n=3).collect()
    }
    assert got == want


_REPLAY_EVENTS = [
    {
        "event_id": i,
        "ts": f"2024-01-01T00:0{i}:00",
        "user_id": 0,
        "event_type": "click",
        "value": 1.0,
        "props": "{}",
    }
    for i in range(4)
]
_REPLAY_VECTORS = [
    {"vec_id": i, "embedding": [float(i % 2), 0.5]} for i in range(4)
]


def _vector_stream(spark, src):
    return spark.readStream.schema("vec_id long, embedding array<float>").json(src)


# sink → (source rows, stream reader, sink start, sink read); these are
# the sinks whose merge-on-read would count a replayed batch twice
_REPLAY_SINKS = {
    "hypertable": (
        _REPLAY_EVENTS, pipeline.read_event_stream,
        pipeline.hypertable_stream, pipeline.read_hypertable,
    ),
    "topk_users": (
        _REPLAY_EVENTS, pipeline.read_event_stream,
        pipeline.topk_users_stream, pipeline.read_topk_users,
    ),
    "stats": (
        _REPLAY_EVENTS, pipeline.read_event_stream,
        pipeline.stats_stream, pipeline.read_stats,
    ),
    "cms": (
        _REPLAY_EVENTS, pipeline.read_event_stream,
        pipeline.cms_stream, pipeline.read_cms,
    ),
    "type_count": (
        _REPLAY_EVENTS, pipeline.read_event_stream,
        pipeline.type_count_stream, pipeline.read_type_entropy,
    ),
    "kmeans_serve": (
        _REPLAY_VECTORS, _vector_stream,
        lambda stream, sink, ckpt: pipeline.kmeans_serve_stream(
            stream, [(0, [0, 0]), (1, [1 << 20, 0])], sink, ckpt
        ),
        lambda spark, sink: spark.read.parquet(sink).groupBy().count(),
    ),
}


@pytest.mark.parametrize("sink_name", sorted(_REPLAY_SINKS))
def test_partials_sink_writes_a_replayed_batch_once(spark, tmp_path, sink_name):
    """A micro-batch whose commit is missing from the checkpoint (a
    crash after its write) runs again on restart with the same
    batch_id; the sink must still hold its partials once."""
    rows, reader, start, read = _REPLAY_SINKS[sink_name]
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "part0.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    sink, ckpt = str(tmp_path / "sink"), tmp_path / "ckpt"

    def run():
        q = start(reader(spark, str(src)), sink, str(ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(map(tuple, read(spark, sink).collect()))

    once = run()
    (ckpt / "commits" / "0").unlink()
    (ckpt / "commits" / ".0.crc").unlink(missing_ok=True)
    assert run() == once
