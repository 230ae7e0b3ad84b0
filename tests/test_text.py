"""Text/dedup operator behavior tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_memory_libsql_spark.io.tables import load_tables
from mcp_memory_libsql_spark.textops import dedup, quality


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_tables(spark, sf_dir)["documents"]


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def test_exact_dedup_finds_duplicates(spark):
    d = _docs_df(spark, ["hello world foo", "hello world foo", "other text here"])
    groups = dedup.exact_groups(d).collect()
    by_n = sorted([(g.n_copies, g.keep_id) for g in groups])
    assert by_n == [(1, 2), (2, 0)]


def test_jaccard_identical_docs_score_1(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    d = _docs_df(spark, [base, base, "totally different words entirely here now"])
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.doc_a, p.doc_b, p.jaccard) == (0, 1, 1.0)


def test_minhash_identical_docs_equal_signatures(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    d = _docs_df(spark, [base, base])
    sigs = dedup.minhash_signatures(d, n=3).collect()
    s0 = [getattr(sigs[0], f"h{i}") for i in range(8)]
    s1 = [getattr(sigs[1], f"h{i}") for i in range(8)]
    assert s0 == s1


def test_minhash_lsh_catches_identical(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = _docs_df(spark, [base, base, "unrelated content that differs fully here"])
    cands = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_candidates(d).collect()}
    assert (0, 1) in cands


def test_simhash_identical_zero_hamming(spark):
    base = "red green blue yellow purple orange pink brown black white"
    d = _docs_df(spark, [base, base])
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(d).collect()}
    assert sigs[0] == sigs[1]
    pairs = dedup.simhash_near_pairs(d, max_hamming=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_quality_ranges(docs):
    q = quality.quality(docs)
    rows = q.collect()
    for r in rows:
        assert r.n_tokens > 0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0


def test_langid_deterministic_and_covers(docs):
    out = quality.lang_id(docs)
    preds = {r.lang_pred for r in out.collect()}
    assert preds <= {"en", "es", "de", "fr", "other"}


def test_fingerprint_whitespace_invariant(spark):
    d = _docs_df(spark, ["hello   world", "hello world", "HELLO WORLD"])
    fps = [r.fp for r in quality.fingerprint(d).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] == fps[2]


def test_embedding_near_pairs_threshold(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    pairs = dedup.embedding_near_pairs(emb, threshold=0.99)
    for r in pairs.collect():
        assert r.cosine_sim >= 0.99
        assert r.vec_a < r.vec_b


def test_simhash_sql_matches_uncapped_aggregation(spark, sf_dir):
    """The per-row simhash expression must equal the posexplode/
    groupBy bit-majority computed WITHOUT the corpus DF cap (the only
    intended semantic difference from simhash_signatures)."""
    from pyspark.sql import functions as F

    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.textops import dedup as dd
    from mcp_memory_libsql_spark.textops.tokenize import md5_hash60

    docs = load_tables(spark, sf_dir)["documents"]
    perrow = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", dd.simhash_sql("text").alias("sh")).collect()
    }
    sh = dd._exploded_shingles(docs, 3).select(
        "doc_id", md5_hash60(F.col("shingle")).alias("h")
    )
    bits = sh.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 59), j -> shiftright(h, j)"
                " & CAST(1 AS BIGINT))"
            )
        ).alias("j", "bit"),
    )
    votes = bits.groupBy("doc_id", "j").agg(F.sum(F.col("bit") * 2 - 1).alias("v"))
    agg = {
        r.doc_id: r.sh
        for r in votes.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("v") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"),
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("sh")
        )
        .collect()
    }
    assert agg and all(perrow[k] == v for k, v in agg.items())


def test_quality_classifier_learns_weak_rule(spark, docs):
    from mcp_memory_libsql_spark.textops.classifier import quality_scores

    scored = quality_scores(docs).cache()
    rows = scored.collect()
    assert len(rows) == docs.count()
    # the linear model must reproduce its own weak training rule well
    acc = sum(1 for r in rows if r.prediction == r.weak_label) / len(rows)
    assert acc >= 0.9, acc
    # scores are probabilities and separate the classes in the mean
    assert all(0.0 <= r.score <= 1.0 for r in rows)
    pos = [r.score for r in rows if r.weak_label == 1]
    neg = [r.score for r in rows if r.weak_label == 0]
    assert pos and neg and (sum(pos) / len(pos)) > (sum(neg) / len(neg)) + 0.2


def test_winnowing_guarantee_and_robustness(spark):
    from mcp_memory_libsql_spark.textops import dedup as dd

    base = "The quick brown fox jumps over the lazy dog while the band plays on."
    # same long span embedded at DIFFERENT offsets with an inserted
    # char — strided windows desynchronize, winnowing must still
    # share fingerprints (guarantee: shared span >= w+k-1 = 32 chars)
    docs = spark.createDataFrame(
        [(1, "PREFIX! " + base), (2, "x" + base + " SUFFIX")],
        "doc_id long, text string",
    )
    fp = dd.winnowing_fingerprints(docs)
    a = {r.h for r in fp.where("doc_id = 1").collect()}
    b = {r.h for r in fp.where("doc_id = 2").collect()}
    assert len(a & b) >= 2
    # pair join surfaces the pair
    pairs = dd.winnowing_pairs(docs, min_shared=2).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_winnowing_density(spark):
    from mcp_memory_libsql_spark.textops import dedup as dd

    # fully distinct random-ish docs share nothing
    docs = spark.createDataFrame(
        [(i, f"totally unique document number {i} " * 3) for i in range(5)],
        "doc_id long, text string",
    )
    # identical-template docs DO collide (the boilerplate case):
    # the shared " totally unique document number " span is exactly
    # w+k-1 = 32 chars, so the winnowing guarantee promises >= 1
    # shared fingerprint for every pair
    assert dd.winnowing_pairs(docs, min_shared=1).count() == 10


def test_bloom_incremental_no_false_negatives(spark):
    from mcp_memory_libsql_spark.textops import dedup as dd

    # even ids = corpus, odd ids = incoming; doc 1 duplicates doc 0's
    # 6-word prefix, doc 3 is new
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta tail-a"),
            (2, "one two three four five six tail-b"),
            (1, "alpha beta gamma delta epsilon zeta other-tail"),
            (3, "totally fresh words never seen before anywhere"),
        ],
        "doc_id long, text string",
    )
    out = {r.keep_id: r for r in dd.bloom_incremental(docs).collect()}
    assert out[1].is_dup and out[1].maybe_dup  # true dup MUST be flagged
    assert not out[3].is_dup
    # the invariant, not a probability: is_dup implies maybe_dup
    assert all((not r.is_dup) or r.maybe_dup for r in out.values())


def test_winnowing_short_doc_matches_oracle_selection(spark):
    """Docs with fewer than w grams (text length 25..31) get exactly
    ONE truncated window in BOTH engines — regression for the oracle's
    empty-range bug (range upper bound must be greatest(2, len-w+2),
    not greatest(1, ...), because DuckDB range(1, 1) is empty while
    Spark's sequence(1, 1) is [1])."""
    import duckdb
    import pandas as pd

    from mcp_memory_libsql_spark.textops import dedup as dd

    texts = [
        (1, "exactly twenty-five chars"),          # len 25: 1 gram
        (2, "a text of thirty-one characters"),    # len 31: 7 grams
        (3, "a much longer document that has plenty of k-grams in it"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_id, r.h)
        for r in dd.winnowing_fingerprints(docs).collect()
    }
    assert {d for d, _ in got} == {1, 2, 3}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(texts, columns=["doc_id", "text"]))
    want = {
        (r[0], r[1])
        for r in con.sql("""
WITH hs AS (
  SELECT doc_id,
    list_transform(range(1, length(text) - 25 + 2),
      p -> struct_pack(
             h := ('0x' || substr(md5(substr(text, p::INTEGER, 25)), 1, 8))::BIGINT,
             p := p::BIGINT)) AS hps
  FROM documents WHERE length(text) >= 25
),
sel AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(2::BIGINT, len(hps)::BIGINT - 8 + 2)),
      j -> list_reduce(
             list_prepend(struct_pack(h := 8589934592::BIGINT, p := 0::BIGINT),
                          list_slice(hps, j, j + 7)),
             (acc, x) -> CASE WHEN x.h < acc.h OR (x.h = acc.h AND x.p > acc.p)
                         THEN x ELSE acc END).h)) AS fps
  FROM hs
)
SELECT doc_id, unnest(fps) FROM sel
""").fetchall()
    }
    assert got == want


def test_diversity_approx_bound(spark, docs):
    exact = {r.lang: r for r in quality.shingle_diversity(docs, n=3).collect()}
    approx = {
        r.lang: r
        for r in quality.shingle_diversity_approx(docs, n=3).collect()
    }
    assert exact.keys() == approx.keys()
    for lang, e in exact.items():
        a = approx[lang]
        # occurrence totals are exact counts in both plans
        assert a.n_shingle_occurrences == e.n_shingle_occurrences
        # HLL at rsd=0.02: allow 5 sigma (10%) plus slack for tiny langs
        assert abs(a.n_distinct_shingles_est - e.n_distinct_shingles) <= max(
            0.10 * e.n_distinct_shingles, 20
        )


def test_lm_score_orders_fluent_above_garbled(spark):
    # common-token doc scores lower cross-entropy than rare-token doc
    common = "the cat sat on the mat " * 10
    garbled = "zq9x kvw7 jjplm qqrst uvpox wyzzk"
    filler = "the dog ran to the park and the cat sat " * 5
    d = _docs_df(spark, [common, garbled, filler])
    rows = {r.doc_id: r for r in quality.lm_score(d).collect()}
    assert rows[0].cross_entropy < rows[1].cross_entropy
    assert rows[0].n_tokens == 60
    # ce_millibits is the exact integer; cross_entropy derives from it
    r = rows[1]
    assert abs(r.cross_entropy - r.ce_millibits / (1000.0 * r.n_tokens)) < 1e-6


def test_simhash_bucket_cap_splits(spark):
    # 80 byte-identical docs share one simhash -> every chunk bucket
    # has 80 members (over cap 64). The r05 drop-rule lost every pair
    # in those buckets; split_fat_buckets divides each into
    # ceil(2*80/64)=3 md5 sub-buckets, so a bounded SUBSET of the
    # boiler pairs survives (each sub-bucket <= cap, C(w,2) combos)
    # while the full C(80,2) blowup stays avoided. Two near-dup docs
    # in a small bucket must still pair.
    from mcp_memory_libsql_spark.textops import dedup as dd

    boiler = "subscribe to our newsletter terms of service apply " * 5
    # one more repetition of the same period: different bytes, but the
    # DISTINCT shingle set is identical -> identical simhash, hamming 0
    period = "the quick brown fox jumps over the lazy dog again and again "
    near_a = period * 4
    near_b = period * 5
    rows = [(i, boiler, "en", "s", len(boiler)) for i in range(80)]
    rows += [(100, near_a, "en", "s", len(near_a)),
             (101, near_b, "en", "s", len(near_b))]
    docs = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    uncapped = dd.simhash_near_pairs(docs, n=3, max_hamming=6)
    capped = dd.simhash_near_pairs(docs, n=3, max_hamming=6, bucket_cap=64)
    n_un = uncapped.count()
    assert n_un >= 80 * 79 // 2  # boilerplate blowup present
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in got, got
    boiler_pairs = {(a, b) for a, b in got if a < 100 and b < 100}
    # split retains fat-bucket pairs (the old rule dropped all of
    # them) but never the full quadratic set
    assert boiler_pairs
    assert len(boiler_pairs) < 80 * 79 // 2


def test_simhash_capped_split_oracle_parity(spark):
    # The fat-bucket SPLIT itself must hash-match the DuckDB mirror on
    # a corpus where it actually fires (the sf gate corpora may have
    # few over-cap buckets): 80 identical docs force every chunk
    # bucket over cap=64, so sub-keying, the 2..cap post-split
    # keep-rule, and the pair set all exercise both engines.
    import pandas as pd

    import duckdb
    from mcp_memory_libsql_spark.registry import ORACLES
    from mcp_memory_libsql_spark.textops import dedup as dd
    from tests.parity import compare

    boiler = "subscribe to our newsletter terms of service apply " * 5
    period = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, boiler, "en", "s", len(boiler)) for i in range(80)]
    rows += [(100, period * 4, "en", "s", len(period * 4)),
             (101, period * 5, "en", "s", len(period * 5))]
    docs = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    res = compare(
        dd.simhash_near_pairs(docs, n=3, max_hamming=6, bucket_cap=64),
        con,
        ORACLES["dedup_simhash_capped"],
    )
    assert res["ok"], res
    # the minhash-band capped twin goes through the same
    # split_fat_buckets path (identical docs share every band, so all
    # four band buckets are fat here too) — same corpus, same mirror
    res2 = compare(
        dd.minhash_lsh_candidates(docs, n=3, bucket_cap=64),
        con,
        ORACLES["dedup_minhash_lsh_capped"],
    )
    con.close()
    assert res2["ok"], res2
    assert res2["spark_rows"] > 0  # split retains pairs (drop rule: 0)


def test_curriculum_order_phases(spark, sf_dir):
    from mcp_memory_libsql_spark.registry import QUERIES

    rows = QUERIES["text_curriculum_order"](spark, sf_dir).collect()
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rank)
        # ranks dense 1..n, grades non-decreasing along the schedule
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        grades = [r.fk_grade for r in rs]
        assert grades == sorted(grades)
        # phases contiguous, 0..3, non-decreasing with rank
        phases = [r.phase for r in rs]
        assert phases == sorted(phases) and set(phases) <= {0, 1, 2, 3}


def test_epoch_plan_integerizes_mixture(spark, sf_dir):
    from mcp_memory_libsql_spark.registry import QUERIES

    rows = QUERIES["data_epoch_plan"](spark, sf_dir).collect()
    total = sum(r.src_tokens for r in rows)
    n = len(rows)
    for r in rows:
        assert r.weight_pm == 1000 * total // (n * r.src_tokens)
        assert r.repeats == r.weight_pm // 1000
        assert r.extra_per_mille == r.weight_pm % 1000
        # uniform target: repeating src_tokens weight_pm/1000 times
        # lands within one per-mille step of total/n
        approx = r.src_tokens * r.weight_pm / 1000
        assert abs(approx - total / n) <= r.src_tokens / 1000 + 1


def test_lm_score_bigram_invariants(spark, sf_dir):
    from mcp_memory_libsql_spark.io.tables import load_tables
    from mcp_memory_libsql_spark.textops.quality import lm_score_bigram

    docs = load_tables(spark, sf_dir)["documents"]
    rows = lm_score_bigram(docs).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams >= 1
        # -log2 p > 0 for p < 1; interpolated p is always < 1 here
        assert r.ce_millibits > 0
        assert abs(r.cross_entropy - r.ce_millibits / (1000 * r.n_bigrams)) < 1e-6
    # deterministic chains (every context has ONE continuation) must
    # score lower CE than ambiguous contexts (x followed by y or z
    # 50/50) — the defining property of a conditional bigram model
    probe = spark.createDataFrame(
        [(900001, "qxa qxb " * 20, "en", "s", 0),
         (900002, "qxa qxb qxa qxc " * 10, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    both = lm_score_bigram(docs.unionByName(probe)).where(
        F.col("doc_id") >= 900001
    ).collect()
    ce = {r.doc_id: r.cross_entropy for r in both}
    assert ce[900001] < ce[900002]


def test_perplexity_keep_is_below_mean_half(spark, sf_dir):
    from mcp_memory_libsql_spark.registry import QUERIES

    docs = load_tables(spark, sf_dir)["documents"]
    kept = {r.doc_id for r in QUERIES["text_perplexity_keep"](spark, sf_dir).collect()}
    n = docs.count()
    # strictly-below-token-weighted-mean keeps a non-trivial,
    # non-total subset
    assert 0 < len(kept) < n
    from mcp_memory_libsql_spark.textops.quality import lm_score_bigram

    ce = lm_score_bigram(docs).collect()
    s_ce = sum(r.ce_millibits for r in ce)
    s_n = sum(r.n_bigrams for r in ce)
    expect = {r.doc_id for r in ce if r.ce_millibits * s_n < s_ce * r.n_bigrams}
    assert kept == expect


def test_fast_hash_path_preserves_dedup_semantics(spark, monkeypatch):
    """SPARK_GRAFT_FAST_HASH=1 swaps md5 for xxhash64 in the shingle/
    gram hash loops (the 100 TB CPU path). Semantics a consumer relies
    on must survive the swap: identical texts hash identically
    (minhash signatures equal, winnowing finds the pair), distinct
    texts diverge, and values stay in the declared ranges. Default
    (flag unset) must keep producing the oracle-gated md5 values."""
    from mcp_memory_libsql_spark.textops import dedup as dd
    from mcp_memory_libsql_spark.textops import tokenize as tk

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "an entirely different document about spark catalyst plans"),
        ],
        "doc_id long, text string",
    )

    def minhash_rows():
        return {
            r.doc_id: tuple(r[f"h{i}"] for i in range(dd.MINHASH_K))
            for r in dd.minhash_signatures(docs, n=3).collect()
        }

    base = minhash_rows()
    monkeypatch.setenv("SPARK_GRAFT_FAST_HASH", "1")
    assert tk.fast_hash_enabled()
    fast = minhash_rows()
    for sigs in (base, fast):
        assert sigs[1] == sigs[2]  # identical docs, identical signature
        assert sigs[1] != sigs[3]
        assert all(0 <= h < 1 << 32 for h in sigs[1])
    assert fast[1] != base[1]  # genuinely a different hash family
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.winnowing_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    # the substring miner honors the flag too (r07: its first fasthash
    # rehearsal column measured no speedup because it didn't) — same
    # pair semantics, genuinely different hash family
    sub_fast = {
        (r.doc_a, r.doc_b)
        for r in dd.substring_dup_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in sub_fast
    fp_fast = {r.h for r in dd.substring_fingerprints(docs).collect()}
    monkeypatch.delenv("SPARK_GRAFT_FAST_HASH")
    assert minhash_rows() == base  # default path untouched
    fp_base = {r.h for r in dd.substring_fingerprints(docs).collect()}
    assert fp_fast != fp_base  # genuinely a different hash family
    assert all(isinstance(h, int) for h in fp_fast)  # xxhash64 longs
    # default key mode is bigint60 (r08 A/B flip): md5-derived 60-bit longs
    assert all(isinstance(h, int) for h in fp_base)
    sub_base = {
        (r.doc_a, r.doc_b)
        for r in dd.substring_dup_pairs(docs, min_shared=1).collect()
    }
    assert sub_base == sub_fast


def test_ngram_novelty_semantics(spark):
    """First doc is fully novel; an exact copy later is fully
    non-novel; a half-overlapping doc scores between; short docs
    (< n tokens) emit no row."""
    from mcp_memory_libsql_spark.textops import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "alpha beta gamma zeta eta theta iota"),
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dd.ngram_novelty(docs, n=3).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].novelty == 1.0 and rows[1].n_new == rows[1].n_shingles == 3
    assert rows[2].novelty == 0.0 and rows[2].n_new == 0
    # doc 3: shingles = 5; only "alpha beta gamma" was seen before
    assert rows[3].n_shingles == 5 and rows[3].n_new == 4


def test_novelty_keep_drops_only_low_novelty(spark):
    """Exact-copy docs drop (novelty 0), the original stays (novelty
    1), no-shingle docs pass through un-judged."""
    from mcp_memory_libsql_spark.textops import dedup as dd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "a", 36),
            (2, "alpha beta gamma delta epsilon zeta", "en", "a", 36),
            (3, "one two three four five six seven", "en", "b", 33),
            (4, "hi", "en", "c", 2),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    drops = (
        dd.ngram_novelty(docs, n=3)
        .where(F.col("novelty") < 0.5)
        .select("doc_id")
    )
    kept = {
        r.doc_id
        for r in docs.join(drops, "doc_id", "left_anti").collect()
    }
    assert kept == {1, 3, 4}


def test_shard_plan_two_pass_equals_global_cumsum(spark):
    """The deterministic block two-pass prefix sum (textops/quality.
    shard_plan) must equal a naive single-window global cumsum — run
    with block=4 on 13 docs so the plan crosses multiple blocks,
    including an empty block (doc_ids skip 4..7)."""
    from pyspark.sql.window import Window

    from mcp_memory_libsql_spark.textops import quality as tq

    rows = [
        (i, " ".join(f"w{j}" for j in range((i * 7) % 11 + 1)))
        for i in list(range(4)) + list(range(8, 17))
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.n_tokens, r.shard_id, r.offset_tokens)
        for r in tq.shard_plan(docs, target_tokens=9, block=4).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).cast("bigint").alias("n_tokens"),
    ).withColumn("_cum", F.sum("n_tokens").over(w))
    want = {
        (
            r.doc_id,
            r.n_tokens,
            (r._cum - r.n_tokens) // 9,
            (r._cum - r.n_tokens) % 9,
        )
        for r in naive.collect()
    }
    assert got == want
    # greedy-packing invariants: offsets live inside the shard and
    # shard ids never decrease along doc order
    assert all(0 <= off < 9 for (_, _, _, off) in got)
    order = sorted(got)
    assert all(
        a[2] <= b[2] for a, b in zip(order, order[1:])
    )


def test_shingle_hll_registers_estimate(spark, sf_dir):
    """The shingle HLL registers must estimate the exact per-lang
    distinct-shingle count within the ~3-sigma HLL band at m=256,
    for every language with enough shingles for the estimator to
    apply (small langs fall in the linear-counting regime, also
    checked)."""
    import math

    from mcp_memory_libsql_spark.io.tables import load_tables as lt
    from mcp_memory_libsql_spark.textops import quality as tq2

    t = lt(spark, sf_dir)
    regs: dict[str, dict[int, int]] = {}
    for r in tq2.shingle_hll_registers(t["documents"], n=3).collect():
        regs.setdefault(r.lang, {})[r.bucket] = r.max_rho
    exact = {
        r.lang: r.n_distinct_shingles
        for r in tq2.shingle_diversity(t["documents"], n=3).collect()
    }
    assert set(regs) == set(exact)
    m = 256
    alpha = 0.7213 / (1 + 1.079 / m)
    for lang, by_bucket in regs.items():
        denom = sum(2.0 ** -rho for rho in by_bucket.values()) + (
            m - len(by_bucket)
        )
        est = alpha * m * m / denom
        zeros = m - len(by_bucket)
        if est <= 2.5 * m and zeros > 0:
            est = m * math.log(m / zeros)
        assert abs(est - exact[lang]) / exact[lang] < 3 * 1.04 / math.sqrt(m)


def test_shard_plan_incremental_equals_replan(spark, sf_dir):
    """The append-only path (old corpus summarized to one base-total
    row, only new docs planned) must land every incoming doc exactly
    where a full replan would — Spark vs Spark here; engine equality
    is the oracle harness's job."""
    from mcp_memory_libsql_spark.io.tables import load_tables as lt
    from mcp_memory_libsql_spark.textops import quality as tq2

    docs = lt(spark, sf_dir)["documents"]
    inc = {
        tuple(r)
        for r in tq2.shard_plan_incremental(
            docs, target_tokens=777, cutover=100
        ).collect()
    }
    full = {
        tuple(r)
        for r in tq2.shard_plan(docs, target_tokens=777).collect()
        if r.doc_id >= 100
    }
    assert inc == full and len(inc) > 0


def _components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict[int, set] = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def test_substring_star_preserves_components(spark):
    """The star twin's whole claim AT ITS REGISTERED DEFAULTS: the
    span-witness star (min_shared=1 over adjacent-window bigram keys)
    has the same transitive closure as the clique pair set at the
    clique's registered min_shared=2 on copied-span corpora —
    keep-lists see identical duplicate groups, with fewer output
    rows. Docs are built around shared 70-char spans so posting lists
    reach width 3 and the star genuinely drops clique edges."""
    span1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    span2 = "completely different boilerplate footer text repeated across documents"
    docs = spark.createDataFrame(
        [
            (1, span1 + " alpha unique tail one for doc"),
            (2, span1 + " beta unique tail two for doc"),
            (3, span1 + " gamma unique tail three for doc"),
            (4, span2 + " delta unique tail four for doc"),
            (5, span2 + " epsilon unique tail five for doc"),
            (6, "an entirely unrelated document with no shared span at all here"),
        ],
        "doc_id long, text string",
    )
    from mcp_memory_libsql_spark.textops import dedup as dd

    # REGISTERED defaults on both sides — the r07 advice showed the
    # old keep-conditioned rule diverging exactly here
    clique = {
        (r.doc_a, r.doc_b) for r in dd.substring_dup_pairs(docs).collect()
    }
    star = {
        (r.doc_keep, r.doc_dup)
        for r in dd.substring_dup_star(docs).collect()
    }
    assert star  # non-vacuous
    # every star edge carries ≥2 consecutive shared windows → it is a
    # clique(min_shared=2) pair too
    assert star <= clique
    nodes = set(range(1, 7))
    assert _components(star, nodes) == _components(clique, nodes)
    # and the clique genuinely had extra edges to drop (width-3 group)
    assert len(clique) > len(star)


def test_substring_star_keep_independent_evidence(spark):
    """The r07 advice counter-example, rebuilt at span granularity:
    a smaller-id doc (1) shares SOME of the copied region with docs
    2 and 3, which share a LONGER region between themselves. Under
    the old keep-conditioned rule ({1,2,3} windows sent all evidence
    to doc 1's star edges while the (2,3) pair's own count
    fragmented), the {2,3} group could silently vanish at the default
    threshold. Span witnesses are keep-independent: every shared span
    is one self-sufficient witness, so all three docs land in ONE
    component on both paths."""
    shared = (
        "zebra quartz vivid jumble of fixed characters spanning windows "
        "abcdefghij klmnopqrst uvwxyz0123 456789abcd efghijklmn opqrstuvwx"
    )
    # doc 1 copies only the head of the shared region; 2 and 3 copy
    # all of it — so some spans post {2,3} and some post {1,2,3}
    docs = spark.createDataFrame(
        [
            (1, shared[:60] + " one tail entirely distinct from others xx"),
            (2, shared + " two tail entirely distinct from the others"),
            (3, shared + " three tail fully distinct from the others"),
        ],
        "doc_id long, text string",
    )
    from mcp_memory_libsql_spark.textops import dedup as dd

    star = {
        (r.doc_keep, r.doc_dup)
        for r in dd.substring_dup_star(docs).collect()
    }
    spans = dd.substring_span_fingerprints(docs)
    posting_sets = {
        frozenset(r.ids)
        for r in spans.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .collect()
    }
    # the corpus really produces BOTH posting shapes of the advice
    # example — {2,3} evidence alongside {1,2,3} evidence
    assert frozenset([2, 3]) in posting_sets
    assert frozenset([1, 2, 3]) in posting_sets
    clique = {
        (r.doc_a, r.doc_b) for r in dd.substring_dup_pairs(docs).collect()
    }
    nodes = {1, 2, 3}
    assert _components(star, nodes) == _components(clique, nodes) == {
        frozenset([1, 2, 3])
    }


def test_substring_star_divergence_is_scattered_windows_only(spark):
    """Documented, intended divergence: two docs sharing ≥2 SCATTERED
    non-adjacent windows (independent 40-char coincidences, no
    contiguous copied span) pair in the clique twin but produce no
    span witness — the star targets copied-span dedup. This pins the
    chosen semantics at the registered defaults."""
    w1 = "A" * 19 + "x" * 21  # one full window of repeated filler
    w2 = "B" * 19 + "y" * 21
    # both docs contain windows w1 and w2 at stride-aligned offsets,
    # separated by DIFFERENT 40-char junk — so the two shared windows
    # are never adjacent
    docs = spark.createDataFrame(
        [
            (1, w1 + "j" * 40 + w2 + " first document tail here"),
            (2, w1 + "k" * 40 + w2 + " second document tail goes"),
        ],
        "doc_id long, text string",
    )
    from mcp_memory_libsql_spark.textops import dedup as dd

    clique = {
        (r.doc_a, r.doc_b) for r in dd.substring_dup_pairs(docs).collect()
    }
    star = {
        (r.doc_keep, r.doc_dup)
        for r in dd.substring_dup_star(docs).collect()
    }
    assert (1, 2) in clique  # scattered evidence pairs the clique
    assert star == set()  # and intentionally NOT the span star


def test_winnowing_star_preserves_components(spark):
    """Winnowing span-witness star vs the winnowing clique at both
    REGISTERED defaults (star min_shared=1 witnesses, clique
    min_shared=3 fingerprints) on a copied-span corpus: identical
    duplicate groups."""
    span1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    span2 = "completely different boilerplate footer text repeated across documents"
    docs = spark.createDataFrame(
        [
            (1, span1 + " alpha unique tail one for doc"),
            (2, span1 + " beta unique tail two for doc"),
            (3, span1 + " gamma unique tail three for doc"),
            (4, span2 + " delta unique tail four for doc"),
            (5, span2 + " epsilon unique tail five for doc"),
            (6, "an entirely unrelated document with no shared span at all here"),
        ],
        "doc_id long, text string",
    )
    from mcp_memory_libsql_spark.textops import dedup as dd

    clique = {
        (r.doc_a, r.doc_b) for r in dd.winnowing_pairs(docs).collect()
    }
    star = {
        (r.doc_keep, r.doc_dup) for r in dd.winnowing_star(docs).collect()
    }
    assert star
    nodes = set(range(1, 7))
    assert _components(star, nodes) == _components(clique, nodes)
    assert len(clique) > len(star)


def test_star_keep_lists_match_clique_fed_path(spark):
    """End-to-end keep-list equality (the r07 verdict's item 1 gate):
    the registered star-fed consumers (substring_keep_docs /
    winnowing_keep_docs) produce exactly the keep-list that HashMin
    components over the CLIQUE pair stream would, on the copied-span
    corpus — so switching the scale path changes cost, not answers."""
    from pyspark.sql import functions as SF

    span1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    span2 = "completely different boilerplate footer text repeated across documents"
    docs = spark.createDataFrame(
        [
            (1, span1 + " alpha unique tail one for doc"),
            (2, span1 + " beta unique tail two for doc"),
            (3, span1 + " gamma unique tail three for doc"),
            (4, span2 + " delta unique tail four for doc"),
            (5, span2 + " epsilon unique tail five for doc"),
            (6, "an entirely unrelated document with no shared span at all here"),
        ],
        "doc_id long, text string",
    ).select(
        "doc_id",
        "text",
        SF.lit("en").alias("lang"),
        SF.lit("crawl").alias("source"),
        SF.length("text").alias("n_chars"),
    )
    from mcp_memory_libsql_spark.textops import dedup as dd

    nodes = set(range(1, 7))

    def clique_keep(pairs_df, a="doc_a", b="doc_b"):
        pairs = {(r[a], r[b]) for r in pairs_df.collect()}
        comps = _components(pairs, nodes)
        drops = {d for g in comps for d in g if d != min(g)}
        return nodes - drops

    star_sub = {
        r.doc_id for r in dd.substring_keep_docs(docs).collect()
    }
    assert star_sub == clique_keep(dd.substring_dup_pairs(docs))
    star_win = {
        r.doc_id for r in dd.winnowing_keep_docs(docs).collect()
    }
    assert star_win == clique_keep(dd.winnowing_pairs(docs))


def test_substring_bigint_key_flag_identical_pairs(spark, sf_dir):
    """Window keys are 60-bit BIGINTs (the r08 300x spill-regime A/B),
    and the fold must actually reach the plan (the r07 fasthash
    lesson: a vacuous flag measured as a no-op for a round)."""
    docs = load_tables(spark, sf_dir)["documents"]
    default_plan = dedup.substring_fingerprints(docs)._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert "conv(" in default_plan  # bigint60 fold is the default plan
