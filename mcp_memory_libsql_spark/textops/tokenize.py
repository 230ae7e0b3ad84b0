"""Tokenization / shingling as JVM-side expressions.

Everything here uses regex + array built-ins only (codegen'd,
scan-parallel) and has exact DuckDB equivalents so dedup results are
oracle-checkable. The hash functions are md5-derived so Spark and the
oracle compute bit-identical values (xxhash64 exists in both engines
but with different seeds/variants — md5 is the portable choice; at
100 TB you'd swap in xxhash64 for ~3× cheaper hashing, semantics
unchanged).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, functions as F


def fast_hash_enabled() -> bool:
    """SPARK_GRAFT_FAST_HASH=1 swaps the portable md5-derived hashes
    for JVM-native xxhash64 — the 100 TB deployment path, where the
    md5 digest per shingle/gram is a real CPU bill (xxhash64 is a
    few-cycle non-cryptographic hash; md5 runs the full digest
    schedule). Default OFF because the DuckDB parity gate needs a
    hash both engines compute bit-identically, and the engines'
    xxhash64 variants/seeds differ. Semantics are unchanged either
    way: every consumer (MinHash, winnowing, Bloom, SimHash band
    keys) needs only a uniform deterministic hash, not md5
    specifically. Read per expression-construction so tests can
    toggle via env."""
    return os.environ.get("SPARK_GRAFT_FAST_HASH", "0") == "1"

WORD_RE = "[a-z0-9]+"
# BPE-ish pre-tokenizer: alpha runs, digit runs, single punctuation.
# Explicit whitespace class, NOT \s / \S: Java regex counts \x0B
# (vertical tab) as whitespace but DuckDB's RE2 does not, so the
# shorthand classes tokenize differently across engines on corpora
# containing VT. Both the Spark exprs and the DuckDB oracles use
# these literal classes so tokenization is engine-independent.
WS_CLASS = " \\t\\n\\r\\f\\x0B"
WS_TOKEN_RE = f"[^{WS_CLASS}]+"
BPE_RE = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CLASS}]"


def words(text: Column) -> Column:
    """Lowercased word tokens."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0)


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-gram word shingles (space-joined). Guarded so short
    docs yield an empty array (Spark's sequence() would otherwise
    generate a descending range when size < n)."""
    idx = F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    parts = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + j) for j in range(n)]
    )
    return F.when(
        F.size(tokens) >= n, F.array_distinct(F.transform(idx, parts))
    ).otherwise(F.array().cast("array<string>"))


def md5_hash32(s: Column, seed: int | None = None) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 → BIGINT.
    Identical to DuckDB's ('0x' || substr(md5(x),1,8))::BIGINT.
    Under SPARK_GRAFT_FAST_HASH=1, xxhash64 folded to the same
    [0, 2³²) range instead (fast path; not oracle-matchable)."""
    if fast_hash_enabled():
        h = F.xxhash64(s) if seed is None else F.xxhash64(F.lit(seed), s)
        return F.pmod(h, F.lit(1 << 32)).cast("bigint")
    keyed = s if seed is None else F.concat(F.lit(f"{seed}:"), s)
    return F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("bigint")


def md5_hash60(s: Column) -> Column:
    """Portable 60-bit hash (15 hex chars → fits signed BIGINT).
    Under SPARK_GRAFT_FAST_HASH=1, xxhash64 folded to [0, 2⁶⁰)."""
    if fast_hash_enabled():
        return F.pmod(F.xxhash64(s), F.lit(1 << 60)).cast("bigint")
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def bpe_merge_candidates(documents, k: int = 50):
    """Top-k BPE merge candidates → (pair, pair_count, n_words): the
    first step of byte-pair-encoding TOKENIZER TRAINING — corpus-wide
    adjacent-character pair frequencies, exactly what the first BPE
    merge maximizes (Sennrich et al.). Run iteratively (re-tokenize,
    re-count) to learn a full vocab; one step is the hash-gateable
    unit.

    Scale shape: pair counts aggregate over DISTINCT WORDS weighted by
    term frequency, not over raw tokens — the corpus may hold 10¹²
    token instances but only ~10⁶ distinct words, so the char-pair
    explode (the expensive part) touches each distinct word once.
    That's two shuffles (word rollup, pair rollup), both map-side
    combined.
    """
    from pyspark.sql import functions as F

    words_tf = (
        documents.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("tf"))
    )
    pairs = words_tf.where(F.length("w") >= 2).select(
        "w",
        "tf",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("tf").cast("bigint").alias("pair_count"),
        F.countDistinct("w").cast("bigint").alias("n_words"),
    )
    return agg.orderBy(F.col("pair_count").desc(), "pair").limit(k)


def split_fat_buckets(df, key_cols, member_col: str, cap: int):
    """Tail safety for every banded pair miner (text SimHash chunks,
    media SimHash chunks, embedding-LSH buckets): instead of DROPPING
    buckets whose membership exceeds ``cap`` — which silently loses
    every pair they contain, and the 100× scale rehearsal measured
    33.7% of media-simhash buckets and 15.8% of embedding-LSH buckets
    over cap — fat buckets are SPLIT into ``ceil(2·count/cap)``
    sub-buckets by an independent md5 sub-key, so each sub-bucket
    lands at ~cap/2 expected members and its C(w,2) combo stage stays
    bounded. Pairs whose members hash to different sub-buckets of a
    fat bucket are the (much smaller) residual recall cost; a
    replication-heavy group additionally re-meets in the other
    bands/chunks, whose sub-keys are independent (the bucket key is
    part of the hash salt).

    Returns ``df`` with an added ``_sub`` column; callers group on
    ``(*key_cols, "_sub")``. Width-1 sub-buckets (nothing to pair)
    and the binomial-tail sub-buckets still over ``cap`` are dropped —
    the bounded-combo invariant is preserved exactly.

    Plan shape (the reason this uses count-windows, not the old
    count-pass + semi-join): ONE shuffle on the bucket key computes
    the pre-split width, the sub assignment, and the post-split width
    — the second window partitions on (key, _sub), a superset of the
    first window's key, so Catalyst satisfies it with a sort, no
    second exchange; the downstream groupBy on (key, _sub) reuses the
    same partitioning too (subset rule). The old drop-path needed an
    eager localCheckpoint because the banded table had two consumers;
    here the lineage is a single pass.

    Deterministic and oracle-mirrorable: the sub-key is
    ``md5_hash32(key₁#…#keyₙ#member) % n_sub`` with integer-DIV
    arithmetic, reproduced verbatim as window CTEs in the DuckDB
    oracles (oracles_text dedup_simhash_capped, oracles_vector
    mm_neardup / _neardup_lsh_oracle)."""
    from pyspark.sql import Window

    cnt = F.count("*").over(Window.partitionBy(*key_cols))
    d1 = df.withColumn("_cnt", cnt).where(F.col("_cnt") >= 2)
    n_sub = F.when(F.col("_cnt") <= cap, F.lit(1).cast("bigint")).otherwise(
        F.expr(f"CAST((2 * _cnt + {cap - 1}) DIV {cap} AS BIGINT)")
    )
    salt = F.concat_ws(
        "#",
        *[F.col(k).cast("string") for k in key_cols],
        F.col(member_col).cast("string"),
    )
    d2 = d1.withColumn("_sub", F.pmod(md5_hash32(salt), n_sub))
    cnt2 = F.count("*").over(Window.partitionBy(*key_cols, "_sub"))
    return (
        d2.withColumn("_cnt2", cnt2)
        .where((F.col("_cnt2") >= 2) & (F.col("_cnt2") <= cap))
        .drop("_cnt", "_cnt2")
    )


def pair_combos(ids, a: str = "a", b: str = "b"):
    """All in-row ordered pairs of a SORTED id array → flattened
    array of struct(a, b) with a < b (array-position order) — the
    shared postings-list pair explosion every inverted-index join
    here uses (n-gram/substring/winnowing dedup, neighbor-overlap
    similarity, LSH buckets). One definition so the i+2 slice
    arithmetic can never drift between call sites.
    """
    col = F.col(ids) if isinstance(ids, str) else ids
    return F.flatten(
        F.transform(
            col,
            lambda x, i: F.transform(
                F.slice(col, i + 2, F.size(col)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
