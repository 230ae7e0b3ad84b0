"""Deduplication operators over the documents table.

The scale story (the whole point of these designs):
- exact: one hash-groupBy shuffle on the digest — the cheapest
  possible exact dedup at any SF.
- n-gram Jaccard: inverted-index join — explode distinct shingles,
  shuffle on the *shingle* key, pair counts map-side combined. A
  document-frequency cap drops ubiquitous shingles, bounding the
  worst-case pair blowup (the classic skew killer at 100 TB).
- MinHash: k portable hash functions, one pass over exploded
  shingles, min-aggregated per doc — signatures are tiny (k·8 bytes)
  regardless of document size.
- MinHash-LSH: band the signatures; candidate pairs only need to
  agree on one band → the self-join shuffles on the band key, never
  on raw content.
- SimHash: 60-bit bit-majority signature; near-dup candidates via
  exact-match on signature chunks (hamming ≤ r ⇒ some chunk equal).
- embedding cosine: brute pairwise above a threshold (candidate
  generation at scale goes through vector/lsh.py instead).

All hashes are md5-derived so the DuckDB oracle matches bit-for-bit
(swap for xxhash64 in production — same plan shape, cheaper CPU).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..vector.similarity import cosine
from ..io.layout import fan_out
from .tokenize import md5_hash32, md5_hash60, pair_combos, word_shingles, words

DF_CAP = 100  # drop shingles appearing in more docs than this
MINHASH_K = 8
BANDS = 4  # 2 hashes per band
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 15 bits each


def _exploded_shingles(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) — tokens are projected in a SEPARATE select
    before shingling: referencing the regexp tokenizer directly inside
    the shingle transform() lambda would re-evaluate it per array
    element (lambdas defeat codegen subexpression elimination; ~15×
    slower at sf0.1).

    fan_out + explode_OUTER for the same reasons as
    :func:`winnowing_fingerprints`: the scan of a small parquet file
    is one task (row-group bound), and plain explode makes the
    optimizer infer `size(shingles) > 0` and push the whole tokenizer
    +shingle expression into that single-task scan filter — the map
    side then evaluates it twice on one core. Short docs CAN produce
    empty shingle arrays here, so outer explode needs the cheap
    post-generate null filter to keep semantics identical."""
    toks = fan_out(documents).select("doc_id", words(F.col("text")).alias("w"))
    return toks.select(
        "doc_id", F.explode_outer(word_shingles(F.col("w"), n)).alias("shingle")
    ).where(F.col("shingle").isNotNull())


def exact_groups(documents: DataFrame) -> DataFrame:
    """(h, n_copies, keep_id): md5-exact duplicate groups; keep the
    smallest doc_id of each group."""
    return (
        documents.select(F.md5(F.col("text")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def doc_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word-n-gram shingles, DF-capped.

    The document-frequency cap uses a count window over the shingle
    partition — ONE shuffle on the shingle key (vs. a groupBy +
    anti-join which scans and shuffles the exploded table twice), and
    the output is already partitioned by shingle, exactly what the
    inverted-index self-join downstream wants."""
    sh = _exploded_shingles(documents, n)
    df_count = F.count("*").over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("_df", df_count)
        .where(F.col("_df") <= DF_CAP)
        .drop("_df")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.1
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold via an inverted
    index → (doc_a, doc_b, inter_size, size_a, size_b, jaccard).

    Plan shape: ONE shuffle groups each shingle's posting list
    (sorted doc ids); the DF cap is a COUNT-WINDOW filter applied
    BEFORE the posting lists materialize (r10, VERDICT r09 item 2):
    the r09 ``size(ids) <= DF_CAP`` filter on the aggregated row
    buffered the FULL posting list of every shingle — including a
    boilerplate trigram present in a large fraction of the corpus —
    in one aggregation buffer before dropping it, an unbounded-memory
    hazard at 100 TB (guide §5). The window count's per-group state
    is one long and WindowExec's partition buffer is disk-spilling,
    so every buffer is bounded; the collect_list after the filter
    holds ≤ DF_CAP ids by construction. The window and the groupBy
    share one hash-partitioning on the shingle key (no second
    exchange — the sort is the only cost vs the size-filter shape,
    measured flat at sf0.1: 0.75s vs 0.69-0.75s noop medians, rows
    exceptAll-identical). Candidate pairs are exploded combinations
    of each posting list — the classic postings-join without
    re-shuffling the exploded shingle table twice. The posting-list
    table is persisted for its two consumers (pair counts + per-doc
    sizes); at cluster scale that's "write the shingle index table
    once"."""
    postings = (
        doc_shingles(documents, n)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .persist()
    )
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    combos = pair_combos("ids")
    pairs = (
        postings.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count("*").alias("inter_size"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                6,
            ),
        )
    )
    return scored.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "inter_size", "size_a", "size_b", "jaccard"
    )


def minhash_signatures(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h0..h{k-1}) MinHash signature over word shingles.

    The k=8 hash family is sliced out of TWO md5 digests (4×32-bit
    chunks each) instead of k keyed digests — md5 is the expensive
    part, and chunks of one digest are independent enough for
    MinHash. Under SPARK_GRAFT_FAST_HASH=1 the family comes from
    FOUR seeded xxhash64 values split into 32-bit halves instead —
    the 100 TB CPU path (no digest schedule per shingle); md5 stays
    the default because the DuckDB gate needs it.

    Plan (r09, OPTIMIZATION_r09.md A/B with exceptAll equality
    gates): the digest family is computed once per DISTINCT shingle
    on the aggregated posting-list row, not once per (doc, shingle)
    occurrence, before exploding the ids back out into the per-doc
    min (measured at sf0.1: signature stage 1.298s → 0.988s, end
    pipeline 1.372s → 1.076s with numeric band keys, rows proven
    identical in both arms). The DF cap is doc_shingles's
    COUNT-WINDOW filter ahead of the aggregate (r10, VERDICT r09
    item 2): r09's ``size(ids)`` filter on the aggregated row
    buffered every shingle's full posting list before dropping the
    hot ones — unbounded aggregation state at 100 TB (guide §5) —
    while the window's per-group state is one spill-backed long and
    the collect_list after the filter is ≤ DF_CAP by construction,
    at the cost of the window sort inside the same single exchange
    (measured flat at sf0.1, rows exceptAll-identical)."""
    from .tokenize import fast_hash_enabled

    postings = doc_shingles(documents, n).groupBy("shingle").agg(
        F.collect_list("doc_id").alias("ids")
    )
    if fast_hash_enabled():
        hashed = postings.select(
            "ids",
            *[
                F.xxhash64(F.lit(j), F.col("shingle")).alias(f"d{j}")
                for j in range(MINHASH_K // 2)
            ],
        )
        vals = []
        for i in range(MINHASH_K):
            d = F.col(f"d{i // 2}")
            half = (
                F.shiftright(d, 32) if i % 2 else d
            ).bitwiseAND(F.lit((1 << 32) - 1))
            vals.append(half.cast("bigint").alias(f"v{i}"))
    else:
        hashed = postings.select(
            "ids",
            F.md5(F.col("shingle")).alias("d1"),
            F.md5(F.concat(F.lit("x:"), F.col("shingle"))).alias("d2"),
        )
        vals = []
        for i in range(MINHASH_K):
            src = F.col("d1") if i < 4 else F.col("d2")
            chunk = F.substring(src, 1 + 8 * (i % 4), 8)
            vals.append(F.conv(chunk, 16, 10).cast("bigint").alias(f"v{i}"))
    exploded = hashed.select(F.explode("ids").alias("doc_id"), *vals)
    return exploded.groupBy("doc_id").agg(
        *[F.min(f"v{i}").alias(f"h{i}") for i in range(MINHASH_K)]
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    n: int = 3,
    sig: DataFrame | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ≥1 of the signature
    bands → (doc_a, doc_b).

    Plan: bucket-grouped pair generation, NOT a band-key self-join —
    a self-join evaluates the whole shingle→md5→signature pipeline
    once per side; grouping per band key computes it ONCE, shuffles
    once on the band key, and emits intra-bucket pairs from the
    sorted id array (bucket width = docs agreeing on a band, the same
    bound the self-join had). Pass a (persisted) ``sig`` to share one
    signature table with other consumers.

    ``bucket_cap`` (the ``dedup_minhash_lsh_capped`` gate): a band
    shared by g docs yields C(g,2) pairs — quadratic by SEMANTICS on
    a replication-heavy corpus — so the scale twin bounds every band
    bucket via tokenize.split_fat_buckets (overfull buckets split
    into ~2·count/cap md5 sub-buckets, not dropped), the same tested
    tail-safety path the simhash chunk and embedding-LSH miners use.
    ``bucket_cap=None`` keeps the uncapped semantics the
    ``dedup_minhash_lsh`` oracle mirrors."""
    if sig is None:
        sig = minhash_signatures(documents, n)
    # All band keys in ONE array projection + a single explode — a
    # per-band UNION would re-derive the whole signature pipeline
    # once per band (4× the work).
    if bucket_cap is None:
        # numeric (band_idx, h_even, h_odd) struct key instead of the
        # string concat: same groups ((b,x,y) ↔ string is a bijection
        # and the h's are never null), ~half the exchange bytes and no
        # per-row string rendering (r09 A/B: 1.155s → 1.076s, pair
        # rows proven identical). The CAPPED twin below keeps the
        # string key: split_fat_buckets md5-hashes the key STRING to
        # deal sub-buckets, so the key rendering is semantics there
        # (mirrored by the dedup_minhash_lsh_capped oracle).
        banded = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("b"),
                            F.col(f"h{2 * b}").alias("x"),
                            F.col(f"h{2 * b + 1}").alias("y"),
                        )
                        for b in range(BANDS)
                    ]
                )
            ).alias("band_key"),
        )
        group_cols = ["band_key"]
    else:
        keys = F.array(
            *[
                F.concat_ws(
                    "_",
                    F.lit(str(b)),
                    F.col(f"h{2 * b}").cast("string"),
                    F.col(f"h{2 * b + 1}").cast("string"),
                )
                for b in range(BANDS)
            ]
        )
        banded = sig.select("doc_id", F.explode(keys).alias("band_key"))
        from .tokenize import split_fat_buckets

        banded = split_fat_buckets(banded, ["band_key"], "doc_id", bucket_cap)
        group_cols = ["band_key", "_sub"]
    return (
        banded.groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.explode(pair_combos("ids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash_signatures(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, simhash) — 60-bit bit-majority SimHash over shingle
    hashes, as ONE groupBy(doc_id) with 60 per-bit popcount sums
    (all BIGINT math, no doubles).

    Identity with the posexplode formulation it replaces (r09): the
    per-(doc, bit) majority vote Σ(bit·2−1) equals 2·Σbit − n, so
    bit j of the signature is [2·c_j − n > 0] — same integers, same
    signature, and the DuckDB oracle's arithmetic is unchanged. The
    old plan exploded 60 rows per (doc, shingle) through a
    60×-as-wide aggregation hash map plus a SECOND shuffle for the
    per-doc fold; this shape is one partial-aggregated shuffle of 61
    longs per doc (A/B walls in OPTIMIZATION_r09.md; rows
    hash-identical at sf0.001 and sf0.01)."""
    sh = doc_shingles(documents, n).select(
        "doc_id", md5_hash60(F.col("shingle")).alias("h")
    )
    counts = sh.groupBy("doc_id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(
                F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1).cast("bigint"))
            ).alias(f"c{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    bit_terms = [
        F.when(
            F.col(f"c{j}") * 2 - F.col("_n") > 0,
            F.lit(1 << j).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for j in range(SIMHASH_BITS)
    ]
    simhash = bit_terms[0]
    for t in bit_terms[1:]:
        simhash = simhash + t
    return counts.select("doc_id", simhash.alias("simhash"))


def simhash_chunk_pairs(
    sig: DataFrame,
    id_col: str,
    carry_cols: tuple[str, ...] = (),
    key_cols: tuple[str, ...] = (),
    bucket_cap: int | None = None,
) -> DataFrame:
    """Pigeonhole-banded candidate pairs from a signature table
    ``(id_col, carry_cols..., simhash)`` → ``(a, b, carry_cols...,
    sim_a, sim_b)`` with ``a < b``. Shared by the text and media
    near-dup operators so the banding + in-row combo plan exists in
    exactly ONE place.

    Banding: a ≤3-bit hamming difference across 4 disjoint 15-bit
    chunks leaves at least one chunk identical (pigeonhole), so
    bucketing on (key_cols..., chunk_idx, chunk_value) finds every
    qualifying pair. Bucket-grouped in-row combos (one pipeline
    evaluation, one chunk-key shuffle) instead of a two-sided
    self-join recompute; structs sort by id first, so pair order
    inside a bucket is deterministic.

    ``bucket_cap``: bounds the combo stage — a signature shared by g
    rows yields C(g,2) pairs, quadratic by SEMANTICS, and a
    replication-heavy corpus needs the bound. Overfull buckets are no
    longer dropped wholesale (the r05 rehearsal measured 33.7% of
    media chunk buckets over cap at the 100× point — recall decaying
    exactly where a large corpus lives): they are SPLIT into
    ~2·count/cap sub-buckets by tokenize.split_fat_buckets, each
    bounded by the cap, with only the binomial-tail residue dropped.
    The split is md5-deterministic and mirrored verbatim in the
    DuckDB oracles, so capped outputs stay hash-verifiable. The old
    eager localCheckpoint is gone: the window-based split is a single
    pass over the banded table (no count-pass + semi-join double
    consumer)."""
    # Re-bind the incoming simhash column as a LAMBDA VARIABLE
    # (single-element transform) before deriving keys from it: the
    # banding below references simhash FIVE times (4 chunk keys + the
    # carried column), and when the producer's simhash is itself a
    # wide expression (the 60-term majority sum of
    # simhash_signatures), Catalyst's projection collapse would
    # inline that sum into every reference — the measured blowup the
    # winnowing selector documents (capped twin 5.96s inlined vs
    # ~3.5s bound at sf0.1, r09).
    bound = F.transform(F.array(F.col("simhash")), lambda s: s)[0]
    sig = sig.select(
        id_col, *carry_cols, *key_cols, bound.alias("simhash")
    )
    keys = F.array(
        *[
            F.concat_ws(
                "_",
                *[F.col(k) for k in key_cols],
                F.lit(str(c)),
                F.shiftright(F.col("simhash"), c * 15)
                .bitwiseAND(F.lit((1 << 15) - 1))
                .cast("string"),
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    banded = sig.select(
        id_col, *carry_cols, "simhash", F.explode(keys).alias("chunk_key")
    )
    group_cols = ["chunk_key"]
    if bucket_cap is not None:
        from .tokenize import split_fat_buckets

        banded = split_fat_buckets(banded, ["chunk_key"], id_col, bucket_cap)
        group_cols = ["chunk_key", "_sub"]
    combo_fields = ", ".join(
        [f"x.{id_col} AS a", f"y.{id_col} AS b"]
        + [f"x.{c} AS {c}" for c in carry_cols]
        + ["x.simhash AS sim_a", "y.simhash AS sim_b"]
    )
    return (
        banded.groupBy(*group_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(id_col, *carry_cols, "simhash"))
            ).alias("xs")
        )
        .where(F.size("xs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(xs, (x, i) -> "
                    "transform(slice(xs, i + 2, size(xs) - i - 1), "
                    f"y -> struct({combo_fields}))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", *[f"p.{c}" for c in carry_cols], "p.sim_a", "p.sim_b")
        .distinct()
    )


def simhash_near_pairs(
    documents: DataFrame,
    n: int = 3,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ r via chunk-match
    candidates (pigeonhole: ≤3 differing bits over 4 chunks ⇒ at
    least one 15-bit chunk identical) → (doc_a, doc_b, hamming).

    ``bucket_cap=None`` (the ``dedup_simhash_pairs`` gate) keeps the
    uncapped banding its oracle mirrors. The ``dedup_simhash_capped``
    gate passes a cap: a chunk value shared by g docs yields C(g,2)
    candidate pairs — quadratic by SEMANTICS — and a replication-heavy
    corpus (boilerplate pages, near-empty docs whose simhash collapses
    to a handful of values) needs overfull buckets DROPPED to bound
    the combo stage, exactly like DF_CAP for shingles and the media
    near-dup cap. The oracle mirrors the 2..cap keep-rule, so the
    capped output stays hash-verifiable."""
    sig = simhash_signatures(documents, n)
    cand = simhash_chunk_pairs(sig, "doc_id", bucket_cap=bucket_cap)
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "sim_a", "sim_b"
        )
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_near_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force; LSH path for
    scale) → (vec_a, vec_b, cosine_sim)."""
    a = embeddings.alias("a")
    b = embeddings.alias("b")
    pairs = a.crossJoin(b).where(F.col("a.vec_id") < F.col("b.vec_id"))
    sim = F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def minhash_jaccard_estimates(documents: DataFrame, n: int = 3) -> DataFrame:
    """LSH candidate pairs with their MinHash Jaccard ESTIMATE
    (fraction of agreeing signature components) → (doc_a, doc_b,
    est_jaccard). The scale pattern: estimate on k-byte signatures
    first, exact-verify only pairs above threshold."""
    # ONE signature table persisted for its three consumers (both
    # join sides + candidate generation) — unpersisted, each branch
    # re-runs the whole shingle→md5→min-aggregate pipeline
    sig = minhash_signatures(documents, n).persist()
    a = sig.alias("a")
    b = sig.alias("b")
    cand = minhash_lsh_candidates(documents, n, sig=sig)
    agree = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    return (
        cand.join(a, cand["doc_a"] == F.col("a.doc_id"))
        .join(b, cand["doc_b"] == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(MINHASH_K), 6).alias("est_jaccard"),
        )
    )


def dedup_clusters(documents: DataFrame, n: int = 3) -> DataFrame:
    """Cluster-level near-dup assignment: connected components over
    the MinHash-LSH candidate pair graph → (doc_id, cluster_id) for
    every doc in at least one pair, cluster_id = min reachable
    doc_id. Pair-level dedup misses transitivity (A~B, B~C keeps both
    A and C); clustering is the shape a 100 TB dedup actually ships.
    Reuses the KG HashMin propagation (per-round: one shuffle,
    lineage cut) over the bounded LSH candidate graph — never N²."""
    from ..kg.traverse import connected_components

    pairs = minhash_lsh_candidates(documents, n).select(
        F.col("doc_a").alias("source"), F.col("doc_b").alias("target")
    )
    cc = connected_components(pairs)
    return cc.select(
        F.col("name").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def cluster_canonical_docs(documents: DataFrame, n: int = 3) -> DataFrame:
    """Corpus after cluster dedup: drop every non-canonical cluster
    member (doc_id ≠ its cluster's min id); singletons pass through.
    The drop set is tiny (near-dup members only) → broadcast
    anti-join, no full-corpus shuffle."""
    from pyspark.sql.functions import broadcast

    members = dedup_clusters(documents, n)
    drops = members.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return documents.join(broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def benchmark_contamination(
    documents: DataFrame,
    bench_mod: int = 20,
    n: int = 3,
    tau: float = 0.5,
) -> DataFrame:
    """Training-data decontamination: corpus docs containing ≥ ``tau``
    of a benchmark doc's n-gram shingles → (doc_id, bench_id,
    inter_size, bench_size, containment).

    Containment (|C∩B| / |B|) — not Jaccard — is the right asymmetry:
    a long training doc that swallows a short benchmark item whole has
    low Jaccard but containment 1.0 (the GPT-style n-gram-overlap
    decontamination check). The benchmark here is carved from the
    corpus deterministically (doc_id % bench_mod == 0) so the gate is
    self-contained; in production it's any small eval table.

    Scale: the benchmark shingle table is broadcast (eval sets are
    MBs when the corpus is TBs), so the corpus scan joins map-side
    with NO shuffle of the big table; the only shuffle is the
    (doc, bench) pair rollup, whose size is bounded by matches, not
    by the corpus. No DF cap: decontamination must not ignore
    common shingles — the benchmark side being small already bounds
    the explosion.
    """
    sh = _exploded_shingles(documents, n)
    is_bench = F.col("doc_id") % bench_mod == 0
    bench = sh.where(is_bench).withColumnRenamed("doc_id", "bench_id")
    corpus = sh.where(~is_bench)
    bench_sizes = bench.groupBy("bench_id").agg(
        F.count("*").alias("bench_size")
    )
    inter = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("inter_size"))
    )
    return (
        inter.join(F.broadcast(bench_sizes), "bench_id")
        .withColumn(
            "containment",
            F.round(F.col("inter_size") / F.col("bench_size"), 6),
        )
        .where(F.col("containment") >= tau)
        .select("doc_id", "bench_id", "inter_size", "bench_size", "containment")
    )


def simhash_sql(text_col: str, n: int = 3) -> Column:
    """Per-ROW SimHash of a named text column — the same
    bit-majority over 60-bit shingle hashes as
    :func:`simhash_signatures`, but as ONE pure column expression
    (a single ``aggregate`` pass carrying a 60-element vote
    accumulator, folded to the bit-packed BIGINT).

    Stateless, so it runs where the groupBy formulation can't: inside
    a streaming ``select`` (``streaming.pipeline.neardup_stream``) or
    any per-row context, with zero shuffles. Differences from the
    batch operator, by design: no corpus DF cap (a row can't see
    corpus frequencies), and shingle-less docs get simhash 0 instead
    of no row. Built via ``F.expr`` because SQL ``shiftright``
    accepts a column shift amount (the Python builtin takes only a
    literal)."""
    w = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    shingles = (
        f"CASE WHEN size({w}) >= {n} THEN array_distinct("
        f"transform(sequence(1, size({w}) - {n - 1}), i -> "
        + " || ' ' || ".join(f"element_at({w}, i + {j})" for j in range(n))
        + ")) ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    hashes = (
        f"transform({shingles}, s -> "
        f"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
    )
    votes = (
        f"aggregate({hashes}, "
        f"array_repeat(CAST(0 AS BIGINT), {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
        f"(a, j) -> a + (shiftright(h, CAST(j AS INT)) & CAST(1 AS BIGINT))"
        f" * 2 - 1))"
    )
    packed = (
        f"aggregate(zip_with({votes}, sequence(0, {SIMHASH_BITS - 1}), "
        f"(v, j) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)), "
        f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    return F.expr(packed)


def dedup_incremental(documents: DataFrame, prefix_words: int = 0) -> DataFrame:
    """Cross-corpus (incremental) dedup: drop incoming docs whose
    fingerprint already exists in the reference corpus, keeping the
    earliest incoming copy of each new fingerprint. The gate splits
    the documents table by doc_id parity (even = already-ingested
    corpus, odd = incoming batch) — the shape of a daily
    crawl-refresh dedup against yesterday's corpus.

    ``prefix_words > 0`` fingerprints only the first k word tokens
    (lead-prefix dedup, the Dolma/CCNet trick for near-identical
    syndicated pages whose tails differ); 0 fingerprints the whole
    normalized text (exact mode). The gate runs prefix mode because
    this corpus has no full-text duplicates — the anti-join must
    actually drop rows to be a meaningful check.

    Plan: both sides reduce to (fingerprint) before joining — the
    reference side is a distinct digest set (one partial-agg
    shuffle), the incoming side a min-doc_id-per-digest rollup, then
    a digest-keyed left-anti join. Shuffle volume is O(distinct
    digests), never O(corpus); at 100 TB the reference digests are a
    bucketed table maintained across runs, so only the (small)
    incoming batch shuffles per run."""
    if prefix_words > 0:
        toks = words(F.col("text"))
        fp = F.md5(F.concat_ws(" ", F.slice(toks, 1, prefix_words)))
    else:
        fp = F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        )
    base = documents.select("doc_id", fp.alias("fp"))
    existing = base.where(F.col("doc_id") % 2 == 0).select("fp").distinct()
    incoming = (
        base.where(F.col("doc_id") % 2 == 1)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_batch_copies"))
    )
    return incoming.join(existing, "fp", "left_anti").select(
        "fp", "keep_id", "n_batch_copies"
    )


SUBSTR_WIDTH = 40  # window chars — long enough that collisions mean real copying
SUBSTR_STRIDE = 10  # overlap factor 4: a copied span ≥ width+stride always shares ≥2 windows


def substring_fingerprints(
    documents: DataFrame, width: int = SUBSTR_WIDTH, stride: int = SUBSTR_STRIDE
) -> DataFrame:
    """(doc_id, h) — md5 fingerprints of the distinct fixed-width
    character windows of each document (starts 0, stride, 2·stride …).

    Substring-level dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better") catches *copied spans* inside
    otherwise-distinct documents — boilerplate, quoted passages,
    syndicated fragments — which document-level shingle Jaccard
    dilutes away. Windows are hashed and de-duplicated **in-row**
    (``transform`` + ``array_distinct`` before the explode), so
    within-doc repetition never inflates the shuffle and there is no
    extra distinct shuffle — the explode output goes straight to the
    postings groupBy.

    Window keys default to conv-folded 60-bit BIGINTs (md5_hash60) —
    flipped from hex strings by the r08 300× A/B (VERDICT r07 item
    6, OPTIMIZATION_r09.md): the r07 30× A/B had kept hex
    (5.5s vs 6.3s) because shuffle still fit page cache; at the
    300×-equivalent SPILL point the 8-byte key vs the ~36-byte hex
    string is disk bandwidth, measured 269.3s → 173.2s (1.56×,
    both run orders averaged — the artifact's decision basis;
    forward order alone 286.7s → 166.3s, reverse lz4 251.9s →
    180.0s) with shuffle 2.05 → 0.86 GB on lz4.
    A zstd-codec A/B in the same harness stays off: it
    rescues the wide key (198.6s) but is a wash once keys are narrow
    (167.3s vs 166.3s). Keys are join-internal — query outputs (and
    so the oracle gate) agree across key modes absent 60-bit
    collisions, the module's standing budget.
    SPARK_GRAFT_FAST_HASH=1 swaps the window hash for xxhash64
    instead (the 100 TB CPU lever — the r07 rehearsal's first
    substring fasthash column measured NO speedup because this
    function ignored the flag).
    """
    from .tokenize import fast_hash_enabled, md5_hash60

    win_hash = F.xxhash64 if fast_hash_enabled() else md5_hash60
    starts = F.sequence(F.lit(0), F.length("text") - width, F.lit(stride))
    hashes = F.array_distinct(
        F.transform(
            starts,
            lambda s: win_hash(
                F.col("text").substr(s + F.lit(1), F.lit(width))
            ),
        )
    )
    # fan_out + explode_outer: see winnowing_fingerprints — the array
    # is provably non-empty (length ≥ width ⇒ ≥ 1 window), and plain
    # explode's inferred size-filter would re-evaluate the dense md5
    # window hashing inside the single-task scan stage.
    return fan_out(documents.where(F.length("text") >= width)).select(
        "doc_id", F.explode_outer(hashes).alias("h")
    )


def substring_dup_pairs(
    documents: DataFrame,
    width: int = SUBSTR_WIDTH,
    stride: int = SUBSTR_STRIDE,
    cap: int = DF_CAP,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` character windows →
    (doc_a, doc_b, shared_windows), doc_a < doc_b.

    The inverted-index postings plan of :func:`ngram_jaccard_pairs`
    applied to window fingerprints: ONE shuffle on the window hash
    builds each posting list, ubiquitous windows (boilerplate in >
    ``cap`` docs) are dropped by the size filter on the aggregated
    row, and pairs are in-row explosions of each list — output
    bounded by Σ C(|postings|, 2) with |postings| ≤ cap, never N².
    ``min_shared ≥ 2`` plus stride-overlap means a single 40-char
    coincidence is not enough: only genuinely copied spans survive.
    """
    wnd = substring_fingerprints(documents, width, stride)
    postings = (
        wnd.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= cap))
    )
    combos = pair_combos("ids")
    return (
        postings.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("shared_windows"))
        .where(F.col("shared_windows") >= min_shared)
    )


def _span_key(a: Column, b: Column) -> Column:
    """Combine two adjacent fingerprint columns into ONE span-witness
    key — a 60-bit BIGINT (md5_hash60 over the ':'-joined string
    renderings, identical in DuckDB as
    ('0x'||substr(md5(a||':'||b),1,15))::BIGINT). BIGINT, not the hex
    string: the exploded span keys ARE the postings shuffle, and the
    first (hex-string) version shipped 36-byte keys — the r08 sweep
    measured the winnowing star 3× over its r07 wall before this
    narrowed them to 8 bytes. 60 bits is the module's standing
    collision budget (winnowing fingerprints themselves are 32-bit by
    design); SPARK_GRAFT_FAST_HASH=1 hashes the pair JVM-native."""
    from .tokenize import fast_hash_enabled, md5_hash60

    if fast_hash_enabled():
        return F.xxhash64(a, b)
    return md5_hash60(
        F.concat(a.cast("string"), F.lit(":"), b.cast("string"))
    )


def _adjacent_bigrams(arr: Column) -> Column:
    """Distinct span keys over ADJACENT element pairs of ``arr`` (in
    array order): zip_with of the two length−1 slices. Empty when the
    array has < 2 elements. Single-arg on purpose — it is passed
    straight to F.transform, which would feed the element index into
    any second parameter."""
    n1 = F.greatest(F.lit(0), F.size(arr) - 1)
    return F.array_distinct(
        F.zip_with(F.slice(arr, 1, n1), F.slice(arr, 2, n1), _span_key)
    )


def substring_span_fingerprints(
    documents: DataFrame, width: int = SUBSTR_WIDTH, stride: int = SUBSTR_STRIDE
) -> DataFrame:
    """(doc_id, h) — SPAN witnesses: md5 keys over each ADJACENT pair
    of window hashes (windows at starts 0, stride, 2·stride …, in
    position order, NOT deduplicated first). Two docs share a span
    key iff they share two consecutive stride-aligned windows — i.e.
    ≥ width+stride contiguous copied characters, the exact
    copied-span evidence :func:`substring_dup_pairs` encodes as
    ``min_shared=2`` counting. Packing the evidence INTO THE KEY is
    what lets :func:`substring_dup_star` threshold at 1 witness,
    where the star/clique component equivalence is exact (see there).

    Docs need ≥ 2 windows (length ≥ width+stride) to produce a span;
    shorter docs can never carry two-window evidence in the clique
    twin either — exact/prefix dedup owns that regime.

    Plan: one in-row projection (window hash array → zip_with bigram
    → array_distinct), fan_out + explode_outer exactly as
    :func:`substring_fingerprints` (the array is provably non-empty
    under the length gate, and plain explode's inferred size-filter
    would re-evaluate the dense md5 hashing inside the scan stage)."""
    from .tokenize import fast_hash_enabled

    win_hash = F.xxhash64 if fast_hash_enabled() else F.md5
    starts = F.sequence(F.lit(0), F.length("text") - width, F.lit(stride))
    hashes = F.transform(
        starts,
        lambda s: win_hash(F.col("text").substr(s + F.lit(1), F.lit(width))),
    )
    # bind the window-hash array as a lambda variable (single-element
    # transform) so the slices/zip_with reference ONE evaluation —
    # projection collapse would otherwise inline the md5 array into
    # each of the three uses (the winnowing O(n²) lesson)
    spans = F.transform(F.array(hashes), _adjacent_bigrams)[0]
    return fan_out(
        documents.where(F.length("text") >= width + stride)
    ).select("doc_id", F.explode_outer(spans).alias("h"))


def substring_dup_star(
    documents: DataFrame,
    width: int = SUBSTR_WIDTH,
    stride: int = SUBSTR_STRIDE,
    cap: int = DF_CAP,
    min_shared: int = 1,
) -> DataFrame:
    """Output-bounded star twin of :func:`substring_dup_pairs` →
    (doc_keep, doc_dup, shared_spans), doc_keep < doc_dup: each SPAN
    witness (adjacent-window bigram key,
    :func:`substring_span_fingerprints`) pairs its posting list's
    members with the list's MIN doc_id only (a star, not a clique).

    WHY a star: on a heavily-duplicated corpus the clique emission is
    OUTPUT-quadratic — a span copied into w docs emits C(w,2) pairs
    per key (the rehearsal measured dedup_substring's output exponent
    at 2.045 on the copies corpus). Keep-lists need only CONNECTED
    COMPONENTS of the pair graph, and a per-key star ({a,b,c} →
    (a,b),(a,c)) has the clique's transitive closure — Σ|postings|
    output instead of Σ C(|postings|,2).

    WHY span witnesses instead of raw windows: the first version
    counted raw shared windows and filtered ``>= 2`` AFTER the star
    reduction — but those counts are conditioned on doc_keep being
    each window's minimum, so a pair's evidence fragments across
    keeps (postings {2,3} + {1,2,3}: clique pair (2,3) counts 2,
    every star edge counts 1 → the {2,3} duplicate group silently
    vanished at the default threshold). Span witnesses make the
    evidence rule KEEP-INDEPENDENT: one witness already encodes two
    consecutive shared windows (≥ width+stride contiguous copied
    chars), so the registered default is ``min_shared=1`` — and at
    threshold 1 no post-star filtering happens, so the star's
    components provably equal the clique-over-spans components on
    EVERY input (per-key stars and cliques have identical transitive
    closure; union over keys preserves it). Deliberate, documented
    divergence from the clique twin: two docs sharing ≥2 scattered
    NON-adjacent windows (two independent 40-char coincidences, no
    contiguous copied span) pair in :func:`substring_dup_pairs` but
    not here — the star targets copied-span dedup, where the clique's
    own ``min_shared=2`` + stride-overlap docstring argument lives.
    ``shared_spans`` counts this keep's witnesses (a lower-bound
    diagnostic, not the symmetric intersection size); raising
    ``min_shared`` above 1 reintroduces the keep-conditioning and
    voids the component guarantee — diagnostic use only.

    Plan: identical single shuffle to the clique twin (postings
    groupBy on the span key); the pair explode is |ids|−1 wide
    instead of C(|ids|,2)."""
    wnd = substring_span_fingerprints(documents, width, stride)
    postings = (
        wnd.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= cap))
    )
    return (
        postings.select(
            F.element_at("ids", 1).alias("doc_keep"),
            F.explode(F.slice("ids", 2, cap)).alias("doc_dup"),
        )
        .groupBy("doc_keep", "doc_dup")
        .agg(F.count("*").cast("bigint").alias("shared_spans"))
        .where(F.col("shared_spans") >= min_shared)
    )


def substring_dup_coverage(
    documents: DataFrame,
    width: int = SUBSTR_WIDTH,
    stride: int = SUBSTR_STRIDE,
) -> DataFrame:
    """Per-document duplicated-span coverage → (doc_id, n_windows,
    dup_windows, dup_frac): how much of each doc's window set also
    appears in other docs (capped postings, as in
    :func:`substring_dup_pairs`). The curation signal: docs with high
    ``dup_frac`` are mostly boilerplate/copied text and get dropped
    or down-weighted in training-data pipelines.

    Plan: the window table shuffles once on the hash to flag
    cross-doc windows (count-over-window, no second scan), then once
    on doc_id for the rollup — both partial-aggregated. Docs shorter
    than ``width`` have no windows and are excluded (exact dedup
    owns that regime).
    """
    wnd = substring_fingerprints(documents, width, stride)
    # windows are already distinct per doc, so a plain count over the
    # hash partition IS the doc frequency — no collect_set needed.
    # NO upper cap here: the DF cap exists to bound the PAIR explosion
    # in substring_dup_pairs, but this coverage metric never forms
    # pairs — capping would mark the most ubiquitous boilerplate
    # (cookie banners in thousands of docs) as NOT duplicated,
    # inverting the signal for the exact docs it should flag
    n_docs = F.count("*").over(Window.partitionBy("h"))
    flagged = wnd.withColumn("is_dup", (n_docs >= 2).cast("int"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("is_dup").alias("dup_windows"),
        F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_frac"),
    )


def lsh_eval(
    documents: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Candidate-quality report for the banded-LSH dedup path → ONE
    row (threshold, n_exact, n_cand, n_common, recall, precision):
    how many of the TRUE near-dup pairs (exact n-gram Jaccard ≥
    threshold over the DF-capped index) the LSH candidate generator
    surfaces (recall), and what fraction of its candidates are true
    pairs (precision — the rescore-cost driver).

    This is the tuning harness for (bands, rows-per-band): the
    theoretical collision curve 1-(1-j^r)^b is only a model; this
    measures the real corpus. Deterministic end-to-end (both sides
    are exact set algebra on md5-derived integers), so unlike most
    ANN evals it is FULLY oracle-checkable.

    Plan: the two pair sets full-outer-join on the pair key, then one
    global rollup — pair streams are already DF/band-bounded, so the
    eval costs roughly one run of each generator."""
    exact = ngram_jaccard_pairs(documents, n, threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("in_e")
    )
    cand = minhash_lsh_candidates(documents, n).select(
        "doc_a", "doc_b", F.lit(1).alias("in_c")
    )
    j = exact.join(cand, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("in_e"), F.lit(0)).cast("bigint").alias("n_exact"),
        F.coalesce(F.sum("in_c"), F.lit(0)).cast("bigint").alias("n_cand"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_e").isNotNull() & F.col("in_c").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_common"),
    )
    return agg.select(
        F.lit(float(threshold)).alias("threshold"),
        "n_exact",
        "n_cand",
        "n_common",
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_common") / F.col("n_exact"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0,
            F.round(F.col("n_common") / F.col("n_cand"), 6),
        ).alias("precision"),
    )


def containment_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT →
    (doc_a, doc_b, inter_size, size_a, size_b, containment) where
    containment = |A∩B| / min(|A|, |B|).

    Catches what Jaccard structurally cannot: a short doc embedded
    verbatim in a much longer one (quote farms, scraped excerpts,
    boilerplate-wrapped copies) scores near 1.0 here but near
    |short|/|long| ≈ 0 on Jaccard. Same bounded postings plan as
    ``ngram_jaccard_pairs`` — one shuffle, DF-capped, in-row pair
    combos — only the final score differs."""
    sh = doc_shingles(documents, n)  # (doc_id, shingle), DF-capped
    postings = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # no persist: unlike ngram_jaccard_pairs, sizes derive from the
    # exploded shingles (not the postings), so postings has exactly
    # one consumer and caching it would only burn executor storage
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairs = (
        postings.select(F.explode(pair_combos("ids")).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("inter_size"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "containment",
            F.round(
                F.col("inter_size") / F.least("size_a", "size_b"), 6
            ),
        )
        .where(F.col("containment") >= threshold)
        .select(
            "doc_a", "doc_b", "inter_size", "size_a", "size_b", "containment"
        )
    )


def shingle_df_profile(
    documents: DataFrame, n: int = 3, cap: int = DF_CAP
) -> DataFrame:
    """Shingle document-frequency distribution → (df_bucket,
    n_shingles, n_capped_bucket): log2-bucketed histogram of how many
    docs each distinct shingle appears in, plus how many shingles in
    the bucket exceed the DF cap — the tuning readout for DF_CAP
    itself (a cap that drops 40% of shingles destroys recall; one
    that drops 0.01% isn't bounding anything).

    One explode + one shingle rollup (the same shuffle the dedup
    index pays), then a tiny histogram agg."""
    sh = _exploded_shingles(documents, n)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # SQL expr: PySpark's shiftleft() only takes a literal bit count
    bucket = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), "
        "CAST(floor(log2(df)) AS INT)) AS BIGINT)"
    )
    return (
        df.groupBy(bucket.alias("df_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") > cap).cast("bigint")).alias("n_capped_bucket"),
        )
    )


def source_overlap(documents: DataFrame, n: int = 3) -> DataFrame:
    """Cross-source duplication census → (source_a, source_b,
    n_pairs): which corpus sources copy from each other, computed by
    attributing every LSH candidate pair to its (source, source)
    bucket — the provenance signal that decides whether a source is
    additive or a mirror of one you already have.

    Reuses the banded-LSH candidate stream (bounded, never N²); the
    doc→source map is corpus-cardinality but only two slim columns,
    broadcast onto the small pair stream. Sources are canonicalized
    (a ≤ b) so mirrored pairs aggregate together."""
    cand = minhash_lsh_candidates(documents, n)
    src = documents.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")
    )
    return (
        cand.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def dedup_inflation(documents: DataFrame) -> DataFrame:
    """Token-weighted duplication report → ONE row (total_docs,
    total_tokens, kept_docs, kept_tokens, inflation, dup_token_frac):
    how much the corpus shrinks under exact dedup, measured in
    TOKENS — the unit that prices LLM training. inflation =
    total/kept tokens (1.0 = clean corpus); dup_token_frac is the
    share of training tokens that would be literal repeats.

    Exact-group members share identical text (hence identical token
    counts), so kept tokens = one member's count per group — the
    whole report is one digest rollup + a 1-row aggregate, the same
    single shuffle exact dedup itself costs."""
    toks = documents.select(
        F.md5("text").alias("h"),
        F.size(words(F.col("text"))).cast("bigint").alias("tok"),
    )
    per_group = toks.groupBy("h").agg(
        F.count("*").alias("n"),
        F.sum("tok").alias("gtok"),
        F.max("tok").alias("ktok"),
    )
    return per_group.agg(
        F.sum("n").cast("bigint").alias("total_docs"),
        F.sum("gtok").cast("bigint").alias("total_tokens"),
        F.count("*").cast("bigint").alias("kept_docs"),
        F.sum("ktok").cast("bigint").alias("kept_tokens"),
        F.round(F.sum("gtok") / F.sum("ktok"), 6).alias("inflation"),
        F.round(
            (F.sum("gtok") - F.sum("ktok")) / F.sum("gtok"), 6
        ).alias("dup_token_frac"),
    )


def cluster_size_histogram(documents: DataFrame, n: int = 3) -> DataFrame:
    """Near-dup cluster-size distribution → (cluster_size,
    n_clusters): summarizes the transitive-cluster structure
    (many 2-clusters = scattered near-copies; a giant component =
    template family or a broken threshold). Two tiny rollups on top
    of ``dedup_clusters`` — no new corpus work."""
    members = dedup_clusters(documents, n)
    sizes = members.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters")
    )


WINNOW_K = 25  # char-gram length — 25 chars of agreement means real copying
WINNOW_W = 8  # winnowing window: guarantees matches ≥ W+K-1 chars share a fingerprint
WINNOW_POS_BITS = 25  # position bits in the packed (h,p) key → 33M-char doc bound
WINNOW_POS_SCALE = 1 << WINNOW_POS_BITS


def winnowing_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, h) — winnowing-selected fingerprints (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", the MOSS algorithm): hash EVERY k-char gram, then
    keep only each w-window's minimum (rightmost on ties). Guarantees:
    any shared substring of ≥ w+k-1 chars yields a shared fingerprint,
    while storing ~2/(w+1) of the dense hash set — position-robust
    where :func:`substring_fingerprints`'s strided windows break under
    single-char insertions (every downstream window shifts; winnowing
    re-synchronizes immediately).

    The whole selection is IN-ROW (transform/slice/aggregate over the
    gram array — zero shuffle, codegen'd); only selected fingerprints
    explode into the postings join. md5-derived 32-bit hashes keep the
    oracle bit-identical; SPARK_GRAFT_FAST_HASH=1 swaps in xxhash64
    for the 100 TB CPU bill (tokenize.md5_hash32 honors the flag —
    the gram hash is this op's dominant cost).
    """
    cnt = F.length("text") - k + 1
    # (h, p) ENCODED INTO ONE BIGINT: key = h·S + (S−1−p). Minimizing
    # the key minimizes h and breaks ties toward the LARGER p
    # (rightmost-on-ties, the winnowing rule), so each window's
    # argmin is a flat array_min over longs instead of a struct
    # CASE-fold — the selection pass is this op's non-hash cost and
    # the flat compare took the sf0.1 wall from ~10s to well under
    # the r06 ≤8s bar. S = 2²⁵ bounds doc length at 33M chars
    # (h < 2³² keeps h·S < 2⁵⁷, exact in BIGINT); the oracle uses the
    # same constant.
    S = WINNOW_POS_SCALE
    hps = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda p: md5_hash32(F.col("text").substr(p, F.lit(k))) * F.lit(S)
        + (F.lit(S - 1) - p),
    )

    def winnow(arr):
        m = F.greatest(F.lit(1), F.size(arr) - w + 1)
        # decode h = key >> 25: exact integer shift — a double
        # division would lose bits past 2⁵³ on these 2⁵⁷-range keys
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m),
                lambda j: F.shiftright(
                    F.array_min(F.slice(arr, j, w)), WINNOW_POS_BITS
                ),
            )
        )

    # Bind the dense gram array as a LAMBDA VARIABLE (single-element
    # transform) so it is evaluated ONCE per row. Referencing it as a
    # projected column instead lets Catalyst's projection collapse
    # inline the whole md5 array expression into every one of the
    # ~n window lambdas — an O(n²) md5 blowup measured at 114s vs
    # ~2s for 500 docs at sf0.01.
    fps = F.transform(F.array(hps), winnow)[0]
    sel = fan_out(documents.where(F.length("text") >= k)).select(
        "doc_id", fps.alias("fps")
    )
    # explode_OUTER, deliberately: plain explode makes the optimizer
    # infer `size(fps) > 0 AND isnotnull(fps)` and push it through the
    # projection BELOW the fan-out exchange — re-evaluating the entire
    # md5+winnow expression twice per row inside the single-task scan
    # stage (measured: the whole 10s wall was this). fps is never
    # null/empty here (length ≥ k ⇒ ≥ 1 window), so outer semantics
    # are identical and the inference rule can't fire.
    return sel.select("doc_id", F.explode_outer("fps").alias("h"))


def winnowing_pairs(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    cap: int = DF_CAP,
    min_shared: int = 3,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints
    → (doc_a, doc_b, shared_fps), doc_a < doc_b: the MOSS
    copy-detection join. Same bounded inverted-index plan as
    :func:`substring_dup_pairs` (one shuffle on the fingerprint,
    postings capped at ``cap``, in-row pair combos — never N²), over
    the insertion-robust fingerprint set."""
    fp = winnowing_fingerprints(documents, k, w)
    postings = (
        fp.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= cap))
    )
    combos = pair_combos("ids")
    return (
        postings.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def winnowing_span_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, h) — winnowing SPAN witnesses: md5 keys over each
    ADJACENT pair of run-collapsed selected fingerprints (the
    positional per-window minima of :func:`winnowing_fingerprints`,
    consecutive repeats collapsed, then bigrams in selection order).
    Two docs share a span key iff their winnowing selections agree on
    two consecutive distinct fingerprints — by the winnowing
    self-containedness guarantee, an identical region of ≥ ~2(w+k)
    chars reproduces the interior selection sequence exactly, so
    copied spans yield shared bigrams while isolated single-
    fingerprint coincidences (one k-gram collision) never do. The
    evidence lives IN THE KEY, so :func:`winnowing_star` thresholds
    at 1 witness, where star ≡ clique on components (see
    :func:`substring_dup_star` for the conditioning bug this fixes).

    Plan: the same one-projection in-row pipeline as
    :func:`winnowing_fingerprints` — dense gram hashes → per-window
    minima → run-collapse (filter vs previous element) → zip_with
    bigrams — every intermediate bound as a lambda variable
    (single-element transform) so it is evaluated ONCE per row (the
    measured O(n²) projection-collapse blowup). Docs whose collapsed
    selection has < 2 fingerprints produce an empty array →
    explode_outer null → filtered (the isNotNull filter sits ABOVE
    the generate, so the optimizer cannot rewrite it into a
    size-filter below the fan_out exchange)."""
    S = WINNOW_POS_SCALE
    cnt = F.length("text") - k + 1
    hps = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda p: md5_hash32(F.col("text").substr(p, F.lit(k))) * F.lit(S)
        + (F.lit(S - 1) - p),
    )

    def mins_of(arr):
        m = F.greatest(F.lit(1), F.size(arr) - w + 1)
        return F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.shiftright(
                F.array_min(F.slice(arr, j, w)), WINNOW_POS_BITS
            ),
        )

    def collapse(ms):
        # keep an element where it differs from its predecessor; F.get is
        # 0-based and null-safe, so index −1 (first element) compares
        # against NULL and <=> returns false → kept
        return F.filter(ms, lambda x, i: ~x.eqNullSafe(F.get(ms, i - 1)))

    spans = F.transform(
        F.array(hps),
        lambda arr: F.transform(
            F.array(mins_of(arr)),
            lambda ms: F.transform(
                F.array(collapse(ms)), _adjacent_bigrams
            )[0],
        )[0],
    )[0]
    sel = fan_out(documents.where(F.length("text") >= k)).select(
        "doc_id", spans.alias("sp")
    )
    return sel.select(
        "doc_id", F.explode_outer("sp").alias("h")
    ).where(F.col("h").isNotNull())


def winnowing_star(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    cap: int = DF_CAP,
    min_shared: int = 1,
) -> DataFrame:
    """Output-bounded star twin of :func:`winnowing_pairs` →
    (doc_keep, doc_dup, shared_spans): per-key stars instead of
    cliques over the winnowing SPAN-witness set
    (:func:`winnowing_span_fingerprints`) — exactly the
    :func:`substring_dup_star` reduction, including its evidence-rule
    fix: one span witness already encodes two consecutive shared
    winnowing fingerprints, so the registered default ``min_shared=1``
    applies NO post-star thresholding and the star's connected
    components provably equal the clique-over-spans components on
    every input (the first version's raw-fingerprint counts were
    conditioned on doc_keep being each posting's minimum, which
    fragmented a pair's evidence across keeps and could silently drop
    duplicate groups at the default threshold). Deliberate divergence
    from :func:`winnowing_pairs`: docs sharing ≥3 SCATTERED
    fingerprints with no two consecutive (independent k-gram
    coincidences, not a copied region) pair there but not here. The
    rehearsal measured the clique twin's output exponent at 2.04 on
    the copies corpus — this twin feeds the same connected-component
    keep-list machinery at Σ|postings| output."""
    fp = winnowing_span_fingerprints(documents, k, w)
    postings = (
        fp.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= cap))
    )
    return (
        postings.select(
            F.element_at("ids", 1).alias("doc_keep"),
            F.explode(F.slice("ids", 2, cap)).alias("doc_dup"),
        )
        .groupBy("doc_keep", "doc_dup")
        .agg(F.count("*").cast("bigint").alias("shared_spans"))
        .where(F.col("shared_spans") >= min_shared)
    )


def _star_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) — connected components over a star pair
    stream (doc_keep, doc_dup): the 32d recipe (HashMin min-label
    propagation, one shuffle per round, lineage cut) applied to the
    output-bounded star graph. cluster_id = min reachable doc_id."""
    from ..kg.traverse import connected_components

    edges = pairs.select(
        F.col("doc_keep").alias("source"), F.col("doc_dup").alias("target")
    )
    cc = connected_components(edges)
    return cc.select(
        F.col("name").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def _star_keep(documents: DataFrame, members: DataFrame) -> DataFrame:
    """Corpus after star-cluster dedup: drop every non-canonical
    member (doc_id ≠ its cluster's min); singletons pass through. The
    drop set is bounded by duplicated docs only → broadcast anti-join,
    the full corpus never shuffles (the 32e recipe)."""
    from pyspark.sql.functions import broadcast

    drops = members.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return documents.join(broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def substring_dup_clusters(
    documents: DataFrame,
    width: int = SUBSTR_WIDTH,
    stride: int = SUBSTR_STRIDE,
    cap: int = DF_CAP,
) -> DataFrame:
    """Copied-span duplicate groups → (doc_id, cluster_id): connected
    components over the :func:`substring_dup_star` pair graph. THE
    consumer the star twin exists for: the star emits Σ|postings|
    rows (rehearsal: 5.7s vs the clique's 48.7s at 100× on the copies
    corpus) and, at the registered min_shared=1 span-witness
    semantics, has provably the clique-over-spans components — so
    this keep-list input is exact while the pair stream stays linear
    in corpus size on heavily-duplicated corpora."""
    pairs = substring_dup_star(documents, width, stride, cap)
    return _star_clusters(pairs)


def substring_keep_docs(
    documents: DataFrame,
    width: int = SUBSTR_WIDTH,
    stride: int = SUBSTR_STRIDE,
    cap: int = DF_CAP,
) -> DataFrame:
    """Corpus after substring-span cluster dedup → (doc_id, lang,
    source, n_chars): drop non-canonical members of every
    :func:`substring_dup_clusters` group. End-to-end this is the
    100 TB copied-span dedup ship shape: star pair stream (linear
    output) → HashMin components → broadcast anti-join — no stage is
    quadratic in the duplication factor."""
    members = substring_dup_clusters(documents, width, stride, cap)
    return _star_keep(documents, members)


def winnowing_dup_clusters(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    cap: int = DF_CAP,
) -> DataFrame:
    """Winnowing (MOSS) duplicate groups → (doc_id, cluster_id):
    connected components over the :func:`winnowing_star` span-witness
    pair graph — the insertion-robust analog of
    :func:`substring_dup_clusters` (rehearsal: star 43.0s vs clique
    205.0s at 100×)."""
    pairs = winnowing_star(documents, k, w, cap)
    return _star_clusters(pairs)


def winnowing_keep_docs(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    cap: int = DF_CAP,
) -> DataFrame:
    """Corpus after winnowing cluster dedup → (doc_id, lang, source,
    n_chars): the :func:`substring_keep_docs` recipe over the
    position-robust fingerprint set."""
    members = winnowing_dup_clusters(documents, k, w, cap)
    return _star_keep(documents, members)


BLOOM_BITS = 4096  # filter size m
BLOOM_HASHES = 3  # hash count j
BLOOM_WORD = 60  # bits per BIGINT word — masks stay positive (simhash discipline)


def lead_prefix_fp(prefix_words: int = 6):
    """md5 fingerprint of the first ``prefix_words`` word tokens of
    ``text`` — the lead-prefix dedup key shared by dedup_incremental,
    the Bloom audit, and the streaming filter."""
    toks = words(F.col("text"))
    return F.md5(F.concat_ws(" ", F.slice(toks, 1, prefix_words)))


def bloom_bit_words(
    fps: DataFrame, m_bits: int = BLOOM_BITS, j: int = BLOOM_HASHES
) -> DataFrame:
    """Bloom filter of an ``fp``-column DataFrame → (word_idx, mask)
    bit-words. THE one definition of the filter layout (seed format,
    position hash, 60-bit word packing), shared by the batch audit
    (:func:`bloom_incremental`), the streaming twin
    (streaming.pipeline.bloom_stream), and the equality test — so the
    "streamed filter is provably identical to batch" claim can never
    drift out from under its copies. Bit-words merge by OR."""
    seeds = F.explode(F.sequence(F.lit(0), F.lit(j - 1))).alias("seed")
    pos = md5_hash32(F.concat_ws(":", F.col("seed"), F.col("fp"))) % m_bits
    return (
        fps.select("fp", seeds)
        .select(
            F.floor(pos / BLOOM_WORD).cast("bigint").alias("word_idx"),
            (pos % BLOOM_WORD).cast("int").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).alias("mask")
        )
    )


def bloom_incremental(
    documents: DataFrame,
    prefix_words: int = 6,
    m_bits: int = BLOOM_BITS,
    j: int = BLOOM_HASHES,
) -> DataFrame:
    """Bloom-filter incremental dedup audit → (fp, keep_id,
    maybe_dup, is_dup): the membership-sketch twin of
    :func:`dedup_incremental`. The already-ingested corpus (even
    doc_ids, same gate split) compresses to an m-bit Bloom filter
    stored as ⌈m/60⌉ BIGINT bit-words — ~34 bytes per 4096 bits vs
    O(corpus) digests — and the incoming batch probes it:
    ``maybe_dup`` is the filter's verdict (all j bits set), ``is_dup``
    the exact anti-join truth alongside, so rows with
    maybe_dup ∧ ¬is_dup ARE the measured false-positive set (never
    the reverse — Bloom filters have no false negatives, which the
    parity gate re-proves on every run).

    Scale: the filter build is one groupBy over j·|corpus| bit
    positions collapsing to ≤ ⌈m/60⌉ rows; bit-words merge by OR, so
    shards/micro-batches combine exactly like the CMS counters
    (streaming twin: cms_stream). Probing broadcasts the ≤ 69-row
    word table — the incoming batch never shuffles against the
    corpus. Hashes are md5-derived (portable; the oracle builds the
    bit-identical filter in SQL).
    """
    base = documents.select(
        "doc_id", lead_prefix_fp(prefix_words).alias("fp")
    )
    existing = base.where(F.col("doc_id") % 2 == 0).select("fp").distinct()
    seeds = F.explode(F.sequence(F.lit(0), F.lit(j - 1))).alias("seed")
    pos = md5_hash32(F.concat_ws(":", F.col("seed"), F.col("fp"))) % m_bits
    bloom = bloom_bit_words(existing, m_bits, j)
    incoming = (
        base.where(F.col("doc_id") % 2 == 1)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    probes = incoming.select("fp", "keep_id", seeds).select(
        "fp",
        "keep_id",
        F.floor(pos / BLOOM_WORD).cast("bigint").alias("word_idx"),
        (pos % BLOOM_WORD).cast("int").alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "fp",
            "keep_id",
            F.coalesce(
                F.expr("shiftright(mask, bit) & 1"), F.lit(0).cast("bigint")
            ).alias("hit"),
        )
        .groupBy("fp", "keep_id")
        .agg((F.min("hit") == 1).alias("maybe_dup"))
    )
    return hits.join(
        existing.withColumn("_e", F.lit(1)), "fp", "left"
    ).select(
        "fp",
        "keep_id",
        "maybe_dup",
        F.col("_e").isNotNull().alias("is_dup"),
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_shingles, n_new, novelty) — fraction of a doc's
    distinct n-gram shingles whose FIRST corpus occurrence (minimum
    doc_id, the ingest-order proxy) is this doc: the "how much of
    this document has the corpus already seen?" curation signal, the
    set-level complement of pairwise dedup (a doc can be 0.3-novel
    without any single pair crossing a Jaccard threshold) and a
    curriculum-ordering input alongside text_curriculum_order.

    Plan: ONE window-min over the shingle partition tags each
    (doc, shingle) row with the corpus-first doc — no posting-list
    collect (a stop-shingle's unbounded list would be a giant row;
    the window min streams its partition) — then one per-doc rollup.
    Two shuffles total, both map-side-combinable on the rollup side.
    At 100 TB the window's heavy-hitter shingle partitions are the
    skew point; a two-level min (salted partial min → final min,
    broadcast back) swaps in with identical semantics. Docs with
    fewer than n tokens have no shingles and no row — same convention
    as the dedup family."""
    sh = _exploded_shingles(documents, n)
    first = F.min("doc_id").over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("_first", first)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("_first") == F.col("doc_id")).cast("long")).alias(
                "n_new"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_new",
            F.round(F.col("n_new") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )
