"""Reads: search / recent / graph — parity with the reference API.

- ``search_entities`` mirrors src/db/client.ts:212-266: the query is
  normalized by replacing runs of whitespace/underscore/hyphen with
  ``%``, wrapped in ``%…%``, and matched case-insensitively against
  entity name, entity type, and observation content; relevance is
  name=3 > type=2 > observation=1; results are DISTINCT entities
  ordered by (relevance DESC, created_at DESC) with the limit capped
  at 50 (plus a unique-name tiebreak so top-k is deterministic).
  An entity qualifies by its own name or type, or when one of its
  observations matches: a correlated EXISTS, planned as an existence
  join, so each entity row is kept at most once — no join fan-out and
  no ``distinct`` shuffle. That relies on entity names being unique
  (``name`` is the reference's primary key, and upsert keeps it so).
  The match is evaluated as ordered substring lookups of the
  pattern's literal pieces (``_ilike``), which is exactly what that
  LIKE matches, with the pieces held as data rather than compiled into
  the generated code, so a new query runs the same compiled classes as
  the last one.
- ``get_recent_entities`` mirrors src/db/client.ts:268-295.
- ``relations_for_entities`` mirrors src/db/client.ts:407-430
  (relations whose source OR target is in the entity set).
- ``read_graph`` / ``search_nodes`` mirror src/db/client.ts:433-474.

Scale: the matched/recent entity set is ≤50 rows by construction, so
every relation lookup is a broadcast semi-join against the (possibly
huge) relations table — the big side never shuffles. The match scan
itself is a single pass; the names of matching observations are
broadcast into the existence join when they are few, and on a cluster
the join shuffles on entity name once otherwise, with AQE handling
skew.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

MAX_SEARCH_LIMIT = 50


def normalize_query(query: str) -> str:
    """`%`-wrapped fuzzy pattern, runs of [\\s_-] → `%` (client.ts:217).

    Backslashes are doubled first: Spark's LIKE treats ``\\`` as the
    escape character (a lone one CRASHES the query with
    INVALID_FORMAT.ESC_IN_THE_MIDDLE), while the reference's SQLite
    LIKE has no escape char and matches it literally — doubling
    restores the literal-match parity."""
    return "%" + re.sub(r"[\s_\-]+", "%", query.replace("\\", "\\\\")) + "%"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal written in ``\\uXXXX``
    escapes of its UTF-16 code units: plain ASCII, so no quote,
    backslash or ``${…}`` substitution in ``s`` reaches the parser."""
    u = s.encode("utf-16-be")
    units = (f"\\u{u[i]:02x}{u[i + 1]:02x}" for i in range(0, len(u), 2))
    return "'" + "".join(units) + "'"


def _in(col: str, values: list[str]) -> Column:
    """``col IN (values)``, built as one SQL expression: a Column per
    value costs one JVM round trip each."""
    return F.expr(f"{col} IN ({', '.join(map(_sql_str, values))})")


def _ilike(col: str, query: str) -> Column:
    """``col ILIKE normalize_query(query)``, evaluated as lookups of the
    pattern's literal pieces: each lower-cased piece must occur in
    ``lower(col)`` at or after the end of the piece before it.

    Not ``Column.ilike``: a LIKE pattern with ``%`` inside has its regex
    compiled into the generated class, so each new query of two or more
    words would compile new classes and run them cold. Here the pieces
    are one array value the generated code reads as data, so every
    query runs the same classes. The expression is parsed from one SQL
    string: built from Columns it would cost a JVM round trip per
    function.
    """
    pieces = ", ".join(
        f"lower({_sql_str(p)})" for p in re.split(r"[\s_\-%]+", query) if p
    )
    # the position just past the pieces matched so far; null once one
    # is missing (a null start makes the next lookup return 0)
    return F.expr(
        f"{col} IS NOT NULL AND aggregate(CAST(array({pieces}) AS array<string>),"
        f" 1, (start, p) -> nullif(position(p, lower({col}), start), 0)"
        f" + length(p)) IS NOT NULL"
    )


def search_entities(
    entities: DataFrame,
    observations: DataFrame,
    query: str,
    limit: int = 10,
) -> DataFrame:
    """Relevance-ranked fuzzy search → (name, entity_type, created_at,
    relevance_score)."""
    if not query or not query.strip():
        raise ValueError("Text query cannot be empty")
    limit = min(limit, MAX_SEARCH_LIMIT)

    e = entities.alias("e")
    o = observations.alias("o")

    name_hit = _ilike("e.name", query)
    type_hit = _ilike("e.entity_type", query)
    obs_hit = o.where(
        (F.col("o.entity_name") == F.col("e.name").outer())
        & _ilike("o.content", query)
    ).exists()

    scored = e.where(name_hit | type_hit | obs_hit).select(
        F.col("e.name").alias("name"),
        F.col("e.entity_type").alias("entity_type"),
        F.col("e.created_at").alias("created_at"),
        F.when(name_hit, F.lit(3))
        .when(type_hit, F.lit(2))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("relevance_score"),
    )
    return scored.orderBy(
        F.col("relevance_score").desc(),
        F.col("created_at").desc(),
        F.col("name"),
    ).limit(limit)


def with_observations(matched: DataFrame, observations: DataFrame) -> DataFrame:
    """Attach each matched entity's observations (sorted, '|'-joined)
    — the reference returns full ``Entity`` objects with observations
    from search/recent/read_graph (client.ts:249-266, 285-295).

    ``matched`` is ≤50 rows by construction, so the observations table
    is reduced with ONE broadcast semi-join (never shuffled), the tiny
    per-name aggregate happens on ≤50×100 rows, and the final join is
    broadcast too.
    """
    names = broadcast(matched.select("name").distinct())
    obs = (
        observations.join(
            names, observations["entity_name"] == names["name"], "leftsemi"
        )
        .groupBy("entity_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("content")), "|").alias(
                "observations"
            )
        )
    )
    return matched.join(
        broadcast(obs), matched["name"] == obs["entity_name"], "left"
    ).drop("entity_name")


def search_entities_full(
    entities: DataFrame,
    observations: DataFrame,
    query: str,
    limit: int = 10,
) -> DataFrame:
    """search_entities + observations — the reference's search result
    shape (client.ts:249-266)."""
    matched = search_entities(entities, observations, query, limit)
    return with_observations(matched, observations)


def get_recent_entities_full(
    entities: DataFrame, observations: DataFrame, limit: int = 10
) -> DataFrame:
    """get_recent_entities + observations (client.ts:285-295)."""
    return with_observations(get_recent_entities(entities, limit), observations)


def get_entity(
    entities: DataFrame, observations: DataFrame, name: str
) -> DataFrame:
    """Single entity with its observations aggregated (client.ts:188).

    → (name, entity_type, created_at, observations array, sorted for
    determinism)."""
    e = entities.where(F.col("name") == F.lit(name))
    o = observations.where(F.col("entity_name") == F.lit(name)).groupBy(
        "entity_name"
    ).agg(F.sort_array(F.collect_list("content")).alias("observations"))
    return (
        e.join(broadcast(o), e["name"] == o["entity_name"], "left")
        .select("name", "entity_type", "created_at", "observations")
    )


def get_entity_strict(
    entities: DataFrame, observations: DataFrame, name: str
) -> DataFrame:
    """``get_entity`` with the reference's not-found semantics: the
    reference throws ``Entity not found: <name>`` when the name is
    absent (client.ts:195); this raises ``KeyError`` likewise. The
    existence probe is a single pushed-down point lookup."""
    result = get_entity(entities, observations, name)
    if not result.take(1):
        raise KeyError(f"Entity not found: {name}")
    return result


def get_recent_entities(entities: DataFrame, limit: int = 10) -> DataFrame:
    """Most recent entities, deterministic tiebreak (client.ts:268)."""
    limit = min(limit, MAX_SEARCH_LIMIT)
    return entities.orderBy(
        F.col("created_at").desc(), F.col("name")
    ).limit(limit)


def relations_for_entities(
    relations: DataFrame, entity_names: DataFrame
) -> DataFrame:
    """Relations where source OR target ∈ entity set (client.ts:407).

    ``entity_names`` is a 1-column (name) DataFrame, ≤50 rows → both
    semi-joins broadcast; the relations table never shuffles.
    """
    names = broadcast(entity_names.select("name").distinct())
    # Single OR-condition semi-join (SQL: source IN (…) OR target IN
    # (…)) → ONE pass over the big relations table as a broadcast
    # nested-loop semi-join over the ≤50-row name set, and the
    # (expensive) name-set subplan is evaluated once, not per branch.
    cond = (relations["source"] == names["name"]) | (
        relations["target"] == names["name"]
    )
    return relations.join(names, cond, "leftsemi").distinct()


def read_graph(
    entities: DataFrame, relations: DataFrame, limit: int = 10
) -> DataFrame:
    """Relations touching the most recent entities (client.ts:433)."""
    recent = get_recent_entities(entities, limit)
    return relations_for_entities(relations, recent.select("name"))


def search_nodes(
    entities: DataFrame,
    observations: DataFrame,
    relations: DataFrame,
    query: str,
    limit: int = 10,
) -> DataFrame:
    """Relations touching the search result set (client.ts:443)."""
    matched = search_entities(entities, observations, query, limit)
    return relations_for_entities(relations, matched.select("name"))


def context_pack(
    entities: DataFrame,
    observations: DataFrame,
    query: str,
    budget_chars: int = 2000,
    limit: int = 50,
) -> DataFrame:
    """Char-budgeted LLM-context assembly over search results →
    (rank, name, relevance_score, n_chars, cum_chars, context).

    This is the step the reference's MCP payload feeds: search_nodes
    returns entities + observations for the model's context window
    (src/index.ts tool responses, client.ts:249-266); packing them
    against a character budget in relevance order is the RAG-side
    completion of that flow. Greedy prefix cut: keep the ranked
    prefix whose running char total fits the budget.

    The window is a single-partition running sum — correct HERE
    because search output is ≤50 rows by the reference's own limit
    cap (MAX_SEARCH_LIMIT); never use this shape on an unbounded
    table (see events_lateness_profile's two-level prefix-max for
    the distributed pattern).
    """
    full = search_entities_full(entities, observations, query, limit)
    ctx = F.concat(
        F.col("name"),
        F.lit(" ("),
        F.col("entity_type"),
        F.lit("): "),
        F.coalesce(F.col("observations"), F.lit("")),
    )
    ord_w = Window.orderBy(
        F.col("relevance_score").desc(), F.col("created_at").desc(), F.col("name")
    )
    run_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = (
        full.withColumn("context", ctx)
        .withColumn("n_chars", F.length("context").cast("int"))
        .withColumn("rank", F.row_number().over(ord_w).cast("int"))
        .withColumn("cum_chars", F.sum("n_chars").over(run_w).cast("bigint"))
    )
    return packed.where(F.col("cum_chars") <= budget_chars).select(
        "rank", "name", "relevance_score", "n_chars", "cum_chars", "context"
    )
