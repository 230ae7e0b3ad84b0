"""Drop-in client facade: the reference's MCP client API over the
Spark engine.

A user of spences10/mcp-memory-libsql talks to ``LibSqlClient``
methods with dict-shaped Entities/Relations (src/types/index.ts:
``Entity{name, entityType, observations}``, ``Relation{from, to,
relationType}``). ``MemoryClient`` exposes the SAME surface — same
shapes, same validation errors (client.ts:58-186, 296-405), same
sanitize-then-cap rules — and executes each call as an O(batch)
GraphStore delta write / broadcast-join read, so switching from the
TS server is a constructor swap.

Per-call semantics mirrored:
- ``create_entities``: per-entity validation THROWS (non-empty name/
  type, 1..100 non-empty observations) exactly like client.ts:66-117;
  upsert preserves stored created_at (client.ts:145-156); the
  entity's observations are replaced wholesale.
- ``create_relations``: non-empty source/target/type after sanitize,
  else throws (client.ts:308-318).
- ``delete_entity`` / ``delete_relation``: existence checked first;
  "Entity not found: X" / "Relation not found: a -> b (t)"
  (client.ts:340-405).
- ``get_entity``: "Entity not found" on miss (client.ts:195).
- ``search_nodes(query)`` / ``read_graph()``: {entities, relations}
  payloads (client.ts:433-474); empty query throws.

created_at is a monotonic batch stamp (the store's next version) —
the batch-engine stand-in for the reference's datetime('now') that
keeps recency ordering exact and deterministic. However long the
session, the store bounds its delta chain at 4
(``GraphStore.MAX_DELTA_CHAIN``): the write that takes it to 5 also
checkpoints, at O(store), and stamps skip the checkpoint's version.

Per-call cost is kept to jobs that move data:
- every batch a call sends to Spark is JVM-local: built as an Arrow
  table (``kg.store._local_frame``), it plans as a ``LocalRelation``,
  so no job over it starts Python workers;
- replies are filtered in Spark but ordered on the driver: a reply's
  observation and relation rows are few, so sorting them in Python by
  the same keys costs less than a range-partition shuffle.

Every string argument has its lone surrogates (valid JSON escapes
such as ``"\\ud800"`` that encode no character) replaced with U+FFFD
before use — the form the store holds them in.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import SparkSession

from .kg import search as kg_search
from .kg.store import SCHEMAS, GraphStore, _local_frame
from .sanitize import (
    MAX_ENTITY_NAME_LENGTH,
    MAX_ENTITY_TYPE_LENGTH,
    MAX_OBSERVATION_LENGTH,
    MAX_OBSERVATIONS_PER_ENTITY,
    MAX_RELATION_TYPE_LENGTH,
)

_DELETE_NAMES_SCHEMA = GraphStore.DELTA_OPS["delete_entities"][0]["names"]
_LONE_SURROGATE = re.compile("[\ud800-\udfff]")


def _scrub(x):
    """``x`` with lone surrogates replaced by U+FFFD if it is a
    string, else ``x`` unchanged (validation rejects it later)."""
    return _LONE_SURROGATE.sub("\ufffd", x) if isinstance(x, str) else x


def _sorted(rows, *cols: str) -> list:
    """``rows`` in ``orderBy(*cols)`` order: ascending, nulls first."""
    return sorted(rows, key=lambda r: [(r[c] is not None, r[c]) for c in cols])


def _edge(ch: str) -> bool:
    # \s plus Unicode Z* — the Python twin of sanitize_col's
    # [\s\p{Z}] unicode-aware trim
    return ch.isspace() or unicodedata.category(ch).startswith("Z")


def _strip_edges(s: str) -> str:
    start, end = 0, len(s)
    while start < end and _edge(s[start]):
        start += 1
    while end > start and _edge(s[end - 1]):
        end -= 1
    return s[start:end]


def sanitize_text(s: str, max_length: int) -> str:
    """Python twin of ``sanitize.sanitize_col`` (same rules as the
    reference's sanitize_input, client.ts:22-31): strip control/
    format chars except newline+tab, collapse 3+ newlines, trim,
    cap, trim again."""
    cleaned = "".join(
        ch
        for ch in s
        if ch in "\n\t"
        or unicodedata.category(ch) not in ("Cc", "Cf", "Co", "Cn")
    )
    collapsed = re.sub(r"\n{3,}", "\n\n", cleaned)
    return _strip_edges(_strip_edges(collapsed)[:max_length])


class MemoryClient:
    """The reference's six MCP tools as Python methods over a
    GraphStore directory. See module docstring for the contract."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.store = GraphStore(spark, path)
        if self.store.current_version() < 0:
            self.store.init_empty()

    # ------------------------------------------------------- writes

    def _stamp(self) -> int:
        return self.store.current_version() + 1

    def create_entities(self, entities: list[dict]) -> None:
        ts = self._stamp()
        ent_rows, obs_rows = [], []
        for e in entities:
            name = _scrub(e.get("name"))
            if not isinstance(name, str) or name.strip() == "":
                raise ValueError("Entity name must be a non-empty string")
            safe_name = sanitize_text(name, MAX_ENTITY_NAME_LENGTH)
            if safe_name == "":
                raise ValueError("Entity name is empty after sanitization")
            etype = _scrub(e.get("entityType"))
            if not isinstance(etype, str) or etype.strip() == "":
                raise ValueError(
                    f'Invalid entity type for entity "{safe_name}"'
                )
            safe_type = sanitize_text(etype, MAX_ENTITY_TYPE_LENGTH)
            if safe_type == "":
                raise ValueError(
                    "Entity type is empty after sanitization for entity "
                    f'"{safe_name}"'
                )
            obs = e.get("observations")
            if not isinstance(obs, list) or len(obs) == 0:
                raise ValueError(
                    f'Entity "{safe_name}" must have at least one observation'
                )
            if len(obs) > MAX_OBSERVATIONS_PER_ENTITY:
                raise ValueError(
                    f'Entity "{safe_name}" exceeds maximum of '
                    f"{MAX_OBSERVATIONS_PER_ENTITY} observations"
                )
            safe_obs = []
            for o in map(_scrub, obs):
                if not isinstance(o, str) or o.strip() == "":
                    raise ValueError(
                        f'Entity "{safe_name}" has invalid observations. '
                        "All observations must be non-empty strings"
                    )
                so = sanitize_text(o, MAX_OBSERVATION_LENGTH)
                if so == "":
                    raise ValueError(
                        f'Entity "{safe_name}" has an observation that is '
                        "empty after sanitization"
                    )
                safe_obs.append(so)
            ent_rows.append((safe_name, safe_type, ts))
            obs_rows += [(safe_name, o, ts) for o in safe_obs]
        if not ent_rows:
            return
        self.store.apply_upsert(
            _local_frame(self.spark, ent_rows, SCHEMAS["entities"]),
            _local_frame(self.spark, obs_rows, SCHEMAS["observations"]),
        )

    def create_relations(self, relations: list[dict]) -> None:
        """Batch relation insert (client.ts:298-338). Deliberately
        like the reference AS DEPLOYED: duplicates append (no unique
        constraint) and endpoints are NOT existence-checked — the
        schema declares FOREIGN KEYs but libSQL/SQLite leaves FK
        enforcement OFF without a pragma the reference never sets, so
        dangling relations are accepted there too."""
        if not relations:
            return
        rows = []
        for r in relations:
            safe_from = sanitize_text(
                _scrub(str(r.get("from") or "")), MAX_ENTITY_NAME_LENGTH
            )
            safe_to = sanitize_text(
                _scrub(str(r.get("to") or "")), MAX_ENTITY_NAME_LENGTH
            )
            safe_type = sanitize_text(
                _scrub(str(r.get("relationType") or "")),
                MAX_RELATION_TYPE_LENGTH,
            )
            if not safe_from or not safe_to or not safe_type:
                raise ValueError(
                    "Relation source, target, and type must be non-empty "
                    "strings"
                )
            rows.append((safe_from, safe_to, safe_type))
        self.store.apply_create_relations(
            _local_frame(self.spark, rows, SCHEMAS["relations"])
        )

    def delete_entity(self, name: str) -> None:
        # raw-string comparison on purpose: the reference binds the
        # caller's string directly into the WHERE (client.ts:344) —
        # a name that sanitized differently at write time is "not
        # found" there too
        name = _scrub(name)
        g = self.store.read()
        if g["entities"].where(g["entities"]["name"] == name).count() == 0:
            raise ValueError(f"Entity not found: {name}")
        self.store.apply_delete_entities(
            _local_frame(self.spark, [(name,)], _DELETE_NAMES_SCHEMA)
        )

    def delete_relation(self, source: str, target: str, type: str) -> None:
        source, target, type = map(_scrub, (source, target, type))
        g = self.store.read()
        r = g["relations"]
        hit = r.where(
            (r["source"] == source)
            & (r["target"] == target)
            & (r["relation_type"] == type)
        ).count()
        if hit == 0:
            raise ValueError(
                f"Relation not found: {source} -> {target} ({type})"
            )
        self.store.apply_delete_relations(
            _local_frame(
                self.spark, [(source, target, type)], SCHEMAS["relations"]
            )
        )

    # -------------------------------------------------------- reads

    def _entities_payload(self, g, rows) -> list[dict]:
        obs_by_name = self._obs_for(g, [r.name for r in rows])
        return [
            {
                "name": r.name,
                "entityType": r.entity_type,
                "observations": obs_by_name.get(r.name, []),
            }
            for r in rows
        ]

    def _obs_for(self, g, names: list[str]) -> dict[str, list[str]]:
        if not names:
            return {}
        o = g["observations"]
        rows = o.where(kg_search._in("entity_name", names)).collect()
        out: dict[str, list[str]] = {}
        for r in _sorted(rows, "created_at", "content"):
            out.setdefault(r.entity_name, []).append(r.content)
        return out

    def get_entity(self, name: str) -> dict:
        name = _scrub(name)
        g = self.store.read()
        rows = g["entities"].where(g["entities"]["name"] == name).collect()
        if not rows:
            raise ValueError(f"Entity not found: {name}")
        return self._entities_payload(g, rows)[0]

    def get_recent_entities(self, limit: int = 10) -> list[dict]:
        g = self.store.read()
        rows = kg_search.get_recent_entities(g["entities"], limit).collect()
        return self._entities_payload(g, rows)

    def _relations_payload(self, g, names: list[str]) -> list[dict]:
        if not names:
            return []
        r = g["relations"]
        rows = r.where(
            kg_search._in("source", names) | kg_search._in("target", names)
        ).collect()
        return [
            {
                "from": x.source,
                "to": x.target,
                "relationType": x.relation_type,
            }
            for x in _sorted(rows, "source", "target", "relation_type")
        ]

    def _graph_payload(self, g, rows) -> dict:
        """The {entities, relations} reply for the entity ``rows``
        (client.ts:433-474)."""
        return {
            "entities": self._entities_payload(g, rows),
            "relations": self._relations_payload(g, [r.name for r in rows]),
        }

    def search_nodes(self, query: str, limit: int = 10) -> dict:
        g = self.store.read()
        ents = kg_search.search_entities(
            g["entities"], g["observations"], _scrub(query), limit
        ).collect()
        return self._graph_payload(g, ents)

    def read_graph(self, limit: int = 10) -> dict:
        g = self.store.read()
        ents = kg_search.get_recent_entities(g["entities"], limit).collect()
        return self._graph_payload(g, ents)

    # -------------------------------------------- historical vector API

    def search_similar(self, query_text: str, k: int = 5) -> list[dict]:
        """The reference's HISTORICAL vector search (≤ v0.0.15 stored
        F32_BLOB embeddings and served cosine top-k; dropped in
        v0.0.16, CHANGELOG bb71f9c) — restored Spark-side: each
        entity's observations concatenate into a pseudo-document,
        TF-IDF-embedded in one batch (MLlib, feature hashing — no
        vocab shuffle), the query embeds through the SAME fitted
        pipeline, and entities rank by cosine →
        [{name, entityType, observations, score}].

        The embed step is a per-call fit here because the store
        mutates between calls; a serving deployment fits at ingest
        and reuses the index exactly like text_semantic_search's
        fit-once contract."""
        query_text = _scrub(query_text)
        if not query_text or not query_text.strip():
            raise ValueError("Text query cannot be empty")
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast
        from pyspark.sql.window import Window

        from .vector import embed as vembed

        g = self.store.read()
        o = g["observations"]
        from .textops.tokenize import md5_hash60

        # doc_id = md5 of the entity name: deterministic AND computed
        # in-row — an unpartitioned row_number window here would
        # funnel the whole pseudo-doc corpus through one partition
        # just to mint ids (collision odds at 60 bits are ~n²/2⁶¹,
        # vanishing for any real store)
        pseudo = (
            o.groupBy("entity_name")
            .agg(
                F.concat_ws(
                    " ", F.sort_array(F.collect_list("content"))
                ).alias("text")
            )
            .select(
                md5_hash60(F.col("entity_name")).alias("doc_id"),
                F.col("entity_name"),
                "text",
            )
        )
        docs = pseudo.select(
            "doc_id", "text",
            F.lit("").alias("lang"), F.lit("").alias("source"),
            F.length("text").alias("n_chars"),
        )
        pipeline = vembed.fit_tfidf(docs)
        vecs = vembed.embed_documents(docs, pipeline).join(
            pseudo.select("doc_id", "entity_name"), "doc_id"
        )
        q = vembed.embed_query(self.spark, pipeline, query_text)
        from .vector.similarity import cosine as _cos

        scored = (
            vecs.crossJoin(broadcast(q))
            .select(
                "entity_name",
                F.round(
                    _cos(F.col("embedding"), F.col("q_embedding")), 6
                ).alias("score"),
            )
            .where(F.col("score").isNotNull())
            .orderBy(F.col("score").desc(), "entity_name")
            .limit(k)
            .collect()
        )
        names = [r.entity_name for r in scored]
        obs = self._obs_for(g, names)
        ents = {
            r.name: r
            for r in g["entities"]
            .where(g["entities"]["name"].isin(names))
            .collect()
        }
        # an observation row without a matching entity (e.g. written
        # through a raw stream before its entity arrived) scores like
        # any pseudo-doc but has no entity payload — skip it rather
        # than KeyError mid-serve
        return [
            {
                "name": n,
                "entityType": ents[n].entity_type,
                "observations": obs.get(n, []),
                "score": s.score,
            }
            for n, s in zip(names, scored)
            if n in ents
        ]
