"""Python shadow model of the reference memory server's semantics.

Every MCP response the benchmark receives, and the store state at the
end of a session, is checked against this model. It implements the
reference behaviour directly, without Spark:

- inputs are sanitized (control characters other than newline and tab
  removed, runs of three or more newlines collapsed to two, edges
  trimmed, length capped, trimmed again);
- ``create_entities`` upserts: an existing entity keeps its stored
  ``created_at``, takes the new type, and has its observations
  replaced wholesale;
- ``delete_entity`` cascades to observations and to relations on
  either end; ``delete_relation`` removes every exact match;
- ``search_nodes`` turns runs of whitespace, ``_`` and ``-`` into
  ``%``, matches case-insensitively against name (relevance 3), type
  (2) and observations (1), and orders by relevance desc,
  ``created_at`` desc, name, capped at 50;
- ``read_graph`` returns the 10 most recent entities.

``created_at`` of a write is the store version it creates, the
package's monotonic batch stamp.
"""

from __future__ import annotations

import re
import unicodedata
from collections import defaultdict

MAX_NAME = 256
MAX_TYPE = 256
MAX_OBSERVATION = 4096
MAX_LIMIT = 50


def sanitize(s: str, cap: int) -> str:
    kept = "".join(
        ch
        for ch in s
        if ch in "\n\t"
        or unicodedata.category(ch) not in ("Cc", "Cf", "Co", "Cn")
    )
    collapsed = re.sub(r"\n{3,}", "\n\n", kept)
    return collapsed.strip()[:cap].strip()


def _matcher(query: str):
    parts = re.split(r"[\s_\-]+", query)
    return re.compile(".*".join(re.escape(p) for p in parts), re.I | re.S)


class Shadow:
    """Entities, observations and relations of one store, in memory."""

    def __init__(self, entities, observations, relations, version: int):
        # name -> [entity_type, created_at]
        self.entities = {n: [t, c] for n, t, c in entities}
        # name -> list of observation strings
        self.observations: dict[str, list[str]] = defaultdict(list)
        self._obs_created: dict[str, int] = {}
        for n, content, c in observations:
            self.observations[n].append(content)
            self._obs_created[n] = c
        self.relations: list[tuple[str, str, str]] = list(relations)
        self.version = version
        self._reindex()

    def copy(self) -> "Shadow":
        out = Shadow.__new__(Shadow)
        out.entities = {n: list(v) for n, v in self.entities.items()}
        out.observations = defaultdict(
            list, {n: list(v) for n, v in self.observations.items()}
        )
        out._obs_created = dict(self._obs_created)
        out.relations = list(self.relations)
        out.version = self.version
        out._reindex()
        return out

    def _reindex(self) -> None:
        # name -> positions in self.relations with that name on an end
        self._by_end: dict[str, set[int]] = defaultdict(set)
        for i, r in enumerate(self.relations):
            self._by_end[r[0]].add(i)
            self._by_end[r[1]].add(i)

    # ------------------------------------------------------------ writes

    def create_entities(self, entities: list[dict]) -> None:
        self.version += 1
        for e in entities:
            name = sanitize(e["name"], MAX_NAME)
            etype = sanitize(e["entityType"], MAX_TYPE)
            obs = [sanitize(o, MAX_OBSERVATION) for o in e["observations"]]
            if name in self.entities:
                self.entities[name][0] = etype
            else:
                self.entities[name] = [etype, self.version]
            self.observations[name] = obs
            self._obs_created[name] = self.version

    def create_relations(self, relations: list[dict]) -> None:
        self.version += 1
        for r in relations:
            rel = (
                sanitize(r["source"], MAX_NAME),
                sanitize(r["target"], MAX_NAME),
                sanitize(r["type"], MAX_TYPE),
            )
            self._by_end[rel[0]].add(len(self.relations))
            self._by_end[rel[1]].add(len(self.relations))
            self.relations.append(rel)

    def delete_entity(self, name: str) -> None:
        self.version += 1
        del self.entities[name]
        self.observations.pop(name, None)
        self._obs_created.pop(name, None)
        self.relations = [r for r in self.relations if name not in (r[0], r[1])]
        self._reindex()

    def delete_relation(self, source: str, target: str, rtype: str) -> None:
        self.version += 1
        key = (source, target, rtype)
        self.relations = [r for r in self.relations if r != key]
        self._reindex()

    def has_relation(self, source: str, target: str, rtype: str) -> bool:
        key = (source, target, rtype)
        return any(self.relations[i] == key for i in self._by_end.get(source, ()))

    # ------------------------------------------------------------- reads

    def _payload(self, names: list[str]) -> dict:
        ents = [
            {
                "name": n,
                "entityType": self.entities[n][0],
                "observations": sorted(self.observations.get(n, [])),
            }
            for n in names
        ]
        hits = set().union(*(self._by_end.get(n, ()) for n in names))
        rels = sorted(self.relations[i] for i in hits)
        return {
            "entities": ents,
            "relations": [
                {"from": s, "to": t, "relationType": k} for s, t, k in rels
            ],
        }

    def search_nodes(self, query: str, limit: int = 10) -> dict:
        pat = _matcher(query)
        scored = []
        for name, (etype, created) in self.entities.items():
            if pat.search(name):
                rel = 3
            elif pat.search(etype):
                rel = 2
            elif any(pat.search(o) for o in self.observations.get(name, ())):
                rel = 1
            else:
                continue
            scored.append((-rel, -created, name))
        scored.sort()
        names = [n for _, _, n in scored[: min(limit, MAX_LIMIT)]]
        return self._payload(names)

    def read_graph(self, limit: int = 10) -> dict:
        recent = sorted(
            self.entities, key=lambda n: (-self.entities[n][1], n)
        )[: min(limit, MAX_LIMIT)]
        return self._payload(recent)

    # ------------------------------------------------------------ state

    def state(self) -> dict[str, list[tuple]]:
        """The three tables as sorted row lists, comparable with a
        collected store read."""
        return {
            "entities": sorted((n, t, c) for n, (t, c) in self.entities.items()),
            "observations": sorted(
                (n, o, self._obs_created[n])
                for n, obs in self.observations.items()
                for o in obs
            ),
            "relations": sorted(self.relations),
        }

