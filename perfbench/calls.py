"""Seeded MCP call sessions for the two agent workloads.

A session is a fixed sequence of slots; each slot fixes the tool, the
query category and the payload size, and the seed picks the concrete
names and text. Every seed therefore sends the same mix with the same
delta-chain profile, so runs with different seeds stay comparable
while no two seeds send the same calls.

The generator builds each input from a clean ASCII string and then
adds noise (edge whitespace, control characters, runs of newlines).
It refers back to what it wrote by the clean, sanitized form, which is
how the store names it.
"""

from __future__ import annotations

import random
import string

# A session is a tuple of segments; each segment is a sequence of tool
# calls that starts from a fresh copy of the seed store. See DESIGN.md
# for the mix. The recall writes come last, so its reads run on a
# delta chain of 0 or 1, as in a session that mostly recalls.
RECALL_SESSION = ((
    "s_name", "s_fuzzy", "read_graph", "s_obs50", "s_miss", "s_prefix50",
    "s_type", "read_graph", "ce_small", "s_new", "cr_small",
),)
INGEST_SESSION = (
    ("ce_mixed", "s_recent", "cr_bulk", "read_graph"),
    ("ce_bulk", "delete_relation", "s_recent50", "delete_entity"),
)
SESSIONS = {"mcp_recall": RECALL_SESSION, "mcp_ingest": INGEST_SESSION}
# played untimed before timing, so that Spark's code generation and
# the JIT have compiled the plans the timed calls run: each kind of
# recall call once, and the ingest writes with reads over one and two
# deltas
WARMUP = {
    "mcp_recall": (
        ("s_fuzzy", "read_graph", "s_prefix50", "ce_small", "s_new", "cr_small"),
    ),
    "mcp_ingest": (
        ("ce_mixed", "s_recent", "cr_bulk", "read_graph"),
        ("ce_bulk", "delete_relation"),
    ),
}

TOOL_OF = {
    "read_graph": "read_graph",
    "delete_entity": "delete_entity",
    "delete_relation": "delete_relation",
}
for _s in {s for seg in RECALL_SESSION + INGEST_SESSION for s in seg}:
    if _s.startswith("s_"):
        TOOL_OF[_s] = "search_nodes"
    elif _s.startswith("ce_"):
        TOOL_OF[_s] = "create_entities"
    elif _s.startswith("cr_"):
        TOOL_OF[_s] = "create_relations"

TOOLS = (
    "search_nodes", "read_graph", "create_entities", "create_relations",
    "delete_entity", "delete_relation",
)
READ_TOOLS = ("search_nodes", "read_graph")
WRITE_TOOLS = ("create_entities", "create_relations", "delete_entity", "delete_relation")

WORDS = (
    "agent", "memory", "graph", "spark", "vector", "cache", "query", "batch",
    "stream", "index", "schema", "tensor", "kernel", "planner", "shard",
    "replica", "ledger", "cursor", "window", "bucket",
)
NEW_TYPES = ("person", "project", "tool", "concept", "meeting")
REL_TYPES = ("KNOWS", "USES", "DEPENDS_ON", "MENTIONS")
PART_WORDS = (
    ("blue", "cold", "hot", "large", "old", "red", "small"),
    ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"),
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
CONTROL = ("\x00", "\x07", "\x1b", "\x7f", "\x0b")


class SegmentGen:
    """Generates one segment's calls against a store whose state at
    segment start has ``names`` (sorted entity names) and
    ``relations`` (sorted relation triples)."""

    def __init__(self, slots, stream: str, names, relations):
        self.slots = slots
        self.rng = random.Random(stream)
        self.customers = [n for n in names if n.startswith("Customer#")] or list(names)
        self.live = set(names)
        self.relations = list(relations)
        self.recent: list[str] = []
        # entities this segment created (not upserted); deletable
        self.created: list[str] = []
        self.counter = 0

    # ----------------------------------------------------- text helpers

    def _pick(self, seq):
        return seq[self.rng.randrange(len(seq))]

    def _words(self, n: int) -> str:
        return " ".join(self._pick(WORDS) for _ in range(n))

    def _noisy(self, clean: str, newline_runs: bool = False) -> str:
        """A raw input that sanitizes to ``clean``."""
        r = self.rng.random()
        if r < 0.25:
            i = self.rng.randrange(len(clean) + 1)
            return clean[:i] + self._pick(CONTROL) + clean[i:]
        if r < 0.4:
            return " \t" + clean + "  "
        if r < 0.5 and newline_runs and "\n\n" in clean:
            return clean.replace("\n\n", "\n\n\n\n", 1)
        return clean

    def _new_name(self) -> str:
        self.counter += 1
        return f"{self._pick(WORDS)}-{self._pick(WORDS)}-{self.counter:04d}"

    def _observation(self, long: bool = False) -> str:
        if long:
            # near the 4096 cap once sanitized; the raw string, with its
            # padding, stays within the tool schema's maxLength
            body = self._words(700)[:3900].strip()
            return body[:1950].strip() + "\n\n" + body[1950:].strip()
        text = self._words(self.rng.randint(3, 12))
        if self.rng.random() < 0.2:
            text += "\n\n" + self._words(4)
        return text

    # ------------------------------------------------------------ writes

    def _entities(self, n: int, obs_counts, upsert_frac: float) -> list[dict]:
        n_upsert = round(n * upsert_frac)
        live = sorted(self.live)
        chosen: list[str] = []
        seen = set()
        for i in range(n):
            name = self._pick(live) if i < n_upsert else None
            if name is None or name in seen:
                name = self._new_name()
                self.created.append(name)
            seen.add(name)
            chosen.append(name)
        out = []
        for i, name in enumerate(chosen):
            k = obs_counts[i % len(obs_counts)]
            obs = [self._observation() for _ in range(k)]
            out.append(
                {
                    "name": self._noisy(name),
                    "entityType": self._noisy(self._pick(NEW_TYPES)),
                    "observations": [self._noisy(o, True) for o in obs],
                }
            )
            self.live.add(name)
        self.recent = chosen
        return out

    def _relations(self, n: int) -> list[dict]:
        live = sorted(self.live)
        out = []
        for _ in range(n):
            out.append(
                {
                    "source": self._noisy(self._pick(self.recent or live)),
                    "target": self._noisy(self._pick(live)),
                    "type": self._noisy(self._pick(REL_TYPES)),
                }
            )
        return out

    # ------------------------------------------------------------- slots

    def call(self, slot: str) -> tuple[str, dict]:
        tool = TOOL_OF[slot]
        if slot == "read_graph":
            return tool, {}
        if slot == "ce_small":
            return tool, {"entities": self._entities(3, (1, 2, 4), 0.34)}
        if slot == "ce_mixed":
            return tool, {"entities": self._entities(10, (1, 3, 5, 8), 0.3)}
        if slot == "ce_bulk":
            ents = self._entities(50, (1, 2, 3, 4), 0.3)
            ents[0]["observations"] = [self._observation() for _ in range(99)]
            ents[0]["observations"].append(self._observation(long=True))
            return tool, {"entities": ents}
        if slot == "cr_small":
            return tool, {"relations": self._relations(5)}
        if slot == "cr_bulk":
            return tool, {"relations": self._relations(100)}
        if slot == "delete_entity":
            name = self.created.pop(self.rng.randrange(len(self.created)))
            self.live.discard(name)
            self.recent = [n for n in self.recent if n != name]
            return tool, {"name": name}
        if slot == "delete_relation":
            # a seed relation; deleted entities are session-created, so
            # no earlier cascade can have removed it
            s, t, k = self.relations.pop(self.rng.randrange(len(self.relations)))
            return tool, {"source": s, "target": t, "type": k}
        return tool, self._search(slot)

    def _search(self, slot: str) -> dict:
        rng = self.rng
        if slot == "s_name":
            q = self._pick(self.customers)
            q = q.lower() if rng.random() < 0.5 else q
            return {"query": q}
        if slot == "s_fuzzy":
            a, b = (self._pick(w) for w in PART_WORDS)
            sep = self._pick((" ", "_", "-", "  ", " - "))
            return {"query": f"{a}{sep}{b}", "limit": 10}
        if slot == "s_obs50":
            return {"query": f"segment={self._pick(SEGMENTS)}", "limit": 50}
        if slot == "s_type":
            return {"query": self._pick(("region", "REGION", "Region"))}
        if slot == "s_miss":
            letters = "".join(rng.choice(string.ascii_lowercase) for _ in range(9))
            return {"query": f"zq{letters} nohit"}
        if slot == "s_prefix50":
            # dropping two digits leaves a prefix shared by up to 100 customers
            return {"query": self._pick(self.customers)[:-2], "limit": 50}
        # s_new, s_recent, s_recent50: an entity this session created
        name = self._pick(self.created)
        if slot == "s_recent50":
            return {"query": name.split("-")[0], "limit": 50}
        return {"query": name.replace("-", self._pick((" ", "_", "-")))}

    def calls(self) -> list[tuple[str, str, dict]]:
        """[(slot, tool, arguments)] for the whole segment."""
        return [(slot, *self.call(slot)) for slot in self.slots]


def session(workload: str, seed: int, names, relations, warmup: bool = False):
    """The seeded session (or warm-up) as a list of segments, each a
    list of (slot, tool, arguments)."""
    kind = "warmup" if warmup else "session"
    return [
        SegmentGen(slots, f"{workload}:{seed}:{kind}:{k}", names, relations).calls()
        for k, slots in enumerate((WARMUP if warmup else SESSIONS)[workload])
    ]
