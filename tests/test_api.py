"""MemoryClient facade ↔ reference client.test.ts behavior parity.

Each test mirrors a vitest case from /root/reference's
src/db/client.test.ts (cited per test) — the drop-in-replacement
contract for a user switching from the TS MCP server.
"""

from __future__ import annotations

import itertools

import pytest

from mcp_memory_libsql_spark.api import MemoryClient

_GROUPS = itertools.count()


@pytest.fixture()
def client(spark, tmp_path):
    return MemoryClient(spark, str(tmp_path / "memstore"))


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"test-api-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_creates_entity_with_observations(client):
    # client.test.ts: 'creates an entity with observations'
    client.create_entities(
        [{"name": "test-entity", "entityType": "person",
          "observations": ["likes coffee"]}]
    )
    e = client.get_entity("test-entity")
    assert e["name"] == "test-entity"
    assert e["entityType"] == "person"
    assert e["observations"] == ["likes coffee"]


def test_updates_existing_entity_on_duplicate_name(client):
    # client.test.ts: 'updates existing entity on duplicate name' —
    # type replaced, observations replaced wholesale
    client.create_entities(
        [{"name": "dup", "entityType": "v1", "observations": ["old"]}]
    )
    client.create_entities(
        [{"name": "dup", "entityType": "v2", "observations": ["new"]}]
    )
    e = client.get_entity("dup")
    assert e["entityType"] == "v2"
    assert e["observations"] == ["new"]


@pytest.mark.parametrize("entity, message", [
    ({"name": "", "entityType": "x", "observations": ["y"]},
     "Entity name must be a non-empty string"),
    ({"name": "\x00\x01", "entityType": "x", "observations": ["y"]},
     "Entity name is empty after sanitization"),
    ({"name": "a", "entityType": 7, "observations": ["y"]},
     'Invalid entity type for entity "a"'),
    ({"name": "a", "entityType": "\u200b", "observations": ["y"]},
     'Entity type is empty after sanitization for entity "a"'),
    ({"name": "a", "entityType": "x", "observations": []},
     'Entity "a" must have at least one observation'),
    ({"name": "a", "entityType": "x",
      "observations": [f"o{i}" for i in range(101)]},
     'Entity "a" exceeds maximum of 100 observations'),
    ({"name": "a", "entityType": "x", "observations": ["y", " "]},
     'Entity "a" has invalid observations. '
     "All observations must be non-empty strings"),
    ({"name": "a", "entityType": "x", "observations": ["y", "\x07"]},
     'Entity "a" has an observation that is empty after sanitization'),
], ids=[
    "empty-name", "name-sanitized-empty", "invalid-type",
    "type-sanitized-empty", "no-observations", "too-many-observations",
    "invalid-observation", "observation-sanitized-empty",
])
def test_create_entities_rejects(client, entity, message):
    # client.test.ts: each validation error, word for word (client.ts:66-117)
    with pytest.raises(ValueError) as err:
        client.create_entities([entity])
    assert str(err.value) == message
    assert client.store.delta_chain_length() == 0


def test_sanitizes_control_characters(client):
    # client.test.ts: control chars stripped from observations + name
    client.create_entities(
        [{"name": "test\x00name", "entityType": "t",
          "observations": ["hello\x01\x02world"]}]
    )
    e = client.get_entity("testname")
    assert e["observations"] == ["helloworld"]


def test_truncates_long_names_and_observations(client):
    client.create_entities(
        [{"name": "a" * 300, "entityType": "t",
          "observations": ["b" * 5000]}]
    )
    e = client.get_entity("a" * 256)
    assert len(e["observations"][0]) == 4096


def test_search_nodes_by_name_type_and_observation(client):
    client.create_entities(
        [
            {"name": "Alice", "entityType": "person",
             "observations": ["drinks espresso"]},
            {"name": "Acme Corp", "entityType": "company",
             "observations": ["sells anvils"]},
        ]
    )
    assert [e["name"] for e in client.search_nodes("Alice")["entities"]] == [
        "Alice"
    ]
    assert [
        e["name"] for e in client.search_nodes("espresso")["entities"]
    ] == ["Alice"]
    assert [
        e["name"] for e in client.search_nodes("company")["entities"]
    ] == ["Acme Corp"]
    none = client.search_nodes("zzzznomatch")
    assert none["entities"] == [] and none["relations"] == []
    with pytest.raises(ValueError):
        client.search_nodes("")


def test_relations_roundtrip_and_delete(client):
    # client.test.ts: 'creates and retrieves relations', 'deletes a
    # specific relation', 'throws when deleting nonexistent relation'
    client.create_entities(
        [
            {"name": "Alice", "entityType": "person",
             "observations": ["x"]},
            {"name": "Bob", "entityType": "person",
             "observations": ["y"]},
        ]
    )
    client.create_relations(
        [{"from": "Alice", "to": "Bob", "relationType": "knows"}]
    )
    graph = client.read_graph()
    assert graph["relations"] == [
        {"from": "Alice", "to": "Bob", "relationType": "knows"}
    ]
    client.delete_relation("Alice", "Bob", "knows")
    assert client.read_graph()["relations"] == []
    with pytest.raises(ValueError, match="Relation not found"):
        client.delete_relation("Alice", "Bob", "knows")
    with pytest.raises(ValueError, match="non-empty"):
        client.create_relations(
            [{"from": "", "to": "Bob", "relationType": "t"}]
        )


def test_delete_entity_cascades(client):
    # client.test.ts: 'deletes entity and cascades', 'throws when
    # deleting nonexistent entity', get_entity throws after delete
    client.create_entities(
        [
            {"name": "Alice", "entityType": "person",
             "observations": ["x"]},
            {"name": "Bob", "entityType": "person",
             "observations": ["y"]},
        ]
    )
    client.create_relations(
        [{"from": "Alice", "to": "Bob", "relationType": "knows"}]
    )
    client.delete_entity("Alice")
    with pytest.raises(ValueError, match="Entity not found: Alice"):
        client.get_entity("Alice")
    graph = client.read_graph()
    assert graph["relations"] == []
    assert [e["name"] for e in graph["entities"]] == ["Bob"]
    with pytest.raises(ValueError, match="Entity not found"):
        client.delete_entity("Ghost")


def test_read_graph_empty_store(client):
    g = client.read_graph()
    assert g["entities"] == [] and g["relations"] == []


def test_clients_opening_one_new_path_share_its_first_version(spark, tmp_path):
    """Two clients that open the same new store at once both start:
    one creates the empty v0, the other finds it."""
    import threading

    path = str(tmp_path / "shared")
    clients, errors = [], []

    def open_client():
        try:
            clients.append(MemoryClient(spark, path))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=open_client) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and len(clients) == 2
    assert clients[0].store.list_versions() == [0]
    assert clients[1].read_graph() == {"entities": [], "relations": []}


def test_recency_ordering_preserved_across_upserts(client):
    # stored created_at survives upserts (client.ts:145-156), so
    # recency order is by FIRST creation
    client.create_entities(
        [{"name": "old", "entityType": "t", "observations": ["1"]}]
    )
    client.create_entities(
        [{"name": "new", "entityType": "t", "observations": ["2"]}]
    )
    client.create_entities(  # upsert the old one
        [{"name": "old", "entityType": "t2", "observations": ["3"]}]
    )
    names = [e["name"] for e in client.get_recent_entities(2)]
    assert names == ["new", "old"]


def test_search_similar_restores_historical_vector_api(client):
    # the reference's ≤v0.0.15 vector search (CHANGELOG bb71f9c):
    # topical similarity over observations, not substring match
    client.create_entities(
        [
            {"name": "coffee-notes", "entityType": "topic",
             "observations": ["espresso roast brewing grinder beans"]},
            {"name": "space-notes", "entityType": "topic",
             "observations": ["rocket orbit launch satellite mars"]},
            {"name": "cooking-notes", "entityType": "topic",
             "observations": ["recipe oven baking flour sugar"]},
        ]
    )
    out = client.search_similar("brewing the perfect espresso beans", k=2)
    assert out[0]["name"] == "coffee-notes"
    assert out[0]["score"] > out[-1]["score"] or len(out) == 1
    assert out[0]["observations"]
    with pytest.raises(ValueError):
        client.search_similar("   ")


def test_long_session_keeps_the_delta_chain_bounded(client):
    # 32 create_entities calls on one client: each write's delta would
    # roughly double the entities plan if the chain were never folded
    import json

    from mcp_memory_libsql_spark import mcp_tools as mt

    store = client.store
    latest, plans = {}, []
    for call in range(1, 33):
        batch = [
            {"name": f"s{call}n{i}", "entityType": "fresh",
             "observations": [f"first seen in call {call}"]}
            for i in range(4)
        ] + [
            {"name": f"s{k}n{i}", "entityType": f"type{call}",
             "observations": [f"updated in call {call}", f"note {i}"]}
            for k in (call - 1, call // 2) if k > 0
            for i in range(2)
        ]
        reply = mt.dispatch(client, "create_entities", {"entities": batch})
        assert "isError" not in reply, reply
        chain = store.delta_chain_length()
        assert chain <= 4, (call, chain)
        ents = store.read()["entities"]
        plans.append(
            len(ents._jdf.queryExecution().optimizedPlan().toString().splitlines())
        )
        # no read ever folds a deeper plan than the one at chain 4
        assert plans[-1] <= plans[min(call, 4) - 1], (call, plans)
        latest.update((e["name"], e) for e in batch)

    found = json.loads(
        mt.dispatch(client, "search_nodes", {"query": "s32n3"})["content"][0]["text"]
    )
    assert [e["name"] for e in found["entities"]] == ["s32n3"]
    g = store.read()
    ents = {r.name: (r.entity_type, r.created_at) for r in g["entities"].collect()}
    obs = {}
    for r in g["observations"].collect():
        obs.setdefault(r.entity_name, []).append(r.content)
    assert {n: t for n, (t, _) in ents.items()} == {
        n: e["entityType"] for n, e in latest.items()
    }
    assert {n: sorted(o) for n, o in obs.items()} == {
        n: sorted(e["observations"]) for n, e in latest.items()
    }
    # s{k}n2 and s{k}n3 are never upserted, so they hold call k's
    # stamp; the upserted s{k}n0 and s{k}n1 must hold it too, and the
    # stamps rise from call to call across the checkpoints
    stamps = [ents[f"s{k}n3"][1] for k in range(1, 33)]
    for k, stamp in enumerate(stamps, 1):
        assert {ents[f"s{k}n{i}"][1] for i in range(4)} == {stamp}, k
    assert stamps == sorted(set(stamps))
    # checkpoints write no more files per table than the first snapshot
    import os

    def files(v):
        return {t: sum(f.endswith(".parquet") for f in os.listdir(store._dir(v, t)))
                for t in store.TABLES}

    snapshots = [v for v in store.list_versions()
                 if store.version_type(v).startswith("snapshot")]
    assert len(snapshots) > 1
    assert all(
        files(v)[t] <= files(0)[t] for v in snapshots for t in store.TABLES
    ), {v: files(v) for v in snapshots}


class TestMcpTools:
    """The MCP dispatch layer mirrors src/index.ts tool-for-tool:
    names/schemas, success strings, JSON read payloads, internal_error
    envelope."""

    @pytest.fixture()
    def client(self, spark, tmp_path):
        from mcp_memory_libsql_spark.api import MemoryClient

        return MemoryClient(spark, str(tmp_path / "mcp_store"))

    def test_tool_list_matches_reference(self):
        from mcp_memory_libsql_spark import mcp_tools

        names = [t["name"] for t in mcp_tools.list_tools()]
        assert names == [
            "create_entities", "search_nodes", "read_graph",
            "create_relations", "delete_entity", "delete_relation",
        ]
        by = {t["name"]: t for t in mcp_tools.TOOLS}
        assert by["delete_entity"]["annotations"]["destructiveHint"]
        assert by["search_nodes"]["annotations"]["readOnlyHint"]

    def test_round_trip(self, client):
        import json

        from mcp_memory_libsql_spark import mcp_tools as mt

        r = mt.dispatch(client, "create_entities", {"entities": [
            {"name": "alpha", "entityType": "person",
             "observations": ["likes spark"]},
            {"name": "beta", "entityType": "person",
             "observations": ["likes sql"]},
        ]})
        assert r["content"][0]["text"] == (
            "Successfully processed 2 entities (created new or updated existing)"
        )
        r = mt.dispatch(client, "create_relations", {"relations": [
            {"source": "alpha", "target": "beta", "type": "knows"},
        ]})
        assert r["content"][0]["text"] == "Created 1 relations"
        r = mt.dispatch(client, "search_nodes", {"query": "spark"})
        body = json.loads(r["content"][0]["text"])
        assert [e["name"] for e in body["entities"]] == ["alpha"]
        assert body["relations"] == [
            {"from": "alpha", "to": "beta", "relationType": "knows"}
        ]
        r = mt.dispatch(client, "read_graph", {})
        body = json.loads(r["content"][0]["text"])
        assert {e["name"] for e in body["entities"]} == {"alpha", "beta"}
        r = mt.dispatch(client, "delete_relation", {
            "source": "alpha", "target": "beta", "type": "knows"})
        assert r["content"][0]["text"] == (
            "Successfully deleted relation: alpha -> beta (knows)"
        )
        r = mt.dispatch(client, "delete_entity", {"name": "alpha"})
        assert r["content"][0]["text"] == (
            'Successfully deleted entity "alpha" and its associated data'
        )
        body = json.loads(
            mt.dispatch(client, "read_graph", {})["content"][0]["text"]
        )
        assert {e["name"] for e in body["entities"]} == {"beta"}

    def test_repeated_name_in_one_call_keeps_the_last_occurrence(self, client):
        # the reference applies a call's entities one after another, so
        # the last occurrence of a name replaces type and observations
        import json

        from mcp_memory_libsql_spark import mcp_tools as mt

        def create(*entities):
            r = mt.dispatch(client, "create_entities", {"entities": [
                {"name": n, "entityType": t, "observations": obs}
                for n, t, obs in entities
            ]})
            assert "isError" not in r, r

        create(("A", "alpha", ["first"]), ("A", "zeta", ["second"]))
        create(("B", "orig", ["b0"]))
        create(("B", "mid", ["m1", "m2"]), ("B", "last", ["l1"]))
        create(("C", "t1", [f"one {i:02}" for i in range(60)]),
               ("C", "t2", [f"two {i:02}" for i in range(60)]))
        body = json.loads(
            mt.dispatch(client, "read_graph", {})["content"][0]["text"]
        )
        got = {e["name"]: (e["entityType"], sorted(e["observations"]))
               for e in body["entities"]}
        assert got == {
            "A": ("zeta", ["second"]),
            "B": ("last", ["l1"]),
            "C": ("t2", [f"two {i:02}" for i in range(60)]),
        }

    def test_handler_error_becomes_internal_error_payload(self, client):
        import json

        from mcp_memory_libsql_spark import mcp_tools as mt

        # empty search query: the db layer raises, the tool layer wraps
        r = mt.dispatch(client, "search_nodes", {"query": "   "})
        assert r["isError"] is True
        body = json.loads(r["content"][0]["text"])
        assert body["error"] == "internal_error"
        assert body["message"]

    def test_schema_rejections_raise(self, client):
        from mcp_memory_libsql_spark import mcp_tools as mt

        with pytest.raises(ValueError, match="unknown tool"):
            mt.dispatch(client, "nope", {})
        with pytest.raises(ValueError, match="required"):
            mt.dispatch(client, "create_entities", {})
        with pytest.raises(ValueError, match="256"):
            mt.dispatch(client, "delete_entity", {"name": "x" * 257})
        with pytest.raises(ValueError, match="at most 50"):
            mt.dispatch(client, "search_nodes", {"query": "q", "limit": 99})
        with pytest.raises(ValueError, match="at most 50 items"):
            mt.dispatch(client, "create_entities", {"entities": [
                {"name": f"e{i}", "entityType": "t", "observations": []}
                for i in range(51)
            ]})

    def test_lone_surrogates_match_the_stored_form(self, client):
        # "\ud800" is valid JSON for a lone surrogate; the store holds it
        # as U+FFFD, and every tool resolves the same string to that form
        import json

        from mcp_memory_libsql_spark import mcp_tools as mt

        name, other = "lone\ud800name", "plain"
        r = mt.dispatch(client, "create_entities", {"entities": [
            {"name": name, "entityType": "t\udfff",
             "observations": ["obs \ud800 here"]},
            {"name": other, "entityType": "t", "observations": ["x"]},
        ]})
        assert "isError" not in r
        r = mt.dispatch(client, "create_relations", {"relations": [
            {"source": name, "target": other, "type": "rel\ud800"},
        ]})
        assert "isError" not in r
        r = mt.dispatch(client, "search_nodes", {"query": name})
        assert "isError" not in r, r
        body = json.loads(r["content"][0]["text"])
        assert body["entities"] == [{
            "name": "lone\ufffdname", "entityType": "t\ufffd",
            "observations": ["obs \ufffd here"],
        }]
        assert body["relations"] == [
            {"from": "lone\ufffdname", "to": other, "relationType": "rel\ufffd"}
        ]
        r = mt.dispatch(client, "delete_relation", {
            "source": name, "target": other, "type": "rel\ud800"})
        assert "isError" not in r, r
        r = mt.dispatch(client, "delete_entity", {"name": name})
        assert "isError" not in r, r
        body = json.loads(
            mt.dispatch(client, "read_graph", {})["content"][0]["text"]
        )
        assert [e["name"] for e in body["entities"]] == [other]
        assert body["relations"] == []


class TestJvmLocalCalls:
    """The tool path launches only jobs that move data: batches plan as
    ``LocalRelation``s and replies need no shuffle."""

    def test_every_batch_is_a_local_relation(self, spark, tmp_path, monkeypatch):
        from mcp_memory_libsql_spark.kg.store import GraphStore

        plans = []

        def record(frames):
            plans.extend(
                f._jdf.queryExecution().optimizedPlan().toString()
                for f in frames.values()
            )

        orig_write = GraphStore.write

        def write(self, tables, *args, **kwargs):
            record(tables)
            return orig_write(self, tables, *args, **kwargs)

        monkeypatch.setattr(GraphStore, "write", write)
        client = MemoryClient(spark, str(tmp_path / "local"))  # init_empty
        assert len(plans) == 3
        monkeypatch.setattr(GraphStore, "write", orig_write)

        # write_delta receives the raw batch, before its op's prepare
        orig_delta = GraphStore.write_delta

        def write_delta(self, op, payload):
            record(payload)
            return orig_delta(self, op, payload)

        monkeypatch.setattr(GraphStore, "write_delta", write_delta)
        client.create_entities(
            [{"name": "a", "entityType": "t", "observations": ["x", "y"]},
             {"name": "b", "entityType": "t", "observations": ["z"]}]
        )
        client.create_relations([{"from": "a", "to": "b", "relationType": "r"}])
        client.delete_relation("a", "b", "r")
        client.delete_entity("a")
        assert len(plans) == 3 + 5
        for plan in plans:
            assert plan.startswith("LocalRelation"), plan

    def test_create_relations_is_one_job(self, spark, tmp_path):
        client = MemoryClient(spark, str(tmp_path / "one-job"))
        n = _jobs(spark, lambda: client.create_relations(
            [{"from": "a", "to": "b", "relationType": "r"},
             {"from": "b", "to": "c", "relationType": "r"}]
        ))
        assert n == 1

    def test_delete_relation_at_chain_zero_is_two_jobs(self, spark, tmp_path):
        # the existence check stops at the first match, then the write
        client = MemoryClient(spark, str(tmp_path / "delete-jobs"))
        client.create_relations([{"from": "a", "to": "b", "relationType": "r"}])
        client.store.checkpoint()
        assert client.store.delta_chain_length() == 0
        assert _jobs(spark, lambda: client.delete_relation("a", "b", "r")) <= 2
        assert client.store.read()["relations"].count() == 0

    def test_replies_at_chain_zero_need_few_jobs(self, spark, tmp_path):
        from mcp_memory_libsql_spark import mcp_tools as mt

        client = MemoryClient(spark, str(tmp_path / "replies"))
        client.create_entities([
            {"name": f"e{i}", "entityType": "t",
             "observations": [f"note {i} about spark", "other"]}
            for i in range(6)
        ])
        client.create_relations(
            [{"from": f"e{i}", "to": f"e{i + 1}", "relationType": "next"}
             for i in range(5)]
        )
        client.store.checkpoint()
        assert client.store.delta_chain_length() == 0
        replies = []

        def call(name, args):
            replies.append(mt.dispatch(client, name, args))

        # the top-k, the observations of its rows, their relations
        assert _jobs(spark, lambda: call("search_nodes", {"query": "spark"})) <= 4
        assert _jobs(spark, lambda: call("read_graph", {})) <= 3
        for r in replies:
            assert "isError" not in r, r
        assert '"e5"' in replies[0]["content"][0]["text"]
