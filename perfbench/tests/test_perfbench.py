"""Tests of the benchmark's own parts that need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import calls  # noqa: E402
import datagen  # noqa: E402
import eventlog  # noqa: E402
import stats  # noqa: E402
from shadow import Shadow, sanitize  # noqa: E402

NAMES = sorted(["Customer#000000001", "Customer#000000002", "AFRICA", "Part#7"])
RELATIONS = sorted([
    ("Customer#000000001", "Part#7", "PURCHASED"),
    ("Customer#000000002", "Part#7", "PURCHASED"),
])


def _shadow() -> Shadow:
    return Shadow(
        entities=[
            ("AFRICA", "region", 0),
            ("Customer#000000001", "customer", 10001),
            ("Customer#000000002", "customer", 10002),
            ("Part#7", "part", 1000007),
        ],
        observations=[
            ("Customer#000000001", "segment=BUILDING", 10001),
            ("Customer#000000002", "segment=MACHINERY", 10002),
            ("Part#7", "name=red widget", 1000007),
        ],
        relations=RELATIONS,
        version=0,
    )


# ------------------------------------------------------------ call lists


@pytest.mark.parametrize("workload", sorted(calls.SESSIONS))
def test_same_seed_same_calls(workload):
    a = calls.session(workload, 7, NAMES, RELATIONS)
    b = calls.session(workload, 7, NAMES, RELATIONS)
    c = calls.session(workload, 8, NAMES, RELATIONS)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(c)
    assert [[slot for slot, _, _ in seg] for seg in a] == [
        list(seg) for seg in calls.SESSIONS[workload]
    ]


@pytest.mark.parametrize("workload", sorted(calls.SESSIONS))
def test_calls_replay_without_errors_on_the_model(workload):
    """Every generated delete targets a row that exists, and every
    input fits the tool schema limits."""
    for segment in calls.session(workload, 3, NAMES, RELATIONS):
        _replay(segment)


def _replay(segment) -> None:
    model = _shadow()
    for _, tool, args in segment:
        if tool == "delete_entity":
            assert args["name"] in model.entities
            model.delete_entity(args["name"])
        elif tool == "delete_relation":
            assert model.has_relation(args["source"], args["target"], args["type"])
            model.delete_relation(args["source"], args["target"], args["type"])
        elif tool == "create_entities":
            assert 1 <= len(args["entities"]) <= 50
            for e in args["entities"]:
                assert 1 <= len(e["observations"]) <= 100
                assert all(len(o) <= 4096 for o in e["observations"])
                assert len(e["name"]) <= 256
            model.create_entities(args["entities"])
        elif tool == "create_relations":
            assert 1 <= len(args["relations"]) <= 100
            model.create_relations(args["relations"])


def test_noise_sanitizes_to_the_clean_form():
    gen = calls.SegmentGen(("ce_mixed",), "noise", NAMES, RELATIONS)
    for _ in range(500):
        clean = gen._observation()
        assert sanitize(gen._noisy(clean, newline_runs=True), 4096) == clean
    assert sanitize(" \t a\x07b\n\n\n\nc \x00", 4096) == "ab\n\nc"
    assert sanitize("x" * 300 + "   ", 256) == "x" * 256


# ----------------------------------------------------------- shadow model


def test_upsert_keeps_created_at_and_replaces_observations():
    m = _shadow()
    m.create_entities([{
        "name": "Customer#000000001", "entityType": "vip",
        "observations": ["tier=gold", "tier=gold"],
    }])
    assert m.entities["Customer#000000001"] == ["vip", 10001]
    assert m.observations["Customer#000000001"] == ["tier=gold", "tier=gold"]
    m.create_entities([{"name": " new\x00one ", "entityType": "t", "observations": ["o"]}])
    assert m.entities["newone"] == ["t", 2]


def test_cascade_delete():
    m = _shadow()
    m.delete_entity("Part#7")
    assert "Part#7" not in m.entities
    assert "Part#7" not in m.observations
    assert m.relations == []
    assert m.search_nodes("Customer#000000001")["relations"] == []


def test_delete_relation_removes_every_exact_duplicate():
    m = _shadow()
    m.create_relations([{"source": "Customer#000000001", "target": "Part#7",
                         "type": "PURCHASED"}])
    assert len(m.relations) == 3
    m.delete_relation("Customer#000000001", "Part#7", "PURCHASED")
    assert m.relations == [("Customer#000000002", "Part#7", "PURCHASED")]


def test_fuzzy_normalization():
    m = _shadow()
    for q in ("red widget", "RED_widget", "red-widget", "red  -_ widget"):
        names = [e["name"] for e in m.search_nodes(q)["entities"]]
        assert names == ["Part#7"], q
    assert m.search_nodes("widget red")["entities"] == []


def test_relevance_then_recency_then_name_order():
    m = _shadow()
    m.create_entities([
        {"name": "zeta", "entityType": "customer-like", "observations": ["x"]},
        {"name": "alpha", "entityType": "t", "observations": ["note on customer"]},
    ])
    names = [e["name"] for e in m.search_nodes("customer", limit=50)["entities"]]
    # name hits (3) by created_at desc, then the type hit (2), then the
    # observation hit (1)
    assert names == ["Customer#000000002", "Customer#000000001", "zeta", "alpha"]


def test_limit_is_capped_at_50():
    m = _shadow()
    m.create_entities([
        {"name": f"bulk-{i:03d}", "entityType": "t", "observations": ["o"]}
        for i in range(50)
    ])
    m.create_entities([
        {"name": f"more-bulk-{i:03d}", "entityType": "t", "observations": ["o"]}
        for i in range(20)
    ])
    assert len(m.search_nodes("bulk", limit=50)["entities"]) == 50
    assert len(m.search_nodes("bulk", limit=99)["entities"]) == 50
    assert len(m.read_graph()["entities"]) == 10


def test_payload_shape():
    m = _shadow()
    out = m.search_nodes("customer#000000001")
    assert out == {
        "entities": [{"name": "Customer#000000001", "entityType": "customer",
                      "observations": ["segment=BUILDING"]}],
        "relations": [{"from": "Customer#000000001", "to": "Part#7",
                       "relationType": "PURCHASED"}],
    }


# ------------------------------------------------------------ statistics


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.min_samples(50) == 20
    assert stats.min_samples(90) == 100
    assert stats.percentile(list(range(19)), 50) is None
    assert stats.percentile(list(range(1, 21)), 50) == 10
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(1, 101)), 90) == 90


# ------------------------------------------------------- inputs and logs


def test_datagen_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = datagen.write_star_schema(str(a), 0.001, 5)
    datagen.write_star_schema(str(b), 0.001, 5)
    datagen.write_star_schema(str(c), 0.001, 6)
    assert counts["customer"] == 150 and counts["part"] == 200
    for name in counts:
        ta = pq.read_table(a / f"{name}.parquet")
        assert ta.equals(pq.read_table(b / f"{name}.parquet"))
        assert ta.num_rows == counts[name]
    assert not pq.read_table(a / "lineitem.parquet").equals(
        pq.read_table(c / "lineitem.parquet")
    )


def test_event_log_sums_per_job_group(tmp_path):
    def task(stage, launch, finish, shuffle=0, spill=0, gc=0, rows=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "JVM GC Time": gc, "Input Metrics": {"Records Read": rows},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "op1"}},
        task(1, 0, 10, shuffle=100, rows=5),
        task(1, 0, 10, shuffle=50, gc=3, rows=5),
        task(2, 0, 10),
        task(2, 0, 10),
        task(2, 0, 40, spill=7),
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(3, 0, 99, shuffle=1),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = eventlog.read_groups(str(log))
    assert list(groups) == ["op1"]
    g = groups["op1"]
    assert (g["shuffle_write_bytes"], g["spill_bytes"], g["gc_ms"], g["input_rows"]) == (
        150, 7, 3, 10,
    )
    assert g["tasks"] == 5
    assert g["longest_stage_ms"] == 60 and g["task_skew"] == 4.0
    assert eventlog.find_log(str(tmp_path)) == str(log)
