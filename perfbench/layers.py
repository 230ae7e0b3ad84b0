"""Per-layer metrics of a traced run.

Layers are named after the package's modules (``mcp_tools``, ``api``,
``kg.store`` as ``store``, ``kg.search`` as ``search``, ``io.tables``
as ``tables``) plus Spark execution (``spark``) and the process
(``proc``). Spans come from ``spans.Tracer``; shuffle, spill, GC,
input-row and skew figures come from the Spark event log. A metric a
workload never exercises reads 0 with n=0.
"""

from __future__ import annotations

import os
from collections import defaultdict

import calls
import eventlog
import stats
from spans import ACTIONS

QUERY_ACTIONS = ("spark.collect", "spark.count")


def _m(samples: list[float], unit: str, agg=stats.mean) -> dict:
    value = agg(samples) if samples else 0.0
    return {"value": float(value), "unit": unit, "n": len(samples)}


def per_layer(run, work: str, peak_rss_mb: float) -> dict[str, dict]:
    tr = run.tracer
    spans = tr.spans
    groups = eventlog.read_groups(eventlog.find_log(os.path.join(work, "eventlog")))
    untraced = defaultdict(list)
    for r in run.records:
        if not r["traced"]:
            untraced[r["pos"]].append(r["net_ms"])

    def named(op: int, *names: str) -> list[int]:
        return [i for i in tr.op_spans(op) if spans[i].name in names]

    def under(idx: int, *names: str) -> int:
        return sum(spans[d].name in names for d in tr.descendants(idx))

    def ms(idxs) -> float:
        return sum(spans[i].duration for i in idxs) * 1000

    acc: dict[str, list[float]] = defaultdict(list)
    gaps, traced_ms, untraced_ms = [], [], []
    for r in (r for r in run.records if r["traced"]):
        op, tool = r["op"], r["tool"]
        actions = named(op, *QUERY_ACTIONS)
        reads = named(op, "store.read")
        acc["mcp_tools.dispatch_self_ms"].append(
            tr.self_time(named(op, "mcp_tools.dispatch")[0]) * 1000
        )
        acc[f"api.{tool}.self_ms"].append(
            sum(tr.self_time(i) for i in named(op, f"api.{tool}")) * 1000
        )
        acc[f"api.actions_per_call.{tool}"].append(len(actions))
        acc[f"spark.action_ms.{tool}"].append(ms(named(op, *ACTIONS)))
        for key in ("jobs", "stages", "tasks"):
            acc[f"spark.{key}_per_op.{tool}"].append(r["spark"][key])
        acc["store.read_ms"].append(ms(reads))
        acc["store.reads_per_call"].append(len(reads))
        for i in reads:
            acc["store.parquet_opens_per_read"].append(under(i, "spark.read_parquet"))
            acc["store.version_lookups_per_read"].append(
                under(i, "store.list_versions", "store.version_type")
            )
        if reads:
            acc["store.delta_chain_len"].append(r["chain"])
        acc["store.write_delta_ms"] += [
            spans[i].duration * 1000 for i in named(op, "store.write_delta")
        ]
        if tool in calls.WRITE_TOOLS:
            acc["store.files_per_write"].append(r["files"])
            acc["store.bytes_per_write"].append(r["bytes"])
            acc["api.create_dataframe_ms"].append(ms(named(op, "spark.create_dataframe")))
        if tool == "create_entities":
            san = named(op, "api.sanitize_text")
            acc["api.sanitize_ms"].append(ms(san))
            acc["api.sanitize_chars"].append(sum(spans[i].attrs["chars"] for i in san))
        if tool in calls.READ_TOOLS:
            acc["mcp_tools.response_kb"].append(r["response_kb"])
            acc["search.plan_ms"] += [
                spans[i].duration * 1000
                for i in named(op, "search.search_entities", "search.get_recent_entities")
            ]
        if tool == "search_nodes" and r["entities"]:
            # the first action of search_nodes collects the ranked entities
            job = groups.get(f"op{op}.s{actions[0]}")
            if job is not None:
                acc["search.rows_scanned_per_result"].append(
                    job["input_rows"] / r["entities"]
                )
        ev = [groups[g] for g in tr.job_groups(op) if g in groups]
        for key in ("shuffle_write_bytes", "spill_bytes", "gc_ms", "input_rows"):
            acc[f"spark.{key}_per_op"].append(sum(g[key] for g in ev))
        if ev:
            acc["spark.task_skew"].append(
                max(ev, key=lambda g: g["longest_stage_ms"])["task_skew"]
            )
        selfs = sum(tr.self_time(i) for i in tr.op_spans(op)) * 1000
        gaps.append(abs(r["ms"] - selfs) / r["ms"])
        if untraced[r["pos"]]:
            traced_ms.append(r["net_ms"])
            untraced_ms.append(stats.mean(untraced[r["pos"]]))

    out = {
        "mcp_tools.dispatch_self_ms": _m(acc["mcp_tools.dispatch_self_ms"], "ms"),
        "mcp_tools.response_kb": _m(acc["mcp_tools.response_kb"], "KiB"),
    }
    for tool in calls.TOOLS:
        out[f"api.{tool}.self_ms"] = _m(acc[f"api.{tool}.self_ms"], "ms")
    out["api.sanitize_ms"] = _m(acc["api.sanitize_ms"], "ms")
    out["api.sanitize_chars"] = _m(acc["api.sanitize_chars"], "count")
    out["api.create_dataframe_ms"] = _m(acc["api.create_dataframe_ms"], "ms")
    for tool in calls.TOOLS:
        out[f"api.actions_per_call.{tool}"] = _m(acc[f"api.actions_per_call.{tool}"], "count")
    for name, unit in (
        ("store.read_ms", "ms"),
        ("store.reads_per_call", "count"),
        ("store.parquet_opens_per_read", "count"),
        ("store.version_lookups_per_read", "count"),
    ):
        out[name] = _m(acc[name], unit)
    out["store.delta_chain_len_mean"] = _m(acc["store.delta_chain_len"], "count")
    out["store.delta_chain_len_max"] = _m(acc["store.delta_chain_len"], "count", max)
    for name, unit in (
        ("store.write_delta_ms", "ms"),
        ("store.files_per_write", "count"),
        ("store.bytes_per_write", "B"),
        ("search.plan_ms", "ms"),
        ("search.rows_scanned_per_result", "ratio"),
    ):
        out[name] = _m(acc[name], unit)
    for prefix in ("action_ms", "jobs_per_op", "stages_per_op", "tasks_per_op"):
        unit = "ms" if prefix == "action_ms" else "count"
        for tool in calls.TOOLS:
            name = f"spark.{prefix}.{tool}"
            out[name] = _m(acc[name], unit)
    for name, unit in (
        ("spark.shuffle_write_bytes_per_op", "B"),
        ("spark.spill_bytes_per_op", "B"),
        ("spark.gc_ms_per_op", "ms"),
        ("spark.input_rows_per_op", "count"),
        ("spark.task_skew", "ratio"),
    ):
        out[name] = _m(acc[name], unit)
    out["proc.peak_rss_mb"] = _m([peak_rss_mb], "MiB")
    overhead = [sum(traced_ms) / sum(untraced_ms) - 1] if untraced_ms else []
    out["trace.overhead_frac"] = _m(overhead, "ratio")
    out["trace.self_sum_gap_frac"] = _m(gaps, "ratio", max)
    return out
