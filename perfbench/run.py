#!/usr/bin/env python3
"""Benchmark of the MCP memory server's tool calls, end to end and per layer.

    python3 perfbench/run.py --workload mcp_recall --seed 1 --seconds 20 --trace 0

Run it from the repository root. The seed store is the knowledge graph
derived from a star schema with a fixed data seed, the same for every
``--seed`` as an agent's memory would be: ``datagen.py`` writes the
schema, ``io.tables`` and ``kg.views`` derive the graph, and
``GraphStore.write`` stores it. Runs keep it under
``.perfbench/cache/``, keyed by a digest of the package and generator
sources, so only the first run in a checkout builds it. ``--seed``
picks the calls.

The run drives ``mcp_tools.dispatch`` on an ``api.MemoryClient`` with
one client thread in a closed loop: each call is sent when the
previous reply has arrived. Every reply and the store state at the end
of the first session are checked against a Python shadow model of the
reference semantics (``shadow.py``).

A run replays one seeded session (``calls.py``), each segment on a
fresh copy of the seed store, so every session sees the same
delta-chain profile. An untimed warm-up (``calls.WARMUP``) compiles
the plans the calls run; timed sessions follow while the next one is
expected to end within ``--seconds``, at least one. With ``--trace 1``
it plays an untraced and a traced session; the traced one records
spans (``spans.py``) and the Spark event log is read back
(``eventlog.py``), and the untraced one gives the tracing overhead.

Each call's latency is reported net of the CPU time a hypervisor gave
to other guests while it ran (``DESIGN.md``, "Stolen time"); the raw
wall-clock figures are printed beside them.

Prints a table of every metric with its unit and sample count, writes
the full record to ``.perfbench/records/``, and prints one JSON object
as the last line. All files go under ``.perfbench/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import calls  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
from shadow import Shadow  # noqa: E402

WORKLOADS = {
    # scale factor of the generated star schema the seed KG derives from
    "mcp_recall": 0.01,
    "mcp_ingest": 0.001,
}
# the star schema the seed store derives from is the same for every
# --seed, like the repository's fixed test data
DATA_SEED = 20_240_601
SETUP_REPS = 3
# md5 digests per bench.cpu_calib_sec sample (bench.py uses 1e6)
CALIB_DIGESTS = 200_000
# a traced run plays an untraced and a traced session, both after the
# warm-up, and compares them for the tracing overhead
MIN_SESSIONS = {0: 1, 1: 2}


# ------------------------------------------------------------ environment


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes (temp dirs, Spark scratch, event
    log) under ``work``; must run before the JVM starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the seed stores are a few MB; the package's 8g default heap only
    # inflates the resident set on a shared machine
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown (not a git checkout)"


def _environment(bench) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "git_commit": _git_commit(),
        "cpu_calib_sec": bench.cpu_calib_sec(CALIB_DIGESTS),
        "cpu_calib_digests": CALIB_DIGESTS,
        "cpu_calib_par": bench.cpu_calib_par(int(os.environ["SPARK_GRAFT_CPUS"])),
    }


def _source_key() -> str:
    """Digest of every source the seed store depends on: the package
    and the star-schema generator."""
    pkg = os.path.join(ROOT, "mcp_memory_libsql_spark")
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    )
    h = hashlib.sha256(str(DATA_SEED).encode())
    for path in files + [os.path.join(HERE, "datagen.py")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


TICK_MS = 1000 / os.sysconf("SC_CLK_TCK")


def _cpu_ms() -> tuple[float, float]:
    """(busy, stolen) CPU milliseconds of the whole machine since boot,
    summed over its cores. Busy time includes stolen time: time a
    core had work but the hypervisor ran another guest on it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (sum(v) - v[3] - v[4]) * TICK_MS, v[7] * TICK_MS


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --------------------------------------------------------------- checking


def _expected(shadow: Shadow, tool: str, args: dict):
    """Apply the call to the shadow model; return the expected reply
    text (writes) or payload (reads)."""
    if tool == "search_nodes":
        return shadow.search_nodes(args["query"], args.get("limit", 10))
    if tool == "read_graph":
        return shadow.read_graph()
    if tool == "create_entities":
        shadow.create_entities(args["entities"])
        return (
            f"Successfully processed {len(args['entities'])} entities "
            "(created new or updated existing)"
        )
    if tool == "create_relations":
        shadow.create_relations(args["relations"])
        return f"Created {len(args['relations'])} relations"
    if tool == "delete_entity":
        shadow.delete_entity(args["name"])
        return f'Successfully deleted entity "{args["name"]}" and its associated data'
    src, tgt, typ = args["source"], args["target"], args["type"]
    shadow.delete_relation(src, tgt, typ)
    return f"Successfully deleted relation: {src} -> {tgt} ({typ})"


def _matches(tool: str, reply: dict, expected) -> bool:
    if reply.get("isError"):
        return False
    text = reply["content"][0]["text"]
    if tool in calls.READ_TOOLS:
        return json.loads(text) == expected
    return text == expected


def _store_rows(client) -> dict[str, list[tuple]]:
    return {
        name: sorted(tuple(r) for r in df.collect())
        for name, df in client.store.read().items()
    }


def _user_bytes(state: dict[str, list[tuple]]) -> int:
    return sum(
        len(str(v).encode()) for rows in state.values() for row in rows for v in row
        if isinstance(v, str)
    )


# ---------------------------------------------------------------- running


class Run:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = None
        if trace:
            from spans import Tracer

            self.tracer = Tracer(spark)
            self.tracer.install(spark)
        self.failures: list[str] = []
        self.records: list[dict] = []  # one per measured call
        self.setup_s: list[float] = []
        self.store_ratio: list[float] = []
        self.op = 0

    # ---------------------------------------------------------- set-up

    def _build_seed_store(self) -> str:
        """Generate the star schema, derive the KG through io.tables
        and kg.views, and write it as the seed store (default layout)."""
        from mcp_memory_libsql_spark.io.tables import load_tables
        from mcp_memory_libsql_spark.kg import views
        from mcp_memory_libsql_spark.kg.store import GraphStore

        data = os.path.join(self.work, "data")
        store = os.path.join(self.work, "seed-store")
        t0 = time.perf_counter()
        datagen.write_star_schema(data, WORKLOADS[self.workload], DATA_SEED)
        GraphStore(self.spark, store).write(views.kg(load_tables(self.spark, data)))
        self.seed_build_s = time.perf_counter() - t0
        shutil.rmtree(data)
        return store

    def _seed_store(self) -> str:
        """The cached seed store of this workload, built first if no
        earlier run left one for the current sources."""
        self.seed_build_s = None
        cache = os.path.join(ROOT, ".perfbench", "cache")
        name = f"{self.workload}-{_source_key()}"
        path = os.path.join(cache, name)
        if not os.path.isdir(path):
            built = self._build_seed_store()
            os.makedirs(cache, exist_ok=True)
            for old in os.listdir(cache):
                if old.startswith(f"{self.workload}-") and old != name:
                    shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
            try:
                os.rename(built, path)
            except OSError:  # another run stored it first
                return built
        return path

    def _open_once(self, rep: int):
        """One set-up: a fresh copy of the seed store, a client opened
        on it, and the first reply."""
        from mcp_memory_libsql_spark import api, mcp_tools

        path = os.path.join(self.work, f"open-{rep}")
        shutil.copytree(self.seed_store, path)
        op = self._begin(traced=False)
        t0 = time.perf_counter()
        client = api.MemoryClient(self.spark, path)
        reply = mcp_tools.dispatch(client, "read_graph", {})
        self.setup_s.append(time.perf_counter() - t0)
        self._end(op)
        return client, reply

    def setup(self):
        t = time.perf_counter()
        self.seed_store = self._seed_store()
        _phase("seed store", t)
        replies = [self._open_once(rep) for rep in range(SETUP_REPS)]
        client = replies[-1][0]
        t = time.perf_counter()
        rows = _store_rows(client)
        self.base = Shadow(
            rows["entities"], rows["observations"], rows["relations"],
            client.store.current_version(),
        )
        expected = self.base.read_graph()
        if not all(_matches("read_graph", reply, expected) for _, reply in replies):
            self.failures.append("set-up: first read_graph reply differs from the model")
        _phase("shadow model load", t)

    # -------------------------------------------------------- sessions

    def _begin(self, traced: bool) -> int:
        self.op += 1
        if traced and self.tracer is not None:
            self.tracer.begin_op(self.op)
        return self.op

    def _end(self, op: int) -> None:
        if self.tracer is not None and self.tracer.op == op:
            self.tracer.end_op()

    def _segment(self, index: int, pos: int, segment, traced: bool,
                 check_state: bool) -> int:
        """Run one segment on a fresh copy of the seed store; returns the
        session position after it."""
        from mcp_memory_libsql_spark import api, mcp_tools

        path = os.path.join(self.work, f"session-{index}-{pos}")
        shutil.copytree(self.seed_store, path)
        client = api.MemoryClient(self.spark, path)
        model = self.base.copy()
        for slot, tool, args in segment:
            chain = client.store.delta_chain_length() if traced else None
            expected = _expected(model, tool, args)
            op = self._begin(traced)
            c0 = _cpu_ms()
            t0 = time.perf_counter()
            try:
                reply = mcp_tools.dispatch(client, tool, args)
            except Exception:  # noqa: BLE001 — a raise is a failed call
                reply = None
                err = traceback.format_exc()
            latency = time.perf_counter() - t0
            c1 = _cpu_ms()
            self._end(op)
            ok = reply is not None and _matches(tool, reply, expected)
            if not ok:
                detail = err if reply is None else str(reply)[:500]
                self.failures.append(f"session {index} call {pos} {tool}: {detail}")
            rec = {
                "session": index, "pos": pos, "slot": slot, "tool": tool,
                "ms": latency * 1000, "ok": ok, "traced": traced, "op": op,
                "chain": chain, "steal_ms": c1[1] - c0[1],
                "cpu_ms": (c1[0] - c0[0]) - (c1[1] - c0[1]),
            }
            # the latency on an unshared machine: each busy core lost
            # the same share of the call's time to other guests
            rec["net_ms"] = rec["ms"] * (
                1 - rec["steal_ms"] / max(rec["cpu_ms"] + rec["steal_ms"], TICK_MS)
            )
            if ok and tool in calls.READ_TOOLS:
                rec["response_kb"] = len(reply["content"][0]["text"]) / 1024
                rec["entities"] = len(expected["entities"])
            if traced and tool in calls.WRITE_TOOLS:
                vdir = os.path.join(path, f"v{client.store.current_version()}")
                files = [f for _, _, fs in os.walk(vdir) for f in fs]
                rec["files"] = sum(f.endswith(".parquet") for f in files)
                rec["bytes"] = _dir_bytes(vdir)
            if traced:
                rec["spark"] = self.tracer.spark_counts(op)
            self.records.append(rec)
            pos += 1
        state = model.state()
        self.store_ratio.append(_dir_bytes(path) / _user_bytes(state))
        if check_state and _store_rows(client) != state:
            self.failures.append(f"session {index}: final store state differs from the model")
        shutil.rmtree(path)
        return pos

    def _session(self, index: int, session, traced: bool, check_state: bool):
        pos = 0
        for k, segment in enumerate(session):
            last = k == len(session) - 1
            pos = self._segment(index, pos, segment, traced, check_state and last)

    def _calls(self, warmup: bool):
        return calls.session(
            self.workload, self.seed, sorted(self.base.entities),
            sorted(self.base.relations), warmup=warmup,
        )

    def measure(self):
        # the untimed warm-up (calls.WARMUP) compiles the plans the
        # timed calls run
        t = time.perf_counter()
        self._session(-1, self._calls(warmup=True), traced=False, check_state=False)
        _phase("warm-up", t)
        self.records.clear()
        self.store_ratio.clear()
        self.session = self._calls(warmup=False)
        start = time.perf_counter()
        cpu0 = _cpu_ms()
        longest = 0.0
        index = 0
        while index < MIN_SESSIONS[self.tracer is not None] or (
            time.perf_counter() + longest <= start + self.seconds
        ):
            traced = self.tracer is not None and index % 2 == 1
            t = time.perf_counter()
            self._session(index, self.session, traced, check_state=index == 0)
            longest = max(longest, _phase(f"session {index}", t) - t)
            index += 1
        self.sessions = index
        # share of the machine's busy time a hypervisor gave to other
        # guests while the sessions ran: what a shared host took away
        cpu1 = _cpu_ms()
        self.steal_frac = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], TICK_MS)


# -------------------------------------------------------------- metrics


def _metric(value, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def _call_metrics(plain: list[dict], key: str, suffix: str = "") -> dict[str, dict]:
    """Throughput and mean read and write latency of the calls, from
    their ``key`` latency."""
    reads = [r[key] for r in plain if r["tool"] in calls.READ_TOOLS]
    writes = [r[key] for r in plain if r["tool"] in calls.WRITE_TOOLS]
    return {
        f"ops_per_s{suffix}": _metric(
            len(plain) / (sum(r[key] for r in plain) / 1000), "1/s", len(plain)
        ),
        f"read_mean{suffix}_ms": _metric(stats.mean(reads), "ms", len(reads)),
        f"write_mean{suffix}_ms": _metric(stats.mean(writes), "ms", len(writes)),
    }


def end_to_end(run: Run) -> dict[str, dict]:
    plain = [r for r in run.records if not r["traced"]]
    return {
        "setup_s": _metric(stats.median(run.setup_s), "s", len(run.setup_s)),
        **_call_metrics(plain, "net_ms"),
        "cpu_ms_per_op": _metric(
            stats.mean([r["cpu_ms"] for r in plain]), "ms", len(plain)
        ),
        "store_bytes_per_user_byte": _metric(
            stats.median(run.store_ratio), "ratio", len(run.store_ratio)
        ),
    }


def per_tool(run: Run) -> dict[str, dict]:
    """Per-tool percentiles, printed where the ten-sample rule allows."""
    plain = [r for r in run.records if not r["traced"]]
    # the same figures from wall time, stolen time included
    out = _call_metrics(plain, "ms", "_wall")
    out["steal_frac"] = _metric(run.steal_frac, "ratio", len(plain))
    for tool in calls.TOOLS:
        ms = [r["ms"] for r in plain if r["tool"] == tool]
        for pct in (50, 90):
            out[f"{tool}_p{pct}_ms"] = _metric(stats.percentile(ms, pct), "ms", len(ms))
    deletes = [r["ms"] for r in plain if r["tool"].startswith("delete_")]
    out["delete_p50_ms"] = _metric(stats.percentile(deletes, 50), "ms", len(deletes))
    failed = sum(not r["ok"] for r in run.records)
    out["failed_frac"] = _metric(failed / max(len(run.records), 1), "ratio", len(run.records))
    return out


def _phase(name: str, t0: float) -> float:
    now = time.perf_counter()
    print(f"perfbench: {name} {now - t0:.2f}s", file=sys.stderr)
    return now


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import bench
        from mcp_memory_libsql_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        _configure_env(work, bool(args.trace))
        t = _phase("imports", T_START)
        env = _environment(bench)
        t = _phase("calibration", t)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        env["session_start_s"] = time.perf_counter() - t0
        gateway = spark.sparkContext._gateway
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        try:
            run = Run(spark, args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
            t = _phase("session start", t)
            run.setup()
            t = _phase("set-up", t)
            run.measure()
            t = _phase("measure", t)
            peak_rss = _peak_rss_mb(jvm_pid)
            app_id = spark.sparkContext.applicationId
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            t = _phase("stop", t)
        layers = None
        if args.trace:
            import layers as layer_metrics

            layers = layer_metrics.per_layer(run, work, peak_rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(run)
    tools = per_tool(run)
    shown = layers if args.trace else e2e
    _print_table(args, e2e, tools, layers)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env, "app_id": app_id,
        "sessions": run.sessions, "steal_frac": run.steal_frac,
        "session_calls": sum(len(seg) for seg in run.session),
        "seed_store_rows": {
            "entities": len(run.base.entities),
            "observations": sum(len(o) for o in run.base.observations.values()),
            "relations": len(run.base.relations),
        },
        "seed_build_s": run.seed_build_s, "setup_samples_s": run.setup_s,
        "end_to_end": e2e, "per_tool": tools, "per_layer": layers,
        "failures": run.failures,
        "calls": [{k: v for k, v in r.items() if k != "spark"} for r in run.records],
        "flush_policy": (
            "every delta is one parquet write with no fsync; reads come "
            "from the OS page cache"
        ),
    }
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": len(run.records),
        "failed": sum(not r["ok"] for r in run.records),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in shown.items()},
    }))
    return 0


def _peak_rss_mb(jvm_pid: int) -> float:
    import resource

    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return py + jvm


def _print_table(args, e2e, tools, layers) -> None:
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    groups = [("end to end", e2e), ("per tool", tools)]
    if layers is not None:
        groups.append(("per layer", layers))
    for title, metrics in groups:
        print(f"-- {title}")
        for name, m in metrics.items():
            v = m["value"]
            shown = "n/a (too few samples)" if v is None else f"{v:.4f}"
            print(f"  {name:42s} {shown:>24s} {m['unit']:8s} n={m['n']}")


if __name__ == "__main__":
    sys.exit(main())
