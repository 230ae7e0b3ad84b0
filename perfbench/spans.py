"""Span tracing from outside the package.

``Tracer.install`` wraps public functions and methods of the package
and of PySpark with thin timers. While a traced op is open, every call
into a wrapped function records a span (name, start, end, parent, op
id) in memory; outside one, the wrappers call straight through. The
self time of a span is its duration minus the time its child spans
cover. Each op runs under its own Spark job group, and each Spark
action inside it under a sub-group, so jobs, stages and tasks can be
attributed to the op and to the action that ran them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from mcp_memory_libsql_spark import api, mcp_tools
from mcp_memory_libsql_spark.io import tables
from mcp_memory_libsql_spark.kg import search
from mcp_memory_libsql_spark.kg.store import GraphStore

# spans that run Spark jobs; each gets its own job sub-group
ACTIONS = frozenset({
    "spark.collect", "spark.count", "spark.write_parquet", "spark.write_save",
})


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _chars(args, kwargs) -> dict:
    return {"chars": len(args[0])}


class Tracer:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.groups: dict[str, tuple[int, int | None]] = {}

    # ------------------------------------------------------------ wrapping

    def _wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.op is None:
                return orig(*args, **kwargs)
            idx = tracer._open(name)
            if attrs is not None:
                tracer.spans[idx].attrs.update(attrs(args, kwargs))
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._close(idx)

        setattr(owner, attr, wrapper)

    def install(self, spark: SparkSession) -> None:
        """Wrap the package's layer boundaries and PySpark's I/O and
        action entry points."""
        self._wrap(mcp_tools, "dispatch", "mcp_tools.dispatch")
        for tool in (
            "create_entities", "create_relations", "delete_entity",
            "delete_relation", "search_nodes", "read_graph",
        ):
            self._wrap(api.MemoryClient, tool, f"api.{tool}")
        self._wrap(api, "sanitize_text", "api.sanitize_text", _chars)
        for meth in ("read", "write_delta", "list_versions", "version_type",
                     "delta_chain_length"):
            self._wrap(GraphStore, meth, f"store.{meth}")
        for fn in ("search_entities", "get_recent_entities"):
            self._wrap(search, fn, f"search.{fn}")
        self._wrap(tables, "load_table", "tables.load_table")
        df_cls = type(spark.range(0))
        self._wrap(type(spark.read), "parquet", "spark.read_parquet")
        self._wrap(type(spark), "createDataFrame", "spark.create_dataframe")
        self._wrap(df_cls, "collect", "spark.collect")
        self._wrap(df_cls, "count", "spark.count")
        writer_cls = type(spark.range(0).write)
        self._wrap(writer_cls, "parquet", "spark.write_parquet")
        self._wrap(writer_cls, "save", "spark.write_save")

    # --------------------------------------------------------------- spans

    def _open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.op, parent, time.perf_counter()))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        if name in ACTIONS:
            group = f"op{self.op}.s{idx}"
            self.groups[group] = (self.op, idx)
            self.sc.setJobGroup(group, name)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self.stack.pop()
        if self.spans[idx].name in ACTIONS:
            self.sc.setJobGroup(f"op{self.op}", "op")

    def begin_op(self, op: int) -> None:
        self.op = op
        self.groups[f"op{op}"] = (op, None)
        self.sc.setJobGroup(f"op{op}", "op")

    def end_op(self) -> None:
        self.op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------------ analysis

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.duration - sum(self.spans[c].duration for c in s.children)

    def descendants(self, idx: int):
        todo = list(self.spans[idx].children)
        while todo:
            c = todo.pop()
            yield c
            todo.extend(self.spans[c].children)

    def op_spans(self, op: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.op == op]

    def job_groups(self, op: int) -> list[str]:
        return [g for g, (o, _) in self.groups.items() if o == op]

    def spark_counts(self, op: int) -> dict[str, int]:
        """Jobs, stages that ran tasks, and completed tasks of one op,
        from the status tracker."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for group in self.job_groups(op):
            for jid in st.getJobIdsForGroup(group):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage and stage.numCompletedTasks:
                        stages += 1
                        tasks += stage.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}
