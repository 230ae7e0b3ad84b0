"""Batch CRUD semantics — the Spark-idiomatic replacement for the
reference's OLTP transactions (src/db/client.ts:58-186, 297-405).

The reference mutates a libSQL database row-at-a-time inside
transactions. On Spark, mutation is re-expressed as *deterministic
batch merges over immutable snapshots*: each write API takes the
current table(s) plus a batch and returns the next snapshot. A
parquet-backed ``GraphStore`` persists snapshots; on a cluster this
would be an ACID table format, with the merge below as the MERGE
logic.

- ``create_entities`` = upsert: batch rows replace existing entities
  (last-writer-wins within the batch) and *replace* all their
  observations, exactly like the reference's UPDATE-else-INSERT +
  DELETE/INSERT of observations (client.ts:140-176).
- ``delete_entity`` cascades to observations and relations
  (client.ts:340-380).
- ``delete_relation`` removes exact (source, target, type) matches
  (client.ts:382-405).

Each merge is two halves: a batch half (``_prepare_*``: sanitize,
filter, deduplicate — it reads only the batch) and a state half
(``_fold_*``: broadcast joins and unions against the stored tables).

Scale: only the batch half of an upsert shuffles, and only the batch
(its per-name windows); the state halves are broadcast joins when
the batch is small, which is the reference's access pattern, so the
stored tables never shuffle.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..sanitize import (
    MAX_OBSERVATIONS_PER_ENTITY,
    sanitize_entity_name,
    sanitize_entity_type,
    sanitize_observation,
    sanitize_relation_type,
)

# The three KG tables, as DDL schemas: every GraphStore snapshot is
# written and read back under exactly these columns and types.
SCHEMAS = {
    "entities": "name string, entity_type string, created_at bigint",
    "observations": "entity_name string, content string, created_at bigint",
    "relations": "source string, target string, relation_type string",
}


def _fields(schema: str) -> list[tuple[str, str]]:
    """``[(column, type), ...]`` of a DDL ``schema``."""
    return [tuple(f.split()) for f in schema.split(",")]


def _conform(df: DataFrame, schema: str) -> DataFrame:
    """``df`` selected and cast to the columns of a DDL ``schema``."""
    return df.select(*[F.col(n).cast(t).alias(n) for n, t in _fields(schema)])


_ARROW_TYPES = {"string": pa.string(), "bigint": pa.int64()}


def _local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A driver-side batch of ``rows`` under a DDL ``schema``, handed to
    Spark as an Arrow table: it plans as a ``LocalRelation``, so jobs
    over it run in the JVM. (A Python list plans as an RDD of pickled
    rows, and every job over it starts Python workers.)"""
    fields = _fields(schema)
    columns = list(zip(*rows)) or [()] * len(fields)
    table = pa.Table.from_arrays(
        [pa.array(c, _ARROW_TYPES[t]) for c, (_, t) in zip(columns, fields)],
        names=[n for n, _ in fields],
    )
    return spark.createDataFrame(table)


def _require_names(kind: str, frames: dict, schemas: dict) -> None:
    """``ValueError`` unless ``frames`` holds exactly the names
    ``schemas`` declares."""
    if frames.keys() != schemas.keys():
        raise ValueError(f"{kind} writes {sorted(schemas)}, got {sorted(frames)}")


def _prepare_upsert(
    batch_entities: DataFrame, batch_observations: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The batch half of an upsert: sanitize, drop invalid rows, keep
    one row per name and at most MAX_OBSERVATIONS_PER_ENTITY
    observations per entity. Reads no stored table."""
    b_ent = batch_entities.select(
        sanitize_entity_name(F.col("name")).alias("name"),
        sanitize_entity_type(F.col("entity_type")).alias("entity_type"),
        F.col("created_at").cast("bigint").alias("created_at"),
    ).where(F.col("name") != "")
    # Last-writer-wins inside the batch itself; entity_type tiebreak
    # keeps the winner deterministic when created_at ties.
    w = Window.partitionBy("name").orderBy(
        F.col("created_at").desc(), F.col("entity_type")
    )
    b_ent = (
        b_ent.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # entity_name != "" mirrors the entity-side filter: a batch row
    # whose name sanitizes away drops its ENTITY above, so its
    # observations must drop too — otherwise they'd persist as
    # undeletable orphans under entity_name "" (cascade deletes key
    # on real names and would never reach them)
    b_obs = batch_observations.select(
        sanitize_entity_name(F.col("entity_name")).alias("entity_name"),
        sanitize_observation(F.col("content")).alias("content"),
        F.col("created_at").cast("bigint").alias("created_at"),
    ).where((F.col("content") != "") & (F.col("entity_name") != ""))
    # Truncation to the cap is deterministic: first N sorted by
    # (content, created_at).
    ow = Window.partitionBy("entity_name").orderBy("content", "created_at")
    b_obs = (
        b_obs.withColumn("_rn", F.row_number().over(ow))
        .where(F.col("_rn") <= MAX_OBSERVATIONS_PER_ENTITY)
        .drop("_rn")
    )
    return b_ent, b_obs


def _fold_upsert(
    entities: DataFrame,
    observations: DataFrame,
    b_ent: DataFrame,
    b_obs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The state half of an upsert: merge a *prepared* batch (one row
    per name) into the stored tables."""
    batch_names = b_ent.select("name")
    # Existing rows for upserted names: ≤ batch size (reference caps
    # 50/call), extracted with a broadcast semi-join so the big
    # entities table never shuffles — then joined back to the batch
    # (both sides tiny) to preserve the stored created_at.
    existing = entities.join(broadcast(batch_names), "name", "leftsemi").select(
        "name", F.col("created_at").alias("_stored_created_at")
    )
    b_ent = b_ent.join(broadcast(existing), "name", "left").select(
        "name",
        "entity_type",
        F.coalesce("_stored_created_at", "created_at").alias("created_at"),
    )
    new_entities = entities.join(
        broadcast(batch_names), "name", "left_anti"
    ).unionByName(b_ent)
    kept_obs = observations.join(
        broadcast(batch_names),
        observations["entity_name"] == batch_names["name"],
        "left_anti",
    )
    return new_entities, kept_obs.unionByName(b_obs)


def upsert_entities(
    entities: DataFrame,
    observations: DataFrame,
    batch_entities: DataFrame,
    batch_observations: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Apply a create_entities batch; returns (entities', observations').

    Batch rows win over existing rows with the same name (the batch's
    ``entity_type`` replaces the stored one), but an existing entity
    KEEPS its stored ``created_at`` — the reference updates only
    entity_type on conflict (client.ts:145-156), so recency ordering
    is unaffected by upserts. Existing observations of upserted
    entities are replaced wholesale.

    Batch-semantics notes (row-at-a-time validation → batch):
    - rows whose sanitized name/content is empty are DROPPED (the
      reference throws per call; a batch merge can't abort, so invalid
      rows are filtered — use ``rejected_*`` helpers below to observe
      them);
    - entities with > MAX_OBSERVATIONS_PER_ENTITY observations keep
      the first 100 sorted by content (reference rejects the entity).

    Two halves, composed: the batch half ``_prepare_upsert`` (sanitize,
    filter, last-writer-wins, observation cap) reads only the batch;
    the state half ``_fold_upsert`` (stored-``created_at`` join,
    broadcast anti-joins, unions) merges it into the tables. A delta
    write runs the first half once; merge-on-read runs only the second.
    """
    return _fold_upsert(
        entities,
        observations,
        *_prepare_upsert(batch_entities, batch_observations),
    )


def _prepare_relations(batch_relations: DataFrame) -> DataFrame:
    """Sanitized relation rows; rows with an empty field dropped."""
    return batch_relations.select(
        sanitize_entity_name(F.col("source")).alias("source"),
        sanitize_entity_name(F.col("target")).alias("target"),
        sanitize_relation_type(F.col("relation_type")).alias("relation_type"),
    ).where((F.col("source") != "") & (F.col("target") != "") & (F.col("relation_type") != ""))


def create_relations(
    relations: DataFrame, batch_relations: DataFrame
) -> DataFrame:
    """Append sanitized relation rows (client.ts:298-338).

    Rows whose sanitized source/target/type is empty are DROPPED
    (the reference throws "Invalid relation" per call; the batch
    adaptation filters instead — ``rejected_relations`` exposes the
    discarded rows so callers can observe data loss).
    """
    return relations.unionByName(_prepare_relations(batch_relations))


def rejected_relations(batch_relations: DataFrame) -> DataFrame:
    """Rows ``create_relations`` would drop (reference-invalid input:
    empty source/target/type after sanitization)."""
    return batch_relations.where(
        (sanitize_entity_name(F.col("source")) == "")
        | (sanitize_entity_name(F.col("target")) == "")
        | (sanitize_relation_type(F.col("relation_type")) == "")
    )


def rejected_entities(batch_entities: DataFrame) -> DataFrame:
    """Entity rows ``upsert_entities`` would drop (empty sanitized
    name — the reference throws "Invalid entity name")."""
    return batch_entities.where(sanitize_entity_name(F.col("name")) == "")


def _prepare_delete_entities(names: DataFrame) -> DataFrame:
    return names.select("name").distinct()


def _fold_delete_entities(
    entities: DataFrame,
    observations: DataFrame,
    relations: DataFrame,
    names: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    n = broadcast(names)
    e2 = entities.join(n, "name", "left_anti")
    o2 = observations.join(
        n, observations["entity_name"] == n["name"], "left_anti"
    )
    r2 = relations.join(n, relations["source"] == n["name"], "left_anti")
    r2 = r2.join(n, r2["target"] == n["name"], "left_anti")
    return e2, o2, r2


def delete_entities(
    entities: DataFrame,
    observations: DataFrame,
    relations: DataFrame,
    names: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cascade delete by entity name set (client.ts:340-380)."""
    return _fold_delete_entities(
        entities, observations, relations, _prepare_delete_entities(names)
    )


_RELATION_KEY = ["source", "target", "relation_type"]


def _prepare_delete_relations(batch: DataFrame) -> DataFrame:
    return batch.select(*_RELATION_KEY).distinct()


def _fold_delete_relations(relations: DataFrame, batch: DataFrame) -> DataFrame:
    return relations.join(broadcast(batch), _RELATION_KEY, "left_anti")


def delete_relations(relations: DataFrame, batch: DataFrame) -> DataFrame:
    """Remove exact (source, target, relation_type) matches."""
    return _fold_delete_relations(relations, _prepare_delete_relations(batch))


# Both relation ops carry the same payload: a batch of relation rows.
_RELATION_BATCH = {"batch_relations": SCHEMAS["relations"]}


class GraphStore:
    """Parquet-backed persistent snapshot store for the three KG tables.

    Writes produce a new version directory and swap a ``_CURRENT``
    pointer file — coarse-grained MVCC that maps onto an ACID table
    format on a real cluster.

    **On-disk format.** ``SCHEMAS`` and ``DELTA_OPS`` declare it, and
    no other code spells out a table schema, delta op or payload:

    - ``path/_CURRENT`` holds the newest committed version ``N``. A
      ``v{N+1}`` directory without a commit is an unfinished write and
      is never read.
    - ``path/v{N}/_TYPE`` names the version's kind: ``snapshot``,
      ``snapshot:bucketed`` or ``delta:<op>`` for an op of
      ``DELTA_OPS``. A version without the marker is a snapshot.
    - A snapshot holds ``v{N}/<table>`` for each table of ``SCHEMAS``;
      a bucketed one also registers each table in the catalog.
    - A delta holds ``v{N}/<payload name>`` for each payload its op
      declares, under the declared schema. The payload is the op's
      *prepared* batch: sanitized, filtered and deduplicated once, at
      write time, by the op's ``prepare``.

    A store holding deltas written before payloads were stored
    prepared (raw batches) must be checkpointed by that older code
    first: this code folds a payload as it finds it.

    Every frame is selected and cast to its declared schema when it is
    written, and read back under that schema, so no read infers one.

    **Delta log** (incremental writes): a delta version holds just
    the prepared write batch. Reads reconstruct state lazily: load the
    newest full snapshot at-or-below the requested version, then fold
    each later delta through its op's ``fold``, the state half of the
    eager merge function (which is ``fold`` after ``prepare``). A
    merge-on-read plan therefore carries only broadcast joins and
    unions: no sanitizing regex, window or shuffle. This is the LSM /
    lakehouse MERGE pattern:
    a write costs O(batch) — at 100 TB the base is never rewritten per
    batch — while batches stay broadcast-sized, so merge-on-read
    composes broadcast joins and the base table still never shuffles.

    **Chain bound.** ``write_delta`` checkpoints (writes the merged state
    as a full snapshot) once its delta takes the chain past
    ``MAX_DELTA_CHAIN``, so no caller has to. Each upsert delta roughly
    doubles the entities plan; 4 keeps reads within about 3× of chain 0
    and checkpoints out of ``perfbench`` sessions (≤ 3 deltas each). A
    checkpoint adds a full snapshot that nothing vacuums, and a plain
    one even when the anchor was bucketed.
    """

    TABLES = tuple(SCHEMAS)
    # Longest delta chain a committed write leaves behind.
    MAX_DELTA_CHAIN = 4
    # op → ({payload name: schema}, prepare, fold). ``prepare`` takes
    # the raw payload frames in declared order and returns the frames
    # a delta stores; ``fold`` takes the three tables and then the
    # stored payload frames, both in declared order, and returns the
    # three tables after the op.
    DELTA_OPS = {
        "upsert": (
            {
                "batch_entities": SCHEMAS["entities"],
                "batch_observations": SCHEMAS["observations"],
            },
            _prepare_upsert,
            lambda e, o, r, ents, obs: (*_fold_upsert(e, o, ents, obs), r),
        ),
        "delete_entities": (
            {"names": "name string"},
            lambda names: (_prepare_delete_entities(names),),
            _fold_delete_entities,
        ),
        "create_relations": (
            _RELATION_BATCH,
            lambda batch: (_prepare_relations(batch),),
            lambda e, o, r, batch: (e, o, r.unionByName(batch)),
        ),
        "delete_relations": (
            _RELATION_BATCH,
            lambda batch: (_prepare_delete_relations(batch),),
            lambda e, o, r, batch: (e, o, _fold_delete_relations(r, batch)),
        ),
    }
    # Natural join keys: bucketing each table on its key makes
    # entities⋈observations (name = entity_name) and
    # entities⋈relations (name = source) exchange-free.
    BUCKET_KEYS = {
        "entities": "name",
        "observations": "entity_name",
        "relations": "source",
    }

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _version_file(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._version_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _dir(self, version: int, name: str = "") -> str:
        return os.path.join(self.path, f"v{version}", name)

    def init_empty(self) -> None:
        self.write({t: _local_frame(self.spark, [], s) for t, s in SCHEMAS.items()})

    def list_versions(self) -> list[int]:
        try:
            return sorted(
                int(d[1:])
                for d in os.listdir(self.path)
                if d.startswith("v") and d[1:].isdigit()
            )
        except FileNotFoundError:
            return []

    def version_type(self, version: int) -> str:
        """``"snapshot"`` or ``"delta:<op>"``. Versions written before
        the delta log existed carry no marker and are snapshots."""
        try:
            with open(self._dir(version, "_TYPE")) as f:
                return f.read().strip()
        except FileNotFoundError:
            return "snapshot"

    def _chain(self, version: int | None) -> tuple[int, str, list[tuple[int, str]]]:
        """What a read at ``version`` (default: current) folds →
        ``(anchor, anchor kind, [(delta version, kind), ...])``, deltas
        oldest first. The anchor is the newest snapshot at or below
        ``version``. Only committed versions can be read."""
        current = self.current_version()
        v = current if version is None else version
        below = [x for x in self.list_versions() if x <= v]
        if not 0 <= v <= current or not below or below[-1] != v:
            raise FileNotFoundError(f"no committed version v{v} at {self.path}")
        deltas = []
        for x in reversed(below):
            kind = self.version_type(x)
            if kind.startswith("snapshot"):
                return x, kind, deltas[::-1]
            deltas.append((x, kind))
        raise FileNotFoundError(
            f"no anchor snapshot at or below v{v} at {self.path}"
        )

    def _load(self, version: int, name: str, schema: str) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self._dir(version, name))

    def read(self, version: int | None = None) -> dict[str, DataFrame]:
        """Read the current state, or time-travel to ``version``.

        Merge-on-read: loads the anchor snapshot, then folds every
        delta in ``(anchor, version]`` through the batch merge
        functions. The result is a lazy plan; no data moves until an
        action runs."""
        anchor, kind, deltas = self._chain(version)
        if kind == "snapshot:bucketed":
            tables = {
                tbl: self.spark.table(self._bucket_table(tbl, anchor))
                for tbl in self.TABLES
            }
        else:
            tables = {
                tbl: self._load(anchor, tbl, schema)
                for tbl, schema in SCHEMAS.items()
            }
        for dv, kind in deltas:
            tables = self._apply_delta(tables, dv, kind)
        return tables

    def _apply_delta(
        self, tables: dict[str, DataFrame], version: int, kind: str
    ) -> dict[str, DataFrame]:
        op = kind.removeprefix("delta:")
        if op == kind or op not in self.DELTA_OPS:
            raise ValueError(f"v{version} is not a delta (type={kind!r})")
        payload, _, fold = self.DELTA_OPS[op]
        frames = [self._load(version, n, s) for n, s in payload.items()]
        return dict(
            zip(self.TABLES, fold(*(tables[t] for t in self.TABLES), *frames))
        )

    def _commit_version(self, v: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._version_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._version_file())

    def _bucket_table(self, table: str, version: int) -> str:
        import hashlib

        digest = hashlib.md5(self.path.encode()).hexdigest()[:8]
        return f"gs_{digest}_v{version}_{table}"

    def _write_version(
        self,
        kind: str,
        frames: dict[str, DataFrame],
        schemas: dict[str, str],
        n_buckets: int | None = None,
    ) -> int:
        """Write ``frames`` as the next version and commit it — the one
        place a version number is claimed. Each frame is selected and
        cast to its schema in ``schemas``; a name ``schemas`` does not
        declare, or one it declares but ``frames`` lacks, raises
        ``ValueError``. ``n_buckets`` writes bucketed catalog tables
        instead of plain parquet."""
        _require_names(kind, frames, schemas)
        v = self.current_version() + 1
        for name, schema in schemas.items():
            w = _conform(frames[name], schema).write.mode("overwrite")
            if n_buckets is None:
                w.parquet(self._dir(v, name))
                continue
            key = self.BUCKET_KEYS[name]
            (
                # explicit path → an EXTERNAL table whose data lives
                # inside the store's version dir: the catalog holds
                # only bucketing metadata, so this works under any
                # session whose warehouse dir (CWD-relative by
                # default) is unwritable, and vacuum's rmtree of
                # the version dir reclaims the data files
                w.option("path", self._dir(v, name))
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(self._bucket_table(name, v))
            )
        os.makedirs(self._dir(v), exist_ok=True)
        with open(self._dir(v, "_TYPE"), "w") as f:
            f.write(kind)
        self._commit_version(v)
        return v

    def write(
        self,
        tables: dict[str, DataFrame],
        bucketed: bool = False,
        n_buckets: int = 32,
    ) -> int:
        """Write a FULL snapshot (cost O(store) — use the ``apply_*``
        delta writers for incremental batches).

        ``bucketed=True`` persists each table as a managed
        bucketed+sorted table on its natural join key (BUCKET_KEYS),
        so entity⋈observation / entity⋈relation reads off this
        snapshot are exchange-free — the ingest-time layout a
        read-heavy 100 TB KG wants. The version directory still holds
        the ``_TYPE`` marker; MVCC/time-travel semantics are
        unchanged."""
        kind = "snapshot:bucketed" if bucketed else "snapshot"
        return self._write_version(
            kind, tables, SCHEMAS, n_buckets if bucketed else None
        )

    def write_delta(self, op: str, payload: dict[str, DataFrame]) -> int:
        """Append a delta version holding only the write batch, run
        through the op's ``prepare`` first; returns its version.

        Cost is O(batch) regardless of store size, except for the write
        that takes the chain past ``MAX_DELTA_CHAIN``: it checkpoints, at
        O(store). Requires an existing anchor snapshot."""
        if op not in self.DELTA_OPS:
            raise ValueError(f"unknown delta op {op!r}")
        if self.current_version() < 0:
            raise FileNotFoundError(
                "delta write needs an anchor snapshot; call init_empty()/write() first"
            )
        kind = f"delta:{op}"
        schemas, prepare, _ = self.DELTA_OPS[op]
        _require_names(kind, payload, schemas)
        prepared = prepare(*(payload[n] for n in schemas))
        v = self._write_version(kind, dict(zip(schemas, prepared)), schemas)
        if self.delta_chain_length() > self.MAX_DELTA_CHAIN:
            self.checkpoint()
        return v

    def _delta(self, op: str, *frames: DataFrame) -> int:
        """``write_delta`` with the payload frames in declared order."""
        return self.write_delta(op, dict(zip(self.DELTA_OPS[op][0], frames)))

    def apply_upsert(
        self, batch_entities: DataFrame, batch_observations: DataFrame
    ) -> int:
        """create_entities as an O(batch) delta write."""
        return self._delta("upsert", batch_entities, batch_observations)

    def apply_delete_entities(self, names: DataFrame) -> int:
        return self._delta("delete_entities", names)

    def apply_create_relations(self, batch_relations: DataFrame) -> int:
        return self._delta("create_relations", batch_relations)

    def apply_delete_relations(self, batch_relations: DataFrame) -> int:
        return self._delta("delete_relations", batch_relations)

    def delta_chain_length(self, version: int | None = None) -> int:
        """Number of deltas folded into a read at ``version`` — the
        read-path plan-depth metric ``write_delta`` bounds."""
        return len(self._chain(version)[2])

    def checkpoint(self, bucketed: bool = False, n_buckets: int = 32) -> int:
        """Materialize merge-on-read state into a new full snapshot,
        resetting delta-chain depth to zero (LSM compaction).
        ``bucketed=True`` re-establishes the join-key bucket layout
        at the same time — compaction and clustering in one pass."""
        return self.write(self.read(), bucketed=bucketed, n_buckets=n_buckets)


    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Snapshot GC: delete all but the newest ``keep_last``
        snapshot versions (never the current pointer's target).
        Returns the versions removed. The MVCC contract survives: any
        reader that resolved ``_CURRENT`` before the vacuum reads a
        retained version, because retention is newest-first and the
        pointer always names the newest."""
        import shutil

        versions = self.list_versions()
        keep = set(versions[-max(keep_last, 1):]) | {self.current_version()}
        # A retained delta needs its anchor snapshot and every delta in
        # between — extend retention down to the oldest such anchor so
        # merge-on-read never dangles.
        anchor = self._chain(min(keep))[0]
        keep |= {v for v in versions if v >= anchor}
        removed = []
        for v in versions:
            if v not in keep:
                if self.version_type(v) == "snapshot:bucketed":
                    for tbl in self.TABLES:
                        self.spark.sql(
                            f"DROP TABLE IF EXISTS {self._bucket_table(tbl, v)}"
                        )
                shutil.rmtree(self._dir(v))
                removed.append(v)
        return removed

    def compact(self, target_partitions: int = 4) -> int:
        """Rewrite the current snapshot with each table coalesced to
        ``target_partitions`` files — the small-file compaction an
        upsert-heavy store needs (a checkpoint's file count tracks the
        folded plan's partitions, not the data size). Produces a NEW
        snapshot version (readers of old versions are untouched); on a
        cluster this is the OPTIMIZE job an ACID table format schedules."""
        tables = {
            tbl: df.coalesce(target_partitions)
            for tbl, df in self.read().items()
        }
        return self.write(tables)

    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level snapshot diff → (table_name, change, row_key):
        which rows were added/removed between two versions — the
        audit query every versioned store needs ("what changed since
        yesterday's snapshot"), and the input to incremental
        downstream refresh (recompute only communities/ranks touching
        changed rows).

        Both sides are lazy merge-on-read plans; each table
        contributes two anti-joins on a rendered full-row key. Rows
        are compared by VALUE (a changed entity shows as removed +
        added) — at 100 TB both sides read from parquet snapshots
        whose shared anchor files dominate, so the anti-joins shuffle
        only the (small) delta-affected keys under AQE."""
        before = self.read(v_from)
        after = self.read(self.current_version() if v_to is None else v_to)
        parts = []
        for tbl in self.TABLES:
            cols = before[tbl].columns
            # JSON struct rendering, not concat_ws: concat_ws skips
            # NULLs and is ambiguous when a value contains the
            # separator ("a|b","c" vs "a","b|c" would compare equal
            # and the diff would miss the change)
            key = F.to_json(
                F.struct(
                    *[F.col(c).cast("string").alias(c) for c in cols]
                )
            ).alias("row_key")
            ka = before[tbl].select(key).distinct()
            kb = after[tbl].select(key).distinct()
            added = kb.join(ka, "row_key", "left_anti").select(
                F.lit(tbl).alias("table_name"),
                F.lit("added").alias("change"),
                "row_key",
            )
            removed = ka.join(kb, "row_key", "left_anti").select(
                F.lit(tbl).alias("table_name"),
                F.lit("removed").alias("change"),
                "row_key",
            )
            parts.append(added.unionByName(removed))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
