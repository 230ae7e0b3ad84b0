"""Batch CRUD semantics — the Spark-idiomatic replacement for the
reference's OLTP transactions (src/db/client.ts:58-186, 297-405).

The reference mutates a libSQL database row-at-a-time inside
transactions. On Spark, mutation is re-expressed as *deterministic
batch merges over immutable snapshots*: each write API takes the
current table(s) plus a batch and returns the next snapshot. A
parquet-backed ``GraphStore`` persists snapshots; on a cluster this
would be an ACID table format, with the merge below as the MERGE
logic. A version is published by renaming its finished directory to
``v{N}``, so it exists exactly when that directory does (for a store
written by earlier code, which moved a pointer file, see
``GraphStore``).

- ``create_entities`` = upsert: batch rows replace existing entities
  (last-writer-wins within the batch) and *replace* all their
  observations, exactly like the reference's UPDATE-else-INSERT +
  DELETE/INSERT of observations (client.ts:140-176).
- ``delete_entity`` cascades to observations and relations
  (client.ts:340-380).
- ``delete_relation`` removes exact (source, target, type) matches
  (client.ts:382-405).

Each merge is two halves: a batch half (``_prepare_*``: sanitize,
filter, keep one upsert row per name — it reads only the batch) and a
state half (``_fold_upsert``, ``delete_*``: broadcast joins and unions
against the stored tables). A delete has no batch half: its anti-joins
ignore repeated keys.

Scale: only the batch half of an upsert shuffles, and only the batch
(its per-name windows); the state halves are broadcast joins when
the batch is small, which is the reference's access pattern, so the
stored tables never shuffle.
"""

from __future__ import annotations

import contextlib
import errno
import os
import shutil
import uuid

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


def _parquet_files(path: str) -> int:
    """Number of parquet data files in a table directory."""
    return sum(f.endswith(".parquet") for f in os.listdir(path))


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


def delete_entities(
    entities: DataFrame,
    observations: DataFrame,
    relations: DataFrame,
    names: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cascade delete by entity name set (client.ts:340-380).

    Broadcast anti-joins only: a name repeated in ``names`` removes
    nothing more, so the batch needs no deduplication."""
    n = broadcast(names)
    e2 = entities.join(n, "name", "left_anti")
    o2 = observations.join(
        n, observations["entity_name"] == n["name"], "left_anti"
    )
    r2 = relations.join(n, relations["source"] == n["name"], "left_anti")
    r2 = r2.join(n, r2["target"] == n["name"], "left_anti")
    return e2, o2, r2


def delete_relations(relations: DataFrame, batch: DataFrame) -> DataFrame:
    """Remove exact (source, target, relation_type) matches: a broadcast
    anti-join, so a row repeated in ``batch`` removes nothing more."""
    return relations.join(
        broadcast(batch), ["source", "target", "relation_type"], "left_anti"
    )


# Both relation ops carry the same payload: a batch of relation rows.
_RELATION_BATCH = {"batch_relations": SCHEMAS["relations"]}


class GraphStore:
    """Parquet-backed persistent snapshot store for the three KG tables.

    **Publish rule.** A write puts its files and its ``_TYPE`` marker
    in a private pending directory under ``path``, then makes it
    version ``N`` with one ``os.rename`` onto ``v{N}``. A version
    exists exactly when its directory does, so no reader or writer
    sees a half-written one, and two writers cannot both take ``v{N}``:
    the loser's rename fails and it claims again (a delta) or raises
    (a snapshot). This is coarse-grained MVCC with no pointer file and
    no lock; on a real cluster it maps onto an ACID table format.

    **On-disk format.** ``SCHEMAS`` and ``DELTA_OPS`` declare it, and
    no other code spells out a table schema, delta op or payload:

    - The newest ``path/v{N}`` directory is the current version. Any
      other entry of ``path`` (a pending write, a stream checkpoint)
      is never read.
    - ``path/v{N}/_TYPE`` names the version's kind: ``snapshot`` or
      ``delta:<op>`` for an op of ``DELTA_OPS``. A version without the
      marker is a snapshot.
    - A snapshot holds ``v{N}/<table>`` for each table of ``SCHEMAS``,
      as plain parquet. Every version is files under ``v{N}/`` only;
      a write touches no catalog.
    - A delta holds ``v{N}/<payload name>`` for each payload its op
      declares, under the declared schema. The payload is the batch as
      the op's ``prepare`` leaves it at write time: an upsert's or a
      relation create's sanitized and filtered once (an upsert's with
      one row per name), a delete's as given.

    A store written by earlier code, which committed a version by
    moving a pointer file, may hold a ``v{N}`` above the pointer, left
    by a writer that crashed before its commit. This code ignores the
    pointer and would read that directory as current: delete it before
    opening the store. A store holding deltas written before payloads
    were stored prepared (raw batches) must be checkpointed by that
    older code first: this code folds a payload as it finds it. A store
    holding a ``snapshot:bucketed`` version (catalog-registered
    bucketed tables, which only the per-session temp artifact of
    ``registry._kg`` ever held) is not readable either: a read anchors
    on ``snapshot`` only.

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
    A stored payload does not depend on the version it lands on, which
    is what lets a delta that lost its claim simply claim the next one.

    **Chain bound.** ``write_delta`` checkpoints (writes the merged state
    as a full snapshot) once its delta takes the chain past
    ``MAX_DELTA_CHAIN``, so no caller has to. Each upsert delta roughly
    doubles the entities plan; 4 keeps reads within about 3× of chain 0
    and checkpoints out of ``perfbench`` sessions (≤ 3 deltas each). A
    checkpoint adds a full snapshot that nothing vacuums.
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
            lambda names: (names,),
            delete_entities,
        ),
        "create_relations": (
            _RELATION_BATCH,
            lambda batch: (_prepare_relations(batch),),
            lambda e, o, r, batch: (e, o, r.unionByName(batch)),
        ),
        "delete_relations": (
            _RELATION_BATCH,
            lambda batch: (batch,),
            lambda e, o, r, batch: (e, o, delete_relations(r, batch)),
        ),
    }

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def current_version(self) -> int:
        """The newest version, or -1 for a store with none."""
        return max(self.list_versions(), default=-1)

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

    def _chain(self, version: int | None) -> tuple[int, list[tuple[int, str]]]:
        """What a read at ``version`` (default: current) folds →
        ``(anchor, [(delta version, kind), ...])``, deltas oldest
        first. The anchor is the newest snapshot at or below
        ``version``."""
        versions = self.list_versions()
        v = max(versions, default=-1) if version is None else version
        if v not in versions:
            raise FileNotFoundError(f"no version v{v} at {self.path}")
        deltas = []
        for x in reversed(versions[: versions.index(v) + 1]):
            kind = self.version_type(x)
            if kind == "snapshot":
                return x, deltas[::-1]
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
        anchor, deltas = self._chain(version)
        tables = {
            tbl: self._load(anchor, tbl, schema) for tbl, schema in SCHEMAS.items()
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

    def _write_version(
        self,
        kind: str,
        frames: dict[str, DataFrame],
        schemas: dict[str, str],
        version: int | None = None,
    ) -> int:
        """Write ``frames`` and publish them as a version — the one
        place a version is claimed. Each frame is selected and cast to
        its schema in ``schemas`` and written as parquet into a pending
        directory, which one ``os.rename`` then makes ``v{N}``. With
        ``version=None`` the write takes the next free version, at
        whatever head other writers have moved to; otherwise it claims
        exactly ``version`` and raises ``FileExistsError`` if another
        write took it. A name ``schemas`` does not declare, or one it
        declares but ``frames`` lacks, raises ``ValueError``. A write
        that raises leaves no pending directory behind."""
        _require_names(kind, frames, schemas)
        # Spark creates it, so it gets the mode of any other directory
        # it writes; the name never parses as a version
        pending = os.path.join(self.path, f"_pending-{uuid.uuid4().hex}")
        try:
            for name, schema in schemas.items():
                _conform(frames[name], schema).write.parquet(
                    os.path.join(pending, name)
                )
            with open(os.path.join(pending, "_TYPE"), "w") as f:
                f.write(kind)
            while True:
                v = self.current_version() + 1 if version is None else version
                try:
                    os.rename(pending, os.path.join(self.path, f"v{v}"))
                    return v
                except OSError as e:
                    if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                        raise
                    if version is not None:
                        raise FileExistsError(f"v{v} of {self.path} is taken") from e
        finally:
            shutil.rmtree(pending, ignore_errors=True)

    def write(self, tables: dict[str, DataFrame]) -> int:
        """Write a FULL snapshot (cost O(store) — use ``write_delta``
        for incremental batches) as the version after the current one;
        ``FileExistsError`` if another write takes that version first."""
        return self._write_version(
            "snapshot", tables, SCHEMAS, self.current_version() + 1
        )

    def write_delta(self, op: str, payload: dict[str, DataFrame]) -> int:
        """Append a delta version holding only the write batch, run
        through the op's ``prepare`` first; returns its version.

        Cost is O(batch) regardless of store size, except for the write
        that takes the chain past ``MAX_DELTA_CHAIN``: it checkpoints, at
        O(store). A concurrent write may take the version this one
        aimed at; the delta then lands on the next free one, and if
        the checkpoint loses its version, the write that took it checks
        the bound again. Requires an existing anchor snapshot."""
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
            # a write that took the checkpoint's version checks the
            # bound itself
            with contextlib.suppress(FileExistsError):
                self.checkpoint()
        return v

    def delta_chain_length(self, version: int | None = None) -> int:
        """Number of deltas folded into a read at ``version`` — the
        read-path plan-depth metric ``write_delta`` bounds."""
        return len(self._chain(version)[1])

    def checkpoint(self) -> int:
        """Materialize merge-on-read state into a new full snapshot,
        resetting delta-chain depth to zero (LSM compaction). Readers
        of older versions are untouched. It reads the current version
        and claims exactly the one after it: ``FileExistsError`` if
        another write took that version meanwhile.

        Each table is written in no more files than the anchor snapshot
        holds for it (at least 1): the folded plan's partition count
        grows with every union in the chain, so without the
        ``coalesce`` (which never shuffles) each checkpoint would hold
        more files than the last."""
        base = self.current_version()
        anchor = self._chain(base)[0]
        tables = {
            tbl: df.coalesce(max(1, _parquet_files(self._dir(anchor, tbl))))
            for tbl, df in self.read(base).items()
        }
        return self._write_version("snapshot", tables, SCHEMAS, base + 1)

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Version GC: keep the newest ``keep_last`` versions (at least
        the current one) and everything down to the snapshot they fold
        from; delete the older versions and return them. Retention is
        newest-first, so a read that starts after the vacuum finds
        every version it folds; a lazy plan built before it may still
        name files of a removed version and fail when it runs."""
        versions = self.list_versions()
        if not versions:
            return []
        # A retained delta needs its anchor snapshot and every delta in
        # between, so retention reaches down to the oldest such anchor
        # and merge-on-read never dangles.
        anchor = self._chain(versions[-max(keep_last, 1):][0])[0]
        removed = [v for v in versions if v < anchor]
        for v in removed:
            shutil.rmtree(self._dir(v))
        return removed

    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level snapshot diff → (table_name, change, row_key):
        which rows were added/removed between two versions — the
        audit query every versioned store needs ("what changed since
        yesterday's snapshot"), and the input to incremental
        downstream refresh (recompute only communities/ranks touching
        changed rows).

        Both sides are lazy merge-on-read plans; each table
        contributes two set differences (``subtract``, planned as
        anti-joins) on a rendered full-row key. Rows
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
            ka = before[tbl].select(key)
            kb = after[tbl].select(key)
            added = kb.subtract(ka).select(
                F.lit(tbl).alias("table_name"),
                F.lit("added").alias("change"),
                "row_key",
            )
            removed = ka.subtract(kb).select(
                F.lit(tbl).alias("table_name"),
                F.lit("removed").alias("change"),
                "row_key",
            )
            parts.append(added.unionByName(removed))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
