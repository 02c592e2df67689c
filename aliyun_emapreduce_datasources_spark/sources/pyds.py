"""Python DataSource connectors: the reference's connector half on
PySpark 4's `pyspark.sql.datasource` API.

The reference implements its sources as Scala DSv1/DSv2 relations —
pruned+filtered batch scans with a compiled filter tree and residual
split (TableStoreRelation.scala:110-144, TableStoreFilter.scala:33-121,
TableStoreRelation.scala:364-438), micro-batch streaming sources with
per-shard offsets, new-shard discovery and `maxOffsetsPerTrigger` rate
limiting (LoghubSource.scala:115-161, LoghubOffsetReader.scala:209).
PySpark 4 exposes the same contract points natively in Python —
`pushFilters` (accept/residual split), `partitions` (split planning),
dict offsets (`initialOffset`/`latestOffset`), Arrow-batch `read` —
so each reference behavior lands on its public API equivalent instead
of a JVM port:

- ``emrkv``    batch source/sink over parquet: JSON-catalog schema
               (TableStoreCatalog.scala:29-49), filter pushdown compiled
               to pyarrow dataset expressions (row-group pruning — the
               engine-side analog of the OTS filter tree), residual
               filters handed back to Spark, row-group split planning
               (max.split.count, TableStoreRelation.scala:59-61).
- ``emrlog``   streaming source over a directory of JSON-lines shard
               files: offsets are {shard: rows-consumed} maps (shard
               cursors), `latestOffset` clamps to `maxOffsetsPerTrigger`
               spread across shards, shards appearing between batches
               start from 0 (LoghubSource.scala:130-161 new-shard path).

The ``emrkv`` read path yields ``pyarrow.RecordBatch`` (Arrow
transfer, no per-row Python boxing); ``emrlog`` parses JSON lines and
yields one tuple per row. At scale each partition maps to one parquet
row-group span / one shard slice, so parallelism follows the data
layout exactly like the reference's split planners.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
    WriterCommitMessage,
)
# NOTE: no _parse_datatype_string anywhere in this module — every
# DataSource method runs in a sessionless Python worker, so schemas
# travel as DDL strings (parsed JVM-side) or StructType.json()
from pyspark.sql.types import StructType

__all__ = [
    "KVStoreDataSource",
    "LogShardDataSource",
    "compile_filters",
    "register_all",
]


# --- filter compilation (TableStoreFilter.scala:33-121 analog) --------

def compile_filters(
    filters: list[Filter], columns: set[str]
) -> tuple[object | None, list[Filter], list[Filter]]:
    """Split Spark filters into (pyarrow expression, accepted,
    residual). Single-column comparisons on known top-level columns
    compile; everything else (incl. Not over unsupported children) is
    residual and re-evaluated by Spark after the scan — the
    `unhandledFilters` contract.
    """
    accepted: list[Filter] = []
    residual: list[Filter] = []
    expr = None

    def field(f) -> str | None:
        # ColumnPath is a tuple of name parts; only depth-1 compiles
        path = f.attribute
        if len(path) == 1 and path[0] in columns:
            return path[0]
        return None

    def one(f) -> object | None:
        if isinstance(f, EqualTo) and (c := field(f)):
            return pc.field(c) == f.value
        if isinstance(f, GreaterThan) and (c := field(f)):
            return pc.field(c) > f.value
        if isinstance(f, GreaterThanOrEqual) and (c := field(f)):
            return pc.field(c) >= f.value
        if isinstance(f, LessThan) and (c := field(f)):
            return pc.field(c) < f.value
        if isinstance(f, LessThanOrEqual) and (c := field(f)):
            return pc.field(c) <= f.value
        if isinstance(f, In) and (c := field(f)):
            return pc.field(c).isin(list(f.value))
        if isinstance(f, IsNull) and (c := field(f)):
            return pc.field(c).is_null()
        if isinstance(f, IsNotNull) and (c := field(f)):
            return ~pc.field(c).is_null()
        if isinstance(f, StringStartsWith) and (c := field(f)):
            return pc.starts_with(pc.field(c), f.value)
        if isinstance(f, Not):
            inner = one(f.child)
            return None if inner is None else ~inner
        return None

    for f in filters:
        e = one(f)
        if e is None:
            residual.append(f)
        else:
            accepted.append(f)
            expr = e if expr is None else (expr & e)
    return expr, accepted, residual


# --- emrkv batch source ----------------------------------------------

@dataclass
class _RowGroupSplit(InputPartition):
    path: str
    row_groups: list[int]
    expr: pc.Expression | None  # the pushed filters, compiled


class KVStoreReader(DataSourceReader):
    def __init__(self, schema: StructType, options) -> None:
        self.path = options["path"]
        self.max_splits = int(options.get("max.split.count", 32))
        self.schema = schema
        self.expr = None

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 — API name
        # return (not yield) the residual: a generator would defer the
        # self.expr assignment past the planner's iteration
        self.expr, _, residual = compile_filters(
            filters, {f.name for f in self.schema.fields}
        )
        return residual

    def partitions(self) -> list[InputPartition]:
        # split planning: row groups spread over <= max_splits slices
        # (TableStoreRelation max.split.count / split.size.mbs analog)
        n_rg = pq.ParquetFile(self.path).metadata.num_row_groups
        per = max(1, -(-n_rg // self.max_splits))
        return [
            _RowGroupSplit(self.path, list(range(i, min(i + per, n_rg))), self.expr)
            for i in range(0, n_rg, per)
        ] or [_RowGroupSplit(self.path, [], self.expr)]

    def read(self, split: _RowGroupSplit) -> Iterator[pa.RecordBatch]:
        if not split.row_groups:
            return
        cols = [f.name for f in self.schema.fields]
        frags = pq.ParquetFile(split.path)
        table = frags.read_row_groups(split.row_groups, columns=cols)
        if split.expr is not None:
            table = table.filter(split.expr)
        yield from table.to_batches()


class KVStoreDataSource(DataSource):
    """``spark.read.format("emrkv").option("path", ...).load()``.

    Schema comes from the JSON ``catalog`` option when given (the
    TableStoreCatalog user-declared mode: {"columns": {name: {"type":
    spark-ddl-type}}}), else from the parquet footer (the
    service-metadata mode). The catalog schema must be a subset of the
    file schema — same containment rule as the registry DDL check.
    """

    @classmethod
    def name(cls) -> str:
        return "emrkv"

    def schema(self) -> str:
        if "catalog" in self.options:
            cat = json.loads(self.options["catalog"])
            return ", ".join(
                f"{name} {spec['type']}" for name, spec in cat["columns"].items()
            )
        file_schema = pq.read_schema(self.options["path"])
        return ", ".join(
            f"{n} {_ARROW_TO_DDL(t)}"
            for n, t in zip(file_schema.names, file_schema.types)
        )

    def reader(self, schema: StructType) -> KVStoreReader:
        return KVStoreReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return KVStoreWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        return KVStoreStreamWriter(schema, self.options)


def _ARROW_TO_DDL(t: pa.DataType) -> str:  # noqa: N802
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t):
        return "binary"
    return "string"


# --- emrlog streaming source -----------------------------------------

@dataclass
class _ShardSlice(InputPartition):
    path: str
    start: int
    end: int
    schema_json: str  # StructType.json(); fromJson needs no session


def _list_shards(path: str) -> list[str]:
    return sorted(
        f for f in os.listdir(path) if f.endswith(".jsonl")
    )


def _shard_rows(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


class LogShardStreamReader(DataSourceStreamReader):
    """Micro-batch reader over shard files; offset = cursor map."""

    def __init__(self, schema: StructType, options) -> None:
        self.path = options["path"]
        self.schema = schema
        self.max_per_trigger = int(options.get("maxoffsetspertrigger", 0))

    def initialOffset(self) -> dict:  # noqa: N802
        # start-from-earliest: every current shard at row 0
        return {s: 0 for s in _list_shards(self.path)}

    # RESTART SAFETY. Spark calls latestOffset() with no start
    # argument, and on a fresh start it runs BEFORE initialOffset
    # (traced against pyspark 4.1's python_streaming_source_runner) —
    # so an empty tracker cannot distinguish fresh start from
    # checkpoint restart. Protocol:
    #   * first latestOffset (tracker unset) clamps from zero: on a
    #     fresh start that is batch 0's real end, so batch 0 carries
    #     rows; on a restart the end may fall BEHIND the checkpointed
    #     start, which partitions() turns into an empty batch (below);
    #   * partitions() maintains `_floor`, the per-shard max of every
    #     engine-planned start/end: replayed or regressed starts are
    #     clipped to it (rows below the floor were already emitted by
    #     THIS process), and the rate cursor `_last` is re-seeded from
    #     it so post-restart triggers resume throttling from the true
    #     position instead of crawling up from zero.
    # Residual window: if the driver crashes again before the WAL
    # catches back up, rows in the gap can be re-emitted — pair with
    # the idempotent keyed sinks (streaming/sinks.py) as the reference
    # pairs LoghubSource with idempotent-by-batchId addBatch.

    def latestOffset(self) -> dict:  # noqa: N802
        latest = {
            s: _shard_rows(os.path.join(self.path, s))
            for s in _list_shards(self.path)
        }
        prev = getattr(self, "_last", None) or {}
        if self.max_per_trigger <= 0:
            self._last = latest
            return latest
        budget = self.max_per_trigger
        clamped: dict[str, int] = {}
        for s in sorted(latest):
            cur = prev.get(s, 0)
            take = min(latest[s] - cur, budget)
            clamped[s] = cur + max(take, 0)
            budget -= max(take, 0)
        self._last = clamped
        return clamped

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # a re-plan of the SAME batch (foreachBatch running several
        # actions re-executes the scan) must see the floor as it was
        # when the batch was first planned, not the floor that batch
        # itself raised — otherwise the second action reads empty
        key = (json.dumps(start, sort_keys=True), json.dumps(end, sort_keys=True))
        if getattr(self, "_plan_key", None) == key:
            floor = self._plan_floor
        else:
            floor = getattr(self, "_floor", {})
            self._plan_key, self._plan_floor = key, floor
        sj = self.schema.json()
        out = []
        for s, e in end.items():
            # new shard discovered -> from 0; starts below the floor
            # were already emitted by this process (engine replay of a
            # transiently-regressed offset) and are clipped
            b = max(start.get(s, 0), floor.get(s, 0))
            if e > b:
                out.append(
                    _ShardSlice(os.path.join(self.path, s), b, e, sj)
                )
        # floor absorbs this batch; the rate cursor catches up to it so
        # the next clamp resumes from the true position
        self._floor = {
            s: max(floor.get(s, 0), start.get(s, 0), end.get(s, 0))
            for s in set(floor) | set(start) | set(end)
        }
        prev = getattr(self, "_last", None) or {}
        self._last = {
            s: max(prev.get(s, 0), self._floor.get(s, 0))
            for s in set(prev) | set(self._floor)
        }
        return out

    def read(self, split: _ShardSlice) -> Iterator[tuple]:
        import datetime

        fields = StructType.fromJson(json.loads(split.schema_json))
        with open(split.path, "r", encoding="utf-8") as fh:
            for i, line in enumerate(fh):
                if i < split.start:
                    continue
                if i >= split.end:
                    break
                rec = json.loads(line)
                row = []
                for f in fields.fields:
                    v = rec.get(f.name)
                    if v is not None and f.dataType.typeName() == "timestamp":
                        v = datetime.datetime.fromisoformat(v)
                    row.append(v)
                yield tuple(row)

    def commit(self, end: dict) -> None:
        # positions are in the checkpoint log; nothing service-side
        pass

    def stop(self) -> None:
        pass


class LogShardDataSource(DataSource):
    """``spark.readStream.format("emrlog")`` over shard-NN.jsonl files."""

    @classmethod
    def name(cls) -> str:
        return "emrlog"

    def schema(self) -> str:
        if "schema" in self.options:
            return self.options["schema"]
        return "__shard__ string, __time__ timestamp, value string"

    def streamReader(self, schema: StructType) -> LogShardStreamReader:
        return LogShardStreamReader(schema, self.options)


# --- emrkv write path: two-phase commit (S4/S8/S23 analog) ------------

def _DDL_TO_ARROW(type_name: str) -> pa.DataType:  # noqa: N802
    return {
        "long": pa.int64(),
        "integer": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "timestamp": pa.timestamp("us"),
        "binary": pa.binary(),
    }.get(type_name, pa.string())

@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    rows: int


class KVStoreWriter(DataSourceWriter):
    """Batch writer with the stage-then-commit protocol the reference's
    exactly-once sinks use (JDBCSinkLog.scala:25-110 two-phase
    COMMITTED log; TableStoreSink idempotent addBatch): executors write
    parquet part files into ``_staging/``, the driver-side ``commit``
    atomically renames every part into place and drops a ``_SUCCESS``
    manifest listing them; ``abort`` removes the orphaned stage. A
    reader never sees a half-written table because parts only become
    visible after all tasks succeeded.
    """

    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        self.path = options["path"]
        self.schema_json = schema.json()
        self.overwrite = overwrite

    def write(self, iterator) -> _StagedFile:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else 0
        attempt = ctx.taskAttemptId() if ctx else 0
        schema = StructType.fromJson(json.loads(self.schema_json))
        names = [f.name for f in schema.fields]
        rows = [tuple(r) for r in iterator]
        os.makedirs(os.path.join(self.path, "_staging"), exist_ok=True)
        staged = os.path.join(
            self.path, "_staging", f"part-{part_id:05d}-{attempt}.parquet"
        )
        arrays = list(zip(*rows)) if rows else [[] for _ in names]
        arrow_schema = pa.schema(
            [(n, _DDL_TO_ARROW(f.dataType.typeName())) for n, f in zip(names, schema.fields)]
        )
        table = pa.table(
            {n: list(col) for n, col in zip(names, arrays)}, schema=arrow_schema
        )
        pq.write_table(table, staged)
        return _StagedFile(staged=staged, rows=len(rows))

    def commit(self, messages) -> None:
        final: list[str] = []
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".parquet"):
                    os.remove(os.path.join(self.path, f))
        for msg in messages:
            if msg is None:
                continue
            dest = os.path.join(self.path, os.path.basename(msg.staged))
            os.replace(msg.staged, dest)
            final.append(os.path.basename(msg.staged))
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            json.dump({"files": final}, fh)

    def abort(self, messages) -> None:
        for msg in messages or []:
            if msg is not None and os.path.exists(msg.staged):
                os.remove(msg.staged)


class KVStoreStreamWriter(DataSourceStreamWriter):
    """Streaming sink: same staging protocol, plus an idempotent
    per-batch commit log. ``commit`` is a no-op when the batch's
    manifest already exists — the replayed-batch case after failure
    recovery (JdbcSink.scala:50-70: COMMITTED batchIds are skipped) —
    so end-to-end semantics are exactly-once even though Spark's
    contract is at-least-once.
    """

    def __init__(self, schema: StructType, options) -> None:
        self.path = options["path"]
        self.schema_json = schema.json()

    def write(self, iterator) -> _StagedFile:
        return KVStoreWriter.write(self, iterator)  # same staging step

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        manifest = os.path.join(self.path, f"_batch-{batchId}.json")
        if os.path.exists(manifest):  # replayed batch: drop duplicates
            for msg in messages:
                if msg is not None and os.path.exists(msg.staged):
                    os.remove(msg.staged)
            return
        final = []
        for msg in messages:
            if msg is None:
                continue
            dest = os.path.join(
                self.path, f"batch-{batchId}-{os.path.basename(msg.staged)}"
            )
            os.replace(msg.staged, dest)
            final.append(os.path.basename(dest))
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batchId": batchId, "files": final}, fh)
        os.replace(tmp, manifest)  # the atomic COMMITTED flip

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        for msg in messages or []:
            if msg is not None and os.path.exists(msg.staged):
                os.remove(msg.staged)


def register_all(spark) -> None:
    # runtime conf: pushFilters() is rejected unless enabled
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KVStoreDataSource)
    spark.dataSource.register(LogShardDataSource)
