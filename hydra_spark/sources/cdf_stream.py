"""Change data feed — the one snapshot diff behind
``TransactionalTable.read_changes`` and ``readStream`` over a
TransactionalTable's snapshot history.

Both reads are the ``hydra_cdf`` source (pyspark 4 Python DataSource
API): the batch reader diffs two pinned snapshots, the stream reader
turns the same version cursor into a Structured Streaming offset, so a
downstream pipeline consumes table changes continuously — the Delta CDF
streaming-source / Hydra compacted-topic consumer analog (the reference
replays a keyed topic's change stream to downstream consumers,
ConsumerGroupsAlgebra.scala:254-275; here the "topic" is the table's
manifest chain).

  * **Offset = manifest version** (one integer). ``latestOffset`` reads
    the table's CURRENT pointer; a (start, end] batch is the change set
    between those snapshots. The pointer, the manifests and the
    changed-bucket diff are read through ``tables.current_version``,
    ``tables.manifest_at`` and ``tables.changed_buckets``. Offsets are
    deterministic and replayable — re-planning the same range yields
    identical rows, which is what exactly-once sinks need from a source.
  * **One input partition per changed bucket.** The table is
    hash-bucketed by key, so a key lives in exactly one bucket — the
    old-vs-new diff decomposes into per-bucket LOCAL diffs with no
    shuffle at all. Buckets whose file lists are identical between the
    snapshots are pruned driver-side from the manifests alone; at
    10^12-row scale a read pays for touched buckets only, and the
    per-bucket diff is bounded by bucket size (choose n_buckets for
    that, as for any bucketed layout). Across a rebucket keys move
    between buckets, so the changed buckets diff as one partition.
  * **The diff stays in Arrow.** Executors read the bucket's parquet
    files with pyarrow, project each file onto the feed's columns
    (absent column -> its declared default, else NULL), key-join old
    against new and yield typed ``RecordBatch`` es: no pandas step, so
    an int64 beside a NULL stays exact. Values compare NULL-safely —
    NULL equals only NULL, NaN equals NaN, nested values by value.
    Deletes carry pre-images.
  * **One column rule** (``feed_schema``): the registered schema, else
    the union of the snapshot's data-file columns, else the columns the
    last write recorded, plus ``_change_type``. The stream pins it at
    stream start; the batch read at its end version.

Retention contract: ``expire_snapshots`` must keep the stream's cursor
version retained (keep_last >= the consumer's lag in commits); resuming
past an expired version raises SnapshotExpiredError rather than
silently skipping changes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from hydra_spark.tables import changed_buckets, current_version, manifest_at

FORMAT_NAME = "hydra_cdf"
CHANGE_TYPE = "_change_type"


def feed_schema(path: str, m: dict) -> str:
    """DDL of the change feed over snapshot ``m``: the registered schema,
    else the union of the snapshot's data-file columns, else the columns
    the last write recorded; then ``_change_type``."""
    versions = m.get("schema_versions", [])
    files = [p for fl in m["files"].values() for p in fl]
    if versions:
        cols = ", ".join(f"`{f['name']}` {f['type']}" for f in versions[-1]["fields"])
    elif files:
        union = from_arrow_schema(pa.unify_schemas([pq.read_schema(p) for p in files]))
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in union)
    elif "columns" in m:
        cols = m["columns"]
    else:
        raise ValueError(
            f"table {path} has no registered schema, no data files and no "
            "written columns; the change feed's columns are undefined"
        )
    return f"{cols}, {CHANGE_TYPE} string"


def _same(a: pa.Array, b: pa.Array) -> pa.BooleanArray:
    """Row-wise value equality, never NULL: NULL equals only NULL, NaN
    equals NaN, lists and structs compare element by element."""
    t = a.type
    if pa.types.is_struct(t):
        eq = pa.repeat(True, len(a))
        for i in range(t.num_fields):
            eq = pc.and_(eq, _same(a.field(i), b.field(i)))
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        # rows whose lengths match pair their elements up one to one;
        # a row is equal if none of its element pairs differs
        aligned = pc.fill_null(pc.equal(pc.list_value_length(a), pc.list_value_length(b)), False)
        rows = pc.indices_nonzero(aligned)
        a_in, b_in = a.take(rows), b.take(rows)
        differs = pc.invert(_same(a_in.flatten(), b_in.flatten()))
        eq = aligned.to_numpy(zero_copy_only=False).copy()
        eq[pc.take(rows, pc.filter(pc.list_parent_indices(a_in), differs)).to_numpy()] = False
        eq = pa.array(eq)
    else:
        eq = pc.equal(a, b)
        if pa.types.is_floating(t):
            eq = pc.or_(eq, pc.and_(pc.is_nan(a), pc.is_nan(b)))
    a_null, b_null = a.is_null(), b.is_null()
    return pc.if_else(pc.or_(a_null, b_null), pc.and_(a_null, b_null), pc.fill_null(eq, False))


def _snapshot_rows(files: list[str], schema: pa.Schema, defaults: dict) -> pa.Table:
    """One bucket's rows in one snapshot, each file projected onto the
    feed's columns: a column the file lacks reads as its declared
    default (else NULL); stored values, explicit NULLs included, stay."""
    parts = []
    for p in files:
        f = pq.ParquetFile(p)
        have = set(f.schema_arrow.names)
        t = f.read(columns=[n for n in schema.names if n in have])
        n_rows = f.metadata.num_rows
        parts.append(
            pa.table(
                [
                    t[c.name].cast(c.type)
                    if c.name in have
                    else pa.repeat(defaults.get(c.name), n_rows).cast(c.type)
                    for c in schema
                ],
                schema=schema,
            )
        )
    return pa.concat_tables(parts) if parts else schema.empty_table()


def diff(old: pa.Table, new: pa.Table, key_cols: list[str]) -> pa.Table:
    """The change set from ``old`` to ``new`` (same schema, unique keys):
    inserts and updates carry the new row, deletes the old one; a key
    whose values are all ``_same`` yields nothing."""

    def indexed(t: pa.Table, name: str) -> pa.Table:
        return t.select(key_cols).append_column(name, pa.array(np.arange(t.num_rows)))

    j = indexed(old, "_o").join(indexed(new, "_n"), key_cols, join_type="full outer")
    both = j.filter(pc.and_(pc.is_valid(j["_o"]), pc.is_valid(j["_n"])))
    o_rows, n_rows = old.take(both["_o"]), new.take(both["_n"])
    same = pa.repeat(True, both.num_rows)
    for c in (c for c in new.column_names if c not in key_cols):
        same = pc.and_(same, _same(o_rows[c].combine_chunks(), n_rows[c].combine_chunks()))

    def tagged(t: pa.Table, change: str) -> pa.Table:
        return t.append_column(CHANGE_TYPE, pa.repeat(change, t.num_rows))

    return pa.concat_tables(
        [
            tagged(new.take(j.filter(pc.is_null(j["_o"]))["_n"]), "insert"),
            tagged(n_rows.filter(pc.invert(same)), "update"),
            tagged(old.take(j.filter(pc.is_null(j["_n"]))["_o"]), "delete"),
        ]
    )


class CdfPartition(InputPartition):
    """One changed bucket (across a rebucket: every changed bucket): its
    files in the start and end snapshots."""

    def __init__(self, files_old: list[str], files_new: list[str]):
        self.files_old = files_old
        self.files_new = files_new


class _CdfReader:
    """Planning and reading shared by the batch and the stream reader.
    ``schema`` is the feed's Spark schema (``feed_schema``). Key columns
    and declared defaults come from the pinned snapshot ``version``: the
    end of a batch read, the current one at stream start."""

    def __init__(self, options: dict, schema=None):
        self.path = options["path"]
        end = options.get("endingVersion")
        self.version = int(end) if end is not None else current_version(self.path)
        m = manifest_at(self.path, self.version)
        self.key_cols = m.get("key_cols") or []
        versions = m.get("schema_versions", [])
        self.defaults = {f["name"]: f.get("default") for f in versions[-1]["fields"]} if versions else {}
        self.schema = schema

    def _partitions(self, start: int, end: int) -> list[CdfPartition]:
        m_from, m_to = manifest_at(self.path, start), manifest_at(self.path, end)
        changed = changed_buckets(m_from, m_to)
        if m_from.get("n_buckets") != m_to.get("n_buckets"):
            # a rebucket between the snapshots moves keys across
            # buckets: the changed buckets diff as one partition
            changed = [([p for o, _ in changed for p in o], [p for _, n in changed for p in n])]
        # no file changed (a property/schema commit): one empty
        # partition, so a stream batch still advances its cursor
        return [CdfPartition(old, new) for old, new in changed] or [CdfPartition([], [])]

    def read(self, partition: CdfPartition):
        out_schema = to_arrow_schema(self.schema)
        cols = pa.schema([f for f in out_schema if f.name != CHANGE_TYPE])
        old = _snapshot_rows(partition.files_old, cols, self.defaults)
        new = _snapshot_rows(partition.files_new, cols, self.defaults)
        yield from diff(old, new, self.key_cols).cast(out_schema).to_batches()


class CdfBatchReader(_CdfReader, DataSourceReader):
    """The change set of (startingVersion, endingVersion]."""

    def __init__(self, options: dict, schema=None):
        super().__init__(options, schema)
        self.start_version = int(options["startingVersion"])

    def partitions(self) -> list[CdfPartition]:
        return self._partitions(self.start_version, self.version)


class CdfStreamReader(_CdfReader, DataSourceStreamReader):
    def __init__(self, options: dict, schema=None):
        super().__init__(options, schema)
        start = options.get("startingVersion")
        # default: changes AFTER the version current at stream start
        self.start_version = int(start) if start is not None else self.version

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        return {"version": current_version(self.path)}

    def partitions(self, start: dict, end: dict) -> list[CdfPartition]:
        return self._partitions(start["version"], end["version"])

    def commit(self, end: dict) -> None:
        pass


class CdfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        path = self.options["path"]
        return feed_schema(path, manifest_at(path, current_version(path)))

    def reader(self, schema) -> CdfBatchReader:
        return CdfBatchReader(self.options, schema)

    def streamReader(self, schema) -> CdfStreamReader:
        return CdfStreamReader(self.options, schema)


def stream_changes(spark, table_path: str, starting_version: int | None = None):
    """``readStream`` DataFrame over a TransactionalTable's change feed.

    Default start is the version current at stream start (future changes
    only); pass ``starting_version`` to replay history from a retained
    snapshot. Columns: the table's feed columns (``feed_schema``) +
    ``_change_type`` ('insert' | 'update' | 'delete'; deletes carry
    pre-image values) — the rows ``read_changes`` gives for the same
    versions."""
    spark.dataSource.register(CdfDataSource)
    r = spark.readStream.format(FORMAT_NAME).option("path", table_path)
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    return r.load()
