"""Change-data-feed STREAMING source — ``readStream`` over a
TransactionalTable's snapshot history.

The batch form (``TransactionalTable.read_changes``) diffs two pinned
snapshots; this source turns the same version cursor into a Structured
Streaming offset, so a downstream pipeline consumes table changes
continuously — the Delta CDF streaming-source / Hydra compacted-topic
consumer analog (the reference replays a keyed topic's change stream to
downstream consumers, ConsumerGroupsAlgebra.scala:254-275; here the
"topic" is the table's manifest chain).

Spark-first shape (pyspark 4 Python DataSource API):

  * **Offset = manifest version** (one integer). ``latestOffset`` reads
    the table's CURRENT pointer; a (start, end] batch is the change set
    between those snapshots. The pointer, the manifests and the
    changed-bucket diff are read through ``tables.current_version``,
    ``tables.manifest_at`` and ``tables.changed_buckets``, the functions
    ``read_changes`` uses. Offsets are deterministic and replayable —
    re-planning the same range yields identical rows, which is what
    exactly-once sinks need from a source.
  * **One input partition per changed bucket.** The table is
    hash-bucketed by key, so a key lives in exactly one bucket —
    the old-vs-new diff decomposes into per-bucket LOCAL merges with no
    shuffle at all (the bucket-pruned read_changes join, taken to its
    limit). Buckets whose file lists are identical between the
    snapshots are pruned driver-side from the manifests alone; at
    10^12-row scale a trigger pays for touched buckets only, and the
    per-bucket diff is bounded by bucket size (choose n_buckets for
    that, as for any bucketed layout).
  * Executor-side reads are plain pyarrow on the bucket's parquet
    files, and the per-bucket diff is a pandas merge (no Spark session
    runs there); the schema is pinned at stream start from the table's
    registered schema (else file footers) plus ``_change_type``.

Retention contract: ``expire_snapshots`` must keep the stream's cursor
version retained (keep_last >= the consumer's lag in commits); resuming
past an expired version raises SnapshotExpiredError rather than
silently skipping changes.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from hydra_spark.tables import changed_buckets, current_version, manifest_at

FORMAT_NAME = "hydra_cdf"

_PA_TO_DDL = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "float": "float", "double": "double", "bool": "boolean",
    "string": "string", "large_string": "string", "binary": "binary",
    "date32[day]": "date",
}


def _pa_type_to_ddl(t) -> str:
    """pyarrow type -> Spark DDL, recursing through nested types (a bare
    str() of a list type is 'list<item: float>', which DDL rejects)."""
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_pa_type_to_ddl(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ", ".join(f"{f.name}: {_pa_type_to_ddl(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{_pa_type_to_ddl(t.key_type)}, {_pa_type_to_ddl(t.item_type)}>"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision}, {t.scale})"
    return _PA_TO_DDL.get(str(t), str(t))


def _table_fields(path: str, m: dict) -> list[dict]:
    """Column spec for the pinned stream schema: the registered schema if
    any, else pyarrow footer types of the newest snapshot's files."""
    versions = m.get("schema_versions", [])
    if versions:
        return [dict(f) for f in versions[-1]["fields"]]
    import pyarrow.parquet as pq

    files = [p for fl in m["files"].values() for p in fl]
    if not files:
        raise ValueError(
            f"table {path} has no registered schema and no data files; "
            f"the stream schema is undefined"
        )
    sch = pq.ParquetFile(files[0]).schema_arrow
    return [
        {"name": n, "type": _pa_type_to_ddl(t)}
        for n, t in zip(sch.names, sch.types)
        if not n.startswith("_")
    ]


class CdfPartition(InputPartition):
    def __init__(self, files_old, files_new, key_cols, fields):
        self.files_old = files_old
        self.files_new = files_new
        self.key_cols = key_cols
        self.fields = fields


class CdfStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        start = options.get("startingversion", options.get("startingVersion"))
        # default: changes AFTER the version current at stream start
        self.start_version = (
            int(start) if start is not None else current_version(self.path)
        )
        m = manifest_at(self.path, current_version(self.path))
        self.key_cols = m.get("key_cols") or []
        self.fields = _table_fields(self.path, m)

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        return {"version": current_version(self.path)}

    def partitions(self, start: dict, end: dict):
        changed = changed_buckets(
            manifest_at(self.path, start["version"]), manifest_at(self.path, end["version"])
        )
        out = [CdfPartition(old, new, self.key_cols, self.fields) for old, new in changed]
        # a version bump with no file changes (property/schema commit):
        # plan one empty partition so the batch still advances the cursor
        return out or [CdfPartition([], [], self.key_cols, self.fields)]

    def read(self, partition: CdfPartition):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        names = [f["name"] for f in partition.fields]

        def _load(files) -> pd.DataFrame:
            frames = []
            for p in files:
                pdf = pq.read_table(p).to_pandas()
                # project onto the pinned schema: absent column -> its
                # declared default (else None), same resolution as
                # read_changes/_project_to_schema
                for f in partition.fields:
                    if f["name"] not in pdf.columns:
                        pdf[f["name"]] = f.get("default")
                frames.append(pdf[names])
            if not frames:
                return pd.DataFrame({n: [] for n in names})
            return pd.concat(frames, ignore_index=True)

        old, new = _load(partition.files_old), _load(partition.files_new)
        keys = partition.key_cols
        vals = [c for c in names if c not in keys]

        def _eq(a, b) -> bool:
            """Null-safe value equality covering the nested types pyarrow
            hands back as numpy arrays / lists (a bare ``==`` on those is
            elementwise and its truth value is ambiguous)."""
            a_null = a is None or (np.isscalar(a) and pd.isna(a))
            b_null = b is None or (np.isscalar(b) and pd.isna(b))
            if a_null or b_null:
                return a_null and b_null
            if isinstance(a, (np.ndarray, list, tuple)) or isinstance(
                b, (np.ndarray, list, tuple)
            ):
                return np.array_equal(np.asarray(a), np.asarray(b))
            return bool(a == b)

        j = old.merge(new, on=keys, how="outer", suffixes=("_o", "_n"), indicator=True)
        rows = []
        # dict records, not itertuples: itertuples positionally renames
        # underscore-leading fields like the merge indicator
        for d in j.to_dict("records"):
            if d["_merge"] == "right_only":
                ct, side = "insert", "_n"
            elif d["_merge"] == "left_only":
                ct, side = "delete", "_o"  # pre-image values
            else:
                if all(_eq(d[f"{c}_o"], d[f"{c}_n"]) for c in vals):
                    continue
                ct, side = "update", "_n"
            out = []
            for c in names:
                v = d[c] if c in keys else d[f"{c}{side}"]
                if isinstance(v, (np.ndarray, list, tuple)):
                    out.append([x.item() if hasattr(x, "item") else x for x in v])
                elif v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
                    out.append(None)
                elif isinstance(v, pd.Timestamp):
                    out.append(v.to_pydatetime())
                elif hasattr(v, "item"):
                    out.append(v.item())
                else:
                    out.append(v)
            rows.append(tuple(out) + (ct,))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass


class CdfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        path = self.options["path"]
        m = manifest_at(path, current_version(path))
        fields = _table_fields(path, m)
        cols = ", ".join(f"{f['name']} {f['type']}" for f in fields)
        return f"{cols}, _change_type string"

    def streamReader(self, schema) -> CdfStreamReader:
        return CdfStreamReader({k.lower(): v for k, v in self.options.items()})


def stream_changes(spark, table_path: str, starting_version: int | None = None):
    """``readStream`` DataFrame over a TransactionalTable's change feed.

    Default start is the version current at stream start (future changes
    only); pass ``starting_version`` to replay history from a retained
    snapshot. Columns: the table's schema + ``_change_type``
    ('insert' | 'update' | 'delete'; deletes carry pre-image values) —
    same contract as the batch read_changes, pytest-pinned equal."""
    spark.dataSource.register(CdfDataSource)
    r = spark.readStream.format(FORMAT_NAME).option("path", table_path)
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    return r.load()
