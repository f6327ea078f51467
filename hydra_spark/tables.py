"""Transactional parquet tables — the local Iceberg stand-in.

The sandbox has no Iceberg runtime jars, so the engine ships a minimal
transactional table layer with the same contract the sink needs from
Iceberg on a real cluster:

  * atomic snapshot commits (manifest file listing data files, swapped
    by atomic rename of a CURRENT pointer)
  * keyed MERGE upsert with bucket-level rewrite (only buckets touched
    by the batch are rewritten — the local analog of Iceberg's
    file-pruned MERGE INTO ... ON key)
  * idempotent replay: every commit records its batch_id; re-committing
    a batch_id is a no-op. This is what turns Structured Streaming's
    at-least-once batch replay into exactly-once
    (Hydra analog: AtLeastOnceDelivery + downstream key compaction,
    reference core/src/main/scala/hydra/core/transport/Transport.scala:13-49
    and AckStrategy.scala:35-45 — our 'replicated' mode).
  * tombstone deletes: rows flagged ``_delete`` remove their key
    (Hydra null-payload deletion, HydraRequest.scala:7, MERGE ... DELETE).

Every data-writing operation (append_dedup, merge_upsert, compact,
rebucket, delete_where, update_where) publishes through one method,
``TransactionalTable._commit``: an Iceberg-shaped snapshot of (files
added, files removed, batch id), data files first, the CURRENT swap
last; the two predicate DML operations share one rewrite,
``_rewrite_where``. ``current_version``, ``manifest_at`` and
``changed_buckets`` read the snapshot chain for ``TransactionalTable``
and for the change-data-feed source (``sources/cdf_stream``), whose one
per-bucket Arrow diff serves both ``read_changes`` and the change stream.

On a real cluster, swap TransactionalTable for
``spark.sql("MERGE INTO ...")`` against an Iceberg catalog — the sink
API (hydra_spark.sink) is written against this interface only.

Single-writer by design: the only writer is the streaming query's
foreachBatch on the driver, mirroring one-query-per-table ownership.
"""

from __future__ import annotations

import contextlib
import json
import os
import re as _re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


@contextlib.contextmanager
def _micros_timestamps(df: DataFrame):
    """Force INT64-micros parquet timestamps for the duration of a table
    write, regardless of the caller's session defaults.

    The file-skipping layer (`_file_column_stats`) reads parquet footer
    min/max; legacy INT96 timestamps carry NO footer statistics, so a
    session left at Spark's default `INT96` silently strips every ts
    column of its pruning stats (and the Iceberg spec forbids INT96 for
    exactly this reason). The repo's own session builder already sets
    TIMESTAMP_MICROS (session.py), but callers hand us arbitrary
    sessions — the guarantee must live at the write site. Runtime
    `spark.conf.set` is legal for this key; prior value restored in
    `finally` so we never mutate the caller's session behind its back.
    """
    spark = df.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class SchemaCompatError(ValueError):
    """Incompatible schema evolution (SchemaRegistry compat validation)."""


class SnapshotExpiredError(ValueError):
    """Time-travel to a snapshot removed by expire_snapshots (or one that
    never existed). Iceberg raises the same on reads of expired
    snapshot ids — the failure must be loud, never a silent empty read."""


class InvalidKeySchemaError(ValueError):
    """Declared primary-key fields are missing or nullable
    (SchemaWrapper.validate semantics — avro/src/main/scala/hydra/avro/
    util/SchemaWrapper.scala:26-53: a key field must exist in the schema
    and must not be a nullable union)."""


class InvalidSubjectError(ValueError):
    """Topic/subject name rejected by the Subject grammar."""


# Subject (topic-name) grammar — the refined-regex contract from the
# reference's topic-metadata transport (ingestors/kafka/src/main/scala/
# hydra/kafka/model/TopicMetadataV2Transport.scala:113-127): total
# length <= 249; an allowed-organization prefix; then one or more
# '.'-separated segments of alphanumerics with single '-' separators —
# so no empty segments, no leading/trailing/consecutive special chars.
SUBJECT_ORGS = "cloud|skills|flow|tech|fin|dvs|_[a-zA-Z0-9]+"
SUBJECT_RE = (
    rf"(?=^.{{0,249}}$)(?:{SUBJECT_ORGS})(\.[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*)+"
)
SUBJECT_INVALID_MSG = (
    "Invalid Topic Name. Topic Name must start with a prefix matching "
    f"`{SUBJECT_ORGS}`. It may contain only alphanumeric characters, "
    "hyphens(-) and periods(.) and must not contain consecutive special "
    "characters anywhere within the topic name."
)


def validate_subject(name: str) -> str:
    """Validate a logical topic/subject name against the Subject grammar
    (Subject.createValidated, TopicMetadataV2Transport.scala:121-127).
    Returns the name; raises InvalidSubjectError with the reference's
    error text otherwise. Filesystem paths are NOT subjects — callers
    that expose user-facing topic names (bootstrap's
    ``subject=``) opt in."""
    if not _re.fullmatch(SUBJECT_RE, name or ""):
        raise InvalidSubjectError(f"{name!r}: {SUBJECT_INVALID_MSG}")
    return name


def subject_valid_col(c) -> "F.Column":
    """Column form of :func:`validate_subject` for bulk classification
    (auditing a catalog of proposed topic names in one scan). The
    length cap is a separate conjunct instead of the reference's
    lookahead so the SAME grammar runs under RE2 engines (the DuckDB
    oracle) — Java regex and RE2 agree on the lookahead-free body.
    Pure JVM codegen; agreement with the Python form is pytest-pinned."""
    body = rf"^(?:{SUBJECT_ORGS})(\.[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*)+$"
    return (F.length(c) <= 249) & c.rlike(body)


def primary_keys(fields: list[dict], properties: dict[str, str] | None = None) -> list[str]:
    """Schema-declared primary keys — the ``hydra.key`` property analog
    (SchemaWrapper.scala:10-24 parses the schema's ``hydra.key`` prop,
    comma-separated). Precedence: table property ``hydra.key``, else any
    fields flagged ``"key": true`` in the field specs, else []."""
    prop = (properties or {}).get("hydra.key")
    if prop:
        return [k.strip() for k in prop.split(",") if k.strip()]
    return [f["name"] for f in fields if f.get("key")]


def validate_key_fields(key_cols: list[str], fields: list[dict]) -> None:
    """Reject schemas whose declared key columns are absent or nullable
    (``"nullable": true`` = the Avro nullable-union marker). Runs at
    registration time so a doomed keyed table is never created —
    SchemaWrapper.validate's fail-fast contract."""
    by_name = {f["name"]: f for f in fields}
    missing = [k for k in key_cols if k not in by_name]
    nullable = [k for k in key_cols if k in by_name and by_name[k].get("nullable")]
    if missing or nullable:
        raise InvalidKeySchemaError(
            f"invalid primary key schema: missing={missing} nullable={nullable}"
        )


def _file_column_stats(path: str) -> dict:
    """Per-file column min/max/null-count stats from the parquet FOOTER
    only (never a data scan) — the Iceberg manifest ``lower_bounds`` /
    ``upper_bounds`` analog. Collected once at commit time and stored in
    the table manifest so scan planning at 10^12-row scale never opens a
    footer (on object storage every footer read is a round trip).

    Top-level scalar columns only: binary payloads (min/max would embed
    megabytes of audio in the manifest) and nested leaves are skipped —
    a skipped column simply never prunes. Value encoding is JSON-safe:
    numbers/strings/bools as-is, timestamps as epoch microseconds
    (tag ``"t": "ts"``). A column whose every row-group has min/max
    stats gets an entry; one unreadable row-group drops the column
    (conservative: no stats -> no skipping, never a wrong skip)."""
    import datetime as _dt

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    agg: dict[str, dict] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_null_count:
                dead.add(name)
                agg.pop(name, None)
                continue
            n_vals = st.num_values  # non-null values in this row group
            n_rows = g.num_rows
            if n_vals > 0 and not st.has_min_max:
                dead.add(name)
                agg.pop(name, None)
                continue
            lo, hi, t = None, None, None
            if n_vals > 0:
                lo, hi = st.min, st.max
                if isinstance(lo, bool):
                    t = "num"
                    lo, hi = int(lo), int(hi)
                elif isinstance(lo, (int, float)):
                    t = "num"
                elif isinstance(lo, str):
                    t = "str"
                elif isinstance(lo, _dt.datetime):
                    t = "ts"
                    lo, hi = _epoch_micros(lo), _epoch_micros(hi)
                elif isinstance(lo, _dt.date):
                    t = "str"
                    lo, hi = lo.isoformat(), hi.isoformat()
                else:  # bytes and anything exotic: never prune on it
                    dead.add(name)
                    agg.pop(name, None)
                    continue
            cur = agg.get(name)
            if cur is None:
                agg[name] = {"lo": lo, "hi": hi, "nulls": st.null_count, "nrows": n_rows, "t": t}
            else:
                if lo is not None:
                    cur["lo"] = lo if cur["lo"] is None else min(cur["lo"], lo)
                    cur["hi"] = hi if cur["hi"] is None else max(cur["hi"], hi)
                    cur["t"] = cur["t"] or t
                cur["nulls"] += st.null_count
                cur["nrows"] += n_rows
    return agg


def _epoch_micros(ts) -> int:
    """Epoch microseconds of a datetime (naive = UTC), in integers: the
    float path through ``total_seconds()`` can round a sub-second value
    down by 1 µs, and a stats bound must never shrink."""
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1, tzinfo=ts.tzinfo)
    return (ts - epoch) // _dt.timedelta(microseconds=1)


def _coerce_bound(v, t):
    """Normalize a caller-supplied predicate bound to the manifest's
    stored representation for comparison (timestamps -> epoch micros)."""
    import datetime as _dt

    if v is None:
        return None
    if t == "ts":
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            # bare-date bound on a timestamp column: midnight, matching
            # how the residual filter's date literal compares in Spark
            v = _dt.datetime.combine(v, _dt.time.min)
        if isinstance(v, _dt.datetime):
            return _epoch_micros(v)
        return int(v)
    if t == "str" and isinstance(v, _dt.date):
        # date-typed column stats are stored as 'YYYY-MM-DD'; a DATETIME
        # bound must coerce to its DATE (not isoformat with a time
        # suffix, which sorts after the bare date and would wrongly
        # prune files containing the bound's own day). Dropping the time
        # component only widens the admitted range — conservative, the
        # residual filter stays exact.
        if isinstance(v, _dt.datetime):
            v = v.date()
        return v.isoformat()
    return v


def _stats_admit(entry: dict | None, lo, hi) -> bool:
    """True iff the file MIGHT contain a row with value in [lo, hi]
    (inclusive; None = unbounded). No stats -> admit (conservative).
    All-null column -> reject: a range predicate never matches NULL."""
    if entry is None:
        return True
    if entry["lo"] is None:  # every row NULL in this file
        return False
    t = entry.get("t")
    lo, hi = _coerce_bound(lo, t), _coerce_bound(hi, t)
    if hi is not None and entry["lo"] > hi:
        return False
    if lo is not None and entry["hi"] < lo:
        return False
    return True


ZORDER_BITS = 16  # per-column resolution of the Z-curve (65536 ranks)


def _interleave_bits(col: Column, idx: int, stride: int, bits: int) -> Column:
    """Morton/Z-curve bit spread as a pure JVM expression tree: bit j of
    ``col`` lands at output position j*stride + idx. No UDF — whole-stage
    codegen folds the shift/mask chain into straight-line long
    arithmetic (the classic magic-number spread, unrolled; public
    technique, e.g. Delta OSS OptimizeTableCommand's Z-order)."""
    out = F.shiftleft(col.bitwiseAND(F.lit(1)), idx)
    for j in range(1, bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(col, j).bitwiseAND(F.lit(1)), j * stride + idx)
        )
    return out


def _zorder_rank(expr: Column, lo, hi, bits: int) -> Column:
    """Equal-width rank of a (double-normalized) column expression into
    [0, 2^bits): width_bucket against the table-wide bounds, clamped,
    NULLs to rank 0. Equal-width (not equal-frequency) keeps the rank a
    pure per-row expression — no quantile pass — at the cost of skew
    sensitivity; bounds come from manifest stats so no data is scanned."""
    n = 1 << bits
    if lo is None or hi is None or not (float(hi) > float(lo)):
        return F.lit(0).cast("long")
    wb = F.width_bucket(expr, F.lit(float(lo)), F.lit(float(hi)), F.lit(n))
    return F.coalesce(
        (F.least(F.greatest(wb, F.lit(1)), F.lit(n)) - F.lit(1)).cast("long"),
        F.lit(0).cast("long"),
    )


def _project_to_schema(df: DataFrame, fields: list[dict]) -> DataFrame:
    """Project a file-group DataFrame onto a registered schema: fields
    the group's files lack become their declared default (else NULL);
    fields present keep their stored values, explicit NULLs included."""
    cols = []
    for f in fields:
        if f["name"] in df.columns:
            c = F.col(f["name"]).cast(f["type"])
        else:
            c = F.lit(f.get("default")).cast(f["type"])
        cols.append(c.alias(f["name"]))
    return df.select(*cols)


def current_version(path: str) -> int | None:
    """The version the table's CURRENT pointer names (None: no table)."""
    try:
        with open(os.path.join(path, "CURRENT")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def manifest_at(path: str, version: int) -> dict:
    """Load one snapshot's manifest. Raises SnapshotExpiredError if that
    version was removed by expire_snapshots (or never existed)."""
    try:
        with open(os.path.join(path, "manifests", f"v{version}.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        raise SnapshotExpiredError(
            f"snapshot v{version} of table {path} is expired or missing; a "
            "reader's version must be retained (expire_snapshots keep_last)"
        ) from None


def changed_buckets(m_from: dict, m_to: dict) -> list[tuple[list[str], list[str]]]:
    """(old files, new files) of every bucket whose file list differs
    between two manifests, in bucket-id order. A key lives in one
    bucket, so only these buckets can hold a change between the
    snapshots; the rest are pruned from the manifests alone."""
    f_from = {b: sorted(fl) for b, fl in m_from["files"].items()}
    f_to = {b: sorted(fl) for b, fl in m_to["files"].items()}
    return [
        (f_from.get(b, []), f_to.get(b, []))
        for b in sorted(set(f_from) | set(f_to))
        if f_from.get(b, []) != f_to.get(b, [])
    ]


class TransactionalTable:
    def __init__(self, path: str, key_cols: list[str], n_buckets: int = 32):
        self.path = path
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        if current_version(self.path) is None:
            self._write_manifest(
                {
                    "version": 0,
                    "files": {},
                    "committed_batches": [],
                    "key_cols": self.key_cols,
                    "n_buckets": self.n_buckets,
                }
            )
        else:
            # the physical layout is a property of the TABLE, not of the
            # handle that opens it: rows already sit in pmod(hash(key),
            # stored_n) directories, so a handle computing buckets with a
            # different modulus would route merges/compactions to the
            # wrong buckets (silent row loss on compact, duplicate keys
            # on merge). Adopt the stored bucket count; reject a key
            # mismatch outright.
            m = self.manifest()
            stored_keys = m.get("key_cols")
            if stored_keys and stored_keys != self.key_cols:
                raise ValueError(
                    f"table {path} is keyed by {stored_keys}, opened with "
                    f"{self.key_cols}"
                )
            stored_n = m.get("n_buckets")
            if stored_n is not None:
                self.n_buckets = int(stored_n)
            # legacy pre-n_buckets manifests: trust the caller's value
            # (it is stamped into the next commit's manifest below)

    # ---------------------------------------------------------- manifest
    def manifest(self) -> dict:
        return manifest_at(self.path, current_version(self.path))

    def manifest_at(self, version: int) -> dict:
        return manifest_at(self.path, version)

    def _write_manifest(self, m: dict) -> None:
        # scan-planning stats ride every snapshot (Iceberg manifest
        # bounds): footer stats are read ONCE, when a file first enters
        # a manifest, then carried forward by path. Every caller builds
        # ``m`` from a manifest it just loaded (a rollback from the
        # target snapshot, whose stats cover the files it restores), so
        # commit cost is O(new files).
        live = {p for fl in m["files"].values() for p in fl}
        prev = m.get("file_stats", {})
        fstats = {p: prev[p] for p in live if p in prev}
        for p in sorted(live - set(fstats)):
            fstats[p] = _file_column_stats(p)
        m["file_stats"] = fstats
        m["committed_at"] = time.time()  # snapshot timestamp (read_as_of)
        v = m["version"]
        mp = os.path.join(self.path, "manifests", f"v{v}.json")
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, mp)
        cp = os.path.join(self.path, "CURRENT")
        with open(cp + ".tmp", "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.rename(cp + ".tmp", cp)  # atomic snapshot swap

    def committed_batches(self) -> set:
        return set(self.manifest()["committed_batches"])

    def _commit(
        self,
        m: dict,
        out: DataFrame | None,
        removed=(),
        batch_id=None,
        n_buckets: int | None = None,
        max_file_rows: int | None = None,
    ) -> dict:
        """The one data commit: publish version ``m["version"] + 1`` as
        (files added, files removed, batch id). Returns the new file map.

        ``out`` (already carrying ``_bucket`` and the caller's
        partitioning; None writes nothing) lands under one fresh
        ``data/c<uuid>`` directory. The next file map is the current
        one minus the ``removed`` paths plus the written files, so a
        bucket whose files were all removed stays listed, empty.
        ``n_buckets`` (rebucket only, which removes every file) changes
        the bucket spec: the map then lists exactly that many buckets.
        Data files are written before the manifest, and the CURRENT swap
        in ``_write_manifest`` is the commit point, so a crash anywhere
        earlier leaves the previous snapshot current.

        ``committed_batches`` is carried unchanged and gains ``batch_id``
        when one is given, so replay idempotence survives every rewrite
        (compact, rebucket, delete_where, update_where);
        ``key_cols`` and ``n_buckets`` are stamped on every snapshot.
        ``columns`` (the DDL of ``out`` without ``_bucket``) is recorded
        by every write and carried forward, so a table whose writes left
        no rows still reads back with its shape.
        """
        written = {}
        if out is not None:
            cols = StructType([f for f in out.schema.fields if f.name != "_bucket"])
            m = {**m, "columns": cols.toDDL()}
            out_dir = os.path.join(self.path, "data", f"c{uuid.uuid4().hex[:12]}")
            writer = out.write.mode("overwrite")
            if max_file_rows is not None:
                writer = writer.option("maxRecordsPerFile", max_file_rows)
            with _micros_timestamps(out):
                writer.partitionBy("_bucket").parquet(out_dir)
            written = self._scan_bucket_output(out_dir)
        gone = set(removed)
        files = {b: [p for p in fl if p not in gone] for b, fl in m["files"].items()}
        if n_buckets is not None:
            files = {str(b): files.get(str(b), []) for b in range(n_buckets)}
        for b, fl in written.items():
            files[b] = files.get(b, []) + fl
        self._record_file_schemas(m, files)
        self._write_manifest(
            {
                **m,  # carry schema_versions / properties forward
                "version": m["version"] + 1,
                "files": files,
                "committed_batches": m["committed_batches"]
                + ([] if batch_id is None else [batch_id]),
                "key_cols": self.key_cols,
                "n_buckets": self.n_buckets if n_buckets is None else n_buckets,
            }
        )
        return files

    @staticmethod
    def _scan_bucket_output(out_dir: str) -> dict[str, list[str]]:
        """Parquet files per bucket id written by ``_commit``'s
        ``partitionBy('_bucket')`` job."""
        out: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if entry.startswith("_bucket="):
                b = entry.split("=")[1]
                out[b] = [
                    os.path.join(out_dir, entry, f)
                    for f in os.listdir(os.path.join(out_dir, entry))
                    if f.endswith(".parquet")
                ]
        return out

    # ------------------------------------------- schema registry (D2)
    def register_schema(self, fields: list[dict]) -> int:
        """Idempotent schema register + compatibility validation +
        version lookup — the table-catalog analog of Hydra's
        SchemaRegistry (avro/src/main/scala/hydra/avro/registry/
        SchemaRegistry.scala:39-119 registerSchema/validate, :155-157
        version lookup).

        ``fields``: [{"name": str, "type": str, "default": any?}].
        Rules (BACKWARD compat, like the reference's registry default):
          * identical to the latest version -> returns the existing
            version id (idempotent re-register)
          * additive — every existing field keeps its name+type; new
            fields appended (readers fill ``default``, else NULL)
          * anything else (removal, type change) -> SchemaCompatError

        Deviations from Confluent's BACKWARD level, both conservative
        (pinned by tests/test_tables_evolution.py::
        test_compat_level_pinned_to_confluent_backward):
          * additions WITHOUT an explicit default are accepted — an
            absent default means nullable-with-NULL-default here (the
            defaults layer fills NULL), where Confluent requires the
            default to be spelled out;
          * field REMOVAL is rejected (Confluent BACKWARD allows it):
            removal is backward-safe but strands FORWARD readers, and a
            shared-topic catalog shouldn't let one producer do that;
          * Avro type promotions (int->long, float->double) are
            rejected — type equality is exact, no promotion table.
        """
        fields = [dict(f) for f in fields]
        # key fields must exist and be non-nullable, checked here (at
        # registration) so a doomed keyed table fails fast, not per-merge
        validate_key_fields(self.key_cols, fields)
        m = self.manifest()
        versions = m.get("schema_versions", [])
        if versions and versions[-1]["fields"] == fields:
            return versions[-1]["id"]
        if versions:
            old = {f["name"]: f["type"] for f in versions[-1]["fields"]}
            new = {f["name"]: f["type"] for f in fields}
            removed = [n for n in old if n not in new]
            retyped = [n for n in old if n in new and new[n] != old[n]]
            if removed or retyped:
                raise SchemaCompatError(
                    f"incompatible evolution: removed={removed} retyped="
                    f"{[(n, old[n], new[n]) for n in retyped]}"
                )
        vid = len(versions) + 1
        m["schema_versions"] = versions + [{"id": vid, "fields": fields}]
        m["version"] += 1
        self._write_manifest(m)
        return vid

    def schema_version(self, vid: int | None = None) -> dict | None:
        """Version lookup (latest when vid is None)."""
        versions = self.manifest().get("schema_versions", [])
        if not versions:
            return None
        if vid is None:
            return versions[-1]
        return next((v for v in versions if v["id"] == vid), None)

    # ------------------------------------------- table properties (D5)
    def set_properties(self, props: dict[str, str]) -> None:
        """Tag/property upsert (TagsAlgebra semantics: keyed key/value
        metadata on the catalog entry, ingestors/kafka/src/main/scala/
        hydra/kafka/algebras/TagsAlgebra.scala). Null value deletes."""
        m = self.manifest()
        cur = dict(m.get("properties", {}))
        for k, v in props.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = str(v)
        m["properties"] = cur
        m["version"] += 1
        self._write_manifest(m)

    def properties(self) -> dict[str, str]:
        return dict(self.manifest().get("properties", {}))

    # ---------------------------------------------------------- read
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or — time travel — any retained
        historical snapshot by manifest version (Iceberg
        ``VERSION AS OF``). A snapshot pins BOTH its file list and its
        schema: a v-old read projects onto the schema as registered at
        that version, not today's."""
        m = self.manifest() if version is None else self.manifest_at(version)
        files = [p for fl in m["files"].values() for p in fl]
        if not files:
            return self._empty_like(spark, m)
        return self._read_files(spark, files, m)

    # ------------------------------------------------- scan planning
    def plan_files(self, predicates: dict, version: int | None = None) -> tuple[list[str], int]:
        """Iceberg-style scan planning: given range conjuncts
        ``{col: (lo, hi)}`` (inclusive bounds, ``None`` = unbounded),
        return ``(files_to_read, total_files)`` using ONLY the
        manifest's per-file column stats — no file is opened. A file
        survives iff every conjunct's range intersects its [min, max];
        files with no stats for a column are kept (conservative), files
        where the column is all-NULL are skipped (a range predicate
        never matches NULL)."""
        for c, (lo, hi) in predicates.items():
            if lo is None and hi is None:
                raise ValueError(f"predicate on {c!r} has no bounds")
        m = self.manifest() if version is None else self.manifest_at(version)
        fstats = m.get("file_stats", {})
        files = [p for fl in m["files"].values() for p in fl]
        kept = [
            p
            for p in files
            if all(
                _stats_admit(fstats.get(p, {}).get(c), lo, hi)
                for c, (lo, hi) in predicates.items()
            )
        ]
        return kept, len(files)

    def read_where(
        self, spark: SparkSession, predicates: dict, version: int | None = None
    ) -> DataFrame:
        """File-skipping range scan: semantically identical to
        ``read().filter(lo <= col <= hi for every conjunct)`` but files
        whose manifest stats prove no row can match are never opened.
        The residual filter is still applied exactly, so stats only
        ever REMOVE work, never change the answer. This is the 10^12-row
        path for time-range queries over an append-generation table:
        each append's files carry that batch's event-time bounds, so a
        one-day window over years of generations touches only that
        day's files (Iceberg scan planning over manifest bounds;
        Hydra analog: offset-seek S5 skipping whole segments,
        ingestors/kafka consumer seek path)."""
        m = self.manifest() if version is None else self.manifest_at(version)
        kept, _total = self.plan_files(predicates, version=version)
        df = self._read_files(spark, kept, m) if kept else self._empty_like(spark, m)
        for c, (lo, hi) in predicates.items():
            if lo is not None:
                df = df.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(c) <= F.lit(hi))
        return df

    # ------------------------------------------------- snapshot lifecycle
    def snapshots(self) -> list[dict]:
        """Retained snapshots, oldest first: [{version, committed_at,
        n_files, n_batches}] — the Iceberg ``table.snapshots()`` metadata
        view. Only manifests still on disk appear (expired ones don't)."""
        out = []
        mdir = os.path.join(self.path, "manifests")
        for name in os.listdir(mdir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            with open(os.path.join(mdir, name)) as f:
                m = json.load(f)
            out.append(
                {
                    "version": m["version"],
                    "committed_at": m.get("committed_at", 0.0),
                    "n_files": sum(len(v) for v in m["files"].values()),
                    "n_batches": len(m["committed_batches"]),
                }
            )
        return sorted(out, key=lambda s: s["version"])

    def read_as_of(self, spark: SparkSession, ts: float) -> DataFrame:
        """Time travel by wall-clock: latest retained snapshot whose
        commit time is <= ts (Iceberg ``TIMESTAMP AS OF``)."""
        eligible = [s["version"] for s in self.snapshots() if s["committed_at"] <= ts]
        if not eligible:
            raise SnapshotExpiredError(
                f"no snapshot at or before ts={ts} (table {self.path})"
            )
        return self.read(spark, version=max(eligible))

    def _empty_like(self, spark: SparkSession, m: dict) -> DataFrame:
        """Zero-row DataFrame with the table's real column shape: from
        data files if the snapshot has any, else from the registered
        schema, else from the columns the last write recorded. A table
        with none of these has no defined shape — loud error, not a
        placeholder schema the caller's select would trip over."""
        files = [p for fl in m["files"].values() for p in fl]
        if files:
            return self._read_files(spark, files, m).limit(0)
        versions = m.get("schema_versions", [])
        if versions:
            ddl = ", ".join(f"{f['name']} {f['type']}" for f in versions[-1]["fields"])
            return spark.createDataFrame([], schema=ddl)
        if "columns" in m:
            return spark.createDataFrame([], schema=m["columns"])
        raise ValueError(
            f"table {self.path} has no data files, no registered schema and "
            "no written columns"
        )

    def stats(self, version: int | None = None) -> list[dict]:
        """Per-bucket table statistics — the Iceberg ``files`` /
        ``partitions`` metadata view: file count, row count, and byte
        size per bucket, computed from the manifest plus parquet FOOTERS
        only (never a data scan). This is what compaction and expiry
        policy consults at 10^12-row scale: a bucket with many small
        file generations is a rewrite candidate; row counts bound the
        cost of a read_changes diff before running it."""
        import pyarrow.parquet as pq

        m = self.manifest() if version is None else self.manifest_at(version)
        out = []
        for b, fl in sorted(m["files"].items(), key=lambda kv: int(kv[0])):
            out.append(
                {
                    "bucket": int(b),
                    "n_files": len(fl),
                    "n_rows": sum(pq.ParquetFile(p).metadata.num_rows for p in fl),
                    "n_bytes": sum(os.path.getsize(p) for p in fl),
                }
            )
        return out

    def _zorder_key(self, df: DataFrame, cols: list[str], m: dict, files: list[str]) -> Column:
        """Z-curve key over 2..4 numeric/timestamp columns: each column
        ranks into 2^ZORDER_BITS equal-width buckets against its
        TABLE-WIDE bounds, and the ranks bit-interleave into one long.
        Bounds come from the manifest's per-file stats (no data scan);
        only if a rewrite-candidate file predates stats collection does
        a one-pass min/max aggregate run as fallback."""
        from pyspark.sql import types as _T

        def norm(c: str, is_ts: bool) -> Column:
            return (
                F.unix_micros(F.col(c)).cast("double")
                if is_ts
                else F.col(c).cast("double")
            )

        fstats = m.get("file_stats", {})
        bounds: dict[str, tuple] = {}
        missing = False
        for c in cols:
            lo = hi = t = None
            for p in files:
                e = fstats.get(p, {}).get(c)
                if e is None:
                    missing = True
                    break
                if e["lo"] is None:  # all-NULL file: no bound contribution
                    continue
                if e["t"] == "str":
                    raise ValueError(
                        f"zorder_by supports numeric/timestamp columns; {c!r} "
                        "has string-ordered stats"
                    )
                t = t or e["t"]
                lo = e["lo"] if lo is None else min(lo, e["lo"])
                hi = e["hi"] if hi is None else max(hi, e["hi"])
            if missing:
                break
            bounds[c] = (lo, hi, t == "ts")
        if missing:
            bounds = {}
            aggs = []
            for c in cols:
                dt = df.schema[c].dataType
                if isinstance(dt, _T.TimestampType):
                    is_ts = True
                elif isinstance(dt, _T.NumericType):
                    is_ts = False
                else:
                    raise ValueError(
                        f"zorder_by supports numeric/timestamp columns; {c!r} is {dt}"
                    )
                e = norm(c, is_ts)
                aggs += [F.min(e).alias(f"lo_{c}"), F.max(e).alias(f"hi_{c}")]
                bounds[c] = is_ts  # placeholder, filled below
            row = df.agg(*aggs).collect()[0]
            bounds = {
                c: (row[f"lo_{c}"], row[f"hi_{c}"], bounds[c]) for c in cols
            }
        # keep the interleaved key inside the long's 63 value bits: at
        # 4 columns a full 16-bit rank would land its top bit at
        # position 63 (the SIGN bit), flipping half the keys negative
        # and silently destroying the curve's locality
        bits = min(ZORDER_BITS, 63 // len(cols))
        key = None
        for i, c in enumerate(cols):
            lo, hi, is_ts = bounds[c]
            rank = _zorder_rank(norm(c, is_ts), lo, hi, bits)
            part = _interleave_bits(rank, i, len(cols), bits)
            key = part if key is None else key.bitwiseOR(part)
        return key

    def compact(
        self,
        spark: SparkSession,
        max_files_per_bucket: int = 1,
        buckets: list[int] | None = None,
        sort_by: list[str] | None = None,
        target_file_rows: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Rewrite multi-file buckets into single files — the Iceberg
        ``rewrite_data_files`` (binpack) analog, and the consumer of the
        ``stats()`` metadata view. The streaming fast path
        (``append_dedup``) adds one file generation per touched bucket
        per micro-batch by design (no rewrites on the hot path); a
        sustained stream therefore needs periodic compaction or read
        amplification grows linearly with stream age. At 10^12-row
        scale this runs bucket-subset at a time (``buckets=``), driven
        by ``stats()``.

        Data-identical and snapshot-safe: rows are re-read through the
        same schema resolution as ``read()`` (declared defaults
        materialize, explicit NULLs survive — identical to a merge
        rewrite), retained older snapshots keep
        referencing the old files (``expire_snapshots`` deletes them
        once unreferenced), and ``read_changes`` across a compaction
        emits ZERO rows (the file lists differ, the content doesn't).

        ``sort_by`` + ``target_file_rows`` = Iceberg's SORT-ordered
        rewrite instead of binpack. Plain compaction DESTROYS the
        file-skipping value of append-generation layout: each appended
        batch's files carry that batch's column bounds (e.g. one day of
        event time), but merging generations into one file per bucket
        widens every file's bounds to the full table range, so
        plan_files() stops pruning. Sorting each bucket by the scan
        predicate's column and splitting at ``target_file_rows`` keeps
        per-file bounds to contiguous, disjoint ranges — read
        amplification drops AND range pruning survives compaction. The
        writer's required partition-column ordering is satisfied by
        putting _bucket first in the sort, so the per-bucket sort is
        not re-sorted away.

        ``zorder_by`` (2-4 numeric/timestamp columns, exclusive with
        ``sort_by``) = Delta's Z-ORDER rewrite: each column ranks into
        2^16 equal-width buckets against its table-wide bounds (taken
        from manifest stats — no extra scan) and the ranks
        bit-interleave into one long sort key. Where a single-column
        sort gives perfect pruning on that column and none on others,
        the Z-curve's locality gives ~sqrt-fraction file pruning on
        EVERY participating column — the right layout when a table is
        range-queried on two independent axes (e.g. event time AND
        user id).

        Returns {"buckets_compacted", "files_before", "files_after"}.
        """
        if zorder_by is not None:
            if sort_by:
                raise ValueError("sort_by and zorder_by are mutually exclusive")
            if not 2 <= len(zorder_by) <= 4:
                raise ValueError(
                    f"zorder_by takes 2-4 columns, got {len(zorder_by)}"
                )
        m = self.manifest()
        cands = {
            b: fl
            for b, fl in m["files"].items()
            if len(fl) > max_files_per_bucket
            and (buckets is None or int(b) in set(buckets))
        }
        if not cands:
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
        files = [p for fl in cands.values() for p in fl]
        df = self._read_files(spark, files, m).withColumn("_bucket", self._bucket_col())
        if zorder_by:
            df = df.withColumn("_zkey", self._zorder_key(df, zorder_by, m, files))
        out = df.repartition(len(cands), "_bucket")
        # one task per bucket (repartition on the bucket key), so each
        # bucket directory receives exactly one file — unless a sorted
        # rewrite splits it at target_file_rows into contiguous ranges
        if sort_by:
            out = out.sortWithinPartitions("_bucket", *sort_by)
        elif zorder_by:
            # the projection dropping the key runs above the sort and
            # preserves row order; files then hold contiguous Z-ranges
            out = out.sortWithinPartitions("_bucket", "_zkey").drop("_zkey")
        if target_file_rows is not None and target_file_rows < 1:
            raise ValueError(f"target_file_rows must be >= 1, got {target_file_rows}")
        # all-empty generations collapse to an empty bucket
        new_files = self._commit(m, out, removed=files, max_file_rows=target_file_rows)
        return {
            "buckets_compacted": len(cands),
            "files_before": len(files),
            "files_after": sum(len(new_files[b]) for b in cands),
        }

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Partition-spec evolution: rewrite the table into a different
        bucket count (Iceberg ``ALTER TABLE ... REPLACE PARTITION FIELD
        bucket(N, key)`` + ``rewrite_data_files``). Iceberg can evolve
        the spec lazily (new spec applies to new files only) because its
        readers plan per-file; a keyed table whose MERGE routing is
        bucket-modulus-based cannot — a mixed-modulus layout would route
        upserts to the wrong bucket (the same silent-row-loss hazard the
        constructor guards against). So the evolution is eager: one
        full rewrite, after which every commit routes with the new
        modulus. Run it when key cardinality has outgrown the bucket
        count (bucket skew on stats()) — at 10^12 rows this is a known
        one-off cost, amortized against every later merge touching
        fewer rows per bucket.

        Data-identical and snapshot-safe like compact(): rows re-read
        through schema resolution, retained snapshots keep their files,
        and ``read_changes`` across a rebucket emits ZERO rows (every
        bucket's file list changes, the content doesn't). Returns
        {"n_buckets_before", "n_buckets_after", "files_before",
        "files_after"}."""
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        m = self.manifest()
        files = [p for fl in m["files"].values() for p in fl]
        n_before = self.n_buckets
        if new_n_buckets == n_before:
            return {
                "n_buckets_before": n_before, "n_buckets_after": n_before,
                "files_before": len(files), "files_after": len(files),
            }
        out = None
        if files:
            out = (
                self._read_files(spark, files, m)
                .withColumn("_bucket", self._bucket_col(new_n_buckets))
                .repartition(new_n_buckets, "_bucket")
            )
        new_files = self._commit(m, out, removed=files, n_buckets=new_n_buckets)
        # routing switches only once the new layout is published
        self.n_buckets = new_n_buckets
        return {
            "n_buckets_before": n_before,
            "n_buckets_after": new_n_buckets,
            "files_before": len(files),
            "files_after": sum(len(v) for v in new_files.values()),
        }

    def _range_match(self, predicates: dict):
        """NULL-rejecting range-conjunct Column — the predicate language
        of the DML rewrites (``_rewrite_where``), with the semantics of
        plan_files / read_where: a range never matches NULL."""
        match = F.lit(True)
        for c, (lo, hi) in predicates.items():
            if lo is not None:
                match = match & (F.col(c) >= F.lit(lo))
            if hi is not None:
                match = match & (F.col(c) <= F.lit(hi))
        return F.coalesce(match, F.lit(False))

    def _rewrite_where(
        self, spark: SparkSession, predicates: dict, rewrite, count_key: str
    ) -> dict:
        """The one predicate-DML body (delete_where, update_where): a
        file-pruned copy-on-write rewrite. ``plan_files`` admits files
        from manifest stats alone; only those are read (through schema
        resolution), ``rewrite(df, match)`` gives the rows that replace
        them (it may raise, before anything is written), matches are
        counted, and the rows are re-bucketed and committed with the
        admitted files removed. Nothing is written when no row matches.
        Returns {count_key, "files_rewritten", "files_untouched",
        "buckets_touched"}."""
        m = self.manifest()
        admitted, total = self.plan_files(predicates)
        keep = set(admitted)
        cands = {
            b: [p for p in fl if p in keep]
            for b, fl in m["files"].items()
            if keep.intersection(fl)
        }
        files = [p for fl in cands.values() for p in fl]
        n = 0
        if files:
            df = self._read_files(spark, files, m)
            match = self._range_match(predicates)
            out = rewrite(df, match)
            n = df.where(match).count()
        if n == 0:  # no admitted file, or the residual hit nothing
            return {
                count_key: 0, "files_rewritten": 0,
                "files_untouched": total, "buckets_touched": 0,
            }
        out = out.withColumn("_bucket", self._bucket_col())
        self._commit(m, out.repartition(len(cands), "_bucket"), removed=files)
        return {
            count_key: int(n),
            "files_rewritten": len(files),
            "files_untouched": total - len(files),
            "buckets_touched": len(cands),
        }

    def delete_where(self, spark: SparkSession, predicates: dict) -> dict:
        """Predicate DELETE as a file-pruned rewrite — the Iceberg
        copy-on-write ``DELETE FROM t WHERE lo <= col <= hi`` analog
        (same range-conjunct language as ``read_where``). Scan planning
        runs first: files whose manifest stats prove NO row can match
        are never opened, never rewritten, and keep their exact paths in
        the new snapshot — deleting one day from years of
        append-generation history rewrites that day's files only. Only
        admitted files are read (twice: one pass counts matches, one
        writes survivors — both pruned, never full-table), and the
        residual filter is exact, so stats only remove work.

        NULL semantics match ``plan_files``: a range predicate never
        matches NULL, so NULL-valued rows always survive. Retained older
        snapshots still reference the old files (time travel sees the
        deleted rows until ``expire_snapshots``), and ``read_changes``
        across the delete emits exactly the deleted keys as 'delete'
        pre-image rows.

        Returns {"rows_deleted", "files_rewritten", "files_untouched",
        "buckets_touched"}.
        """
        return self._rewrite_where(
            spark, predicates, lambda df, match: df.where(~match), "rows_deleted"
        )

    def update_where(
        self, spark: SparkSession, predicates: dict, set_exprs: dict
    ) -> dict:
        """Predicate UPDATE as a file-pruned copy-on-write rewrite —
        the Iceberg ``UPDATE t SET c = expr WHERE lo <= col <= hi``
        analog, completing the DML triad next to ``merge_upsert`` and
        ``delete_where`` (Hydra analog: rationalized-record republish,
        kafka IngestionFlow re-ingest semantics). Same range-conjunct
        predicate language and the same scan-planning contract as
        ``delete_where``: files whose manifest stats prove no row can
        match are never opened and keep their exact paths in the new
        snapshot, so updating one day inside years of history rewrites
        that day's files only. ``set_exprs`` maps column name ->
        pyspark Column (or literal); expressions may reference other
        columns of the row (e.g. ``F.col("value") * 2``) and are
        applied ONLY to matching rows — non-matching rows in admitted
        files are rewritten byte-identical.

        Key columns cannot be SET: changing a key changes the row's
        bucket route and its MERGE identity — that operation is a
        delete+insert, not an update — so it raises ``ValueError``
        (same reasoning as rebucket()'s eager rewrite: every commit
        path must agree on where a key lives). SET names are validated
        against the registered schema BEFORE scan planning (a typo must
        raise even when the predicate matches nothing), a SET whose
        when/otherwise coercion would change the COLUMN's type raises
        ``SchemaCompatError`` (the silent-corruption path: files
        written under a widened type read back mangled through the
        registered cast), and ANSI value casts that fail (e.g. 'x'
        into a numeric column) abort the rewrite before the manifest
        commit — the table is never left half-updated. NULL predicate
        semantics match ``plan_files`` (a range never admits NULL
        rows).
        Retained snapshots still see pre-update values (time travel), and
        ``read_changes`` across the commit emits one 'update' row per
        changed key.

        Returns {"rows_updated", "files_rewritten", "files_untouched",
        "buckets_touched"}.
        """
        bad = sorted(set(set_exprs) & set(self.key_cols))
        if bad:
            raise ValueError(
                f"cannot SET key column(s) {bad}: key updates change bucket "
                "routing and merge identity — delete + re-insert instead"
            )
        # validate SET names UP FRONT against the registered schema when
        # one exists — a typo'd column must raise even when the
        # predicate matches nothing (a no-op return would mask it until
        # production data enters the range); schema-less tables are
        # checked against the data columns by set_rows, after the read
        latest = self.schema_version()
        if latest is not None:
            known = {f["name"] for f in latest["fields"]}
            missing = sorted(set(set_exprs) - known)
            if missing:
                raise ValueError(f"SET column(s) {missing} not in table schema")

        def set_rows(df: DataFrame, match: Column) -> DataFrame:
            missing = sorted(set(set_exprs) - set(df.columns))
            if missing:
                raise ValueError(f"SET column(s) {missing} not in table schema")
            sets = {
                c: (e if isinstance(e, Column) else F.lit(e))
                for c, e in set_exprs.items()
            }
            # one select, every SET expr resolved against the PRE-update
            # row simultaneously: SET a = b, b = a swaps (SQL UPDATE
            # semantics), never sequential assignment
            out = df.select(
                *[
                    F.when(match, sets[c]).otherwise(F.col(c)).alias(c)
                    if c in sets
                    else F.col(c)
                    for c in df.columns
                ]
            )
            # a SET expr must not change a column's TYPE: when/otherwise
            # would silently coerce (long -> string, ...) and the
            # rewritten files would read back NULL through the registered
            # schema's cast — the same silent corruption every explicit
            # evolution path guards with SchemaCompatError
            changed = [
                (a.name, str(a.dataType), str(b.dataType))
                for a, b in zip(df.schema.fields, out.schema.fields)
                if a.dataType != b.dataType
            ]
            if changed:
                raise SchemaCompatError(
                    f"SET expression changes column type(s) {changed}; "
                    "register a schema evolution instead"
                )
            return out

        return self._rewrite_where(spark, predicates, set_rows, "rows_updated")

    def read_changes(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental scan between two snapshots — the Delta CDF /
        Iceberg incremental-read analog. Returns the feed columns of the
        ``to_version`` snapshot (``cdf_stream.feed_schema``) plus
        ``_change_type`` ('insert' | 'update' | 'delete'); unchanged
        keys produce no row. Delete rows carry the OLD values
        (pre-image), insert/update rows the new ones.

        This is the batch read of the ``hydra_cdf`` source, so it is
        the same per-bucket Arrow diff the change stream runs: BUCKET-
        PRUNED from the manifests alone (a bucket whose file list is
        identical in both snapshots cannot contain a change and is never
        read), one input partition per touched bucket, no shuffle. Both
        manifests and the columns are resolved here, before Spark plans
        the read, so SnapshotExpiredError and ValueError reach the
        caller unwrapped."""
        from hydra_spark.sources.cdf_stream import FORMAT_NAME, CdfDataSource, feed_schema

        self.manifest_at(from_version)
        m_to = self.manifest() if to_version is None else self.manifest_at(to_version)
        spark.dataSource.register(CdfDataSource)
        return (
            spark.read.format(FORMAT_NAME)
            .schema(feed_schema(self.path, m_to))
            .option("path", self.path)
            .option("startingVersion", str(from_version))
            .option("endingVersion", str(m_to["version"]))
            .load()
        )

    def rollback(self, version: int) -> int:
        """Restore table state (files, file schemas, schema versions,
        properties) to an earlier snapshot AS A NEW VERSION — history is
        append-only, exactly Iceberg's rollback_to_snapshot. Returns the
        new version id. ``committed_batches`` is carried forward, NOT
        rolled back: a batch that was committed once stays committed for
        exactly-once purposes even if its data was undone — replaying it
        after a rollback must still be a no-op."""
        old = self.manifest_at(version)
        cur = self.manifest()
        self._write_manifest(
            {
                **old,
                "version": cur["version"] + 1,
                "committed_batches": cur["committed_batches"],
                "rolled_back_from": cur["version"],
                "rolled_back_to": version,
            }
        )
        return cur["version"] + 1

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files referenced ONLY by the dropped ones (Iceberg
        expire_snapshots). This is the compaction-debt release valve: at
        10^12-row scale every merge_upsert rewrites whole buckets, so
        without expiry the table holds every bucket generation ever
        written. Returns {"manifests_removed", "files_deleted"}.

        Only deletes files no RETAINED manifest references — a time-travel
        read of any kept version stays valid; reads of expired versions
        raise SnapshotExpiredError."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots()
        cur = current_version(self.path)
        keep = {s["version"] for s in snaps[-keep_last:]} | {cur}
        expired = [s["version"] for s in snaps if s["version"] not in keep]
        live: set[str] = set()
        for v in keep:
            for fl in self.manifest_at(v)["files"].values():
                live.update(fl)
        files_deleted = 0
        for v in expired:
            m = self.manifest_at(v)
            for fl in m["files"].values():
                for p in fl:
                    if p not in live and os.path.exists(p):
                        os.remove(p)
                        files_deleted += 1
                        crc = os.path.join(
                            os.path.dirname(p), "." + os.path.basename(p) + ".crc"
                        )
                        if os.path.exists(crc):
                            os.remove(crc)
            os.remove(os.path.join(self.path, "manifests", f"v{v}.json"))
        # prune now-empty commit dirs (bucket partitions then c* roots)
        data_root = os.path.join(self.path, "data")
        for commit_dir in os.listdir(data_root):
            cpath = os.path.join(data_root, commit_dir)
            for sub in list(os.listdir(cpath)) if os.path.isdir(cpath) else []:
                spath = os.path.join(cpath, sub)
                if os.path.isdir(spath) and not os.listdir(spath):
                    os.rmdir(spath)
            if os.path.isdir(cpath) and not any(
                e.endswith(".parquet") or os.path.isdir(os.path.join(cpath, e))
                for e in os.listdir(cpath)
            ):
                shutil.rmtree(cpath)
        return {"manifests_removed": len(expired), "files_deleted": files_deleted}

    def _read_files(self, spark: SparkSession, files: list[str], m: dict) -> DataFrame:
        versions = m.get("schema_versions", [])
        if not versions:
            # no-registry tables can hold files with differing column
            # sets (unionByName(allowMissingColumns) merges); a sampled
            # single-file schema would silently drop the other writers'
            # columns — and compact() would make that loss permanent
            return spark.read.option("mergeSchema", "true").parquet(*files)
        # evolution-aware read: files are grouped by the schema id they
        # were COMMITTED under (tracked in the manifest); a field absent
        # from a file's schema reads as its declared default, while an
        # explicit NULL written under a schema that HAS the field stays
        # NULL — exactly Avro reader/writer-schema resolution
        # (SchemaRegistry compat model), never a blanket coalesce.
        fs = m.get("file_schema", {})
        groups: dict[int, list[str]] = {}
        for p in files:
            groups.setdefault(int(fs.get(p, 0)), []).append(p)
        parts = []
        for sid, paths in sorted(groups.items()):
            # sid 0 = pre-registry legacy files (mixed schemas possible)
            reader = spark.read.option("mergeSchema", "true") if sid == 0 else spark.read
            d = reader.parquet(*paths)
            parts.append(_project_to_schema(d, versions[-1]["fields"]))
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        return out

    def _record_file_schemas(self, m: dict, new_files: dict) -> None:
        """Stamp newly-added files with the current latest schema id and
        prune entries for files no longer referenced."""
        versions = m.get("schema_versions", [])
        if not versions:
            return
        sid = versions[-1]["id"]
        live = {p for fl in new_files.values() for p in fl}
        fs = {p: v for p, v in m.get("file_schema", {}).items() if p in live}
        for p in live:
            fs.setdefault(p, sid)
        m["file_schema"] = fs

    def is_empty(self) -> bool:
        return not any(self.manifest()["files"].values())

    # ---------------------------------------------------------- write
    def _bucket_col(self, n_buckets: int | None = None):
        n = self.n_buckets if n_buckets is None else n_buckets
        return F.pmod(F.hash(*[F.col(c) for c in self.key_cols]), F.lit(n))

    def apply_changes(self, spark: SparkSession, changes: DataFrame, batch_id) -> bool:
        """CDC consumer side: apply a ``read_changes``-shaped feed
        (table columns + ``_change_type`` in insert/update/delete) to
        THIS table — together with read_changes this gives incremental
        table replication: reader pays only touched buckets, writer pays
        one idempotent merge. insert/update rows upsert, delete rows
        tombstone; idempotent per batch_id like every commit, so a
        replayed feed segment is a no-op (exactly-once replication)."""
        if batch_id in self.committed_batches():
            return False  # replay short-circuit BEFORE any feed compute
        # feed must carry every target column — a feed projected to a
        # subset would otherwise silently replicate NULLs via the merge's
        # allowMissingColumns union (fresh tables with no data/schema
        # have no shape to check yet)
        try:
            expected = set(self._empty_like(spark, self.manifest()).columns)
        except ValueError:
            expected = set()
        missing = expected - set(changes.columns)
        if missing:
            raise ValueError(f"change feed missing target columns: {sorted(missing)}")
        # persist: the feed is typically a read_changes plan (a per-bucket
        # diff of two snapshots) and is consumed by BOTH the validation
        # action and the merge — never re-run the upstream plan twice
        changes = changes.persist()
        try:
            allowed = {"insert", "update", "delete"}
            bad = [
                r[0]
                for r in changes.select("_change_type").distinct().collect()
                if r[0] not in allowed
            ]
            if bad:
                raise ValueError(f"unknown _change_type values: {bad}")
            batch = changes.withColumn(
                "_delete", F.col("_change_type") == "delete"
            ).drop("_change_type")
            return self.merge_upsert(spark, batch, batch_id)
        finally:
            changes.unpersist()

    def merge_upsert(self, spark: SparkSession, batch: DataFrame, batch_id) -> bool:
        """MERGE batch INTO table ON key_cols; idempotent per batch_id.

        Latest-wins within the batch is the caller's duty (sink dedups
        first). Rows with boolean column ``_delete`` = true delete their
        key. Returns False if batch_id was already committed (replay).
        """
        m = self.manifest()
        if batch_id in m["committed_batches"]:
            return False  # replayed batch — exactly-once guarantee

        has_delete = "_delete" in batch.columns
        batch = batch.withColumn("_bucket", self._bucket_col())
        affected = [r[0] for r in batch.select("_bucket").distinct().collect()]

        old_files = {int(k): v for k, v in m["files"].items()}
        read_files = [p for b in affected for p in old_files.get(int(b), [])]

        if read_files:
            # existing rows are re-read through the same schema
            # resolution as read() — a copy-on-write rewrite materializes
            # declared defaults into the new files (Avro reader
            # semantics at rewrite time), keeping explicit NULLs intact
            existing = self._read_files(spark, read_files, m).withColumn("_bucket", self._bucket_col())
            if has_delete and "_delete" not in existing.columns:
                existing = existing.withColumn("_delete", F.lit(False))
            # anti-join out keys present in the batch, then union the batch
            merged = existing.join(
                batch.select(*self.key_cols).distinct(), on=self.key_cols, how="left_anti"
            ).unionByName(batch, allowMissingColumns=True)
        else:
            merged = batch
        if has_delete:
            merged = merged.where(~F.coalesce(F.col("_delete"), F.lit(False))).drop("_delete")
        # every file of an affected bucket is replaced; a bucket whose
        # rows were all deleted stays listed, empty
        self._commit(
            m,
            merged.repartition(max(1, len(affected)), "_bucket"),
            removed=read_files,
            batch_id=batch_id,
        )
        return True

    def append_dedup(
        self, spark: SparkSession, batch: DataFrame, batch_id, preclustered: bool = False
    ) -> bool:
        """Keyed insert-only commit: rows whose key already exists are
        dropped (first-wins); **no existing file is rewritten**.

        This is the streaming-append fast path. merge_upsert is
        copy-on-write (rewrites every touched bucket — O(table) per
        batch once all buckets are touched); append_dedup is the
        merge-on-read analog (Iceberg `MERGE ... WHEN NOT MATCHED THEN
        INSERT`). The existing-keys anti-join reads the key columns of
        every file of the table, under the batch's own key schema (no
        footer-schema inference job). A key fixes its bucket, so this
        gives the same rows as reading only the touched buckets, without
        a job to find them: the write is the commit's only action.
        Commit cost is O(batch) + O(table keys), and the number of files
        opened grows by the files each commit writes, so a table that
        only takes append_dedup commits should have one bucket (one file
        per write task). Latest-wins/tombstone
        workloads still use merge_upsert. Idempotent per batch_id like
        merge_upsert.

        ``preclustered``: the caller guarantees the batch is already
        hash-partitioned by the key columns (e.g. it just came out of a
        groupBy(key) dedup). Then every key's rows — and therefore every
        bucket's rows, since _bucket = pmod(hash(key), n) — sit in one
        task already, and the pre-write repartition (a full extra
        shuffle of the batch) is skipped; partitionBy still routes each
        task's rows to their bucket directories.
        """
        m = self.manifest()
        if batch_id in m["committed_batches"]:
            return False

        batch = batch.withColumn("_bucket", self._bucket_col())
        files = [p for fl in m["files"].values() for p in fl]
        if files:
            key_schema = StructType([batch.schema[c] for c in self.key_cols])
            existing_keys = spark.read.schema(key_schema).parquet(*files)
            batch = batch.join(existing_keys, on=self.key_cols, how="left_anti")
        out = batch if preclustered else batch.repartition(self.n_buckets, "_bucket")
        self._commit(m, out, batch_id=batch_id)
        return True


class AppendTable:
    """Append-only table (metrics / lineage / quarantine) with batch-id
    idempotence via deterministic per-batch file names.

    Small per-batch row sets (one row per source partition for lineage,
    a handful for metrics) are written driver-side as single parquet
    files named by batch_id — a replayed batch overwrites its own file,
    so replays cannot double-append (Hydra analog: KafkaRecordMetadata
    per-delivery bookkeeping, producer/KafkaRecordMetadata.scala:16-40).
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def append_pandas(self, pdf, batch_id) -> None:
        tmp = os.path.join(self.path, f"batch-{batch_id}.parquet.tmp")
        dst = os.path.join(self.path, f"batch-{batch_id}.parquet")
        pdf.to_parquet(tmp, index=False)
        os.rename(tmp, dst)

    def append_df(self, df: DataFrame, batch_id) -> None:
        """Executor-side append for row sets that must never transit the
        driver (e.g. a whole quarantined batch when a codec goes bad).
        A replayed batch overwrites its own directory — same batch-id
        idempotence as append_pandas."""
        out_dir = os.path.join(self.path, f"batch-{batch_id}.d")
        with _micros_timestamps(df):
            df.write.mode("overwrite").parquet(out_dir)

    def read(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: an append table can have writers with different
        # column sets (e.g. quarantine receives the sink's decoded-row
        # split AND the admission side stream's raw ingest columns);
        # without it Spark infers from one sampled file and the other
        # writer's columns silently disappear based on file order.
        return (
            spark.read.option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .option("mergeSchema", "true")
            .parquet(self.path)
        )

    def is_empty(self) -> bool:
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return False
        return True


# The engine's table set (Hydra Bootstrap.scala:25-80 analog): handle
# name -> directory under the root. "output" is the keyed table.
TABLES = {
    "output": "output",
    "metrics": "_metrics",
    "lineage": "_lineage",
    "quarantine": "_quarantine",
}


def bootstrap(
    root: str, output_keys: list[str], n_buckets: int = 32, retries: int = 2,
    subject: str | None = None,
) -> dict:
    """Create (or open) the engine's table set ``TABLES`` with Hydra's
    CreateTopicProgram semantics (ingestors/kafka/src/main/scala/hydra/
    kafka/programs/CreateTopicProgram.scala:39-107): each resource
    creation is retried, and on terminal failure every resource created
    so far is deleted — a half-created table set is never left behind.

    ``subject``: optional user-facing topic name, validated against the
    Subject grammar BEFORE any resource is created (the reference
    refuses the request at the transport layer — nothing to roll back)."""
    if subject is not None:
        validate_subject(subject)
    created: list[str] = []
    out: dict = {}
    try:
        for name, table_dir in TABLES.items():
            path = os.path.join(root, table_dir)
            if not os.path.exists(path):
                # recorded BEFORE the ctor runs: a ctor that fails midway
                # (dirs made, manifest write failed) must still roll back
                created.append(path)
            last: Exception | None = None
            for _attempt in range(retries + 1):
                try:
                    if name == "output":
                        out[name] = TransactionalTable(path, output_keys, n_buckets)
                    else:
                        out[name] = AppendTable(path)
                    last = None
                    break
                except Exception as e:  # retryingOnAllErrors analog
                    last = e
            if last is not None:
                raise last
        return out
    except Exception:
        for p in reversed(created):  # rollback: delete-on-failure, newest first
            shutil.rmtree(p, ignore_errors=True)
        raise


def drop(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)


def drop_with_report(root: str, names: list[str] | None = None) -> list[dict]:
    """D3: deletion program with a partial-failure report — one outcome
    row per table; a failing delete never aborts the rest (Hydra's
    TopicDeletionProgram collects per-topic errors into a failure list,
    ingest/src/main/scala/hydra.ingest/programs/TopicDeletionProgram.scala).
    """
    names = names or list(TABLES.values())
    report = []
    for name in names:
        path = os.path.join(root, name)
        if not os.path.exists(path):
            report.append({"table": name, "status": "not_found", "error": None})
            continue
        try:
            shutil.rmtree(path)
            report.append({"table": name, "status": "deleted", "error": None})
        except OSError as e:
            report.append({"table": name, "status": "failed", "error": str(e)})
    return report
