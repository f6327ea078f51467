"""Admission validation — Hydra's strict/relaxed + logical-type + size rules.

Reference semantics re-expressed as DataFrame predicates:

  * Strict vs Relaxed schema validation: Hydra rejects payloads with
    fields not in the schema under Strict, ignores them under Relaxed —
    RECURSIVELY over nested records/unions
    (avro/src/main/scala/hydra/avro/convert/StringToGenericRecord.scala:28-51,
    ValidationStrategy in core). Here: strict -> raise on unexpected
    columns/struct fields; relaxed -> nested select of only the declared
    fields (column pruning, free in Catalyst). Row-level JSON payloads:
    ``extra_json_field_paths`` emits the undeclared paths per row.
  * timestamp-millis > 0 rule (StringToGenericRecord.scala:65-67,
    opt-in per topic at IngestionFlowV2.scala:79-91): rows with
    event_time <= epoch are quarantined, never crash the stream.
  * uuid logical type (StringToGenericRecord.scala:63-64): string
    columns declared uuid must parse as RFC-4122; failures quarantined.
  * Record size limit -> RecordTooLarge
    (KafkaClientAlgebra.scala:204-215 checkSizeLimit): oversized rows
    are quarantined with reason, not failed.
  * Publish-error taxonomy (KafkaClientAlgebra.scala:182-202 —
    Timeout / RecordTooLarge / TopicNotFoundInMetadata / Other, mapped
    to HTTP codes at IngestionEndpoint.scala:89-96): ``error_code``
    maps reject reasons to stable numeric codes; it is also the ingest
    flow's status map (``ingest_flow.ingest_verdict``), whose request
    rejects (MissingPayload, JsonConversionError, MissingKey) are 400
    and RecordTooLarge 413. TopicNotFoundInMetadata
    has no analog: the flagship bootstraps its tables before the query
    starts, so a batch never publishes to a missing table.

All checks are JVM-side Column predicates — one pass, whole-stage
codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

# RFC-4122 textual form (any version; Hydra defers to UUID.fromString)
UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"


class PublishError(Exception):
    """Typed publish-error taxonomy (KafkaClientAlgebra.scala:182-202)."""

    code = 500


class PublishTimeout(PublishError):
    code = 408


class RecordTooLargeError(PublishError):
    code = 413


class InvalidLogicalTypeError(PublishError):
    code = 422


def error_code(reason: Column) -> Column:
    """reject_reason -> stable numeric code (a report row carries both,
    so downstream alerting keys on codes, not strings)."""
    return (
        F.when(reason.isNull(), F.lit(None).cast("int"))
        .when(reason.startswith("RecordTooLarge"), RecordTooLargeError.code)
        .when(reason.startswith("InvalidLogicalType"), InvalidLogicalTypeError.code)
        .when(reason.startswith("InvalidUuid"), InvalidLogicalTypeError.code)
        .when(reason.startswith("ExtraFields"), InvalidLogicalTypeError.code)
        .when(reason.startswith("DecodeError"), 400)
        .when(reason.startswith("MissingPayload"), 400)
        .when(reason.startswith("JsonConversionError"), 400)
        .when(reason.startswith("MissingKey"), 400)
        .when(reason.startswith("Timeout"), PublishTimeout.code)
        .otherwise(PublishError.code)
    )

EXPECTED_COLS = [
    "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
    "ingest_partition", "ingest_offset", "event_time",
]


class ExtraFieldsError(ValueError):
    """Strict-mode rejection (Hydra ValidationExtraFieldsError)."""


def conform_schema(df: DataFrame, strict: bool, expected: list[str] | None = None) -> DataFrame:
    expected = expected or [c for c in EXPECTED_COLS if c in df.columns or strict]
    declared = [c for c in expected if c in df.columns]
    extra = [c for c in df.columns if c not in expected]
    if extra and strict:
        raise ExtraFieldsError(f"unexpected fields under strict validation: {extra}")
    return df.select(*declared)


def _extra_struct_paths(actual: T.StructType, expected: T.StructType, prefix: str = "") -> list[str]:
    """Recursive extra-field diff over nested structs — the schema-level
    form of StringToGenericRecord.scala:28-51 (records and nullable
    unions recurse; everything else compares by name)."""
    allowed = {f.name: f for f in expected.fields}
    extras: list[str] = []
    for f in actual.fields:
        if f.name not in allowed:
            extras.append(prefix + f.name)
        elif isinstance(f.dataType, T.StructType) and isinstance(allowed[f.name].dataType, T.StructType):
            extras += _extra_struct_paths(f.dataType, allowed[f.name].dataType, prefix + f.name + ".")
    return extras


def _prune_expr(col: Column, actual: T.DataType, expected: T.DataType) -> Column:
    if isinstance(actual, T.StructType) and isinstance(expected, T.StructType):
        have = {f.name: f for f in actual.fields}
        kept = [
            _prune_expr(col.getField(f.name), have[f.name].dataType, f.dataType).alias(f.name)
            for f in expected.fields
            if f.name in have
        ]
        if not kept:  # no shared subfields: field prunes to a NULL struct
            return F.lit(None).cast(expected)
        # NULL parents stay NULL — a bare F.struct(...) is never null, so
        # it would rebuild a NULL record as a struct of NULLs
        return F.when(col.isNotNull(), F.struct(*kept))
    return col


def conform_schema_nested(df: DataFrame, expected: T.StructType, strict: bool) -> DataFrame:
    """Nested strict/relaxed validation: strict raises ExtraFieldsError
    listing every undeclared field path (top-level or inside any struct);
    relaxed rebuilds each struct with only the declared subfields."""
    extras = _extra_struct_paths(df.schema, expected)
    if extras and strict:
        raise ExtraFieldsError(f"unexpected fields under strict validation: {extras}")
    have = {f.name: f for f in df.schema.fields}
    return df.select(
        *[
            _prune_expr(F.col(f.name), have[f.name].dataType, f.dataType).alias(f.name)
            for f in expected.fields
            if f.name in have
        ]
    )


def extra_json_field_paths(json_col: str, declared: dict[str, list[str]]) -> Column:
    """Array column of undeclared field paths in a per-row JSON payload.

    ``declared`` maps object path ("" = root) -> allowed key list; every
    declared nested-object path recurses. The loop runs at plan-build
    time over the STATIC declared schema — runtime is pure JVM
    (json_object_keys + array_except), no Python. Row-level analog of
    the recursive diff in StringToGenericRecord.scala:28-51.
    """
    def _prefixer(p: str):
        # single-arg lambda REQUIRED: pyspark passes (element, index) to
        # two-parameter callables, so a default-arg capture would bind
        # the array index, not the prefix
        return lambda x: F.concat(F.lit(p), x)

    parts = []
    for path in sorted(declared):
        keys = declared[path]
        obj = F.col(json_col) if path == "" else F.get_json_object(F.col(json_col), f"$.{path}")
        ks = F.coalesce(F.json_object_keys(obj), F.array().cast("array<string>"))
        extra = F.array_except(ks, F.array(*[F.lit(k) for k in keys]))
        parts.append(F.transform(extra, _prefixer("" if path == "" else path + ".")))
    out = F.flatten(F.array(*parts))
    return F.array_sort(out)


def admission_checks(
    df: DataFrame,
    max_bytes: int | None = None,
    enforce_positive_ts: bool = True,
    uuid_cols: list[str] | None = None,
) -> DataFrame:
    """Adds ``reject_reason`` (NULL = admitted). Single projection.
    Rule order = reject precedence (first failure wins): uuid ->
    timestamp -> size, matching Hydra's validate-before-size-check flow
    (IngestionFlowV2 toGenericRecord before publish's checkSizeLimit)."""
    reason = F.lit(None).cast("string")
    if max_bytes is not None:
        reason = F.when(
            F.length(F.col("bytes")) > max_bytes,
            F.concat(F.lit("RecordTooLarge:"), F.length("bytes").cast("string"), F.lit(f">{max_bytes}")),
        ).otherwise(reason)
    if enforce_positive_ts:
        reason = F.when(
            F.col("event_time") <= F.timestamp_seconds(F.lit(0)), F.lit("InvalidLogicalType:timestamp-millis<=0")
        ).otherwise(reason)
    # reversed: each wrap becomes the OUTERMOST when, so the FIRST listed
    # column's failure must be wrapped last to actually win
    for c in reversed(uuid_cols or []):
        # null passes (nullable-union semantics); non-null must parse
        # (StringToGenericRecord.scala:63-64)
        reason = F.when(
            F.col(c).isNotNull() & ~F.col(c).rlike(UUID_RE),
            F.concat(F.lit(f"InvalidUuid:{c}:"), F.col(c)),
        ).otherwise(reason)
    return df.withColumn("reject_reason", reason)


def key_value_mismatch_report(
    df: DataFrame, id_cols: list[str], pairs: list[tuple[str, str, str]]
) -> DataFrame:
    """Detailed key/value consistency report — Hydra requires any field
    present in BOTH the key and value schemas to carry equal values and
    reports every offending field by name (ingest/src/main/scala/
    hydra.ingest/services/IngestionFlowV2.scala:120-141).

    ``pairs``: (field_name, key_col, value_col). Output: one row per
    (record, mismatched field): id_cols..., field, key_value,
    value_value — all values stringified for a uniform report schema.
    One projection + explode; no join, no Python.
    """
    entries = [
        F.when(
            ~F.col(k).eqNullSafe(F.col(v)),
            F.struct(
                F.lit(name).alias("field"),
                F.col(k).cast("string").alias("key_value"),
                F.col(v).cast("string").alias("value_value"),
            ),
        )
        for name, k, v in pairs
    ]
    arr = F.array_compact(F.array(*entries))
    return (
        df.select(*id_cols, F.explode(arr).alias("_m"))
        .select(*id_cols, "_m.field", "_m.key_value", "_m.value_value")
    )
