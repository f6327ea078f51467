"""Request-table ingest flow — the V2 HTTP ingest path as a DataFrame op.

Hydra's ingest endpoint builds a HydraRequest per call, resolves the
topic schema, converts the JSON payload to a typed record (strict or
simple), extracts the record key, publishes, and answers with a
per-request IngestionReport carrying a status code
(reference: ingest/src/main/scala/hydra.ingest/services/
IngestionFlowV2.scala:94-100 ingest; report semantics
IngestionSupervisor.scala:122-141 + IngestionReport.scala:8-12; HTTP
code mapping IngestionEndpoint.scala:89-96,130-175).

With no interactive HTTP source in a Spark-first engine (SURVEY.md §2.1
S1-S3 substitution), the endpoint becomes a table-driven operator: one
input row per request ``(correlation_id, payload)``; the output carries
the typed record columns for admitted rows plus the per-request report
``(status_code, error)``. Requests NEVER fail the job — every outcome
is a report row, exactly like the reference's 200/400/413 responses.

Pipeline order mirrors the reference: size admission first
(checkSizeLimit rejects before any conversion work is queued,
KafkaClientAlgebra.scala:204-215), then JSON->typed conversion, then
key extraction (missing key on a keyed destination is a validation
error). All checks are one JVM-side projection.

``ingest_verdict`` is that projection over one payload column, with
status from ``validation.error_code``; ``ingest_requests`` and the
socket path's ingest frames (``socket_flow.interpret_frames``) both run
it, so both transports answer a payload alike.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from hydra_spark.validation import error_code

OK = 200
BAD_REQUEST = 400  # malformed payload / missing key (InvalidRequest)
TOO_LARGE = 413  # RecordTooLarge


class Verdict(NamedTuple):
    key: Column  # string extracted at key_path (null without one)
    value: Column  # struct of the value schema
    error: Column  # reject reason, null when admitted
    status: Column  # 200, else error_code(error)


def ingest_verdict(
    payload: Column,
    value_schema: str,
    key_path: str | None = None,
    max_bytes: int | None = None,
) -> Verdict:
    """One payload's admission: size -> json -> key, as Columns."""
    # PERMISSIVE from_json never throws; corrupt payloads land verbatim
    # in the corrupt-record column (the augmented-error-detail analog of
    # IngestionFlow.scala:79-89) instead of nulling legitimate fields
    corrupt = "_corrupt_record"
    parsed = F.from_json(
        payload, f"{value_schema}, {corrupt} STRING", {"columnNameOfCorruptRecord": corrupt}
    )
    # from_json yields a whole-NULL struct (NOT a corrupt record) for a
    # literal-"null" payload (and a blank one, caught before); it must be
    # 400 to stay in lockstep with the synchronous HTTP handler's
    # raw_decode verdict (http_flow._sync_verdict)
    malformed = parsed.getField(corrupt).isNotNull() | parsed.isNull()
    key = F.get_json_object(payload, key_path) if key_path else F.lit(None).cast("string")

    # octet_length: the reference bounds SERIALIZED record bytes
    # (checkSizeLimit), not characters — a multi-byte UTF-8 payload must
    # not slip under the limit
    n_bytes = F.octet_length(payload)
    too_large = (n_bytes > max_bytes) if max_bytes is not None else F.lit(False)
    # blank = nothing but whitespace of any kind ((?U): Unicode \s, as
    # Python's str.strip in the HTTP handler); F.trim strips spaces only
    blank = payload.rlike(r"(?U)\A\s*\z")
    error = (
        F.when(payload.isNull(), F.lit("MissingPayload"))
        .when(
            too_large,
            F.concat(F.lit("RecordTooLarge:"), n_bytes.cast("string"), F.lit(f">{max_bytes}")),
        )
        .when(blank, F.lit("MissingPayload"))
        .when(malformed, F.lit("JsonConversionError:malformed payload"))
        .when(
            F.lit(key_path is not None) & key.isNull(),
            F.lit(f"MissingKey:{key_path}"),
        )
    )
    status = F.when(error.isNull(), F.lit(OK)).otherwise(error_code(error))
    return Verdict(key, parsed.dropFields(corrupt), error, status)


def ingest_requests(
    requests: DataFrame,
    value_schema: str,
    key_path: str | None = None,
    max_bytes: int | None = None,
    id_col: str = "correlation_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(correlation_id, payload) -> typed record + IngestionReport cols.

    Output: id_col, key (string, null unless key_path), value (struct of
    ``value_schema``, null unless status 200), status_code, error.
    """
    v = ingest_verdict(F.col(payload_col), value_schema, key_path, max_bytes)
    admitted = v.status == OK
    return requests.select(
        F.col(id_col),
        F.when(admitted, v.key).alias("key"),
        F.when(admitted, v.value).alias("value"),
        v.status.alias("status_code"),
        v.error.alias("error"),
    )
