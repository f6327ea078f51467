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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

OK = 200
BAD_REQUEST = 400  # malformed payload / missing key (InvalidRequest)
TOO_LARGE = 413  # RecordTooLarge


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
    payload = F.col(payload_col)
    # PERMISSIVE from_json never throws; corrupt payloads land verbatim
    # in the corrupt-record column (the augmented-error-detail analog of
    # IngestionFlow.scala:79-89) instead of nulling legitimate fields
    corrupt = "_corrupt_record"
    parsed = F.from_json(
        payload, f"{value_schema}, {corrupt} STRING", {"columnNameOfCorruptRecord": corrupt}
    )
    # from_json yields a whole-NULL struct (NOT a corrupt record) for
    # whitespace-only and literal-"null" payloads; both must be 400 to
    # stay in lockstep with the synchronous HTTP handler's raw_decode
    # verdict (http_flow._sync_verdict)
    malformed = parsed.getField(corrupt).isNotNull() | parsed.isNull()
    parsed = parsed.dropFields(corrupt)
    key = F.get_json_object(payload, key_path) if key_path else F.lit(None).cast("string")

    # octet_length: the reference bounds SERIALIZED record bytes
    # (checkSizeLimit), not characters — a multi-byte UTF-8 payload must
    # not slip under the limit
    n_bytes = F.octet_length(payload)
    too_large = (n_bytes > max_bytes) if max_bytes is not None else F.lit(False)
    error = (
        F.when(payload.isNull() | (F.trim(payload) == ""), F.lit("MissingPayload"))
        .when(
            too_large,
            F.concat(F.lit("RecordTooLarge:"), n_bytes.cast("string"), F.lit(f">{max_bytes}")),
        )
        .when(malformed, F.lit("JsonConversionError:malformed payload"))
        .when(
            F.lit(key_path is not None) & key.isNull(),
            F.lit(f"MissingKey:{key_path}"),
        )
    )
    status = (
        F.when(error.isNull(), F.lit(OK))
        .when(error.startswith("RecordTooLarge"), F.lit(TOO_LARGE))
        .otherwise(F.lit(BAD_REQUEST))
    )
    return requests.select(
        F.col(id_col),
        F.when(status == OK, key).alias("key"),
        F.when(status == OK, parsed).alias("value"),
        status.alias("status_code"),
        error.alias("error"),
    )
