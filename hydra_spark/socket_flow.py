"""S3 WebSocket ingest — Hydra's framed socket protocol as a DataFrame op.

Hydra's `/ws-ingest` endpoint runs a per-connection actor speaking a
line-framed protocol (reference: ingest/src/main/scala/hydra.ingest/
services/IngestionSocketActor.scala:57-148, frame regexes :146-148;
endpoint + frame limit ingest/http/IngestionWebSocketEndpoint.scala:
69-95; conf max-frames/stream-timeout ingest/src/main/resources/
reference.conf:13-21):

  * ``-c help``            -> 200 usage text
  * ``-c set``             -> 200 dump of session metadata
  * ``-c set KEY=VALUE``   -> 200 ``OK[KEY=VALUE]``; the value applies
    to every LATER frame on that connection. ``hydra-ack`` is special-
    cased (AckStrategy.scala:17-33): only replicated/persisted/noack
    (case-insensitive; empty = noack) are accepted — an invalid value
    answers 400 and does NOT change the session.
  * any other ``-c ...``   -> 400 BAD_REQUEST
  * anything else          -> ingest frame: optional ``-i <corrId>``
    prefix, remainder is the JSON payload; answered with a per-frame
    ingestion report from ``ingest_flow.ingest_verdict`` (size -> json
    -> key), the same verdict and status codes as the request-table
    path ``ingest_requests``.
  * frames beyond the ``max_frames`` limit answer 400 (the WS layer's
    StreamLimitReachedException -> 400 recover, Endpoint.scala:88-95).

Spark-first shape: a connection's frame log is DATA — one row per
frame ``(conn_id, frame_idx, frame)`` — and the per-connection actor
state (current metadata) is a window function: the effective value for
frame i is the last VALID ``-c set`` before i on that connection. The
whole protocol — classification, session-metadata threading, ack
validation, ingest verdict — is one JVM-side projection + one window,
oracle-checkable in SQL. The live-socket form plugs the same
interpreter onto ``spark.readStream.format("socket")`` (frame order =
arrival order on the single receiver partition).

Tracked metadata is the ingest-relevant ``hydra-ack``; other ``-c set``
keys are acknowledged (200 OK) like the reference but their values ride
into request metadata we don't further interpret.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from hydra_spark.ingest_flow import ingest_verdict

VALID_ACKS = {"replicated": "Replicated", "persisted": "Persisted", "noack": "NoAck"}
HELP_TEXT = "Set metadata: --set (name)=(value)"
BAD_CMD = "BAD_REQUEST:Not a valid message. Use 'HELP' for help."


def interpret_frames(
    frames: DataFrame,
    value_schema: str | None = None,
    key_path: str | None = None,
    max_bytes: int | None = None,
    max_frames: int | None = None,
    conn_col: str = "conn_id",
    idx_col: str = "frame_idx",
    frame_col: str = "frame",
) -> DataFrame:
    """(conn_id, frame_idx, frame) -> per-frame protocol response.

    Output: conn_id, frame_idx, kind, status_code, message, corr_id,
    ack (effective ack strategy for ingest frames), key, error.
    """
    f = F.col(frame_col)
    is_cmd = f.rlike("(?i)^-c ") | f.rlike("(?i)^-c$")
    is_help = f.rlike("(?i)^-c help")
    # whitespace after "set" is REQUIRED: "-c setFOO=bar" is a typo'd
    # command (the reference actor's frame regex has the delimiter too)
    # and must answer 400 bad_cmd, not be parsed as a set
    set_m = "(?i)^-c set[ \\t]+(.*?)=(.*)$"
    set_key = F.upper(F.trim(F.regexp_extract(f, set_m, 1)))
    set_val = F.trim(F.regexp_extract(f, set_m, 2))
    is_set_kv = f.rlike(set_m)
    is_set_dump = f.rlike("(?i)^-c set[ \\t]*$")
    is_ack_set = is_set_kv & (set_key == F.lit("HYDRA-ACK"))
    ack_norm = F.lower(set_val)
    valid_ack = is_ack_set & (
        ack_norm.isin(*VALID_ACKS) | (ack_norm == F.lit(""))
    )
    canon_ack = (
        F.when(ack_norm == "replicated", "Replicated")
        .when(ack_norm == "persisted", "Persisted")
        .otherwise("NoAck")  # noack or empty
    )

    kind = (
        F.when(is_help, "help")
        .when(is_set_dump, "set_dump")
        .when(is_set_kv, "set")
        .when(is_cmd, "bad_cmd")
        .otherwise("ingest")
    )

    # per-connection actor state as a window: last VALID ack set
    # STRICTLY BEFORE this frame (new value applies to later frames).
    # Frames past the max_frames limit are answered 400 AND must not
    # mutate session state — the reference terminates the stream at the
    # limit (StreamLimitReachedException, Endpoint.scala:88-95), so a
    # post-limit set frame never reaches the actor. The contributing
    # row's position is materialized as _rn below so the state window
    # can exclude rejected frames.
    frames = frames.withColumn(
        "_rn", F.row_number().over(W.partitionBy(conn_col).orderBy(idx_col))
    )
    within_limit = F.lit(True) if max_frames is None else (F.col("_rn") <= max_frames)
    w = (
        W.partitionBy(conn_col)
        .orderBy(idx_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    eff_ack = F.coalesce(
        F.last(F.when(valid_ack & within_limit, canon_ack), ignorenulls=True).over(w),
        F.lit("NoAck"),
    )

    # ingest frame parts: optional "-i corrId " prefix, rest = payload
    ing_m = "^(?:-i ([\\w]+) )?(.*)$"
    corr = F.when(kind == "ingest", F.regexp_extract(f, ing_m, 1))
    payload = F.when(kind == "ingest", F.regexp_extract(f, ing_m, 2))

    verdict = ingest_verdict(payload, value_schema or "k BIGINT", key_path, max_bytes)

    over_limit = ~within_limit

    status = (
        F.when(over_limit, 400)
        .when(kind == "help", 200)
        .when(kind == "set_dump", 200)
        .when(kind == "set", F.when(is_ack_set & ~valid_ack, 400).otherwise(200))
        .when(kind == "bad_cmd", 400)
        .otherwise(verdict.status)
    )
    message = (
        F.when(over_limit, "Stream limit reached.")
        .when(kind == "help", HELP_TEXT)
        .when(kind == "set_dump", F.concat(F.lit("hydra-ack->"), eff_ack))
        .when(
            kind == "set",
            F.when(
                is_ack_set & ~valid_ack,
                F.concat(F.lit("BAD REQUEST[hydra-ack="), set_val,
                         F.lit("] is not a valid ack strategy.")),
            ).otherwise(
                F.concat(
                    F.lit("OK["),
                    F.when(is_ack_set, F.lit("hydra-ack")).otherwise(set_key),
                    F.lit("="), set_val, F.lit("]"),
                )
            ),
        )
        .when(kind == "bad_cmd", BAD_CMD)
        .otherwise(F.coalesce(verdict.error, F.lit("OK")))
    )

    return frames.select(
        F.col(conn_col),
        F.col(idx_col),
        F.when(over_limit, "limit").otherwise(kind).alias("kind"),
        status.alias("status_code"),
        message.alias("message"),
        corr.alias("corr_id"),
        F.when((kind == "ingest") & ~over_limit, eff_ack).alias("ack"),
        F.when((kind == "ingest") & ~over_limit & verdict.error.isNull(), verdict.key).alias("key"),
        F.when(kind == "ingest", verdict.error).alias("error"),
    )


def socket_frames_stream(spark, host: str, port: int) -> DataFrame:
    """Live-socket form: Spark's built-in socket text source — one row
    per line-frame, in arrival order on the single receiver partition.

    The interpreter threads session metadata with window functions,
    which streaming plans disallow — so the live form applies
    ``interpret_frames`` per micro-batch inside ``foreachBatch`` (see
    tests/test_socket_flow.py), stamping arrival order there. That
    mirrors the reference actor, which also processes a connection's
    frames strictly in order; carrying metadata ACROSS batches would
    use applyInPandasWithState keyed by connection (same pattern as
    operators/state.latest_wins_stream) — the batch interpreter is the
    canonical, oracle-checked semantics."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
