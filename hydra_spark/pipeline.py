"""Flagship pipeline: source → validate → decode → join → window → sink.

This is the end-to-end CEP job the north rule describes. Every stage is
a plain function called directly, in order, in this file; a deployment
that wants another stage calls another Python function. Architecture
(deliberate, scale-driven):

  stream side, stateless prefix (runs before any state store):
      admission checks → drop admission rejects (the side stream
      delivers them) → vectorized Arrow decode, in place on source
      partitions — **drops the audio bytes** → decode errors tagged
      into ``reject_reason``
  stream side, stateful (RocksDB-backed):
      decoded clips ⋈ transcript stream — interval join, watermarked
  batch side, per micro-batch (stateless, inside foreachBatch):
      transcript normalize → tumbling-window key → one cached pass:
      keyed insert-only output commit (the batch's commit point), then
      quarantine + lineage + metrics rows, rewritten by batch id on a
      replay

**Decode runs BEFORE the join — this ordering is load-bearing at scale.**
A stream-stream join buffers both inputs in the state store until the
watermark expires them; joining raw clips would put the ~10-60 KB audio
payload of every in-flight clip into RocksDB and re-checkpoint it every
micro-batch. Decoding first means the join shuffles and stores ~100 B
feature rows instead — measured locally this is the difference between
~190 clips/s and >1500 clips/s at local[8], and at 10^12-clip scale it
is the difference between a working pipeline and a state store holding
petabytes. (Same reasoning as Hydra running its record-factory transform
*before* the transport stage, not after —
core/src/main/scala/hydra/core/ingest/Ingestor.scala:57-92.)

Keeping exactly ONE stateful operator in the streaming plan (the join)
sidesteps Spark's chained-stateful-operator restrictions (SURVEY.md §7
risk) and keeps state-store size = join state only. Cross-batch
duplicate delivery is absorbed by the sink key (clip_id, window_start)
— idempotence replaces a second dedup state store; the standalone dedup
operator (operators/join.dedup_within_watermark) remains available and
tested for pipelines that need pre-join dedup.

``start_window_rollup`` is a second, independent streaming query:
per-(window, codec) aggregates in append mode (windows finalize at the
watermark). It is not part of the flagship — no entry point (runner,
``tools/submit.sh``, perfbench) starts it; only
``tests/test_streaming_state.py`` does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from hydra_spark import tables as tbl, validation
from hydra_spark.functions.decode import decode_features
from hydra_spark.functions.text import normalize_transcript
from hydra_spark.operators import windows as win
from hydra_spark.operators.join import clip_transcript_join
from hydra_spark.sink import ExactlyOnceSink
from hydra_spark.sources.replay import FILES_PER_TRIGGER, stream_table
from hydra_spark.synth import CLIPS_SCHEMA

WATERMARK = "60 seconds"
JOIN_LO, JOIN_HI = "10 seconds", "60 seconds"
# the flagship's tumbling-window size: the sink key's window_start and
# the rollup's windows
WINDOW_SIZE = "10 seconds"
# admission's per-clip payload limit (RecordTooLarge above it)
MAX_BYTES = 4_000_000


def _audio_schema():
    from pyspark.sql import types as T

    return T.StructType([f for f in CLIPS_SCHEMA.fields if f.name != "transcript"])


def _transcript_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("transcript", T.StringType(), True),
            T.StructField("event_time", T.TimestampType(), False),
        ]
    )


def window_start_col():
    """Deterministic tumbling-window floor of ``event_time``: the second
    half of the sink key (clip_id, window_start)."""
    secs = int(WINDOW_SIZE.split()[0])
    return F.timestamp_seconds(
        (F.unix_timestamp(F.col("event_time")) / secs).cast("long") * secs
    )


def pre_join_transform(audio: DataFrame) -> DataFrame:
    """Stateless pre-join stage (Hydra's record-factory, run *before*
    transport): admission checks → drop rejects → vectorized decode →
    decode errors tagged into ``reject_reason`` for the sink's
    quarantine split. Drops ``bytes``.

    Admission-rejected rows leave the main stream here — BEFORE decode
    (an oversized payload must never be gathered into a decode batch)
    and before the watermarked join (a row rejected for
    ``timestamp-millis<=0`` has a garbage event time, so the join would
    silently discard it as late data — exactly the rows the admission
    rule exists to capture). They are delivered to the quarantine table
    by the stateless side stream (``start_quarantine_stream``) instead.

    Decode runs in place on source partitions: shuffling the encoded
    payload costs a full pass of the audio bytes over the wire, decode
    cost per sample is codec-independent, and codec-keyed aggregations
    downstream are already skew-safe via map-side partial aggregation +
    AQE. A deployment whose source layout concentrates decode work by
    codec calls ``operators.skew.salted_repartition`` before decode.
    """
    admitted = validation.admission_checks(audio, max_bytes=MAX_BYTES).where(
        F.col("reject_reason").isNull()
    )
    # every admitted row has a NULL reject_reason: a decode error is the
    # only reason left
    return decode_features(admitted).withColumn(
        "reject_reason",
        F.when(
            F.col("decode_error").isNotNull(),
            F.concat(F.lit("DecodeError:"), F.col("decode_error")),
        ),
    )


def finish_batch(batch_df: DataFrame) -> DataFrame:
    """Per-micro-batch stateless tail: transcript normalize + tumbling
    window key (the sink's key is (clip_id, window_start))."""
    return batch_df.withColumn(
        "transcript_norm", normalize_transcript(F.col("transcript"))
    ).withColumn("window_start", window_start_col())


def build_tables(root: str) -> dict:
    return tbl.bootstrap(root, ["clip_id", "window_start"])


def start_flagship(
    spark: SparkSession,
    audio_dir: str,
    transcripts_dir: str,
    out_root: str,
    files_per_trigger: int = FILES_PER_TRIGGER,
):
    """Start the enriched-output streaming query. Returns (query, sink,
    tables)."""
    t = build_tables(out_root)
    audio = stream_table(spark, audio_dir, schema=_audio_schema(), files_per_trigger=files_per_trigger)
    trs = stream_table(spark, transcripts_dir, schema=_transcript_schema(), files_per_trigger=files_per_trigger)
    # decode BEFORE the stateful join — join state must hold feature
    # rows, never audio payloads (see module docstring)
    decoded = pre_join_transform(audio)
    joined = clip_transcript_join(
        decoded, trs, lo=JOIN_LO, hi=JOIN_HI, how="left_outer",
        clip_watermark=WATERMARK, transcript_watermark=WATERMARK,
    )
    # the flagship output is append-only keyed by (clip_id,
    # window_start) — insert-only commits keep per-batch cost flat as
    # the table grows. Contract note: the sink is FIRST-wins across
    # micro-batches (a key committed in batch k keeps its row if a
    # later batch re-emits it, e.g. a source file delivered twice);
    # cross-batch latest-wins (late transcript updates must overwrite)
    # needs TransactionalTable.merge_upsert instead.
    sink = ExactlyOnceSink(t, ["clip_id", "window_start"])

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(finish_batch(batch_df), batch_id)

    q = (
        joined.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint"))
        .outputMode("append")
        .start()
    )
    return q, sink, t


def start_quarantine_stream(
    spark: SparkSession,
    audio_dir: str,
    out_root: str,
    files_per_trigger: int = FILES_PER_TRIGGER,
):
    """Stateless admission-reject delivery stream.

    Admission-rejected rows (RecordTooLarge, InvalidLogicalType:ts<=0)
    are split out of the main pipeline BEFORE its watermarked join —
    a ts-invalid row carries a garbage event time, so the stateful
    topology would silently drop it as late data and the quarantine
    table would undercount exactly the rows the admission rule exists
    to capture. This side stream re-reads the source stateless (no
    watermark, no state) and appends rejects idempotently per batch.
    (Kafka analog: a second cheap consumer on the same topic feeding the
    dead-letter table — Hydra publishes ingest errors to a side topic
    the same way, KafkaTransport.scala:56-59.)
    """
    t = build_tables(out_root)
    audio = stream_table(spark, audio_dir, schema=_audio_schema(), files_per_trigger=files_per_trigger)
    rejects = validation.admission_checks(audio, max_bytes=MAX_BYTES).where(
        F.col("reject_reason").isNotNull()
    ).drop("bytes")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t["quarantine"].append_df(batch_df, f"adm-{batch_id}")

    q = (
        rejects.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint_quarantine"))
        .outputMode("append")
        .start()
    )
    return q, t


def start_window_rollup(
    spark: SparkSession,
    audio_dir: str,
    out_root: str,
    files_per_trigger: int = FILES_PER_TRIGGER,
):
    """Independent per-(window, codec) rollup query (append mode —
    windows emit once, when the watermark passes)."""
    rollup_tbl = tbl.TransactionalTable(
        os.path.join(out_root, "rollup"), ["window_start", "codec"]
    )
    audio = stream_table(spark, audio_dir, schema=_audio_schema(), files_per_trigger=files_per_trigger)
    decoded = decode_features(audio).where(F.col("decode_error").isNull())
    agg = win.tumbling(
        decoded,
        WINDOW_SIZE,
        "codec",
        aggs=[
            F.count("*").alias("n_clips"),
            F.sum("n_samples").alias("total_samples"),
            F.avg("rms_db").alias("avg_rms_db"),
            F.max("peak").alias("max_peak"),
        ],
        watermark=WATERMARK,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rollup_tbl.merge_upsert(spark, batch_df, batch_id)

    q = (
        agg.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint_rollup"))
        .outputMode("append")
        .start()
    )
    return q, rollup_tbl
