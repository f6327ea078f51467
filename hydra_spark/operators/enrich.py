"""Dynamic broadcast routing — per-record join/ignore against a LIVE
registry table.

Hydra's R1: IngestionSupervisor broadcasts a ``Publish`` to every
REGISTERED ingestor and each replies ``Join``/``Ignore`` per record
(ingest/src/main/scala/hydra.ingest/services/IngestionSupervisor.scala:47-59;
ingestors/kafka/src/main/scala/hydra/kafka/ingestors/KafkaIngestor.scala:50-55
joins iff the ``hydra-kafka-topic`` attribute is present; registration is
dynamic — ingestors come and go at runtime). The Spark-first shape of
that contract: the ingestor registry becomes a small transactional
ROUTING TABLE (key -> route, enabled), re-read at every micro-batch
boundary inside ``foreachBatch`` and broadcast into the batch join — a
routing change committed by MERGE becomes visible at the NEXT trigger
with no stream restart, which is exactly the supervisor's dynamic
registry semantics rather than a query-start constant. Records whose
key has no enabled registry row fall to the ``ignore`` route (the
"no ingestor joined" outcome, which Hydra reports as such).

Scale posture: the registry is catalog-sized (codecs / topics / tenant
routes — thousands of rows at most), so the per-batch re-read is a
metadata-scale scan of a 1-bucket table and the join is a broadcast
hash join: the 10^12-row stream side never shuffles for routing, and
routing cost is O(batch) regardless of registry churn.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from hydra_spark.sources.replay import FILES_PER_TRIGGER, stream_table
from hydra_spark.tables import TransactionalTable


def route_with_registry(
    batch_df: DataFrame,
    spark: SparkSession,
    registry: TransactionalTable,
    key_col: str = "codec",
) -> DataFrame:
    """Join/ignore one batch against the registry's CURRENT snapshot.

    Adds a ``route`` column: the registry row's route where one exists
    with ``enabled`` = true AND a non-null route, the literal 'ignore'
    otherwise (missing key, disabled row, NULL enabled, or NULL route —
    a half-written registry row must park records in the visible
    'ignore' bucket, never under a NULL group). Broadcast by
    construction — call per micro-batch so registry commits take
    effect at trigger boundaries."""
    routes = F.broadcast(
        registry.read(spark).select(key_col, "route", "enabled")
    )
    return (
        batch_df.join(routes, key_col, "left")
        .withColumn(
            "route",
            F.when(
                F.col("enabled").eqNullSafe(F.lit(True))
                & F.col("route").isNotNull(),
                F.col("route"),
            ).otherwise(F.lit("ignore")),
        )
        .drop("enabled")
    )


def start_routed_stream(
    spark: SparkSession,
    audio_dir: str,
    registry: TransactionalTable,
    out_root: str,
    files_per_trigger: int = FILES_PER_TRIGGER,
):
    """Stream the clips table through live registry routing into a
    keyed transactional output (exactly-once via batch-labeled
    append_dedup). Returns (query, routed_table).

    The registry is re-read inside ``process`` — NOT captured as a
    DataFrame at query start — so a MERGE enabling a codec re-routes
    every batch after the commit. tests/test_routing.py pins that
    semantics with a mid-stream registry flip."""
    out = TransactionalTable(
        os.path.join(out_root, "routed"), ["clip_id"], n_buckets=8
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        routed = route_with_registry(batch_df, spark, registry)
        out.append_dedup(
            spark,
            routed.select("clip_id", "codec", "route"),
            f"route-{batch_id}",
        )

    q = (
        stream_table(spark, audio_dir, files_per_trigger=files_per_trigger)
        .writeStream.foreachBatch(process)
        .option(
            "checkpointLocation", os.path.join(out_root, "_route_checkpoint")
        )
        .outputMode("append")
        .start()
    )
    return q, out
