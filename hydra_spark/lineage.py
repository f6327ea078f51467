"""Offset lineage & lag analytics — Hydra's consumer-group algebra as aggs.

Reference semantics:
  * per-partition max offset — KafkaAdminAlgebra.getLatestOffsets
    (ingestors/kafka/src/main/scala/hydra/kafka/algebras/
    KafkaAdminAlgebra.scala:81,171-206)
  * consumer lag = latest - committed per partition, plus totals and
    lag %% — KafkaAdminAlgebra.scala:90,207-218 and
    ConsumerGroupsAlgebra.getLagOnDvsInternalCGTopic (:155-184)
  * group/topic inversions (consumers-for-topic etc.) —
    ConsumerGroupsAlgebra.scala:285-303; a plain groupBy, written inline
    by the ``groups_inversion`` row of plans/analytics.py
  * offset-checkpoint write: per batch, (partition, start, end, rows)
    rows appended atomically with the data commit —
    ConsumerGroupsOffsetConsumer.processRecord (:103-145)

All are plain declarative joins/aggregations: broadcast the (small)
committed-offsets side, partial-agg before shuffle — free in Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def latest_offsets(df: DataFrame, part_col: str = "ingest_partition", off_col: str = "ingest_offset") -> DataFrame:
    """Per-partition end offset + row count (A2)."""
    return df.groupBy(part_col).agg(
        F.max(off_col).alias("latest_offset"), F.count("*").alias("rows")
    )


def consumer_lag(latest: DataFrame, committed: DataFrame, part_col: str = "ingest_partition") -> DataFrame:
    """lag = latest - committed per partition; committed side is small →
    broadcast join (A3)."""
    j = latest.join(F.broadcast(committed), part_col, "left")
    return j.select(
        part_col,
        "latest_offset",
        F.coalesce("committed_offset", F.lit(-1)).alias("committed_offset"),
        (F.col("latest_offset") - F.coalesce(F.col("committed_offset"), F.lit(-1))).alias("lag"),
    )


def total_lag(lag_df: DataFrame) -> DataFrame:
    return lag_df.agg(
        F.sum("lag").alias("total_lag"),
        F.sum("latest_offset").alias("total_latest"),
        (F.sum("lag") / F.sum(F.col("latest_offset") + 1) * 100.0).alias("lag_pct"),
    )

