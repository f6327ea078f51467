"""Exactly-once sink: one delivery mode, keyed commit + offset lineage.

Hydra's transport dispatches on AckStrategy — NoAck (reply at once),
Persisted (reply once journaled locally), Replicated (reply once the
broker acks) (reference: core/src/main/scala/hydra/core/transport/
AckStrategy.scala:35-45, Transport.scala:51-83). Those modes trade the
client's reply latency against durability. Inside ``foreachBatch``
there is no client to reply to early: Structured Streaming marks the
batch done only after the callable returns, so a NoAck or Persisted
analog would do the same work and only weaken the commit. The sink
therefore has one mode, Replicated's (SURVEY.md §2.4 K1): the output
commits through ``TransactionalTable.append_dedup`` (keyed insert-only,
first-wins) under commit id = batch_id, and each batch writes its
quarantine, per-partition offset lineage and metrics rows.

Its input is the flagship batch (``pipeline.finish_batch`` over the
join), which always carries ``reject_reason``, ``ingest_partition``,
``ingest_offset`` and ``transcript_time``. Each micro-batch is computed
once (Spark's foreachBatch pattern for writing one batch several
times): the sink persists the batch, one per-partition aggregate over
it runs the upstream plan and yields the row counts and lineage, and
every write then reads the cache.

The output manifest swap is the batch's only commit point. Structured
Streaming replays an uncommitted batch after failure (at-least-once,
the analog of Hydra's AtLeastOnceDelivery redelivery,
Transport.scala:13-49): the batch_id-keyed output commit is then a
no-op and the side rows are rewritten by batch id, so a crash after the
output commit loses nothing — together, exactly-once.

Determinism note (SURVEY.md §7): nothing in this path calls
current_timestamp(); processing-time fields live only in _metrics.
Hydra's System.currentTimeMillis() at KafkaRecord.scala:11 is the
replay-nondeterminism trap this avoids.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from hydra_spark.operators.state import latest_wins_hash

# within-batch latest-wins order: the clip's time, then its transcript's
ORDER_COLS = ["event_time", "transcript_time"]


class ExactlyOnceSink:
    """foreachBatch callable. Writes output + quarantine + lineage +
    metrics for each micro-batch, idempotent per batch_id."""

    def __init__(self, tables: dict, key_cols: list[str]):
        self.tables = tables
        self.key_cols = key_cols

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            # the batch's one pass over the upstream plan: fills the cache
            # and commits the micro-batch's state stores, also on a replay.
            # Counts and per-partition offset lineage (Hydra's offset
            # checkpoints, ConsumerGroupsOffsetConsumer.processRecord
            # :103-145) come from this one groupBy.
            good_row = F.col("reject_reason").isNull()
            off = F.when(good_row, F.col("ingest_offset"))
            groups = (
                batch_df.groupBy("ingest_partition")
                .agg(
                    F.count(F.lit(1)).alias("n_in"),
                    F.sum((~good_row).cast("long")).alias("n_quar"),
                    F.min(off).alias("start_offset"),
                    F.max(off).alias("end_offset"),
                    F.count(off).alias("rows"),
                )
                .collect()
            )
            n_in = sum(g.n_in for g in groups)
            n_quar = sum(g.n_quar or 0 for g in groups)

            # within-batch latest-wins on the sink key (caller may have
            # already deduped; this makes the commit input key-unique)
            good = batch_df.where(good_row).drop("reject_reason")
            deduped = latest_wins_hash(good, self.key_cols, ORDER_COLS)
            # preclustered: the latest_wins_hash groupBy just shuffled the
            # batch by exactly the key columns, so every bucket's rows are
            # already co-located — the table skips its pre-write
            # repartition (one shuffle per batch, not two). A replayed
            # batch_id's commit is a no-op.
            self.tables["output"].append_dedup(spark, deduped, batch_id, preclustered=True)

            # side rows are rewritten under the batch id whether or not
            # the output commit was a replay's no-op
            if n_quar:
                # executor-side write: a bad codec can quarantine a whole
                # batch, which must never be collected to the driver
                quar = batch_df.where(~good_row)
                qcols = [c for c in quar.columns if c not in ("bytes", "pcm")]
                self.tables["quarantine"].append_df(quar.select(*qcols), batch_id)
            lrows = pd.DataFrame(
                [
                    (g.ingest_partition, g.start_offset, g.end_offset, g.rows, batch_id)
                    for g in groups
                    if g.ingest_partition is not None and g.rows
                ],
                columns=["ingest_partition", "start_offset", "end_offset", "rows", "batch_id"],
            )
            if len(lrows):
                self.tables["lineage"].append_pandas(lrows, batch_id)

            mrow = {
                "batch_id": int(batch_id),
                "rows_in": n_in,
                "rows_quarantined": n_quar,
                "commit_wall_s": time.time() - t0,
                "committed_at_unix": time.time(),  # _metrics only
            }
            self.tables["metrics"].append_pandas(pd.DataFrame([mrow]), batch_id)
        finally:
            batch_df.unpersist()
