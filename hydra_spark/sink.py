"""Exactly-once sink with Hydra ack-strategy modes.

Hydra's transport dispatches on AckStrategy — NoAck (fire-and-forget),
Persisted (journaled locally), Replicated (wait for broker ack)
(reference: core/src/main/scala/hydra/core/transport/AckStrategy.scala:35-45,
Transport.scala:51-83). The Spark mapping (SURVEY.md §2.4 K1): every
mode commits the output through ``TransactionalTable.append_dedup``
(keyed insert-only, first-wins) and writes quarantine + metrics rows;
the modes differ only in the commit id and in lineage:

  * noack      — a fresh commit id per call: a replayed batch commits
                 again, and only the key dedup keeps the output
                 key-unique
  * persisted  — commit id = batch_id: a replayed batch's output commit
                 is a no-op
  * replicated — persisted + per-partition offset lineage rows (the
                 default, and the mode all correctness gates use)

Each micro-batch is computed once (Spark's foreachBatch pattern for
writing one batch several times): the sink persists the batch, one
aggregate over it runs the upstream plan and yields the row counts and
per-partition lineage, and every write then reads the cache.

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

# within-batch latest-wins order column
TS_COL = "event_time"


class ExactlyOnceSink:
    """foreachBatch callable. Writes output + quarantine + lineage +
    metrics for each micro-batch, idempotent per batch_id."""

    def __init__(self, tables: dict, key_cols: list[str], ack: str = "replicated"):
        assert ack in ("noack", "persisted", "replicated")
        self.tables = tables
        self.key_cols = key_cols
        self.ack = ack

    @classmethod
    def for_existing(cls, root: str, key_cols: list[str], **kw) -> "ExactlyOnceSink":
        """Open a sink on an already-bootstrapped table set; a missing
        output table fails fast HERE, at plan/build time — the analog of
        Hydra's TopicNotFoundInMetadata publish error
        (KafkaClientAlgebra.scala:182-202): a doomed record is never
        queued, the pipeline refuses to start."""
        import os

        from hydra_spark import tables as tbl
        from hydra_spark.validation import TableNotFoundError

        out_path = os.path.join(root, "output")
        if not os.path.exists(os.path.join(out_path, "CURRENT")):
            raise TableNotFoundError(f"output table not bootstrapped at {out_path}")
        return cls(tbl.bootstrap(root, key_cols), key_cols, **kw)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        spark = batch_df.sparkSession
        has_reject = "reject_reason" in batch_df.columns
        track_lineage = self.ack == "replicated" and "ingest_partition" in batch_df.columns
        batch_df = batch_df.persist()
        try:
            # the batch's one pass over the upstream plan: fills the cache
            # and commits the micro-batch's state stores, also on a replay.
            # Counts and per-partition offset lineage (Hydra's offset
            # checkpoints, ConsumerGroupsOffsetConsumer.processRecord
            # :103-145) come from this one groupBy.
            good_row = F.col("reject_reason").isNull() if has_reject else F.lit(True)
            aggs = [F.count(F.lit(1)).alias("n_in"), F.sum((~good_row).cast("long")).alias("n_quar")]
            if track_lineage:
                off = F.when(good_row, F.col("ingest_offset"))
                aggs += [
                    F.min(off).alias("start_offset"),
                    F.max(off).alias("end_offset"),
                    F.count(off).alias("rows"),
                ]
            keys = ["ingest_partition"] if track_lineage else []
            groups = batch_df.groupBy(*keys).agg(*aggs).collect()
            n_in = sum(g.n_in for g in groups)
            n_quar = sum(g.n_quar or 0 for g in groups)

            good = batch_df.where(good_row).drop("reject_reason") if has_reject else batch_df
            # within-batch latest-wins on the sink key (caller may have
            # already deduped; this makes the commit input key-unique).
            # hash-agg (max_by), not window sort — see latest_wins_hash
            order_cols = [TS_COL] + (
                ["transcript_time"] if "transcript_time" in good.columns else []
            )
            deduped = latest_wins_hash(good, self.key_cols, order_cols)

            # noack: fire-and-forget append (RecordAccepted immediately);
            # persisted / replicated: batch_id-idempotent commit
            commit_id = f"noack-{batch_id}-{time.time_ns()}" if self.ack == "noack" else batch_id
            # preclustered: the latest_wins_hash groupBy just shuffled the
            # batch by exactly the key columns, so every bucket's rows are
            # already co-located — the table skips its pre-write
            # repartition (one shuffle per batch, not two)
            self.tables["output"].append_dedup(spark, deduped, commit_id, preclustered=True)

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
                    if track_lineage and g.ingest_partition is not None and g.rows
                ],
                columns=["ingest_partition", "start_offset", "end_offset", "rows", "batch_id"],
            )
            if len(lrows):
                self.tables["lineage"].append_pandas(lrows, batch_id)

            mrow = {
                "batch_id": int(batch_id),
                "rows_in": n_in,
                "rows_quarantined": n_quar,
                "ack": self.ack,
                "commit_wall_s": time.time() - t0,
                "committed_at_unix": time.time(),  # _metrics only
            }
            self.tables["metrics"].append_pandas(pd.DataFrame([mrow]), batch_id)
        finally:
            batch_df.unpersist()
