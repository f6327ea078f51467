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
  * persisted  — commit id = batch_id: a replayed batch is a no-op
  * replicated — persisted + per-partition offset lineage rows (the
                 default, and the mode all correctness gates use)

Structured Streaming replays uncommitted batches after failure
(at-least-once, the analog of Hydra's AtLeastOnceDelivery redelivery,
Transport.scala:13-49); the batch_id-keyed commit makes the replay a
no-op — together: exactly-once.

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
# ingest partitions are 0..LINEAGE_PARTITIONS-1 (synth layout); lineage
# aggregates ride the write job as per-partition conditional observe()
# metrics — ids outside the range would not be tracked
LINEAGE_PARTITIONS = 32


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
        from pyspark.sql import Observation

        t0 = time.time()
        spark = batch_df.sparkSession
        has_reject = "reject_reason" in batch_df.columns
        # Single-action design: the table write is the ONE Spark job per
        # micro-batch. Row counts AND per-partition offset lineage ride
        # that job as observe() metrics — no persist(), no cache
        # materialization, no extra passes. (Quarantine extraction, the
        # rare path, recomputes; state-store versions make re-execution
        # of a micro-batch plan safe.)
        obs = Observation(f"sink-{batch_id}")
        batch_df = batch_df.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            (
                F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("n_quar")
                if has_reject
                else F.lit(0).alias("n_quar")
            ),
        )
        good = (
            batch_df.where(F.col("reject_reason").isNull()).drop("reject_reason")
            if has_reject
            else batch_df
        )

        track_lineage = self.ack == "replicated" and "ingest_partition" in good.columns
        lin_obs = None
        if track_lineage:
            lin_obs = Observation(f"lineage-{batch_id}")
            aggs = []
            for p in range(LINEAGE_PARTITIONS):
                off = F.when(F.col("ingest_partition") == p, F.col("ingest_offset"))
                aggs += [
                    F.min(off).alias(f"lo{p}"),
                    F.max(off).alias(f"hi{p}"),
                    F.count(off).alias(f"n{p}"),
                ]
            good = good.observe(lin_obs, *aggs)

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
        committed = self.tables["output"].append_dedup(spark, deduped, commit_id, preclustered=True)

        if not committed:
            # replayed batch: the table commit is a no-op, but the
            # micro-batch's state stores (join state, watermarks)
            # still must process and commit every partition — drain
            # the batch through a noop write or Spark's state-store
            # commit validation fails the query on resume
            batch_df.write.format("noop").mode("overwrite").save()
            return

        got = obs.get
        n_in, n_quar = int(got["n_in"] or 0), int(got["n_quar"] or 0)
        if n_quar:
            # executor-side write: a bad codec can quarantine a whole
            # batch, which must never be collected to the driver.
            # Recomputing the rare path is safe (state-store versions
            # make micro-batch re-execution deterministic).
            quar = batch_df.where(F.col("reject_reason").isNotNull())
            qcols = [c for c in quar.columns if c not in ("bytes", "pcm")]
            self.tables["quarantine"].append_df(quar.select(*qcols), batch_id)
        if track_lineage:
            lrows = self._lineage_rows(lin_obs.get, batch_id)
            if len(lrows):
                self.tables["lineage"].append_pandas(lrows, batch_id)

        mrow = pd.DataFrame(
            [
                {
                    "batch_id": int(batch_id),
                    "rows_in": int(n_in),
                    "rows_quarantined": int(n_quar),
                    "ack": self.ack,
                    "commit_wall_s": time.time() - t0,
                    "committed_at_unix": time.time(),  # _metrics only
                }
            ]
        )
        self.tables["metrics"].append_pandas(mrow, batch_id)

    def _lineage_rows(self, got: dict, batch_id) -> pd.DataFrame:
        """observe() metrics -> (partition, start, end, rows) lineage rows
        (Hydra's per-partition offset checkpoint records,
        ConsumerGroupsOffsetConsumer.processRecord :103-145)."""
        rows = []
        for p in range(LINEAGE_PARTITIONS):
            n = int(got.get(f"n{p}") or 0)
            if n:
                rows.append(
                    {
                        "ingest_partition": p,
                        "start_offset": int(got[f"lo{p}"]),
                        "end_offset": int(got[f"hi{p}"]),
                        "rows": n,
                        "batch_id": batch_id,
                    }
                )
        return pd.DataFrame(rows)
