"""The flagship's entry point — restart loop, listener metrics, CLI.

Runs the flagship query and its admission-reject side stream, under
``spark-submit --py-files`` (``tools/submit.sh`` wraps the packaging;
on a real cluster only ``--master`` changes) or directly on the host:

    python -m hydra_spark.runner --audio ... --transcripts ... --out ... --bounded

Both paths take their engine settings from ``session.get_spark``.

Pieces:
  * run_with_restarts — Hydra's infinite stream retry: rerun the query
    on error AND on unexpected completion, with notification (reference:
    ingestors/kafka/src/main/scala/hydra/kafka/algebras/
    RetryableFs2Stream.scala:45-85). Each restart resumes from the
    checkpoint, so restarts never lose or duplicate output (the
    exactly-once sink absorbs the replayed batch).
  * ProgressListener — per-batch StreamingQueryProgress → JSON-lines
    metrics feed (Hydra's Kamon counters/gauges/histograms analog,
    core/src/main/scala/hydra/core/monitor/HydraMetrics.scala:25-101):
    input rows and rates, batch duration, watermark, and the join
    state's rows updated, removed and dropped by watermark.

The flagship sink has one delivery mode (see ``hydra_spark.sink``), so
the runner has no ack option: Hydra's NoAck / Persisted modes shorten
the wait for a client's reply, and a micro-batch has no such reply.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Appends one JSON line per micro-batch to <out>/_progress.jsonl.

    ``batch_timeout_ms`` is the ingestion-timeout analog (Hydra marks
    ingestors that miss the deadline IngestorTimeout and reports 408,
    IngestionSupervisor.scala:98-120; default 500 ms at
    ingest/src/main/resources/reference.conf:10-11): batches exceeding
    it are flagged ``timed_out`` in the progress feed so an operator
    alarm can key on it — the stream itself is never failed for it.
    """

    def __init__(self, path: str, batch_timeout_ms: int | None = None):
        self.path = path
        self.batch_timeout_ms = batch_timeout_ms
        self.timeouts = 0
        os.makedirs(os.path.dirname(path), exist_ok=True)

    def onQueryStarted(self, event):
        self._emit({"event": "started", "id": str(event.id), "runId": str(event.runId)})

    def onQueryProgress(self, event):
        p = event.progress
        timed_out = (
            self.batch_timeout_ms is not None and p.batchDuration > self.batch_timeout_ms
        )
        if timed_out:
            self.timeouts += 1
        self._emit(
            {
                "event": "progress",
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_sec": p.inputRowsPerSecond,
                "processed_rows_per_sec": p.processedRowsPerSecond,
                "batch_duration_ms": p.batchDuration,
                "timed_out": timed_out,
                "watermark": p.eventTime.get("watermark") if p.eventTime else None,
                # per-batch sums; the row total is not tracked
                # (session.ENGINE_CONF), so RocksDB reports it as 0
                "state_rows_updated": sum(s.numRowsUpdated for s in p.stateOperators),
                "state_rows_removed": sum(s.numRowsRemoved for s in p.stateOperators),
                "rows_dropped_by_watermark": sum(
                    s.numRowsDroppedByWatermark for s in p.stateOperators
                ),
            }
        )

    def onQueryTerminated(self, event):
        self._emit({"event": "terminated", "id": str(event.id), "exception": event.exception})

    def onQueryIdle(self, event):
        pass

    def _emit(self, obj: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(obj) + "\n")


def run_with_restarts(
    start_fn,
    max_restarts: int = -1,
    bounded: bool = True,
    notify=print,
):
    """Run a streaming query with Hydra's retry-forever semantics.

    start_fn() -> (query, sink, tables). ``bounded`` = replay-to-end mode
    (processAllAvailable then stop — the bench/test path); unbounded mode
    awaits termination and restarts on error or unexpected completion.
    Returns (tables, n_restarts).
    """
    restarts = 0
    while True:
        q = None
        try:
            q, sink, tables = start_fn()
            if bounded:
                q.processAllAvailable()
                q.stop()
                return tables, restarts
            q.awaitTermination()
            notify("stream completed unexpectedly; restarting")  # RetryableFs2Stream:45-85
        except KeyboardInterrupt:
            raise
        except Exception as e:  # noqa: BLE001 — restart-on-any-error is the contract
            notify(f"stream error ({type(e).__name__}: {e}); restarting from checkpoint")
            if q is not None:
                try:
                    q.stop()
                except Exception:
                    pass
        restarts += 1
        if 0 <= max_restarts < restarts:
            raise RuntimeError(f"exceeded max_restarts={max_restarts}")
        time.sleep(min(2.0 ** min(restarts, 5), 30.0))


def main(argv=None) -> int:
    from hydra_spark.sources.replay import FILES_PER_TRIGGER

    ap = argparse.ArgumentParser(description="hydra_spark streaming engine runner")
    ap.add_argument("--audio", required=True, help="audio clips stream dir")
    ap.add_argument("--transcripts", required=True, help="transcripts stream dir")
    ap.add_argument("--out", required=True, help="output root (tables + checkpoint)")
    ap.add_argument("--files-per-trigger", type=int, default=FILES_PER_TRIGGER)
    ap.add_argument("--bounded", action="store_true", help="replay to end, then exit")
    ap.add_argument("--max-restarts", type=int, default=-1)
    ap.add_argument("--rollup", action="store_true", help="also run the window rollup query")
    ap.add_argument(
        "--batch-timeout-ms", type=int, default=None,
        help="flag batches slower than this in the progress feed (Hydra ingest-timeout analog)",
    )
    args = ap.parse_args(argv)

    from hydra_spark import pipeline
    from hydra_spark.session import get_spark

    # under spark-submit the master and driver memory come from the
    # submit command; run directly, the session is sized to the host
    spark = get_spark(app_name="hydra_spark_runner")

    spark.streams.addListener(
        ProgressListener(
            os.path.join(args.out, "_progress.jsonl"), batch_timeout_ms=args.batch_timeout_ms
        )
    )

    queries = []

    def start_flagship():
        return pipeline.start_flagship(
            spark, args.audio, args.transcripts, args.out, files_per_trigger=args.files_per_trigger
        )

    if args.rollup:
        rq, _ = pipeline.start_window_rollup(spark, args.audio, args.out, args.files_per_trigger)
        queries.append(rq)

    # dead-letter delivery: admission rejects leave the main stream
    # pre-join (a ts-invalid row would be watermark-dropped there), so
    # the stateless side stream MUST run alongside the flagship or
    # RecordTooLarge/InvalidLogicalType rows are silently lost
    qq, _ = pipeline.start_quarantine_stream(spark, args.audio, args.out, args.files_per_trigger)
    queries.append(qq)

    tables, restarts = run_with_restarts(
        start_flagship, max_restarts=args.max_restarts, bounded=args.bounded
    )
    for q in queries:
        q.processAllAvailable()
        q.stop()

    n = tables["output"].read(spark).count()
    print(json.dumps({"rows_out": int(n), "restarts": restarts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
