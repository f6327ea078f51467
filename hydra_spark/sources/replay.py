"""Rate-controlled replay source with offset semantics (SURVEY.md §2.1).

Hydra's sources are Kafka consumer streams with per-partition offsets,
explicit seek, and bounded tail reads. With no Kafka in the sandbox (and
none needed — the engine is table-driven), the source is the parquet
file stream over the synthesized clips table:

  * S4 consume-stream  -> readStream over the table dir with
    maxFilesPerTrigger as the rate control (Hydra's WS max-frames /
    backpressure analog). Per-partition offsets ride along as the
    ingest_partition/ingest_offset lineage columns baked in by synth.
  * S5 seek-from-offset (KafkaClientAlgebra.scala:102-114,402-441) ->
    a per-partition start-offset predicate compiled into ONE disjunction
    of (partition = p AND offset >= o) — pushed down to the parquet scan.
  * S7 bounded tail (TopicsEndpoint.scala:33-84: takeWhile index <= n
    and offset < latest) is a batch read, not a source: an offset upper
    bound plus a per-partition row_number limit
    (``plans/analytics.bounded_tail``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from hydra_spark.synth import CLIPS_SCHEMA

# default micro-batch size of every file-stream query, in files
FILES_PER_TRIGGER = 8


def stream_table(
    spark: SparkSession,
    path: str,
    schema=None,
    files_per_trigger: int = FILES_PER_TRIGGER,
) -> DataFrame:
    """S4: rate-controlled micro-batched replay of a parquet table."""
    schema = schema or CLIPS_SCHEMA
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("latestFirst", "false")
        .load(path)
    )


def seek_predicate(start_offsets: dict[int, int]):
    """S5: (partition, offset) seek map -> single pushdown-able predicate."""
    clauses = [
        (F.col("ingest_partition") == p) & (F.col("ingest_offset") >= o)
        for p, o in start_offsets.items()
    ]
    known = F.col("ingest_partition").isin(list(start_offsets.keys()))
    return reduce(lambda a, b: a | b, clauses) | (~known)
