"""Admission rejects must reach the quarantine table even when their
event time is behind the watermark.

A row rejected for InvalidLogicalType (ts<=0) has a garbage event time;
the flagship's watermarked join would drop it as late data — so rejects
are split off the main stream pre-join and delivered by the stateless
side stream (pipeline.start_quarantine_stream). Decode errors (valid
event time) keep flowing through the main pipeline and land in
quarantine via the sink's split (executor-side write).
"""

import os
import shutil

from pyspark.sql import functions as F

from hydra_spark import pipeline
from tests.conftest import TEST_ROOT, flush_sentinels


def _bad_rows(spark):
    """3 admission rejects + 1 decode error, all deterministic."""
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    ok_ts = F.lit("2025-01-01 00:00:10").cast("timestamp")
    rows = [
        # ts <= 0: the watermark-drop class the side stream exists for
        ("bad-ts", b"\x00\x00", "pcm16", epoch),
        ("bad-ts2", b"\x00\x00", "ulaw", epoch),
        # oversized payload: must never reach a decode batch
        ("bad-big", bytes(pipeline.MAX_BYTES + 2), "pcm16", ok_ts),
        # valid admission, undecodable codec: main-pipeline quarantine
        ("bad-codec", b"\x00\x00", "corrupt", ok_ts),
    ]
    dfs = []
    for cid, buf, codec, ts in rows:
        dfs.append(
            spark.range(1).select(
                F.lit(cid).alias("clip_id"),
                F.lit(buf).alias("bytes"),
                F.lit(8000).alias("sr_hz"),
                F.lit(200).alias("dur_ms"),
                F.lit(codec).alias("codec"),
                F.lit(0).cast("int").alias("ingest_partition"),
                F.lit(5 * 10**8).cast("long").alias("ingest_offset"),
                ts.alias("event_time"),
            )
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def test_rejects_reach_quarantine_despite_watermark(spark, dataset):
    root = os.path.join(TEST_ROOT, "quar_stream")
    aud = os.path.join(root, "audio")
    trs = os.path.join(root, "trs")
    out_root = os.path.join(root, "out")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(dataset["audio"], aud)
    shutil.copytree(dataset["transcripts"], trs)
    _bad_rows(spark).coalesce(1).write.mode("append").parquet(aud)

    q, sink, t = pipeline.start_flagship(spark, aud, trs, out_root, files_per_trigger=64)
    qq, _tq = pipeline.start_quarantine_stream(spark, aud, out_root, files_per_trigger=64)
    q.processAllAvailable()
    flush_sentinels(spark, aud, trs)
    q.processAllAvailable()
    qq.processAllAvailable()
    q.stop()
    qq.stop()

    quar = t["quarantine"].read(spark)
    reasons = {r["clip_id"]: r["reject_reason"] for r in quar.collect()}
    # ts-invalid rows captured even though the join would have dropped them
    assert reasons["bad-ts"].startswith("InvalidLogicalType")
    assert reasons["bad-ts2"].startswith("InvalidLogicalType")
    assert reasons["bad-big"].startswith("RecordTooLarge")
    # decode error flowed through the main pipeline's sink split
    assert reasons["bad-codec"].startswith("DecodeError")

    out = t["output"].read(spark)
    bad_in_out = out.where(F.col("clip_id").startswith("bad-")).count()
    assert bad_in_out == 0


def test_whole_batch_quarantined_executor_side(spark, dataset):
    """A bad codec can reject an entire batch — the quarantine write
    must stay executor-side (never a driver collect) and the run must
    stay exactly-once under that load."""
    root = os.path.join(TEST_ROOT, "quar_big")
    aud = os.path.join(root, "audio")
    trs = os.path.join(root, "trs")
    out_root = os.path.join(root, "out")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(dataset["transcripts"], trs)
    # every clip's codec corrupted -> 100% decode-error batch
    src = spark.read.parquet(dataset["audio"])
    n_src = src.count()
    src.withColumn("codec", F.lit("corrupt")).repartition(8).write.parquet(aud)

    q, sink, t = pipeline.start_flagship(spark, aud, trs, out_root, files_per_trigger=64)
    q.processAllAvailable()
    flush_sentinels(spark, aud, trs)
    q.processAllAvailable()
    q.stop()

    quar = t["quarantine"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    n_quar = quar.count()
    assert n_quar == n_src, (n_quar, n_src)
    assert quar.where(~F.col("reject_reason").startswith("DecodeError")).count() == 0
    # rejected rows never reach the output table
    out = t["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    assert out.count() == 0
