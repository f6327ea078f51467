"""Tier 2/4: streaming flagship end-to-end vs the python oracle.

Runs the full pipeline (stream-stream join -> decode -> normalize ->
exactly-once MERGE) over the synthesized streams with sentinel flushes,
then checks: key uniqueness, transcript byte parity (shared-module
oracle), join matching (delay window), lineage coverage, metrics rows.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hydra_spark import pipeline, textnorm
from tests.conftest import TEST_ROOT, flush_sentinels


@pytest.fixture(scope="module")
def flagship_out(spark, dataset):
    out_root = os.path.join(TEST_ROOT, "flagship_out")
    shutil.rmtree(out_root, ignore_errors=True)
    # fresh copies of stream dirs (sentinels are appended)
    aud = os.path.join(TEST_ROOT, "audio_e2e")
    trs = os.path.join(TEST_ROOT, "trs_e2e")
    for src, dst in [(dataset["audio"], aud), (dataset["transcripts"], trs)]:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
    q, sink, t = pipeline.start_flagship(spark, aud, trs, out_root, files_per_trigger=16)
    q.processAllAvailable()
    flush_sentinels(spark, aud, trs)
    q.processAllAvailable()
    q.stop()
    return t


def test_output_complete_and_key_unique(spark, flagship_out, clips):
    out = flagship_out["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    n_clips = clips.count()
    assert out.count() == n_clips  # every clip emitted exactly once
    assert out.select("clip_id", "window_start").distinct().count() == n_clips
    # decode ran before the join: features present, audio payload dropped
    assert {"n_samples", "rms_db", "peak"} <= set(out.columns)
    assert "bytes" not in out.columns


def test_transcript_byte_parity(spark, flagship_out, clips):
    out = flagship_out["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    got = out.select("clip_id", "transcript_norm").toPandas().set_index("clip_id")
    src = clips.select("clip_id", "transcript", "event_time").toPandas().set_index("clip_id")
    import pandas as pd

    trs_delayed = 0
    for cid, row in src.iterrows():
        raw = None if pd.isna(row.transcript) else row.transcript
        expected = textnorm.normalize(raw)
        g = got.loc[cid, "transcript_norm"]
        if raw is None:
            assert g is None or g != g  # NaN
            continue
        # very-late transcripts (delay > 60s) legitimately unmatched
        if g is None or g != g:
            trs_delayed += 1
            continue
        assert g == expected, f"{cid}: {g!r} != {expected!r}"
    # ~1% very-late per FIXTURES — must be a small minority
    assert trs_delayed <= 0.03 * len(src)


def test_join_delay_semantics(spark, flagship_out, dataset):
    out = flagship_out["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    matched = out.where(F.col("transcript").isNotNull())
    bad = matched.where(
        (F.col("transcript_time") < F.col("event_time") - F.expr("interval 10 seconds"))
        | (F.col("transcript_time") > F.col("event_time") + F.expr("interval 60 seconds"))
    )
    assert bad.count() == 0
    # transcripts delayed beyond tolerance -> NULL transcript on the clip row
    trs = spark.read.parquet(dataset["transcripts"])
    aud = spark.read.parquet(dataset["audio"]).select("clip_id", F.col("event_time").alias("a_ts"))
    very_late = (
        trs.join(aud, "clip_id")
        .where(F.col("event_time") > F.col("a_ts") + F.expr("interval 60 seconds"))
        .select("clip_id")
    )
    n_very_late = very_late.count()
    assert n_very_late > 0  # fixture guarantees ~1%
    unmatched_late = out.join(very_late, "clip_id").where(F.col("transcript").isNull())
    assert unmatched_late.count() == n_very_late


def test_lineage_and_metrics(spark, flagship_out, clips):
    lin = flagship_out["lineage"].read(spark).where(F.col("ingest_partition") >= 0)
    met = flagship_out["metrics"].read(spark)
    assert "ack" not in met.columns  # one delivery mode, nothing to record
    ids = [r.batch_id for r in met.select("batch_id").collect()]
    assert ids and len(ids) == len(set(ids))  # one row per batch
    tot = met.agg(F.sum("rows_in").alias("i"), F.sum("rows_quarantined").alias("q")).first()
    # this fixture emits each clip once: every good row of every batch
    # is one output row
    assert tot.i - tot.q == flagship_out["output"].read(spark).count()
    per_part = lin.groupBy("ingest_partition").agg(
        F.min("start_offset").alias("lo"), F.max("end_offset").alias("hi"), F.sum("rows").alias("n")
    )
    src = clips.groupBy("ingest_partition").agg(
        F.max("ingest_offset").alias("max_off"), F.count("*").alias("n_src")
    )
    j = per_part.join(src, "ingest_partition").toPandas()
    sent_mask = j.ingest_partition == 0  # sentinels land in partition 0
    for _, r in j[~sent_mask].iterrows():
        assert r.lo == 0 and r.hi == r.max_off
        assert r.n == r.n_src  # every source row delivered exactly once
