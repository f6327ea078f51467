"""Tier 2/4: streaming flagship end-to-end vs the generator's truth.

Runs the full pipeline (stream-stream join -> decode -> normalize ->
keyed insert-only commit through ``append_dedup``) with its
admission-reject side stream over the gen fixture's arrival-ordered
slices at the default trigger size, then checks: every clip's outcome
against ``truth.parquet`` (``perfbench/oracle.py``), key uniqueness,
transcript byte parity with the shared normalize module, the join
interval, lineage offsets per partition and one metrics row per batch.
"""

from pyspark.sql import functions as F

from hydra_spark import textnorm
from tests.conftest import gen, oracle, outcomes


def test_output_complete_and_key_unique(spark, flagship_run, truth):
    verdict = oracle.compare(*outcomes(spark, flagship_run["tables"]), truth)
    assert verdict["failed"] == 0, verdict["by_cause"]
    out = flagship_run["tables"]["output"].read(spark)
    n = out.count()
    assert n == (truth["kind"] == "ok").sum()  # every accepted clip emitted once
    assert out.select("clip_id", "window_start").distinct().count() == n
    # decode ran before the join: features present, audio payload dropped
    assert {"n_samples", "rms_db", "peak"} <= set(out.columns)
    assert "bytes" not in out.columns


def test_transcript_byte_parity(spark, flagship_run):
    got = (
        flagship_run["tables"]["output"].read(spark)
        .where(F.col("transcript").isNotNull())
        .select("transcript", "transcript_norm")
        .toPandas()
    )
    for raw, norm in zip(got["transcript"], got["transcript_norm"]):
        assert norm == textnorm.normalize(raw), (raw, norm)
    # every normalization case of FIXTURES.md §4 went through the join
    assert set(gen.NORM_CASES) <= set(got["transcript"])


def test_join_delay_semantics(spark, flagship_run, truth):
    out = flagship_run["tables"]["output"].read(spark)
    matched = out.where(F.col("transcript").isNotNull())
    bad = matched.where(
        (F.col("transcript_time") < F.col("event_time") - F.expr("interval 10 seconds"))
        | (F.col("transcript_time") > F.col("event_time") + F.expr("interval 60 seconds"))
    )
    assert bad.count() == 0
    # transcripts the generator put outside the interval -> NULL
    # transcript on the clip row
    outside = truth["clip_id"][
        (truth["kind"] == "ok") & truth["has_transcript"] & truth["expected_transcript"].isna()
    ].tolist()
    assert outside
    unmatched = out.where(F.col("clip_id").isin(outside) & F.col("transcript").isNull())
    assert unmatched.count() == len(outside)


def test_lineage_and_metrics(spark, flagship_run, truth):
    t = flagship_run["tables"]
    met = t["metrics"].read(spark)
    assert "ack" not in met.columns  # one delivery mode, nothing to record
    ids = sorted(r.batch_id for r in met.select("batch_id").collect())
    assert ids == sorted(p.batchId for p in flagship_run["progress"])  # one row per batch
    tot = met.agg(F.sum("rows_in").alias("i"), F.sum("rows_quarantined").alias("q")).first()
    # decode errors are the flagship's only quarantine rows, and every
    # other row of every batch is one output row
    assert tot.q == (truth["kind"] == "undecodable").sum()
    assert tot.i - tot.q == t["output"].read(spark).count()
    lin = (
        t["lineage"].read(spark)
        .groupBy("ingest_partition")
        .agg(F.min("start_offset").alias("lo"), F.max("end_offset").alias("hi"), F.sum("rows").alias("n"))
        .toPandas()
        .set_index("ingest_partition")
    )
    ok = truth[truth["kind"] == "ok"].groupby("ingest_partition")["ingest_offset"]
    # every accepted row delivered exactly once, per partition
    assert lin.to_dict("index") == ok.agg(lo="min", hi="max", n="count").to_dict("index")
