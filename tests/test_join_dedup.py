"""Interval join + dedup semantics (batch parity; streaming in e2e test)."""

import os

import pandas as pd
from pyspark.sql import functions as F

from hydra_spark.operators.join import clip_transcript_join, dedup_within_watermark
from hydra_spark.operators.state import latest_wins_batch


def test_batch_interval_join_vs_oracle(spark, streams, truth):
    aud = spark.read.parquet(os.path.join(streams, "audio")).select("clip_id", "event_time")
    trs = spark.read.parquet(os.path.join(streams, "transcripts"))
    out = clip_transcript_join(aud, trs, how="left_outer").toPandas()
    # left outer, at most one transcript per clip: one row per clip
    assert len(out) == aud.count()
    matched = out[out.transcript.notna()]
    delay = (matched.transcript_time - matched.event_time).dt.total_seconds()
    assert delay.between(-10.0, 60.0).all()
    # oracle: matched iff the generator gave the clip a transcript whose
    # delay lies in [-10s, +60s]
    assert set(matched.clip_id) == set(truth.clip_id[truth.expected_transcript.notna()])


def test_dedup_within_watermark_batch(spark, clips):
    doubled = clips.union(clips)
    out = dedup_within_watermark(doubled, ["clip_id"])
    assert out.count() == clips.count()


def test_latest_wins_batch_tombstones(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b", "c"],
            "event_time": pd.to_datetime(
                ["2025-01-01 00:00:01", "2025-01-01 00:00:05", "2025-01-01 00:00:02",
                 "2025-01-01 00:00:09", "2025-01-01 00:00:03"]
            ),
            "v": ["a1", "a2", "b1", None, "c1"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = latest_wins_batch(df, ["k"], ts_col="event_time", value_col="v").toPandas()
    got = dict(zip(out.k, out.v))
    # a -> latest a2; b -> latest is tombstone (dropped); c -> c1
    assert got == {"a": "a2", "c": "c1"}


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of with tolerance + greatest-id tiebreak,
    verified against a brute-force per-row oracle."""
    import datetime as dt

    from hydra_spark.operators.join import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u1", 100, ts(10)), ("u1", 101, ts(40)), ("u2", 102, ts(5)),
         ("u3", 103, ts(10))],
        "user string, lid int, lts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", 1, ts(10)),  # equal-ts: counts for lid=100
            ("u1", 2, ts(10)),  # same ts: greater id wins the tiebreak
            ("u1", 3, ts(9)),
            ("u1", 4, ts(41)),  # after lid=101: never matches
            ("u2", 5, ts(-40)), # outside the 30-minute tolerance
        ],
        "user string, rid int, rts timestamp",
    )
    out = asof_join(
        left, right, on=["user"], left_ts="lts", right_ts="rts",
        tolerance="30 minutes", tiebreak="rid",
    )
    got = {r.lid: r.rid for r in out.collect()}
    # lid=100 -> rid 2 (equal ts, tiebreak over 1; 3 is older)
    # lid=101 -> rid 2 (latest <= 40 within 30 min)
    # lid=102 -> None (rid 5 outside tolerance); lid=103 -> None (no u3)
    assert got == {100: 2, 101: 2, 102: None, 103: None}
    inner = asof_join(
        left, right, on=["user"], left_ts="lts", right_ts="rts",
        tolerance="30 minutes", tiebreak="rid", how="inner",
    )
    assert {r.lid for r in inner.collect()} == {100, 101}


def test_asof_join_name_collision_and_no_tolerance(spark):
    import datetime as dt

    from hydra_spark.operators.join import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("k", 1, t0)], "key string, v int, lts timestamp"
    )
    right = spark.createDataFrame(
        [("k", 9, t0 - dt.timedelta(days=400))], "key string, v int, rts timestamp"
    )
    out = asof_join(left, right, on=["key"], left_ts="lts", right_ts="rts")
    row = out.collect()[0]
    # colliding right column suffixed; no tolerance -> arbitrarily old match
    assert row.v == 1 and row.v_asof == 9


def test_asof_join_null_timestamps(spark):
    """NULL-ts right rows never match; NULL-ts left rows stay unmatched
    (merge_asof / ASOF JOIN semantics), even without a tolerance."""
    import datetime as dt

    from hydra_spark.operators.join import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("u", 1, t0), ("u", 2, None)], "user string, lid int, lts timestamp"
    )
    right = spark.createDataFrame(
        [("u", 7, None)], "user string, rid int, rts timestamp"
    )
    got = {r.lid: r.rid for r in asof_join(
        left, right, on=["user"], left_ts="lts", right_ts="rts"
    ).collect()}
    assert got == {1: None, 2: None}


def test_streaming_full_outer_emits_both_orphans(spark, tmp_path):
    """full_outer: a clip with no transcript AND a transcript with no
    clip must both emit (NULL-extended) once BOTH watermarks pass —
    the orphan-audit contract left_outer can't provide."""
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    base = datetime(2025, 1, 1)
    a_schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    t_schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("transcript", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    a_dir, t_dir = str(tmp_path / "a"), str(tmp_path / "t")
    spark.createDataFrame(
        [("m1", base), ("clip-orphan", base + timedelta(seconds=5))], a_schema
    ).coalesce(1).write.mode("append").parquet(a_dir)
    spark.createDataFrame(
        [("m1", "hello", base + timedelta(seconds=3)),
         ("trs-orphan", "ghost", base + timedelta(seconds=7))],
        t_schema,
    ).coalesce(1).write.mode("append").parquet(t_dir)
    # two sentinel rounds on BOTH sides: full-outer flush needs both
    # watermarks past the real rows (advance end-of-batch, emit next)
    for r in range(2):
        far = base + timedelta(days=1, minutes=10 * r)
        spark.createDataFrame([(f"sa{r}", far)], a_schema).coalesce(1).write.mode(
            "append"
        ).parquet(a_dir)
        spark.createDataFrame([(f"st{r}", "s", far)], t_schema).coalesce(1).write.mode(
            "append"
        ).parquet(t_dir)

    from hydra_spark.operators.join import clip_transcript_join

    aud = (
        spark.readStream.format("parquet").schema(a_schema)
        .option("maxFilesPerTrigger", 1).load(a_dir)
    )
    trs = (
        spark.readStream.format("parquet").schema(t_schema)
        .option("maxFilesPerTrigger", 1).load(t_dir)
    )
    rows = []
    q = (
        clip_transcript_join(aud, trs, how="full_outer")
        .writeStream.foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r["clip_id"]: r for r in rows if not r["clip_id"].startswith(("sa", "st"))}
    assert got["m1"]["transcript"] == "hello"
    assert got["clip-orphan"]["transcript"] is None
    assert got["trs-orphan"]["transcript"] == "ghost"
    assert got["trs-orphan"]["event_time"] is None  # clip side NULL-extended
