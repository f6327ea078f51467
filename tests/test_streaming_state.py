"""Streaming-state operators: latest-wins keyed state (applyInPandasWithState,
Hydra's compacted-topic cache A1/S6) and the windowed rollup query.

Reference semantics: ConsumerGroupsAlgebra.consumeDVSConsumersTopicIntoCache
(:254-275) — newest value per key, tombstone removes; StreamsManagerActor
metadata cache (:78-89).
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from hydra_spark.operators.state import latest_wins_hash, latest_wins_stream


@pytest.fixture()
def kv_stream_dir(spark, tmp_path):
    """Two files of keyed updates, later file wins; k2's last update is a
    tombstone (None value)."""
    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("transcript", T.StringType()),
    ])
    d = str(tmp_path / "kv")
    from datetime import datetime

    rows1 = [("k1", datetime(2025, 1, 1, 0, 0, 0), "v1a"),
             ("k2", datetime(2025, 1, 1, 0, 0, 1), "v2a"),
             ("k3", datetime(2025, 1, 1, 0, 0, 2), "v3a")]
    rows2 = [("k1", datetime(2025, 1, 1, 0, 1, 0), "v1b"),
             ("k2", datetime(2025, 1, 1, 0, 1, 1), None)]  # tombstone
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(d)
    return d


def test_latest_wins_stream_emits_latest_and_tombstones(spark, kv_stream_dir, tmp_path):
    src = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(kv_stream_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .load(kv_stream_dir)
    )
    out = latest_wins_stream(src)
    emitted = []

    def collect(bdf, bid):
        emitted.extend(bdf.toPandas().to_dict("records"))

    q = (
        out.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # reduce the emitted change-log to final state per key
    final = {}
    for r in emitted:
        final[r["clip_id"]] = r
    assert final["k1"]["transcript"] == "v1b" and not final["k1"]["deleted"]
    assert final["k2"]["deleted"] is True or final["k2"]["transcript"] is None
    assert final["k3"]["transcript"] == "v3a" and not final["k3"]["deleted"]


def test_latest_wins_stream_matches_batch_form(spark, kv_stream_dir):
    """Streaming state reduction must agree with the batch max_by form."""
    df = spark.read.parquet(kv_stream_dir)
    batch = latest_wins_hash(df, ["clip_id"], ["event_time"]).where(
        F.col("transcript").isNotNull()
    )
    got = {r["clip_id"]: r["transcript"] for r in batch.collect()}
    assert got == {"k1": "v1b", "k3": "v3a"}


def test_window_rollup_stream_matches_batch(spark, streams, tmp_path):
    from hydra_spark import pipeline
    from hydra_spark.functions.decode import decode_features
    from hydra_spark.operators import windows as win

    aud = os.path.join(streams, "audio")
    q, rollup_tbl = pipeline.start_window_rollup(spark, aud, str(tmp_path / "roll"))
    # the sentinel slice pushes the watermark past all real windows
    q.processAllAvailable()
    q.stop()

    # the real clips' windows: not the ts<=0 clips' or the sentinel's
    real = F.col("window_start").between(
        F.lit("2025-01-01 00:00:00").cast("timestamp"), F.lit("2025-01-01 12:00:00").cast("timestamp")
    )
    cols = ["window_start", "codec", "n_clips", "total_samples"]
    got = rollup_tbl.read(spark).where(real).select(*cols)
    expected = win.tumbling(
        decode_features(spark.read.parquet(aud)).where(F.col("decode_error").isNull()),
        pipeline.WINDOW_SIZE, "codec",
        aggs=[F.count("*").alias("n_clips"), F.sum("n_samples").alias("total_samples")],
    ).where(real).select(*cols)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_base62_roundtrip_and_conv_parity(spark):
    from hydra_spark.functions.ids import base62, base62_decode, correlation_id_col

    for n in [0, 1, 61, 62, 12345, 10**12]:
        assert base62_decode(base62(n)) == n
    assert base62(0) == "0" and base62(61) == "z" and base62(62) == "10"
    df = spark.range(100).select(
        "id", correlation_id_col("id").alias("corr")
    )
    rows = {r["id"]: r["corr"] for r in df.collect()}
    assert rows[35] == "Z" and rows[36] == "10"


@pytest.fixture()
def ts_stream_dir(spark, tmp_path):
    """Small deterministic (user_id, event_time, value) stream: two
    files, plus a far-future sentinel that flushes the watermark."""
    from datetime import datetime, timedelta

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    base = datetime(2025, 1, 1)
    rows1 = [(u, base + timedelta(seconds=7 * i + u), float(i)) for u in (1, 2) for i in range(20)]
    rows2 = [(u, base + timedelta(seconds=200 + 11 * i + u), float(i)) for u in (1, 3) for i in range(15)]
    d = str(tmp_path / "ts")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(d)
    # sentinel rounds: watermark advances end-of-batch; emission next batch
    for r in range(2):
        spark.createDataFrame(
            [(99, base + timedelta(days=1, minutes=10 * r), 0.0)], schema
        ).coalesce(1).write.mode("append").parquet(d)
    return d


def _run_stream_agg(spark, src_dir, tmp_path, build):
    src = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )
    rows = []
    q = (
        build(src).writeStream
        .foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return rows


def test_sliding_window_streaming_matches_batch(spark, ts_stream_dir, tmp_path):
    from hydra_spark.operators import windows as win

    def build(df):
        return win.sliding(df, "30 seconds", "10 seconds", "user_id",
                           aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s")],
                           watermark="30 seconds")

    got = {(r.user_id, r.window_start, r.n, r.s)
           for r in _run_stream_agg(spark, ts_stream_dir, tmp_path, build)
           if r.user_id != 99}
    batch = spark.read.parquet(ts_stream_dir).where(F.col("user_id") != 99)
    expected = {(r.user_id, r.window_start, r.n, r.s) for r in build(batch).collect()}
    assert got == expected


def test_session_window_streaming_matches_batch(spark, ts_stream_dir, tmp_path):
    from hydra_spark.operators import windows as win

    def build(df):
        return win.session(df, "25 seconds", "user_id",
                           aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s")],
                           watermark="30 seconds")

    got = {(r.user_id, r.window_start, r.window_end, r.n, r.s)
           for r in _run_stream_agg(spark, ts_stream_dir, tmp_path, build)
           if r.user_id != 99}
    batch = spark.read.parquet(ts_stream_dir).where(F.col("user_id") != 99)
    expected = {(r.user_id, r.window_start, r.window_end, r.n, r.s) for r in build(batch).collect()}
    assert got == expected


def test_cep_sequence_stream_matches_batch(spark, tmp_path):
    """CEP sequence detector: streaming (applyInPandasWithState) and
    batch (lead window) forms must find the identical match set on an
    in-order-per-key stream."""
    from datetime import datetime, timedelta

    from hydra_spark.operators.cep import sequence_matches_batch, sequence_matches_stream

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("label", T.StringType()),
    ])
    base = datetime(2025, 1, 1)
    seq = ["a", "a", "b", "a", "b", "a", "a", "b", "c", "a", "a", "b"]
    rows = []
    for u in ("u1", "u2"):
        for i, lab in enumerate(seq):
            # u2's events are spread too far apart for the time budget
            step = 5 if u == "u1" else 120
            rows.append((u, base + timedelta(seconds=step * i), lab))
    d = str(tmp_path / "cep")
    # two files -> two micro-batches, split mid-pattern
    spark.createDataFrame(rows[:13], schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows[13:], schema).coalesce(1).write.mode("append").parquet(d)

    pattern, within = ["a", "a", "b"], 60
    batch = sequence_matches_batch(
        spark.read.parquet(d), "k", "label", "event_time", pattern, within
    )
    expected = {(r.k, r.seq_start, r.seq_end) for r in batch.collect()}
    assert any(k == "u1" for k, *_ in expected) and not any(k == "u2" for k, *_ in expected)

    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )
    got = []
    q = (
        sequence_matches_stream(src, "k", "label", "event_time", pattern, within)
        .writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "cp3"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert {(r.k, r.seq_start, r.seq_end) for r in got} == expected


def test_state_format_marker(tmp_path):
    """A checkpoint written under an older custom-state layout must fail
    loudly on resume, not silently reinterpret ms-as-us state."""
    import json

    import pytest

    from hydra_spark.operators.state import (
        STATE_FORMAT_VERSION, StateFormatError, pin_state_format,
    )

    cp = str(tmp_path / "cp")
    pin_state_format(cp)          # first start writes the marker
    pin_state_format(cp)          # same-version resume is fine
    with open(f"{cp}/_hydra_state_format.json", "w") as f:
        json.dump({"state_format_version": STATE_FORMAT_VERSION - 1}, f)
    with pytest.raises(StateFormatError):
        pin_state_format(cp)      # old-format checkpoint -> loud failure

    # unmarked checkpoint that already holds streaming state: assumed v1
    # (loud failure)
    old = str(tmp_path / "old_cp")
    (tmp_path / "old_cp" / "offsets").mkdir(parents=True)
    with pytest.raises(StateFormatError):
        pin_state_format(old)


def test_cep_kleene_stream_matches_reference(spark, tmp_path):
    """Kleene-star CEP (a b* c): the incremental stateful matcher must
    reproduce kleene_matches_ref exactly, including candidates carried
    ACROSS a micro-batch boundary, kill-then-reopen on repeated 'a'
    (strict contiguity: 'a a b c' matches only from the SECOND a),
    kill-on-foreign-label, and budget expiry."""
    from datetime import datetime, timedelta

    from hydra_spark.operators.cep import kleene_matches_ref, kleene_matches_stream

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("label", T.StringType()),
    ])
    base = datetime(2025, 1, 1)

    def _us(b, s):
        return int((b + timedelta(seconds=s)).timestamp() * 1_000_000)

    # u1: kill-then-reopen (a a b c -> ONE match from the 2nd a),
    # boundary-split candidate (a b | b c), kill (a x c -> none)
    u1 = ["a", "a", "b", "c", "a", "b", "b", "c", "a", "x", "c", "a"]
    u1_steps = [0, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50, 55]
    u2 = ["a", "c"]
    u2_steps = [0, 600]  # budget 60 s -> no match
    rows, per_key = [], {}
    for key, labs, steps in (("u1", u1, u1_steps), ("u2", u2, u2_steps)):
        evs = []
        for lab, s in zip(labs, steps):
            ts = base + timedelta(seconds=s)
            rows.append((key, ts, lab))
            evs.append((int(ts.timestamp() * 1_000_000), lab))
        per_key[key] = evs
    d = str(tmp_path / "kleene")
    # split INSIDE u1's third candidate run (after 'a b', before 'b c')
    spark.createDataFrame(rows[:6], schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows[6:], schema).coalesce(1).write.mode("append").parquet(d)

    budget = 60
    expected = set()
    for key, evs in per_key.items():
        for s, e, nb in kleene_matches_ref(evs, "a", "b", "c", budget * 1_000_000):
            expected.add((key, s, e, nb))
    # sanity on the hand-built scenario: reopened + split = 2 matches
    assert len(expected) == 2 and all(k == "u1" for k, *_ in expected)
    assert expected == {
        ("u1", _us(base, 5), _us(base, 15), 1),   # from the SECOND a
        ("u1", _us(base, 20), _us(base, 35), 2),  # spans the file split
    }

    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )
    got = []
    q = (
        kleene_matches_stream(src, "k", "label", "event_time", "a", "b", "c", budget)
        .writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "cp_kleene"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got_set = {
        (
            r.k,
            int(r.seq_start.timestamp() * 1_000_000),
            int(r.seq_end.timestamp() * 1_000_000),
            r.n_absorbed,
        )
        for r in got
    }
    assert got_set == expected


def test_cep_kleene_property_random_sequences(spark, tmp_path):
    """Property check: 50 seeded-random per-key event sequences run
    through ONE streaming query (two files -> a micro-batch boundary
    lands mid-sequence for many keys) must equal kleene_matches_ref on
    each key's ordered list. applyInPandasWithState has no batch mode
    in Spark 4, so the property runs against the real streaming path."""
    import random
    from datetime import datetime, timedelta

    from hydra_spark.operators.cep import kleene_matches_ref, kleene_matches_stream

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("label", T.StringType()),
    ])
    base = datetime(2025, 1, 1)
    rng = random.Random(20260818)
    rows, per_key = [], {}
    for i in range(50):
        key = f"u{i:02d}"
        n = rng.randint(0, 25)
        secs = sorted(rng.sample(range(0, 400), n))
        labs = [rng.choice("abcx") for _ in range(n)]
        evs = []
        for s, lab in zip(secs, labs):
            ts = base + timedelta(seconds=s)
            rows.append((key, ts, lab))
            evs.append((int(ts.timestamp() * 1_000_000), lab))
        per_key[key] = evs
    # the operator's contract is per-key event-time order ACROSS
    # batches (see docstring): split by TIME so file 2 only carries
    # later events; WITHIN each file arrival order must not matter
    rows.sort(key=lambda r: r[1])
    d = str(tmp_path / "prop")
    half = len(rows) // 2
    first, second = rows[:half], rows[half:]
    rng.shuffle(first)
    rng.shuffle(second)
    spark.createDataFrame(first, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(second, schema).coalesce(1).write.mode("append").parquet(d)

    budget = 60
    expected = set()
    for key, evs in per_key.items():
        for s, e, nb in kleene_matches_ref(sorted(evs), "a", "b", "c", budget * 1_000_000):
            expected.add((key, s, e, nb))
    assert expected  # seeded data must actually exercise matches

    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )
    got = []
    q = (
        kleene_matches_stream(src, "k", "label", "event_time", "a", "b", "c", budget)
        .writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "cp_prop"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got_set = {
        (r.k, int(r.seq_start.timestamp() * 1_000_000),
         int(r.seq_end.timestamp() * 1_000_000), r.n_absorbed)
        for r in got
    }
    assert got_set == expected
