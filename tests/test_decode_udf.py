"""Tier 2: vectorized decode stage vs the numpy oracle, on Spark."""

import numpy as np
from pyspark.sql import functions as F

from hydra_spark import audio
from hydra_spark.functions.decode import Clips, _decoded, _starts, decode_features


def test_decode_pcm_snr_vs_oracle(spark, clips):
    """The samples the engine's codec decoder (``_decoded``) yields for
    each clip, against the clip's pre-encode reference waveform."""
    rb = clips.limit(200).toArrow().combine_chunks().to_batches()[0]
    b = Clips(rb)
    assert b.n == 200 and b.ok.all()
    meta = rb.select(["clip_id", "codec", "sr_hz", "dur_ms"]).to_pylist()
    seen = 0
    for rows, sl, x in _decoded(b, b.ok):
        for r, s, n in zip(rows.tolist(), _starts(sl).tolist(), sl.tolist()):
            m = meta[r]
            i = int(m["clip_id"].split("-")[1])
            ref = audio.waveform(i, m["sr_hz"], m["dur_ms"])
            snr = audio.snr_db(ref, x[s : s + n])
            assert snr >= 30.0, f"{m['clip_id']} ({m['codec']}): SNR {snr:.1f}"
            seen += 1
    assert seen == 200


def test_decode_features_sample_counts(spark, clips):
    feats = decode_features(clips.limit(300)).toPandas()
    assert (feats.decode_error.isna()).all()
    expected = (feats.sr_hz * feats.dur_ms / 1000.0).round().astype(int)
    assert (feats.n_samples == expected).all()
    assert (feats.peak <= 1.0 + 1e-6).all()
    assert "bytes" not in feats.columns  # hot path must drop the payload


def test_bad_records_quarantined_not_fatal(spark, tmp_path):
    """Hydra bad-record skip (KafkaClientAlgebra.scala:380-395): corrupt
    rows produce decode_error rows, never an exception."""
    from hydra_spark import synth

    path = str(tmp_path / "bad")
    synth.write_clips(spark, path, 500, truncate_pct=0.02, files=4)
    df = spark.read.parquet(path)
    decoded = decode_features(df)
    good = decoded.where(F.col("decode_error").isNull())
    quar = decoded.where(F.col("decode_error").isNotNull())
    n_bad = quar.count()
    # i % 1000 < 20 -> 20 corrupt rows in 500 (i in 0..499 -> i%1000=i -> i<20)
    assert n_bad == 20
    assert good.count() == 480
    reasons = [r[0] for r in quar.select("decode_error").distinct().collect()]
    assert all("ValueError" in x for x in reasons)


def test_extended_stats_match_per_row_oracle(spark, clips):
    """extended=True activity stats (zero crossings via prefix-sum at
    segment bounds, silent counts via reduceat) must equal the per-row
    oracle EXACTLY — integer counts over bit-identical decoded samples."""
    sample = clips.limit(150)
    feats = decode_features(sample, extended=True).toPandas().set_index("clip_id")
    src = sample.select("clip_id", "bytes", "codec").toPandas()
    for _, r in src.iterrows():
        x = audio.decode(bytes(r["bytes"]), r["codec"])
        got = feats.loc[r["clip_id"]]
        assert int(got.n_zero_cross) == audio.zero_crossings(x), r["clip_id"]
        assert int(got.n_silent) == audio.silent_samples(x), r["clip_id"]


def test_extended_stats_edge_cases(spark):
    """Empty / 1-sample / odd-length-pcm16 / unknown-codec rows through
    the extended path: errors quarantined, tiny segments counted right."""
    rows = [
        ("empty", b"", "pcm16"),
        ("one", audio.encode_pcm16(np.array([0.5], dtype=np.float32)), "pcm16"),
        ("two-cross", audio.encode_pcm16(np.array([0.5, -0.5], dtype=np.float32)), "pcm16"),
        ("silent", audio.encode_pcm16(np.zeros(10, dtype=np.float32)), "pcm16"),
        ("odd", b"\x00\x01\x02", "pcm16"),
        ("bad-codec", b"\x00\x01", "opus"),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string")
    got = {r.clip_id: r for r in decode_features(df, extended=True).collect()}
    assert got["empty"].decode_error is None and got["empty"].n_samples == 0
    assert got["empty"].n_zero_cross == 0 and got["empty"].n_silent == 0
    assert got["one"].n_zero_cross == 0 and got["one"].n_silent == 0
    assert got["two-cross"].n_zero_cross == 1
    assert got["silent"].n_silent == 10 and got["silent"].n_zero_cross == 0
    assert got["odd"].decode_error is not None
    assert got["bad-codec"].decode_error is not None


def test_vectorized_features_match_per_row_oracle(spark, clips):
    """The zero-copy Arrow decode (LUT + reduceat) must agree with a
    per-row float64 oracle on rms/peak to near machine precision."""
    sample = clips.limit(150)
    feats = decode_features(sample).toPandas().set_index("clip_id")
    src = sample.select("clip_id", "bytes", "codec").toPandas()
    for _, r in src.iterrows():
        x = audio.decode(bytes(r["bytes"]), r["codec"])
        got = feats.loc[r["clip_id"]]
        assert int(got.n_samples) == len(x)
        if len(x) == 0:
            continue
        p = float(np.sum(np.square(x, dtype=np.float64))) / len(x)
        rms = 10.0 * np.log10(p) if p > 0 else -np.inf
        assert abs(got.rms_db - rms) < 1e-9, r["clip_id"]
        assert abs(got.peak - float(np.max(np.abs(x)))) < 1e-9
