"""Every Arrow audio kernel on the shared harness (functions/decode.py):
empty partitions and all-error batches. A kernel skips zero-row
batches, so an empty partition must still give the declared schema, and
a batch with no decodable row must give one error row per clip, never an
exception."""

import numpy as np
import pytest
from pyspark.sql import types as T

from hydra_spark import audio
from hydra_spark.functions import (
    decode,
    gain,
    mask,
    mel,
    resample,
    segment,
    spectral,
    transcode,
    trim,
    vad,
)

SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
    ]
)

SR, DUR_MS, SEG_MS = 8000, 100, 50
SEGS_PER_CLIP = (DUR_MS - SEG_MS) // SEG_MS + 1

# name -> (stage, output fields, error column, rows per valid clip,
# whether a NULL sr_hz is an error row)
KERNELS = {
    "decode": (decode.decode_features, decode.FEATURE_FIELDS, "decode_error", 1, False),
    "gain": (gain.gain_clips, gain.OUT_FIELDS, "gain_error", 1, False),
    "rms_normalize": (gain.rms_normalize_clips, gain.OUT_FIELDS, "gain_error", 1, False),
    "resample": (resample.resample_clips, resample.OUT_FIELDS, "resample_error", 1, True),
    "transcode": (transcode.transcode_clips, transcode.OUT_FIELDS, "tc_error", 1, False),
    "trim": (trim.trim_silence, trim.OUT_FIELDS, "trim_error", 1, False),
    "vad": (vad.vad_clips, vad.OUT_FIELDS, "vad_error", 1, True),
    "segment": (
        lambda df: segment.segment_clips(df, seg_ms=SEG_MS),
        segment.OUT_FIELDS,
        "segment_error",
        SEGS_PER_CLIP,
        True,
    ),
    "time_mask": (mask.time_mask, mask.OUT_FIELDS, "mask_error", 1, False),
    "mel": (mel.mel_clips, mel.OUT_FIELDS, "decode_error", 1, False),
    "spectral": (spectral.spectral_clips, spectral.OUT_FIELDS, "decode_error", 1, False),
}


def _clips(spark, n):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(n):
        codec = audio.SUPPORTED_CODECS[i % len(audio.SUPPORTED_CODECS)]
        x = (rng.random(SR * DUR_MS // 1000) * 2 - 1) * 0.5
        rows.append((f"c{i}", bytearray(audio.encode(x, codec)), SR, codec))
    return spark.createDataFrame(rows, schema=SCHEMA)


def _declared(fields):
    return T.StructType([f for f in SCHEMA.fields if f.name != "bytes"] + list(fields))


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_empty_partitions_keep_schema_and_rows(spark, name):
    stage, fields, err_col, per_clip, _ = KERNELS[name]
    empty = stage(_clips(spark, 3).limit(0))
    assert empty.schema == _declared(fields)
    got = empty.toArrow()
    assert got.num_rows == 0 and got.schema.names == empty.columns

    # 3 rows over 8 partitions: at least 5 partitions hold no row
    out = stage(_clips(spark, 3).repartition(8))
    assert out.schema == _declared(fields)
    rows = out.collect()
    assert len(rows) == 3 * per_clip
    assert sorted({r.clip_id for r in rows}) == ["c0", "c1", "c2"]
    assert all(r[err_col] is None for r in rows)


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_all_error_batch_gives_one_error_row_each(spark, name):
    stage, _, err_col, _, checks_sr = KERNELS[name]
    ok = bytearray(audio.encode(np.zeros(16), "pcm16"))
    rows = [
        ("null-bytes", None, SR, "pcm16"),
        ("unknown-codec", ok, SR, "mp3"),
        ("null-codec", ok, SR, None),
        ("odd-pcm16", bytearray(b"\x01\x02\x03"), SR, "pcm16"),
    ]
    if checks_sr:
        rows.append(("null-sr", ok, None, "pcm16"))
    df = spark.createDataFrame(rows, schema=SCHEMA).coalesce(1)  # one batch
    got = stage(df).collect()
    assert sorted(r.clip_id for r in got) == sorted(r[0] for r in rows)
    assert all(r[err_col] is not None for r in got), [(r.clip_id, r[err_col]) for r in got]


def test_decode_kernel_is_a_plain_function_of_a_record_batch():
    """No Spark: ``map_clips`` runs the decode kernel over a bare
    RecordBatch (what a Python data source's read() would call) and
    matches the per-row decode; a zero-row batch yields nothing."""
    import pyarrow as pa

    x = np.linspace(-0.5, 0.5, 160)
    bufs = [audio.encode(x, c) for c in audio.SUPPORTED_CODECS] + [None]
    rb = pa.RecordBatch.from_pydict(
        {
            "clip_id": ["p", "u", "a", "n"],
            "bytes": pa.array(bufs, type=pa.binary()),
            "codec": list(audio.SUPPORTED_CODECS) + ["pcm16"],
        }
    )
    names = [f.name for f in decode.FEATURE_FIELDS]
    (out,) = decode.map_clips(rb, decode.features, names)
    assert out.schema.names == ["clip_id", "codec"] + names
    got = out.to_pydict()
    for i, c in enumerate(audio.SUPPORTED_CODECS):
        ref = audio.decode(bufs[i], c)
        assert got["n_samples"][i] == len(ref) and got["decode_error"][i] is None
        assert got["peak"][i] == float(np.max(np.abs(ref)))
    assert got["decode_error"][3] == "ValueError: null bytes" and got["rms_db"][3] is None
    assert list(decode.map_clips(rb.slice(0, 0), decode.features, names)) == []


# the stages that read sr_hz, each named as its ValueError names it
SR_STAGES = {
    "resample": resample.resample_clips,
    "vad": vad.vad_clips,
    "segment": lambda df: segment.segment_clips(df, seg_ms=SEG_MS),
    "mel": mel.mel_clips,
    "spectral": spectral.spectral_clips,
}


@pytest.mark.parametrize("name", sorted(SR_STAGES))
def test_stage_reading_sr_hz_fails_at_plan_time_without_it(spark, name):
    """A stage that reads ``sr_hz`` over a frame without it (the
    transcode tests' frame) raises when it is planned, not inside a
    Python worker at run time."""
    from tests.test_transcode import SCHEMA as NO_SR, _mk_rows

    df = spark.createDataFrame(_mk_rows(), NO_SR)
    with pytest.raises(ValueError, match=rf"^{name} stage reads sr_hz"):
        SR_STAGES[name](df)


@pytest.mark.parametrize("mode", ["peak", "rms"])
def test_gain_kernel_scales_silent_clips_without_dividing_by_zero(mode):
    """No Spark: digitally silent clips pass through unscaled, next to a
    loud one that matches the per-row oracle, without a numpy warning."""
    import warnings
    from functools import partial

    import pyarrow as pa

    loud = np.linspace(-0.3, 0.2, 120)
    bufs = [audio.encode(x, "pcm16") for x in (np.zeros(160), loud, np.zeros(40), np.zeros(0))]
    rb = pa.RecordBatch.from_pydict(
        {
            "clip_id": ["s", "l", "t", "e"],
            "bytes": pa.array(bufs, type=pa.binary()),
            "codec": ["pcm16"] * 4,
        }
    )
    kernel = partial(gain._gain, mode=mode, target=0.5, max_slice_bytes=decode._MAX_SLICE)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        (out,) = decode.map_clips(rb, kernel, [f.name for f in gain.OUT_FIELDS])
    got = out.to_pydict()
    assert got["gain_error"] == [None] * 4 and got["n_samples"] == [160, 120, 40, 0]
    assert got["peak_in"][0] == got["peak_in"][2] == got["peak_in"][3] == 0.0
    assert [bytes(b) for b in got["bytes_gain"]][::2] == [bytes(320), bytes(80)]
    oracle = audio.gain_clip_rms if mode == "rms" else audio.gain_clip
    assert bytes(got["bytes_gain"][1]) == oracle(bufs[1], "pcm16", 0.5)
