"""Vectorized audio resample stage — rate-normalization for training data.

A speech/audio training pipeline almost always rate-normalizes clips to
one sample rate before featurization; the reference's transform stage is
where that would run (record-transform slot, reference:
core/src/main/scala/hydra/core/transport/RecordFactory.scala:25-30). This
is that operator Spark-first: one ``mapInArrow`` stage, zero-copy views
over the Arrow binary buffers, linear-interpolation resample evaluated as
pure ragged-vectorized numpy (no per-row Python — input_hint mandate),
output re-encoded as pcm16 and emitted zero-copy as an Arrow binary
column built directly ``from_buffers``.

The math is the single shared definition in ``audio.resample_linear``
(same elementwise IEEE expression), so engine output equals the per-row
oracle ``audio.resample_clip`` byte-for-byte — asserted in
tests/test_resample.py. SQL-checkable projection: n_samples_out =
ceil(n_in * dst_sr / sr_hz) is integer arithmetic over octet_length, so
the DuckDB oracle verifies the sample accounting end-to-end
(clips_resample row).

Scale posture: decode+resample+encode happens BEFORE any shuffle, and the
output is bytes at the destination rate — downsampling 44.1k->16k cuts
the bytes any later stage moves by ~2.8x. Like decode_features, the
per-chunk temporaries are kept L2/L3-resident (same CHUNK bound), and bad
rows become ``resample_error`` rows (Hydra skip-and-count,
KafkaClientAlgebra.scala:380-395), never exceptions.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, types as T

from hydra_spark.functions.decode import (
    _MAX_ROW,
    _MAX_SLICE,
    _binary_column,
    _decoded,
    _ragged_index,
    _ragged_scatter,
    _runs,
    _starts,
    arrow_stage,
)

OUT_FIELDS = [
    T.StructField("n_samples_in", T.IntegerType(), True),
    T.StructField("n_samples_out", T.IntegerType(), True),
    T.StructField("bytes_out", T.BinaryType(), True),
    T.StructField("resample_error", T.StringType(), True),
]


def _resample(b, dst_sr: int, max_slice_bytes: int):
    sr = b.sr
    # per-row sample accounting (vectorized; errors stay 0)
    n_out = np.zeros(b.n, dtype=np.int64)
    ok = b.ok
    n_out[ok] = (b.n_samp[ok] * dst_sr + sr[ok] - 1) // sr[ok]
    b.fail(n_out * 2 > _MAX_ROW, "resampled output exceeds 2 GiB")
    n_out[~b.ok] = 0
    # emit in output-bounded slices: int32 Arrow offsets stay safe no
    # matter how hard the batch upsamples (common case: 1 slice)
    out_bytes = n_out * 2
    for a, z in _runs(out_bytes, max_slice_bytes):
        # preallocated flat pcm16 output + per-row heads (the ragged
        # scatter destination — same index trick as the decode gather)
        out_heads = _starts(n_out[a:z])
        out_i2 = np.zeros(int(n_out[a:z].sum()), dtype="<i2")
        for rows, sl, x in _decoded(b, b.ok_in(a, z)):
            no = n_out[rows]
            if not no.any():
                continue
            in_heads = _starts(sl)
            # local output index 0..n_out-1 per row, ragged
            j = _ragged_index(np.zeros(len(no), dtype=np.int64), no).astype(np.float64)
            ratio = sr[rows].astype(np.float64) / float(dst_sr)
            pos = j * np.repeat(ratio, no)
            # n_out > 0 implies n_in > 0, so sl-1 >= 0 here
            last = (sl - 1).astype(np.int64)
            np.minimum(pos, np.repeat(last.astype(np.float64), no), out=pos)
            i0 = pos.astype(np.int64)
            f = pos - i0
            base = np.repeat(in_heads, no)
            i1 = np.minimum(i0 + 1, np.repeat(last, no))
            y = x[base + i0] * (1.0 - f) + x[base + i1] * f
            np.clip(y, -1.0, 1.0, out=y)
            y *= 32767.0
            _ragged_scatter(out_i2, out_heads[rows - a], no, y.astype("<i2"))
        span = slice(a, z)
        yield span, [
            b.masked(b.n_samp, span),
            b.masked(n_out, span),
            _binary_column(out_bytes[span], out_i2.view(np.uint8), b.ok[span]),
            b.errors(span),
        ]


def resample_clips(
    df: DataFrame, dst_sr: int = 16000, max_slice_bytes: int = _MAX_SLICE
) -> DataFrame:
    """bytes+codec+sr_hz -> pcm16 bytes_out at dst_sr (up- or down-sample).

    Output columns: every non-``bytes`` input column, plus
    n_samples_in / n_samples_out / bytes_out (pcm16 at dst_sr) /
    resample_error. Error rows (null bytes, unknown codec, odd pcm16
    length, non-positive sr_hz, single-row output over 2 GiB) carry NULL
    outputs and a non-null ``resample_error``. One input batch may yield
    several output RecordBatches (output-size-bounded slices).
    """
    if dst_sr <= 0:
        raise ValueError(f"dst_sr must be positive, got {dst_sr}")
    if not 1 <= max_slice_bytes <= _MAX_ROW:
        # a bound past int32 range would silently re-break the offset
        # guard this parameter exists to enforce
        raise ValueError(f"max_slice_bytes must be in [1, {_MAX_ROW}], got {max_slice_bytes}")
    kernel = partial(_resample, dst_sr=dst_sr, max_slice_bytes=max_slice_bytes)
    return arrow_stage(df, OUT_FIELDS, kernel, sr="check")
