"""Peak gain normalization — loudness-align clips before training.

A speech corpus mixes recording levels across sources; training
pipelines peak- (or RMS-) normalize before featurization. This stage
scales each clip so its peak magnitude hits ``target_peak`` and emits
pcm16 — one ``mapInArrow`` pass sharing the decode stage's zero-copy
gather/LUT machinery; the math is the single shared definition
``audio.gain_linear`` (same elementwise IEEE ops), so the engine output
equals the per-row oracle ``audio.gain_clip`` byte-for-byte
(tests/test_gain.py). SQL-checkable projection: n_samples_out ==
n_samples_in, so the DuckDB oracle verifies the decode-length dispatch
and accounting (``clips_gain``).

Scale posture: like resample, gain runs BEFORE any shuffle; G.711 input
doubles in size on the way to pcm16, so output is emitted in
size-bounded Arrow slices (same int32-offset guard as resample).
All-silent clips pass through unscaled; errors are skip-and-count rows
(reference KafkaClientAlgebra.scala:380-395).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, types as T

from hydra_spark.functions.decode import (
    _MAX_ROW,
    _MAX_SLICE,
    _binary_column,
    _decoded,
    _ragged_scatter,
    _runs,
    _starts,
    arrow_stage,
)

OUT_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("peak_in", T.DoubleType(), True),
    T.StructField("bytes_gain", T.BinaryType(), True),
    T.StructField("gain_error", T.StringType(), True),
]


def rms_normalize_clips(
    df: DataFrame, target_rms: float = 0.1, max_slice_bytes: int = _MAX_SLICE
) -> DataFrame:
    """RMS loudness normalization: scale each clip so its root-mean-
    square level hits ``target_rms`` (clipped to [-1,1] at the
    quantizer, like every RMS normalizer). Same kernel as the peak
    stage — only the per-row statistic changes: f64 squares summed with
    ``np.add.reduceat`` (the `_group_features` expression, sequential
    accumulation, so the per-row oracle ``audio.gain_clip_rms`` is
    byte-identical). ``peak_in`` holds the pre-gain RMS."""
    return gain_clips(
        df, max_slice_bytes=max_slice_bytes, mode="rms", target_rms=target_rms
    )


def _gain(b, mode: str, target: float, max_slice_bytes: int):
    b.fail(b.n_samp * 2 > _MAX_ROW, "gained output exceeds 2 GiB")
    out_bytes = b.n_samp * 2  # pcm16 out
    peak = np.zeros(b.n, dtype=np.float64)
    for a, z in _runs(out_bytes, max_slice_bytes):
        out_heads = _starts(b.n_samp[a:z])
        out_i2 = np.zeros(int(b.n_samp[a:z].sum()), dtype="<i2")
        for rows, sl, x in _decoded(b, b.ok_in(a, z)):
            nz = sl > 0
            if not nz.any():
                continue
            bounds = np.concatenate(([0], np.cumsum(sl[nz])[:-1]))
            if mode == "rms":
                # f64 squares, sequential reduceat — the
                # `_group_features` expression, and the per-row oracle's
                # exact op (gain_clip_rms reduceats the whole row the
                # same way)
                sums = np.add.reduceat(np.square(x, dtype=np.float64), bounds)
                stat = np.sqrt(sums / sl[nz])
            else:
                # per-row peak in float64 — the oracle's exact
                # expression (max of |x| after the f64 cast; abs and max
                # are value-exact across the cast)
                stat = np.maximum(
                    np.maximum.reduceat(x, bounds),
                    -np.minimum.reduceat(x, bounds),
                ).astype(np.float64)
            peak[rows[nz]] = stat
            scale = np.where(stat == 0.0, 1.0, target / stat)
            y = x.astype(np.float64) * np.repeat(scale, sl[nz])
            np.clip(y, -1.0, 1.0, out=y)
            y *= 32767.0
            _ragged_scatter(out_i2, out_heads[rows[nz] - a], sl[nz], y.astype("<i2"))
        span = slice(a, z)
        yield span, [
            b.masked(b.n_samp, span),
            b.masked(peak, span, pa.float64()),
            _binary_column(out_bytes[span], out_i2.view(np.uint8), b.ok[span]),
            b.errors(span),
        ]


def gain_clips(
    df: DataFrame,
    target_peak: float = 0.9,
    max_slice_bytes: int = _MAX_SLICE,
    mode: str = "peak",
    target_rms: float = 0.1,
) -> DataFrame:
    """bytes+codec -> pcm16 bytes_gain normalized to target_peak (mode
    'peak') or target_rms (mode 'rms').

    Output columns: every non-``bytes`` input column, plus n_samples /
    peak_in (the stage's pre-gain statistic: peak magnitude or RMS
    level per ``mode``, float64) / bytes_gain / gain_error. Error rows
    (null bytes, unknown codec, odd pcm16 length) carry NULL outputs;
    all-silent clips pass through unscaled with peak_in = 0.
    """
    if mode not in ("peak", "rms"):
        raise ValueError(f"mode must be 'peak' or 'rms', got {mode!r}")
    if not 0 < target_peak <= 1.0:
        raise ValueError(f"target_peak must be in (0, 1], got {target_peak}")
    if not 0 < target_rms <= 1.0:
        raise ValueError(f"target_rms must be in (0, 1], got {target_rms}")
    if not 1 <= max_slice_bytes <= _MAX_ROW:
        raise ValueError(f"max_slice_bytes must be in [1, {_MAX_ROW}], got {max_slice_bytes}")
    target = target_rms if mode == "rms" else target_peak
    return arrow_stage(
        df, OUT_FIELDS, partial(_gain, mode=mode, target=target, max_slice_bytes=max_slice_bytes)
    )
