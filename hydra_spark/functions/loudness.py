"""Integrated loudness (ITU-R BS.1770-4) per clip — LUFS with gating.

Loudness normalization is a standard curation step for speech/audio
training corpora (drop clips outside a loudness band, or compute the
gain needed to hit a target LUFS). Unlike the head-only spectral/mel
stages, integrated loudness is a WHOLE-CLIP statistic — the stage
necessarily reads full payloads, like the decode rollup does.

Execution shape: one ``mapInArrow`` stage on the shared audio-kernel
harness (``decode.arrow_stage``): the batch is decoded by the one
vectorized codec decoder ``decode._decoded``, then the per-clip numpy
kernel (``audio.lufs_integrated``: one cached-FIR FFT convolution +
cumsum block gating) runs on each decoded row. Per-row Python overhead
is microseconds against milliseconds of FFT per clip, so the hot work
is vectorized C. No shuffle: the stage is a pure map, partition
boundaries preserved, so at 100 TB it rides the scan partitioning.

The per-row kernel is the single shared definition used by the fixture
writer too (engine/fixture bit-identical; the loudness MATH is pinned
independently in tests/test_loudness.py: 48 kHz coefficients vs the
spec's table, FIR path vs direct per-sample IIR, 997 Hz sine at
-3.01 LKFS). Bad rows (null bytes, unknown codec, odd pcm16 length,
non-positive sr_hz, a rate below the K-weighting floor) carry
``decode_error`` (skip-and-count, reference
KafkaClientAlgebra.scala:380-395), never exceptions.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, types as T

from hydra_spark import audio
from hydra_spark.functions.decode import _decoded, _starts, arrow_stage

OUT_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("lufs", T.DoubleType(), True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("n_gated", T.IntegerType(), True),
    T.StructField("decode_error", T.StringType(), True),
]


def _loudness(b):
    low = b.sr < audio.LUFS_MIN_SR
    for sr in set(b.sr[low & b.ok].tolist()):
        b.fail(low & (b.sr == sr), audio.LUFS_FLOOR_ERROR.format(sr))
    lufs = np.full(b.n, np.nan)
    blocks = np.zeros((b.n, 2), dtype=np.int64)
    for rows, sl, x in _decoded(b, b.ok):
        bnd = _starts(sl)
        for j, r in enumerate(rows):
            seg = x[bnd[j] : bnd[j] + sl[j]]
            l, blocks[r, 0], blocks[r, 1] = audio.lufs_integrated(seg, int(b.sr[r]))
            if l is not None:
                lufs[r] = l
    yield None, [
        b.masked(b.n_samp),
        pa.array(lufs, type=pa.float64(), from_pandas=True),
        b.masked(blocks[:, 0]),
        b.masked(blocks[:, 1]),
        b.errors(),
    ]


def loudness_clips(df: DataFrame) -> DataFrame:
    """bytes+codec+sr_hz -> (n_samples, lufs, n_blocks, n_gated).

    lufs is NULL for error rows, clips shorter than one 400 ms gating
    block, and all-gated (silent) clips; n_blocks / n_gated are
    0-valued rather than NULL for the short/silent cases so the two
    NULL reasons stay distinguishable.
    """
    return arrow_stage(df, OUT_FIELDS, _loudness, sr="check")
