"""Codec transcode — re-encode clips to a target codec in one pass.

Storage-side normalization for a mixed-codec corpus: training pipelines
standardize on one codec (G.711 for 2x smaller archives, pcm16 for
lossless downstream math) before writing the curated table. One
``mapInArrow`` pass sharing the decode stage's zero-copy gather/LUT
machinery; decode AND encode are the single shared ``hydra_spark.audio``
definitions (same elementwise IEEE ops vectorized over the batch), so
the engine output equals the per-row oracle
``audio.encode(audio.decode(buf, codec), to_codec)`` byte-for-byte
(tests/test_transcode.py). Same-codec rows pass through unchanged
(re-compressing an already-companded clip would add quantization error
for zero benefit).

SQL-checkable projection: n_samples is derivable from the input length
per codec and out_bytes = n_samples * (2 if pcm16 else 1), so the
DuckDB oracle (``clips_transcode``) verifies codec dispatch, sample
accounting and output sizing; the companded byte values themselves are
pinned in pytest (float32 log/round math is not safely reproducible in
SQL's float64 round-half-up).

Scale posture (same as resample/gain): transcode runs BEFORE any
shuffle — at 10^12 clips the payload never moves encoded AND decoded;
pcm16 output doubles G.711 input, so output is emitted in size-bounded
Arrow slices (int32-offset guard). Errors are skip-and-count rows
(reference KafkaClientAlgebra.scala:380-395).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, types as T

from hydra_spark import audio
from hydra_spark.functions.decode import (
    _CHUNK,
    _MAX_ROW,
    _MAX_SLICE,
    _binary_column,
    _decoded,
    _ragged_gather,
    _ragged_scatter,
    _runs,
    _starts,
    arrow_stage,
)

OUT_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("bytes_tc", T.BinaryType(), True),
    T.StructField("tc_error", T.StringType(), True),
]


def _encode_batch(x: np.ndarray, to_codec: str) -> np.ndarray:
    """Vectorized shared-definition encode: float32 [-1,1] samples ->
    byte array of the target codec (uint8 view for G.711, int16-LE view
    for pcm16). Compress AND quantize are the audio module's own
    functions (not copies), so per-row/vectorized divergence is
    structurally impossible."""
    if to_codec == "pcm16":
        return audio.quantize_pcm16(x)
    if to_codec == "ulaw":
        return audio.quantize_g711(audio._ulaw_compress(x))
    return audio.quantize_g711(audio._alaw_compress(x))


def _transcode(b, to_codec: str, max_slice_bytes: int):
    bytes_per_out = 2 if to_codec == "pcm16" else 1
    b.fail(b.n_samp * bytes_per_out > _MAX_ROW, "transcoded output exceeds 2 GiB")
    out_bytes = b.n_samp * bytes_per_out
    for a, z in _runs(out_bytes, max_slice_bytes):
        out_heads = _starts(out_bytes[a:z])
        out_buf = np.zeros(int(out_bytes[a:z].sum()), dtype=np.uint8)
        sel = b.ok_in(a, z)
        same = sel & (b.codec == to_codec)
        for rows, sl, x in _decoded(b, sel & ~same):
            enc = _encode_batch(x, to_codec)
            _ragged_scatter(out_buf, out_heads[rows - a], sl * bytes_per_out, enc.view(np.uint8))
        # pass-through: copy source bytes verbatim
        same_rows = np.flatnonzero(same)
        for i, j in _runs(b.lens[same_rows], _CHUNK):
            rows = same_rows[i:j]
            raw = _ragged_gather(b.data, b.off[rows], b.lens[rows])
            _ragged_scatter(out_buf, out_heads[rows - a], b.lens[rows], raw)
        span = slice(a, z)
        yield span, [
            b.masked(b.n_samp, span),
            _binary_column(out_bytes[span], out_buf, b.ok[span]),
            b.errors(span),
        ]


def transcode_clips(
    df: DataFrame, to_codec: str = "ulaw", max_slice_bytes: int = _MAX_SLICE
) -> DataFrame:
    """bytes+codec -> ``bytes_tc`` re-encoded as ``to_codec``.

    Output columns: every non-``bytes`` input column, plus n_samples /
    bytes_tc / tc_error. Error rows (null bytes, unknown codec, odd
    pcm16 length) carry NULL outputs; rows already in the target codec
    pass through byte-identical."""
    if to_codec not in audio.SUPPORTED_CODECS:
        raise ValueError(f"unsupported target codec: {to_codec}")
    if not 1 <= max_slice_bytes <= _MAX_ROW:
        raise ValueError(f"max_slice_bytes must be in [1, {_MAX_ROW}], got {max_slice_bytes}")
    kernel = partial(_transcode, to_codec=to_codec, max_slice_bytes=max_slice_bytes)
    return arrow_stage(df, OUT_FIELDS, kernel)
