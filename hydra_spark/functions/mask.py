"""Deterministic time masking — SpecAugment-style span silencing.

Audio training pipelines augment clips by silencing a contiguous time
span (SpecAugment's time mask, applied in sample space). Done
Spark-first and decode-free: the masked span is overwritten with each
codec's encoded-zero byte (pcm16 ``00 00``, G.711 quantizer zero
``0x80``), so the stage is a pure byte scatter over the Arrow buffer —
no decode, no re-encode, no per-row Python.

Determinism is the design center: the mask position is a pure function
of (clip_id, salt), computed in PLAIN JVM SQL expressions
(md5 -> ascii folding -> modulo) BEFORE the Arrow stage — the identical
expression runs in the DuckDB oracle, and the masked bytes themselves
are reproduced in SQL by hex-string surgery (prefix || repeated
zero-pattern || suffix), so the registry row ``clips_time_mask``
byte-verifies the scatter end-to-end. Changing ``salt`` redraws every
mask position (epoch-style re-augmentation) with no state anywhere.

Scale posture: like segmentation, masking runs before any shuffle and
touches each payload exactly once; the added columns are ~16 B/row.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from hydra_spark.functions.decode import (
    _binary_column,
    _filled,
    _ragged_scatter,
    arrow_stage,
)

# encoded-zero byte per codec (audio.encode(0)): the scatter fill values
_ZERO_BYTE = {"pcm16": 0x00, "ulaw": 0x80, "alaw": 0x80}

OUT_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("mask_start", T.IntegerType(), True),
    T.StructField("mask_len", T.IntegerType(), True),
    T.StructField("bytes_masked", T.BinaryType(), True),
    T.StructField("mask_error", T.StringType(), True),
]


def mask_position_expr(n_samples, mask_len, id_col: str = "clip_id", salt: str = ""):
    """Deterministic start sample: fold the first 4 hex chars of
    md5(clip_id || salt) into an int via ascii() (portable — DuckDB has
    no hex->int cast), then modulo the valid span. Pure-SQL on both
    engines; NULL-safe (0 when the span is empty)."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)).cast("binary"))
    folded = (
        F.ascii(F.substring(h, 1, 1)) * 16777216
        + F.ascii(F.substring(h, 2, 1)) * 65536
        + F.ascii(F.substring(h, 3, 1)) * 256
        + F.ascii(F.substring(h, 4, 1))
    )
    span = n_samples - mask_len + 1
    return F.when(span > 0, folded % span).otherwise(F.lit(0))


def _time_mask(b):
    ms = _filled(b.rb, "_ms")
    ml = _filled(b.rb, "_ml")
    # one contiguous copy of the whole batch payload, then a single
    # ragged scatter of the zero patterns over it
    out = b.data[b.off[0] : b.off[-1]].copy()
    base = b.off[:-1] - b.off[0]
    for c, zb in _ZERO_BYTE.items():
        rows = np.nonzero((b.codec == c) & b.ok & (ml > 0))[0]
        if not len(rows):
            continue
        bps = 2 if c == "pcm16" else 1
        _ragged_scatter(out, base[rows] + ms[rows] * bps, ml[rows] * bps, zb)
    yield None, [
        b.masked(b.n_samp),
        b.masked(ms),
        b.masked(ml),
        _binary_column(b.lens, out, b.ok),
        b.errors(),
    ]


def time_mask(
    df: DataFrame, mask_frac="0.1", id_col: str = "clip_id", salt: str = ""
) -> DataFrame:
    """bytes+codec -> bytes_masked with floor(n_samples*mask_frac)
    consecutive samples silenced at a deterministic per-clip position.

    mask_len uses exact integer arithmetic (Fraction numerator /
    denominator), so the oracle reproduces it without float rounding.
    Error rows (null bytes / unknown codec / odd pcm16) carry NULL
    outputs and ``mask_error``; a clip whose mask would be empty
    (mask_frac*n < 1) passes through unmasked with mask_len = 0.
    """
    fr = Fraction(str(mask_frac))
    if not 0 <= fr < 1:
        raise ValueError(f"mask_frac must be in [0, 1), got {mask_frac}")
    num, den = fr.numerator, fr.denominator
    n_samples = (
        F.when(F.col("codec") == "pcm16", F.octet_length("bytes") / 2)
        .otherwise(F.octet_length("bytes"))
        .cast("long")
    )
    with_pos = (
        df.withColumn("_n", n_samples)
        # exact floor((n*num)/den) in INTEGER arithmetic (SQL `div`, not
        # `/` which is double division and could round at large n)
        .withColumn("_ml", F.expr(f"(_n * {num}) div {den}"))
    )
    with_pos = with_pos.withColumn(
        "_ms", mask_position_expr(F.col("_n"), F.col("_ml"), id_col, salt)
    )

    return arrow_stage(with_pos, OUT_FIELDS, _time_mask, drop=("bytes", "_n", "_ml", "_ms"))


def freq_mask(
    feats: DataFrame,
    n_mels: int,
    mask_bands: int = 2,
    id_col: str = "clip_id",
    salt: str = "",
    value_col: str = "mel_db",
) -> DataFrame:
    """SpecAugment's OTHER axis — frequency masking over mel features.

    ``mask_bands`` consecutive mel bands are floored to the -120 dB
    silence floor at a band position that is the same pure function of
    (clip_id, salt) the time mask uses (mask_position_expr), so one
    salt redraws both augmentation axes coherently and the DuckDB
    oracle reproduces the mask in plain SQL. Runs entirely JVM-side
    (one F.transform over the feature array — no Python, no shuffle);
    adds ``mask_band_start`` (~4 B/row).
    """
    if not 0 < mask_bands <= n_mels:
        raise ValueError(f"mask_bands must be in (0, {n_mels}], got {mask_bands}")
    start = mask_position_expr(
        F.lit(n_mels), F.lit(mask_bands), id_col, salt
    ).cast("int")
    # n_mels is caller-supplied; a mismatch vs the actual array length
    # would silently mis-scope the mask (understated: only a prefix can
    # ever be masked; overstated: out-of-bounds draws return the row
    # unmasked). Fail loudly per-row instead: assert_true raises at
    # execution when any non-null feature array disagrees with n_mels.
    # NULL arrays pass through (start stays NULL, no mask applied).
    size_ok = F.col(value_col).isNull() | (
        F.size(F.col(value_col)) == F.lit(n_mels)
    )
    guard = F.assert_true(
        size_ok,
        F.concat_ws(
            " ",
            F.lit(f"freq_mask: n_mels={n_mels} != actual band count"),
            F.size(F.col(value_col)).cast("string"),
            F.lit("for"),
            F.col(id_col).cast("string"),
        ),
    )
    d = feats.withColumn(
        "mask_band_start",
        F.when(guard.isNull() & F.col(value_col).isNotNull(), start),
    )
    lo = F.col("mask_band_start")
    masked = F.transform(
        F.col(value_col),
        lambda v, i: F.when(
            (i >= lo) & (i < lo + mask_bands), F.lit(-120.0)
        ).otherwise(v),
    )
    return d.withColumn(f"{value_col}_masked", masked)
