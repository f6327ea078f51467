"""Vectorized mel filterbank energies — batched rfft + per-rate matmul.

The mel front end is the workhorse audio feature for training-data
curation (speech/music/noise triage, duplicate-audio fingerprints) and
the first stage of any downstream ASR featurizer. Like the spectral
stage (functions/spectral.py) it analyzes the FIRST ``audio.N_FFT``
samples of each clip zero-padded to a fixed window — the fixed size is
the vectorization lever: one batched 2D ``np.fft.rfft`` per Arrow chunk,
then ONE ``power @ filterbank.T`` GEMM per distinct sample rate (the
corpus has 4 rates — FIXTURES.md §1 — so filterbank matrices are cached
per rate, built once per executor).

Per-row oracle definition: ``audio.mel_energies`` (same float32 window,
same float64 power, same dB floor); parity pinned in tests/test_mel.py.
Registry row ``clips_mel_bands`` verifies against the independently
written per-row fixture sidecar (synth.write_clip_mel) via DuckDB.

Scale posture: HEAD-only gather (<= 2 KiB per clip regardless of
duration) and ~72 B/row of output features — mel scoring of a 10^12-clip
corpus is a fixed-prefix scan, not a full decode. Bad rows carry
``decode_error`` (skip-and-count, reference
KafkaClientAlgebra.scala:380-395), never exceptions.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, types as T

from hydra_spark import audio
from hydra_spark.functions.decode import _head_windows, arrow_stage

OUT_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("mel_db", T.ArrayType(T.DoubleType()), True),
    T.StructField("decode_error", T.StringType(), True),
]

# (sr_hz, n_fft, n_mels) -> (n_mels, n_bins) float64; executors see few
# distinct rates, so this stays tiny and is built once per worker
_FB_CACHE: dict[tuple[int, int, int], np.ndarray] = {}


def _filterbank(sr: int, n_fft: int, n_mels: int) -> np.ndarray:
    key = (sr, n_fft, n_mels)
    fb = _FB_CACHE.get(key)
    if fb is None:
        fb = _FB_CACHE[key] = audio.mel_filterbank(sr, n_fft, n_mels)
    return fb


def _mel(b, n_fft: int, n_mels: int):
    sr = b.sr
    mel: list = [None] * b.n
    sel = b.ok & (b.n_samp > 0) & (sr > 0)
    for r_c, Z in _head_windows(b, sel, n_fft):
        # identical op sequence to audio.mel_energies:
        # f32 rfft -> f32 abs -> f64 -> square -> GEMM
        mag = np.abs(np.fft.rfft(Z, axis=1)).astype(np.float64)
        power = mag * mag
        for rate in np.unique(sr[r_c]):
            sel_r = sr[r_c] == rate
            fb = _filterbank(int(rate), n_fft, n_mels)
            db = 10.0 * np.log10(power[sel_r] @ fb.T + audio.MEL_DB_EPS)
            for j, ri in enumerate(r_c[sel_r]):
                mel[ri] = db[j]
    yield None, [b.masked(b.n_samp), pa.array(mel, type=pa.list_(pa.float64())), b.errors()]


def mel_clips(
    df: DataFrame, n_fft: int = audio.N_FFT, n_mels: int = audio.N_MELS
) -> DataFrame:
    """bytes+codec+sr_hz -> (n_samples, mel_db[n_mels], decode_error).

    mel_db is NULL for empty clips, non-positive sr_hz, and error rows;
    all-silent windows produce the well-defined -120 dB floor vector.
    """
    return arrow_stage(df, OUT_FIELDS, partial(_mel, n_fft=n_fft, n_mels=n_mels), sr="read")
