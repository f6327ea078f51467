"""Silence trimming — strip leading/trailing silent runs, decode-free emission.

Training pipelines trim edge silence before segmentation/tokenization so
padding doesn't dilute features or waste tokens (the reference's
record-transform slot — core/src/main/scala/hydra/core/transport/
RecordFactory.scala:25-30 — is where such per-record rewrites run).

Spark-first shape: one ``mapInArrow`` stage. The DECISION needs decode
(silence is a property of decoded PCM: |x| <= audio.SILENCE_EPS, the
same definition as the n_silent stat), but the EMISSION does not — a
sample boundary is a byte boundary in every supported codec, so the
trimmed payload is a single ragged byte gather from the ORIGINAL encoded
buffer (same trick as functions/segment.py): bytes are never re-encoded,
output <= input, int32 Arrow offsets can't wrap.

Boundary search is fully vectorized across the chunk: decode the chunk
per codec (LUT / int16 view, identical values to the decode stage), one
``flatnonzero(|x| > eps)`` over the concatenated samples, then two
``searchsorted`` calls recover each row's first/last non-silent index —
no per-row Python. All-silent clips emit n_out = 0 with EMPTY (not
null) bytes, the audio.lead_trail_silent convention (lead = n,
trail = 0). Error rows (null bytes, unknown codec, odd pcm16) carry
``trim_error`` — skip-and-count, never exceptions (reference
KafkaClientAlgebra.scala:380-395).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, types as T

from hydra_spark import audio
from hydra_spark.functions.decode import (
    _binary_column,
    _decoded,
    _ragged_gather,
    arrow_stage,
)

OUT_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("n_lead", T.IntegerType(), True),
    T.StructField("n_trail", T.IntegerType(), True),
    T.StructField("n_samples_out", T.IntegerType(), True),
    T.StructField("bytes_trim", T.BinaryType(), True),
    T.StructField("trim_error", T.StringType(), True),
]


def _lead_trail_chunk(x: np.ndarray, counts: np.ndarray, eps) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized audio.lead_trail_silent over a concatenated chunk:
    ``x`` holds ``counts[i]`` samples per row, back to back."""
    roff = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=roff[1:])
    nz = np.flatnonzero(np.abs(x) > eps)
    first = np.searchsorted(nz, roff[:-1], side="left")
    last = np.searchsorted(nz, roff[1:], side="left") - 1
    has = last >= first  # row contains at least one non-silent sample
    lead = counts.copy()  # all-silent convention: lead = n, trail = 0
    trail = np.zeros(len(counts), dtype=np.int64)
    lead[has] = nz[first[has]] - roff[:-1][has]
    trail[has] = roff[1:][has] - 1 - nz[last[has]]
    return lead, trail


def _trim(b, eps):
    lead = np.zeros(b.n, dtype=np.int64)
    trail = np.zeros(b.n, dtype=np.int64)
    for rows, sl, x in _decoded(b, b.ok):
        lead[rows], trail[rows] = _lead_trail_chunk(x, sl, eps)
    n_out = b.n_samp - lead - trail  # 0 on error rows
    out_bytes = n_out * b.bps
    flat = _ragged_gather(b.data, b.off[:-1] + lead * b.bps, out_bytes)
    yield None, [
        b.masked(b.n_samp),
        b.masked(lead),
        b.masked(trail),
        b.masked(n_out),
        _binary_column(out_bytes, flat, b.ok),
        b.errors(),
    ]


def trim_silence(df: DataFrame, eps: float | None = None) -> DataFrame:
    """bytes+codec -> original columns (minus bytes) + n_samples /
    n_lead / n_trail / n_samples_out / bytes_trim / trim_error."""
    eps = np.float32(audio.SILENCE_EPS if eps is None else eps)
    return arrow_stage(df, OUT_FIELDS, partial(_trim, eps=eps))
