"""Energy-threshold voice-activity detection over raw clip payloads.

Training pipelines segment speech corpora by VAD before transcription
alignment and augmentation (the record-transform slot, reference:
core/src/main/scala/hydra/core/transport/RecordFactory.scala:25-30).
The rule here is the classic frame-energy gate, defined once and shared
with the fixture oracle so the outputs are INTEGER-EXACT comparable:

  * frame length = sr_hz * frame_ms // 1000 samples (fixed per row;
    the sub-frame tail is ignored, like the segment stage's tail rule)
  * a frame is SPEECH iff max(|x|) > eps over its samples, with eps =
    ``audio.SILENCE_EPS`` — the same silence definition the trim stage
    uses, and the comparison runs on the same float32 decoded values in
    both the engine and the per-row oracle, so there is no tolerance:
    equality is exact
  * a SEGMENT is a maximal run of consecutive speech frames (no
    merging across silent gaps — gap-merge policy belongs to the
    caller, who can dilate the mask)

Emitted per clip: n_frames / n_speech_frames / n_segments /
longest_run (frames) — the corpus-profiling numbers a VAD pass feeds
into clip filtering (drop no-speech clips, cap run lengths).

Spark-first shape: one ``mapInArrow`` stage sharing the decode stage's
zero-copy gather + LUT machinery; per-frame maxima are computed on the
reshaped (n_frames, frame_len) view — one vectorized ``np.abs``/``max``
per row, no per-sample Python. Output is 4 ints per row, so unlike
resample/segment there is no output-size slicing concern. Runs BEFORE
any shuffle; at 10^12 clips the stage is scan-speed and shuffle-free.

Error rows (null bytes, unknown codec, odd pcm16 length, non-positive
sr_hz, frame shorter than one sample) carry NULL outputs and a non-null
``vad_error`` — skip-and-count, never exceptions (reference
KafkaClientAlgebra.scala:380-395).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, types as T

from hydra_spark import audio
from hydra_spark.functions.decode import _decoded, _starts, arrow_stage

OUT_FIELDS = [
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("n_speech_frames", T.IntegerType(), True),
    T.StructField("n_segments", T.IntegerType(), True),
    T.StructField("longest_run", T.IntegerType(), True),
    T.StructField("vad_error", T.StringType(), True),
]


def _mask_runs(mask: np.ndarray) -> tuple[int, int]:
    """(n_segments, longest_run) of a boolean frame mask."""
    if mask.size == 0 or not mask.any():
        return 0, 0
    edges = np.flatnonzero(np.diff(np.concatenate(([0], mask.view(np.int8), [0]))))
    runs = edges[1::2] - edges[0::2]
    return int(runs.size), int(runs.max())


def vad_clip(buf: bytes, codec: str, sr_hz: int, frame_ms: int = 20) -> tuple:
    """Per-row oracle: decode -> frame loop -> (n_frames,
    n_speech_frames, n_segments, longest_run). Deliberately the naive
    per-frame formulation (independent of the vectorized kernel's
    reshape/axis-max) over the same float32 samples and eps."""
    x = audio.decode(buf, codec)
    flen = sr_hz * frame_ms // 1000
    if flen < 1:
        raise ValueError("frame shorter than one sample")
    nfr = len(x) // flen
    speech = []
    for i in range(nfr):
        fr = x[i * flen : (i + 1) * flen]
        speech.append(bool(np.max(np.abs(fr)) > audio.SILENCE_EPS))
    n_speech = sum(speech)
    n_seg = longest = cur = 0
    for s in speech + [False]:
        if s:
            cur += 1
        else:
            if cur:
                n_seg += 1
                longest = max(longest, cur)
            cur = 0
    return nfr, int(n_speech), n_seg, longest


def _vad(b, frame_ms: int):
    flen = b.sr * frame_ms // 1000
    b.fail(flen < 1, "frame shorter than one sample")
    eps = audio.SILENCE_EPS
    out = np.zeros((b.n, 4), dtype=np.int64)
    for rows, sl, x in _decoded(b, b.ok):
        bnd = _starts(sl)
        for j, r in enumerate(rows):
            fl = int(flen[r])
            nfr = int(sl[j]) // fl
            if nfr == 0:
                continue  # out already zeros
            fr = np.abs(x[bnd[j] : bnd[j] + nfr * fl]).reshape(nfr, fl)
            mask = fr.max(axis=1) > eps
            segs, longest = _mask_runs(mask)
            out[r] = (nfr, int(mask.sum()), segs, longest)
    yield None, [b.masked(out[:, i]) for i in range(4)] + [b.errors()]


def vad_clips(df: DataFrame, frame_ms: int = 20) -> DataFrame:
    """bytes+codec+sr_hz -> per-clip VAD frame/segment counts."""
    if frame_ms <= 0:
        raise ValueError(f"frame_ms must be positive, got {frame_ms}")
    return arrow_stage(df, OUT_FIELDS, partial(_vad, frame_ms=frame_ms), sr="check")
