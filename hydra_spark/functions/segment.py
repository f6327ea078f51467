"""Audio segmentation — fixed-duration windows with hop over raw payload.

Training pipelines slice long clips into fixed-duration (often
overlapping) segments before featurization/augmentation; the reference's
transform slot is where that runs (record-transform stage, reference:
core/src/main/scala/hydra/core/transport/RecordFactory.scala:25-30).
Spark-first shape: one ``mapInArrow`` stage that needs NO DECODE AT ALL —
segment boundaries are sample arithmetic, and a sample boundary is a byte
boundary in every supported codec (pcm16: 2 B/sample, G.711: 1 B/sample),
so each output segment is a pure ragged byte gather from the input Arrow
buffer. No per-row Python (input_hint mandate), no float math, and the
payload is touched exactly once.

Output rows are emitted in output-size-bounded slices (multiple
RecordBatches per input batch) at SEGMENT granularity — overlap (hop <
seg) amplifies output bytes past the input batch size, and unlike the
resample stage one input row here fans out to many output cells, so the
bound applies to the segment stream, not input rows. int32 Arrow offsets
can therefore never wrap.

Scale posture: segmentation runs BEFORE any shuffle; emitting segments
with their (clip_id, seg_idx) key makes the downstream window/dedup
shuffle move segment rows, never re-derive them. The whole verification
story is SQL-expressible: the DuckDB oracle reproduces every segment's
bytes via hex-string slicing (hex is injective and position-preserving),
so the registry row ``clips_segment`` byte-checks the gather itself.
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
    _ragged_gather,
    _ragged_index,
    _runs,
    arrow_stage,
)

OUT_FIELDS = [
    T.StructField("seg_idx", T.IntegerType(), True),
    T.StructField("start_sample", T.LongType(), True),
    T.StructField("n_samples_seg", T.IntegerType(), True),
    T.StructField("bytes_seg", T.BinaryType(), True),
    T.StructField("segment_error", T.StringType(), True),
]


def _segment(b, seg_ms: int, hop_ms: int, max_slice_bytes: int):
    seg_len = b.sr * seg_ms // 1000
    hop = b.sr * hop_ms // 1000
    b.fail((seg_len < 1) | (hop < 1), "segment or hop shorter than one sample")
    n_seg = np.zeros(b.n, dtype=np.int64)
    full = b.ok & (b.n_samp >= seg_len)
    n_seg[full] = (b.n_samp[full] - seg_len[full]) // hop[full] + 1
    # total output bytes per row
    b.fail(n_seg * seg_len * b.bps > _MAX_ROW, "segmented output exceeds 2 GiB")
    n_seg[~b.ok] = 0

    # flatten to the OUTPUT-row stream: ok rows fan out to n_seg
    # segment rows, error rows contribute exactly one null row
    counts = np.where(b.ok, n_seg, 1)
    if not counts.any():
        return
    row_of = np.repeat(np.arange(b.n, dtype=np.int64), counts)
    seg_of = _ragged_index(np.zeros(b.n, dtype=np.int64), counts).astype(np.int64)
    err_of = ~b.ok[row_of]
    bps = b.bps[row_of]
    start_samp = np.where(err_of, 0, seg_of * hop[row_of])
    seg_bytes = np.where(err_of, 0, seg_len[row_of] * bps)
    src_start = b.off[row_of] + start_samp * bps

    # segment-granular output slices: cumulative bytes bound each
    # emitted RecordBatch so int32 offsets stay safe under overlap
    for p, q in _runs(seg_bytes, max_slice_bytes):
        rows = row_of[p:q]
        e_of = err_of[p:q]
        sb = seg_bytes[p:q]
        yield rows, [
            pa.array(seg_of[p:q].astype(np.int32), type=pa.int32(), mask=e_of),
            pa.array(start_samp[p:q], type=pa.int64(), mask=e_of),
            pa.array(seg_len[rows].astype(np.int32), type=pa.int32(), mask=e_of),
            _binary_column(sb, _ragged_gather(b.data, src_start[p:q], sb), ~e_of),
            b.errors(rows),
        ]


def segment_clips(
    df: DataFrame,
    seg_ms: int = 1000,
    hop_ms: int | None = None,
    max_slice_bytes: int = _MAX_SLICE,
) -> DataFrame:
    """bytes+codec+sr_hz -> one row per fixed-duration segment.

    Per-row segment geometry (all integer arithmetic, so the DuckDB
    oracle reproduces it exactly): seg_len = sr_hz*seg_ms//1000 samples,
    hop = sr_hz*hop_ms//1000 samples, n_seg = (n_samples-seg_len)//hop+1
    full segments (tail shorter than seg_len is dropped; a clip shorter
    than one segment yields zero rows). Output columns: every
    non-``bytes`` input column, plus seg_idx / start_sample /
    n_samples_seg / bytes_seg (same codec as input) / segment_error.

    Error rows (null bytes, unknown codec, odd pcm16 length,
    non-positive sr_hz, sub-sample seg/hop, >2 GiB single-row output)
    yield ONE output row with NULL segment fields and a non-null
    ``segment_error`` — skip-and-count, never exceptions (reference
    KafkaClientAlgebra.scala:380-395).
    """
    if seg_ms <= 0:
        raise ValueError(f"seg_ms must be positive, got {seg_ms}")
    hop_ms = seg_ms if hop_ms is None else hop_ms
    if hop_ms <= 0:
        raise ValueError(f"hop_ms must be positive, got {hop_ms}")
    if not 1 <= max_slice_bytes <= _MAX_ROW:
        # a bound past int32 range would silently re-break the offset
        # guard this parameter exists to enforce
        raise ValueError(f"max_slice_bytes must be in [1, {_MAX_ROW}], got {max_slice_bytes}")
    kernel = partial(_segment, seg_ms=seg_ms, hop_ms=hop_ms, max_slice_bytes=max_slice_bytes)
    return arrow_stage(df, OUT_FIELDS, kernel, sr="check")
