"""Arrow audio-kernel harness and the decode stage — Hydra's record-factory
transform as Arrow UDFs.

Hydra transforms payload string -> typed, schema-validated record in
RecordFactory (reference: core/src/main/scala/hydra/core/transport/
RecordFactory.scala:25-30) with per-format dispatch in one place
(ingestors/kafka/src/main/scala/hydra/kafka/producer/
KafkaRecordFactories.scala:21-47) and bad-record skip-and-count
(KafkaClientAlgebra.scala:380-395). Here every audio stage (decode,
gain, resample, transcode, trim, vad, segment, time mask, mel,
spectral) is a ``mapInArrow`` kernel run by ONE harness in this module:

  * ``arrow_stage`` wraps a kernel as a DataFrame stage; ``map_clips``
    is the same harness for one RecordBatch — a plain function, so a
    Python data source's ``read()`` can call a kernel without Spark.
    Zero-row batches are skipped.
  * ``Clips`` is one batch's preamble, read once and vectorized:
    zero-copy views of the ``bytes`` column, ``codec`` (and ``sr_hz``
    when the stage reads it), the skip-and-count error classification,
    the ok mask and the per-row sample count. A failure becomes an
    error-column row, never an exception — the stream must not die on
    a bad record.
  * ``_decoded`` is THE codec decoder (pcm16 -> float32, G.711 via a
    256-entry LUT) over whole-row chunks; ``_runs`` is the one
    size-bounded row slicer (decode chunks, output slices);
    ``_binary_column`` the one nullable binary output column.

A kernel is a function of a ``Clips`` batch that yields ``(rows,
arrays)``: the output columns, and which input rows they belong to
(``None`` = all, a slice, or a take index).

Two paths here:
  * decode_features — the HOT path. Emits per-clip scalar features
    (n_samples, rms_db, peak) and drops the raw bytes so the shuffle that
    follows (window/join) moves ~100 B/row, not ~30 KB/row. At 10^12-clip
    scale, not shuffling audio payloads is the single biggest win.
  * decode_pcm — parity/test path (``mapInPandas``, per-row
    ``audio.decode``). Emits the full float32 PCM array for SNR
    comparison against the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as T

from hydra_spark import audio

FEATURE_FIELDS = [
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("rms_db", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("decode_error", T.StringType(), True),
]

# opt-in activity stats (decode_features(extended=True)): integer counts,
# exactly comparable against the per-row fixture oracle in SQL. Kept off
# the flagship hot path — the prefix-sum/threshold passes are cheap but
# not free, and the streaming bench measures the default path.
EXTENDED_FIELDS = [
    T.StructField("n_zero_cross", T.IntegerType(), True),
    T.StructField("n_silent", T.IntegerType(), True),
]

# Inner chunking: the gather/decode/square temporaries are 6-14 bytes
# per 1-2 byte sample; processed whole-batch they stream through DRAM
# and saturate memory bandwidth at high core counts (the decode stage's
# scaling limiter). Chunks of ~256K input bytes keep every temporary
# L2/L3-resident — per-row results are bit-identical (chunks hold
# whole rows).
_CHUNK = 1 << 18

# Output bounds of the byte-emitting stages. Upsampling or G.711 ->
# pcm16 amplifies output past input size (ulaw 8k -> pcm16 44.1k is
# ~11x), so an input batch under Arrow's 2 GiB binary-column bound can
# produce an OUTPUT that overflows the int32 offsets: such stages emit
# slices of at most _MAX_SLICE bytes (several RecordBatches per input
# batch), and a single row whose own output exceeds the int32 offset
# range is an error row (no non-large Arrow binary column holds it).
_MAX_SLICE = 1 << 30
_MAX_ROW = (1 << 31) - 1


def _decode_one(buf, codec: str):
    try:
        return audio.decode(buf, codec), None
    except Exception as e:  # skip + count, never fail the stream
        return None, f"{type(e).__name__}: {e}"


# 256-entry decode lookup tables: G.711-style byte -> float32 sample.
# Built from the SAME audio module the oracle uses, so LUT decode is
# bit-identical to per-row decode.
_LUT = {
    "ulaw": audio.decode_ulaw(bytes(range(256))),
    "alaw": audio.decode_alaw(bytes(range(256))),
}


def _binary_views(barr, n: int):
    """Zero-copy numpy views over an Arrow binary array: (off, data, lens,
    is_null). ``off`` is int64[n+1] (widened so downstream arithmetic can't
    wrap), ``data`` the flat uint8 payload buffer, ``lens`` int64[n],
    ``is_null`` bool[n]."""
    bufs = barr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[barr.offset : barr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    lens = np.diff(off)
    is_null = np.zeros(n, dtype=bool)
    if barr.null_count:
        is_null = pc.is_null(barr).to_numpy(zero_copy_only=False)
    return off, data, lens, is_null


def _classify_errors(
    codec: np.ndarray,
    lens: np.ndarray,
    is_null: np.ndarray,
    sr: np.ndarray | None = None,
) -> np.ndarray:
    """Shared skip-and-count error classification (null bytes / unknown
    codec / odd pcm16 length, plus non-positive sr_hz when ``sr`` is
    given) -> object array of error strings (None = ok). Iterates the
    distinct bad codecs via a set, not ``np.unique`` — a batch mixing a
    NULL codec with an unknown string codec must produce error rows, not
    a sort-comparison TypeError that kills the task."""
    n = len(codec)
    err = np.full(n, None, dtype=object)
    err[is_null] = "ValueError: null bytes"
    known = np.isin(codec, list(audio.SUPPORTED_CODECS))
    bad = ~known & ~is_null
    if bad.any():
        for c in set(codec[bad].tolist()):
            err[bad & (codec == c)] = f"ValueError: unsupported codec: {c}"
    pcm_odd = (codec == "pcm16") & ~is_null & (lens % 2 == 1)
    err[pcm_odd] = "ValueError: pcm16 buffer length not a multiple of 2"
    if sr is not None:
        bad_sr = (sr <= 0) & ~is_null & (err == None)  # noqa: E711
        err[bad_sr] = "ValueError: non-positive sr_hz"
    return err


def _filled(rb, name: str) -> np.ndarray:
    """An integer column of ``rb`` as int64, NULL read as 0."""
    return pc.fill_null(rb.column(name), 0).to_numpy(zero_copy_only=False).astype(np.int64)


class Clips:
    """One non-empty Arrow batch of clips, read once for every kernel.

    ``off``/``data``/``lens``/``is_null`` view the ``bytes`` column
    (``_binary_views``); ``codec`` is an object array (None for NULL);
    ``sr`` is ``sr_hz`` as int64 with NULL read as 0, present when the
    stage reads it (``sr="read"``) — with ``sr="check"`` a non-positive
    rate is also an error row. ``err`` holds each row's error string
    (None = ok), ``ok`` the rows without one, ``bps`` the bytes per
    sample and ``n_samp`` the sample count of ok rows (0 elsewhere).
    """

    def __init__(self, rb: pa.RecordBatch, sr: str | None = None):
        self.rb = rb
        self.n = rb.num_rows
        self.off, self.data, self.lens, self.is_null = _binary_views(rb.column("bytes"), self.n)
        self.codec = rb.column("codec").to_numpy(zero_copy_only=False)
        self.sr = None if sr is None else _filled(rb, "sr_hz")
        self.err = _classify_errors(
            self.codec, self.lens, self.is_null, self.sr if sr == "check" else None
        )
        self.ok = self.err == None  # noqa: E711
        self.bps = np.where(self.codec == "pcm16", 2, 1)
        self.n_samp = np.where(self.ok, self.lens // self.bps, 0)

    def fail(self, mask: np.ndarray, reason: str) -> None:
        """Make the ok rows of ``mask`` error rows (a kernel's own
        checks, after the shared ones)."""
        mask = mask & self.ok
        self.err[mask] = f"ValueError: {reason}"
        self.ok = self.ok & ~mask
        self.n_samp[mask] = 0

    def ok_in(self, a: int, b: int) -> np.ndarray:
        """The ok mask restricted to rows [a, b)."""
        sel = np.zeros(self.n, dtype=bool)
        sel[a:b] = self.ok[a:b]
        return sel

    def masked(self, values: np.ndarray, rows=slice(None), dtype=pa.int32()) -> pa.Array:
        """Output column of ``values[rows]``, NULL on error rows."""
        return pa.array(
            values[rows].astype(dtype.to_pandas_dtype()), type=dtype, mask=~self.ok[rows]
        )

    def errors(self, rows=slice(None)) -> pa.Array:
        """The error-string output column."""
        return pa.array(self.err[rows], type=pa.string(), from_pandas=True)


def map_clips(
    rb: pa.RecordBatch, kernel, out_names: list[str], sr: str | None = None, drop=("bytes",)
) -> Iterator[pa.RecordBatch]:
    """Run ``kernel`` over one RecordBatch: every input column not in
    ``drop``, taken for the rows the kernel names, followed by its
    ``out_names`` columns. Yields nothing for a zero-row batch."""
    if rb.num_rows == 0:  # no offsets/data buffers to view
        return
    keep = [k for k in rb.schema.names if k not in drop]
    names = keep + out_names
    for rows, arrays in kernel(Clips(rb, sr)):
        cols = [rb.column(k) for k in keep]
        if isinstance(rows, slice):
            cols = [c.slice(rows.start, rows.stop - rows.start) for c in cols]
        elif rows is not None:
            take = pa.array(rows, type=pa.int64())
            cols = [pc.take(c, take) for c in cols]
        yield pa.RecordBatch.from_arrays(cols + arrays, names=names)


def arrow_stage(
    df: DataFrame, out_fields: list, kernel, sr: str | None = None, drop=("bytes",)
) -> DataFrame:
    """``df.mapInArrow`` of ``map_clips``: the input columns not in
    ``drop``, then ``out_fields``."""
    keep = [f for f in df.schema.fields if f.name not in drop]
    out_names = [f.name for f in out_fields]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            yield from map_clips(rb, kernel, out_names, sr, drop)

    return df.mapInArrow(fn, schema=T.StructType(keep + out_fields))


def _runs(sizes: np.ndarray, limit: int):
    """Split rows 0..len(sizes) into consecutive runs [a, b) whose
    ``sizes`` sum to at most ``limit``; a row larger than ``limit`` runs
    alone. The one slicer behind decode chunks (input bytes) and
    output slices (output bytes)."""
    ends = np.cumsum(sizes)
    a = 0
    while a < len(ends):
        base = ends[a - 1] if a else 0
        b = max(int(np.searchsorted(ends, base + limit, side="right")), a + 1)
        yield a, b
        a = b


def _starts(sizes: np.ndarray) -> np.ndarray:
    """Start offset of each ragged segment: exclusive prefix sum, int64."""
    s = np.zeros(len(sizes), dtype=np.int64)
    np.cumsum(sizes[:-1], out=s[1:])
    return s


def _binary_column(sizes: np.ndarray, payload: np.ndarray, valid: np.ndarray) -> pa.Array:
    """Arrow binary column over one flat uint8 payload: row i holds the
    next ``sizes[i]`` bytes, NULL where not ``valid``. Zero-copy:
    py_buffer wraps the ndarray via the buffer protocol and keeps it
    alive — no .tobytes() copy of the payload."""
    m = len(sizes)
    offsets = np.zeros(m + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(sizes).astype(np.int32)
    bufs = [None, pa.py_buffer(offsets), pa.py_buffer(payload)]
    nulls = m - int(np.count_nonzero(valid))
    if nulls:
        bufs[0] = pa.py_buffer(np.packbits(valid, bitorder="little"))
    return pa.Array.from_buffers(pa.binary(), m, bufs, null_count=nulls)


def _ragged_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat index array covering [starts[i], starts[i]+lens[i]) per segment
    — the shared core of ragged gather (decode) and ragged scatter
    (resample's per-row output placement).

    The index array is the dominant memory traffic of the decode stage
    (it dwarfs the 1-2 byte samples it gathers), so it is built in
    int32 (Arrow batches are <2 GiB by construction) with a cumsum
    trick instead of repeat+arange — ~3x less index-buffer traffic,
    which is what decode throughput is bound by at high core counts."""
    nz = lens > 0
    if not nz.all():  # zero-length segments contribute nothing but would
        starts, lens = starts[nz], lens[nz]  # break the head-offset trick
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int32)
    # idx = ones; at each segment head write (start_i - prev_end_{i-1} + 1);
    # cumsum then yields consecutive positions within each segment.
    idx = np.ones(total, dtype=np.int32)
    heads = np.empty(len(lens), dtype=np.int64)
    heads[0] = 0
    np.cumsum(lens[:-1], out=heads[1:])
    prev_end = starts + lens  # end of each segment
    idx[0] = starts[0]
    idx[heads[1:]] = (starts[1:] - prev_end[:-1] + 1).astype(np.int32)
    np.cumsum(idx, out=idx, dtype=np.int32)
    return idx


# below this average segment length the per-slice call overhead beats
# the index-buffer traffic; above it, memcpy wins (measured crossover
# ~48-64 B on this host; ratio grows to >70x at clip-sized segments)
_SLICE_GATHER_MIN_AVG = 64


def _ragged_gather(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate data[starts[i]:starts[i]+lens[i]].

    Two regimes, bit-identical output:
    - long segments (avg >= _SLICE_GATHER_MIN_AVG): per-segment slice
      views + one np.concatenate — pure memcpy, ~2 B of memory traffic
      per gathered byte. The Python loop is O(rows), not O(bytes), and
      rows per Arrow chunk are bounded (~hundreds), so this is NOT the
      per-row-Python decode path the input_hint forbids — the samples
      are still touched only by vectorized C.
    - short segments: one vectorized fancy-index pass. The int32 index
      array costs ~24 B of DRAM traffic per gathered byte (build +
      cumsum + gather read), which only amortizes when call overhead
      would dominate. This is the decode stage's bandwidth limiter at
      high core counts, hence the split.
    """
    n_seg = len(lens)
    if n_seg and int(lens.sum()) >= _SLICE_GATHER_MIN_AVG * n_seg:
        return np.concatenate(
            [data[s : s + l] for s, l in zip(starts.tolist(), lens.tolist())]
        )
    idx = _ragged_index(starts, lens)
    if len(idx) == 0:
        return np.empty(0, dtype=data.dtype)
    return data[idx]


def _ragged_scatter(dst: np.ndarray, starts: np.ndarray, lens: np.ndarray, src) -> None:
    """dst[starts[i] : starts[i]+lens[i]] = next lens[i] items of ``src``
    (or a broadcastable scalar). Same two regimes as _ragged_gather:
    per-segment slice assignment (memcpy) for long segments, one
    fancy-index scatter for short ones — bit-identical results."""
    n_seg = len(lens)
    if n_seg and int(lens.sum()) >= _SLICE_GATHER_MIN_AVG * n_seg:
        scalar = np.ndim(src) == 0
        pos = 0
        for s, l in zip(starts.tolist(), lens.tolist()):
            if scalar:
                dst[s : s + l] = src
            else:
                dst[s : s + l] = src[pos : pos + l]
                pos += l
        return
    idx = _ragged_index(starts, lens)
    if len(idx):
        dst[idx] = src


def _decoded(
    b: Clips,
    sel: np.ndarray,
    nbytes: np.ndarray | None = None,
    sizes: np.ndarray | None = None,
    limit: int = _CHUNK,
):
    """THE codec decoder: decode the rows of ``sel``, codec by codec, in
    runs of whole rows whose ``sizes`` (default: their byte counts) sum
    to at most ``limit`` (``_runs``). Yields ``(rows, samples_per_row,
    x)``, x the float32 samples of ``rows`` back to back. Row i
    contributes its first ``nbytes[i]`` bytes (default: all of them)."""
    nbytes = b.lens if nbytes is None else nbytes
    sizes = nbytes if sizes is None else sizes
    for c in audio.SUPPORTED_CODECS:
        rows_c = np.flatnonzero(sel & (b.codec == c))
        for i, j in _runs(sizes[rows_c], limit):
            rows = rows_c[i:j]
            raw = _ragged_gather(b.data, b.off[rows], nbytes[rows])
            if c == "pcm16":
                x = raw.view("<i2").astype(np.float32)
                x /= np.float32(32767.0)  # in-place: one temp, not two
                yield rows, nbytes[rows] // 2, x
            else:
                yield rows, nbytes[rows], _LUT[c][raw]


# rows per batched FFT: 512 x (N_FFT/2+1) complex128 ~= 4 MB of spectrum
# plus the 2 MB float32 window matrix — L3-resident like the decode chunks
_FFT_ROWS = 512


def _head_windows(b: Clips, sel: np.ndarray, n_fft: int):
    """Yield ``(rows, Z)`` chunks of at most ``_FFT_ROWS`` rows of one
    codec, Z an (m, n_fft) float32 matrix holding each clip's decoded HEAD
    samples (at most n_fft, zero-padded) — THE gather/decode/scatter
    contract shared by every fixed-window analysis stage (spectral,
    mel). One definition so the pcm16 even-trim, the /32767 scale and
    the ragged scatter can never diverge between stages (their
    engine/oracle bit-parity depends on this exact op sequence)."""
    head = np.minimum(b.lens, n_fft * b.bps)
    head -= head % b.bps  # whole pcm16 samples only
    for rows, sl, x in _decoded(b, sel, head, np.ones(b.n, dtype=np.int64), _FFT_ROWS):
        m = len(rows)
        Z = np.zeros((m, n_fft), dtype=np.float32)
        # flat ragged scatter: row i's samples land at
        # [i*n_fft, i*n_fft + sl_i)
        _ragged_scatter(Z.ravel(), np.arange(m, dtype=np.int64) * n_fft, sl, x)
        yield rows, Z


def _group_features(x: np.ndarray, bounds: np.ndarray):
    """(rms_db, peak) per segment of float32 samples. ``bounds`` are the
    segment start positions (every segment non-empty).

    Memory-traffic notes: peak = max(max, -min) via two reduceats over
    x itself, dropping the |x| temp. Squares stay float64 — an f32
    square + f64 accumulate was measured within noise on throughput but
    costs 3.5e-9 rms_db error vs the per-row f64 oracle (the parity
    test pins 1e-9); exactness wins when the speed-up doesn't show."""
    sq = np.square(x, dtype=np.float64)
    sums = np.add.reduceat(sq, bounds)
    lens = np.diff(np.append(bounds, len(x)))
    p = sums / lens
    with np.errstate(divide="ignore"):
        rms = 10.0 * np.log10(p)  # p == 0 -> -inf (silence)
    peak = np.maximum(
        np.maximum.reduceat(x, bounds), -np.minimum.reduceat(x, bounds)
    ).astype(np.float64)
    return rms, peak


def features(b: Clips, extended: bool = False):
    """The decode kernel: per-clip n_samples / rms_db / peak (plus
    n_zero_cross / n_silent when ``extended``) / decode_error. Error
    rows carry n_samples 0 (0 also for the extended counts) and NULL
    rms_db / peak."""
    n = b.n
    rms = np.full(n, np.nan)
    peak = np.full(n, np.nan)
    if extended:
        zc = np.zeros(n, dtype=np.int32)
        sil = np.zeros(n, dtype=np.int32)
    for rows, sl, x in _decoded(b, b.ok):
        nz = sl > 0
        if not nz.any():
            continue
        bounds = np.concatenate(([0], np.cumsum(sl[nz])[:-1]))
        r = rows[nz]
        rms[r], peak[r] = _group_features(x, bounds)
        if extended:
            # crossings: pair i = (x[i], x[i+1]); C[j] = crossing pairs
            # with index < j, so a segment [s, e) (pairs s..e-2) holds
            # C[e-1] - C[s]
            neg = x < np.float32(0.0)
            C = np.zeros(len(x), dtype=np.int32)
            if len(x) > 1:
                np.cumsum(neg[1:] != neg[:-1], out=C[1:])
            ends = np.append(bounds[1:], len(x))
            zc[r] = C[ends - 1] - C[bounds]
            sil[r] = np.add.reduceat(
                (np.abs(x) <= audio.SILENCE_EPS).astype(np.int32), bounds
            )
    arrays = [
        pa.array(b.n_samp.astype(np.int32), type=pa.int32()),
        pa.array(rms, type=pa.float64(), from_pandas=True),
        pa.array(peak, type=pa.float64(), from_pandas=True),
    ]
    if extended:
        arrays += [pa.array(zc, type=pa.int32()), pa.array(sil, type=pa.int32())]
    yield None, arrays + [b.errors()]


def decode_features(df: DataFrame, extended: bool = False) -> DataFrame:
    """bytes+codec -> scalar features; bytes column dropped after decode.

    ``extended=True`` additionally emits per-clip activity stats
    (n_zero_cross, n_silent — see audio.SILENCE_EPS), computed in the
    same chunked vectorized pass: zero crossings via one prefix-sum over
    sign-change pairs indexed at segment bounds, silent counts via
    ``add.reduceat`` over the threshold mask. Both are 0 (not NULL) on
    error rows — meaningful only where ``decode_error`` is null.

    THE hot path, so it is ``mapInArrow`` + zero-copy numpy views over
    the Arrow buffers: the payload bytes of a whole batch stay in ONE
    contiguous buffer (no per-row Python bytes objects — measured ~10x
    less allocator/page-fault pressure than the pandas path), codec
    dispatch is a boolean mask per batch, G.711 decode is a 256-entry
    LUT gather, and per-clip rms/peak reduce via ``np.add.reduceat``
    over segment boundaries. No per-row Python anywhere
    (input_hint mandate). Bad rows (unknown codec, null payload, odd
    pcm16 length) become ``decode_error`` rows — Hydra skip-and-count
    semantics (KafkaClientAlgebra.scala:380-395) — never exceptions.
    """
    fields = (
        FEATURE_FIELDS[:-1] + EXTENDED_FIELDS + FEATURE_FIELDS[-1:]
        if extended
        else FEATURE_FIELDS
    )
    return arrow_stage(df, fields, partial(features, extended=extended))


def decode_pcm(df: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """Parity path: emit full float32 PCM (array<float>) + decode_error."""
    keep_cols = keep_cols or ["clip_id", "sr_hz", "dur_ms", "codec"]
    out_schema = T.StructType(
        [df.schema[c] for c in keep_cols]
        + [
            T.StructField("pcm", T.ArrayType(T.FloatType()), True),
            T.StructField("decode_error", T.StringType(), True),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pcms, errs = [], []
            for buf, codec in zip(pdf["bytes"], pdf["codec"]):
                x, e = _decode_one(buf, codec)
                pcms.append(None if x is None else x)
                errs.append(e)
            out = pdf[keep_cols].copy()
            out["pcm"] = pcms
            out["decode_error"] = pd.Series(errs, dtype=object)
            yield out

    return df.mapInPandas(fn, schema=out_schema)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) after decode — Hydra skip-and-count semantics."""
    return (
        df.where(F.col("decode_error").isNull()),
        df.where(F.col("decode_error").isNotNull()),
    )
