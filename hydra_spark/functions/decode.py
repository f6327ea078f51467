"""Vectorized decode stage — Hydra's record-factory transform as Arrow UDFs.

Hydra transforms payload string -> typed, schema-validated record in
RecordFactory (reference: core/src/main/scala/hydra/core/transport/
RecordFactory.scala:25-30) with per-format dispatch
(ingestors/kafka/src/main/scala/hydra/kafka/producer/
KafkaRecordFactories.scala:21-47) and bad-record skip-and-count
(KafkaClientAlgebra.scala:380-395). Here that stage is ``mapInPandas``
over Arrow batches: codec dispatch per batch, numpy decode per clip,
failures become an ``decode_error`` column (never an exception — the
stream must not die on a bad record).

Two paths:
  * decode_features — the HOT path. Emits per-clip scalar features
    (n_samples, rms_db, peak) and drops the raw bytes so the shuffle that
    follows (window/join) moves ~100 B/row, not ~30 KB/row. At 10^12-clip
    scale, not shuffling audio payloads is the single biggest win.
  * decode_pcm — parity/test path. Emits the full float32 PCM array for
    SNR comparison against the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
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
    ``is_null`` bool[n]. Shared by the decode / resample / spectral stages
    so the buffer-view contract lives in exactly one place."""
    import pyarrow as pa

    bufs = barr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[barr.offset : barr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    lens = np.diff(off)
    is_null = np.zeros(n, dtype=bool)
    if barr.null_count:
        is_null = pa.compute.is_null(barr).to_numpy(zero_copy_only=False)
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


def _head_windows(
    data: np.ndarray,
    off: np.ndarray,
    lens: np.ndarray,
    rows: np.ndarray,
    codec: str,
    n_fft: int,
    chunk: int,
):
    """Yield ``(row_indices, Z)`` chunks where Z is an (m, n_fft)
    float32 matrix holding each clip's decoded HEAD samples (at most
    n_fft, zero-padded) — THE gather/decode/scatter contract shared by
    every fixed-window analysis stage (spectral, mel). One definition
    so the pcm16 even-trim, the /32767 scale and the ragged scatter can
    never diverge between stages (their engine/oracle bit-parity
    depends on this exact op sequence)."""
    bps = 2 if codec == "pcm16" else 1
    head = np.minimum(lens[rows], n_fft * bps)
    if codec == "pcm16":
        head -= head % 2
    start = 0
    while start < len(rows):
        end = min(start + chunk, len(rows))
        r_c = rows[start:end]
        h_c = head[start:end]
        gathered = _ragged_gather(data, off[:-1][r_c], h_c)
        if codec == "pcm16":
            x = gathered.view("<i2").astype(np.float32)
            x /= np.float32(32767.0)
            sl = h_c // 2
        else:
            x = _LUT[codec][gathered]
            sl = h_c
        m = len(r_c)
        Z = np.zeros((m, n_fft), dtype=np.float32)
        # flat ragged scatter: row i's samples land at
        # [i*n_fft, i*n_fft + sl_i)
        _ragged_scatter(Z.ravel(), np.arange(m, dtype=np.int64) * n_fft, sl, x)
        yield r_c, Z
        start = end


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
    import pyarrow as pa

    keep = [f for f in df.schema.fields if f.name != "bytes"]
    feat_fields = (
        FEATURE_FIELDS[:-1] + EXTENDED_FIELDS + FEATURE_FIELDS[-1:]
        if extended
        else FEATURE_FIELDS
    )
    out_schema = T.StructType(keep + feat_fields)
    keep_names = [f.name for f in keep]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            names = rb.schema.names
            if n == 0:  # empty batch: no offsets/data buffers to view
                pa_types = {"integer": pa.int32(), "double": pa.float64(), "string": pa.string()}
                yield pa.RecordBatch.from_arrays(
                    [rb.column(names.index(k)) for k in keep_names]
                    + [pa.array([], type=pa_types[f.dataType.typeName()]) for f in feat_fields],
                    names=keep_names + [f.name for f in feat_fields],
                )
                continue
            barr = rb.column(names.index("bytes"))
            codec = rb.column(names.index("codec")).to_numpy(zero_copy_only=False)

            # binary column -> (offsets, data) numpy views, zero-copy
            off, data, lens, is_null = _binary_views(barr, n)

            ns = np.zeros(n, dtype=np.int32)
            rms = np.full(n, np.nan)
            peak = np.full(n, np.nan)
            if extended:
                zc = np.zeros(n, dtype=np.int32)
                sil = np.zeros(n, dtype=np.int32)

            err = _classify_errors(codec, lens, is_null)

            # Inner chunking: the gather/decode/square temporaries are
            # 6-14 bytes per 1-2 byte sample; processed whole-batch they
            # stream through DRAM and saturate memory bandwidth at high
            # core counts (the decode stage's scaling limiter). Chunks
            # of ~256K samples keep every temporary L2/L3-resident —
            # per-row results are bit-identical (chunks hold whole rows).
            CHUNK = 1 << 18
            for c in ("pcm16", "ulaw", "alaw"):
                mask = (codec == c) & ~is_null & (err == None)  # noqa: E711
                if not mask.any():
                    continue
                rows = np.nonzero(mask)[0]
                seg = lens[rows]
                sl_all = seg // 2 if c == "pcm16" else seg
                ns[rows] = sl_all
                start = 0
                while start < len(rows):
                    end = start + 1
                    tot = int(seg[start])
                    while end < len(rows) and tot + seg[end] <= CHUNK:
                        tot += int(seg[end])
                        end += 1
                    r_c = rows[start:end]
                    s_c = seg[start:end]
                    gathered = _ragged_gather(data, off[:-1][r_c], s_c)
                    if c == "pcm16":
                        x = gathered.view("<i2").astype(np.float32)
                        x /= np.float32(32767.0)  # in-place: one temp, not two
                        sl = s_c // 2
                    else:
                        x = _LUT[c][gathered]
                        sl = s_c
                    nz = sl > 0
                    if nz.any():
                        bounds = np.concatenate(([0], np.cumsum(sl[nz])[:-1]))
                        r, p = _group_features(x, bounds)
                        rms[r_c[nz]] = r
                        peak[r_c[nz]] = p
                        if extended:
                            # crossings: pair i = (x[i], x[i+1]); C[j] =
                            # crossing pairs with index < j, so a segment
                            # [s, e) (pairs s..e-2) holds C[e-1] - C[s]
                            neg = x < np.float32(0.0)
                            C = np.zeros(len(x), dtype=np.int32)
                            if len(x) > 1:
                                np.cumsum(neg[1:] != neg[:-1], out=C[1:])
                            ends = np.append(bounds[1:], len(x))
                            zc[r_c[nz]] = C[ends - 1] - C[bounds]
                            sil[r_c[nz]] = np.add.reduceat(
                                (np.abs(x) <= audio.SILENCE_EPS).astype(np.int32), bounds
                            )
                    start = end

            arrays = [rb.column(names.index(k)) for k in keep_names]
            arrays += [
                pa.array(ns, type=pa.int32()),
                pa.array(rms, type=pa.float64(), from_pandas=True),
                pa.array(peak, type=pa.float64(), from_pandas=True),
            ]
            if extended:
                arrays += [pa.array(zc, type=pa.int32()), pa.array(sil, type=pa.int32())]
            arrays.append(pa.array(err, type=pa.string(), from_pandas=True))
            yield pa.RecordBatch.from_arrays(
                arrays, names=keep_names + [f.name for f in feat_fields]
            )

    return df.mapInArrow(fn, schema=out_schema)


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
