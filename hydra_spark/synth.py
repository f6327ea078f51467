"""Deterministic synthesis of the registry's clips table and its oracle
sidecars (FIXTURES.md §1, §3). The flagship's two streams come from
``perfbench/gen.py`` instead (FIXTURES.md §2).

Input shape fixed by BASELINE.json ``input_hint``:
  (clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
   transcript string)
plus engine-side lineage columns (ingest_partition, ingest_offset,
event_time) — the Spark analog of Hydra's per-partition offset lineage
(reference: ingestors/kafka/src/main/scala/hydra/kafka/algebras/
KafkaClientAlgebra.scala:164-166 ``type OffsetInfo = (Partition, Offset)``).

Everything is seeded; no wall clock anywhere (Hydra's
``System.currentTimeMillis()`` in KafkaRecord.scala:11 is exactly the
replay-nondeterminism trap we avoid). Event time = EPOCH_2025_01_01 +
per-ingest-partition cumulative sum of prior dur_ms.

Waveform generation (the expensive part) runs distributed via
``mapInPandas`` over Arrow batches — generation scales with cores like
the engine itself.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, types as T

from hydra_spark import audio

EPOCH_2025 = np.datetime64("2025-01-01T00:00:00", "ms")
DEFAULT_SEED = 42
N_INGEST_PARTITIONS = 32

SR_CHOICES = np.array([8000, 16000, 22050, 44100])
SR_WEIGHTS = np.array([0.5, 0.3, 0.15, 0.05])
CODEC_CHOICES = np.array(["pcm16", "ulaw", "alaw"])
CODEC_WEIGHTS = np.array([0.8, 0.15, 0.05])  # dominant-codec skew, intentional

_WORDS = (
    "the quick brown fox jumps over a lazy dog while seven wizards "
    "pack my box with five dozen liquor jugs and sphinx of black quartz "
    "judge my vow amazingly few discotheques provide jukeboxes"
).split()

# FIXTURES.md §4 byte-parity normalization cases, injected every 7th row
_NORM_CASES = [
    "  hello world  ",
    "a   b",
    "HeLLo",
    "café",  # NFD -> NFC "café"
    "a\r\n\tb",
    "don't stop.",
    "MiXeD   CaSe\twith\r\nbreaks ",
]

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), False),
        T.StructField("dur_ms", T.IntegerType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("transcript", T.StringType(), True),
        T.StructField("ingest_partition", T.IntegerType(), False),
        T.StructField("ingest_offset", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)


def synth_metadata(
    n: int,
    seed: int = DEFAULT_SEED,
    n_partitions: int = N_INGEST_PARTITIONS,
) -> pd.DataFrame:
    """All scalar columns for n clips, vectorized on the driver.

    Waveform bytes are NOT here (see write_clips) — metadata for 1M rows
    is ~100 MB; bytes would be ~20 GB and belong on the executors.
    """
    rng = np.random.default_rng(seed)
    i = np.arange(n, dtype=np.int64)
    sr = SR_CHOICES[rng.choice(len(SR_CHOICES), size=n, p=SR_WEIGHTS)].astype(np.int32)
    dur = rng.integers(200, 3000, size=n).astype(np.int32)
    codec = CODEC_CHOICES[rng.choice(len(CODEC_CHOICES), size=n, p=CODEC_WEIGHTS)]

    # transcripts: 3-8 template words; every 7th row a normalization case;
    # ~1% empty, ~0.5% NULL (tombstone)
    word_idx = rng.integers(0, len(_WORDS), size=(n, 8))
    n_words = rng.integers(3, 9, size=n)
    u = rng.random(n)
    transcripts: list[str | None] = []
    for k in range(n):
        if u[k] < 0.005:
            transcripts.append(None)
        elif u[k] < 0.015:
            transcripts.append("")
        elif k % 7 == 3:
            transcripts.append(_NORM_CASES[(k // 7) % len(_NORM_CASES)])
        else:
            transcripts.append(" ".join(_WORDS[j] for j in word_idx[k, : n_words[k]]))

    part = (i % n_partitions).astype(np.int32)
    # per-partition 0-based offsets and event-time cumsum of PRIOR dur_ms
    offset = np.zeros(n, dtype=np.int64)
    ts_ms = np.zeros(n, dtype=np.int64)
    for p in range(n_partitions):
        mask = part == p
        offset[mask] = np.arange(mask.sum(), dtype=np.int64)
        d = dur[mask].astype(np.int64)
        ts_ms[mask] = np.concatenate(([0], np.cumsum(d)[:-1]))

    return pd.DataFrame(
        {
            "_i": i,
            "clip_id": [f"clip-{k:012d}" for k in i],
            "sr_hz": sr,
            "dur_ms": dur,
            "codec": codec,
            "transcript": pd.Series(transcripts, dtype=object),
            "ingest_partition": part,
            "ingest_offset": offset,
            "event_time": EPOCH_2025 + ts_ms.astype("timedelta64[ms]"),
        }
    )


def _encode_batches(seed: int, truncate_pct: float = 0.0):
    """mapInPandas fn: add codec-encoded waveform bytes per row."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_bytes = []
            codecs = pdf["codec"].tolist()
            for row_pos, (i, sr, dur, codec) in enumerate(
                zip(pdf["_i"], pdf["sr_hz"], pdf["dur_ms"], pdf["codec"])
            ):
                x = audio.waveform(int(i), int(sr), int(dur), seed)
                buf = audio.encode(x, str(codec))
                if truncate_pct > 0.0 and (int(i) % 1000) < truncate_pct * 1000:
                    # undecodable record for ANY codec (Hydra bad-record
                    # skip semantics, KafkaClientAlgebra.scala:380-395);
                    # deterministic: oracle knows i %% 1000 < pct*1000
                    codecs[row_pos] = "corrupt"
                out_bytes.append(buf)
            pdf = pdf.assign(bytes=out_bytes, codec=codecs)
            yield pdf[[f.name for f in CLIPS_SCHEMA.fields]]

    return fn


def write_clips(
    spark: SparkSession,
    out_dir: str,
    n: int,
    seed: int = DEFAULT_SEED,
    n_partitions: int = N_INGEST_PARTITIONS,
    files: int | None = None,
    truncate_pct: float = 0.0,
) -> str:
    """Generate the clips table to ``out_dir`` (parquet). Returns path."""
    meta = synth_metadata(n, seed, n_partitions)
    files = files or max(8, min(256, n // 4000))
    meta_schema = T.StructType([T.StructField("_i", T.LongType(), False), *CLIPS_SCHEMA.fields[:1], *CLIPS_SCHEMA.fields[2:]])
    sdf = spark.createDataFrame(meta, schema=meta_schema)
    # spread rows across `files` tasks by clip index (waveform gen is the
    # hot loop — parallelism here = generation throughput)
    sdf = sdf.repartition(files, "_i")
    out = sdf.mapInPandas(_encode_batches(seed, truncate_pct), schema=CLIPS_SCHEMA)
    out.write.mode("overwrite").parquet(out_dir)
    return out_dir


def write_clip_features(
    spark: SparkSession, clips_dir: str, out_dir: str
) -> str:
    """Per-clip EXPECTED decode features (n_samples, rms_db, peak,
    n_zero_cross, n_silent) for
    the fixture oracle, computed by the per-row float64 numpy path —
    audio.decode per clip, full-precision stats — NOT the engine's
    vectorized LUT/reduceat hot path. Written next to the clips parquet
    so DuckDB can join expected features and verify the engine's
    decode + window rollup end-to-end (the driver-oracle analog of the
    pytest per-row parity test)."""

    cols = [
        "clip_id", "n_samples", "rms_db", "peak", "n_zero_cross", "n_silent",
        "centroid_hz", "dominant_hz", "n_lead_silent", "n_trail_silent",
    ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, buf, codec, sr in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                try:
                    x = audio.decode(None if buf is None else bytes(buf), str(codec))
                except Exception:
                    rows.append((cid, None, None, None, None, None, None, None, None, None))
                    continue
                n = len(x)
                zc, sil = audio.zero_crossings(x), audio.silent_samples(x)
                cen, dom = audio.spectral_features(x, int(sr))
                lead, trail = audio.lead_trail_silent(x)
                if n == 0:
                    rows.append((cid, 0, None, None, zc, sil, cen, dom, lead, trail))
                    continue
                p = float(np.sum(np.square(x, dtype=np.float64))) / n
                rms = 10.0 * np.log10(p) if p > 0 else float("-inf")
                rows.append(
                    (cid, n, rms, float(np.max(np.abs(x))), zc, sil, cen, dom, lead, trail)
                )
            yield pd.DataFrame(rows, columns=cols)

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("n_samples", T.IntegerType(), True),
            T.StructField("rms_db", T.DoubleType(), True),
            T.StructField("peak", T.DoubleType(), True),
            T.StructField("n_zero_cross", T.IntegerType(), True),
            T.StructField("n_silent", T.IntegerType(), True),
            T.StructField("centroid_hz", T.DoubleType(), True),
            T.StructField("dominant_hz", T.DoubleType(), True),
            T.StructField("n_lead_silent", T.IntegerType(), True),
            T.StructField("n_trail_silent", T.IntegerType(), True),
        ]
    )
    clips = spark.read.parquet(clips_dir).select("clip_id", "bytes", "codec", "sr_hz")
    clips.mapInPandas(fn, schema=schema).write.mode("overwrite").parquet(out_dir)
    return out_dir


def write_clip_vad(
    spark: SparkSession, clips_dir: str, out_dir: str, frame_ms: int = 20
) -> str:
    """Per-clip EXPECTED VAD counts for the fixture oracle, computed by
    the naive per-row frame loop (functions/vad.py ``vad_clip``) — NOT
    the engine's reshaped axis-max kernel. Outputs are integers over
    the identical float32 samples and eps, so engine/fixture equality
    is exact, no rounding."""
    from hydra_spark.functions.vad import vad_clip

    cols = ["clip_id", "n_frames", "n_speech_frames", "n_segments", "longest_run"]

    def fn(batches):
        for pdf in batches:
            rows = []
            for cid, buf, codec, sr in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                try:
                    if int(sr) <= 0:
                        raise ValueError("non-positive sr_hz")
                    rows.append(
                        (cid,)
                        + vad_clip(
                            None if buf is None else bytes(buf),
                            str(codec),
                            int(sr),
                            frame_ms,
                        )
                    )
                except Exception:
                    rows.append((cid, None, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    schema = T.StructType(
        [T.StructField("clip_id", T.StringType(), False)]
        + [T.StructField(c, T.IntegerType(), True) for c in cols[1:]]
    )
    clips = spark.read.parquet(clips_dir).select("clip_id", "bytes", "codec", "sr_hz")
    clips.mapInPandas(fn, schema=schema).write.mode("overwrite").parquet(out_dir)
    return out_dir


def write_clip_mel(
    spark: SparkSession, clips_dir: str, out_dir: str
) -> str:
    """Per-clip EXPECTED mel band energies for the fixture oracle,
    computed by the per-row reference ``audio.mel_energies`` (one rfft
    and one mat-vec per clip) — NOT the engine's chunk-batched 2D-fft +
    GEMM kernel (functions/mel.py). One output row per (clip_id, band);
    error / empty / sr<=0 clips emit a single row with NULL band so the
    oracle's NOT NULL filter excludes them symmetrically."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, buf, codec, sr in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                try:
                    if int(sr) <= 0:
                        raise ValueError("non-positive sr_hz")
                    x = audio.decode(None if buf is None else bytes(buf), str(codec))
                    db = audio.mel_energies(x, int(sr))
                except Exception:
                    db = None
                if db is None:
                    rows.append((cid, None, None))
                    continue
                rows.extend((cid, b, float(db[b])) for b in range(len(db)))
            yield pd.DataFrame(rows, columns=["clip_id", "band", "mel_db"])

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("band", T.IntegerType(), True),
            T.StructField("mel_db", T.DoubleType(), True),
        ]
    )
    clips = spark.read.parquet(clips_dir).select("clip_id", "bytes", "codec", "sr_hz")
    clips.mapInPandas(fn, schema=schema).write.mode("overwrite").parquet(out_dir)
    return out_dir


def write_clip_lufs(
    spark: SparkSession, clips_dir: str, out_dir: str
) -> str:
    """Per-clip EXPECTED BS.1770 integrated loudness for the fixture
    oracle — the shared definition ``audio.lufs_integrated`` applied
    per row (the loudness MATH itself is pinned independently of this
    sidecar in tests/test_loudness.py: spec coefficient table, IIR
    parity, sine reference level). Error / sr<=0 rows emit NULL
    n_blocks so the oracle excludes them symmetrically; short/silent
    clips keep n_blocks and a NULL lufs."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, buf, codec, sr in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                try:
                    if int(sr) <= 0:
                        raise ValueError("non-positive sr_hz")
                    x = audio.decode(None if buf is None else bytes(buf), str(codec))
                    # inside the try: low rates raise (LUFS_MIN_SR floor)
                    # and must mark error rows like the engine stage does
                    l, nb, ng = audio.lufs_integrated(x, int(sr))
                except Exception:
                    rows.append((cid, None, None, None))
                    continue
                rows.append((cid, l, nb, ng))
            yield pd.DataFrame(rows, columns=["clip_id", "lufs", "n_blocks", "n_gated"])

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("lufs", T.DoubleType(), True),
            T.StructField("n_blocks", T.IntegerType(), True),
            T.StructField("n_gated", T.IntegerType(), True),
        ]
    )
    clips = spark.read.parquet(clips_dir).select("clip_id", "bytes", "codec", "sr_hz")
    clips.mapInPandas(fn, schema=schema).write.mode("overwrite").parquet(out_dir)
    return out_dir


def ensure_clips(
    spark: SparkSession,
    root: str,
    n: int,
    seed: int = DEFAULT_SEED,
) -> str:
    """Idempotent: build the clips table under root unless a finished
    one (with _SUCCESS) is there; the overwrite replaces a crashed
    write's partial output. Returns its path."""
    path = os.path.join(root, f"clips_n{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_clips(spark, path, n, seed)
    return path
