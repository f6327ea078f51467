"""Multimodal columns — opaque binary payloads + typed metadata, with a
pure-numpy pixel path.

Image/video payloads are opaque `binary` columns; decode / feature-extract
/ resize / frame-sample run as Arrow-batched ``mapInPandas`` stages. The
container formats are public, dependency-free ones a numpy-only
environment can decode for real:

- **PPM (P6)** — `P6\\n{w} {h}\\n255\\n` + w*h*3 raw RGB bytes
  (netpbm, public spec). Decoded with frombuffer+reshape; features,
  resize and pixel checksums are real pixel math.
- **RV01 raw video** — fixed-width 21-byte ASCII header
  `RV01 %04d %04d %06d\\n` (w, h, n_frames) + n_frames contiguous
  w*h*3 RGB frames. The fixed-width header lets frame-sampling parse it
  JVM-side (substring+decode+split — no Python in that plan).

A container with no codec here (JPEG/MP4) would slot in exactly where
decode_ppm is called. Unknown containers become a ``decode_error`` row,
not an exception — at 10^12 rows a bad record is quarantined, never a
job kill (same convention as functions/decode.py).

Reference parity: the reference pipelines treat payloads as opaque
Avro ``bytes`` + metadata through ingest/transform/transport
(ps-dev/hydra core/src/main/scala/hydra/core/ingest/HydraRequest.scala);
the decode-to-features stage is the driver brief's 2.8b mandate.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_FEAT_DIM = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        # exact int64 per-channel pixel sums — the SQL-oracle-checkable
        # projection of the decode: float features lose bits to
        # float32, channel sums of uint8 pixels don't
        T.StructField("r_sum", T.LongType(), True),
        T.StructField("g_sum", T.LongType(), True),
        T.StructField("b_sum", T.LongType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

# ------------------------------------------------------------ codecs

_VID_HEADER_LEN = 22  # b"RV01 %04d %04d %06d\n" — fixed width by design


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM (P6)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (h, w, 3) uint8. Raises ValueError on anything
    that is not a well-formed maxval-255 P6 — callers map that to a
    decode_error row."""
    if not payload.startswith(b"P6\n"):
        raise ValueError("unsupported container")
    # header = 3 ASCII tokens after the magic: width, height, maxval.
    # Search bounded to the first 32 bytes — dims are <=5 digits each, so
    # a well-formed header always fits; a garbage payload must not cost
    # an O(n) newline scan before it is rejected.
    try:
        nl2 = payload.index(b"\n", 3, 32)
        nl3 = payload.index(b"\n", nl2 + 1, nl2 + 6)
    except ValueError:
        raise ValueError("bad PPM header") from None
    dims = payload[3:nl2].split()
    if len(dims) != 2 or payload[nl2 + 1 : nl3] != b"255":
        raise ValueError("bad PPM header")
    w, h = int(dims[0]), int(dims[1])
    if w <= 0 or h <= 0:
        # netpbm dims are positive integers; a 0x0 payload would decode
        # to an empty array whose feature/resize math divides by the
        # height — reject here so it quarantines as a decode_error row
        raise ValueError(f"bad PPM dims {w}x{h}")
    body = np.frombuffer(payload, dtype=np.uint8, offset=nl3 + 1)
    if body.size != w * h * 3:
        raise ValueError(f"truncated PPM: {body.size} != {w * h * 3}")
    return body.reshape(h, w, 3)


def encode_video(frames: np.ndarray) -> bytes:
    """(n_frames, h, w, 3) uint8 -> RV01 container."""
    nf, h, w, c = frames.shape
    assert c == 3 and frames.dtype == np.uint8
    return b"RV01 %04d %04d %06d\n" % (w, h, nf) + frames.tobytes()


def decode_video(payload: bytes) -> np.ndarray:
    """RV01 -> (n_frames, h, w, 3) uint8."""
    if not payload.startswith(b"RV01 "):
        raise ValueError("unsupported container")
    head = payload[:_VID_HEADER_LEN].decode("ascii")
    w, h, nf = (int(t) for t in head[5:].split())
    if w <= 0 or h <= 0 or nf < 0:
        # zero-area frames make per-frame stats (min/max of an empty
        # slice) raise mid-stage; nf == 0 (a clip with no frames) is fine
        raise ValueError(f"bad RV01 dims {w}x{h}x{nf}")
    body = np.frombuffer(payload, dtype=np.uint8, offset=_VID_HEADER_LEN)
    if body.size != nf * h * w * 3:
        raise ValueError(f"truncated RV01: {body.size} != {nf * h * w * 3}")
    return body.reshape(nf, h, w, 3)


def _pixel_features(arr: np.ndarray) -> np.ndarray:
    """Real 16-dim feature vector from (h, w, 3) uint8 — all float64
    math on exact-integer pixel values, cast to float32 at the end:
    [r,g,b mean] [r,g,b min] [r,g,b max] [r,g,b std]
    [luma_mean] [edge energy = mean |horizontal diff| of luma]
    [aspect w/h] [n_pixels]."""
    f = arr.astype(np.float64)
    luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    edge = float(np.abs(np.diff(luma, axis=1)).mean()) if arr.shape[1] > 1 else 0.0
    h, w = arr.shape[:2]
    out = np.concatenate(
        [
            f.mean(axis=(0, 1)),
            f.min(axis=(0, 1)),
            f.max(axis=(0, 1)),
            f.std(axis=(0, 1)),
            [luma.mean(), edge, w / h, w * h],
        ]
    )
    return out.astype(np.float32)


# ------------------------------------------------------- feature stage

def extract_features(df: DataFrame) -> DataFrame:
    """payload binary -> (dims, feature vector) over Arrow batches.

    PPM payloads are decoded with numpy and produce true dims + pixel
    statistics; unknown containers become decode_error rows
    (quarantine, not job kill)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mimes = pdf["media_id"].values, pdf["mime"].values
            n = len(pdf)
            n_bytes = [None] * n
            width, height = [None] * n, [None] * n
            feats, errs = [None] * n, [None] * n
            sums = [[None] * n, [None] * n, [None] * n]
            # one column-wise pass; the per-payload numpy PPM decode is
            # the only per-row work
            for i, p in enumerate(pdf["payload"]):
                if p is None:
                    errs[i] = "null payload"
                    continue
                b = bytes(p)
                n_bytes[i] = len(b)
                try:
                    arr = decode_ppm(b)
                    height[i], width[i] = arr.shape[0], arr.shape[1]
                    feats[i] = _pixel_features(arr)
                    for c in range(3):
                        sums[c][i] = int(arr[:, :, c].sum(dtype=np.int64))
                except ValueError as e:
                    errs[i] = str(e)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "mime": mimes,
                    "n_bytes": n_bytes,
                    "width": width,
                    "height": height,
                    "features": feats,
                    "r_sum": sums[0],
                    "g_sum": sums[1],
                    "b_sum": sums[2],
                    "decode_error": errs,
                }
            )

    # partitioning is inherited from the input scan (uniform for the
    # synth corpora); a mime-skewed source should repartition by
    # media_id BEFORE this stage — the map itself never shuffles
    return df.mapInPandas(fn, schema=FEATURE_SCHEMA)


# -------------------------------------------------------- resize stage

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("src_w", T.IntegerType(), True),
        T.StructField("src_h", T.IntegerType(), True),
        T.StructField("dst_w", T.IntegerType(), True),
        T.StructField("dst_h", T.IntegerType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("n_bytes_out", T.IntegerType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("payload_out", T.BinaryType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def resize_media(df: DataFrame, dst_w: int = 64, dst_h: int = 64) -> DataFrame:
    """payload -> downscaled payload at (dst_w, dst_h), Arrow-batched.

    PPM in, nearest-neighbor index gather
    ``out[y, x] = src[y*src_h//dst_h, x*src_w//dst_w]`` (pure numpy
    fancy indexing — the standard INTER_NEAREST mapping), PPM out.
    ``pixel_sum`` (exact int sum of the output pixel bytes) +
    ``n_bytes_out`` make the stage end-to-end SQL-checkable; output
    bytes themselves are pytest-pinned."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    rows.append((mid, None, None, dst_w, dst_h, None, None, None, None, "null payload"))
                    continue
                b = bytes(p)
                try:
                    src = decode_ppm(b)
                except ValueError as e:
                    rows.append((mid, None, None, dst_w, dst_h, len(b), None, None, None, str(e)))
                    continue
                h, w = src.shape[:2]
                ys = (np.arange(dst_h) * h) // dst_h
                xs = (np.arange(dst_w) * w) // dst_w
                dst = src[ys][:, xs]
                out = encode_ppm(dst)
                rows.append(
                    (mid, w, h, dst_w, dst_h, len(b), len(out), int(dst.sum()), out, None)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return df.mapInPandas(fn, schema=RESIZE_SCHEMA)


# ------------------------------------------------- frame-sample stage

def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling: expands per-clip frame indexes ENTIRELY
    JVM-side. RV01's fixed-width header is parsed with
    substring+decode+split (no Python anywhere in this plan — the whole
    stage is whole-stage-codegen eligible); non-RV01 payloads fall back
    to the legacy 1 KiB ≈ 1 frame heuristic. The per-frame decode then
    runs in extract_frames over the (media_id, frame_idx) grain."""
    head = F.decode(F.substring("payload", 1, _VID_HEADER_LEN), "US-ASCII")
    is_vid = F.substring("payload", 1, 5) == F.lit(b"RV01 ")
    n_frames = F.when(
        is_vid, F.split(F.trim(head), "\\s+").getItem(3).cast("int")
    ).otherwise((F.length("payload") / 1024).cast("int"))
    return df.select(
        "media_id",
        "mime",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def extract_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """RV01 payload -> one row per sampled frame with REAL per-frame
    pixel stats (mean/min/max over the frame's RGB bytes). The frame
    slice is a zero-copy numpy view into the payload buffer."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("frame_mean", T.DoubleType(), True),
            T.StructField("frame_min", T.IntegerType(), True),
            T.StructField("frame_max", T.IntegerType(), True),
            T.StructField("decode_error", T.StringType(), True),
        ]
    )
    cols = ("media_id", "frame_idx", "width", "height",
            "frame_mean", "frame_min", "frame_max", "decode_error")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}

            def quarantine(mid: str, msg: str) -> None:
                # visible error row, not a silent drop: a systematically
                # corrupt source must not shrink frame stats untraced
                out["media_id"].append(mid)
                for k in cols[1:-1]:
                    out[k].append(None)
                out["decode_error"].append(msg)

            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    quarantine(mid, "null payload")
                    continue
                try:
                    frames = decode_video(bytes(p))
                except ValueError as e:
                    quarantine(mid, str(e))
                    continue
                nf, h, w = frames.shape[:3]
                for i in range(0, nf, every_n):
                    fr = frames[i]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["frame_mean"].append(float(fr.mean(dtype=np.float64)))
                    out["frame_min"].append(int(fr.min()))
                    out["frame_max"].append(int(fr.max()))
                    out["decode_error"].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(fn, schema=schema)


# ---------------------------------------------------------- adapters

def docs_as_ppm(docs: DataFrame) -> DataFrame:
    """Deterministic REAL image corpus: one PPM per doc, derived from
    doc_id alone by a documented generative formula so a SQL oracle can
    independently recompute every pixel statistic without parsing the
    binary:

        w = 8 + (doc_id % 5) * 4        (8..24)
        h = 8 + (doc_id % 7) * 2        (8..20)
        byte i of the pixel body = (doc_id*31 + i) % 256

    The ENGINE side never uses the formula — it decodes the actual PPM
    bytes; only synth + oracle share it. Payload construction is
    vectorized per row (np.arange over the body)."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("mime", T.StringType(), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + (did % 5) * 4, 8 + (did % 7) * 2
                body = ((did * 31 + np.arange(w * h * 3)) % 256).astype(np.uint8)
                rows.append((f"doc-{did}", encode_ppm(body.reshape(h, w, 3)), "image/x-portable-pixmap"))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "mime"])

    return docs.select("doc_id").mapInPandas(fn, schema=schema)


def docs_as_video(docs: DataFrame) -> DataFrame:
    """Deterministic REAL video corpus: one RV01 clip per doc —
    8x8 RGB, n_frames = 1 + doc_id % 30, body byte i =
    (doc_id*31 + i) % 256 (same formula convention as docs_as_ppm)."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("mime", T.StringType(), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf = 1 + did % 30
                body = ((did * 31 + np.arange(nf * 8 * 8 * 3)) % 256).astype(np.uint8)
                rows.append((f"doc-{did}", encode_video(body.reshape(nf, 8, 8, 3)), "video/x-rv01"))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "mime"])

    return docs.select("doc_id").mapInPandas(fn, schema=schema)
