"""Shared audio codec module — the single decode/encode code path.

Both the engine's vectorized UDFs (hydra_spark.functions.decode) and the
test oracle import THIS module, so decoded-PCM parity between engine and
oracle is structural, not coincidental (SURVEY.md §7 "hard parts": one
shared numpy module).

This is the Spark-first analog of Hydra's record-factory transform stage
(reference: core/src/main/scala/hydra/core/transport/RecordFactory.scala:25-30,
ingestors/kafka/src/main/scala/hydra/kafka/producer/KafkaRecordFactories.scala:21-47)
— payload bytes → typed, validated record — re-expressed as pure numpy
so it can run vectorized inside Arrow batches (no per-row Python).

Codecs: pcm16 (little-endian int16), ulaw / alaw (G.711-style 8-bit
companding, continuous-curve variant; encoder and decoder are exact
inverse pairs up to 8-bit quantization, giving ~37 dB SNR on speech-like
signals — comfortably above the 30 dB gate).
"""

from __future__ import annotations

import numpy as np

SUPPORTED_CODECS = ("pcm16", "ulaw", "alaw")

# Silence threshold for activity stats: |sample| <= EPS counts as silent.
# One shared constant so the engine's vectorized path and the per-row
# oracle path compare the SAME float32 samples against the SAME bound —
# the comparison is then deterministic even exactly at the boundary.
SILENCE_EPS = np.float32(1e-3)

_MU = 255.0
_A = 87.6
_LN_A = 1.0 + np.log(_A)


# ---------------------------------------------------------------- encode

def quantize_pcm16(x: np.ndarray) -> np.ndarray:
    """float [-1,1] -> int16 samples ('<i2'). THE pcm16 quantizer —
    encode_pcm16 and the vectorized transcode stage both call this, so
    a change here can never diverge the two paths."""
    return (np.clip(x, -1.0, 1.0) * 32767.0).astype("<i2")


def quantize_g711(y: np.ndarray) -> np.ndarray:
    """compressed [-1,1] -> companded uint8 bytes. THE G.711 quantizer
    (shared by encode_ulaw/encode_alaw and the transcode stage)."""
    return np.round((y + 1.0) * 127.5).astype(np.uint8)


def encode_pcm16(x: np.ndarray) -> bytes:
    """float32 [-1,1] -> little-endian int16 bytes."""
    return quantize_pcm16(x).tobytes()


def _ulaw_compress(x: np.ndarray) -> np.ndarray:
    x = np.clip(x, -1.0, 1.0)
    return np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)


def _alaw_compress(x: np.ndarray) -> np.ndarray:
    x = np.clip(x, -1.0, 1.0)
    ax = np.abs(x)
    y = np.where(ax < 1.0 / _A, _A * ax / _LN_A, (1.0 + np.log(_A * np.maximum(ax, 1.0 / _A))) / _LN_A)
    return np.sign(x) * y


def encode_ulaw(x: np.ndarray) -> bytes:
    return quantize_g711(_ulaw_compress(x)).tobytes()


def encode_alaw(x: np.ndarray) -> bytes:
    return quantize_g711(_alaw_compress(x)).tobytes()


def encode(x: np.ndarray, codec: str) -> bytes:
    if codec == "pcm16":
        return encode_pcm16(x)
    if codec == "ulaw":
        return encode_ulaw(x)
    if codec == "alaw":
        return encode_alaw(x)
    raise ValueError(f"unsupported codec: {codec}")


# ---------------------------------------------------------------- decode

def decode_pcm16(buf: bytes) -> np.ndarray:
    if len(buf) % 2 != 0:
        raise ValueError("pcm16 buffer length not a multiple of 2")
    return (np.frombuffer(buf, dtype="<i2").astype(np.float32) / 32767.0)


def decode_ulaw(buf: bytes) -> np.ndarray:
    y = np.frombuffer(buf, dtype=np.uint8).astype(np.float32) / 127.5 - 1.0
    x = np.sign(y) * ((1.0 + _MU) ** np.abs(y) - 1.0) / _MU
    return x.astype(np.float32)


def decode_alaw(buf: bytes) -> np.ndarray:
    y = np.frombuffer(buf, dtype=np.uint8).astype(np.float64) / 127.5 - 1.0
    ay = np.abs(y)
    x = np.where(ay < 1.0 / _LN_A, ay * _LN_A / _A, np.exp(ay * _LN_A - 1.0) / _A)
    return (np.sign(y) * x).astype(np.float32)


def decode(buf: bytes, codec: str) -> np.ndarray:
    """bytes + codec -> float32 PCM in [-1, 1]. Raises on bad input.

    Hydra semantics for undecodable records are *skip + count, never
    fail the stream* (KafkaClientAlgebra.scala:380-395); the engine UDF
    wraps this in try/except and routes failures to quarantine.
    """
    if buf is None:
        raise ValueError("null bytes")
    if codec == "pcm16":
        return decode_pcm16(buf)
    if codec == "ulaw":
        return decode_ulaw(buf)
    if codec == "alaw":
        return decode_alaw(buf)
    raise ValueError(f"unsupported codec: {codec}")


# ---------------------------------------------------------------- resample

def resample_linear(x: np.ndarray, sr_hz: int, dst_sr: int) -> np.ndarray:
    """float32 PCM at sr_hz -> float64 PCM at dst_sr, linear interpolation.

    This is the single shared definition of the engine's resample stage
    (functions/resample.py vectorizes exactly this math over ragged Arrow
    batches; parity is asserted byte-for-byte in tests):

      n_out = ceil(n_in * dst_sr / sr_hz)           (duration-preserving)
      out[j] = lerp(x, clamp(j * sr_hz/dst_sr, 0, n_in-1))

    Interpolation is computed in float64 as x[i0]*(1-f) + x[i1]*f — the
    exact expression the vectorized path evaluates, so engine/oracle
    equality is structural (same elementwise IEEE ops), not approximate.
    """
    n_in = len(x)
    n_out = (n_in * dst_sr + sr_hz - 1) // sr_hz
    if n_out == 0:
        return np.empty(0, dtype=np.float64)
    ratio = sr_hz / dst_sr
    pos = np.minimum(np.arange(n_out, dtype=np.float64) * ratio, float(n_in - 1))
    i0 = pos.astype(np.int64)
    f = pos - i0
    i1 = np.minimum(i0 + 1, n_in - 1)
    return x[i0] * (1.0 - f) + x[i1] * f


def resample_clip(buf: bytes, codec: str, sr_hz: int, dst_sr: int) -> bytes:
    """Per-row oracle: decode -> resample_linear -> pcm16 bytes."""
    return encode_pcm16(resample_linear(decode(buf, codec), sr_hz, dst_sr))


def gain_linear(x: np.ndarray, target_peak: float) -> np.ndarray:
    """float32 PCM -> float64 PCM scaled so max|x| == target_peak.

    The single shared definition of the gain stage (functions/gain.py
    vectorizes exactly this math; parity asserted byte-for-byte in
    tests): peak in float64, y = x.astype(f64) * (target/peak) — the
    identical elementwise IEEE ops, so engine/oracle equality is
    structural. All-silent input passes through unscaled (no 0-division,
    and "normalizing" digital silence is meaningless)."""
    if len(x) == 0:
        return np.empty(0, dtype=np.float64)
    xd = x.astype(np.float64)
    peak = float(np.max(np.abs(xd)))
    if peak == 0.0:
        return xd
    return xd * (target_peak / peak)


def gain_clip(buf: bytes, codec: str, target_peak: float = 0.9) -> bytes:
    """Per-row oracle: decode -> gain_linear -> pcm16 bytes."""
    return encode_pcm16(gain_linear(decode(buf, codec), target_peak))


def gain_linear_rms(x: np.ndarray, target_rms: float) -> np.ndarray:
    """float32 PCM -> float64 PCM scaled so RMS == target_rms (before
    the quantizer's [-1,1] clip). The single shared definition of the
    RMS gain stage: squares in float64 and a SEQUENTIAL sum
    (np.add.reduceat over the whole row — the vectorized kernel's
    per-segment reduceat applies + in the identical order), so engine
    output equals this oracle byte-for-byte, not just allclose.
    All-silent input passes through unscaled."""
    if len(x) == 0:
        return np.empty(0, dtype=np.float64)
    xd = x.astype(np.float64)
    s = float(np.add.reduceat(np.square(x, dtype=np.float64), [0])[0])
    r = float(np.sqrt(s / len(xd)))
    if r == 0.0:
        return xd
    return xd * (target_rms / r)


def gain_clip_rms(buf: bytes, codec: str, target_rms: float = 0.1) -> bytes:
    """Per-row oracle: decode -> gain_linear_rms -> pcm16 bytes."""
    return encode_pcm16(gain_linear_rms(decode(buf, codec), target_rms))


def transcode_clip(buf: bytes, codec: str, to_codec: str) -> bytes:
    """Per-row oracle: decode -> encode(to_codec); same-codec rows pass
    through VERBATIM (a re-encode round trip is not the identity —
    pcm16 encode truncates and G.711 re-companding re-quantizes — so
    the stage never touches already-target bytes)."""
    if codec == to_codec:
        return bytes(buf)
    return encode(decode(buf, codec), to_codec)


# ---------------------------------------------------------------- spectral

N_FFT = 1024  # analysis window: first N_FFT samples, zero-padded


def spectral_features(x: np.ndarray, sr_hz: int, n_fft: int = N_FFT):
    """(centroid_hz, dominant_hz) of the first ``n_fft`` samples.

    Frame-based spectral analysis over ONE fixed-size window — the
    fixed size is what lets the engine run a single batched 2D rfft per
    Arrow chunk (functions/spectral.py) instead of a per-row transform.
    This per-row form is the shared oracle definition:

      w    = x[:n_fft] zero-padded to n_fft      (float32)
      mag  = |rfft(w)|                           (complex64 -> float32)
      centroid_hz = (sum_k k*mag_k / sum_k mag_k) * sr / n_fft   (float64)
      dominant_hz = argmax_k mag_k * sr / n_fft  (first max on ties)

    Returns (None, None) for empty or all-silent windows (mag sum 0).
    """
    n = min(len(x), n_fft)
    if n == 0:
        return None, None
    w = np.zeros(n_fft, dtype=np.float32)
    w[:n] = x[:n_fft]
    mag = np.abs(np.fft.rfft(w)).astype(np.float64)
    tot = float(mag.sum())
    if tot == 0.0:
        return None, None
    k = np.arange(len(mag), dtype=np.float64)
    centroid = float((k * mag).sum()) / tot * (sr_hz / n_fft)
    dominant = float(int(np.argmax(mag))) * (sr_hz / n_fft)
    return centroid, dominant


N_MELS = 8  # triangular mel bands over 0..sr/2
MEL_DB_EPS = 1e-12  # dB floor: 10*log10(E + EPS) >= -120 for silent bands


def hz_to_mel(f) -> np.ndarray:
    """HTK mel scale: m = 2595 * log10(1 + f/700)."""
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m) -> np.ndarray:
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(sr_hz: int, n_fft: int = N_FFT, n_mels: int = N_MELS) -> np.ndarray:
    """(n_mels, n_fft//2+1) triangular filterbank on the HTK mel scale,
    spanning 0..sr/2 — the standard mel-spectrogram front end (public
    construction; cf. HTK book / librosa.filters.mel(norm=None)).
    Only 4 distinct sr_hz values exist in the corpus (FIXTURES.md §1),
    so the engine caches one matrix per rate and batches the matmul."""
    n_bins = n_fft // 2 + 1
    pts_hz = mel_to_hz(np.linspace(hz_to_mel(0.0), hz_to_mel(sr_hz / 2.0), n_mels + 2))
    bin_hz = np.arange(n_bins, dtype=np.float64) * (float(sr_hz) / n_fft)
    lo, ctr, hi = pts_hz[:-2, None], pts_hz[1:-1, None], pts_hz[2:, None]
    up = (bin_hz[None, :] - lo) / (ctr - lo)
    down = (hi - bin_hz[None, :]) / (hi - ctr)
    return np.maximum(0.0, np.minimum(up, down))


def mel_energies(x: np.ndarray, sr_hz: int, n_fft: int = N_FFT, n_mels: int = N_MELS):
    """Per-row oracle form of the engine's batched mel stage
    (functions/mel.py):

      w     = x[:n_fft] zero-padded to n_fft                (float32)
      power = |rfft(w)|^2                                   (float64)
      E_m   = filterbank_m . power ; db_m = 10*log10(E_m + MEL_DB_EPS)

    Returns (n_mels,) float64, or None for an empty clip. All-silent
    windows are well-defined (every band sits at the -120 dB floor)."""
    n = min(len(x), n_fft)
    if n == 0:
        return None
    w = np.zeros(n_fft, dtype=np.float32)
    w[:n] = x[:n_fft]
    mag = np.abs(np.fft.rfft(w)).astype(np.float64)
    e = mel_filterbank(sr_hz, n_fft, n_mels) @ (mag * mag)
    return 10.0 * np.log10(e + MEL_DB_EPS)


# ---------------------------------------------------------------- stats

def zero_crossings(x: np.ndarray) -> int:
    """Count of adjacent sample pairs whose (x < 0) sign differs.

    Per-row oracle form of the engine's vectorized per-segment version
    (functions/decode.py). Uses ``x < 0`` (not signbit) so -0.0 and
    +0.0 are both "non-negative" — no dependence on the zero's sign bit.
    """
    neg = x < np.float32(0.0)
    return int(np.count_nonzero(neg[1:] != neg[:-1]))


def silent_samples(x: np.ndarray, eps: np.float32 = SILENCE_EPS) -> int:
    """Count of samples with |x| <= eps (see SILENCE_EPS)."""
    return int(np.count_nonzero(np.abs(x) <= eps))


def lead_trail_silent(x: np.ndarray, eps: np.float32 = SILENCE_EPS) -> tuple[int, int]:
    """(leading, trailing) run lengths of silent samples (|x| <= eps) —
    the shared ground-truth definition for silence trimming (engine
    vectorized form: functions/trim.py). All-silent convention:
    (len(x), 0) — the whole clip is 'leading' silence, n_out = 0."""
    nz = np.flatnonzero(np.abs(x) > eps)
    if len(nz) == 0:
        return len(x), 0
    return int(nz[0]), int(len(x) - 1 - nz[-1])


# ---------------------------------------------------------------- loudness
# ITU-R BS.1770-4 integrated loudness (public spec). K-weighting is two
# biquads — a +4 dB high shelf and the RLB ~38 Hz high-pass — specified
# at 48 kHz and re-derived here for arbitrary rates via the standard
# bilinear-transform prefilter design (the same published derivation
# pyloudnorm uses); test_loudness.py pins the 48 kHz coefficients to the
# spec's table and the FIR approximation against a direct per-sample IIR.

LUFS_BLOCK_S = 0.400  # gating block length (spec §1, Table 2)
LUFS_HOP_S = 0.100  # 75% overlap
LUFS_ABS_GATE = -70.0  # absolute gate (LKFS)
_LUFS_OFFSET = -0.691  # mono channel weight 1.0
# K-weighting is undefined below Nyquist of the shelf corner (~1682 Hz):
# the bilinear redesign goes unstable once f0 exceeds sr/2. Rates below
# this floor are ERROR rows (skip-and-count), not silent garbage.
LUFS_MIN_SR = 4000
LUFS_FLOOR_ERROR = (
    "sr_hz {} below K-weighting floor %d (shelf corner would exceed Nyquist)" % LUFS_MIN_SR
)


def _k_weighting_coeffs(sr_hz: int):
    """[(b, a), (b, a)] biquad cascade for K-weighting at sr_hz."""
    fs = float(sr_hz)
    # stage 1: spherical-head high shelf
    db, f0, q = 3.999843853973347, 1681.974450955533, 0.7071752369554196
    k = np.tan(np.pi * f0 / fs)
    vh = 10.0 ** (db / 20.0)
    vb = vh ** 0.4996667741545416
    a0 = 1.0 + k / q + k * k
    b_s = np.array(
        [(vh + vb * k / q + k * k) / a0, 2.0 * (k * k - vh) / a0, (vh - vb * k / q + k * k) / a0]
    )
    a_s = np.array([1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / q + k * k) / a0])
    # stage 2: RLB revised low-frequency B-weighting high-pass
    f0, q = 38.13547087602444, 0.5003270373238773
    k = np.tan(np.pi * f0 / fs)
    a0 = 1.0 + k / q + k * k
    b_h = np.array([1.0, -2.0, 1.0])
    a_h = np.array([1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / q + k * k) / a0])
    return [(b_s, a_s), (b_h, a_h)]


def biquad_direct(b: np.ndarray, a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Direct-form-I biquad, per-sample recursion — the ground-truth
    filter (slow; used to derive impulse responses and in tests)."""
    y = np.zeros(len(x), dtype=np.float64)
    x1 = x2 = y1 = y2 = 0.0
    for i in range(len(x)):
        xi = float(x[i])
        yi = b[0] * xi + b[1] * x1 + b[2] * x2 - a[1] * y1 - a[2] * y2
        y[i] = yi
        x2, x1 = x1, xi
        y2, y1 = y1, yi
    return y


_K_FIR_CACHE: dict[int, np.ndarray] = {}


def _k_fir(sr_hz: int) -> np.ndarray:
    """Truncated impulse response of the K-weighting cascade. The
    slowest pole (RLB high-pass, ~38 Hz, Q≈0.5) decays with tau ~4 ms,
    so 0.25 s of taps truncates below 1e-20 — far under float64 noise —
    making FFT convolution with this FIR numerically equal to the IIR
    cascade (pinned in tests). Built once per rate with the per-sample
    recursion (runs once, then cached)."""
    h = _K_FIR_CACHE.get(sr_hz)
    if h is None:
        n = max(8192, int(0.25 * sr_hz))
        imp = np.zeros(n, dtype=np.float64)
        imp[0] = 1.0
        for b, a in _k_weighting_coeffs(sr_hz):
            imp = biquad_direct(b, a, imp)
        h = _K_FIR_CACHE[sr_hz] = imp
    return h


def k_weight(x: np.ndarray, sr_hz: int) -> np.ndarray:
    """Apply K-weighting via FFT convolution with the cached FIR
    (causal: output trimmed to len(x))."""
    h = _k_fir(sr_hz)
    x = np.asarray(x, dtype=np.float64)
    n = len(x) + len(h) - 1
    nfft = 1 << max(1, (n - 1).bit_length())
    return np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(h, nfft), nfft)[: len(x)]


def lufs_integrated(x: np.ndarray, sr_hz: int):
    """BS.1770-4 integrated loudness of a mono clip.

    Returns (lufs, n_blocks, n_gated): lufs is None when the clip is
    shorter than one 400 ms block or every block falls below the gates
    (all-silence); n_gated counts blocks surviving BOTH gates. The
    block mean-squares are computed via one cumsum (vectorized), and
    this single shared definition is used by the engine stage
    (functions/loudness.py) AND the fixture writer, so engine/fixture
    values are bit-identical."""
    if sr_hz < LUFS_MIN_SR:
        raise ValueError(LUFS_FLOOR_ERROR.format(sr_hz))
    block = int(round(LUFS_BLOCK_S * sr_hz))
    hop = int(round(LUFS_HOP_S * sr_hz))
    if len(x) < block:
        return None, 0, 0
    y = k_weight(x, sr_hz)
    n_blocks = 1 + (len(y) - block) // hop
    c = np.concatenate(([0.0], np.cumsum(y * y)))
    starts = np.arange(n_blocks, dtype=np.int64) * hop
    z = (c[starts + block] - c[starts]) / float(block)
    with np.errstate(divide="ignore"):
        lb = _LUFS_OFFSET + 10.0 * np.log10(z)  # -inf for silent blocks
    keep = lb > LUFS_ABS_GATE
    if not keep.any():
        return None, n_blocks, 0
    rel = _LUFS_OFFSET + 10.0 * np.log10(z[keep].mean()) - 10.0
    keep &= lb > rel
    if not keep.any():
        return None, n_blocks, 0
    return (
        float(_LUFS_OFFSET + 10.0 * np.log10(z[keep].mean())),
        int(n_blocks),
        int(keep.sum()),
    )


# ---------------------------------------------------------------- metrics

def snr_db(ref: np.ndarray, out: np.ndarray) -> float:
    """10*log10(sum(ref^2) / sum((ref-out)^2)); inf if exact."""
    ref = np.asarray(ref, dtype=np.float64)
    out = np.asarray(out, dtype=np.float64)
    err = float(np.sum((ref - out) ** 2))
    sig = float(np.sum(ref**2))
    if err == 0.0:
        return float("inf")
    return 10.0 * np.log10(sig / err)


def waveform(i: int, sr_hz: int, dur_ms: int, seed: int = 42) -> np.ndarray:
    """Deterministic reference waveform for clip index i (FIXTURES.md §1).

    sin(2π·f·t)·0.8 + noise(0.01), f = 110·(1 + (i mod 40)) Hz,
    rng = default_rng(seed ^ i). This is the pre-encode signal the SNR
    gate compares decoded PCM against.
    """
    n = int(round(sr_hz * dur_ms / 1000.0))
    t = np.arange(n, dtype=np.float64) / sr_hz
    f = 110.0 * (1 + (i % 40))
    rng = np.random.default_rng(seed ^ i)
    x = np.sin(2 * np.pi * f * t) * 0.8 + rng.normal(0.0, 0.01, n)
    return np.clip(x, -1.0, 1.0).astype(np.float32)
