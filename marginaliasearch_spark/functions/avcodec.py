"""Audio/video payload plumbing — opaque binary columns, typed metadata,
vectorized decode / feature-extract / frame-sample.

Same dispatch contract as functions/imagecodec.py: decode sniffs the
container magic and routes to a real codec when one is importable —
RIFF/WAVE audio decodes through the stdlib ``wave`` module (REAL, always
available), real video containers through PyAV when installed
(``HAVE_PYAV``) — with the deterministic stand-in containers always
working.  Everything Spark-side is real and everything numerical is real
numpy math under every backend:

- audio: int16 PCM frames in a tiny header container; decode → float32
  waveform; features = per-window RMS energy + dominant-frequency bin via
  rFFT (real spectral analysis, no per-row Python — one numpy pass per
  Arrow batch);
- video: a sequence of imagecodec-encoded frames in a length-prefixed
  container; frame-sample every k-th frame, per-frame phash, and
  shot-boundary detection by phash hamming jumps.

Swap `decode_audio` / `iter_video_frames` for PyAV in production; the
schemas, batch shapes and mapInArrow signatures do not change.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np

from .imagecodec import decode_image, encode_image, hamming64, phash64

_AUDIO_MAGIC = b"MSA1"
_VIDEO_MAGIC = b"MSV1"


# ---------------------------------------------------------------------------
# audio container (deterministic stand-in; production: PyAV/soundfile)
# ---------------------------------------------------------------------------


def encode_audio(wave: np.ndarray, sample_rate: int) -> bytes:
    pcm = np.clip(wave * 32767.0, -32768, 32767).astype("<i2")
    return _AUDIO_MAGIC + struct.pack("<ii", sample_rate, len(pcm)) + pcm.tobytes()


def encode_wav(wave: np.ndarray, sample_rate: int) -> bytes:
    """REAL RIFF/WAVE encoding (stdlib ``wave`` — no external deps):
    16-bit mono PCM.  The real-codec counterpart of ``encode_audio``."""
    import io
    import wave as _wave

    pcm = np.clip(wave * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def audio_backend_of(data: bytes) -> str:
    """'stub' for MSA1 payloads, 'wav' for RIFF/WAVE, 'none' otherwise."""
    head = bytes(data[:12])
    if head[:4] == _AUDIO_MAGIC:
        return "stub"
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return "wav"
    return "none"


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """→ (float32 waveform in [-1, 1], sample_rate), dispatched on the
    container magic: MSA1 stand-in, or REAL RIFF/WAVE via the stdlib
    ``wave`` module (16-bit PCM; stereo downmixed to mono)."""
    data = bytes(data)
    backend = audio_backend_of(data)
    if backend == "wav":
        import io
        import wave as _wave

        with _wave.open(io.BytesIO(data), "rb") as w:
            if w.getsampwidth() != 2:
                raise ValueError("only 16-bit PCM WAV supported")
            sample_rate = w.getframerate()
            pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
            if w.getnchannels() > 1:
                pcm = (
                    pcm.reshape(-1, w.getnchannels())
                    .mean(axis=1)
                    .astype("<i2")
                )
        return pcm.astype(np.float32) / 32767.0, sample_rate
    if backend != "stub":
        raise ValueError("not an MSA1 or RIFF/WAVE audio payload")
    sample_rate, n = struct.unpack("<ii", data[4:12])
    pcm = np.frombuffer(data, dtype="<i2", offset=12, count=n)
    return pcm.astype(np.float32) / 32767.0, sample_rate


def audio_features(wave: np.ndarray, sample_rate: int, window: int = 1024) -> dict:
    """RMS energy + dominant-frequency estimate (real rFFT math)."""
    n = len(wave)
    if n == 0:
        return {"rms": 0.0, "peak_hz": 0.0, "n_windows": 0}
    n_win = max(n // window, 1)
    trimmed = wave[: n_win * window].reshape(n_win, -1)
    rms = float(np.sqrt((trimmed**2).mean()))
    spec = np.abs(np.fft.rfft(trimmed, axis=1)).mean(axis=0)
    spec[0] = 0.0  # ignore DC
    peak_bin = int(np.argmax(spec))
    peak_hz = peak_bin * sample_rate / trimmed.shape[1]
    return {"rms": rms, "peak_hz": float(peak_hz), "n_windows": int(n_win)}


# ---------------------------------------------------------------------------
# video container (sequence of imagecodec frames; production: PyAV)
# ---------------------------------------------------------------------------


def encode_video(frames: list[np.ndarray], fps: int, fmt: str = "png") -> bytes:
    out = [_VIDEO_MAGIC, struct.pack("<ii", fps, len(frames))]
    for f in frames:
        blob = encode_image(f, fmt)
        out.append(struct.pack("<i", len(blob)))
        out.append(blob)
    return b"".join(out)


# real video containers (mp4/webm/mkv) decode through PyAV when installed
try:  # pragma: no cover - container has no PyAV; exercised where it does
    import av as _pyav

    HAVE_PYAV = True
except ImportError:
    _pyav = None
    HAVE_PYAV = False


def video_backend_of(data: bytes) -> str:
    """'stub' for MSV1 payloads, 'pyav' for real containers when PyAV is
    importable, 'none' otherwise."""
    if bytes(data[:4]) == _VIDEO_MAGIC:
        return "stub"
    return "pyav" if HAVE_PYAV else "none"


def iter_video_frames(data: bytes) -> Iterator[np.ndarray]:
    data = bytes(data)
    if data[:4] != _VIDEO_MAGIC:
        if HAVE_PYAV:
            import io

            with _pyav.open(io.BytesIO(data)) as container:
                for frame in container.decode(video=0):
                    yield frame.to_ndarray(format="rgb24")
            return
        raise ValueError("not an MSV1 video payload (and no real codec installed)")
    _, n_frames = struct.unpack("<ii", data[4:12])
    off = 12
    for _ in range(n_frames):
        (ln,) = struct.unpack("<i", data[off : off + 4])
        off += 4
        frame, _ = decode_image(data[off : off + ln])
        off += ln
        yield frame


def video_meta(data: bytes) -> tuple[int, int]:
    data = bytes(data)
    if data[:4] != _VIDEO_MAGIC:
        if HAVE_PYAV:
            import io

            with _pyav.open(io.BytesIO(data)) as container:
                stream = container.streams.video[0]
                fps = int(round(float(stream.average_rate or 0)))
                n = stream.frames or sum(1 for _ in container.decode(video=0))
            return fps, int(n)
        raise ValueError("not an MSV1 video payload (and no real codec installed)")
    fps, n_frames = struct.unpack("<ii", data[4:12])
    return fps, n_frames


def sample_frames(data: bytes, every_k: int) -> list[tuple[int, np.ndarray]]:
    """Every k-th frame (frame_idx, array) — the frame-sample primitive."""
    return [
        (i, f) for i, f in enumerate(iter_video_frames(data)) if i % every_k == 0
    ]


def shot_boundaries(data: bytes, every_k: int = 1, hamming_threshold: int = 16) -> list[int]:
    """Frame indices where the phash jumps by ≥ threshold vs the previous
    sampled frame — the classic cheap shot-boundary detector."""
    prev = None
    cuts = []
    for i, f in sample_frames(data, every_k):
        h = phash64(f)
        if prev is not None and hamming64(h, prev) >= hamming_threshold:
            cuts.append(i)
        prev = h
    return cuts
