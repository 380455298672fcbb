"""Pluggable real codecs: container-magic dispatch, the REAL RIFF/WAVE
path (stdlib — runs everywhere), and skipped-unless-installed PIL/PyAV
round-trips.  Gate results are identical under the stub; these prove the
real paths share the exact same plumbing."""

import numpy as np
import pandas as pd
import pytest

from marginaliasearch_spark.functions.avcodec import (
    audio_backend_of,
    audio_features,
    decode_audio,
    encode_audio,
    encode_wav,
)
from marginaliasearch_spark.functions.imagecodec import (
    HAVE_PIL,
    decode_image,
    encode_image,
    image_backend_of,
    psnr,
)


def _tone(freq=1000.0, sr=16000, secs=0.5):
    t = np.arange(int(sr * secs)) / sr
    return (0.5 * np.sin(2 * np.pi * freq * t)).astype(np.float64), sr


def test_wav_real_roundtrip():
    wave, sr = _tone()
    data = encode_wav(wave, sr)
    assert audio_backend_of(data) == "wav"
    decoded, sr2 = decode_audio(data)
    assert sr2 == sr
    assert np.abs(decoded - wave).max() < 1e-3  # 16-bit quantization only


def test_wav_and_stub_agree_numerically():
    """The SAME waveform through both containers yields the same spectral
    features — the backend changes the container, never the math."""
    wave, sr = _tone(freq=1250.0)
    f_stub = audio_features(decode_audio(encode_audio(wave, sr))[0], sr)
    f_wav = audio_features(decode_audio(encode_wav(wave, sr))[0], sr)
    assert f_stub["n_windows"] == f_wav["n_windows"]
    assert abs(f_stub["peak_hz"] - f_wav["peak_hz"]) < 1e-6


def test_wav_stereo_downmix():
    import io
    import wave as _wave

    mono, sr = _tone()
    pcm = np.clip(mono * 32767, -32768, 32767).astype("<i2")
    stereo = np.column_stack([pcm, pcm]).reshape(-1)
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(stereo.tobytes())
    decoded, _ = decode_audio(buf.getvalue())
    assert np.abs(decoded - mono).max() < 1e-3


def test_av_pipeline_decodes_real_wav(spark):
    """A real RIFF/WAVE payload through the full mapInArrow extractor:
    decode_ok, the planted spectral peak, and codec='wav' surfaced."""
    from marginaliasearch_spark.plans.av_pipeline import extract_av_features

    wave, sr = _tone(freq=1000.0, secs=1.0)
    clips = spark.createDataFrame(
        pd.DataFrame(
            [{"clip_id": "real-0", "kind": "audio", "bytes": encode_wav(wave, sr)}]
        )
    )
    row = extract_av_features(clips).collect()[0]
    assert row["decode_ok"] == 1
    assert row["codec"] == "wav"
    assert abs(row["peak_mhz"] - 1_000_000) < 20_000  # rFFT bin width


def test_unknown_container_flagged_not_fatal(spark):
    from marginaliasearch_spark.plans.av_pipeline import extract_av_features

    clips = spark.createDataFrame(
        pd.DataFrame(
            [{"clip_id": "junk-0", "kind": "audio", "bytes": b"\x00garbage"}]
        )
    )
    row = extract_av_features(clips).collect()[0]
    assert row["decode_ok"] == 0
    assert row["codec"] == "none"


def test_image_backend_sniffing():
    arr = (np.arange(48 * 48 * 3) % 251).astype(np.uint8).reshape(48, 48, 3)
    stub = encode_image(arr, "png")
    assert image_backend_of(stub) == "stub"
    assert image_backend_of(b"\x89PNG\r\n") == ("pil" if HAVE_PIL else "none")


@pytest.mark.skipif(not HAVE_PIL, reason="PIL not installed in this image")
def test_pil_real_roundtrip_end_to_end(spark):
    """Real PNG/JPEG bytes through encode→decode→PSNR and through the
    validate plan's codec surfacing (runs wherever PIL exists)."""
    from marginaliasearch_spark.plans.validate import validate_payloads  # noqa: F401

    arr = (np.arange(64 * 64 * 3) % 256).astype(np.uint8).reshape(64, 64, 3)
    png = encode_image(arr, "png", backend="pil")
    dec, fmt = decode_image(png)
    assert fmt == "png" and np.array_equal(dec, arr)
    jpg = encode_image(arr, "jpeg", backend="pil")
    dec2, fmt2 = decode_image(jpg)
    assert fmt2 == "jpeg" and psnr(arr, dec2) >= 25.0


def test_png_real_roundtrip_always_on():
    """The stdlib baseline-PNG path runs in EVERY environment (the image
    counterpart of the WAV path): encode → sniff → decode, bit exact."""
    from marginaliasearch_spark.functions.imagecodec import encode_png

    arr = (np.arange(40 * 56 * 3) % 253).astype(np.uint8).reshape(40, 56, 3)
    data = encode_png(arr)
    assert image_backend_of(data) == "png"
    dec, fmt = decode_image(data)
    assert fmt == "png"
    assert np.array_equal(dec, arr)


def _filtered_png(arr, filter_type):
    """Build a real PNG using the SAME filter type on every scanline
    (forward-filtering by the spec) to exercise the decoder's
    reconstruction paths."""
    import struct
    import zlib

    from marginaliasearch_spark.functions.imagecodec import PNG_MAGIC

    h, w, _ = arr.shape
    stride = w * 3
    flat = arr.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        line = flat[y]
        if filter_type == 0:
            f = line
        elif filter_type == 1:
            left = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            f = line - left
        elif filter_type == 2:
            f = line - prev
        elif filter_type == 3:
            left = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            f = line - ((left + prev) >> 1)
        else:  # Paeth
            f = line.copy()
            for x in range(stride):
                a = int(line[x - 3]) if x >= 3 else 0
                b = int(prev[x])
                c = int(prev[x - 3]) if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f[x] = line[x] - pred
        out.append(filter_type)
        out.extend((f & 0xFF).astype(np.uint8).tobytes())
        prev = line

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_filter_reconstruction(ftype):
    rng = np.random.default_rng([ftype, 99])
    arr = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    dec, fmt = decode_image(_filtered_png(arr, ftype))
    assert fmt == "png"
    assert np.array_equal(dec, arr), f"filter {ftype} reconstruction drifted"


def test_png_crc_corruption_detected():
    from marginaliasearch_spark.functions.imagecodec import encode_png

    arr = np.zeros((8, 8, 3), np.uint8)
    data = bytearray(encode_png(arr))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError):
        # either CRC mismatch or inflate error — both must raise
        decode_image(bytes(data))


def test_corpus_png_rows_ride_real_path():
    """generate_corpus: i%3==0 rows are REAL PNG, i%3==1 rows REAL JPEG
    (round 5 — genuinely lossy), i%3==2 the webp stand-in; every stored
    phash matches the real-decode phash."""
    from marginaliasearch_spark.functions.imagecodec import phash64
    from marginaliasearch_spark.sources.corpus import generate_corpus

    pdf = generate_corpus(42, 12)
    for i, row in pdf.iterrows():
        expect = ("png", "jpeg", "stub")[i % 3]
        assert image_backend_of(row["bytes"]) == expect
        dec, _ = decode_image(row["bytes"])
        assert phash64(dec) == row["phash"]


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_encode_png_filter_types_roundtrip(ftype):
    """encode_png's vectorized per-filter emit (round 5) agrees with the
    independent forward-filter builder above and round-trips exactly."""
    from marginaliasearch_spark.functions.imagecodec import encode_png

    rng = np.random.default_rng([ftype, 7])
    arr = rng.integers(0, 256, size=(23, 31, 3), dtype=np.uint8)
    data = encode_png(arr, filter_type=ftype)
    dec, fmt = decode_image(data)
    assert fmt == "png"
    assert np.array_equal(dec, arr)
    # byte-identical filtered scanlines vs the independent builder
    assert data == _filtered_png(arr, ftype)
