"""Deterministic corpus generator — image + caption pairs.

Schema per BASELINE.json ``input_hint``:
    (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
     caption:string, phash:int64)

All content derives from ``(seed, i)`` through numpy's seeded PCG64 — the
same row is reproducible at any scale without materializing predecessors,
which is how the 10^10-scale ladder works (FIXTURES.md §1, §6).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..functions.imagecodec import decode_image, encode_image, phash64

_SIZES = (16, 32, 64, 128)
_FMTS = ("png", "jpeg", "webp")

_CAPTION_TOKENS = (
    "sunset over the harbor".split()
    + "a photograph of mountains at dawn".split()
    + "macro shot of dew on leaves".split()
    + ["çağла", "合成", "картинка", "🌅", "naïve"]
)


def make_image(seed: int, i: int) -> tuple[np.ndarray, str]:
    """Deterministic gradient+noise image and its format."""
    rng = np.random.default_rng([seed, i])
    w = int(rng.choice(_SIZES))
    h = int(rng.choice(_SIZES))
    # fmt by index, not rng: SQL-mirrorable (the payload gate's oracle
    # declares the per-row codec as CASE i % 3), and every 3rd row rides
    # the REAL stdlib PNG path
    fmt = _FMTS[i % len(_FMTS)]
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        128
        + 80 * np.sin(xx / max(w, 1) * np.pi * rng.uniform(0.5, 3))
        + 40 * np.cos(yy / max(h, 1) * np.pi * rng.uniform(0.5, 3))
    )
    noise = rng.normal(0, 12, size=(h, w, 3))
    arr = np.clip(base[..., None] + noise, 0, 255).astype(np.uint8)
    return arr, fmt


def make_caption(seed: int, i: int) -> str:
    rng = np.random.default_rng([seed, 7919, i])
    if rng.random() < 0.02:
        return ""  # empty-caption case (FIXTURES.md §1)
    n = int(rng.integers(2, 9))
    toks = rng.choice(len(_CAPTION_TOKENS), size=n)
    return " ".join(_CAPTION_TOKENS[t] for t in toks)


def encode_corpus_image(arr: np.ndarray, fmt: str) -> bytes:
    """The corpus backend policy, shared with the session's inline
    validation (oracle/session.py::_record): png and jpeg rows carry REAL
    bytes (stdlib/numpy codecs, always decodable — jpeg is genuinely
    lossy DCT so the PSNR>=40dB invariant executes against real lossy
    compression); webp uses the deterministic stand-in container (no
    from-scratch VP8 decoder)."""
    return encode_image(arr, fmt, backend="real" if fmt in ("png", "jpeg") else "stub")


def corpus_row(seed: int, i: int) -> dict:
    arr, fmt = make_image(seed, i)
    data = encode_corpus_image(arr, fmt)
    # phash of the *decoded* image (FIXTURES.md §1) so stored hash and
    # decode-time verification agree even for lossy formats
    decoded, _ = decode_image(data)
    return {
        "image_id": f"img-{i:010d}",
        "bytes": data,
        "w": np.int32(arr.shape[1]),
        "h": np.int32(arr.shape[0]),
        "fmt": fmt,
        "caption": make_caption(seed, i),
        "phash": np.int64(phash64(decoded)),
    }


def generate_corpus(seed: int, n: int):
    """The corpus as a driver-side pandas DataFrame (fixtures, tests)."""
    import pandas as pd

    rows = [corpus_row(seed, i) for i in range(n)]
    df = pd.DataFrame(rows)
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    return df


CORPUS_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def distributed_corpus(spark, seed: int, n: int):
    """The same corpus as ``generate_corpus`` built ON THE EXECUTORS: row
    i derives from (seed, i) alone, so generation parallelizes perfectly
    — the driver ships only the index range, and the per-row image
    encode (the dominant cost) spreads across every core instead of
    serializing on the driver before createDataFrame.  Row-for-row equal
    to ``spark.createDataFrame(generate_corpus(seed, n))``."""
    from typing import Iterator

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    par = spark.sparkContext.defaultParallelism
    out_arrow = to_arrow_schema(DataType.fromDDL(CORPUS_SCHEMA))

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            rows = [corpus_row(seed, i) for i in batch.column("id").to_pylist()]
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=out_arrow)

    return spark.range(n).repartition(par).mapInArrow(gen, CORPUS_SCHEMA)


# ---------------------------------------------------------------------------
# audio/video corpus (functions/avcodec.py payloads) — planted truth: every
# clip's spectral peak / frame count / shot-cut position derives from its
# index by construction, so a driver gate can declare the expected values
# in plain SQL while the engine earns them through real decode + numpy.
# ---------------------------------------------------------------------------

AV_SR = 8000
AV_WINDOW = 1024  # bin width = 8000/1024 = 7.8125 Hz (binary-exact)


def av_clip_row(seed: int, i: int) -> dict:
    from ..functions.avcodec import encode_audio, encode_video

    if i % 2 == 0:
        # audio: pure sine EXACTLY on FFT bin k → argmax bin is planted
        k = 64 + (i // 2 % 8) * 32          # 500, 750, ..., 2250 Hz
        freq = k * AV_SR / AV_WINDOW
        t = np.arange(AV_SR, dtype=np.float64) / AV_SR  # 1 s
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        data = encode_audio(wave, AV_SR)
        return {
            "clip_id": f"clip-{i:08d}", "kind": "audio", "bytes": data,
            "sample_rate": np.int32(AV_SR), "fps": np.int32(0),
            "n_frames": np.int32(0),
        }
    # video: first half frames = gradient A, second half = inverted (one
    # planted shot cut at n_frames//2)
    n_frames = 6 + (i % 5)
    h = w = 32
    yy, xx = np.mgrid[0:h, 0:w]
    a = np.clip(40 + 4 * xx + 2 * yy, 0, 255).astype(np.uint8)
    frame_a = np.stack([a, a, a], axis=-1)
    frame_b = 255 - frame_a
    cut = n_frames // 2
    frames = [frame_a] * cut + [frame_b] * (n_frames - cut)
    data = encode_video(frames, fps=4, fmt="png")
    return {
        "clip_id": f"clip-{i:08d}", "kind": "video", "bytes": data,
        "sample_rate": np.int32(0), "fps": np.int32(4),
        "n_frames": np.int32(n_frames),
    }


def generate_av_corpus(seed: int, n: int):
    """The planted AV corpus as a driver-side pandas DataFrame."""
    import pandas as pd

    df = pd.DataFrame([av_clip_row(seed, i) for i in range(n)])
    for c in ("sample_rate", "fps", "n_frames"):
        df[c] = df[c].astype("int32")
    return df
