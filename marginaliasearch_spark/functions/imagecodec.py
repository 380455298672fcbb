"""Deterministic image codec + perceptual hash for the image+caption payload.

The crawl payload per BASELINE.json ``input_hint`` is an image+caption pair
``(image_id, bytes, w, h, fmt, caption, phash)`` with a per-row invariant of
decoded-pixel allclose (PSNR ≥ 40 dB for lossy formats).

Codec dispatch: ``decode_image`` sniffs the container's magic bytes.
Real PNG/JPEG/WEBP payloads decode through PIL when it is importable
(``HAVE_PIL``); the deterministic "MSPK" stand-in container
(zlib-compressed raw pixels, with 6-bit quantization standing in for
lossy compression at PSNR ≈ 46 dB) always works and is what this
image-library-free sandbox exercises.  Which backend handled a payload is
surfaced per row by the validate plan (``image_backend_of``).  The
Spark-side plumbing — binary columns, Arrow batch shapes, mapInArrow
decode/validate signatures — is identical under both backends; a
skipped-unless-PIL test drives the real path end-to-end.

The perceptual hash is the classic pHash construction: 32×32 grayscale →
2D DCT-II → top-left 8×8 (skipping DC) → median threshold → 64 bits.
The reference's content-similarity analogue is EasyLSH with hamming < 4
(ref: code/libraries/easy-lsh/java/nu/marginalia/lsh/EasyLSH.java:12-87);
for the image graft the same "is same content" check is
``hamming64(phash_a, phash_b) < 4``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# pluggable real codec: PIL decodes/encodes actual PNG/JPEG/WEBP when
# installed; the deterministic MSPK stand-in is always available and is
# selected by container sniffing (magic bytes), exactly how a production
# decode path dispatches
try:  # pragma: no cover - container has no PIL; exercised where it does
    from PIL import Image as _PILImage

    HAVE_PIL = True
except ImportError:
    _PILImage = None
    HAVE_PIL = False

IMAGE_BACKEND = "pil" if HAVE_PIL else "stub"

MAGIC = b"MSPK"
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"
LOSSY_FORMATS = frozenset({"jpeg", "webp"})
_FMT_CODES = {"png": 0, "jpeg": 1, "webp": 2}
_FMT_NAMES = {v: k for k, v in _FMT_CODES.items()}


def image_backend_of(data: bytes) -> str:
    """Which decoder a payload will route to: 'stub' for the MSPK
    container, 'png'/'jpeg' for real PNG/JPEG (stdlib+numpy decoders —
    ALWAYS available, like the WAV audio path), 'pil' for other real
    formats when PIL is importable, 'none' otherwise (decode will raise)."""
    if data and bytes(data[:4]) == MAGIC:
        return "stub"
    if data and bytes(data[:8]) == PNG_MAGIC:
        return "png"
    if data and bytes(data[:3]) == JPEG_MAGIC:
        return "jpeg"
    return "pil" if HAVE_PIL else "none"


# ---------------------------------------------------------------------------
# REAL baseline PNG, stdlib-only (zlib inflate/deflate + filter recon).
# The real-image counterpart of the always-on RIFF/WAVE audio path: the
# real-codec branch runs in every environment, not only where PIL is
# installed.  Spec: RFC 2083 — 8-bit depth, color types 0/2/4/6,
# filters 0-4 (None/Sub/Up/Average/Paeth), no interlace.
# ---------------------------------------------------------------------------


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """HxWx3 uint8 → real PNG bytes (8-bit truecolor).

    ``filter_type`` selects the per-scanline filter (0=None, 1=Sub, 2=Up,
    3=Average, 4=Paeth) — the ENCODE side is fully vectorizable because
    every predictor reads original pixel values, no sequential recurrence.
    Real-world PNGs are mostly Paeth-filtered; encoding with
    filter_type=4 lets tests/benches exercise the decoder's scan paths on
    authentic data."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("expected HxWx3 uint8")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad filter type {filter_type}")
    h, w, _ = arr.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    px = arr.reshape(h, w * 3).astype(np.int32)
    left = np.zeros_like(px)
    left[:, 3:] = px[:, :-3]
    up = np.zeros_like(px)
    up[1:] = px[:-1]
    ul = np.zeros_like(px)
    ul[1:, 3:] = px[:-1, :-3]
    if filter_type == 0:
        filt = px
    elif filter_type == 1:
        filt = px - left
    elif filter_type == 2:
        filt = px - up
    elif filter_type == 3:
        filt = px - ((left + up) >> 1)
    else:  # Paeth
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
        )
        filt = px - pred

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = (filt & 0xFF).astype(np.uint8)
    idat = zlib.compress(raw.tobytes(), level=6)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _defilter_row(
    ftype: int, line: np.ndarray, prev: np.ndarray, bpp: int, stride: int
) -> np.ndarray:
    """One scanline's filter reconstruction → int32 row.

    None/Up are pure vector ops; Sub is a per-channel prefix sum
    (cumsum mod 256 — modular addition distributes over the sum);
    Average/Paeth are inherently sequential in x (each pixel reads its
    RECONSTRUCTED left neighbor), so they run as hoisted pure-Python byte
    loops over plain int lists — no per-element numpy scalar extraction,
    ~10× the naive ndarray-indexing loop (measured 512×512 Paeth:
    2.77 s → 0.26 s).  See tools/png_bench.py for the MB/s boundary:
    a Paeth-heavy real corpus should install PIL (auto-preferred when
    importable); the stdlib path guarantees the pipeline runs anywhere."""
    if ftype == 0:  # None
        return line
    if ftype == 2:  # Up
        return (line + prev) & 0xFF
    if ftype == 1:  # Sub: rec[x] = Σ line[c::bpp] mod 256 → cumsum
        return (
            np.cumsum(line.reshape(stride // bpp, bpp), axis=0, dtype=np.int64)
            .reshape(stride) & 0xFF
        ).astype(np.int32)
    rec = line.tolist()
    pv = prev.tolist()
    if ftype == 3:  # Average
        for x in range(bpp):
            rec[x] = (rec[x] + (pv[x] >> 1)) & 0xFF
        for x in range(bpp, stride):
            rec[x] = (rec[x] + ((rec[x - bpp] + pv[x]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth (paeth(0, up, 0) == up for the first pixel)
        for x in range(bpp):
            rec[x] = (rec[x] + pv[x]) & 0xFF
        for x in range(bpp, stride):
            a = rec[x - bpp]
            b = pv[x]
            c = pv[x - bpp]
            p = a + b - c
            pa = p - a if p > a else a - p
            pb = p - b if p > b else b - p
            pc = p - c if p > c else c - p
            if pa <= pb and pa <= pc:
                pr = a
            elif pb <= pc:
                pr = b
            else:
                pr = c
            rec[x] = (rec[x] + pr) & 0xFF
    else:
        raise ValueError(f"bad filter type {ftype}")
    return np.asarray(rec, dtype=np.int32)


def _png_decode(data: bytes) -> np.ndarray:
    """Real PNG bytes → HxWx3 uint8 (alpha dropped, grayscale broadcast).
    Raises ValueError on corruption or features outside baseline
    (16-bit depth, palette, interlace) — those fall back to PIL when
    available."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError("chunk CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or comp != 0 or filt != 0:
                raise ValueError("unsupported bit depth / methods")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            if color_type not in (0, 2, 4, 6):
                raise ValueError("palette PNG unsupported")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("bad IDAT length")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels
    for y in range(height):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        out[y] = _defilter_row(ftype, line, prev, bpp, stride).astype(np.uint8)
    px = out.reshape(height, width, channels)
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 2:
        return px.copy()
    if color_type == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()  # RGBA → drop alpha (PIL convert("RGB"))


def encode_image(arr: np.ndarray, fmt: str, backend: str = "stub") -> bytes:
    """arr: HxWx3 uint8 → container bytes.

    backend='stub' (default, always available, deterministic): MSPK
    container, lossy fmts quantized to 6 bits.  backend='real': REAL
    bytes — stdlib baseline PNG for fmt='png' (always available, like the
    WAV audio path), PIL for jpeg/webp (raises if PIL is absent).
    backend='pil': real bytes via PIL for any fmt."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("expected HxWx3 uint8")
    if fmt not in _FMT_CODES:
        raise ValueError(f"unknown fmt {fmt!r}")
    if backend == "real":
        if fmt == "png":
            return encode_png(arr)
        if fmt == "jpeg":
            # quality 98: clears the input_hint's PSNR>=40dB lossy floor
            # with margin even on the noise-heavy synthetic corpus (~43.7dB;
            # real photos fare better) while staying a true lossy encode
            from .jpegcodec import encode_jpeg

            return encode_jpeg(arr, quality=98)
        backend = "pil"
    if backend == "pil":
        if not HAVE_PIL:
            raise ValueError("PIL not available for backend='pil'")
        import io

        buf = io.BytesIO()
        _PILImage.fromarray(arr, "RGB").save(buf, format=fmt.upper())
        return buf.getvalue()
    h, w, _ = arr.shape
    payload = arr
    if fmt in LOSSY_FORMATS:
        payload = (arr >> 2).astype(np.uint8)  # 6-bit quantization (lossy stand-in)
    compressed = zlib.compress(payload.tobytes(), level=6)
    return MAGIC + struct.pack("<BHH", _FMT_CODES[fmt], w, h) + compressed


def decode_image(data: bytes) -> tuple[np.ndarray, str]:
    """container bytes → (HxWx3 uint8, fmt), dispatched on magic bytes:
    MSPK → deterministic stub; anything else → PIL when installed.
    Raises ValueError on corruption or an undecodable container."""
    if not data:
        raise ValueError("empty payload")
    data = bytes(data)
    if data[:4] != MAGIC:
        if data[:8] == PNG_MAGIC:
            # REAL path, stdlib, always on; PIL only for non-baseline
            # variants (palette/16-bit/interlace)
            try:
                return _png_decode(data), "png"
            except ValueError:
                if not HAVE_PIL:
                    raise
        if data[:3] == JPEG_MAGIC:
            # REAL baseline JPEG path, stdlib+numpy, always on; PIL only
            # for non-baseline modes (progressive/arithmetic/12-bit)
            from .jpegcodec import decode_jpeg

            try:
                return decode_jpeg(data), "jpeg"
            except ValueError:
                if not HAVE_PIL:
                    raise
        if HAVE_PIL:
            import io

            with _PILImage.open(io.BytesIO(data)) as im:
                fmt = (im.format or "").lower()
                fmt = {"jpg": "jpeg"}.get(fmt, fmt)
                arr = np.asarray(im.convert("RGB"), dtype=np.uint8)
            return arr, fmt
        raise ValueError("bad magic (and no real codec installed)")
    fmt_code, w, h = struct.unpack("<BHH", data[4:9])
    fmt = _FMT_NAMES.get(fmt_code)
    if fmt is None:
        raise ValueError("bad fmt code")
    raw = zlib.decompress(data[9:])
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    if fmt in LOSSY_FORMATS:
        # dequantize to bucket centers to minimize error
        arr = np.minimum(arr.astype(np.uint16) * 4 + 2, 255).astype(np.uint8)
    return arr, fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# --- perceptual hash -------------------------------------------------------

_DCT_N = 32


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT_M = _dct_matrix(_DCT_N)


def _resize_block_mean(gray: np.ndarray, out: int) -> np.ndarray:
    """Nearest-bucket block-mean resize to out×out (deterministic)."""
    h, w = gray.shape
    ys = (np.arange(out + 1) * h // out).astype(np.int64)
    xs = (np.arange(out + 1) * w // out).astype(np.int64)
    # non-empty buckets for tiny images come from the upscale branch below
    # (it rebuilds ys/xs after repetition)
    if h < out or w < out:
        # upscale tiny images by repetition first
        ry = int(np.ceil(out / h))
        rx = int(np.ceil(out / w))
        gray = np.repeat(np.repeat(gray, ry, axis=0), rx, axis=1)
        h, w = gray.shape
        ys = (np.arange(out + 1) * h // out).astype(np.int64)
        xs = (np.arange(out + 1) * w // out).astype(np.int64)
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = np.cumsum(np.cumsum(gray.astype(np.float64), axis=0), axis=1)
    y0, y1 = ys[:-1], ys[1:]
    x0, x1 = xs[:-1], xs[1:]
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    s = (
        csum[np.ix_(y1, x1)]
        - csum[np.ix_(y0, x1)]
        - csum[np.ix_(y1, x0)]
        + csum[np.ix_(y0, x0)]
    )
    return s / np.maximum(area, 1)


def phash64(arr: np.ndarray) -> int:
    """64-bit perceptual hash (signed int64, parquet-friendly)."""
    gray = arr.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    small = _resize_block_mean(gray, _DCT_N)
    dct = _DCT_M @ small @ _DCT_M.T
    block = dct[:8, :8].flatten()
    med = np.median(block[1:])  # skip DC term
    bits = block > med
    bits[0] = dct[0, 0] > 0
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
