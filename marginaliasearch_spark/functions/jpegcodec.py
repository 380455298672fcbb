"""REAL baseline JPEG codec, stdlib+numpy only — the lossy-image counterpart
of the always-on stdlib PNG path (``imagecodec.encode_png``/``_png_decode``)
and the RIFF/WAVE audio path.

Why this exists: BASELINE.json's per-row payload invariant is
"decoded-pixel allclose (PSNR ≥ 40 dB for lossy formats)" over an
image+caption corpus whose ``fmt`` column includes ``jpeg``.  PIL is not
installed in every environment (it is absent from this sandbox), so without
a from-scratch codec the lossy-PSNR invariant would never actually execute
on real JPEG bytes — it would only ever run against the deterministic MSPK
stand-in container.  This module closes that gap the same way round 4's PNG
codec did for the lossless path.

Scope (ITU-T T.81 baseline sequential DCT):
  encoder — SOF0, 8-bit, YCbCr 4:4:4 (no chroma subsampling), Annex K
    quantization tables scaled by the IJG quality formula, Annex K Huffman
    tables, byte stuffing, JFIF APP0.
  decoder — any *baseline* JPEG: SOI/APP*/COM/DQT/DHT/DRI/SOF0/SOS/RSTn/EOI,
    Huffman and quantization tables read FROM THE STREAM (so externally
    produced baseline files — e.g. PIL's, including optimized-Huffman ones —
    decode too, not merely this encoder's output), grayscale or 3-component,
    arbitrary h×v sampling factors up to 2×2 (4:4:4, 4:2:2, 4:2:0), restart
    intervals.  Progressive (SOF2), arithmetic coding, 12-bit precision and
    hierarchical modes raise ValueError — ``imagecodec.decode_image``
    falls back to PIL for those when PIL is importable.

Performance shape: DCT/IDCT, quantization, color conversion and upsampling
are batched numpy (``einsum`` over all 8×8 blocks at once); only the
entropy (Huffman) layer is a Python loop, amortized with numpy bit
unpacking and a flat ≤16-bit lookup table per Huffman table.  Decode
throughput is measured in tools/jpeg_bench.py and recorded in BENCH.md —
like the PNG path, a real-world 100-TB corpus should install PIL/turbojpeg
and let magic-byte dispatch route there; this path guarantees the invariant
is *always executable*.

Reference semantics being served: the reference crawler stores fetched
bodies verbatim and its content-similarity checks operate on decoded
content (crawling-process ContentTypes + easy-lsh EasyLSH.java:12-87 for
the text analogue); the image graft's per-row invariant maps that to
pixel-space PSNR + phash, which requires a real decode.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K) + zigzag
# ---------------------------------------------------------------------------

QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


def _zigzag_order() -> np.ndarray:
    """Indices into a flattened 8x8 block, in zigzag scan order —
    generated, not transcribed, to avoid table typos."""
    # T.81 Figure A.6: scan starts rightward (0,1); odd anti-diagonals run
    # top-right -> bottom-left (row ascending), even ones the reverse
    order = sorted(
        ((x, y) for x in range(8) for y in range(8)),
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
    )
    return np.array([x * 8 + y for x, y in order], dtype=np.int64)


ZIGZAG = _zigzag_order()  # natural-index for each zigzag position
UNZIGZAG = np.argsort(ZIGZAG)  # zigzag position for each natural index

# Annex K.3 Huffman specs: (bits[1..16] counts, values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    n = 8
    k = np.arange(n)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n)) * np.sqrt(2.0 / n)
    d[0, :] = np.sqrt(1.0 / n)
    return d


_D = _dct_matrix()  # orthonormal: IDCT is D.T @ C @ D


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (jcparam.c semantics, public libjpeg API)."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# ---------------------------------------------------------------------------
# Huffman code construction (encode side) — canonical per T.81 Annex C
# ---------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _pack_fields(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """Vectorized MSB-first bit packing of variable-width fields with
    0xFF byte stuffing — the whole scan is emitted in one numpy pass
    instead of a per-symbol bit writer (same shape as the PNG encoder's
    hoisted filter pass)."""
    if len(codes) == 0:
        return b""
    lens = lens.astype(np.int64)
    codes = codes.astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    total = int(offsets[-1])
    positions = np.arange(total, dtype=np.int64)
    field = np.searchsorted(offsets, positions, side="right") - 1
    shift = lens[field] - 1 - (positions - offsets[field])
    bits = ((codes[field] >> shift) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, dtype=np.uint8)])  # 1-pad per spec
    out = np.packbits(bits)
    # byte stuffing: insert 0x00 after every 0xFF
    ff = np.nonzero(out == 0xFF)[0]
    if len(ff):
        out = np.insert(out, ff + 1, 0)
    return out.tobytes()


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category coding: value -> (size, bits)."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    """HxWx3 uint8 RGB -> HxWx3 float YCbCr (JFIF / BT.601 full-range)."""
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """HxW (multiple of 8) -> (n_blocks, 8, 8), row-major block order."""
    h, w = chan.shape
    return (
        chan.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _pad_to_8(chan: np.ndarray) -> np.ndarray:
    h, w = chan.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    return chan


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 92,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB -> real baseline JFIF bytes (SOF0).

    ``subsampling``: "444" (no chroma subsampling — the corpus default,
    maximizes PSNR), "420" (2x2 chroma subsampling, the common real-world
    layout — exercises the decoder's multi-block-MCU + upsample path), or
    "gray" (single-component luma scan).  ``restart_interval`` > 0 emits
    DRI + RSTn markers every that-many MCUs (exercises the decoder's
    restart resync).

    Everything except the symbol enumeration is batched numpy: color
    convert, block split, DCT (one einsum over all blocks), quantization
    and the final bit-packing (``_pack_fields``) run across the whole
    image at once; only the per-block run-length symbol walk is Python.
    """
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("expected HxWx3 uint8")
    h, w, _ = arr.shape
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("bad dimensions")
    if subsampling not in ("444", "420", "gray"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")

    ycc = _rgb_to_ycbcr(arr)
    qluma = _quality_scale(QUANT_LUMA, quality)
    qchroma = _quality_scale(QUANT_CHROMA, quality)

    # --- per-component coefficient blocks in MCU-interleaved order ----------
    # comp_blocks[c]: (n_mcus * bpm[c], 64) zigzag-ordered quantized coefs
    comp_blocks: list[np.ndarray] = []

    def _dct_quant(chan: np.ndarray, q: np.ndarray) -> np.ndarray:
        blocks = _to_blocks(chan)
        dct = np.einsum("ij,njk,lk->nil", _D, blocks - 128.0, _D, optimize=True)
        quant = np.round(dct / q.astype(np.float64)).astype(np.int64)
        return quant.reshape(-1, 64)[:, ZIGZAG]

    if subsampling == "gray":
        chan = _pad_to_8(ycc[..., 0])
        comp_blocks.append(_dct_quant(chan, qluma))
        bpm = [1]
        n_mcus = comp_blocks[0].shape[0]
        comps_hdr = [(1, 0x11, 0)]
        scan_hdr = [(1, 0x00)]
    elif subsampling == "444":
        for c in range(3):
            chan = _pad_to_8(ycc[..., c])
            comp_blocks.append(_dct_quant(chan, qluma if c == 0 else qchroma))
        bpm = [1, 1, 1]
        n_mcus = comp_blocks[0].shape[0]
        comps_hdr = [(1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1)]
        scan_hdr = [(1, 0x00), (2, 0x11), (3, 0x11)]
    else:  # 420
        ph, pw = (-h) % 16, (-w) % 16
        big = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
        bh, bw = big.shape[:2]
        mcus_y, mcus_x = bh // 16, bw // 16
        # Y: 8x8 grid blocks re-ordered so each MCU's 2x2 appear together
        ygrid = (
            big[..., 0].reshape(bh // 8, 8, bw // 8, 8).transpose(0, 2, 1, 3)
        )  # (gy, gx, 8, 8)
        ymcu = (
            ygrid.reshape(mcus_y, 2, mcus_x, 2, 8, 8)
            .transpose(0, 2, 1, 3, 4, 5)
            .reshape(-1, 8, 8)
        )
        ydct = np.einsum("ij,njk,lk->nil", _D, ymcu - 128.0, _D, optimize=True)
        yq = np.round(ydct / qluma.astype(np.float64)).astype(np.int64)
        comp_blocks.append(yq.reshape(-1, 64)[:, ZIGZAG])
        # chroma: 2x2 box downsample, one 8x8 block per MCU
        for c in (1, 2):
            ch = big[..., c]
            ds = (ch[0::2, 0::2] + ch[0::2, 1::2] + ch[1::2, 0::2] + ch[1::2, 1::2]) / 4.0
            comp_blocks.append(_dct_quant(ds, qchroma))
        bpm = [4, 1, 1]
        n_mcus = mcus_y * mcus_x
        comps_hdr = [(1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)]
        scan_hdr = [(1, 0x00), (2, 0x11), (3, 0x11)]

    ncomp = len(comp_blocks)
    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    tabs = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (ncomp - 1)

    # --- symbol stream, one restart segment at a time ------------------------
    segments: list[bytes] = []
    out_codes: list[int] = []
    out_lens: list[int] = []
    prev_dc = [0] * ncomp
    blk_cursor = [0] * ncomp

    def _flush_segment() -> None:
        segments.append(
            _pack_fields(
                np.array(out_codes, dtype=np.int64), np.array(out_lens, dtype=np.int64)
            )
        )
        out_codes.clear()
        out_lens.clear()

    for mi in range(n_mcus):
        if restart_interval and mi and mi % restart_interval == 0:
            _flush_segment()
            prev_dc = [0] * ncomp
        for c in range(ncomp):
            dc_tab, ac_tab = tabs[c]
            for _ in range(bpm[c]):
                blk = comp_blocks[c][blk_cursor[c]]
                blk_cursor[c] += 1
                diff = int(blk[0]) - prev_dc[c]
                prev_dc[c] = int(blk[0])
                size, bits = _magnitude(diff)
                code, length = dc_tab[size]
                out_codes.append(code)
                out_lens.append(length)
                if size:
                    out_codes.append(bits)
                    out_lens.append(size)
                ac = blk[1:]
                nz = np.nonzero(ac)[0]
                pos = 0
                for idx in nz.tolist():
                    run = idx - pos
                    while run >= 16:
                        code, length = ac_tab[0xF0]  # ZRL
                        out_codes.append(code)
                        out_lens.append(length)
                        run -= 16
                    size, bits = _magnitude(int(ac[idx]))
                    code, length = ac_tab[(run << 4) | size]
                    out_codes.append(code)
                    out_lens.append(length)
                    out_codes.append(bits)
                    out_lens.append(size)
                    pos = idx + 1
                if pos < 63:
                    code, length = ac_tab[0x00]  # EOB
                    out_codes.append(code)
                    out_lens.append(length)
    _flush_segment()

    scan = bytearray(segments[0])
    for si, seg in enumerate(segments[1:]):
        scan += bytes([0xFF, 0xD0 + (si % 8)])  # RSTn, cycling 0..7
        scan += seg

    # --- marker segments -----------------------------------------------------
    out = bytearray(b"\xff\xd8")  # SOI
    # APP0 JFIF
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    # DQT (8-bit precision)
    qtabs = ((0, qluma),) if ncomp == 1 else ((0, qluma), (1, qchroma))
    for tid, q in qtabs:
        payload = bytes([tid]) + bytes(int(x) for x in q.reshape(-1)[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload
    # SOF0
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for cid, hv, qtab in comps_hdr:
        sof += bytes([cid, hv, qtab])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    huff_specs = [
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
    ]
    if ncomp > 1:
        huff_specs += [
            (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
    for klass, tid, bits, vals in huff_specs:
        payload = bytes([(klass << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    # DRI
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for cid, t in scan_hdr:
        sos += bytes([cid, t])
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _HuffTable:
    """Flat ≤16-bit lookup: peek 16 bits, one table index -> (symbol, len).

    Built once per DHT; turns the per-symbol decode into a single numpy
    peek + dict-free array lookup instead of a bit-by-bit tree walk.
    """

    __slots__ = ("lut", "max_len")

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        codes = _build_codes(bits, vals)
        self.max_len = max((l for _, l in codes.values()), default=0)
        size = 1 << 16
        sym = np.full(size, -1, dtype=np.int64)
        ln = np.zeros(size, dtype=np.int64)
        for s, (code, length) in codes.items():
            prefix = code << (16 - length)
            span = 1 << (16 - length)
            sym[prefix : prefix + span] = s
            ln[prefix : prefix + span] = length
        # one flat Python list of (sym<<5)|len ints: a single list index in
        # the per-symbol decode loop, no numpy scalar boxing
        self.lut = ((sym << 5) | ln).tolist()


class _BitReader:
    """MSB-first reader over a de-stuffed scan; tracks restart segments.

    ``words`` is precomputed once: words[i] = the 4 bytes starting at byte
    i as a big-endian uint32 (zero-padded past the end), exposed as a
    Python list — a 16-bit peek at any bit position is a single list index
    plus shifts, with no per-peek byte loop."""

    __slots__ = ("words", "pos_bit", "nbits")

    def __init__(self, data: bytes) -> None:
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        padded = np.concatenate([arr, np.zeros(4, dtype=np.int64)])
        words = (
            (padded[:-3] << 24) | (padded[1:-2] << 16) | (padded[2:-1] << 8) | padded[3:]
        )
        self.words = words.tolist()
        self.pos_bit = 0
        self.nbits = len(data) * 8

    def peek16(self) -> int:
        p = self.pos_bit
        return (self.words[p >> 3] >> (16 - (p & 7))) & 0xFFFF

    def skip(self, n: int) -> None:
        self.pos_bit += n
        if self.pos_bit > self.nbits:
            raise ValueError("truncated JPEG scan")

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        v = self.peek16() >> (16 - n)
        self.skip(n)
        return v


def _destuff(scan: bytes) -> tuple[bytes, list[int]]:
    """Remove 0x00 stuffing after 0xFF; record byte offsets (in the
    de-stuffed stream) where RSTn markers sat, for restart handling."""
    arr = np.frombuffer(scan, dtype=np.uint8)
    out = bytearray()
    rst_offsets: list[int] = []
    i = 0
    n = len(arr)
    while i < n:
        b = int(arr[i])
        if b == 0xFF:
            nxt = int(arr[i + 1]) if i + 1 < n else 0xD9
            if nxt == 0x00:
                out.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                rst_offsets.append(len(out))
                i += 2
                continue
            break  # next real marker (EOI or otherwise) ends the scan
        out.append(b)
        i += 1
    return bytes(out), rst_offsets


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> HxWx3 uint8 RGB (grayscale is replicated).

    Tables are read from the stream; raises ValueError for non-baseline
    modes (progressive/arithmetic/12-bit) so callers can fall back to PIL.
    """
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    restart_interval = 0
    frame = None  # (h, w, components) with comp = (cid, hs, vs, tq)
    scan_bytes = None
    scan_comps = None

    n = len(data)
    try:
        while pos < n:
            if data[pos] != 0xFF:
                raise ValueError(f"marker sync lost at {pos}")
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD8:  # stray SOI
                continue
            if marker == 0xD9:  # EOI
                break
            if 0xD0 <= marker <= 0xD7:  # RSTn outside scan — ignore
                continue
            if marker == 0x01:  # TEM
                continue
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            seg = data[pos + 2 : pos + seglen]
            if marker == 0xDB:  # DQT — may hold several tables
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 0x0F
                    p += 1
                    if pq == 0:
                        tab = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                        p += 64
                    else:  # 16-bit precision
                        tab = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                        p += 128
                    nat = np.empty(64, dtype=np.int32)
                    nat[ZIGZAG] = tab  # stored in zigzag order
                    qtables[tq] = nat.reshape(8, 8)
            elif marker == 0xC4:  # DHT — may hold several tables
                p = 0
                while p < len(seg):
                    klass, tid = seg[p] >> 4, seg[p] & 0x0F
                    bits = list(seg[p + 1 : p + 17])
                    nvals = sum(bits)
                    vals = list(seg[p + 17 : p + 17 + nvals])
                    htables[(klass, tid)] = _HuffTable(bits, vals)
                    p += 17 + nvals
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xC0 or marker == 0xC1:  # SOF0 / extended sequential
                prec = seg[0]
                if prec != 8:
                    raise ValueError(f"unsupported precision {prec}")
                fh, fw = struct.unpack(">HH", seg[1:5])
                ncomp = seg[5]
                comps = []
                for ci in range(ncomp):
                    cid = seg[6 + ci * 3]
                    hv = seg[7 + ci * 3]
                    comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + ci * 3]))
                frame = (fh, fw, comps)
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(f"non-baseline SOF marker 0xFF{marker:02X}")
            elif marker == 0xDA:  # SOS
                ns = seg[0]
                scan_comps = []
                for ci in range(ns):
                    cid = seg[1 + ci * 2]
                    tabs = seg[2 + ci * 2]
                    scan_comps.append((cid, tabs >> 4, tabs & 0x0F))
                scan_bytes = data[pos + seglen :]
                pos += seglen
                break
            # APPn / COM / others: skip
            pos += seglen

    except (IndexError, struct.error) as ex:
        # corrupted segment lengths / truncated tables surface as a
        # typed decode error, never a raw indexing crash
        raise ValueError(f"malformed JPEG header: {ex}")

    if frame is None or scan_bytes is None:
        raise ValueError("missing SOF/SOS")
    fh, fw, comps = frame
    if fh == 0 or fw == 0:
        raise ValueError("zero dimension")
    ncomp = len(comps)
    if ncomp not in (1, 3):
        raise ValueError(f"unsupported component count {ncomp}")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2 or any(c[1] < 1 or c[2] < 1 for c in comps):
        raise ValueError("unsupported sampling factors")

    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (fw + mcu_w - 1) // mcu_w
    mcus_y = (fh + mcu_h - 1) // mcu_h

    # per-component collected coefficient blocks (MCU-interleaved order)
    by_comp: list[list[np.ndarray]] = [[] for _ in comps]
    comp_tabs = {}
    for cid, dct, act in scan_comps:
        for k, c in enumerate(comps):
            if c[0] == cid:
                comp_tabs[k] = (dct, act)
    if len(comp_tabs) != ncomp:
        raise ValueError("scan does not cover all frame components")

    destuffed, rst_offsets = _destuff(scan_bytes)
    br = _BitReader(destuffed)
    prev_dc = [0] * ncomp
    rst_iter = iter(rst_offsets)

    # resolve per-component tables once
    luts = []
    for k in range(ncomp):
        dct_id, act_id = comp_tabs[k]
        dc_tab = htables.get((0, dct_id))
        ac_tab = htables.get((1, act_id))
        if dc_tab is None or ac_tab is None:
            raise ValueError("missing Huffman table")
        luts.append((dc_tab.lut, ac_tab.lut))

    # entropy loop with the bit-reader state inlined as locals — peek is a
    # single list index + shifts; this loop is the only sequential part of
    # the decode (Huffman positions are data-dependent), everything after
    # it is batched numpy
    words = br.words
    nbits = br.nbits
    pos = 0
    total_mcus = mcus_x * mcus_y
    try:
        for mi in range(total_mcus):
            if restart_interval and mi and mi % restart_interval == 0:
                # byte-align and consume the recorded restart boundary
                nxt = next(rst_iter, None)
                if nxt is None:
                    raise ValueError("missing restart marker")
                pos = nxt * 8
                prev_dc = [0] * ncomp
            for k, (_cid, hs, vs, _tq) in enumerate(comps):
                dc_lut, ac_lut = luts[k]
                for _ in range(hs * vs):
                    blk = [0] * 64
                    # DC
                    packed = dc_lut[(words[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                    if packed < 0:
                        raise ValueError("bad Huffman code (DC)")
                    pos += packed & 31
                    size = packed >> 5
                    if size:
                        v = ((words[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF) >> (16 - size)
                        pos += size
                        prev_dc[k] += v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                    blk[0] = prev_dc[k]
                    # AC
                    zi = 1
                    while zi < 64:
                        packed = ac_lut[(words[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                        if packed < 0:
                            raise ValueError("bad Huffman code (AC)")
                        pos += packed & 31
                        sym = packed >> 5
                        if sym == 0x00:  # EOB
                            break
                        size = sym & 0x0F
                        if size == 0:
                            if sym != 0xF0:
                                raise ValueError("bad AC symbol")
                            zi += 16  # ZRL
                            continue
                        zi += sym >> 4
                        if zi > 63:
                            raise ValueError("AC coefficient overrun")
                        v = ((words[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF) >> (16 - size)
                        pos += size
                        blk[zi] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                        zi += 1
                    by_comp[k].append(blk)
            if pos > nbits:
                raise ValueError("truncated JPEG scan")

    except IndexError:
        # a corrupt/truncated stream can run the bit cursor past the
        # precomputed word table inside an MCU
        raise ValueError("truncated JPEG scan")

    # --- batched numpy reconstruction per component -------------------------
    planes = []
    for k, (_cid, hs, vs, tq) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("missing quantization table")
        zz = (
            np.array(by_comp[k], dtype=np.int64)
            if by_comp[k]
            else np.zeros((0, 64), dtype=np.int64)
        )
        nat = zz[:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
        nat *= q[None, :, :]
        pix = np.einsum("ji,njk,kl->nil", _D, nat, _D, optimize=True) + 128.0
        # blocks arrive MCU-interleaved: MCU (mx,my) holds vs*hs blocks
        # row-major within the MCU — one transpose places them all
        cw, ch = mcus_x * hs * 8, mcus_y * vs * 8
        plane = (
            pix.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(ch, cw)
        )
        # upsample to full-frame resolution (nearest, matches box downsample)
        if hs != hmax or vs != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        planes.append(plane[:fh, :fw])

    if ncomp == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
