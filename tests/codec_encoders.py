"""Encoders for the codec decoders' test fixtures: PNG, PCM-16 WAV,
YUV4MPEG2 and baseline JPEG, pure stdlib+numpy, so the decoder tests in
``tests/test_codecs.py`` generate their inputs hermetically. The decoders
they feed are in :mod:`pyld_spark.operators.codecs`; the JPEG encoder
shares its zigzag order, DCT matrix and Huffman code assignment.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from pyld_spark.operators.codecs import (
    _DCT_C,
    _PNG_SIG,
    _Y4M_SIG,
    _ZIGZAG,
    _huff_codes,
)

_CHANNELS_TO_COLOR = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(typ: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)


def encode_png(arr: np.ndarray) -> bytes:
    """Encode an (H,W) or (H,W,C) uint8 array as a non-interlaced PNG
    (filter type 0 per scanline)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in _CHANNELS_TO_COLOR:
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w, c = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _CHANNELS_TO_COLOR[c], 0, 0, 0)
    # prepend filter byte 0 to each scanline
    scan = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, w * c)], axis=1
    )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )



def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Encode an int16 array (n,) mono or (n,2) stereo as PCM-16 WAV."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2 or s.shape[1] not in (1, 2):
        raise ValueError(f"unsupported sample shape {samples.shape}")
    n_ch = s.shape[1]
    payload = s.tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", len(body)) + body



def encode_y4m(
    frames: np.ndarray, fps: tuple[int, int] = (25, 1)
) -> bytes:
    """Encode (n,H,W) uint8 (mono) or (n,H,W,3) uint8 (YUV 4:4:4) frames as
    a YUV4MPEG2 stream — the standard uncompressed video interchange format
    (mjpegtools/ffmpeg ``.y4m``), real end to end with zero codec deps."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim == 3:
        cspace = b"Cmono"
    elif a.ndim == 4 and a.shape[3] == 3:
        cspace = b"C444"
    else:
        raise ValueError(f"unsupported frame stack shape {frames.shape}")
    n, h, w = a.shape[:3]
    head = b"%sW%d H%d F%d:%d Ip A1:1 %s\n" % (
        _Y4M_SIG, w, h, fps[0], fps[1], cspace
    )
    parts = [head]
    for i in range(n):
        parts.append(b"FRAME\n")
        if a.ndim == 3:
            parts.append(a[i].tobytes())
        else:  # planar: all Y, then all U, then all V
            parts.append(np.ascontiguousarray(a[i].transpose(2, 0, 1)).tobytes())
    return b"".join(parts)


# ITU-T T.81 Annex K reference tables (public spec)
_STD_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
])
_STD_QT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
])
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
           list(range(12)))
_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scaling mapping (quality 1-100)."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((qt * scale + 50) // 100, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _magnitude(v: int) -> tuple[int, int]:
    """(category, amplitude bits) — negatives in one's complement."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    return cat, (v if v > 0 else v + (1 << cat) - 1)


def _encode_block(bw: _BitWriter, block: np.ndarray, pred: int,
                  dc_tab: dict, ac_tab: dict) -> int:
    """Quantized 8x8 block (zigzag order) -> entropy stream; returns DC."""
    dc = int(block[0])
    cat, amp = _magnitude(dc - pred)
    code, ln = dc_tab[cat]
    bw.write(code, ln)
    if cat:
        bw.write(amp, cat)
    run = 0
    last_nz = int(np.max(np.nonzero(block)[0])) if np.any(block) else 0
    for i in range(1, 64):
        v = int(block[i])
        if i > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        cat, amp = _magnitude(v)
        code, ln = ac_tab[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(amp, cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]  # EOB
        bw.write(code, ln)
    return dc


def encode_jpeg_baseline(arr: np.ndarray, quality: int = 75,
                         subsampling: str = "444") -> bytes:
    """Encode an (H,W) grayscale or (H,W,3) RGB uint8 array as a baseline
    sequential JFIF JPEG (Annex K tables scaled by ``quality``;
    ``subsampling`` in {'444','420','422'} for color)."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"unsupported array shape {arr.shape}")
    if subsampling not in ("444", "420", "422"):
        raise ValueError(f"subsampling must be 444/420/422, got {subsampling}")
    h, w = a.shape[:2]
    if not h or not w:
        raise ValueError("empty image")

    qt_l = _quality_scale(_STD_QT_LUM, quality)
    qt_c = _quality_scale(_STD_QT_CHR, quality)
    if gray:
        planes = [a.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        qts = [qt_l]
    else:
        rgb = a.astype(np.float64)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = 128.0 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2]
        cr = 128.0 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2]
        sh, sv = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}[subsampling]
        def _down(p):
            ph = -(-h // sv) * sv
            pw = -(-w // sh) * sh
            padded = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            return padded.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))
        planes = [y - 128.0, _down(cb) - 128.0, _down(cr) - 128.0]
        samp = [(sh, sv), (1, 1), (1, 1)]
        qts = [qt_l, qt_c, qt_c]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # pad each plane to its MCU-aligned size and pre-split into blocks
    comp_blocks = []
    for plane, (sh, sv) in zip(planes, samp):
        ph = mcus_y * sv * 8
        pw = mcus_x * sh * 8
        padded = np.pad(plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                        mode="edge")
        comp_blocks.append(padded)

    dc_l, ac_l = _huff_codes(*_DC_LUM), _huff_codes(*_AC_LUM)
    dc_c, ac_c = _huff_codes(*_DC_CHR), _huff_codes(*_AC_CHR)
    bw = _BitWriter()
    preds = [0] * len(planes)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (plane, (sh, sv), qt) in enumerate(
                zip(comp_blocks, samp, qts)
            ):
                dct_q = qt[_ZIGZAG].astype(np.float64)
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        blk = plane[y0:y0 + 8, x0:x0 + 8]
                        coef = _DCT_C @ blk @ _DCT_C.T
                        zz = coef.reshape(64)[_ZIGZAG]
                        q = np.round(zz / dct_q).astype(np.int64)
                        preds[ci] = _encode_block(
                            bw, q, preds[ci],
                            dc_l if ci == 0 else dc_c,
                            ac_l if ci == 0 else ac_c,
                        )
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qt_l[_ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xFFDB, b"\x01" + bytes(qt_c[_ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        sof += struct.pack(">BBB", ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1)
    out += seg(0xFFC0, sof)
    for tc_th, (bits, vals) in (
        ((0x00, _DC_LUM), (0x10, _AC_LUM)) if gray else
        ((0x00, _DC_LUM), (0x10, _AC_LUM), (0x01, _DC_CHR), (0x11, _AC_CHR))
    ):
        out += seg(0xFFC4, bytes([tc_th] + bits) + bytes(vals))
    sos = struct.pack(">B", ncomp)
    for ci in range(ncomp):
        sos += struct.pack(">BB", ci + 1, 0x00 if ci == 0 else 0x11)
    sos += b"\x00\x3F\x00"
    out += seg(0xFFDA, sos)
    out += bw.buf
    out += b"\xFF\xD9"  # EOI
    return bytes(out)
