"""Dependency-free media codecs: PNG, baseline JPEG, GIF, PCM WAV,
and MJPEG AVI.

The multimodal stage needs decode kernels that run on every executor.
This container ships no PIL/ffmpeg/soundfile — so the formats that
cover most real corpora are implemented from their public specs with
stdlib ``zlib``/``struct`` + numpy, and for those the pipeline is
REAL end-to-end: bytes in parquet -> decoded pixels/samples/frames ->
features/dHash/resize, all inside Arrow batches.

* PNG: 8-bit gray/RGB/palette/alpha, all five scanline filters.
* JPEG: baseline sequential huffman (SOF0/SOF1), gray + YCbCr,
  4:4:4 / 4:2:2 / 4:2:0 sampling, restart markers; the encoder uses
  the Annex-K tables with IJG quality scaling. Progressive (SOF2)
  decodes fully (spectral selection + successive approximation), and
  12-bit SOF1/SOF2 streams decode at full precision then reduce to
  the top 8 bits (the 16-bit PNG/TIFF rule; `encode_jpeg_ext12` is
  the fixture twin). Arithmetic coding raises NotImplementedError.
* GIF: 87a/89a including animation — full canvas composition with
  GCE transparency and disposal methods 1/2/3, LZW + interlace; the
  encoders (static + animated) are palette-exact (<= 256 colors), so
  GIF round trips are LOSSLESS — which is what pins the LZW pair
  bit-for-bit.
* WAV: PCM 8/16/24/32-bit int + float32, manual RIFF walk.
* AVI: MJPEG container walk — real video frames via the JPEG kernel.
* BMP/ICO (round 9): core + INFO-family DIB headers, 1/4/8-bit
  palette, RLE8/RLE4, 16/32-bit bitfields, bottom-up/top-down; ICO
  walks the ICONDIR (PNG or DIB entries, AND-mask alpha).
* PNM (P1-P6), TGA (incl. RLE + 15/16-bit + palette), APNG (fcTL/
  fdAT composition through the PNG kernel), Y4M (BT.601 studio-swing
  planar decode), WebP (container truth; pixel decode refuses) —
  all round 9.

MP3 and non-MJPEG video remain honestly unimplemented
(``NotImplementedError``). The decode/encode pairs are written
independently enough that the round-trip tests in tests/test_jpeg.py /
test_gif.py / test_codecs.py catch a defect in either direction; the
DCT basis is additionally pinned against a naive O(N^4)
definition-form oracle.

Scale note: these functions are per-row kernels invoked from
``mapInPandas`` — decode cost is embarrassingly parallel and
constant-memory per Arrow batch; nothing here touches the driver.
The JPEG entropy decode is bit-serial Python (fine for the fixture
sizes tested here); a production deployment would swap the kernel for
PIL/libjpeg-turbo behind the same ``decode_image`` seam.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (before palette expansion)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return bytes(data[:8]) == PNG_SIG


# Resource guard for untrusted bytes: header dimension fields are
# attacker-controlled and drive canvas/coefficient ALLOCATIONS before
# any pixel decodes, so a 1 KB file claiming 65535x65535 would allocate
# gigabytes — an OOM the quarantine channel cannot catch (the kernel
# OOM-killer fires before Python raises). 2^26 pixels (67 MP ≈ 8K x 8K)
# admits any sane corpus image; peak decode memory at the cap stays
# ~1 GB (JPEG coefficients, the worst case). Raise it for trusted
# high-resolution archives.
MAX_PIXELS = 1 << 26

# Cap on the SUM of output pixels across an animation's frames: each
# decoded GIF frame is a full-canvas copy, so a small file declaring a
# large screen plus many tiny image blocks multiplies the canvas
# (8K x 8K screen x 1000 one-pixel frames = 200 GB). 2^28 total pixels
# ≈ 805 MB RGB — a million frames of thumbnails, or 4 frames at the
# single-image cap.
MAX_TOTAL_PIXELS = 1 << 28


def _check_pixels(width: int, height: int, what: str) -> None:
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise ValueError(f"{what} dimensions {width}x{height} out of bounds")


def _bounded_inflate(chunks, expected: int) -> bytes:
    """zlib-decompress to AT MOST ``expected`` bytes: a decompression
    bomb (tiny IDAT inflating to gigabytes) raises instead of
    allocating. Returns whatever the stream yields up to the cap — the
    callers' exact length checks handle short streams."""
    d = zlib.decompressobj()
    out = bytearray()
    for ch in chunks:
        out += d.decompress(bytes(ch), expected + 1 - len(out))
        if len(out) > expected:
            raise ValueError("PNG data length mismatch")
    out += d.decompress(b"", expected + 1 - len(out))
    if len(out) > expected:
        raise ValueError("PNG data length mismatch")
    return bytes(out)


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8- or 16-bit PNG to an (H, W, C) uint8 array.

    Supports color types 0/2/3/4/6 (gray, RGB, palette, gray+alpha,
    RGBA), all five scanline filters, single IDAT or split IDATs, and
    Adam7 interlacing (each pass an independently-filtered sub-image,
    spec §8.2). Palette images expand to RGB. 16-bit samples (valid
    for non-palette color types; filters run on BYTES with bpp=2·C per
    spec §9) reduce to uint8 by taking the high byte — the libpng/PIL
    bit-depth-reduction convention. Sub-8-bit depths are rejected.
    """
    data = bytes(data)
    if not is_png(data):
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat, plte, trns = 8, None, [], None, None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = bytes(body)  # layout depends on color type
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("not a PNG: missing IHDR/IDAT")
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad PNG bit depth {depth}")
    if depth < 8 and color not in (0, 3):
        raise ValueError(f"PNG depth {depth} invalid for color type {color}")
    if depth == 16 and color == 3:
        raise ValueError("16-bit palette PNG is not a valid combination")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color}")
    _check_pixels(width, height, "PNG")
    nch = _PNG_CHANNELS[color]
    sw = max(1, depth // 8)  # sample width in bytes (1 for sub-8 values)
    bpp = nch * sw

    def row_nbytes(pw: int) -> int:
        # sub-8 rows pack pixels MSB-first and pad to a byte boundary
        return (pw * depth + 7) // 8 if depth < 8 else pw * bpp

    def to_samples(byte_img: np.ndarray, h: int, w: int) -> np.ndarray:
        """(h, w, nch, sw) full-precision sample bytes — reduction to
        uint8 happens LAST so tRNS color keys match exact samples."""
        if depth < 8:
            return _png_unpack_bits(byte_img, w, depth)[:, :, None, None]
        return byte_img.reshape(h, w, nch, sw)

    if interlace == 0:
        expected = height * (row_nbytes(width) + 1)
    else:
        expected = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                expected += ph * (row_nbytes(pw) + 1)
    raw = _bounded_inflate(idat, expected)
    # filters operate on BYTES: the left-neighbor distance is bpp for
    # depth >= 8 and ONE byte for packed sub-8 rows (spec §9)
    fbpp = bpp if depth >= 8 else 1
    if interlace == 0:
        if len(raw) != height * (row_nbytes(width) + 1):
            raise ValueError("PNG data length mismatch")
        full = to_samples(
            _png_unfilter_pass(raw, 0, row_nbytes(width), height, fbpp)[0],
            height,
            width,
        )
    else:  # Adam7: 7 independently-filtered sub-images, spec §8.2
        full = np.empty((height, width, nch, sw), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass contributes NO bytes (not even filters)
            sub, off = _png_unfilter_pass(raw, off, row_nbytes(pw), ph, fbpp)
            full[y0::dy, x0::dx] = to_samples(sub, ph, pw)
        if off != len(raw):
            raise ValueError("PNG data length mismatch")
    if depth < 8 and color == 0:
        # gray sub-8: scale 0..(2^d - 1) to full 0..255 (exact factors
        # 255, 85, 17 — the spec's sample-depth scaling)
        out = (full.reshape(height, width, 1) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    elif sw == 2:
        # 16-bit big-endian -> uint8 high byte (bit-depth reduction)
        out = full[..., 0]
    else:
        out = full.reshape(height, width, nch)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        pal_a = np.frombuffer(trns, dtype=np.uint8) if trns is not None else None
        idx = out[:, :, 0]
        rgb = plte[idx]
        if pal_a is not None:
            alpha = np.full(idx.shape, 255, dtype=np.uint8)
            known = idx < len(pal_a)
            alpha[known] = pal_a[idx[known]]
            return np.dstack([rgb, alpha])
        return rgb
    if color in (0, 2) and trns is not None:
        # color-key transparency (spec §11.3.2): one 2-byte value per
        # channel; for depth < 16 the LOW bits are the key. Matching
        # runs on the FULL-precision samples so 16-bit keys are exact.
        key = np.frombuffer(trns[: 2 * nch], dtype=">u2").astype(np.uint16)
        if len(key) < nch:
            raise ValueError("truncated PNG tRNS chunk")
        if sw == 1:
            sample = full.reshape(height, width, nch).astype(np.uint16)
            match = (sample == (key & ((1 << depth) - 1))).all(axis=2)
        else:
            sample = (full[..., 0].astype(np.uint16) << 8) | full[..., 1]
            match = (sample == key).all(axis=2)
        alpha = np.where(match, 0, 255).astype(np.uint8)
        return np.dstack([out, alpha])
    return out


def _png_unpack_bits(rows: np.ndarray, width: int, depth: int) -> np.ndarray:
    """(h, row_bytes) packed sub-8 scanlines -> (h, width) raw sample
    values (MSB-first within each byte, rows padded to byte boundary)."""
    bits = np.unpackbits(rows, axis=1)
    bits = bits[:, : width * depth].reshape(rows.shape[0], width, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2).astype(np.uint8)


# Adam7 pass geometry (x_start, y_start, x_step, y_step) — PNG spec §8.2
_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter_pass(
    raw: bytes, off: int, stride: int, height: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Unfilter one filtered image (the whole image, or one Adam7
    sub-image): ``height`` scanlines of 1 filter byte + ``stride``
    BYTES starting at ``off``. ``bpp`` is the filter's left-neighbor
    distance in bytes (channels × sample width, or 1 for packed sub-8
    rows — PNG filters always operate on bytes, spec §9). Returns
    ((height, stride) byte array, next offset)."""
    if off + height * (stride + 1) > len(raw):
        raise ValueError("PNG data length mismatch")
    img = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = off + y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).copy()
        img[y] = _unfilter_row(line, prev, ftype, bpp)
        prev = img[y]
    return img, off + height * (stride + 1)


def _unfilter_row(line: np.ndarray, prev: np.ndarray, ftype: int, bpp: int) -> np.ndarray:
    """Reverse one scanline filter (PNG spec §9). Sub/Paeth recurrences
    are sequential in x; Up/Average/None vectorize."""
    n = len(line)
    if ftype == 0:  # None
        return line
    if ftype == 2:  # Up
        return (line.astype(np.int16) + prev).astype(np.uint8)
    out = np.zeros(n, dtype=np.int16)
    li = line.astype(np.int16)
    pi = prev.astype(np.int16)
    if ftype == 1:  # Sub
        for x in range(n):
            left = out[x - bpp] if x >= bpp else 0
            out[x] = (li[x] + left) & 0xFF
    elif ftype == 3:  # Average
        for x in range(n):
            left = out[x - bpp] if x >= bpp else 0
            out[x] = (li[x] + ((left + pi[x]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for x in range(n):
            a = out[x - bpp] if x >= bpp else 0
            b = pi[x]
            c = pi[x - bpp] if x >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (li[x] + pred) & 0xFF
    else:
        raise ValueError(f"bad PNG filter type {ftype}")
    return out.astype(np.uint8)


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """Encode an (H, W) or (H, W, C) uint8 array as PNG (filter 0 rows).

    C in {1: gray, 2: gray+alpha, 3: RGB, 4: RGBA}. Minimal but fully
    spec-conformant output — any PNG reader (including decode_png)
    accepts it. ``interlace=True`` emits Adam7 pass order (spec §8.2);
    empty passes contribute no bytes.
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0)
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7_PASSES:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(b"\x00" + sub[y].tobytes() for y in range(sub.shape[0]))
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    out = [PNG_SIG, _png_chunk(b"IHDR", ihdr)]
    out.append(_png_chunk(b"IDAT", zlib.compress(raw, 6)))
    out.append(_png_chunk(b"IEND", b""))
    return b"".join(out)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize of an (H, W, C) array."""
    h, w = img.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return img[ys][:, xs]


# --- WAV ------------------------------------------------------------------

def is_wav(data: bytes) -> bool:
    return bytes(data[:4]) == b"RIFF" and bytes(data[8:12]) == b"WAVE"


def wav_info(data: bytes) -> dict:
    """Header-only WAV metadata (no sample materialization): the cheap
    profiling twin of decode_wav — same RIFF walk, lengths only."""
    data = bytes(data)
    if not is_wav(data):
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", data[pos + 8 : pos + 24])
        elif cid == b"data":
            data_len = min(clen, len(data) - pos - 8)
        pos += 8 + clen + (clen & 1)
    if fmt is None or data_len is None:
        raise ValueError("not a WAV: missing fmt/data chunk")
    audio_fmt, nch, rate, _brate, _balign, bits = fmt
    n = data_len // max(1, (bits // 8) * nch)
    return {
        "n_samples": n,
        "sample_rate": rate,
        "n_channels": nch,
        "bits": bits,
        "duration_ms": 1000.0 * n / rate if rate else 0.0,
        "audio_fmt": audio_fmt,
    }


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry G.711 expand tables computed from the ITU formulas
    (segment + mantissa companding): (A-law, mu-law) -> int16."""
    codes = np.arange(256, dtype=np.int64)
    # A-law: toggle even bits, sign bit SET means positive
    a = codes ^ 0x55
    seg_a = (a >> 4) & 7
    mant_a = a & 15
    t = (mant_a << 4) + np.where(seg_a == 0, 8, 0x108)
    t = np.where(seg_a > 1, t << np.maximum(seg_a - 1, 0), t)
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)
    # mu-law: complement, bias 0x84, sign bit SET means negative
    u = codes ^ 0xFF
    t = (((u & 15) << 3) + 0x84) << ((u >> 4) & 7)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)
    return alaw, ulaw


_G711_ALAW, _G711_ULAW = _g711_tables()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV to ((n_samples, n_channels) array, sample_rate).

    Manual RIFF chunk walk (fmt / data), PCM 8/16/24/32-bit integer,
    32-bit float, and ITU-T G.711 A-law/mu-law (audio_fmt 6/7 — the
    telephony companding formats) expanded to int16 via spec-derived
    tables. 8-bit PCM is unsigned per spec and is recentred to signed.
    The stdlib ``wave``/``audioop`` modules are deliberately NOT used
    here so tests can employ them as independent oracles.
    """
    data = bytes(data)
    if not is_wav(data):
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos, fmt, fmt_body, payload = 12, None, b"", None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_body = body
        elif cid == b"data":
            payload = body
    if fmt is None or payload is None:
        raise ValueError("not a WAV: missing fmt/data chunk")
    audio_fmt, nch, rate, _brate, _balign, bits = fmt
    if audio_fmt == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real container format of most
        # >16-bit / multichannel WAVs. cbSize(2) + valid_bits(2) +
        # channel_mask(4) + SubFormat GUID whose leading u16 is the
        # base format (1 PCM, 3 float) and whose 14-byte suffix is the
        # fixed KSDATAFORMAT media-subtype namespace.
        if len(fmt_body) < 40:
            raise ValueError("extensible WAV: fmt chunk too short for SubFormat")
        guid = fmt_body[24:40]
        if guid[2:] != bytes.fromhex("000000001000800000aa00389b71"):
            raise NotImplementedError(
                "extensible WAV: SubFormat GUID outside the KSDATAFORMAT namespace"
            )
        (audio_fmt,) = struct.unpack("<H", guid[:2])
    if audio_fmt == 3 and bits == 32:  # IEEE float
        arr = np.frombuffer(payload, dtype="<f4").astype(np.float64)
    elif audio_fmt == 1 and bits == 8:
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int16) - 128
    elif audio_fmt == 1 and bits == 16:
        arr = np.frombuffer(payload, dtype="<i2")
    elif audio_fmt == 1 and bits == 24:
        b = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        arr = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        arr = np.where(arr >= 1 << 23, arr - (1 << 24), arr)
    elif audio_fmt == 1 and bits == 32:
        arr = np.frombuffer(payload, dtype="<i4")
    elif audio_fmt == 6 and bits == 8:  # ITU-T G.711 A-law (telephony)
        arr = _G711_ALAW[np.frombuffer(payload, dtype=np.uint8)]
    elif audio_fmt == 7 and bits == 8:  # ITU-T G.711 mu-law (telephony)
        arr = _G711_ULAW[np.frombuffer(payload, dtype=np.uint8)]
    else:
        raise NotImplementedError(f"WAV format {audio_fmt}/{bits}-bit not supported")
    n = (len(arr) // nch) * nch
    return arr[:n].reshape(-1, nch), rate


def encode_wav(
    samples: np.ndarray, sample_rate: int, tags: dict[str, str] | None = None
) -> bytes:
    """Encode an (n_samples, n_channels) int16 array as PCM-16 WAV;
    ``tags`` (canonical keys) adds a RIFF LIST/INFO chunk."""
    samples = np.ascontiguousarray(samples, dtype="<i2")
    if samples.ndim == 1:
        samples = samples[:, None]
    nch = samples.shape[1]
    payload = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, nch, sample_rate, sample_rate * nch * 2, nch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(payload)) + payload
    if tags:
        rev = {"title": b"INAM", "artist": b"IART", "album": b"IPRD",
               "date": b"ICRD", "genre": b"IGNR", "comment": b"ICMT",
               "encoder": b"ISFT", "copyright": b"ICOP", "track": b"ITRK"}
        info = bytearray(b"INFO")
        for k, v in tags.items():
            raw = v.encode("latin-1") + b"\x00"
            info += rev[k] + struct.pack("<I", len(raw)) + raw
            if len(raw) & 1:
                info += b"\x00"
        body += b"LIST" + struct.pack("<I", len(info)) + bytes(info)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_extensible(
    samples: np.ndarray, sample_rate: int, bits: int = 16, float32: bool = False
) -> bytes:
    """WAVE_FORMAT_EXTENSIBLE fixture writer (fmt 0xFFFE + SubFormat
    GUID) — the independent side of decode_wav's extensible path.
    ``bits`` 16/24 integer PCM, or ``float32=True`` for IEEE float."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    nch = samples.shape[1]
    if float32:
        bits, subfmt = 32, 3
        payload = samples.astype("<f4").tobytes()
    elif bits in (16, 24):
        subfmt = 1
        payload = _pcm_le_bytes(samples.reshape(-1).astype(np.int64), bits)
    else:
        raise ValueError("extensible fixture supports 16/24-bit PCM or float32")
    guid = struct.pack("<H", subfmt) + bytes.fromhex(
        "000000001000800000aa00389b71"
    )
    fmt = struct.pack(
        "<HHIIHH", 0xFFFE, nch, sample_rate,
        sample_rate * nch * bits // 8, nch * bits // 8, bits,
    ) + struct.pack("<HHI", 22, bits, (1 << nch) - 1) + guid
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _truncation_as_valueerror(what: str):
    """Metadata walks promise ValueError on hostile/truncated input;
    short-slice IndexError / struct.error from a stomped field must
    honor that contract, not leak implementation exceptions."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            try:
                return fn(*a, **k)
            except (IndexError, struct.error) as e:
                raise ValueError(f"truncated {what} metadata: {e}") from e

        return wrapper

    return deco


# --- AIFF (big-endian IFF: the WAV cousin Apple-side corpora carry) --------


def is_aiff(data: bytes) -> bool:
    return bytes(data[:4]) == b"FORM" and bytes(data[8:12]) in (b"AIFF", b"AIFC")


def _f80(b: bytes) -> float:
    """80-bit IEEE 754 extended float (the COMM sample-rate field):
    1 sign + 15 exponent + 64 explicit-integer-bit mantissa. Hostile
    exponents (up to ±16k — far past float64) must surface as the
    walk's ValueError contract, not leak OverflowError; Inf/NaN
    (exponent field all-ones) are no sample rate either."""
    import math

    if len(b) < 10:
        raise ValueError("truncated AIFF extended-float field")
    se = int.from_bytes(b[:2], "big")
    mant = int.from_bytes(b[2:10], "big")
    if se & 0x7FFF == 0 and mant == 0:
        return 0.0
    if se & 0x7FFF == 0x7FFF:
        raise ValueError("AIFF extended float is Inf/NaN")
    exp = (se & 0x7FFF) - 16383 - 63
    try:
        v = math.ldexp(mant, exp)
    except OverflowError as e:
        raise ValueError("AIFF extended float exceeds float64 range") from e
    if math.isinf(v):
        raise ValueError("AIFF extended float exceeds float64 range")
    return -v if se & 0x8000 else v


def _aiff_chunks(data: bytes):
    pos = 12
    while pos + 8 <= len(data):
        cid = bytes(data[pos : pos + 4])
        (clen,) = struct.unpack(">I", data[pos + 4 : pos + 8])
        yield cid, data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned


@_truncation_as_valueerror("AIFF")
def aiff_info(data: bytes) -> dict:
    """Header-only AIFF/AIFC metadata from the COMM chunk (big-endian
    IFF; the sample rate is an 80-bit extended float)."""
    data = bytes(data)
    if not is_aiff(data):
        raise ValueError("not an AIFF: bad FORM/AIFF header")
    for cid, body in _aiff_chunks(data):
        if cid == b"COMM":
            nch, nframes = struct.unpack(">HI", body[0:6])
            (bits,) = struct.unpack(">H", body[6:8])
            rate = _f80(body[8:18])
            comp = bytes(body[18:22]) if len(body) >= 22 else b"NONE"
            if rate <= 0:
                raise ValueError("AIFF COMM declares a non-positive rate")
            return {
                "sample_rate": int(round(rate)),
                "n_channels": nch,
                "bits": bits,
                "n_samples": nframes,
                "duration_ms": 1000.0 * nframes / rate,
                "compression": comp.decode("latin-1"),
            }
    raise ValueError("AIFF missing the mandatory COMM chunk")


@_truncation_as_valueerror("AIFF")
def decode_aiff(data: bytes) -> tuple[np.ndarray, int]:
    """Decode AIFF PCM to ((n, ch) array, rate): big-endian 8 (signed,
    unlike WAV)/16/24/32-bit, plus AIFC 'NONE' (big-endian) and 'sowt'
    (little-endian 16-bit — the common Mac variant). Other AIFC
    compression types raise into the quarantine channel."""
    data = bytes(data)
    info = aiff_info(data)
    nch, bits = info["n_channels"], info["bits"]
    comp = info["compression"]
    if comp not in ("NONE", "sowt") and not comp.startswith("NONE"):
        raise NotImplementedError(
            f"AIFC compression {comp!r}: only NONE/sowt PCM decodes"
        )
    payload = None
    for cid, body in _aiff_chunks(data):
        if cid == b"SSND":
            (off, _block) = struct.unpack(">II", body[0:8])
            payload = body[8 + off :]
            break
    if payload is None:
        raise ValueError("AIFF missing the SSND chunk")
    endian = "<" if comp == "sowt" else ">"
    if bits == 8:
        arr = np.frombuffer(payload, dtype=np.int8).astype(np.int16)
    elif bits == 16:
        arr = np.frombuffer(payload, dtype=f"{endian}i2")
    elif bits == 24:
        b = np.frombuffer(payload[: len(payload) // 3 * 3], dtype=np.uint8)
        b = b.reshape(-1, 3)
        hi, mid, lo = (b[:, 0], b[:, 1], b[:, 2])
        arr = (
            (hi.astype(np.int32) << 16)
            | (mid.astype(np.int32) << 8)
            | lo.astype(np.int32)
        )
        arr = np.where(arr >= 1 << 23, arr - (1 << 24), arr)
    elif bits == 32:
        arr = np.frombuffer(payload, dtype=f"{endian}i4")
    else:
        raise NotImplementedError(f"AIFF {bits}-bit PCM not supported")
    n = (len(arr) // nch) * nch
    return arr[:n].reshape(-1, nch), info["sample_rate"]


def aiff_tags(data: bytes) -> dict[str, str]:
    """The IFF text chunks (NAME/AUTH/ANNO/(c) ) mapped to canonical
    tag keys."""
    data = bytes(data)
    if not is_aiff(data):
        raise ValueError("not an AIFF: bad FORM/AIFF header")
    keys = {b"NAME": "title", b"AUTH": "artist",
            b"ANNO": "comment", b"(c) ": "copyright"}
    out: dict[str, str] = {}
    iff: dict[str, str] = {}
    for cid, body in _aiff_chunks(data):
        if bytes(cid).lower() == b"id3 " and bytes(body[:3]) == b"ID3":
            # the same embedded-ID3v2 convention as WAV; ID3 wins
            out.update(id3v2_tags(bytes(body)))
            continue
        key = keys.get(cid)
        if key and body:
            if len(body) > _TAG_MAX_VALUE:
                raise ValueError("AIFF text chunk exceeds the tag bound")
            iff.setdefault(key, bytes(body).decode("latin-1").strip("\x00 "))
    return {**iff, **out}


def encode_aiff(
    samples: np.ndarray,
    sample_rate: int,
    sowt: bool = False,
    tags: dict[str, str] | None = None,
) -> bytes:
    """AIFF/AIFC fixture writer: 16-bit PCM, big-endian ('NONE') or the
    little-endian 'sowt' AIFC variant; optional NAME/AUTH/ANNO text
    chunks — the independent side of decode_aiff/aiff_info/aiff_tags."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    nframes, nch = samples.shape
    # the 80-bit extended rate: normalize mantissa to the top bit
    r = sample_rate
    exp = r.bit_length() - 1
    mant = r << (63 - exp)
    f80 = struct.pack(">H", 16383 + exp) + mant.to_bytes(8, "big")
    comm = struct.pack(">HIH", nch, nframes, 16) + f80
    form_type = b"AIFF"
    if sowt:
        comm += b"sowt" + b"\x0esowt-compatible\x00"
        form_type = b"AIFC"
    payload = samples.astype("<i2" if sowt else ">i2").tobytes()
    ssnd = struct.pack(">II", 0, 0) + payload

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack(">I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    body = form_type + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    for key, cid in (("title", b"NAME"), ("artist", b"AUTH"),
                     ("comment", b"ANNO"), ("copyright", b"(c) ")):
        if tags and key in tags:
            body += chunk(cid, tags[key].encode("latin-1"))
    return b"FORM" + struct.pack(">I", len(body)) + body


# --- MP3 (frame-header walk — metadata only, NO audio decode) -------------
#
# Real audio corpora are mostly MP3/AAC; full Layer-III synthesis
# (huffman + IMDCT + polyphase filterbank) is out of scope for a
# dependency-free kernel, but the per-frame HEADER walk (ISO/IEC
# 11172-3 / 13818-3 frame sync, bitrate/samplerate tables, Xing/Info
# VBR header) gives the profiling tier everything corpus curation
# needs — duration, bitrate, channel layout, VBR-ness — at container-
# walk cost, exactly like video_info does for AVI/GIF. decode_wav
# remains the only PCM path; MP3 audio decode still raises.

_MP3_BITRATES = {
    # (version_group, layer) -> kbps table indexed by the 4-bit field
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _id3v2_size(data: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 if none) — syncsafe size."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    sz = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    return 10 + sz


def is_mp3(data: bytes) -> bool:
    data = bytes(data)
    pos = _id3v2_size(data)
    if pos and data[:3] == b"ID3":
        return True
    return (
        len(data) >= pos + 2
        and data[pos] == 0xFF
        and (data[pos + 1] & 0xE0) == 0xE0
        and (data[pos + 1] & 0x18) != 0x08  # version bits 01 reserved
        and (data[pos + 1] & 0x06) != 0x00  # layer bits 00 reserved
    )


def mp3_info(data: bytes) -> dict:
    """Frame-by-frame MP3 header walk: (n_frames, sample_rate,
    n_channels, duration_ms, bitrate_kbps [mean over frames], vbr,
    layer, version, id3v2). Xing/Info VBR frames are recognized and
    excluded from the audio-frame count. Raises ValueError on content
    with no valid frame sync."""
    data = bytes(data)
    pos = _id3v2_size(data)
    id3 = pos > 0
    n = len(data)
    n_frames = 0
    bitrate_sum = 0
    bitrates: set[int] = set()
    sample_rate = channels = layer_out = None
    version_out = ""
    duration_s = 0.0
    while pos + 4 <= n:
        if data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
            break  # lost sync (trailing tag/garbage ends the walk)
        b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
        vbits = (b1 >> 3) & 3  # 00=2.5, 10=2, 11=1 (01 reserved)
        lbits = (b1 >> 1) & 3  # 01=III, 10=II, 11=I (00 reserved)
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 3
        if vbits == 1 or lbits == 0 or br_idx in (0, 15) or sr_idx == 3:
            break
        layer = 4 - lbits  # 1/2/3
        vgroup = 1 if vbits == 3 else 2  # MPEG1 vs MPEG2/2.5 tables
        kbps = _MP3_BITRATES[(vgroup, layer)][br_idx]
        rate = _MP3_RATES[vbits][sr_idx]
        padding = (b2 >> 1) & 1
        mode = (b3 >> 6) & 3  # 3 = mono
        if layer == 1:
            flen = (12 * kbps * 1000 // rate + padding) * 4
            spf = 384
        else:
            spf = 1152 if (layer == 2 or vgroup == 1) else 576
            flen = spf // 8 * kbps * 1000 // rate + padding
        if flen <= 4 or pos + flen > n:
            break
        # Xing/Info (VBR metadata) frame: side-info offset by version/
        # mode, plus the 2-byte CRC when protection_bit is 0 (writers
        # place the tag AFTER the CRC)
        side = (17 if mode != 3 else 9) if vgroup == 2 else (32 if mode != 3 else 17)
        tag_at = pos + 4 + (0 if (b1 & 1) else 2) + side
        is_meta = data[tag_at : tag_at + 4] in (b"Xing", b"Info")
        if not is_meta:
            n_frames += 1
            bitrate_sum += kbps
            bitrates.add(kbps)
            duration_s += spf / rate
            sample_rate = rate
            channels = 1 if mode == 3 else 2
            layer_out = layer
            version_out = {3: "1", 2: "2", 0: "2.5"}[vbits]
        pos += flen
    if n_frames == 0:
        raise ValueError("not an MP3: no valid audio frame")
    return {
        "n_frames": n_frames,
        "sample_rate": sample_rate,
        "n_channels": channels,
        "duration_ms": duration_s * 1000.0,
        "bitrate_kbps": bitrate_sum / n_frames,
        "vbr": len(bitrates) > 1,
        "layer": layer_out,
        "version": version_out,
        "id3v2": id3,
    }


def encode_mp3_frames(
    n_frames: int,
    kbps: int | list[int] = 128,
    rate: int = 44100,
    mono: bool = False,
    layer: int = 3,
    mpeg2: bool = False,
    id3v2_bytes: int = 0,
    xing: bool = False,
) -> bytes:
    """Spec-packed MP3 frame stream for tests: valid headers + zeroed
    payloads (this module parses headers, not audio — the fixture
    writer is the independent side of that contract)."""
    out = bytearray()
    if id3v2_bytes:
        sz = id3v2_bytes
        out += b"ID3\x04\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        )
        out += bytes(sz)
    vbits = 2 if mpeg2 else 3
    lbits = 4 - layer
    sr_table = _MP3_RATES[vbits]
    sr_idx = sr_table.index(rate)
    vgroup = 1 if vbits == 3 else 2
    rates = [kbps] * n_frames if isinstance(kbps, int) else list(kbps)

    def frame(kb: int, meta: bool = False) -> bytes:
        br_idx = _MP3_BITRATES[(vgroup, layer)].index(kb)
        mode = 3 if mono else 0
        hdr = bytes(
            [
                0xFF,
                0xE0 | (vbits << 3) | (lbits << 1) | 1,
                (br_idx << 4) | (sr_idx << 2),
                mode << 6,
            ]
        )
        if layer == 1:
            flen = (12 * kb * 1000 // rate) * 4
        else:
            spf = 1152 if (layer == 2 or vgroup == 1) else 576
            flen = spf // 8 * kb * 1000 // rate
        body = bytearray(flen - 4)
        if meta:
            side = (17 if not mono else 9) if vgroup == 2 else (32 if not mono else 17)
            body[side : side + 4] = b"Xing"
        return hdr + bytes(body)

    if xing:
        out += frame(rates[0], meta=True)
    for kb in rates:
        out += frame(kb)
    return bytes(out)


# --- MP3 Layer I subband codec (the audio-energy tier) ----------------------
#
# Real ISO 11172-3 §2.4 Layer I frame decode to SUBBAND samples:
# allocation table → scalefactors → requantized samples, per channel.
# The synthesis polyphase filterbank (spec table D — not closed-form)
# is deliberately NOT implemented: the near-orthogonal filterbank makes
# subband-domain energy a Parseval proxy for PCM energy, which is all
# the energy-envelope fingerprint needs. PCM reconstruction stays
# honestly unsupported; Layer II (grouped quantization) and Layer III
# (Huffman + MDCT) frames raise NotImplementedError into the standard
# quarantine channel.
#
# The scalefactor table is the closed form behind the spec's printed
# values: sf(idx) = 2 · 2^(−idx/3), idx 0..62.


def _sf_value(idx: int) -> float:
    return 2.0 * 2.0 ** (-idx / 3.0)


def _l1_dequant(code: int, nb: int) -> float:
    """Layer I requantization (ISO 11172-3 §2.4.3.3): invert the MSB,
    read as a two's-complement fraction, then scale and recenter."""
    b = code ^ (1 << (nb - 1))
    if b >= (1 << (nb - 1)):
        b -= 1 << nb
    frac = b / float(1 << (nb - 1))
    return (float(1 << nb) / ((1 << nb) - 1)) * (frac + 2.0 ** (1 - nb))


def _l1_quant(x: float, nb: int) -> int:
    """Inverse of _l1_dequant (fixture encoder side), clipped to the
    representable code range."""
    frac = x * ((1 << nb) - 1) / float(1 << nb) - 2.0 ** (1 - nb)
    s = int(round(frac * (1 << (nb - 1))))
    s = max(-(1 << (nb - 1)), min((1 << (nb - 1)) - 1, s))
    return (s & ((1 << nb) - 1)) ^ (1 << (nb - 1))


class _MsbWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def getvalue(self) -> bytes:
        out = bytearray(self.buf)
        if self.n:
            out.append((self.acc << (8 - self.n)) & 0xFF)
        return bytes(out)


class _MsbReader:
    """Whole-body big-int reader — frame bodies are a few KB."""

    def __init__(self, body: bytes) -> None:
        self.val = int.from_bytes(body, "big")
        self.left = len(body) * 8

    def read(self, nbits: int) -> int:
        if nbits > self.left:
            raise ValueError("truncated MP3 Layer I frame body")
        self.left -= nbits
        return (self.val >> self.left) & ((1 << nbits) - 1)


def encode_mp3_layer1(
    subbands, rate: int = 44100, kbps: int = 256, joint_bound: int | None = None
) -> bytes:
    """Spec-packed MPEG-1 Layer I stream carrying REAL subband data.

    ``subbands``: float array (n_frames, 32, 12) mono or
    (n_frames, n_channels, 32, 12), values in (-2, 2). Allocation is
    uniform over the frame's active (any-nonzero) subbands at the
    finest width the target bitrate affords; scalefactors maximize
    precision per subband. The independent fixture side of
    mp3_subband_energies' contract.

    ``joint_bound`` (stereo only, one of 4/8/12/16): emit a
    joint-stereo (mode 01) frame — subbands >= bound carry one shared
    allocation and one shared sample set (channel 0's data is
    transmitted; per-channel scalefactors remain), exercising the
    intensity-stereo layout the decoders walk."""
    import numpy as np

    arr = np.asarray(subbands, dtype=np.float64)
    if arr.ndim == 3:
        arr = arr[:, None, :, :]
    n_frames, nch, nsb, ns = arr.shape
    if nsb != 32 or ns != 12 or nch not in (1, 2):
        raise ValueError(f"subbands must be (frames[, ch<=2], 32, 12), got {arr.shape}")
    if np.abs(arr).max() >= 2.0:
        raise ValueError("subband samples must be in (-2, 2)")
    if joint_bound is not None:
        if nch != 2 or joint_bound not in (4, 8, 12, 16):
            raise ValueError("joint_bound needs stereo input and bound 4/8/12/16")
        bound = joint_bound
        mode, mode_ext = 1, joint_bound // 4 - 1
    else:
        bound = 32
        mode, mode_ext = (3 if nch == 1 else 0), 0
    sr_idx = _MP3_RATES[3].index(rate)
    br_idx = _MP3_BITRATES[(1, 1)].index(kbps)
    flen = (12 * kbps * 1000 // rate) * 4
    header = bytes(
        [
            0xFF,
            0xE0 | (3 << 3) | (3 << 1) | 1,
            (br_idx << 4) | (sr_idx << 2),
            (mode << 6) | (mode_ext << 4),
        ]
    )
    out = bytearray()
    for f in range(n_frames):
        active = [sb for sb in range(32) if np.abs(arr[f, :, sb]).max() > 0]
        n_alloc_slots = sum(nch if sb < bound else 1 for sb in range(32))
        n_sample_slots = 12 * sum(nch if sb < bound else 1 for sb in active)
        budget = flen * 8 - 32 - 4 * n_alloc_slots - 6 * len(active) * nch
        nb = min(15, budget // n_sample_slots) if n_sample_slots else 0
        if n_sample_slots and nb < 2:
            raise ValueError(
                f"{kbps} kbps can't fit {len(active)} active subbands × {nch} ch"
            )
        bw = _MsbWriter()
        for sb in range(32):
            for _ch in range(nch if sb < bound else 1):
                bw.write(nb - 1 if sb in active else 0, 4)
        sf = {}
        for sb in active:
            for ch in range(nch):
                mx = float(np.abs(arr[f, ch, sb]).max())
                idx = 0
                if 0 < mx < 2.0:
                    idx = min(62, int(-3.0 * np.log2(mx / 2.0)))
                    while idx > 0 and _sf_value(idx) < mx:
                        idx -= 1
                sf[(sb, ch)] = idx
                bw.write(idx, 6)
        for t in range(12):
            for sb in active:
                for ch in range(nch if sb < bound else 1):
                    x = arr[f, ch, sb, t] / _sf_value(sf[(sb, ch)])
                    bw.write(_l1_quant(x, nb), nb)
        body = bytearray(bw.getvalue())
        if len(body) > flen - 4:
            raise ValueError("frame overflow")  # unreachable by budget math
        body += bytes(flen - 4 - len(body))
        out += header + bytes(body)
    return bytes(out)


# --- AAC (ADTS) -------------------------------------------------------------
#
# Raw .aac streams ship as ADTS (ISO/IEC 13818-7 §6.2 / 14496-3): a
# 7/9-byte header per frame, 1024 samples per raw data block. Header
# walk only — AAC spectral decode stays honestly unsupported, the same
# tier as mp3_info. The sync discriminates cleanly from MP3: ADTS uses
# the layer bits 00 that are RESERVED in MPEG audio, so is_mp3 can
# never claim an ADTS stream and vice versa.

_ADTS_RATES = [
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
]
_ADTS_PROFILES = ["Main", "LC", "SSR", "LTP"]


def is_adts_aac(data: bytes) -> bool:
    data = bytes(data)
    pos = _id3v2_size(data)
    return (
        len(data) >= pos + 7
        and data[pos] == 0xFF
        and (data[pos + 1] & 0xF6) == 0xF0
    )


def aac_info(data: bytes) -> dict:
    """ADTS AAC metadata by frame-header walk: (n_frames, sample_rate,
    n_channels, duration_ms, bitrate_kbps [container mean], profile,
    version, id3v2). For channel_configuration 0 the layout lives in an
    in-band PCE: the first frame's leading elements are walked for it
    (ISO 13818-7 §8.5 — CPE counts 2, SCE/LFE 1), and ``n_channels``
    stays the honest NULL only when no parsable PCE leads the stream.
    Raises ValueError on content with no valid ADTS frame; lost sync
    ends the walk (mp3_info's trailing-garbage rule)."""
    data = bytes(data)
    pos = _id3v2_size(data)
    id3 = pos > 0
    n = len(data)
    n_frames = 0
    audio_bytes = 0
    duration_s = 0.0
    rate = channels = None
    profile = version = None
    pce_ch = pce_tried = None
    while pos + 7 <= n:
        if data[pos] != 0xFF or (data[pos + 1] & 0xF6) != 0xF0:
            break  # lost sync: trailing tag/garbage ends the walk
        b1, b2, b3, b4, b5, b6 = data[pos + 1 : pos + 7]
        sfi = (b2 >> 2) & 0xF
        if sfi >= len(_ADTS_RATES):
            break  # reserved sampling index: not a real frame header
        flen = ((b3 & 0x03) << 11) | (b4 << 3) | (b5 >> 5)
        hdr_len = 7 if (b1 & 1) else 9  # protection_absent=0 adds CRC16
        if flen < hdr_len or pos + flen > n:
            break
        cfg = ((b2 & 1) << 2) | (b3 >> 6)
        blocks = (b6 & 0x03) + 1
        r = _ADTS_RATES[sfi]
        n_frames += 1
        audio_bytes += flen
        duration_s += blocks * 1024 / r
        rate = r
        if cfg == 0 and pce_tried is None:
            # channel_config 0: the layout lives in an in-band PCE —
            # walk the first frame's leading elements for it (round 9);
            # streams whose first block carries no parsable PCE keep
            # the honest NULL
            pce_tried = True
            try:
                _g, pce_ch = _aac_lead_walk(data[pos + hdr_len : pos + flen])
            except Exception:
                pce_ch = None
        channels = cfg if cfg else (pce_ch or None)
        profile = _ADTS_PROFILES[(b2 >> 6) & 3]
        version = "2" if (b1 & 0x08) else "4"
        pos += flen
    if n_frames == 0:
        raise ValueError("not ADTS AAC: no valid frame header")
    return {
        "n_frames": n_frames,
        "sample_rate": rate,
        "n_channels": channels,
        "duration_ms": duration_s * 1000.0,
        "bitrate_kbps": audio_bytes * 8 / duration_s / 1000.0,
        "profile": profile,
        "version": version,
        "id3v2": id3,
    }


def aac_global_gains(data: bytes) -> "np.ndarray":
    """Per-ADTS-frame energy proxies from the FIRST syntactic element's
    ``global_gain`` — the AAC twin of the Layer III proxy: ISO 14496-3
    §4.4.2.1 puts the 8-bit global_gain at the very FRONT of an
    individual_channel_stream, before any scalefactor/spectral Huffman
    work, and the scalefactor step is 2^0.25, so
    ``2^((global_gain−100)/4)`` tracks the frame's amplitude scale and
    cancels exactly in the fingerprint's adjacent-window comparisons
    (half volume = a uniform −8 shift).

    Reaches the gain through real syntax only: SCE → instance_tag(4) →
    global_gain; CPE → instance_tag(4) + common_window(1) [+ shared
    ics_info + ms_mask per §4.4.2.1 when common_window=1] →
    global_gain of the first channel. LC-profile ics_info
    (window_sequence/window_shape/max_sfb/scale_factor_grouping,
    predictor_data_present must be 0). Raw data blocks led by PCE/CCE/
    DSE/FIL elements, Main/SSR predictor data, and channel_config-0
    streams refuse (NotImplementedError) into the quarantine channel.
    """
    data = bytes(data)
    pos = _id3v2_size(data)
    n = len(data)
    gains: list[float] = []

    while pos + 7 <= n:
        if data[pos] != 0xFF or (data[pos + 1] & 0xF6) != 0xF0:
            break
        b1, b2, b3, b4, b5 = data[pos + 1 : pos + 6]
        sfi = (b2 >> 2) & 0xF
        if sfi >= len(_ADTS_RATES):
            break
        flen = ((b3 & 0x03) << 11) | (b4 << 3) | (b5 >> 5)
        hdr_len = 7 if (b1 & 1) else 9
        if flen < hdr_len or pos + flen > n:
            break
        profile = (b2 >> 6) & 3
        if profile != 1:
            raise NotImplementedError(
                f"global_gain walk covers AAC LC (profile {profile})"
            )
        payload = data[pos + hdr_len : pos + flen]
        gains.append(2.0 ** ((_aac_first_element_gain(payload) - 100) / 4.0))
        pos += flen
    if not gains:
        raise ValueError("not ADTS AAC: no valid frame header")
    return np.asarray(gains, dtype=np.float64)


def _aac_parse_pce(bits, align) -> int:
    """program_config_element (ISO 13818-7 §8.5 / 14496-3 §4.4.1.1)
    past the 3-bit element id: walks every field incl. mixdown options
    and the byte-aligned comment, returning the program's OUTPUT
    channel count (CPE = 2, SCE/LFE = 1; coupling elements are not
    output channels)."""
    bits(4)  # element_instance_tag
    bits(2)  # object_type
    bits(4)  # sampling_frequency_index
    n_front = bits(4)
    n_side = bits(4)
    n_back = bits(4)
    n_lfe = bits(2)
    n_assoc = bits(3)
    n_cc = bits(4)
    if bits(1):
        bits(4)  # mono_mixdown_element_number
    if bits(1):
        bits(4)  # stereo_mixdown_element_number
    if bits(1):
        bits(3)  # matrix_mixdown_idx + pseudo_surround_enable
    channels = 0
    for _ in range(n_front + n_side + n_back):
        channels += 2 if bits(1) else 1  # element_is_cpe
        bits(4)  # element_tag_select
    channels += n_lfe
    for _ in range(n_lfe):
        bits(4)
    for _ in range(n_assoc):
        bits(4)
    for _ in range(n_cc):
        bits(5)  # cc_element_is_ind_sw + tag
    align()
    comment = bits(8)
    for _ in range(comment):
        bits(8)
    return channels


def _aac_lead_walk(payload: bytes) -> tuple[int, int | None]:
    """(first audio element's global_gain, PCE channel count or None)
    for one raw data block (the shared reader behind the ADTS and M4A
    walks — ISO 14496-3 §4.4.2.1): leading PCE / DSE / FIL elements
    are walked over (PCE yields the channel layout for
    channel_config-0 streams); SCE and LFE → tag → gain; CPE → tag +
    common_window [+ shared ics_info + ms_used flags] → gain of
    channel 0; CCE (coupling) and an element-less block refuse."""
    bitpos = 0

    def bits(k: int) -> int:
        nonlocal bitpos
        if bitpos + k > len(payload) * 8:
            raise ValueError("AAC payload exhausted before global_gain")
        out = 0
        for _ in range(k):
            out = (out << 1) | (
                (payload[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
            )
            bitpos += 1
        return out

    def skip(k: int) -> None:
        nonlocal bitpos
        if bitpos + k > len(payload) * 8:
            raise ValueError("AAC payload exhausted before global_gain")
        bitpos += k

    def align() -> None:
        # byte alignment is relative to the raw_data_block start,
        # which is bit 0 of this payload
        nonlocal bitpos
        bitpos = (bitpos + 7) & ~7

    pce_channels = None
    for _ in range(64):  # an element-spam bound, not a spec limit
        ele = bits(3)
        if ele == 5:  # PCE
            pce_channels = _aac_parse_pce(bits, align)
            continue
        if ele == 4:  # DSE: skippable by construction
            bits(4)  # element_instance_tag
            aligned = bits(1)
            cnt = bits(8)
            if cnt == 255:
                cnt += bits(8)
            if aligned:
                align()
            skip(8 * cnt)
            continue
        if ele == 6:  # FIL
            cnt = bits(4)
            if cnt == 15:
                cnt += bits(8) - 1
            skip(8 * cnt)
            continue
        if ele in (0, 3):  # SCE / LFE: tag then the gain
            bits(4)
            return bits(8), pce_channels
        if ele == 1:  # CPE
            bits(4)
            if bits(1):  # common_window: shared ics_info precedes gains
                bits(1)  # ics_reserved_bit
                window_sequence = bits(2)
                bits(1)  # window_shape
                if window_sequence == 2:  # EIGHT_SHORT_SEQUENCE
                    max_sfb = bits(4)
                    sfg = bits(7)
                    num_window_groups = 1 + sum(
                        1 for i in range(7) if not (sfg >> (6 - i)) & 1
                    )
                else:
                    max_sfb = bits(6)
                    if bits(1):  # predictor_data_present
                        raise NotImplementedError(
                            "Main/LTP predictor data in ics_info"
                        )
                    num_window_groups = 1
                ms_mask = bits(2)
                if ms_mask == 1:
                    bits(num_window_groups * max_sfb)  # ms_used flags
                elif ms_mask == 3:
                    raise ValueError("reserved ms_mask_present value 3")
            return bits(8), pce_channels
        if ele == 2:
            raise NotImplementedError(
                "raw data block led by a CCE (channel coupling) — "
                "full-parse tier"
            )
        raise ValueError(
            "raw data block ends (END element) before any audio element"
        )
    raise ValueError("raw data block with >64 leading non-audio elements")


def _aac_first_element_gain(payload: bytes) -> int:
    return _aac_lead_walk(payload)[0]


def encode_adts_frames(
    n_frames: int,
    rate: int = 44100,
    channels: int = 2,
    frame_bytes: int = 300,
    profile: int = 1,
    mpeg2: bool = False,
    crc: bool = False,
    id3v2_bytes: int = 0,
    gains=None,
    pce_layout: str | None = None,
) -> bytes:
    """Spec-packed ADTS stream for tests: valid headers + zeroed
    payloads (the independent fixture side of aac_info's contract).
    ``frame_bytes`` may be an int or a per-frame list.

    ``gains``: per-frame energies; each frame's payload then opens with
    a real first syntactic element (SCE for mono, CPE with
    common_window=0 for stereo) whose global_gain is the nearest code
    with 2^((gg−100)/4) ≈ energy — the independent fixture side of
    ``aac_global_gains`` (the encode_mp3_layer3_envelope precedent).
    Spectral data stays zeroed; the walk never reads past the gain.

    ``pce_layout``: 'mono' (1 front SCE), 'stereo' (1 front CPE) or
    '5.1' (front SCE + front CPE + back CPE + LFE) writes
    channel_config 0 headers with a real program_config_element
    leading every frame — the independent fixture side of the round-9
    PCE walk (the gain element follows the PCE)."""
    import math as _math

    if gains is not None and len(gains) != n_frames:
        raise ValueError("gains must have one energy per frame")
    _PCE_LAYOUTS = {
        # (front (is_cpe, tag)..., back (is_cpe, tag)..., lfe tags)
        "mono": ((( False, 0),), (), ()),
        "stereo": (((True, 0),), (), ()),
        "5.1": (((False, 0), (True, 0)), ((True, 1),), (0,)),
    }
    if pce_layout is not None:
        if pce_layout not in _PCE_LAYOUTS:
            raise ValueError(f"unknown pce_layout {pce_layout!r}")
        channels = 0  # channel_config 0: the PCE carries the layout
    out = bytearray()
    if id3v2_bytes:
        sz = id3v2_bytes
        out += b"ID3\x04\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        )
        out += bytes(sz)
    sfi = _ADTS_RATES.index(rate)
    sizes = (
        [frame_bytes] * n_frames if isinstance(frame_bytes, int) else list(frame_bytes)
    )
    for fi, flen in enumerate(sizes):
        hdr_len = 9 if crc else 7
        if flen < hdr_len:
            raise ValueError(f"frame_bytes {flen} below ADTS header size")
        b1 = 0xF0 | (0x08 if mpeg2 else 0) | (0 if crc else 1)
        b2 = (profile << 6) | (sfi << 2) | ((channels >> 2) & 1)
        b3 = ((channels & 3) << 6) | ((flen >> 11) & 0x03)
        b4 = (flen >> 3) & 0xFF
        b5 = ((flen & 0x07) << 5) | 0x1F
        b6 = 0xFC  # buffer fullness all-ones tail + 1 raw data block
        frame = bytearray([0xFF, b1, b2, b3, b4, b5, b6])
        if gains is not None or pce_layout is not None:
            bitbuf: list[int] = []  # one int per bit (payload-relative)

            def put(v: int, k: int) -> None:
                bitbuf.extend((v >> (k - 1 - i)) & 1 for i in range(k))

            if pce_layout is not None:
                fronts, backs, lfes = _PCE_LAYOUTS[pce_layout]
                put(5, 3)  # PCE element id
                put(0, 4)  # element_instance_tag
                put(1, 2)  # object_type: LC
                put(sfi, 4)
                put(len(fronts), 4)
                put(0, 4)  # sides
                put(len(backs), 4)
                put(len(lfes), 2)
                put(0, 3)  # assoc data
                put(0, 4)  # valid cc
                put(0, 1)  # mono mixdown
                put(0, 1)  # stereo mixdown
                put(0, 1)  # matrix mixdown
                for is_cpe, tag in fronts + backs:
                    put(int(is_cpe), 1)
                    put(tag, 4)
                for tag in lfes:
                    put(tag, 4)
                while len(bitbuf) % 8:  # byte_alignment()
                    put(0, 1)
                put(0, 8)  # comment_field_bytes
                first_is_cpe = bool(fronts[0][0])
            else:
                first_is_cpe = channels != 1
            e = float(gains[fi]) if gains is not None else 1.0
            gg = min(max(int(round(100 + 4.0 * _math.log2(max(e, 1e-12)))), 0), 255)
            if first_is_cpe:  # CPE: id 001, tag, common_window 0, gg
                put(1, 3)
                put(0, 4)
                put(0, 1)
            else:  # SCE: id 000, tag, gg
                put(0, 3)
                put(0, 4)
            put(gg, 8)
            payload = bytearray()
            for i in range(0, len(bitbuf), 8):
                byte = 0
                for b in bitbuf[i : i + 8]:
                    byte = (byte << 1) | b
                byte <<= max(0, 8 - len(bitbuf[i : i + 8]))
                payload.append(byte)
            if flen < len(frame) + len(payload):
                raise ValueError("frame_bytes too small for the lead elements")
            frame += payload
        frame += bytes(flen - len(frame))
        out += frame
    return bytes(out)


# --- MP3 Layer II subband codec + Layer III energy proxy --------------------
#
# Layer II (ISO 11172-3 §2.4 Layer II) shares Layer I's 32-subband
# structure but quantizes 36 samples/subband per frame with per-subband
# allowed-step tables (Annex B tables B.2a-d) and grouped codes for the
# 3/5/9-step classes. Same Parseval argument as Layer I: subband-domain
# energy is what the fingerprint needs, so no synthesis filterbank.
#
# Layer III frames (Huffman + MDCT) get an ENERGY PROXY, not a decode:
# the side info parses without any Huffman work, and the per-granule
# global_gain IS the decoder's amplitude scale (samples scale as
# 2^((global_gain-210)/4), ISO §2.4.3.4.7.1), so
# 2^((global_gain-210)/2) tracks granule energy up to the spectral
# shape the encoder folded into the scalefactors — exactly the envelope
# resolution the adjacent-window fingerprint comparisons consume.
# part2_3_length == 0 marks a digitally-silent granule (no spectral
# data at all), which must be energy 0, not 2^((0-210)/2).

# Quantization classes, ISO 11172-3 Table B.4: (nlevels, grouped, bits).
# Grouped classes pack 3 consecutive samples base-nlevels in one code.
_L2_QC = [
    (3, True, 5), (5, True, 7), (7, False, 3), (9, True, 10),
    (15, False, 4), (31, False, 5), (63, False, 6), (127, False, 7),
    (255, False, 8), (511, False, 9), (1023, False, 10), (2047, False, 11),
    (4095, False, 12), (8191, False, 13), (16383, False, 14),
    (32767, False, 15), (65535, False, 16),
]
# The distinct per-subband allowed-class columns of tables B.2a-d,
# indexed by (allocation - 1); allocation 0 is silent everywhere.
_L2_ALLOC_ROWS = [
    (0, 1, 16),
    (0, 1, 2, 3, 4, 5, 16),
    (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14),
    (0, 1, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 16),
    (0, 2, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16),
]
# (allocation-field width, _L2_ALLOC_ROWS row) per subband-class id.
_L2_BITALLOC = [(2, 0), (2, 3), (3, 3), (3, 1), (4, 2), (4, 3), (4, 4), (4, 5)]
# MPEG-1 tables B.2a-d: sblimit + per-subband class ids.
_L2_SBQUANT = {
    "a": (27, [7, 7, 7, 6, 6, 6, 6, 6, 6, 6, 6, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 0, 0, 0, 0]),
    "b": (30, [7, 7, 7, 6, 6, 6, 6, 6, 6, 6, 6, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 0, 0, 0, 0, 0, 0, 0]),
    "c": (8, [5, 5, 2, 2, 2, 2, 2, 2]),
    "d": (12, [5, 5, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2]),
}


def _l2_table(rate: int, kbps_per_ch: float) -> tuple[int, list[int]]:
    """Annex-B table selection (ISO 11172-3 §2.4.2.2, MPEG-1)."""
    if (rate == 48000 and kbps_per_ch >= 56) or 56 <= kbps_per_ch <= 80:
        key = "a"
    elif rate != 48000 and kbps_per_ch >= 96:
        key = "b"
    elif rate != 32000 and kbps_per_ch <= 48:
        key = "c"
    else:
        key = "d"
    return _L2_SBQUANT[key]


def _l2_dequant(code: int, nlevels: int) -> float:
    """Layer II requantization collapsed to its closed midtread form:
    the spec's s'' = C·(s''' + D) with C = 2^nb/nlevels and the Table
    B.4 D offsets lands every class on (2·code − (nlevels−1))/nlevels
    — symmetric, step 2/nlevels."""
    return (2 * code - (nlevels - 1)) / nlevels


def _l2_frame_energy(body: bytes, nch: int, bound: int, sblimit: int, classes: list[int]) -> float:
    """Mean mono-mixed squared subband value over the 32×36 grid of one
    Layer II frame (allocation → scfsi → scalefactors → samples)."""
    br = _MsbReader(body)
    alloc = [[0] * nch for _ in range(32)]  # Table B.4 class id + 1; 0 = silent
    for sb in range(sblimit):
        nbal, orow = _L2_BITALLOC[classes[sb]]
        if sb < bound:
            for ch in range(nch):
                a = br.read(nbal)
                if a:
                    alloc[sb][ch] = _L2_ALLOC_ROWS[orow][a - 1] + 1
        else:  # joint-stereo intensity band: one allocation, shared samples
            a = br.read(nbal)
            if a:
                for ch in range(nch):
                    alloc[sb][ch] = _L2_ALLOC_ROWS[orow][a - 1] + 1
    scfsi = [[0] * nch for _ in range(32)]
    for sb in range(sblimit):
        for ch in range(nch):
            if alloc[sb][ch]:
                scfsi[sb][ch] = br.read(2)
    sf = [[(0, 0, 0)] * nch for _ in range(32)]
    for sb in range(sblimit):
        for ch in range(nch):
            if not alloc[sb][ch]:
                continue
            mode = scfsi[sb][ch]
            if mode == 0:
                idxs = (br.read(6), br.read(6), br.read(6))
            elif mode == 1:
                a, b = br.read(6), br.read(6)
                idxs = (a, a, b)
            elif mode == 2:
                a = br.read(6)
                idxs = (a, a, a)
            else:
                a, b = br.read(6), br.read(6)
                idxs = (a, b, b)
            if 63 in idxs:
                raise ValueError("Layer II scalefactor index 63 is forbidden")
            sf[sb][ch] = idxs
    acc = 0.0
    for gr in range(12):
        part = gr // 4
        triplet = [[0.0, 0.0, 0.0] for _ in range(nch)]
        for sb in range(sblimit):
            shared = None
            for ch in range(nch):
                qc = alloc[sb][ch]
                if not qc:
                    for t in range(3):
                        triplet[ch][t] = 0.0
                    continue
                nlev, grouped, bits = _L2_QC[qc - 1]
                if sb >= bound and ch == 1 and shared is not None:
                    codes = shared
                elif grouped:
                    c = br.read(bits)
                    codes = (c % nlev, (c // nlev) % nlev, (c // (nlev * nlev)) % nlev)
                else:
                    codes = (br.read(bits), br.read(bits), br.read(bits))
                if sb >= bound and ch == 0:
                    shared = codes
                s = _sf_value(sf[sb][ch][part])
                for t in range(3):
                    triplet[ch][t] = s * _l2_dequant(codes[t], nlev)
            for t in range(3):
                m = sum(triplet[ch][t] for ch in range(nch)) / nch
                acc += m * m
    return acc / (36 * 32)


def _l3_sideinfo_energies(body: bytes, nch: int, lsf: bool = False) -> list[float]:
    """Per-granule energy proxies from a Layer III frame's side info:
    2^((global_gain−210)/2) mono-mixed across channels, 0.0 for
    digitally-silent granules (part2_3_length == 0). No Huffman/MDCT
    work — see the section comment for why this is the honest
    fingerprint-tier decode.

    Two side-info layouts share the walk: MPEG-1 (ISO 11172-3
    §2.4.1.7 — 9-bit main_data_begin, scfsi, 4-bit scalefac_compress,
    preflag, TWO granules) and LSF MPEG-2/2.5 (ISO 13818-3 §2.4.1.7 —
    8-bit main_data_begin, no scfsi, 9-bit scalefac_compress, no
    preflag, ONE granule). global_gain sits at the same semantic spot
    in both."""
    br = _MsbReader(body)
    br.read(8 if lsf else 9)  # main_data_begin
    if lsf:
        br.read(1 if nch == 1 else 2)  # private_bits
    else:
        br.read(5 if nch == 1 else 3)  # private_bits
        for _ch in range(nch):
            br.read(4)  # scfsi
    out = []
    for _gr in range(1 if lsf else 2):
        e = 0.0
        for _ch in range(nch):
            part2_3 = br.read(12)
            br.read(9)  # big_values
            gg = br.read(8)
            br.read(9 if lsf else 4)  # scalefac_compress
            if br.read(1):  # window_switching: block_type/mixed/2 tables/3 gains
                br.read(2 + 1 + 2 * 5 + 3 * 3)
            else:  # 3 table_selects + region0/region1 counts
                br.read(3 * 5 + 4 + 3)
            # MPEG-1: preflag + scalefac_scale + count1table_select;
            # LSF drops preflag
            br.read(2 if lsf else 3)
            if part2_3:
                e += 2.0 ** ((gg - 210) / 2.0)
        out.append(e / nch)
    return out


def encode_mp3_layer2(subbands, rate: int = 44100, kbps: int = 192) -> bytes:
    """Spec-packed MPEG-1 Layer II stream carrying REAL subband data —
    the independent fixture side of mp3_subband_energies' Layer II
    contract (mirrors encode_mp3_layer1).

    ``subbands``: float array (n_frames, 32, 36) mono or
    (n_frames, n_channels, 32, 36), values in (-2, 2); subbands at or
    above the Annex-B table's sblimit must be silent. Allocation is
    greedy: every active (subband, channel) starts at its column's
    finest class and the costliest is coarsened until the frame fits."""
    import numpy as np

    arr = np.asarray(subbands, dtype=np.float64)
    if arr.ndim == 3:
        arr = arr[:, None, :, :]
    n_frames, nch, nsb, ns = arr.shape
    if nsb != 32 or ns != 36 or nch not in (1, 2):
        raise ValueError(f"subbands must be (frames[, ch<=2], 32, 36), got {arr.shape}")
    if np.abs(arr).max() >= 2.0:
        raise ValueError("subband samples must be in (-2, 2)")
    sr_idx = _MP3_RATES[3].index(rate)
    br_idx = _MP3_BITRATES[(1, 2)].index(kbps)
    sblimit, classes = _l2_table(rate, kbps / nch)
    if np.abs(arr[:, :, sblimit:]).max() > 0:
        raise ValueError(f"subbands >= sblimit {sblimit} must be silent at {kbps} kbps")
    flen = 144 * kbps * 1000 // rate
    mode = 3 if nch == 1 else 0
    header = bytes(
        [0xFF, 0xE0 | (3 << 3) | (2 << 1) | 1, (br_idx << 4) | (sr_idx << 2), mode << 6]
    )
    alloc_bits = sum(_L2_BITALLOC[classes[sb]][0] * nch for sb in range(sblimit))
    out = bytearray()
    for f in range(n_frames):
        active = [
            (sb, ch)
            for sb in range(sblimit)
            for ch in range(nch)
            if np.abs(arr[f, ch, sb]).max() > 0
        ]
        # Greedy allocation: start each active pair at its finest class,
        # coarsen the most expensive until the sample bits fit.
        level = {}
        for sb, ch in active:
            row = _L2_ALLOC_ROWS[_L2_BITALLOC[classes[sb]][1]]
            nbal = _L2_BITALLOC[classes[sb]][0]
            level[(sb, ch)] = min(len(row), (1 << nbal) - 1)  # allocation value

        def pair_bits(sb_ch) -> int:
            sb, _ch = sb_ch
            row = _L2_ALLOC_ROWS[_L2_BITALLOC[classes[sb]][1]]
            nlev, grouped, bits = _L2_QC[row[level[sb_ch] - 1]]
            return 12 * (bits if grouped else 3 * bits)

        budget = flen * 8 - 32 - alloc_bits - len(active) * (2 + 18)
        while active and sum(pair_bits(p) for p in active) > budget:
            worst = max(active, key=pair_bits)
            if level[worst] <= 1:
                raise ValueError(
                    f"{kbps} kbps can't fit {len(active)} active subband-channels"
                )
            level[worst] -= 1
        bw = _MsbWriter()
        for sb in range(sblimit):
            nbal = _L2_BITALLOC[classes[sb]][0]
            for ch in range(nch):
                bw.write(level.get((sb, ch), 0), nbal)
        for sb, ch in active:
            bw.write(0, 2)  # scfsi 0: three explicit scalefactors
        sf = {}
        for sb, ch in active:
            idxs = []
            for part in range(3):
                mx = float(np.abs(arr[f, ch, sb, part * 12 : part * 12 + 12]).max())
                idx = 0
                if 0 < mx < 2.0:
                    idx = min(62, int(-3.0 * np.log2(mx / 2.0)))
                    while idx > 0 and _sf_value(idx) < mx:
                        idx -= 1
                idxs.append(idx)
                bw.write(idx, 6)
            sf[(sb, ch)] = idxs
        for gr in range(12):
            part = gr // 4
            for sb in range(sblimit):
                for ch in range(nch):
                    a = level.get((sb, ch))
                    if not a:
                        continue
                    row = _L2_ALLOC_ROWS[_L2_BITALLOC[classes[sb]][1]]
                    nlev, grouped, bits = _L2_QC[row[a - 1]]
                    s = _sf_value(sf[(sb, ch)][part])
                    codes = []
                    for t in range(3):
                        x = arr[f, ch, sb, gr * 3 + t] / s
                        c = int(round((x * nlev + nlev - 1) / 2.0))
                        codes.append(max(0, min(nlev - 1, c)))
                    if grouped:
                        bw.write(codes[0] + nlev * codes[1] + nlev * nlev * codes[2], bits)
                    else:
                        for c in codes:
                            bw.write(c, bits)
        body = bytearray(bw.getvalue())
        if len(body) > flen - 4:
            raise ValueError("frame overflow")  # unreachable by budget math
        body += bytes(flen - 4 - len(body))
        out += header + bytes(body)
    return bytes(out)


def encode_mp3_layer3_envelope(
    energies,
    rate: int = 44100,
    kbps: int = 128,
    mono: bool = False,
    version: str = "1",
) -> bytes:
    """Layer III frames whose SIDE INFO carries a real energy
    envelope — the independent fixture side of the Layer III proxy
    contract. ``energies``: per-granule energies; each granule's
    global_gain is the nearest code with 2^((gg−210)/2) ≈ energy,
    silence (0.0) becomes part2_3_length 0. Main data is deliberately
    absent (the proxy consumes side info only; header/side-info
    structure is spec-true).

    ``version``: '1' (MPEG-1: 2 granules/frame, energies length must
    be even), '2' or '2.5' (LSF: 1 granule/frame, 8-bit
    main_data_begin / 9-bit scalefac_compress / no scfsi or preflag,
    576-sample frame length)."""
    import math as _math

    import numpy as np

    env = np.asarray(energies, dtype=np.float64)
    vbits = {"1": 3, "2": 2, "2.5": 0}[version]
    lsf = vbits != 3
    gr_per_frame = 1 if lsf else 2
    if env.ndim != 1 or len(env) % gr_per_frame:
        raise ValueError("energies must be a flat per-granule sequence "
                         f"(multiple of {gr_per_frame} for MPEG-{version})")
    if (env < 0).any():
        raise ValueError("energies must be non-negative")
    sr_idx = _MP3_RATES[vbits].index(rate)
    br_idx = _MP3_BITRATES[(2 if lsf else 1, 3)].index(kbps)
    nch = 1 if mono else 2
    mode = 3 if mono else 0
    flen = (72 if lsf else 144) * kbps * 1000 // rate
    header = bytes(
        [0xFF, 0xE0 | (vbits << 3) | (1 << 1) | 1,
         (br_idx << 4) | (sr_idx << 2), mode << 6]
    )
    out = bytearray()
    for f in range(len(env) // gr_per_frame):
        bw = _MsbWriter()
        bw.write(0, 8 if lsf else 9)  # main_data_begin
        if lsf:
            bw.write(0, 1 if nch == 1 else 2)
        else:
            bw.write(0, 5 if nch == 1 else 3)
            for _ch in range(nch):
                bw.write(0, 4)  # scfsi
        for gr in range(gr_per_frame):
            e = float(env[gr_per_frame * f + gr])
            for _ch in range(nch):
                if e > 0:
                    gg = max(0, min(255, int(round(210 + 2.0 * _math.log2(e)))))
                    bw.write(1, 12)  # part2_3_length: granule has data
                    bw.write(0, 9)
                    bw.write(gg, 8)
                else:
                    bw.write(0, 12)  # digitally silent granule
                    bw.write(0, 9)
                    bw.write(0, 8)
                # scalefac_compress + window_switching + (tables/regions)
                # + scalefac_scale/count1 (+ preflag, MPEG-1 only)
                bw.write(0, (9 if lsf else 4) + 1 + 15 + 4 + 3 + (2 if lsf else 3))
        body = bytearray(bw.getvalue())
        body += bytes(flen - 4 - len(body))
        out += header + bytes(body)
    return bytes(out)


def _l1_frame_samples(body: bytes, nch: int, bound: int = 32):
    """One Layer I frame -> (12, 32, nch) requantized subband samples
    (allocation -> scalefactors -> samples; the sample-collecting twin
    of the energy walk in mp3_subband_energies, kept separate so the
    energy path's float summation order - and thus every pinned
    fingerprint - stays untouched). ``bound`` is the joint-stereo
    (intensity) bound for mode==1 frames: subbands >= bound carry ONE
    allocation and ONE sample per time step shared by both channels,
    each still scaled by its own per-channel scalefactor (ISO 11172-3
    Layer I joint_stereo layout — ADVICE r10 fix; previously the bit
    walk desynced on these frames)."""
    import numpy as np

    br = _MsbReader(body)
    alloc = [[0] * nch for _ in range(32)]
    for sb in range(32):
        if sb < bound:
            for ch in range(nch):
                a = br.read(4)
                if a == 15:
                    raise ValueError("Layer I allocation code 15 is forbidden")
                alloc[sb][ch] = a + 1 if a else 0
        else:
            a = br.read(4)
            if a == 15:
                raise ValueError("Layer I allocation code 15 is forbidden")
            for ch in range(nch):
                alloc[sb][ch] = a + 1 if a else 0
    sf = [[0] * nch for _ in range(32)]
    for sb in range(32):
        for ch in range(nch):
            if alloc[sb][ch]:
                idx = br.read(6)
                if idx == 63:
                    raise ValueError("Layer I scalefactor index 63 is forbidden")
                sf[sb][ch] = idx
    out = np.zeros((12, 32, nch))
    for t in range(12):
        for sb in range(32):
            if sb >= bound and alloc[sb][0]:
                q = _l1_dequant(br.read(alloc[sb][0]), alloc[sb][0])
                for ch in range(nch):
                    out[t, sb, ch] = _sf_value(sf[sb][ch]) * q
                continue
            for ch in range(nch):
                nb = alloc[sb][ch]
                if nb:
                    out[t, sb, ch] = _sf_value(sf[sb][ch]) * _l1_dequant(
                        br.read(nb), nb
                    )
    return out


def _l2_frame_samples(
    body: bytes, nch: int, bound: int, sblimit: int, classes: list[int]
):
    """One Layer II frame -> (36, 32, nch) requantized subband samples
    (the sample-collecting twin of _l2_frame_energy)."""
    import numpy as np

    br = _MsbReader(body)
    alloc = [[0] * nch for _ in range(32)]
    for sb in range(sblimit):
        nbal, orow = _L2_BITALLOC[classes[sb]]
        if sb < bound:
            for ch in range(nch):
                a = br.read(nbal)
                if a:
                    alloc[sb][ch] = _L2_ALLOC_ROWS[orow][a - 1] + 1
        else:
            a = br.read(nbal)
            if a:
                for ch in range(nch):
                    alloc[sb][ch] = _L2_ALLOC_ROWS[orow][a - 1] + 1
    scfsi = [[0] * nch for _ in range(32)]
    for sb in range(sblimit):
        for ch in range(nch):
            if alloc[sb][ch]:
                scfsi[sb][ch] = br.read(2)
    sf = [[(0, 0, 0)] * nch for _ in range(32)]
    for sb in range(sblimit):
        for ch in range(nch):
            if not alloc[sb][ch]:
                continue
            mode = scfsi[sb][ch]
            if mode == 0:
                idxs = (br.read(6), br.read(6), br.read(6))
            elif mode == 1:
                a, b = br.read(6), br.read(6)
                idxs = (a, a, b)
            elif mode == 2:
                a = br.read(6)
                idxs = (a, a, a)
            else:
                a, b = br.read(6), br.read(6)
                idxs = (a, b, b)
            if 63 in idxs:
                raise ValueError("Layer II scalefactor index 63 is forbidden")
            sf[sb][ch] = idxs
    out = np.zeros((36, 32, nch))
    for gr in range(12):
        part = gr // 4
        for sb in range(sblimit):
            shared = None
            for ch in range(nch):
                qc = alloc[sb][ch]
                if not qc:
                    continue
                nlev, grouped, bits = _L2_QC[qc - 1]
                if sb >= bound and ch == 1 and shared is not None:
                    codes = shared
                elif grouped:
                    c = br.read(bits)
                    codes = (
                        c % nlev,
                        (c // nlev) % nlev,
                        (c // (nlev * nlev)) % nlev,
                    )
                else:
                    codes = (br.read(bits), br.read(bits), br.read(bits))
                if sb >= bound and ch == 0:
                    shared = codes
                s = _sf_value(sf[sb][ch][part])
                for t in range(3):
                    out[3 * gr + t, sb, ch] = s * _l2_dequant(codes[t], nlev)
    return out


def mp3_l12_subband_samples(data: bytes):
    """MPEG-1 Layer I/II stream -> (subband samples (n_blocks, 32,
    nch) float64, rate): the full requantized subband time series the
    round-10 synthesis filterbank (audio_analysis.l12_synthesis) turns
    into PCM for the content-analysis tier. One block = one time step
    of 32 subband samples = 32 PCM samples after synthesis (12 blocks
    per Layer I frame, 36 per Layer II). Layer III raises
    NotImplementedError (Huffman+MDCT = a different tier; its
    envelope PROXY lives in mp3_subband_energies), as do MPEG-2/2.5
    Layer I/II (LSF allocation tables)."""
    import numpy as np

    data = bytes(data)
    pos = _id3v2_size(data)
    n = len(data)
    blocks: list = []
    rate_out = None
    while pos + 4 <= n:
        if data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
            break
        b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
        vbits = (b1 >> 3) & 3
        lbits = (b1 >> 1) & 3
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 3
        if vbits == 1 or lbits == 0 or br_idx in (0, 15) or sr_idx == 3:
            break
        layer = 4 - lbits
        lsf = vbits != 3
        if layer == 3:
            raise NotImplementedError(
                "Layer III PCM needs the Huffman+MDCT tier - the "
                "subband synthesis path covers Layers I/II only"
            )
        if lsf:
            raise NotImplementedError(
                "MPEG-2/2.5 Layer I/II: the LSF allocation tables are "
                "a different codec tier"
            )
        kbps = _MP3_BITRATES[(1, layer)][br_idx]
        rate = _MP3_RATES[vbits][sr_idx]
        padding = (b2 >> 1) & 1
        if layer == 1:
            flen = (12 * kbps * 1000 // rate + padding) * 4
        else:
            flen = 144 * kbps * 1000 // rate + padding
        if flen <= 4 or pos + flen > n:
            break
        body = data[pos + 4 : pos + flen]
        if not (b1 & 1):
            body = body[2:]
        mode = (b3 >> 6) & 3
        nch = 1 if mode == 3 else 2
        rate_out = rate
        if layer == 1:
            bound = (((b3 >> 4) & 3) + 1) * 4 if mode == 1 else 32
            blocks.append(_l1_frame_samples(body, nch, bound))
        else:
            bound = (((b3 >> 4) & 3) + 1) * 4 if mode == 1 else 32
            sblimit, classes = _l2_table(rate, kbps / nch)
            blocks.append(
                _l2_frame_samples(body, nch, min(bound, sblimit), sblimit, classes)
            )
        pos += flen
    if not blocks:
        raise ValueError("not a decodable MP3: no valid audio frame")
    nch_max = max(b.shape[2] for b in blocks)
    if any(b.shape[2] != nch_max for b in blocks):
        blocks = [
            b if b.shape[2] == nch_max else np.repeat(b, nch_max, axis=2)
            for b in blocks
        ]
    return np.concatenate(blocks, axis=0), rate_out


def mp3_subband_energies(data: bytes):
    """Per-audio-frame energy envelope of an MPEG-1 MP3 — the sequence
    the audio fingerprint consumes, extracted WITHOUT a synthesis
    filterbank (Parseval proxy; the proportionality constant cancels in
    the fingerprint's adjacent-window comparisons). Three tiers:

    - **Layer I**: real frame decode to requantized subband samples
      (allocation → scalefactors → samples), one energy per frame.
    - **Layer II**: same, through the Annex-B allocation tables and
      grouped codes, one energy per frame.
    - **Layer III**: per-granule side-info energy proxy (two values per
      MPEG-1 frame, one per LSF MPEG-2/2.5 frame — both side-info
      layouts decode): 2^((global_gain−210)/2), 0 for silent granules —
      see the Layer II/III section comment for why this is the honest
      fingerprint-tier decode. Xing/Info metadata frames are skipped.

    Raises ValueError on content with no valid frame and
    NotImplementedError on MPEG-2/2.5 Layer I/II frames (the LSF
    allocation tables are a different codec tier)."""
    import numpy as np

    data = bytes(data)
    pos = _id3v2_size(data)
    n = len(data)
    energies: list[float] = []
    while pos + 4 <= n:
        if data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
            break  # lost sync (trailing tag/garbage ends the walk)
        b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
        vbits = (b1 >> 3) & 3
        lbits = (b1 >> 1) & 3
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 3
        if vbits == 1 or lbits == 0 or br_idx in (0, 15) or sr_idx == 3:
            break
        layer = 4 - lbits
        lsf = vbits != 3  # MPEG-2 (vbits 2) / MPEG-2.5 (vbits 0)
        if lsf and layer != 3:
            raise NotImplementedError(
                "MPEG-2/2.5 Layer I/II: the LSF allocation tables are a "
                "different codec tier (Layer III LSF decodes)"
            )
        kbps = _MP3_BITRATES[(2 if lsf else 1, layer)][br_idx]
        rate = _MP3_RATES[vbits][sr_idx]
        padding = (b2 >> 1) & 1
        if layer == 1:
            flen = (12 * kbps * 1000 // rate + padding) * 4
        elif layer == 3 and lsf:
            # LSF Layer III frames carry 576 samples, not 1152
            flen = 72 * kbps * 1000 // rate + padding
        else:
            flen = 144 * kbps * 1000 // rate + padding
        if flen <= 4 or pos + flen > n:
            break
        body = data[pos + 4 : pos + flen]
        if not (b1 & 1):  # protection bit 0: 16-bit CRC before audio data
            body = body[2:]
        mode = (b3 >> 6) & 3
        nch = 1 if mode == 3 else 2
        if layer != 1:
            bound = (((b3 >> 4) & 3) + 1) * 4 if mode == 1 else 32
            if layer == 3:
                if lsf:
                    side = 17 if mode != 3 else 9
                else:
                    side = 32 if mode != 3 else 17
                tag_at = pos + 4 + (0 if (b1 & 1) else 2) + side
                if data[tag_at : tag_at + 4] not in (b"Xing", b"Info"):
                    energies.extend(_l3_sideinfo_energies(body, nch, lsf=lsf))
                pos += flen
                continue
            sblimit, classes = _l2_table(rate, kbps / nch)
            energies.append(
                _l2_frame_energy(body, nch, min(bound, sblimit), sblimit, classes)
            )
            pos += flen
            continue
        # Layer I; mode==1 is joint (intensity) stereo: subbands >=
        # bound share one allocation and one sample per time step
        # (per-channel scalefactors) — same layout fix as
        # _l1_frame_samples (ADVICE r10)
        bound = (((b3 >> 4) & 3) + 1) * 4 if mode == 1 else 32
        br = _MsbReader(body)
        alloc = [[0] * nch for _ in range(32)]
        for sb in range(32):
            if sb < bound:
                for ch in range(nch):
                    a = br.read(4)
                    if a == 15:
                        raise ValueError("Layer I allocation code 15 is forbidden")
                    alloc[sb][ch] = a + 1 if a else 0
            else:
                a = br.read(4)
                if a == 15:
                    raise ValueError("Layer I allocation code 15 is forbidden")
                for ch in range(nch):
                    alloc[sb][ch] = a + 1 if a else 0
        sf = [[0] * nch for _ in range(32)]
        for sb in range(32):
            for ch in range(nch):
                if alloc[sb][ch]:
                    idx = br.read(6)
                    if idx == 63:
                        raise ValueError("Layer I scalefactor index 63 is forbidden")
                    sf[sb][ch] = idx
        acc = 0.0
        for _t in range(12):
            for sb in range(32):
                vals = []
                if sb >= bound and alloc[sb][0]:
                    q = _l1_dequant(br.read(alloc[sb][0]), alloc[sb][0])
                    vals = [_sf_value(sf[sb][ch]) * q for ch in range(nch)]
                else:
                    for ch in range(nch):
                        nb = alloc[sb][ch]
                        if nb:
                            vals.append(
                                _sf_value(sf[sb][ch]) * _l1_dequant(br.read(nb), nb)
                            )
                if vals:
                    m = sum(vals) / nch  # mono mix (absent channel = 0)
                    acc += m * m
        energies.append(acc / (12 * 32))
        pos += flen
    if not energies:
        raise ValueError("not a decodable MP3: no valid audio frame")
    return np.asarray(energies, dtype=np.float64)


# --- FLAC ------------------------------------------------------------------
#
# STREAMINFO metadata block (the mandatory first block, RFC 9639 /
# xiph spec): everything a profiler needs — rate, channels, bit depth,
# exact total samples — at magic+38-byte cost (flac_info). Round 7 adds
# the FULL frame decode (decode_flac): FLAC is lossless, so unlike the
# MP3 energy tiers the decoder's contract is exact PCM — the STREAMINFO
# MD5 of the unencoded audio is verified after decode, making every
# successful decode self-checking against the encoder that produced the
# file. encode_flac is the independent fixture side (constant/verbatim/
# fixed/LPC subframes, rice + escape partitions, mid/left/right-side
# stereo, wasted bits), so round trips pin the whole subframe matrix.


def is_flac(data: bytes) -> bool:
    return bytes(data[:4]) == b"fLaC"


def flac_info(data: bytes) -> dict:
    """STREAMINFO parse: (sample_rate, n_channels, bits, n_samples,
    duration_ms, min/max_block). Raises ValueError when the mandatory
    STREAMINFO block is missing or truncated."""
    data = bytes(data)
    if not is_flac(data):
        raise ValueError("not a FLAC: bad fLaC magic")
    if len(data) < 4 + 4 + 34:
        raise ValueError("truncated FLAC: no STREAMINFO")
    btype = data[4] & 0x7F
    (blen,) = (int.from_bytes(data[5:8], "big"),)
    if btype != 0 or blen < 34:
        raise ValueError("FLAC missing mandatory STREAMINFO first block")
    b = data[8 : 8 + 34]
    min_block, max_block = struct.unpack(">HH", b[0:4])
    # 20-bit rate, 3-bit channels-1, 5-bit bits-1, 36-bit total samples
    packed = int.from_bytes(b[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    n_samples = packed & ((1 << 36) - 1)
    if rate == 0:
        raise ValueError("FLAC STREAMINFO declares zero sample rate")
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "bits": bits,
        "n_samples": n_samples,
        "duration_ms": 1000.0 * n_samples / rate,
        "min_block": min_block,
        "max_block": max_block,
    }


def encode_flac_streaminfo(
    rate: int = 44100,
    channels: int = 2,
    bits: int = 16,
    n_samples: int = 441000,
    extra_blocks: int = 0,
) -> bytes:
    """Spec-packed FLAC header fixture (STREAMINFO + optional padding
    blocks + empty frame area) — the independent side of flac_info."""
    body = struct.pack(">HH", 4096, 4096) + bytes(6)  # blocks + framesize
    packed = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | n_samples
    body += packed.to_bytes(8, "big") + bytes(16)  # md5 of raw audio
    assert len(body) == 34
    last = 0x80 if extra_blocks == 0 else 0
    out = b"fLaC" + bytes([last]) + len(body).to_bytes(3, "big") + body
    for i in range(extra_blocks):
        is_last = 0x80 if i == extra_blocks - 1 else 0
        out += bytes([is_last | 1]) + (4).to_bytes(3, "big") + bytes(4)  # PADDING
    return out


def _crc_table(poly: int, width: int) -> list[int]:
    """MSB-first CRC table, generated (nothing transcribed). FLAC uses
    CRC-8 poly 0x07 (frame header) and CRC-16 poly 0x8005 (whole
    frame), both init 0 — RFC 9639 §9.1.1/§9.3."""
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for byte in range(256):
        r = byte << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) if (r & top) else (r << 1)
        table.append(r & mask)
    return table


_FLAC_CRC8 = _crc_table(0x07, 8)
_FLAC_CRC16 = _crc_table(0x8005, 16)


def _flac_crc8(data: bytes) -> int:
    r = 0
    for b in data:
        r = _FLAC_CRC8[r ^ b]
    return r


def _flac_crc16(data: bytes) -> int:
    r = 0
    for b in data:
        r = _FLAC_CRC16[((r >> 8) ^ b) & 0xFF] ^ ((r << 8) & 0xFFFF)
    return r


# Frame-header code tables (RFC 9639 §9.1). Block-size codes 6/7 and
# sample-rate codes 12-14 read their value at the END of the header.
_FLAC_BLOCK_SIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                     8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                     13: 8192, 14: 16384, 15: 32768}
_FLAC_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}
_FLAC_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
# Fixed-predictor coefficients by order (binomial, RFC 9639 §9.2.5).
_FLAC_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}
# Hostile-input bound in CELLS (samples × channels): a tiny crafted
# file can declare 8 channels at block 32768, so the cap must price
# allocation, not track length — 200M cells ≈ 1.6 GB of int64, checked
# BEFORE each frame's subframes decode (≈3.7 h of stereo 44.1 kHz).
_FLAC_MAX_CELLS = 200_000_000


def _pcm_le_bytes(flat: np.ndarray, bits: int) -> bytes:
    """Interleaved little-endian signed PCM at the stated bit depth —
    the byte layout FLAC's STREAMINFO MD5 hashes. ONE definition shared
    by decode_flac's self-check and encode_flac's digest (a divergence
    here would make the decoder reject its own encoder's files)."""
    nbytes = (bits + 7) // 8
    if nbytes == 1:
        return (flat & 0xFF).astype(np.uint8).tobytes()
    if nbytes == 2:
        return flat.astype("<i2").tobytes()
    if nbytes == 3:
        u = (flat & 0xFFFFFF).astype(np.uint32)
        b = np.empty((len(flat), 3), dtype=np.uint8)
        b[:, 0] = u & 0xFF
        b[:, 1] = (u >> 8) & 0xFF
        b[:, 2] = (u >> 16) & 0xFF
        return b.tobytes()
    return flat.astype("<i4").tobytes()


class _FlacReader:
    """MSB-first bit reader tuned for the rice hot loop: bytes refill
    the accumulator 24 at a time, and the unary read locates the next
    1-bit with int.bit_length instead of a per-bit loop (~6× on real
    rice streams). Buffered-but-unread whole bytes are returned to the
    byte cursor by align()/byte_pos(), so CRC spans stay exact."""

    __slots__ = ("data", "n", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.n = len(data)
        self.pos = pos  # next byte not yet buffered
        self.acc = 0
        self.nbits = 0

    def _refill(self) -> None:
        take = min(24, self.n - self.pos)
        if take <= 0:
            raise ValueError("truncated FLAC frame: bitstream ran out")
        self.acc = (self.acc << (8 * take)) | int.from_bytes(
            self.data[self.pos : self.pos + take], "big"
        )
        self.pos += take
        self.nbits += 8 * take

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._refill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.nbits:
                bl = self.acc.bit_length()
                if bl:
                    q += self.nbits - bl
                    if q > 1 << 24:
                        raise ValueError(
                            "FLAC rice quotient exceeds hostile bound"
                        )
                    self.nbits = bl - 1  # consume the zeros AND the 1
                    self.acc &= (1 << self.nbits) - 1
                    return q
                q += self.nbits  # accumulator is all zeros
                self.nbits = 0
                self.acc = 0
                if q > 1 << 24:
                    raise ValueError("FLAC rice quotient exceeds hostile bound")
            self._refill()

    def read_rice(self, param: int) -> int:
        """One rice-coded residual: unary quotient + param-bit
        remainder + zigzag unfold, fused into a single call (the
        decoder's hottest path — one sample each)."""
        q = 0
        while True:
            if self.nbits:
                bl = self.acc.bit_length()
                if bl:
                    break
                q += self.nbits
                self.nbits = 0
                self.acc = 0
                if q > 1 << 24:
                    raise ValueError("FLAC rice quotient exceeds hostile bound")
            self._refill()
        q += self.nbits - bl
        if q > 1 << 24:
            raise ValueError("FLAC rice quotient exceeds hostile bound")
        nb = bl - 1  # the zeros and the terminating 1 are consumed
        self.acc &= (1 << nb) - 1  # clear the terminating 1
        while nb < param:
            self.nbits = nb
            self._refill()
            nb = self.nbits
        nb -= param
        acc = self.acc
        u = (q << param) | ((acc >> nb) & ((1 << param) - 1))
        self.nbits = nb
        self.acc = acc & ((1 << nb) - 1)
        return (u >> 1) ^ -(u & 1)

    def align(self) -> None:
        """Drop to the next byte boundary, handing buffered whole bytes
        back to the byte cursor."""
        self.pos -= self.nbits // 8
        self.nbits = 0
        self.acc = 0

    def byte_pos(self) -> int:
        """Current position assuming byte alignment."""
        return self.pos - (self.nbits // 8)


def _flac_utf8_number(r: "_FlacReader", max_bytes: int = 7) -> int:
    """The frame/sample coded number: UTF-8-style prefix coding extended
    to 36 bits (RFC 9639 §9.1.5)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > max_bytes:
        raise ValueError("FLAC coded number: invalid UTF-8-style prefix")
    v = b0 & (mask - 1)
    for _ in range(nbytes - 1):
        c = r.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("FLAC coded number: bad continuation byte")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_residual(r: "_FlacReader", block_size: int, order: int) -> list[int]:
    """Rice-coded residual (RFC 9639 §9.2.7): 2-bit method selects the
    4-bit (RICE) or 5-bit (RICE2) parameter width; 4-bit partition
    order splits the block into 2^po equal ranges; the all-ones
    parameter escapes to raw fixed-width samples."""
    method = r.read(2)
    if method > 1:
        raise ValueError(f"FLAC residual: reserved coding method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = r.read(4)
    nparts = 1 << po
    if block_size % nparts:
        raise ValueError("FLAC residual: partition count doesn't divide block")
    out: list[int] = []
    for p in range(nparts):
        count = (block_size >> po) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC residual: predictor order exceeds first partition")
        param = r.read(pbits)
        if param == escape:
            raw = r.read(5)
            if raw == 0:
                out.extend([0] * count)
            else:
                out.extend(r.read_signed(raw) for _ in range(count))
        else:
            # rice hot loop: one fused reader call per sample, locals
            # bound outside the loop
            rr, ap = r.read_rice, out.append
            for _ in range(count):
                ap(rr(param))
    return out


def _flac_subframe(r: "_FlacReader", block_size: int, bps: int) -> list[int]:
    """One channel of one frame (RFC 9639 §9.2): constant / verbatim /
    fixed-predictor / LPC, with the wasted-bits prefix."""
    if r.read(1) != 0:
        raise ValueError("FLAC subframe: reserved padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = 1 + r.read_unary()
        if wasted >= bps:
            raise ValueError("FLAC subframe: wasted bits consume the sample width")
    eff = bps - wasted
    if stype == 0:
        samples = [r.read_signed(eff)] * block_size
    elif stype == 1:
        samples = [r.read_signed(eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:
        order = stype - 8
        if order > block_size:
            raise ValueError("FLAC fixed subframe: order exceeds block size")
        samples = [r.read_signed(eff) for _ in range(order)]
        res = _flac_residual(r, block_size, order)
        if order == 0:
            samples = res
        else:
            # the order-k fixed predictor is the k-th finite difference;
            # reconstruction = k cumulative sums, each seeded with the
            # warmup's (j-1)-th difference — vectorized, exact in int64
            # (|values| ≤ 2^(bps+order) ≪ 2^63)
            arr = np.asarray(res, dtype=np.int64)
            warm = np.asarray(samples, dtype=np.int64)
            for j in range(order, 0, -1):
                seed = np.diff(warm, n=j - 1)[-1]
                arr = np.concatenate(([seed], arr)).cumsum()[1:]
            samples.extend(arr.tolist())
    elif stype >= 32:
        order = (stype & 0x1F) + 1
        if order > block_size:
            raise ValueError("FLAC LPC subframe: order exceeds block size")
        samples = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("FLAC LPC subframe: reserved precision code 15")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC LPC subframe: negative shift is forbidden")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _flac_residual(r, block_size, order)
        # sequential by nature (each prediction needs the previous
        # outputs); locals + reversed-coef zip beat the naive genexpr
        rcoefs = tuple(reversed(coefs))
        ap = samples.append
        for e in res:
            window = samples[-order:]
            pred = 0
            for c, s in zip(rcoefs, window):
                pred += c * s
            ap(e + (pred >> shift))
    else:
        raise ValueError(f"FLAC subframe: reserved type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def _flac_first_frame(data: bytes) -> int:
    """Offset of the first audio frame: walk the metadata blocks."""
    pos = 4
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC: metadata blocks never end")
        last = data[pos] & 0x80
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        pos += 4 + blen
        if last:
            return pos


def decode_flac(data: bytes, verify_md5: bool = True) -> tuple[np.ndarray, int]:
    """Decode a FLAC stream to ((n_samples, n_channels) int array,
    sample_rate) — the lossless sibling of decode_wav.

    Full RFC 9639 frame decode: sync + header CRC-8, coded frame/sample
    numbers, all four subframe types (constant / verbatim / fixed
    orders 0-4 / LPC to order 32), 4- and 5-bit rice partitions with
    raw-escape, wasted bits, left/right/mid-side stereo decorrelation,
    and the trailing frame CRC-16. Because FLAC is lossless the decode
    is self-verifying: when STREAMINFO carries a nonzero MD5 the
    decoded PCM (interleaved little-endian at the stated bit depth)
    must hash to it, or the decode refuses — a wrong decode can never
    return quietly. Raises ValueError on any malformed structure."""
    import hashlib

    data = bytes(data)
    info = flac_info(data)
    rate0, nch0, bits0 = info["sample_rate"], info["n_channels"], info["bits"]
    md5_expected = data[8 + 18 : 8 + 34]
    pos = _flac_first_frame(data)
    # per-channel lists of per-frame int64 chunks (8 B/cell), not
    # Python-int lists (~28 B/cell) — the hostile-input cap prices these
    channels: list[list] = [[] for _ in range(nch0)]
    total = 0
    while pos + 2 <= len(data):
        r = _FlacReader(data, pos)
        sync = r.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC frame: lost sync (bad frame boundary)")
        if r.read(1):
            raise ValueError("FLAC frame: reserved header bit set")
        variable = r.read(1)
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        bd_code = r.read(3)
        if r.read(1):
            raise ValueError("FLAC frame: reserved header bit set")
        _flac_utf8_number(r, 7 if variable else 6)
        if bs_code == 0:
            raise ValueError("FLAC frame: reserved block-size code 0")
        elif bs_code == 6:
            block_size = r.read(8) + 1
        elif bs_code == 7:
            block_size = r.read(16) + 1
        else:
            block_size = _FLAC_BLOCK_SIZES[bs_code]
        if sr_code == 0:
            rate = rate0
        elif sr_code == 12:
            rate = r.read(8) * 1000
        elif sr_code == 13:
            rate = r.read(16)
        elif sr_code == 14:
            rate = r.read(16) * 10
        elif sr_code == 15:
            raise ValueError("FLAC frame: invalid sample-rate code 15")
        else:
            rate = _FLAC_RATES[sr_code]
        if ch_code <= 7:
            nch = ch_code + 1
        elif ch_code <= 10:
            nch = 2
        else:
            raise ValueError(f"FLAC frame: reserved channel assignment {ch_code}")
        bps = bits0 if bd_code == 0 else _FLAC_BITS.get(bd_code)
        if bps is None:
            raise ValueError("FLAC frame: reserved bit-depth code 3")
        if nch != nch0 or rate != rate0 or bps != bits0:
            raise ValueError(
                "FLAC frame: header disagrees with STREAMINFO "
                f"(ch {nch}≠{nch0} / rate {rate}≠{rate0} / bits {bps}≠{bits0})"
            )
        hdr_end = r.byte_pos()
        crc8 = r.read(8)
        if _flac_crc8(data[pos:hdr_end]) != crc8:
            raise ValueError("FLAC frame: header CRC-8 mismatch")
        total += block_size
        if total * nch0 > _FLAC_MAX_CELLS:
            raise ValueError(
                "FLAC stream exceeds the decoded-cells bound "
                f"({_FLAC_MAX_CELLS} samples x channels)"
            )
        subs = []
        for ch in range(nch):
            ch_bps = bps
            if (ch_code == 8 and ch == 1) or (ch_code == 9 and ch == 0) or (
                ch_code == 10 and ch == 1
            ):
                ch_bps += 1  # the side channel carries one extra bit
            subs.append(_flac_subframe(r, block_size, ch_bps))
        r.align()
        frame_end = r.byte_pos()
        crc16 = r.read(16)
        if _flac_crc16(data[pos:frame_end]) != crc16:
            raise ValueError("FLAC frame: frame CRC-16 mismatch")
        if ch_code == 8:  # left/side: right = left - side
            left, side = subs
            subs = [left, [l - s for l, s in zip(left, side)]]
        elif ch_code == 9:  # right/side: left = right + side
            side, right = subs
            subs = [[rt + s for rt, s in zip(right, side)], right]
        elif ch_code == 10:  # mid/side (mid stored floor-halved)
            mid, side = subs
            left, right = [], []
            for m, s in zip(mid, side):
                m = (m << 1) | (s & 1)
                left.append((m + s) >> 1)
                right.append((m - s) >> 1)
            subs = [left, right]
        for ch in range(nch0):
            channels[ch].append(np.asarray(subs[ch], dtype=np.int64))
        pos = r.byte_pos()
        if info["n_samples"] and total >= info["n_samples"]:
            break
        # trailing metadata/garbage after the last frame ends the walk
        if pos + 2 <= len(data) and (
            data[pos] != 0xFF or (data[pos + 1] & 0xFC) != 0xF8
        ):
            break
    if total == 0:
        raise ValueError("FLAC stream contains no audio frames")
    cols = [np.concatenate(c) for c in channels]
    if info["n_samples"]:
        if total < info["n_samples"]:
            raise ValueError(
                f"truncated FLAC: {total} samples decoded, "
                f"STREAMINFO declares {info['n_samples']}"
            )
        cols = [c[: info["n_samples"]] for c in cols]
    out = np.stack(cols, axis=1)
    if verify_md5 and md5_expected != bytes(16):
        h = hashlib.md5(_pcm_le_bytes(out.reshape(-1), bits0))
        if h.digest() != md5_expected:
            raise ValueError(
                "FLAC decode self-check failed: decoded PCM MD5 does not "
                "match STREAMINFO (corrupt stream or decoder defect)"
            )
    return out, rate0


class _FlacWriter(_MsbWriter):
    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def write_rice(self, v: int, param: int) -> None:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1  # zigzag fold
        self.write_unary(u >> param)
        if param:
            self.write(u & ((1 << param) - 1), param)


def _rice_param(res: list[int], pbits: int) -> int:
    """Cheap near-optimal rice parameter: match 2^param to the mean
    magnitude (standard estimator; any in-range choice is VALID, the
    parameter only affects size)."""
    if not res:
        return 0
    mean = sum(abs(v) for v in res) / len(res) + 1
    p = max(0, int(mean).bit_length() - 1)
    return min(p, (1 << pbits) - 2)


def encode_flac(
    samples: np.ndarray,
    rate: int = 44100,
    bits: int = 16,
    subframe: str = "auto",
    stereo: str = "independent",
    partition_order: int = 0,
    block_size: int = 4096,
    escape: bool = False,
    tags: dict[str, str] | None = None,
    picture: tuple[str, bytes] | None = None,
) -> bytes:
    """Encode (n, ch) int PCM as a real FLAC stream — the independent
    fixture side of decode_flac (written from RFC 9639, sharing no
    tables with the decoder beyond the generated CRCs).

    subframe: 'auto' (constant where possible, else best fixed order
    0-2), 'verbatim', 'constant', 'fixed<k>' (forced order), or 'lpc'
    (order-2 LPC [4,-2]>>1 ≡ the order-2 fixed predictor, exercising
    the shift path). stereo: 'independent', 'mid' (mid/side), 'left'
    (left/side), 'right' (right/side). escape=True forces raw-escape
    residual partitions. Wasted bits are detected and emitted whenever
    every sample in a channel shares low zero bits."""
    import hashlib

    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, nch = samples.shape
    if not (1 <= nch <= 8):
        raise ValueError(f"FLAC encoder: {nch} channels out of range 1-8")
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    if samples.min() < lo or samples.max() > hi:
        raise ValueError(f"FLAC encoder: samples exceed {bits}-bit range")
    if stereo != "independent" and nch != 2:
        raise ValueError("FLAC encoder: side stereo requires 2 channels")

    h = hashlib.md5(_pcm_le_bytes(samples.reshape(-1).astype(np.int64), bits))

    si = struct.pack(">HH", min(block_size, n or 1), block_size) + bytes(6)
    packed = (rate << 44) | ((nch - 1) << 41) | ((bits - 1) << 36) | n
    si += packed.to_bytes(8, "big") + h.digest()
    si_flag = 0x00 if (tags or picture) else 0x80
    out = bytearray(b"fLaC" + bytes([si_flag]) + len(si).to_bytes(3, "big") + si)
    if tags:
        vc = encode_vorbis_comment(tags)
        flag = 0x00 if picture else 0x80
        out += bytes([flag | 4]) + len(vc).to_bytes(3, "big") + vc
    if picture:
        mime, img = picture
        mb = mime.encode("latin-1")
        pb = (struct.pack(">II", 3, len(mb)) + mb  # type 3 = front cover
              + struct.pack(">I", 0)              # empty description
              + struct.pack(">IIII", 0, 0, 0, 0)  # w/h/depth/colors unset
              + struct.pack(">I", len(img)) + img)
        out += bytes([0x80 | 6]) + len(pb).to_bytes(3, "big") + pb

    def emit_subframe(w: "_FlacWriter", ch: list[int], bs: int, bps: int) -> None:
        wasted = 0
        if any(ch):
            trailing = min((v & -v).bit_length() - 1 for v in ch if v)
            wasted = min(trailing, bps - 1)
        if wasted:
            ch = [v >> wasted for v in ch]
        eff = bps - wasted
        mode = subframe
        if mode == "auto":
            if all(v == ch[0] for v in ch):
                mode = "constant"
            else:
                best, best_cost = 0, None
                for o in range(3):
                    if o > len(ch):
                        break
                    coefs = _FLAC_FIXED[o]
                    cost = sum(
                        abs(ch[i] - sum(c * ch[i - 1 - j] for j, c in enumerate(coefs)))
                        for i in range(o, len(ch))
                    )
                    if best_cost is None or cost < best_cost:
                        best, best_cost = o, cost
                mode = f"fixed{best}"
        if mode == "constant" and any(v != ch[0] for v in ch):
            raise ValueError("FLAC encoder: constant subframe over varying data")

        def header(stype: int) -> None:
            w.write(0, 1)
            w.write(stype, 6)
            if wasted:
                w.write(1, 1)
                w.write_unary(wasted - 1)
            else:
                w.write(0, 1)

        def residual(res: list[int], order: int) -> None:
            # fall back to a legal split for short tails: partitions
            # must divide the block and the first partition's count
            # (bs/2^po - order) must be non-negative (zero is legal)
            po = partition_order
            while po > 0 and (bs % (1 << po) or (bs >> po) < order):
                po -= 1
            w.write(0, 2)  # RICE (4-bit params)
            w.write(po, 4)
            nparts = 1 << po
            idx = 0
            for p in range(nparts):
                count = (bs >> po) - (order if p == 0 else 0)
                part = res[idx : idx + count]
                idx += count
                if escape:
                    # two's-complement width: v>=0 needs bit_length+1,
                    # v<0 needs bit_length(-v-1)+1
                    raw = max(
                        ((v.bit_length() if v >= 0 else (-v - 1).bit_length()) + 1)
                        for v in part
                    ) if any(part) else 0
                    w.write(0xF, 4)
                    w.write(raw, 5)
                    if raw:
                        for v in part:
                            w.write(v & ((1 << raw) - 1), raw)
                else:
                    param = _rice_param(part, 4)
                    w.write(param, 4)
                    for v in part:
                        w.write_rice(v, param)

        if mode == "constant":
            header(0)
            w.write(ch[0] & ((1 << eff) - 1), eff)
        elif mode == "verbatim":
            header(1)
            for v in ch:
                w.write(v & ((1 << eff) - 1), eff)
        elif mode.startswith("fixed"):
            order = int(mode[5:])
            if order > len(ch):
                order = 0
            header(8 + order)
            coefs = _FLAC_FIXED[order]
            for v in ch[:order]:
                w.write(v & ((1 << eff) - 1), eff)
            res = [
                ch[i] - sum(c * ch[i - 1 - j] for j, c in enumerate(coefs))
                for i in range(order, len(ch))
            ]
            residual(res, order)
        elif mode == "lpc":
            order = min(2, len(ch))
            if order < 2:
                header(1)
                for v in ch:
                    w.write(v & ((1 << eff) - 1), eff)
                return
            header(32 + order - 1)
            for v in ch[:order]:
                w.write(v & ((1 << eff) - 1), eff)
            coefs, shift = [4, -2], 1  # (4a-2b)>>1 = 2a-b: fixed-2 via the shift path
            w.write(15 - 1, 4)  # precision 15
            w.write(shift & 0x1F, 5)
            for c in coefs:
                w.write(c & 0x7FFF, 15)
            res = [
                ch[i] - ((coefs[0] * ch[i - 1] + coefs[1] * ch[i - 2]) >> shift)
                for i in range(order, len(ch))
            ]
            residual(res, order)
        else:
            raise ValueError(f"FLAC encoder: unknown subframe mode {subframe!r}")

    ch_code = {"independent": nch - 1, "left": 8, "right": 9, "mid": 10}[stereo]
    frame_no = 0
    for start in range(0, n, block_size):
        bs = min(block_size, n - start)
        blk = samples[start : start + bs].astype(np.int64)
        hdr = _FlacWriter()
        hdr.write(0x3FFE, 14)
        hdr.write(0, 1)
        hdr.write(0, 1)  # fixed blocking
        if bs == block_size and block_size in _FLAC_BLOCK_SIZES.values():
            bs_code = next(k for k, v in _FLAC_BLOCK_SIZES.items() if v == block_size)
            bs_tail = None
        else:
            bs_code, bs_tail = 7, bs - 1
        hdr.write(bs_code, 4)
        hdr.write(0, 4)  # sample rate: from STREAMINFO
        hdr.write(ch_code, 4)
        bd_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bits]
        hdr.write(bd_code, 3)
        hdr.write(0, 1)
        # coded frame number (UTF-8 style); fixtures stay short
        if frame_no < 0x80:
            hdr.write(frame_no, 8)
        else:
            hdr.write(0xC0 | (frame_no >> 6), 8)
            hdr.write(0x80 | (frame_no & 0x3F), 8)
        if bs_tail is not None:
            hdr.write(bs_tail, 16)
        hbytes = hdr.getvalue()
        frame = _FlacWriter()
        frame.buf = bytearray(hbytes)
        frame.buf.append(_flac_crc8(hbytes))
        if stereo == "independent":
            chans = [blk[:, c].tolist() for c in range(nch)]
            bpss = [bits] * nch
        else:
            l, rr = blk[:, 0], blk[:, 1]
            side = (l - rr).tolist()
            if stereo == "mid":
                chans = [((l + rr) >> 1).tolist(), side]
                bpss = [bits, bits + 1]
            elif stereo == "left":
                chans = [l.tolist(), side]
                bpss = [bits, bits + 1]
            else:
                chans = [side, rr.tolist()]
                bpss = [bits + 1, bits]
        for ch, bps in zip(chans, bpss):
            emit_subframe(frame, ch, bs, bps)
        frame.write(0, (8 - frame.n) % 8)  # pad to byte
        body = frame.getvalue()
        out += body + struct.pack(">H", _flac_crc16(body))
        frame_no += 1
    return bytes(out)


# --- Ogg (header-only) ----------------------------------------------------
#
# Page-structure walk (RFC 3533) + the Opus (RFC 7845) / Vorbis
# identification headers in the first packet: rate/channels from the id
# header, duration from the LAST page's granule position (Opus granules
# are always 48 kHz; Vorbis granules run at the stream rate). Audio
# decode stays honestly unsupported — same tier as mp3/flac/mp4.

_OGG_MAX_PAGES = 1_000_000  # hostile-input bound
_BITREV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


def _ogg_page_crc(page: bytes) -> int:
    """RFC 3533 §6 CRC-32: poly 0x04C11DB7, init 0, unreflected, no
    final xor — NOT zlib's convention, but computable THROUGH zlib at
    C speed: the MSB-first CRC of M under P equals the bit-reversed
    LSB-first CRC of bit-reversed-bytes(M) under bit-reversed(P), and
    bit-reversed 0x04C11DB7 IS zlib's 0xEDB88320. Seeding zlib with
    0xFFFFFFFF and xoring the result strips its pre/post conditioning.
    (A pure-Python table loop here ran ~12 MB/s and turned the
    'header-only' Ogg walk into a full-file scan cost.) Pinned against
    an independent bit-at-a-time computation in the tests."""
    import zlib

    rev = bytes(page).translate(_BITREV8)
    r = zlib.crc32(rev, 0xFFFFFFFF) ^ 0xFFFFFFFF
    return int(f"{r:032b}"[::-1], 2)


def _ogg_check_crc(data: bytes, pos: int, body: int, size: int) -> None:
    """Verify one page's CRC when the field is nonzero (a zero field
    reads as unchecked — kept lenient for writers that skip it; a
    real zero CRC is a 2^-32 event)."""
    (stored,) = struct.unpack("<I", data[pos + 22 : pos + 26])
    if stored == 0:
        return
    page = bytearray(data[pos : body + size])
    page[22:26] = bytes(4)  # CRC computed with its own field zeroed
    if _ogg_page_crc(bytes(page)) != stored:
        raise ValueError("Ogg page CRC-32 mismatch (corrupt page)")


def is_ogg(data: bytes) -> bool:
    return bytes(data[:4]) == b"OggS"


@_truncation_as_valueerror("Ogg")
def ogg_info(data: bytes) -> dict:
    """(codec, sample_rate, n_channels, duration_ms, n_pages, pre_skip)
    from the page walk. Raises ValueError on bad structure or an
    unrecognized first packet."""
    data = bytes(data)
    if not is_ogg(data):
        raise ValueError("not an Ogg: bad OggS capture pattern")
    pos = 0
    n_pages = 0
    first_payload = b""
    last_granule = 0
    first_serial = None
    while pos + 27 <= len(data):
        if data[pos : pos + 4] != b"OggS":
            break  # trailing garbage ends the walk (mp3_info's rule)
        n_pages += 1
        if n_pages > _OGG_MAX_PAGES:
            raise ValueError(f"Ogg exceeds {_OGG_MAX_PAGES} pages")
        granule = struct.unpack("<q", data[pos + 6 : pos + 14])[0]
        serial = struct.unpack("<I", data[pos + 14 : pos + 18])[0]
        nsegs = data[pos + 26]
        lacing = data[pos + 27 : pos + 27 + nsegs]
        if len(lacing) < nsegs:
            raise ValueError("truncated Ogg page header")
        body = pos + 27 + nsegs
        size = int(sum(lacing))
        if body + size > len(data):
            raise ValueError("truncated Ogg page body")
        _ogg_check_crc(data, pos, body, size)
        if first_serial is None:
            first_serial = serial
            first_payload = data[body : body + size]
        # granule -1 marks a page with no finished packet; track the
        # largest finished granule of the FIRST stream (simple files
        # are single-stream; for muxed files this is the first one)
        if serial == first_serial and granule >= 0:
            last_granule = max(last_granule, granule)
        pos = body + size
    if n_pages == 0:
        raise ValueError("Ogg contains no pages")
    if first_payload.startswith(b"OpusHead"):
        channels = first_payload[9]
        pre_skip = struct.unpack("<H", first_payload[10:12])[0]
        in_rate = struct.unpack("<I", first_payload[12:16])[0]
        # Opus granules are ALWAYS 48 kHz regardless of input rate
        samples = max(0, last_granule - pre_skip)
        return {
            "codec": "opus",
            "sample_rate": in_rate,
            "n_channels": channels,
            "duration_ms": 1000.0 * samples / 48000.0,
            "n_pages": n_pages,
            "pre_skip": pre_skip,
        }
    if first_payload.startswith(b"\x01vorbis"):
        channels = first_payload[11]
        rate = struct.unpack("<I", first_payload[12:16])[0]
        if rate == 0:
            raise ValueError("Vorbis id header declares zero rate")
        return {
            "codec": "vorbis",
            "sample_rate": rate,
            "n_channels": channels,
            "duration_ms": 1000.0 * last_granule / rate,
            "n_pages": n_pages,
            "pre_skip": 0,
        }
    if first_payload.startswith(b"\x7fFLAC") and first_payload[9:13] == b"fLaC":
        # FLAC-to-Ogg mapping: \x7fFLAC major minor nheaders(u16be),
        # then a NATIVE fLaC + STREAMINFO; granules are sample counts
        si = flac_info(first_payload[9:])
        return {
            "codec": "flac",
            "sample_rate": si["sample_rate"],
            "n_channels": si["n_channels"],
            "duration_ms": 1000.0 * last_granule / si["sample_rate"],
            "n_pages": n_pages,
            "pre_skip": 0,
        }
    raise ValueError("unrecognized Ogg first packet (not Opus/Vorbis/FLAC)")


def ogg_flac_native(data: bytes) -> bytes:
    """Reassemble the NATIVE FLAC stream from its Ogg encapsulation
    (the FLAC-to-Ogg mapping is a pure re-framing: the first packet
    carries ``\\x7fFLAC`` + version + header count + the native
    ``fLaC`` + STREAMINFO, subsequent packets are the remaining
    metadata blocks and the frames, byte-for-byte) — so decode_flac,
    the STREAMINFO-MD5 self-check, and the WAV≡FLAC lossless
    identity all apply to .oga files unchanged."""
    from pg2kinesis_spark.functions.opus import ogg_packets

    packets = ogg_packets(bytes(data))
    if (
        not packets
        or not packets[0].startswith(b"\x7fFLAC")
        or packets[0][9:13] != b"fLaC"
    ):
        raise ValueError("not an Ogg FLAC stream")
    return packets[0][9:] + b"".join(packets[1:])


def encode_ogg_flac(native: bytes, serial: int = 11) -> bytes:
    """Ogg-encapsulate a native FLAC stream per the FLAC-to-Ogg
    mapping (first packet: \\x7fFLAC 1.0 + following-header count +
    fLaC + STREAMINFO; one packet per remaining metadata block; frame
    data split across data pages) — the remux twin for the
    cross-container identity tests."""
    native = bytes(native)
    if native[:4] != b"fLaC":
        raise ValueError("not a native FLAC stream")
    bounds = []
    at = 4
    while at + 4 <= len(native):
        hdr = native[at]
        ln = int.from_bytes(native[at + 1 : at + 4], "big")
        at = at + 4 + ln
        bounds.append(at)
        if hdr & 0x80:
            break
    if not bounds or bounds[-1] > len(native):
        raise ValueError("FLAC metadata blocks overrun the stream")
    si = flac_info(native)
    n_samples = si["n_samples"] or 0
    pkt0 = (
        b"\x7fFLAC\x01\x00"
        + struct.pack(">H", len(bounds) - 1)
        + native[: bounds[0]]
    )
    header_pkts = [pkt0] + [
        native[a:b] for a, b in zip(bounds, bounds[1:])
    ]
    frames = native[bounds[-1] :]

    def page(granule, seq, payload, header_type=0):
        segs = []
        rest = len(payload)
        while rest >= 255:
            segs.append(255)
            rest -= 255
        segs.append(rest)
        hdr = (
            b"OggS" + bytes([0, header_type])
            + struct.pack("<q", granule)
            + struct.pack("<II", serial, seq)
            + bytes(4)
            + bytes([len(segs)]) + bytes(segs)
        )
        raw = bytearray(hdr + payload)
        raw[22:26] = struct.pack("<I", _ogg_page_crc(bytes(raw)))
        return bytes(raw)

    out = page(0, 0, header_pkts[0], header_type=2)
    seq = 1
    for hp in header_pkts[1:]:
        out += page(0, seq, hp)
        seq += 1
    chunks = [frames[i : i + 4096] for i in range(0, len(frames), 4096)] or [b""]
    for i, ch in enumerate(chunks):
        last = i == len(chunks) - 1
        out += page(
            n_samples if last else 0, seq, ch, header_type=4 if last else 0
        )
        seq += 1
    return out


def encode_ogg_pages(
    codec: str = "opus",
    rate: int = 48000,
    channels: int = 2,
    n_samples: int = 96000,
    pre_skip: int = 312,
    n_body_pages: int = 3,
    tags: dict[str, str] | None = None,
) -> bytes:
    """Spec-packed Ogg fixture: id-header page + optional comment-header
    page (``tags``: `\\x03vorbis`+VorbisComment+framing bit, or
    RFC 7845 OpusTags) + empty body pages with a running granule
    position — the independent side of ogg_info and ogg_tags."""

    def page(granule: int, serial: int, seq: int, payload: bytes,
             header_type: int = 0) -> bytes:
        segs = []
        rest = len(payload)
        while rest >= 255:
            segs.append(255)
            rest -= 255
        segs.append(rest)
        hdr = (
            b"OggS" + bytes([0, header_type])
            + struct.pack("<q", granule)
            + struct.pack("<II", serial, seq)
            + bytes(4)  # CRC placeholder, filled below
            + bytes([len(segs)]) + bytes(segs)
        )
        raw = bytearray(hdr + payload)
        raw[22:26] = struct.pack("<I", _ogg_page_crc(bytes(raw)))
        return bytes(raw)

    if codec == "opus":
        idp = (
            b"OpusHead" + bytes([1, channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", rate) + bytes(3)
        )
        final_granule = pre_skip + n_samples  # granules at 48 kHz
    elif codec == "vorbis":
        idp = (
            b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
            + struct.pack("<I", rate) + bytes(16) + b"\x01"
        )
        final_granule = n_samples
    else:
        raise ValueError(codec)
    out = page(0 if codec == "vorbis" else -1, 7, 0, idp, header_type=2)
    seq = 1
    if tags is not None:
        vc = encode_vorbis_comment(tags)
        pkt = (b"\x03vorbis" + vc + b"\x01") if codec == "vorbis" else (
            b"OpusTags" + vc
        )
        out += page(0 if codec == "vorbis" else -1, 7, seq, pkt)
        seq += 1
    for i in range(1, n_body_pages + 1):
        g = final_granule * i // n_body_pages
        out += page(
            g, 7, seq, bytes(17), header_type=4 if i == n_body_pages else 0
        )
        seq += 1
    return out


# --- Audio tags: ID3v2 / VorbisComment / RIFF INFO -------------------------
#
# The tag layer of the audio-profiling tier: title/artist/album/date
# metadata from the three tag systems real corpora carry — ID3v2
# (id3.org informal standard, v2.2/v2.3/v2.4 incl. unsynchronisation
# and all four text encodings) on MP3, VorbisComment (the Xiph spec)
# in FLAC metadata blocks and Ogg comment headers (Vorbis and
# OpusTags), and RIFF LIST/INFO chunks in WAV. Every walk is bounded
# (frame/comment counts, per-value byte caps) against stomped length
# fields, matching the *_info contracts.

_ID3_TEXT_KEYS = {
    # v2.3/v2.4 text frames -> canonical keys (v2.2 3-char twins below)
    b"TIT2": "title", b"TPE1": "artist", b"TALB": "album",
    b"TYER": "date", b"TDRC": "date", b"TDAT": "date",
    b"TCON": "genre", b"TRCK": "track", b"TPE2": "album_artist",
    b"TCOM": "composer", b"TPOS": "disc", b"TPUB": "publisher",
    b"TLAN": "language", b"TIT1": "grouping", b"TIT3": "subtitle",
    b"TSSE": "encoder", b"TENC": "encoded_by", b"TCOP": "copyright",
}
_ID3V22_TEXT_KEYS = {
    b"TT2": "title", b"TP1": "artist", b"TAL": "album", b"TYE": "date",
    b"TCO": "genre", b"TRK": "track", b"TP2": "album_artist",
    b"TCM": "composer", b"TPA": "disc", b"TEN": "encoded_by",
}
_TAG_MAX_FRAMES = 10_000  # hostile-input bounds
_TAG_MAX_VALUE = 1 << 20
_TAG_MAX_TOTAL = 4 << 20


def _id3_text(body: bytes) -> str:
    """An ID3v2 text-frame body: encoding byte + encoded string(s);
    v2.4 packs multiple values NUL-separated — joined with '; '."""
    if not body:
        return ""
    enc, raw = body[0], body[1 : _TAG_MAX_VALUE + 1]
    if enc == 0:
        s, sep = raw.decode("latin-1"), "\x00"
    elif enc == 1:
        s, sep = raw.decode("utf-16", errors="replace"), "\x00"
    elif enc == 2:
        s, sep = raw.decode("utf-16-be", errors="replace"), "\x00"
    elif enc == 3:
        s, sep = raw.decode("utf-8", errors="replace"), "\x00"
    else:
        raise ValueError(f"ID3v2 text frame: reserved encoding byte {enc}")
    # v2.4 multi-value frames NUL-join utf-16 strings each carrying
    # their OWN BOM; one whole-body decode strips only the first, so
    # later values must shed theirs here
    vals = [v.lstrip("\ufeff") for v in s.split(sep)]
    return "; ".join(v for v in vals if v)


def _id3v2_frames(data: bytes):
    """Iterate (major, frame_id, frame_body) over a leading ID3v2 tag
    — the walk under id3v2_tags: header/extended
    -header handling, whole-tag (v2.2/2.3) and per-frame (v2.4)
    unsynchronisation, syncsafe v2.4 sizes, padding stop, frame-count
    bound. Yields nothing when no tag leads the data; raises
    ValueError on structurally hostile tags."""
    data = bytes(data)
    total = _id3v2_size(data)
    if total == 0:
        return
    if len(data) < 10:
        raise ValueError("truncated ID3v2 header")
    major, flags = data[3], data[5]
    if major not in (2, 3, 4):
        raise ValueError(f"ID3v2.{major} is not a known tag version")
    body = bytearray(data[10 : min(total, len(data))])
    if flags & 0x80 and major <= 3:
        # v2.2/v2.3 unsynchronisation applies to the WHOLE tag body
        body = bytearray(bytes(body).replace(b"\xff\x00", b"\xff"))
    pos = 0
    if flags & 0x40 and major >= 3:  # extended header
        if major == 3:
            (ehsize,) = struct.unpack(">I", bytes(body[0:4]))
            pos = 4 + ehsize
        else:  # v2.4: syncsafe, size INCLUDES itself
            eh = bytes(body[0:4])
            pos = (eh[0] << 21) | (eh[1] << 14) | (eh[2] << 7) | eh[3]
    id_len = 3 if major == 2 else 4
    hdr_len = 6 if major == 2 else 10
    frames = 0
    while pos + hdr_len <= len(body):
        fid = bytes(body[pos : pos + id_len])
        if fid == bytes(id_len):  # padding reached
            break
        if major == 2:
            fsize = int.from_bytes(body[pos + 3 : pos + 6], "big")
            fflags = 0
        elif major == 3:
            (fsize,) = struct.unpack(">I", bytes(body[pos + 4 : pos + 8]))
            fflags = body[pos + 9]
        else:
            b4 = bytes(body[pos + 4 : pos + 8])
            if any(x & 0x80 for x in b4):
                raise ValueError("ID3v2.4 frame size is not syncsafe")
            fsize = (b4[0] << 21) | (b4[1] << 14) | (b4[2] << 7) | b4[3]
            fflags = body[pos + 9]
        fbody = bytes(body[pos + hdr_len : pos + hdr_len + fsize])
        if len(fbody) < fsize:
            raise ValueError("ID3v2 frame overruns the tag (stomped size)")
        pos += hdr_len + fsize
        frames += 1
        if frames > _TAG_MAX_FRAMES:
            raise ValueError("ID3v2 tag exceeds the frame-count bound")
        if major == 4 and fflags & 0x02:  # per-frame unsynchronisation
            fbody = fbody.replace(b"\xff\x00", b"\xff")
        if major == 4 and fflags & 0x01:  # data-length indicator prefix
            fbody = fbody[4:]
        yield major, fid, fbody


def id3v2_tags(data: bytes) -> dict[str, str]:
    """Text tags from a leading ID3v2 tag (v2.2 / v2.3 / v2.4):
    canonical keys (title/artist/album/date/genre/track/...) plus
    TXXX user frames under their own description. Returns {} when no
    ID3v2 tag leads the data; raises ValueError on a structurally
    hostile tag (bad sizes, reserved encodings)."""
    out: dict[str, str] = {}
    budget = _TAG_MAX_TOTAL
    for major, fid, fbody in _id3v2_frames(data):
        text_keys = _ID3V22_TEXT_KEYS if major == 2 else _ID3_TEXT_KEYS
        key = text_keys.get(fid)
        if key is None and not (
            fid in (b"TXXX", b"TXX") and len(fbody) >= 2
        ):
            continue
        if fid in (b"TXXX", b"TXX"):
            # encoding + description NUL value; for the 2-byte-unit
            # encodings the terminator must sit on a code-unit boundary
            # (a low byte inside 'c\x00' + the real NUL would otherwise
            # split mid-character)
            enc = fbody[0]
            sep = b"\x00\x00" if enc in (1, 2) else b"\x00"
            cut = 1
            while True:
                cut = fbody.find(sep, cut)
                if cut < 0 or len(sep) == 1 or (cut - 1) % 2 == 0:
                    break
                cut += 1
            if cut < 0:
                continue
            desc = _id3_text(bytes([enc]) + fbody[1:cut])
            val = _id3_text(bytes([enc]) + fbody[cut + len(sep):])
            key = f"txxx:{desc.lower()}" if desc else "txxx:"
        else:
            val = _id3_text(fbody)
        if val:
            budget -= len(val)
            if budget < 0:
                raise ValueError("ID3v2 tag exceeds the total text bound")
            out.setdefault(key, val)
    return out


_ID3V1_GENRES = (
    # id3.org's v1 genre list, indices 0-79 (the original set; Winamp
    # extensions beyond 79 render as their number)
    "Blues Classic_Rock Country Dance Disco Funk Grunge Hip-Hop Jazz Metal "
    "New_Age Oldies Other Pop R&B Rap Reggae Rock Techno Industrial "
    "Alternative Ska Death_Metal Pranks Soundtrack Euro-Techno Ambient "
    "Trip-Hop Vocal Jazz+Funk Fusion Trance Classical Instrumental Acid "
    "House Game Sound_Clip Gospel Noise AlternRock Bass Soul Punk Space "
    "Meditative Instrumental_Pop Instrumental_Rock Ethnic Gothic Darkwave "
    "Techno-Industrial Electronic Pop-Folk Eurodance Dream Southern_Rock "
    "Comedy Cult Gangsta Top_40 Christian_Rap Pop/Funk Jungle Native_American "
    "Cabaret New_Wave Psychadelic Rave Showtunes Trailer Lo-Fi Tribal "
    "Acid_Punk Acid_Jazz Polka Retro Musical Rock_&_Roll Hard_Rock"
).split()


def id3v1_tags(data: bytes) -> dict[str, str]:
    """The 128-byte ID3v1 trailer ('TAG' at EOF): fixed-width latin-1
    title/artist/album/year/comment fields, v1.1 track byte, genre
    index. {} when no trailer is present."""
    data = bytes(data)
    if len(data) < 128 or data[-128:-125] != b"TAG":
        return {}
    blk = data[-128:]

    def field(a: int, b: int) -> str:
        return blk[a:b].split(b"\x00")[0].decode("latin-1").strip()

    out = {}
    for key, a, b in (("title", 3, 33), ("artist", 33, 63),
                      ("album", 63, 93), ("date", 93, 97),
                      ("comment", 97, 127)):  # v1.0 width; v1.1 re-cuts
        v = field(a, b)
        if v:
            out[key] = v
    if blk[125] == 0 and blk[126]:  # v1.1: comment truncated to 28 + track
        out["track"] = str(blk[126])
        if out.get("comment"):
            out["comment"] = blk[97:125].split(b"\x00")[0].decode(
                "latin-1"
            ).strip()
    g = blk[127]
    if g < len(_ID3V1_GENRES):
        out["genre"] = _ID3V1_GENRES[g].replace("_", " ")
    elif g != 255:
        out["genre"] = str(g)
    return out


def encode_id3v1(tags: dict[str, str]) -> bytes:
    """The fixture side of id3v1_tags: a spec-packed 128-byte trailer."""
    def fx(key: str, width: int) -> bytes:
        return tags.get(key, "").encode("latin-1")[:width].ljust(width, b"\x00")

    genre = 255
    if "genre" in tags:
        name = tags["genre"].replace(" ", "_")
        genre = (_ID3V1_GENRES.index(name) if name in _ID3V1_GENRES
                 else int(tags["genre"]) if tags["genre"].isdigit() else 255)
    blk = b"TAG" + fx("title", 30) + fx("artist", 30) + fx("album", 30) + fx("date", 4)
    if "track" in tags:
        blk += fx("comment", 28) + b"\x00" + bytes([int(tags["track"]) & 0xFF])
    else:
        blk += fx("comment", 30)
    return blk + bytes([genre])



def vorbis_comments(payload: bytes) -> dict[str, str]:
    """A bare VorbisComment block (Xiph spec): vendor string + KEY=value
    list, keys lowercased; first occurrence wins (repeat keys are
    legal — we keep profiling deterministic). The framing bit / header
    prefix must already be stripped."""
    if len(payload) < 8:
        raise ValueError("truncated VorbisComment: no vendor length")
    (vlen,) = struct.unpack("<I", payload[0:4])
    pos = 4 + vlen
    if pos + 4 > len(payload):
        raise ValueError("truncated VorbisComment: vendor overruns")
    (count,) = struct.unpack("<I", payload[pos : pos + 4])
    pos += 4
    if count > _TAG_MAX_FRAMES:
        raise ValueError("VorbisComment exceeds the comment-count bound")
    out: dict[str, str] = {}
    budget = _TAG_MAX_TOTAL
    for _ in range(count):
        if pos + 4 > len(payload):
            raise ValueError("truncated VorbisComment: comment length missing")
        (clen,) = struct.unpack("<I", payload[pos : pos + 4])
        pos += 4
        if clen > _TAG_MAX_VALUE or pos + clen > len(payload):
            raise ValueError("VorbisComment entry overruns (stomped length)")
        entry = payload[pos : pos + clen]
        pos += clen
        eq = entry.find(b"=")
        if eq <= 0:
            continue  # malformed entry: skip, spec says be liberal here
        key = entry[:eq].decode("ascii", errors="replace").lower()
        val = entry[eq + 1 :].decode("utf-8", errors="replace")
        if val:
            budget -= len(val)
            if budget < 0:
                raise ValueError("VorbisComment exceeds the total text bound")
            out.setdefault(key, val)
    return out


def flac_tags(data: bytes) -> dict[str, str]:
    """VorbisComment tags from a FLAC metadata-block walk (block type
    4). {} when the file carries none."""
    data = bytes(data)
    flac_info(data)  # structure gate: magic + mandatory STREAMINFO
    pos = 4
    for _ in range(_TAG_MAX_FRAMES):
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC: metadata blocks never end")
        last, btype = data[pos] & 0x80, data[pos] & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        if btype == 4:
            if len(body) < blen:
                raise ValueError("FLAC VORBIS_COMMENT block overruns the file")
            return vorbis_comments(body)
        pos += 4 + blen
        if last:
            return {}
    raise ValueError("FLAC metadata walk exceeds the block bound")


def ogg_tags(data: bytes) -> dict[str, str]:
    """VorbisComment tags from an Ogg stream's comment header — the
    `\\x03vorbis` packet or `OpusTags` (RFC 7845 §5.2). Packets are
    reassembled from page lacing for the FIRST stream only; {} when
    the first packets carry no comment header."""
    data = bytes(data)
    if not is_ogg(data):
        raise ValueError("not an Ogg: bad OggS magic")
    pos = 0
    serial0 = None
    packets: list[bytes] = []
    cur = bytearray()
    pages = 0
    while pos + 27 <= len(data) and len(packets) < 3:
        if data[pos : pos + 4] != b"OggS":
            break
        pages += 1
        if pages > 1000:  # the comment header lives in the first pages
            break
        serial = struct.unpack("<I", data[pos + 14 : pos + 18])[0]
        nsegs = data[pos + 26]
        segs = data[pos + 27 : pos + 27 + nsegs]
        if len(segs) < nsegs:
            raise ValueError("truncated Ogg page header")
        body = pos + 27 + nsegs
        _ogg_check_crc(data, pos, body, int(sum(segs)))
        if serial0 is None:
            serial0 = serial
        if serial == serial0:
            off = body
            for s in segs:
                cur += data[off : off + s]
                if len(cur) > _TAG_MAX_TOTAL + _TAG_MAX_VALUE:
                    raise ValueError("Ogg packet exceeds the tag bound")
                off += s
                if s < 255:  # lacing value < 255 finishes a packet
                    packets.append(bytes(cur))
                    cur = bytearray()
        pos = body + sum(segs)
    for p in packets:
        if p.startswith(b"\x03vorbis"):
            return vorbis_comments(p[7:])
        if p.startswith(b"OpusTags"):
            return vorbis_comments(p[8:])
    return {}


def _wav_chunks(data: bytes):
    data = bytes(data)
    if not is_wav(data):
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        yield cid, data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)


def wav_tags(data: bytes) -> dict[str, str]:
    """RIFF LIST/INFO tags from a WAV (INAM/IART/IPRD/ICRD/IGNR/ICMT
    and friends), mapped to the canonical keys; an embedded `id3 `
    chunk (what most taggers actually write into WAV) parses through
    the full ID3v2 walk and wins key-by-key (the richer system)."""
    info_keys = {
        b"INAM": "title", b"IART": "artist", b"IPRD": "album",
        b"ICRD": "date", b"IGNR": "genre", b"ICMT": "comment",
        b"ISFT": "encoder", b"ICOP": "copyright", b"ITRK": "track",
    }
    data = bytes(data)
    out: dict[str, str] = {}
    info: dict[str, str] = {}
    for cid, body in _wav_chunks(data):
        if cid.lower() == b"id3 " and body[:3] == b"ID3":
            out.update(id3v2_tags(body))
            continue
        if cid != b"LIST" or body[:4] != b"INFO":
            continue
        ip = 4
        for _ in range(_TAG_MAX_FRAMES):
            if ip + 8 > len(body):
                break
            tid = body[ip : ip + 4]
            (tlen,) = struct.unpack("<I", body[ip + 4 : ip + 8])
            if tlen > _TAG_MAX_VALUE or ip + 8 + tlen > len(body):
                raise ValueError("WAV INFO tag overruns its LIST (stomped size)")
            raw = body[ip + 8 : ip + 8 + tlen].split(b"\x00")[0]
            ip += 8 + tlen + (tlen & 1)
            key = info_keys.get(tid)
            if key and raw:
                info.setdefault(key, raw.decode("latin-1"))
    return {**info, **out}


def audio_tags(data: bytes) -> dict[str, str]:
    """Dispatching tag extraction: ID3v2 (MP3 and bare tags), FLAC
    VORBIS_COMMENT, Ogg comment headers, WAV LIST/INFO, MP4/M4A ilst.
    Raises ValueError for bytes that are none of those containers."""
    data = bytes(data)
    if data[:3] == b"ID3" or is_mp3(data):
        v2 = id3v2_tags(data)
        v1 = id3v1_tags(data)
        # v2 wins key-by-key; the v1 trailer fills what v2 lacks
        return {**v1, **v2}
    if is_flac(data):
        return flac_tags(data)
    if is_ogg(data):
        return ogg_tags(data)
    if is_wav(data):
        return wav_tags(data)
    if is_aiff(data):
        return aiff_tags(data)
    if is_mp4(data):
        return mp4_tags(data)
    if is_webm(data):
        return mkv_tags(data)
    raise ValueError(
        "no recognized tag container (ID3v2/FLAC/Ogg/WAV/AIFF/MP4/Matroska)"
    )


def encode_id3v2(
    tags: dict[str, str],
    version: int = 4,
    encoding: int = 3,
    unsync: bool = False,
    padding: int = 0,
    txxx: dict[str, str] | None = None,
    apic: tuple[str, bytes] | None = None,
) -> bytes:
    """Spec-packed ID3v2 tag — the independent fixture side of
    id3v2_tags. ``tags`` uses the canonical keys (reverse-mapped to
    frame ids); v2.2 writes 3-char frames, v2.3 plain sizes (+whole-tag
    unsynchronisation when asked), v2.4 syncsafe sizes."""
    if version not in (2, 3, 4):
        raise ValueError("ID3v2 fixture version must be 2, 3 or 4")
    rev = {}
    table = _ID3V22_TEXT_KEYS if version == 2 else _ID3_TEXT_KEYS
    for fid, key in table.items():
        rev.setdefault(key, fid)
    frames = bytearray()

    def enc_text(s: str) -> bytes:
        if encoding == 0:
            return bytes([0]) + s.encode("latin-1")
        if encoding == 1:
            return bytes([1]) + s.encode("utf-16")  # BOM included
        if encoding == 2:
            return bytes([2]) + s.encode("utf-16-be")
        return bytes([3]) + s.encode("utf-8")

    def frame(fid: bytes, body: bytes) -> bytes:
        if version == 2:
            return fid + len(body).to_bytes(3, "big") + body
        if version == 3:
            return fid + struct.pack(">I", len(body)) + bytes(2) + body
        n = len(body)
        ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
        return fid + ss + bytes(2) + body

    for key, val in tags.items():
        fid = rev.get(key)
        if fid is None:
            raise ValueError(f"no ID3v2.{version} text frame for key {key!r}")
        frames += frame(fid, enc_text(val))
    for desc, val in (txxx or {}).items():
        sep = b"\x00\x00" if encoding in (1, 2) else b"\x00"
        body = enc_text(desc) + sep + enc_text(val)[1:]
        frames += frame(b"TXX" if version == 2 else b"TXXX", body)
    if apic is not None:
        mime, img = apic
        if version == 2:
            fmt = {"image/png": b"PNG", "image/jpeg": b"JPG"}.get(mime, b"   ")
            body = bytes([0]) + fmt + bytes([3]) + b"\x00" + img
            frames += frame(b"PIC", body)
        else:
            body = (bytes([0]) + mime.encode("latin-1") + b"\x00"
                    + bytes([3]) + b"\x00" + img)  # type 3 = front cover
            frames += frame(b"APIC", body)
    frames += bytes(padding)
    flags = 0
    if unsync and version <= 3:
        frames = bytearray(bytes(frames).replace(b"\xff", b"\xff\x00"))
        flags |= 0x80
    n = len(frames)
    if n >= 1 << 28:
        raise ValueError("ID3v2 fixture tag too large")
    return (
        b"ID3" + bytes([version, 0, flags])
        + bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
        + bytes(frames)
    )


def encode_vorbis_comment(
    tags: dict[str, str], vendor: str = "pg2kinesis_spark fixture"
) -> bytes:
    """A bare VorbisComment payload (no framing)."""
    vb = vendor.encode("utf-8")
    out = struct.pack("<I", len(vb)) + vb + struct.pack("<I", len(tags))
    for k, v in tags.items():
        e = k.upper().encode("ascii") + b"=" + v.encode("utf-8")
        out += struct.pack("<I", len(e)) + e
    return out


# --- Matroska / WebM (header-only) ----------------------------------------
#
# EBML element walk (RFC 8794 structure; Matroska element IDs): Segment
# -> Info (TimecodeScale, Duration) and Tracks -> TrackEntry (TrackType,
# CodecID, Video{PixelWidth, PixelHeight}, Audio{SamplingFrequency,
# Channels}). VP8/VP9/AV1/Opus bitstreams stay honestly unsupported —
# the mp4_info tier for the web's other video container.

_EBML_MAGIC = b"\x1a\x45\xdf\xa3"
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TIMECODESCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACKENTRY = 0xAE
_MKV_TRACKTYPE = 0x83
_MKV_CODECID = 0x86
_MKV_VIDEO = 0xE0
_MKV_PIXELWIDTH = 0xB0
_MKV_PIXELHEIGHT = 0xBA
_MKV_AUDIO = 0xE1
_MKV_SAMPLINGFREQ = 0xB5
_MKV_CHANNELS = 0x9F
_MKV_TRACKNUMBER = 0xD7
_MKV_CLUSTER = 0x1F43B675
_MKV_CLUSTERTC = 0xE7
_MKV_SIMPLEBLOCK = 0xA3
_MKV_BLOCKGROUP = 0xA0
_MKV_BLOCK = 0xA1
_MKV_CONTAINERS = frozenset(
    (_MKV_SEGMENT, _MKV_INFO, _MKV_TRACKS, _MKV_TRACKENTRY, _MKV_VIDEO, _MKV_AUDIO)
)
_MKV_TAGS = 0x1254C367
_MKV_TAG = 0x7373
_MKV_SIMPLETAG = 0x67C8
_MKV_TAGNAME = 0x45A3
_MKV_TAGSTRING = 0x4487
_MKV_TAG_KEYS = {
    # matroska.org official tag names -> canonical keys
    "TITLE": "title", "ARTIST": "artist", "ALBUM": "album",
    "DATE_RELEASED": "date", "DATE_RECORDED": "date", "GENRE": "genre",
    "PART_NUMBER": "track", "COMMENT": "comment", "COPYRIGHT": "copyright",
    "ENCODER": "encoder", "COMPOSER": "composer",
}
_MKV_MAX_ELEMS = 100_000
_MKV_MAX_DEPTH = 16
# Separate bound for the Cluster/SimpleBlock frame count: blocks scale
# with CONTENT length (a 2 h file has ~10^5-10^6), unlike the structure
# walk's element count. Exceeding it degrades to n_frames=None (honest
# "didn't count"), never an error — the metadata else stays usable.
_MKV_MAX_BLOCKS = 200_000
_EBML_UNKNOWN = object()  # sentinel: unknown-size element (streams)


def is_webm(data: bytes) -> bool:
    return bytes(data[:4]) == _EBML_MAGIC


def _ebml_id(data: bytes, pos: int) -> tuple[int, int]:
    """Read an EBML ID (marker bit KEPT, per spec)."""
    if pos >= len(data):
        raise ValueError("truncated EBML id")
    b0 = data[pos]
    if b0 == 0:
        raise ValueError("invalid EBML id")
    n = 8 - b0.bit_length() + 1
    if pos + n > len(data):
        raise ValueError("truncated EBML id")
    return int.from_bytes(data[pos : pos + n], "big"), pos + n


def _ebml_size(data: bytes, pos: int):
    """Read an EBML size vint (marker bit STRIPPED); all-ones payload
    means unknown size (used by streamed Segments)."""
    if pos >= len(data):
        raise ValueError("truncated EBML size")
    b0 = data[pos]
    if b0 == 0:
        raise ValueError("invalid EBML size")
    n = 8 - b0.bit_length() + 1
    if pos + n > len(data):
        raise ValueError("truncated EBML size")
    val = int.from_bytes(data[pos : pos + n], "big") - (1 << (7 * n))
    if val == (1 << (7 * n)) - 1:
        return _EBML_UNKNOWN, pos + n
    return val, pos + n


def _mkv_walk(data: bytes, pos: int, end: int, depth: int, budget: list) -> list:
    out = []
    if depth > _MKV_MAX_DEPTH:
        raise ValueError("EBML nesting exceeds bound")
    while pos < end:
        budget[0] -= 1
        if budget[0] < 0:
            raise ValueError(f"EBML exceeds {_MKV_MAX_ELEMS} elements")
        eid, p = _ebml_id(data, pos)
        size, body = _ebml_size(data, p)
        bend = end if size is _EBML_UNKNOWN else body + size
        if bend > end:
            raise ValueError(f"EBML element 0x{eid:X} escapes enclosure")
        out.append((eid, body, bend, depth))
        if eid in _MKV_CONTAINERS:
            out += _mkv_walk(data, body, bend, depth + 1, budget)
        pos = bend
    return out


def _ebml_uint(data: bytes, body: int, bend: int) -> int:
    return int.from_bytes(data[body:bend], "big")


def _ebml_float(data: bytes, body: int, bend: int) -> float:
    n = bend - body
    if n == 4:
        return struct.unpack(">f", data[body:bend])[0]
    if n == 8:
        return struct.unpack(">d", data[body:bend])[0]
    raise ValueError(f"EBML float of width {n}")


@_truncation_as_valueerror("Matroska")
def _block_frame_count(data: bytes, body: int, bend: int, vnum: int) -> int:
    """Frames a (Simple)Block contributes for track ``vnum``: 0 for
    other tracks, 1 un-laced, the lace count when the lacing bits are
    set (the count byte directly follows the flags for every lace
    mode, ISO-style in Matroska §10)."""
    tn, p = _ebml_size(data, body)
    if tn is _EBML_UNKNOWN or p + 3 > bend:
        raise ValueError("malformed Matroska block header")
    if tn != vnum:
        return 0
    flags = data[p + 2]
    if flags & 0x06:  # laced: next byte = frame count - 1
        if p + 4 > bend:
            raise ValueError("malformed Matroska laced block")
        return data[p + 3] + 1
    return 1


def _webm_count_frames(data: bytes, clusters: list, vnum: int | None):
    """Bounded Cluster walk → video-track frame count, or None when
    there are no Clusters, no attributable video track number, or the
    block count exceeds _MKV_MAX_BLOCKS (degrade, don't fail — the
    structural metadata stays usable)."""
    if vnum is None or not clusters:
        return None
    budget = _MKV_MAX_BLOCKS
    n = 0
    for cbody, cend in clusters:
        pos = cbody
        while pos < cend:
            budget -= 1
            if budget < 0:
                return None
            eid, p = _ebml_id(data, pos)
            size, body = _ebml_size(data, p)
            bend = cend if size is _EBML_UNKNOWN else body + size
            if bend > cend:
                raise ValueError(f"EBML element 0x{eid:X} escapes enclosure")
            if eid == _MKV_CLUSTER:
                # unknown-size predecessor spanned to segment end; the
                # next cluster appears nested — walk straight into it
                pos = body
                continue
            if eid in (_MKV_SIMPLEBLOCK, _MKV_BLOCK):
                n += _block_frame_count(data, body, bend, vnum)
            elif eid == _MKV_BLOCKGROUP:
                q = body
                while q < bend:
                    budget -= 1
                    if budget < 0:
                        return None
                    eid2, p2 = _ebml_id(data, q)
                    size2, body2 = _ebml_size(data, p2)
                    bend2 = bend if size2 is _EBML_UNKNOWN else body2 + size2
                    if bend2 > bend:
                        raise ValueError(
                            f"EBML element 0x{eid2:X} escapes enclosure"
                        )
                    if eid2 == _MKV_BLOCK:
                        n += _block_frame_count(data, body2, bend2, vnum)
                    q = bend2
            pos = bend
    return n


_MKV_CODECPRIVATE = 0x63A2
_MKV_WRITINGAPP = 0x5741


def webm_audio_packets(data: bytes) -> tuple[str, bytes, list, str | None]:
    """(codec_id, codec_private, packets, writing_app) of the FIRST
    audio track in a Matroska/WebM file — the shared block walk behind
    the Opus and Vorbis envelope fronts: packets lifted from Cluster
    SimpleBlocks/Blocks of that track (no-lacing blocks; laced audio
    refuses), CodecPrivate passed through for codecs whose headers live
    there (Vorbis), WritingApp surfaced for the Opus CELT fixture
    gate."""
    data = bytes(data)
    if not is_webm(data):
        raise ValueError("not Matroska/WebM: bad EBML magic")
    budget = [_MKV_MAX_ELEMS]
    elems = _mkv_walk(data, 0, len(data), 0, budget)
    anum = None
    entry_end = -1
    cur_num = cur_type = None
    cur_codec = cur_priv = None
    codec_id = None
    codec_private = b""
    writing_app = None
    clusters: list[tuple[int, int]] = []
    for eid, body, bend, _d in elems:
        if eid == _MKV_TRACKENTRY:
            if cur_type == 2 and anum is None:
                anum = cur_num
                codec_id = cur_codec
                codec_private = cur_priv or b""
            cur_num = cur_type = cur_codec = cur_priv = None
            entry_end = bend
        elif eid == _MKV_CLUSTER:
            clusters.append((body, bend))
        elif eid == _MKV_WRITINGAPP:
            try:
                writing_app = data[body:bend].decode("utf-8")
            except UnicodeDecodeError:
                writing_app = None
        elif body <= entry_end:
            if eid == _MKV_TRACKNUMBER:
                cur_num = _ebml_uint(data, body, bend)
            elif eid == _MKV_TRACKTYPE:
                cur_type = _ebml_uint(data, body, bend)
            elif eid == _MKV_CODECID:
                cur_codec = data[body:bend].decode("latin-1")
            elif eid == _MKV_CODECPRIVATE:
                cur_priv = data[body:bend]
    if cur_type == 2 and anum is None:
        anum = cur_num
        codec_id = cur_codec
        codec_private = cur_priv or b""
    if anum is None:
        raise ValueError("WebM without an audio track entry")

    def block_payload(body: int, bend: int):
        # block header: track vint, s16 rel timecode, flags byte
        tnum, p = _ebml_size(data, body)
        if tnum is not _EBML_UNKNOWN and tnum != anum:
            return None
        flags = data[p + 2]
        if flags & 0x06:
            raise NotImplementedError(
                "laced audio blocks (one packet per block tier)"
            )
        return data[p + 3 : bend]

    packets: list[bytes] = []
    blk_budget = _MKV_MAX_BLOCKS
    for cbody, cend in clusters:
        pos = cbody
        while pos < cend:
            blk_budget -= 1
            if blk_budget < 0:
                raise ValueError("WebM block count exceeds the walk budget")
            eid, p = _ebml_id(data, pos)
            size, body = _ebml_size(data, p)
            bend = cend if size is _EBML_UNKNOWN else body + size
            if bend > cend:
                raise ValueError(f"EBML element 0x{eid:X} escapes enclosure")
            if eid == _MKV_SIMPLEBLOCK:
                pkt = block_payload(body, bend)
                if pkt:
                    packets.append(pkt)
            elif eid == _MKV_BLOCKGROUP:
                q = body
                while q < bend:
                    eid2, p2 = _ebml_id(data, q)
                    size2, body2 = _ebml_size(data, p2)
                    bend2 = bend if size2 is _EBML_UNKNOWN else body2 + size2
                    if bend2 > bend:
                        raise ValueError(
                            f"EBML element 0x{eid2:X} escapes enclosure"
                        )
                    if eid2 == _MKV_BLOCK:
                        pkt = block_payload(body2, bend2)
                        if pkt:
                            packets.append(pkt)
                    q = bend2
            pos = bend
    return codec_id or "", codec_private, packets, writing_app


def xiph_lacing_split(priv: bytes, n_packets: int = 3) -> list[bytes]:
    """Split a Xiph-laced CodecPrivate blob (Matroska's Vorbis header
    layout: count-1 byte, then 255-continued sizes for all but the
    last packet, then the packets back to back)."""
    if not priv:
        raise ValueError("empty CodecPrivate")
    if priv[0] != n_packets - 1:
        raise ValueError(
            f"CodecPrivate lacing count {priv[0] + 1} != {n_packets}"
        )
    at = 1
    sizes = []
    for _ in range(n_packets - 1):
        size = 0
        while True:
            if at >= len(priv):
                raise ValueError("truncated CodecPrivate lacing")
            size += priv[at]
            stop = priv[at] < 255
            at += 1
            if stop:
                break
        sizes.append(size)
    out = []
    for size in sizes:
        if at + size > len(priv):
            raise ValueError("CodecPrivate lacing overruns the blob")
        out.append(priv[at : at + size])
        at += size
    out.append(priv[at:])
    return out


def webm_info(data: bytes) -> dict:
    """Matroska/WebM metadata: duration (TimecodeScale-scaled), first
    video track's dimensions + codec + Cluster-walk frame count/fps,
    first audio track's rate/channels + codec, track counts. Bounded
    walk; ValueError on bad structure; n_frames/fps None when there are
    no Clusters (metadata-only skeleton) or the count exceeds the
    block bound."""
    data = bytes(data)
    if not is_webm(data):
        raise ValueError("not Matroska/WebM: bad EBML magic")
    budget = [_MKV_MAX_ELEMS]
    elems = _mkv_walk(data, 0, len(data), 0, budget)
    timecode_scale = 1_000_000  # Matroska default: ns per tick
    duration_ticks = None
    tracks: list[dict] = []
    cur: dict = {}
    entry_end = -1
    saw_segment = False
    clusters: list[tuple[int, int]] = []
    for eid, body, bend, depth in elems:
        if eid == _MKV_SEGMENT:
            saw_segment = True
        elif eid == _MKV_TIMECODESCALE:
            timecode_scale = _ebml_uint(data, body, bend)
        elif eid == _MKV_DURATION:
            duration_ticks = _ebml_float(data, body, bend)
        elif eid == _MKV_CLUSTER:
            clusters.append((body, bend))
        elif eid == _MKV_TRACKENTRY:
            if cur:
                tracks.append(dict(cur))
                cur.clear()
            entry_end = bend
        elif body <= entry_end:
            if eid == _MKV_TRACKTYPE:
                cur["type"] = _ebml_uint(data, body, bend)
            elif eid == _MKV_TRACKNUMBER:
                cur["num"] = _ebml_uint(data, body, bend)
            elif eid == _MKV_CODECID:
                cur["codec"] = data[body:bend].decode("latin-1").rstrip("\x00")
            elif eid == _MKV_PIXELWIDTH:
                cur["width"] = _ebml_uint(data, body, bend)
            elif eid == _MKV_PIXELHEIGHT:
                cur["height"] = _ebml_uint(data, body, bend)
            elif eid == _MKV_SAMPLINGFREQ:
                cur["rate"] = _ebml_float(data, body, bend)
            elif eid == _MKV_CHANNELS:
                cur["channels"] = _ebml_uint(data, body, bend)
    if cur:
        tracks.append(dict(cur))
    if not saw_segment:
        raise ValueError("Matroska missing Segment element")
    duration_ms = (
        duration_ticks * timecode_scale / 1e6 if duration_ticks is not None else 0.0
    )
    width = height = 0
    video_codec = audio_codec = None
    sample_rate = channels = None
    n_video = n_audio = 0
    vnum = None
    for t in tracks:
        if t.get("type") == 1:  # video
            n_video += 1
            if n_video == 1:
                width, height = t.get("width", 0), t.get("height", 0)
                video_codec = t.get("codec")
                vnum = t.get("num")
        elif t.get("type") == 2:  # audio
            n_audio += 1
            if n_audio == 1:
                audio_codec = t.get("codec")
                sample_rate = t.get("rate")
                channels = t.get("channels")
    n_frames = _webm_count_frames(data, clusters, vnum)
    fps = (
        n_frames / (duration_ms / 1000.0)
        if n_frames is not None and duration_ms > 0
        else None
    )
    return {
        "container": "webm",
        "duration_ms": duration_ms,
        "width": width,
        "height": height,
        "video_codec": video_codec,
        "audio_codec": audio_codec,
        "sample_rate": sample_rate,
        "n_channels": channels,
        "n_video_tracks": n_video,
        "n_audio_tracks": n_audio,
        "n_frames": n_frames,
        "fps": fps,
    }


def mkv_tags(data: bytes) -> dict[str, str]:
    """Matroska/WebM Tags element (Segment > Tags > Tag > SimpleTag >
    TagName/TagString, both UTF-8): the official matroska.org tag
    names mapped to the canonical keys, plus mkv:<name> passthrough
    for the rest. {} when the file carries no Tags; the walk shares
    the EBML element budget and bounds."""
    data = bytes(data)
    if not is_webm(data):
        raise ValueError("not an EBML/Matroska stream")
    budget = [_MKV_MAX_ELEMS]
    out: dict[str, str] = {}
    total_budget = _TAG_MAX_TOTAL
    for eid, body, bend, _d in _mkv_walk(data, 0, len(data), 0, budget):
        if eid != _MKV_TAGS:
            continue
        for tid, tb, te, _d2 in _mkv_walk(data, body, bend, 1, budget):
            if tid != _MKV_TAG:
                continue
            for sid, sb, se, _d3 in _mkv_walk(data, tb, te, 2, budget):
                if sid != _MKV_SIMPLETAG:
                    continue
                name = val = None
                for fid, fb, fe, _d4 in _mkv_walk(data, sb, se, 3, budget):
                    if fid == _MKV_TAGNAME:
                        name = data[fb:fe].decode("utf-8", errors="replace")
                    elif fid == _MKV_TAGSTRING:
                        if fe - fb > _TAG_MAX_VALUE:
                            raise ValueError(
                                "Matroska TagString exceeds the tag bound"
                            )
                        val = data[fb:fe].decode("utf-8", errors="replace")
                if name and val:
                    total_budget -= len(val)
                    if total_budget < 0:
                        raise ValueError(
                            "Matroska Tags exceed the total text bound"
                        )
                    key = _MKV_TAG_KEYS.get(name.upper(), f"mkv:{name.lower()}")
                    out.setdefault(key, val)
    return out


def _ebml_encode_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _ebml_encode_size(n: int) -> bytes:
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:
            return (n | (1 << (7 * width))).to_bytes(width, "big")
    raise ValueError("EBML size too large")


def _ebml_elem(eid: int, payload: bytes) -> bytes:
    return _ebml_encode_id(eid) + _ebml_encode_size(len(payload)) + payload


def encode_webm_skeleton(
    duration_s: float = 10.0,
    width: int = 1280,
    height: int = 720,
    video_codec: bytes = b"V_VP9",
    audio_codec: bytes | None = b"A_OPUS",
    rate: float = 48000.0,
    channels: int = 2,
    timecode_scale: int = 1_000_000,
    unknown_segment_size: bool = False,
    n_frames: int = 0,
    blocks_per_cluster: int = 20,
    audio_blocks: bool = False,
    block_groups: bool = False,
    laced_pairs: bool = False,
    tags: dict[str, str] | None = None,
) -> bytes:
    """Spec-packed Matroska fixture (EBML header + Segment(Info,
    Tracks[, Clusters])) — the independent side of webm_info's
    contract. ``n_frames`` > 0 emits Clusters of SimpleBlocks for the
    video track (track 1) evenly spread over the duration;
    ``audio_blocks`` interleaves track-2 blocks the frame count must
    ignore; ``block_groups`` wraps every other video frame in
    BlockGroup/Block; ``laced_pairs`` packs frames as 2-frame laced
    blocks (n_frames must then be even)."""
    ebml_hdr = _EBML_MAGIC + _ebml_encode_size(0)
    info = _ebml_elem(
        _MKV_INFO,
        _ebml_elem(_MKV_TIMECODESCALE, timecode_scale.to_bytes(4, "big"))
        + _ebml_elem(
            _MKV_DURATION,
            struct.pack(">d", duration_s * 1e9 / timecode_scale),
        ),
    )
    video_entry = _ebml_elem(
        _MKV_TRACKENTRY,
        _ebml_elem(_MKV_TRACKTYPE, b"\x01")
        + _ebml_elem(_MKV_TRACKNUMBER, b"\x01")
        + _ebml_elem(_MKV_CODECID, video_codec)
        + _ebml_elem(
            _MKV_VIDEO,
            _ebml_elem(_MKV_PIXELWIDTH, width.to_bytes(2, "big"))
            + _ebml_elem(_MKV_PIXELHEIGHT, height.to_bytes(2, "big")),
        ),
    )
    audio_entry = (
        _ebml_elem(
            _MKV_TRACKENTRY,
            _ebml_elem(_MKV_TRACKTYPE, b"\x02")
            + _ebml_elem(_MKV_TRACKNUMBER, b"\x02")
            + _ebml_elem(_MKV_CODECID, audio_codec)
            + _ebml_elem(
                _MKV_AUDIO,
                _ebml_elem(_MKV_SAMPLINGFREQ, struct.pack(">f", rate))
                + _ebml_elem(_MKV_CHANNELS, bytes([channels])),
            ),
        )
        if audio_codec is not None
        else b""
    )
    tracks = _ebml_elem(_MKV_TRACKS, video_entry + audio_entry)

    def _block(track: int, rel_tc: int, flags: int, payload: bytes) -> bytes:
        return bytes([0x80 | track]) + struct.pack(">h", rel_tc) + bytes([flags]) + payload

    clusters = b""
    if n_frames:
        if laced_pairs and n_frames % 2:
            raise ValueError("laced_pairs needs an even n_frames")
        duration_ms = duration_s * 1e9 / timecode_scale  # in ticks
        tcs = [int(round(k * duration_ms / n_frames)) for k in range(n_frames)]
        emit_tcs = tcs[::2] if laced_pairs else tcs
        i = 0
        while i < len(emit_tcs):
            chunk = emit_tcs[i : i + blocks_per_cluster]
            payload = _ebml_elem(
                _MKV_CLUSTERTC, max(chunk[0], 0).to_bytes(4, "big")
            )
            for j, tc in enumerate(chunk):
                rel = tc - chunk[0]
                if laced_pairs:
                    # EBML lacing, 2 frames: count byte 1, first frame
                    # size as a 1-byte vint, two 2-byte dummy frames
                    body = _block(1, rel, 0x80 | 0x06, b"\x01\x82\xaa\xbb\xcc\xdd")
                elif block_groups and (i + j) % 2:
                    body = _ebml_elem(
                        _MKV_BLOCKGROUP,
                        _ebml_elem(_MKV_BLOCK, _block(1, rel, 0x00, b"\xaa\xbb")),
                    )
                    payload += body
                    if audio_blocks:
                        payload += _ebml_elem(
                            _MKV_SIMPLEBLOCK, _block(2, rel, 0x80, b"\xee")
                        )
                    continue
                else:
                    body = _block(1, rel, 0x80, b"\xaa\xbb")
                payload += _ebml_elem(_MKV_SIMPLEBLOCK, body)
                if audio_blocks:
                    payload += _ebml_elem(
                        _MKV_SIMPLEBLOCK, _block(2, rel, 0x80, b"\xee")
                    )
            clusters += _ebml_elem(_MKV_CLUSTER, payload)
            i += blocks_per_cluster
    tags_elem = b""
    if tags:
        rev = {}
        for n, k in _MKV_TAG_KEYS.items():
            rev.setdefault(k, n)
        stags = b""
        for k, v in tags.items():
            name = rev.get(k, k.removeprefix("mkv:").upper())
            stags += _ebml_elem(
                _MKV_SIMPLETAG,
                _ebml_elem(_MKV_TAGNAME, name.encode("utf-8"))
                + _ebml_elem(_MKV_TAGSTRING, v.encode("utf-8")),
            )
        tags_elem = _ebml_elem(_MKV_TAGS, _ebml_elem(_MKV_TAG, stags))
    seg_payload = info + tracks + clusters + tags_elem
    if unknown_segment_size:
        seg = (
            _ebml_encode_id(_MKV_SEGMENT)
            + b"\xff"  # 1-byte unknown-size vint
            + seg_payload
        )
    else:
        seg = _ebml_elem(_MKV_SEGMENT, seg_payload)
    return ebml_hdr + seg


# --- JPEG -----------------------------------------------------------------
#
# Sequential DCT (SOF0/SOF1) and progressive (SOF2), 8-bit and 12-bit
# (12-bit reduces to the top 8 bits after full-precision decode), gray or
# YCbCr, subsampling factors in {1, 2} (4:4:4 / 4:2:2 / 4:2:0), restart
# markers. Arithmetic coding raises NotImplementedError.
# The encoder (standard Annex-K tables, IJG quality scaling, optional 4:2:0
# and restart intervals) exists so tests can round-trip the decoder against
# known pixels; both directions are
# independent enough that a bug in one fails the round-trip tolerance.

JPEG_SIG = b"\xff\xd8"

# zigzag scan order: ZIGZAG[k] = raster index of the k-th zigzag element
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K quantization tables, raster order
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K huffman tables: (bits[16], values)
_H_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_H_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_H_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_H_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis M: forward F = M f M^T, inverse
    f = M^T F M — exactly the JPEG coefficient normalization."""
    m = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(1.0 / 8.0) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_DCT_M = _dct_matrix()


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical huffman assignment (ITU T.81 C.2): value -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def is_jpeg(data: bytes) -> bool:
    return bytes(data[:2]) == JPEG_SIG


class _BitReader:
    """MSB-first bit reader over an already-unstuffed entropy segment.

    Buffered: bytes enter a small accumulator 8 at a time, huffman
    codes resolve with ONE 16-bit peek into a flat lookup table
    (``_huff_lut``) instead of a dict probe per bit — the classic
    table-driven decode that makes pure-Python entropy decoding
    tolerable. Peeks past the end see zero padding; CONSUMING past the
    end raises (truncated stream), preserving strict error semantics.
    """

    __slots__ = ("data", "nbytes", "pos", "acc", "nacc", "limit", "consumed")

    def __init__(self, data: bytes):
        self.data = data
        self.nbytes = len(data)
        self.pos = 0
        self.acc = 0
        self.nacc = 0
        self.limit = self.nbytes * 8
        self.consumed = 0

    def _fill(self, need: int) -> None:
        data, pos, nbytes = self.data, self.pos, self.nbytes
        acc, nacc = self.acc, self.nacc
        while nacc < need:
            acc = (acc << 8) | (data[pos] if pos < nbytes else 0)
            pos += 1
            nacc += 8
        self.acc, self.nacc, self.pos = acc, nacc, pos

    def _consume(self, n: int) -> None:
        self.consumed += n
        if self.consumed > self.limit:
            raise ValueError("JPEG entropy stream truncated")
        self.nacc -= n
        self.acc &= (1 << self.nacc) - 1

    def read_bit(self) -> int:
        if self.nacc < 1:
            self._fill(1)
        v = (self.acc >> (self.nacc - 1)) & 1
        self._consume(1)
        return v

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nacc < n:
            self._fill(n)
        v = (self.acc >> (self.nacc - n)) & ((1 << n) - 1)
        self._consume(n)
        return v

    def read_code(self, lut: list[int]) -> int:
        if self.nacc < 16:
            self._fill(16)
        entry = lut[(self.acc >> (self.nacc - 16)) & 0xFFFF]
        ln = entry & 31
        if ln == 0:
            raise ValueError("invalid JPEG huffman code")
        self._consume(ln)
        return entry >> 5


# Each cached LUT is a 65536-slot list of mostly-distinct Python ints —
# ~2.6 MB of long-lived objects per entry — so the cap must be SMALL to
# mean anything: 16 covers the Annex-K steady state (4 plain + 4 combined
# sequential keys + progressive flat tables) at ≤ ~42 MB per executor.
# cjpeg -optimize corpora carry per-image tables and miss regardless; FIFO
# eviction keeps the common tables resident under a shifting workload.
_LUT_CACHE: dict[bytes, list[int]] = {}
_LUT_CACHE_MAX = 16


def _lut_cache_put(key: bytes, lut: list[int]) -> None:
    if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
    _LUT_CACHE[key] = lut


def _huff_lut(bits: list[int], vals: list[int]) -> list[int]:
    """16-bit-peek decode table: lut[peek16] = (value << 5) | code_len,
    0 for invalid prefixes. A plain Python list — scalar indexing beats
    a numpy array from the per-symbol loop. Cached by table bytes: a
    real corpus reuses the same (usually Annex-K) tables across
    millions of images, so the 64K build is paid once per executor."""
    key = bytes(bits) + bytes(vals)  # bits is always 16 bytes: unambiguous
    lut = _LUT_CACHE.get(key)
    if lut is not None:
        return lut
    lut = [0] * (1 << 16)
    code, k = 0, 0
    for ln in range(1, 17):
        span = 1 << (16 - ln)
        for _ in range(bits[ln - 1]):
            v = vals[k]
            k += 1
            start = code << (16 - ln)
            lut[start : start + span] = [(v << 5) | ln] * span
            code += 1
        code <<= 1
    _lut_cache_put(key, lut)
    return lut


def _seq_lut(bits: list[int], vals: list[int], is_dc: bool) -> list[int]:
    """COMBINED decode table for the sequential hot path: one 16-bit
    peek resolves the huffman symbol AND its magnitude bits (when
    code+magnitude fit in 16 bits — virtually always), so the per-
    coefficient loop does a single lookup instead of code-then-bits.

    Entry layout (0 = invalid prefix):
      bits 0-4   total bits to consume
      bits 5-6   kind: 0=value, 1=EOB, 2=ZRL, 3=slow (magnitude spills
                 past the peek — consume the code only, read bits after)
      bits 7-10  zero-run r (value/slow kinds)
      bits 11+   value+32768 (value kind) | size s (slow kind)
    Built vectorized in numpy from the canonical table; cached like
    ``_huff_lut``.
    """
    key = (b"D" if is_dc else b"A") + bytes(bits) + bytes(vals)
    lut = _LUT_CACHE.get(key)
    if lut is not None:
        return lut
    base = np.array(_huff_lut(bits, vals), dtype=np.int64)
    ln = base & 31
    sym = base >> 5
    if is_dc:
        r = np.zeros_like(sym)
        s = sym
    else:
        r = sym >> 4
        s = sym & 15
    total = ln + s
    idx = np.arange(1 << 16, dtype=np.int64)
    shift = np.clip(16 - total, 0, 16)
    mag = (idx >> shift) & ((1 << np.minimum(s, 15)) - 1)
    val = np.where(mag >= (1 << np.maximum(s - 1, 0)), mag, mag - (1 << s) + 1)
    val = np.where(s == 0, 0, val)
    invalid = ln == 0
    slow = total > 16
    if is_dc:
        eob = np.zeros_like(invalid)
        zrl = np.zeros_like(invalid)
    else:
        eob = (s == 0) & (r != 15)
        zrl = (s == 0) & (r == 15)
    out = np.select(
        [invalid, slow, eob, zrl],
        [
            np.int64(0),
            ln | (3 << 5) | (r << 7) | (s << 11),
            ln | (1 << 5),
            ln | (2 << 5),
        ],
        default=total | (r << 7) | ((val + 32768) << 11),
    )
    lut = out.tolist()
    _lut_cache_put(key, lut)
    return lut


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the s received bits to a signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _scan_mcu_geometry(scan_sel, by_id, mcx, mcy, width, height, hmax, vmax):
    """Per-scan MCU structure (T.81 A.2): interleaved scans step the
    (mcx, mcy) grid with h×v blocks per component; a single-component
    scan's MCU is ONE block over that component's own ceil grid."""
    if len(scan_sel) > 1:
        units = []
        for s in scan_sel:
            c = by_id[s["cs"]]
            units.append((s, c, c["h"], c["v"]))
        return mcx * mcy, mcx, units, True
    s = scan_sel[0]
    c = by_id[s["cs"]]
    xi = -(-(width * c["h"]) // hmax)  # T.81 A.1.1 component dimensions
    yi = -(-(height * c["v"]) // vmax)
    bw = -(-xi // 8)
    bh = -(-yi // 8)
    return bw * bh, bw, [(s, c, 1, 1)], False


_Z64 = [0] * 64


def _decode_seq_scan(coefs, scan, huff, by_id, mcx, mcy, width, height, hmax, vmax):
    """Sequential (SOF0/SOF1) scan: full DC+AC per block.

    THE hot kernel of image decode at corpus scale, so the bit reader
    is inlined into locals (no attribute access or method calls per
    symbol — the jdhuff discipline applied to Python) and blocks decode
    into plain Python lists that become the int32 coefficient array in
    ONE bulk numpy conversion at scan end.
    """
    sel, segments, ri = scan["sel"], scan["segments"], scan["ri"]
    n_mcus, row_mcus, units, interleaved = _scan_mcu_geometry(
        sel, by_id, mcx, mcy, width, height, hmax, vmax
    )
    tabs = []
    for s, c, nh, nv in units:
        dc = huff.get((0, s["td"]))
        ac = huff.get((1, s["ta"]))
        if dc is None or ac is None:
            raise ValueError("JPEG scan references missing table")
        tabs.append((c, _seq_lut(*dc, True), _seq_lut(*ac, False), nh, nv))
    # decoded blocks per component, row-major over its block grid
    rows = {
        c["id"]: [None] * (coefs[c["id"]].shape[0] * coefs[c["id"]].shape[1])
        for c, *_ in tabs
    }
    nbx_of = {c["id"]: coefs[c["id"]].shape[1] for c, *_ in tabs}
    pred = {c["id"]: 0 for c, *_ in tabs}
    seg_idx = 0
    # --- inlined bit-reader state (locals only in the loop below).
    # Segments are zero-padded so every refill is ONE unconditional
    # 16-bit load (a truncated stream overruns into padding by at most
    # one block before the per-block consumed check raises).
    sdata = segments[0] + b"\x00" * 256
    spos = acc = nacc = 0
    limit = len(segments[0]) * 8
    for mcu in range(n_mcus):
        if ri and mcu and mcu % ri == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing restart segment")
            sdata = segments[seg_idx] + b"\x00" * 256
            spos = acc = nacc = 0
            limit = len(segments[seg_idx]) * 8
            pred = {c["id"]: 0 for c, *_ in tabs}
        my, mx = divmod(mcu, row_mcus)
        for c, dc_lut, ac_lut, nh, nv in tabs:
            cid = c["id"]
            p = pred[cid]
            crows = rows[cid]
            nbx = nbx_of[cid]
            for bv in range(nv):
                for bh in range(nh):
                    if interleaved:
                        bi = (my * c["v"] + bv) * nbx + mx * c["h"] + bh
                    else:
                        bi = my * nbx + mx
                    blk = [0] * 64
                    # --- DC: one combined peek (code + magnitude)
                    if nacc < 16:
                        acc = (acc << 16) | (sdata[spos] << 8) | sdata[spos + 1]
                        spos += 2
                        nacc += 16
                    e = dc_lut[(acc >> (nacc - 16)) & 0xFFFF]
                    tl = e & 31
                    if tl == 0:
                        raise ValueError("invalid JPEG huffman code")
                    nacc -= tl
                    acc &= (1 << nacc) - 1
                    kind = e & 96
                    if kind == 0:
                        p += (e >> 11) - 32768
                    else:  # slow: magnitude spilled past the peek
                        t = (e >> 11) & 15
                        if nacc < t:
                            acc = (acc << 16) | (sdata[spos] << 8) | sdata[spos + 1]
                            spos += 2
                            nacc += 16
                        nacc -= t
                        v = acc >> nacc
                        acc &= (1 << nacc) - 1
                        p += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
                    blk[0] = p
                    # --- AC: combined peeks
                    k = 1
                    while k < 64:
                        if nacc < 16:
                            acc = (acc << 16) | (sdata[spos] << 8) | sdata[spos + 1]
                            spos += 2
                            nacc += 16
                        e = ac_lut[(acc >> (nacc - 16)) & 0xFFFF]
                        tl = e & 31
                        if tl == 0:
                            raise ValueError("invalid JPEG huffman code")
                        nacc -= tl
                        acc &= (1 << nacc) - 1
                        kind = e & 96
                        if kind == 0:  # run + value in one entry
                            k += (e >> 7) & 15
                            if k > 63:
                                raise ValueError("JPEG AC coefficient overflow")
                            blk[k] = (e >> 11) - 32768
                            k += 1
                        elif kind == 32:  # EOB
                            break
                        elif kind == 64:  # ZRL
                            k += 16
                        else:  # slow: read the magnitude separately
                            size = (e >> 11) & 15
                            k += (e >> 7) & 15
                            if k > 63:
                                raise ValueError("JPEG AC coefficient overflow")
                            if nacc < size:
                                acc = (acc << 16) | (sdata[spos] << 8) | sdata[spos + 1]
                                spos += 2
                                nacc += 16
                            nacc -= size
                            v = acc >> nacc
                            acc &= (1 << nacc) - 1
                            blk[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                            k += 1
                    if spos * 8 - nacc > limit:
                        raise ValueError("JPEG entropy stream truncated")
                    crows[bi] = blk
            pred[cid] = p
    if spos * 8 - nacc > limit:
        raise ValueError("JPEG entropy stream truncated")
    for cid, lst in rows.items():
        arr = coefs[cid]
        arr.reshape(-1, 64)[:] = [b if b is not None else _Z64 for b in lst]


def _decode_dc_scan_prog(coefs, scan, huff, by_id, mcx, mcy, width, height, hmax, vmax):
    """Progressive DC scan — first (Ah=0: diff huffman, << Al) or
    refinement (Ah>0: one bit per block ORed at Al)."""
    sel, segments, ri = scan["sel"], scan["segments"], scan["ri"]
    ah, al = scan["ah"], scan["al"]
    if scan["se"] != 0:
        raise ValueError("progressive DC scan must have Se=0")
    n_mcus, row_mcus, units, interleaved = _scan_mcu_geometry(
        sel, by_id, mcx, mcy, width, height, hmax, vmax
    )
    tabs = []
    for s, c, _, _ in units:
        dc = huff.get((0, s["td"])) if ah == 0 else None
        if ah == 0 and dc is None:
            raise ValueError("JPEG scan references missing table")
        tabs.append((c, _huff_lut(*dc) if dc else None))
    pred = {u[1]["id"]: 0 for u in units}
    seg_idx = 0
    rd = _BitReader(segments[0])
    bit = 1 << al
    for mcu in range(n_mcus):
        if ri and mcu and mcu % ri == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing restart segment")
            rd = _BitReader(segments[seg_idx])
            pred = {u[1]["id"]: 0 for u in units}
        my, mx = divmod(mcu, row_mcus)
        for (c, dc_lut), (_, _, nh, nv) in zip(tabs, units):
            arr = coefs[c["id"]]
            for bv in range(nv):
                for bh in range(nh):
                    if interleaved:
                        by, bx = my * c["v"] + bv, mx * c["h"] + bh
                    else:
                        by, bx = my, mx
                    if ah == 0:
                        t = rd.read_code(dc_lut)
                        pred[c["id"]] += _extend(rd.read_bits(t), t)
                        arr[by, bx, 0] = pred[c["id"]] << al
                    elif rd.read_bit():
                        arr[by, bx, 0] |= bit


def _decode_ac_scan_prog(coefs, scan, huff, by_id, mcx, mcy, width, height, hmax, vmax):
    """Progressive AC scan (always single-component, T.81 G.1.1.1.1) —
    first (EOB-run coded bands) or refinement (correction bits; the
    jdphuff algorithm from the spec's G.2 flowcharts)."""
    sel, segments, ri = scan["sel"], scan["segments"], scan["ri"]
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if len(sel) != 1:
        raise ValueError("progressive AC scan must be single-component")
    n_mcus, row_mcus, units, _ = _scan_mcu_geometry(
        sel, by_id, mcx, mcy, width, height, hmax, vmax
    )
    s0, c = units[0][0], units[0][1]
    ac_spec = huff.get((1, s0["ta"]))
    if ac_spec is None:
        raise ValueError("JPEG scan references missing table")
    ac_lut = _huff_lut(*ac_spec)
    arr = coefs[c["id"]]
    p1 = 1 << al
    m1 = -p1
    seg_idx = 0
    rd = _BitReader(segments[0])
    eobrun = 0
    for mcu in range(n_mcus):
        if ri and mcu and mcu % ri == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing restart segment")
            rd = _BitReader(segments[seg_idx])
            eobrun = 0
        by, bx = divmod(mcu, row_mcus)
        blk = arr[by, bx]
        if ah == 0:  # --- first scan of this band
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = rd.read_code(ac_lut)
                r, size = rs >> 4, rs & 15
                if size == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += rd.read_bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("JPEG AC coefficient overflow")
                blk[k] = _extend(rd.read_bits(size), size) << al
                k += 1
        else:  # --- refinement: append one bit to this band's history
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = rd.read_code(ac_lut)
                    r, size = rs >> 4, rs & 15
                    newval = 0
                    if size:
                        if size != 1:
                            raise ValueError("invalid JPEG AC refinement code")
                        newval = p1 if rd.read_bit() else m1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += rd.read_bits(r)
                        break
                    # advance over r zero-history coefs, appending
                    # correction bits to already-nonzero ones
                    while k <= se:
                        coef = int(blk[k])
                        if coef != 0:
                            if rd.read_bit() and (coef & p1) == 0:
                                blk[k] = coef + (p1 if coef >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval:
                        # a (r,1) symbol whose zero-run outran the band would
                        # land one slot past [ss,se] — hostile/corrupt input;
                        # keep the module's ValueError contract (the first-scan
                        # path raises the same way) instead of an IndexError
                        # at se==63 or silent cross-band corruption at se<63
                        if k > se:
                            raise ValueError("JPEG AC refinement overflow")
                        blk[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    coef = int(blk[k])
                    if coef != 0:
                        if rd.read_bit() and (coef & p1) == 0:
                            blk[k] = coef + (p1 if coef >= 0 else m1)
                    k += 1
                eobrun -= 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline or PROGRESSIVE JPEG to (H, W, 1) gray or
    (H, W, 3) RGB uint8.

    Sequential huffman (SOF0/SOF1) and progressive huffman (SOF2 —
    spectral selection AND successive approximation, the format most
    of the web serves) are REAL, at 8-bit AND 12-bit sample precision
    (12-bit — medical/archival scans — decodes at full precision and
    reduces to the top 8 bits, the same bit-depth-reduction rule as
    16-bit PNG/TIFF; a 12-bit SOF0 is malformed per T.81 and raises
    ValueError); arithmetic coding, hierarchical, and
    lossless modes raise NotImplementedError. Component sampling
    factors must divide the maxima (the 4:4:4 / 4:2:2 / 4:2:0 family);
    restart markers are honored in every scan type. Architecture:
    every scan decodes into per-component zigzag coefficient arrays
    (progressive scans accumulate bits across scans); dequantize +
    IDCT then run VECTORIZED over all blocks at once (one einsum per
    component), so numpy does the pixel math and Python only walks the
    entropy stream.
    """
    data = bytes(data)
    if not is_jpeg(data):
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], list[int]] = {}
    sof = None
    progressive = False
    restart_interval = 0
    scans: list[dict] = []
    try:
        while pos < len(data):
            if data[pos] != 0xFF:
                raise ValueError("JPEG marker expected")
            while pos < len(data) and data[pos] == 0xFF:
                pos += 1
            marker = data[pos]
            pos += 1
            if marker == 0xD9:  # EOI
                break
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                continue
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            body = data[pos + 2 : pos + seglen]
            pos += seglen
            if marker == 0xDB:  # DQT (possibly several tables)
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 15
                    if pq not in (0, 1):
                        raise ValueError(f"bad JPEG DQT precision {pq}")
                    # pq=1: 16-bit big-endian entries (T.81 B.2.4.1) —
                    # archival/high-quality encoders emit them for
                    # near-lossless quant steps
                    width_b = 2 if pq else 1
                    raw_q = body[i + 1 : i + 1 + 64 * width_b]
                    if len(raw_q) < 64 * width_b:
                        raise ValueError("truncated JPEG DQT segment")
                    zz = np.frombuffer(
                        raw_q, dtype=">u2" if pq else np.uint8
                    ).astype(np.int64)
                    tbl = np.zeros(64, dtype=np.int64)
                    tbl[ZIGZAG] = zz
                    qt[tq] = tbl.reshape(8, 8)
                    i += 1 + 64 * width_b
            elif marker == 0xC4:  # DHT (possibly several tables)
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 15
                    bits = list(body[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(body[i + 17 : i + 17 + n])
                    if len(bits) < 16 or len(vals) < n:
                        raise ValueError("truncated JPEG DHT segment")
                    huff[(tc, th)] = (bits, vals)  # raw spec; LUTs built lazily
                    i += 17 + n
            elif marker in (0xC0, 0xC1, 0xC2):  # sequential | progressive huffman
                progressive = marker == 0xC2
                prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
                if prec == 12:
                    # T.81 allows 12-bit samples in extended sequential
                    # (SOF1) and progressive (SOF2); baseline is 8-bit
                    # by definition, so a 12-bit SOF0 is malformed
                    if marker == 0xC0:
                        raise ValueError("12-bit precision is invalid in baseline SOF0")
                elif prec != 8:
                    raise NotImplementedError(f"JPEG precision {prec}")
                # the wire field allows 255 components, each of which
                # allocates its own coefficient plane — a hostile SOF at
                # the pixel cap would claim ~68 GB. Real JFIF is 1 (gray),
                # 3 (YCbCr), or 4 (CMYK).
                if not 1 <= nc <= 4:
                    raise ValueError(f"JPEG component count {nc} out of bounds")
                comps = []
                for i in range(nc):
                    cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
                sof = (h, w, comps, prec)
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    "only sequential and progressive huffman JPEG are supported"
                )
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", body[:2])
            elif marker == 0xDA:  # SOS + entropy data
                ns = body[0]
                sel = []
                for i in range(ns):
                    cs, tda = body[1 + 2 * i : 3 + 2 * i]
                    sel.append({"cs": cs, "td": tda >> 4, "ta": tda & 15})
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                # split entropy stream into unstuffed restart segments;
                # bulk-copy the (overwhelmingly common) 0xFF-free runs
                segments, cur = [], bytearray()
                while pos < len(data):
                    ff = data.find(b"\xff", pos)
                    if ff < 0:
                        cur += data[pos:]
                        pos = len(data)
                        break
                    cur += data[pos:ff]
                    pos = ff
                    nxt = data[pos + 1] if pos + 1 < len(data) else 0xD9
                    if nxt == 0x00:
                        cur.append(0xFF)
                        pos += 2
                    elif 0xD0 <= nxt <= 0xD7:  # RSTn
                        segments.append(bytes(cur))
                        cur = bytearray()
                        pos += 2
                    else:  # a real marker ends the scan
                        break
                segments.append(bytes(cur))
                scans.append(
                    {
                        "sel": sel,
                        "segments": segments,
                        "ri": restart_interval,
                        "ss": ss,
                        "se": se,
                        "ah": ahal >> 4,
                        "al": ahal & 15,
                        # snapshot of the DHT state AT THIS SOS: libjpeg-family
                        # progressive encoders (cjpeg -progressive always runs
                        # -optimize) emit a fresh DHT reusing slots 0/1 before
                        # every scan, so decoding all scans against the final
                        # table state would mis-decode every real-world
                        # progressive JPEG
                        "huff": dict(huff),
                    }
                )
                if not progressive:
                    break  # single-scan sequential
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated JPEG header: {e}") from None
    if sof is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    height, width, comps, prec = sof
    center = float(1 << (prec - 1))
    maxv = (1 << prec) - 1
    _check_pixels(width, height, "JPEG")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        if c["h"] not in (1, 2, 4) or c["v"] not in (1, 2, 4) or hmax % c["h"] or vmax % c["v"]:
            raise NotImplementedError("unsupported JPEG sampling factors")
        if c["tq"] not in qt:
            raise ValueError("JPEG scan references missing table")
    mcx = -(-width // (8 * hmax))
    mcy = -(-height // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    # zigzag-ordered coefficients per component, every scan accumulates
    coefs = {
        c["id"]: np.zeros((mcy * c["v"], mcx * c["h"], 64), dtype=np.int32)
        for c in comps
    }
    for scan in scans:
        shuff = scan["huff"]
        if not progressive:
            _decode_seq_scan(
                coefs, scan, shuff, by_id, mcx, mcy, width, height, hmax, vmax
            )
        elif scan["ss"] == 0:
            _decode_dc_scan_prog(
                coefs, scan, shuff, by_id, mcx, mcy, width, height, hmax, vmax
            )
        else:
            _decode_ac_scan_prog(
                coefs, scan, shuff, by_id, mcx, mcy, width, height, hmax, vmax
            )
    out = []
    for c in comps:
        arr = coefs[c["id"]]
        nby, nbx = arr.shape[0], arr.shape[1]
        zz = arr.reshape(-1, 64).astype(np.float64)
        raster = np.empty_like(zz)
        raster[:, ZIGZAG] = zz
        blocks = raster.reshape(-1, 8, 8) * qt[c["tq"]]
        # batched IDCT over every block at once: broadcast matmul is
        # ~20x faster than the equivalent einsum for 8x8 stacks
        pix = (_DCT_M.T @ blocks) @ _DCT_M + center
        p = pix.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out.append(p[:height, :width])
    # 12-bit reduces to the top 8 bits after decoding at full
    # precision — the same bit-depth-reduction rule as 16-bit PNG/TIFF
    shift = prec - 8
    if len(out) == 1:
        g = np.clip(np.round(out[0]), 0, maxv).astype(np.int32)
        return (g >> shift).astype(np.uint8)[:, :, None]
    if len(out) != 3:
        raise NotImplementedError(f"JPEG with {len(out)} components")
    y, cb, cr = out
    r = y + 1.402 * (cr - center)
    g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    b = y + 1.772 * (cb - center)
    rgb = np.clip(np.round(np.dstack([r, g, b])), 0, maxv).astype(np.int32)
    return (rgb >> shift).astype(np.uint8)


class _BitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing.

    Accumulator-based: a whole code/magnitude enters in one shift-or
    and bytes drain 8 at a time — the per-BIT loop this replaces was
    the encoder's hot spot."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        acc = (self.acc << n) | (value & ((1 << n) - 1))
        nbits = self.nbits + n
        out = self.out
        while nbits >= 8:
            nbits -= 8
            b = (acc >> nbits) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base quant table (1..100)."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int64)


def _mag_bits(v: int) -> tuple[int, int]:
    """(category s, s-bit amplitude) encoding of a signed coefficient."""
    s = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _fdct_quant(p: np.ndarray, q: np.ndarray, level: float = 128.0) -> np.ndarray:
    """Batched FDCT + quantize of an MCU-aligned plane: (n_blocks, 64)
    int64 zigzag coefficients, one broadcast matmul for ALL blocks —
    shared by the sequential and progressive encoders. ``level`` is
    the sample level shift (2^(P-1): 128 for 8-bit, 2048 for 12-bit)."""
    nby, nbx = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - level
    coef = (_DCT_M @ blocks) @ _DCT_M.T
    zz = coef.reshape(-1, 64)[:, ZIGZAG]
    qzz = q.reshape(64)[ZIGZAG].astype(np.float64)
    return np.round(zz / qzz).astype(np.int64)


def _nz_slices(flat: np.ndarray):
    """Per-block AC nonzeros precomputed in ONE numpy pass: returns
    (dc0 list, ac position list, ac value list, start offsets) so the
    per-block huffman emitter touches only actual nonzero coefficients."""
    bi, ki = np.nonzero(flat[:, 1:])
    vals = flat[bi, ki + 1]
    starts = np.searchsorted(bi, np.arange(flat.shape[0] + 1))
    return flat[:, 0].tolist(), (ki + 1).tolist(), vals.tolist(), starts.tolist()


def _emit_block(
    w: _BitWriter,
    dc0: int,
    ks: list[int],
    vs: list[int],
    lo: int,
    hi: int,
    pred: int,
    dc: dict[int, tuple[int, int]],
    ac: dict[int, tuple[int, int]],
) -> int:
    """Huffman-emit one block from its nonzero (position, value) slice
    [lo:hi]; returns the block's DC for the next prediction."""
    s, bits = _mag_bits(dc0 - pred)
    code, ln = dc[s]
    w.write(code, ln)
    if s:
        w.write(bits, s)
    prev = 0
    for i in range(lo, hi):
        k = ks[i]
        run = k - prev - 1
        while run > 15:
            code, ln = ac[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        s, bits = _mag_bits(vs[i])
        code, ln = ac[(run << 4) | s]
        w.write(code, ln)
        w.write(bits, s)
        prev = k
    if prev != 63:
        code, ln = ac[0x00]  # EOB
        w.write(code, ln)
    return dc0


def _jpeg_prepare(img: np.ndarray, quality: int, subsample: bool | str):
    """Shared encoder front half: color transform, chroma subsampling,
    quality-scaled quant tables, MCU-aligned edge padding. Returns
    (h, w, nch, comps, padded_planes, qts, ql, qc, hmax, vmax, mcx, mcy).
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"JPEG encode supports 1 or 3 channels, got {c}")
    ql = _quality_scale(_Q_LUMA.reshape(8, 8), quality)
    qc = _quality_scale(_Q_CHROMA.reshape(8, 8), quality)
    if c == 1:
        planes = [img[:, :, 0].astype(np.float64)]
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "td": 0, "ta": 0}]
        qts = [ql]
    else:
        px = img.astype(np.float64)
        y = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        cb = 128.0 - 0.168736 * px[:, :, 0] - 0.331264 * px[:, :, 1] + 0.5 * px[:, :, 2]
        cr = 128.0 + 0.5 * px[:, :, 0] - 0.418688 * px[:, :, 1] - 0.081312 * px[:, :, 2]
        mode = {True: "420", False: "444"}.get(subsample, subsample)
        if mode not in ("444", "420", "422"):
            raise ValueError(f"unknown subsample mode {subsample!r}")
        if mode == "420":
            # 2x2 mean chroma; pad odd dims by edge replication first
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
            comps = [
                {"id": 1, "h": 2, "v": 2, "tq": 0, "td": 0, "ta": 0},
                {"id": 2, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1},
                {"id": 3, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1},
            ]
        elif mode == "422":
            # horizontal-only mean chroma (luma h=2, v=1)
            cbp = np.pad(cb, ((0, 0), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, 0), (0, w % 2)), mode="edge")
            cb = cbp.reshape(h, cbp.shape[1] // 2, 2).mean(axis=2)
            cr = crp.reshape(h, crp.shape[1] // 2, 2).mean(axis=2)
            comps = [
                {"id": 1, "h": 2, "v": 1, "tq": 0, "td": 0, "ta": 0},
                {"id": 2, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1},
                {"id": 3, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1},
            ]
        else:
            comps = [
                {"id": 1, "h": 1, "v": 1, "tq": 0, "td": 0, "ta": 0},
                {"id": 2, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1},
                {"id": 3, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1},
            ]
        planes = [y, cb, cr]
        qts = [ql, qc, qc]
    hmax = max(cc["h"] for cc in comps)
    vmax = max(cc["v"] for cc in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    # pad every plane to its MCU-aligned size by edge replication
    padded = []
    for cc, p in zip(comps, planes):
        th, tw = mcy * 8 * cc["v"], mcx * 8 * cc["h"]
        padded.append(np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge"))
    return h, w, c, comps, padded, qts, ql, qc, hmax, vmax, mcx, mcy


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool | str = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (H, W[, C]) uint8 array as a baseline JFIF JPEG.

    C in {1: gray, 3: RGB}. ``subsample`` is False (4:4:4), True or
    "420" (2x2 mean chroma), or "422" (horizontal-only mean chroma);
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs. Standard Annex-K tables, IJG quality scaling.
    """
    h, w, c, comps, padded, qts, ql, qc, hmax, vmax, mcx, mcy = _jpeg_prepare(
        img, quality, subsample
    )
    dc_l = _huff_codes(*_H_DC_LUMA)
    ac_l = _huff_codes(*_H_AC_LUMA)
    dc_c = _huff_codes(*_H_DC_CHROMA)
    ac_c = _huff_codes(*_H_AC_CHROMA)
    enc_tabs = [(dc_l, ac_l) if cc["td"] == 0 else (dc_c, ac_c) for cc in comps]

    out = bytearray()
    out += JPEG_SIG
    jfif = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(jfif)) + jfif
    for tq, q in ((0, ql), (1, qc))[: 1 if c == 1 else 2]:
        zz = q.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + bytes([tq]) + zz
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cc in comps:
        sof += bytes([cc["id"], (cc["h"] << 4) | cc["v"], cc["tq"]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    tables = [(0, 0, _H_DC_LUMA), (1, 0, _H_AC_LUMA)]
    if c == 3:
        tables += [(0, 1, _H_DC_CHROMA), (1, 1, _H_AC_CHROMA)]
    for tc, th, (bits, vals) in tables:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for cc in comps:
        sos += bytes([cc["id"], (cc["td"] << 4) | cc["ta"]])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # batched FDCT+quantize per component, then per-block emission from
    # precomputed nonzero slices (the per-block matmul/nonzero this
    # replaces dominated encode wall)
    planes = []
    for cc, p, q in zip(comps, padded, qts):
        flat = _fdct_quant(p, q)
        planes.append((cc, p.shape[1] // 8, *_nz_slices(flat)))
    writer = _BitWriter()
    pred = {cc["id"]: 0 for cc in comps}
    rst = 0
    for mcu in range(mcx * mcy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.flush()
            out += writer.out
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            writer = _BitWriter()
            pred = {cc["id"]: 0 for cc in comps}
        my, mx = divmod(mcu, mcx)
        for (cc, nbx, dc0s, ks, vs, starts), (dc, ac) in zip(planes, enc_tabs):
            for bv in range(cc["v"]):
                for bh in range(cc["h"]):
                    b = (my * cc["v"] + bv) * nbx + (mx * cc["h"] + bh)
                    pred[cc["id"]] = _emit_block(
                        writer, dc0s[b], ks, vs, starts[b], starts[b + 1],
                        pred[cc["id"]], dc, ac,
                    )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


# 12-bit flat tables, same philosophy as the progressive encoder's
# below: DC categories 0..15 at 5 bits each (Kraft 16/32), AC = EOB +
# ZRL + every (run, size) with size <= 14 at 9 bits (Kraft 226/512) —
# valid canonical tables, deliberately suboptimal; the Annex-K tables
# only cover 8-bit categories.
_H_DC_FLAT12 = ([0, 0, 0, 0, 16] + [0] * 11, list(range(16)))
_H_AC_FLAT12 = (
    [0] * 8 + [226] + [0] * 7,
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 15)],
)


def encode_jpeg_ext12(img: np.ndarray, quality: int = 90) -> bytes:
    """Encode (H, W[, C]) samples in 0..4095 as a 12-bit
    extended-sequential (SOF1) JPEG — the fixture twin of
    ``decode_jpeg``'s 12-bit path (medical/archival scan streams).
    C in {1: gray, 3: RGB}; 4:4:4 only. Quant tables are the 8-bit
    bases scaled x16 (same relative step in the wider sample domain),
    emitted as 16-bit pq=1 DQT entries; level shift 2048 per T.81."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.min() < 0 or img.max() > 4095:
        raise ValueError("12-bit JPEG encode expects samples in 0..4095")
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"JPEG encode supports 1 or 3 channels, got {c}")
    ql = np.clip(_quality_scale(_Q_LUMA.reshape(8, 8), quality) * 16, 1, 65535)
    qc = np.clip(_quality_scale(_Q_CHROMA.reshape(8, 8), quality) * 16, 1, 65535)
    if c == 1:
        planes = [img[:, :, 0].astype(np.float64)]
        comps = [{"id": 1, "tq": 0}]
        qts = [ql]
    else:
        px = img.astype(np.float64)
        y = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        cb = 2048.0 - 0.168736 * px[:, :, 0] - 0.331264 * px[:, :, 1] + 0.5 * px[:, :, 2]
        cr = 2048.0 + 0.5 * px[:, :, 0] - 0.418688 * px[:, :, 1] - 0.081312 * px[:, :, 2]
        planes = [y, cb, cr]
        comps = [{"id": 1, "tq": 0}, {"id": 2, "tq": 1}, {"id": 3, "tq": 1}]
        qts = [ql, qc, qc]
    mcx, mcy = -(-w // 8), -(-h // 8)
    padded = [
        np.pad(p, ((0, mcy * 8 - h), (0, mcx * 8 - w)), mode="edge") for p in planes
    ]

    out = bytearray()
    out += JPEG_SIG
    for tq, q in ((0, ql), (1, qc))[: 1 if c == 1 else 2]:
        zz = q.reshape(64)[ZIGZAG].astype(">u2").tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128) + bytes([(1 << 4) | tq]) + zz
    sof = struct.pack(">BHHB", 12, h, w, len(comps))
    for cc in comps:
        sof += bytes([cc["id"], 0x11, cc["tq"]])
    out += b"\xff\xc1" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (bits, vals) in ((0, _H_DC_FLAT12), (1, _H_AC_FLAT12)):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([len(comps)])
    for cc in comps:
        sos += bytes([cc["id"], 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc = _huff_codes(*_H_DC_FLAT12)
    ac = _huff_codes(*_H_AC_FLAT12)
    blocks = [
        (cc, *_nz_slices(_fdct_quant(p, q, level=2048.0)))
        for cc, p, q in zip(comps, padded, qts)
    ]
    writer = _BitWriter()
    pred = {cc["id"]: 0 for cc in comps}
    for mcu in range(mcx * mcy):
        for cc, dc0s, ks, vs, starts in blocks:
            pred[cc["id"]] = _emit_block(
                writer, dc0s[mcu], ks, vs, starts[mcu], starts[mcu + 1],
                pred[cc["id"]], dc, ac,
            )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


# Flat huffman tables for the progressive encoder: every DC category a
# 5-bit code, every AC RRRRSSSS symbol a 9-bit code (255 of them; the
# last symbol takes 10 bits because a DHT count byte caps at 255).
# Kraft sums 12/32 and 255/512+1/1024 — valid canonical tables,
# deliberately suboptimal. The Annex-K tables lack the EOBRUN symbols
# (0x10..0xE0) progressive streams need; a flat table covers them all
# without the IJG two-pass optimizer, and the DECODER only sees what
# the DHT segments declare.
_H_DC_FLAT = ([0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_H_AC_FLAT = ([0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0], list(range(256)))


def _default_prog_scans(nc: int) -> list[tuple[list[int], int, int, int, int]]:
    """The classic IJG-style scan script: (component ids, Ss, Se, Ah, Al).
    DC first coarse then refined; luma AC split into two bands and
    refined twice (2->1->0), chroma refined once."""
    if nc == 1:
        return [
            ([1], 0, 0, 0, 1),
            ([1], 1, 63, 0, 2),
            ([1], 1, 63, 2, 1),
            ([1], 0, 0, 1, 0),
            ([1], 1, 63, 1, 0),
        ]
    return [
        ([1, 2, 3], 0, 0, 0, 1),
        ([1], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([3], 1, 63, 0, 1),
        ([1], 6, 63, 0, 2),
        ([1], 1, 63, 2, 1),
        ([1, 2, 3], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([3], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
    ]


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool | str = False,
    restart_interval: int = 0,
    scans: list[tuple[list[int], int, int, int, int]] | None = None,
) -> bytes:
    """Encode an (H, W[, C]) uint8 array as a PROGRESSIVE (SOF2) JFIF
    JPEG — spectral selection AND successive approximation (T.81 G.1),
    the jcphuff scan discipline: DC diff/refine scans, AC first scans
    with EOB-run accumulation, AC refinement scans with buffered
    correction bits. Quantized coefficients are computed ONCE (batched
    FDCT) and are bit-identical to what ``encode_jpeg`` emits for the
    same image, so a progressive stream must decode pixel-identical to
    its sequential sibling — the oracle the tests pin.
    ``restart_interval`` > 0 emits DRI + RSTn in every scan.
    """
    h, w, nc, comps, padded, qts, ql, qc, hmax, vmax, mcx, mcy = _jpeg_prepare(
        img, quality, subsample
    )
    # --- quantized zigzag coefficients per component, batched FDCT
    qb: dict[int, np.ndarray] = {}
    for cc, p, q in zip(comps, padded, qts):
        nby, nbx = p.shape[0] // 8, p.shape[1] // 8
        qb[cc["id"]] = _fdct_quant(p, q).reshape(nby, nbx, 64)
    by_id = {cc["id"]: cc for cc in comps}
    scans = scans if scans is not None else _default_prog_scans(nc)

    # --- headers
    out = bytearray()
    out += JPEG_SIG
    jfif = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(jfif)) + jfif
    for tq, q in ((0, ql), (1, qc))[: 1 if nc == 1 else 2]:
        zzq = q.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + bytes([tq]) + zzq
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cc in comps:
        sof += bytes([cc["id"], (cc["h"] << 4) | cc["v"], cc["tq"]])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    for tc, th, (bits, vals) in ((0, 0, _H_DC_FLAT), (1, 0, _H_AC_FLAT)):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    dc_codes = _huff_codes(*_H_DC_FLAT)
    ac_codes = _huff_codes(*_H_AC_FLAT)

    for scan_comps, ss, se, ahi, al in scans:
        sel = [by_id[cid] for cid in scan_comps]
        sos = bytes([len(sel)])
        for cc in sel:
            sos += bytes([cc["id"], 0x00])  # td=0, ta=0 (flat tables)
        sos += bytes([ss, se, (ahi << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        out += _emit_prog_scan(
            qb, sel, ss, se, ahi, al, dc_codes, ac_codes,
            mcx, mcy, hmax, vmax, w, h, restart_interval,
        )
    out += b"\xff\xd9"
    return bytes(out)


def _emit_prog_scan(
    qb, sel, ss, se, ahi, al, dc_codes, ac_codes,
    mcx, mcy, hmax, vmax, width, height, ri,
) -> bytes:
    """Entropy data for one progressive scan (without SOS header)."""
    out = bytearray()
    wtr = _BitWriter()
    # EOB-run + buffered-correction-bit state (jcphuff): BE bits are
    # correction bits owed from blocks folded into the pending EOBRUN
    eobrun = 0
    be_bits: list[int] = []

    def emit_eobrun():
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            wtr.write(*ac_codes[nbits << 4])
            if nbits:
                wtr.write(eobrun - (1 << nbits), nbits)
            eobrun = 0
            for b in be_bits:
                wtr.write(b, 1)
            be_bits.clear()

    def flush_segment(rst_idx):
        nonlocal wtr
        emit_eobrun()
        wtr.flush()
        out.extend(wtr.out)
        out.append(0xFF)
        out.append(0xD0 + (rst_idx & 7))
        wtr = _BitWriter()

    interleaved = len(sel) > 1
    if interleaved:
        n_mcus, row_mcus = mcx * mcy, mcx
    else:
        cc = sel[0]
        xi = -(-(width * cc["h"]) // hmax)
        yi = -(-(height * cc["v"]) // vmax)
        bw, bh = -(-xi // 8), -(-yi // 8)
        n_mcus, row_mcus = bw * bh, bw
    pred = {cc["id"]: 0 for cc in sel}
    rst = 0
    for mcu in range(n_mcus):
        if ri and mcu and mcu % ri == 0:
            flush_segment(rst)
            rst += 1
            pred = {cc["id"]: 0 for cc in sel}
        my, mx = divmod(mcu, row_mcus)
        for cc in sel:
            arr = qb[cc["id"]]
            nh, nv = (cc["h"], cc["v"]) if interleaved else (1, 1)
            for bv in range(nv):
                for bh_ in range(nh):
                    if interleaved:
                        blk = arr[my * cc["v"] + bv, mx * cc["h"] + bh_]
                    else:
                        blk = arr[my, mx]
                    if ss == 0:  # --- DC scan
                        v = int(blk[0]) >> al  # arithmetic shift (T.81 G.1.2.1)
                        if ahi == 0:
                            diff = v - pred[cc["id"]]
                            pred[cc["id"]] = v
                            s, bits = _mag_bits(diff)
                            wtr.write(*dc_codes[s])
                            if s:
                                wtr.write(bits, s)
                        else:  # refinement: one bit per block
                            wtr.write(v & 1, 1)
                    elif ahi == 0:  # --- AC first scan of this band
                        r = 0
                        for k in range(ss, se + 1):
                            coef = int(blk[k])
                            v = -((-coef) >> al) if coef < 0 else coef >> al
                            if v == 0:
                                r += 1
                                continue
                            emit_eobrun()
                            while r > 15:
                                wtr.write(*ac_codes[0xF0])
                                r -= 16
                            s, bits = _mag_bits(v)
                            wtr.write(*ac_codes[(r << 4) | s])
                            wtr.write(bits, s)
                            r = 0
                        if r > 0:
                            eobrun += 1
                            if eobrun == 0x7FFF:
                                emit_eobrun()
                    else:  # --- AC refinement scan (jcphuff G.1.2.3)
                        absv = [0] * 64
                        eob_k = ss - 1
                        for k in range(ss, se + 1):
                            t = abs(int(blk[k])) >> al
                            absv[k] = t
                            if t == 1:
                                eob_k = k  # last NEWLY-nonzero coef
                        r = 0
                        br: list[int] = []
                        for k in range(ss, se + 1):
                            t = absv[k]
                            if t == 0:
                                r += 1
                                continue
                            while r > 15 and k <= eob_k:
                                emit_eobrun()
                                wtr.write(*ac_codes[0xF0])
                                r -= 16
                                for b in br:
                                    wtr.write(b, 1)
                                br = []
                            if t > 1:  # history-nonzero: correction bit only
                                br.append(t & 1)
                                continue
                            emit_eobrun()
                            wtr.write(*ac_codes[(r << 4) | 1])
                            wtr.write(0 if int(blk[k]) < 0 else 1, 1)
                            for b in br:
                                wtr.write(b, 1)
                            br = []
                            r = 0
                        if r > 0 or br:
                            eobrun += 1
                            be_bits.extend(br)
                            # bound the buffered bits like jcphuff does
                            if eobrun == 0x7FFF or len(be_bits) > 937:
                                emit_eobrun()
    emit_eobrun()
    wtr.flush()
    out.extend(wtr.out)
    return bytes(out)


_FAST_DECODER: list = []  # lazy singleton: [] unresolved, [None|fn] resolved


def _fast_decode_image(data: bytes) -> np.ndarray:
    """PIL-backed decode normalized to the pure decoders' channel
    conventions: L→(H,W,1), LA→(H,W,2), RGB→3, RGBA→4; GIF/palette
    convert to RGB (decode_gif's first-frame RGB rule). The MAX_PIXELS
    pre-allocation cap applies BEFORE pixel decode — PIL.open reads
    only the header, so hostile dimensions are rejected at the same
    point the pure decoders reject them."""
    import io

    from PIL import Image

    im = Image.open(io.BytesIO(data))
    w, h = im.size
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError(f"image dimensions {w}x{h} exceed MAX_PIXELS cap")
    if (im.format or "").upper() == "GIF" or im.mode == "P":
        im = im.convert("RGB")
    elif im.mode not in ("L", "LA", "RGB", "RGBA"):
        im = im.convert("RGB")
    arr = np.asarray(im, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    return arr


_VIDEO_DECODER: list = []  # lazy singleton, same protocol as _FAST_DECODER


def _pyav_decode_frames(data: bytes, frame_indices=None) -> list:
    """PyAV/ffmpeg-backed compressed-video decode to (H, W, 3) uint8
    RGB frames. Inter-frame codecs need their reference frames, so the
    decode walks every frame up to the last sampled ordinal but
    CONVERTS/COPIES only the sampled ones — the same pay-for-what-you-
    keep contract as decode_avi_mjpeg(frame_indices=...)."""
    import io

    import av

    out = []
    last = max(frame_indices) if frame_indices else None
    with av.open(io.BytesIO(bytes(data))) as ctr:
        stream = next((s for s in ctr.streams if s.type == "video"), None)
        if stream is None:
            raise ValueError("no video stream in container")
        idx = 0
        for frame in ctr.decode(stream):
            if frame_indices is None or idx in frame_indices:
                arr = frame.to_ndarray(format="rgb24")
                if arr.shape[0] * arr.shape[1] > MAX_PIXELS:
                    raise ValueError(
                        f"video frame {arr.shape[1]}x{arr.shape[0]} exceeds "
                        "MAX_PIXELS cap"
                    )
                out.append(arr)
            idx += 1
            if last is not None and idx > last:
                break
    if not out:
        raise ValueError("no decodable video frames")
    return out


def fast_video_decoder():
    """The optional compressed-video decode seam: PyAV (ffmpeg) when
    importable, else None — the video twin of ``fast_image_decoder``,
    under the same contract: the pure decoders own the hostile-input
    error surface, and the seam can only turn a refusal (H.264/VP9/AV1
    in MP4/WebM, non-MJPEG AVI) into a real decode, never a decode into
    a refusal. ``SPARK_GRAFT_NO_PYAV=1`` disables. Resolved once per
    process."""
    if not _VIDEO_DECODER:
        fn = None
        if not os.environ.get("SPARK_GRAFT_NO_PYAV"):
            try:
                import av  # noqa: F401

                fn = _pyav_decode_frames
            except Exception:
                fn = None
        _VIDEO_DECODER.append(fn)
    return _VIDEO_DECODER[0]


_AUDIO_DECODER: list = []  # lazy singleton, same protocol as _FAST_DECODER


def _pyav_decode_pcm(data: bytes):
    """PyAV/ffmpeg-backed lossy-audio decode -> (float PCM (n, ch) in
    ~[-1, 1], rate) — the real-world path for Layer III with the big
    Huffman tables, AAC, Opus, Vorbis. Planar and packed sample
    formats both normalize to interleaved float."""
    import io

    import av

    chunks = []
    rate = None
    with av.open(io.BytesIO(bytes(data))) as ctr:
        stream = next((s for s in ctr.streams if s.type == "audio"), None)
        if stream is None:
            raise ValueError("no audio stream in container")
        for frame in ctr.decode(stream):
            rate = frame.sample_rate
            arr = frame.to_ndarray()
            if arr.dtype.kind == "i":
                arr = arr.astype(np.float64) / float(
                    1 << (arr.dtype.itemsize * 8 - 1)
                )
            else:
                arr = arr.astype(np.float64)
            nch = len(frame.layout.channels)
            if frame.format.is_planar:
                arr = arr.T  # (ch, n) -> (n, ch)
            else:
                arr = arr.reshape(-1, nch)
            chunks.append(arr)
    if not chunks or rate is None:
        raise ValueError("no decodable audio frames")
    return np.vstack(chunks), rate


def fast_audio_decoder():
    """The optional lossy-audio PCM seam: PyAV (ffmpeg) when
    importable, else None — the audio twin of ``fast_video_decoder``,
    same contract: it can only turn a refusal (big-table Layer III,
    AAC, Opus, Vorbis content analysis) into a real decode, never a
    decode into a refusal. ``SPARK_GRAFT_NO_PYAV=1`` disables.
    Resolved once per process."""
    if not _AUDIO_DECODER:
        fn = None
        if not os.environ.get("SPARK_GRAFT_NO_PYAV"):
            try:
                import av  # noqa: F401

                fn = _pyav_decode_pcm
            except Exception:
                fn = None
        _AUDIO_DECODER.append(fn)
    return _AUDIO_DECODER[0]


def fast_image_decoder():
    """The optional accelerated decode seam: PIL/libjpeg when importable
    (its C entropy decode beats the pure-Python kernels by ~2 orders of
    magnitude per core), else None. ``SPARK_GRAFT_NO_PIL=1`` disables —
    the knob the equality tests use to pin both paths. Resolved once
    per process."""
    if not _FAST_DECODER:
        fn = None
        if not os.environ.get("SPARK_GRAFT_NO_PIL"):
            try:
                import PIL.Image  # noqa: F401

                fn = _fast_decode_image
            except Exception:
                fn = None
        _FAST_DECODER.append(fn)
    return _FAST_DECODER[0]


def _fast_eligible(b: bytes) -> bool:
    """16-bit PNGs stay on the pure path: the high-byte reduction rule
    is this module's documented convention and PIL's I;16 handling
    differs. Everything else PIL decodes bit-compatibly (PNG/GIF exact,
    JPEG within IDCT rounding)."""
    return not (is_png(b) and len(b) > 24 and b[24] == 16)


def decode_image(data: bytes, deterministic: bool = False) -> np.ndarray:
    """Dispatch PNG / JPEG / GIF decode to (H, W, C) uint8.

    Uses the PIL fast path when the library is importable (see
    fast_image_decoder); any PIL failure falls back to the pure
    decoders, which own the hostile-input error contract — so
    quarantine behavior is a superset, never a divergence: the fast
    path can only turn a refusal into a real decode (e.g. CMYK JPEG),
    never a decode into a refusal.

    ``deterministic=True`` additionally keeps JPEG on the pure decoder:
    PIL/libjpeg IDCT rounding differs from the pure kernel by ±1 pixel
    levels, so any value that is hash-compared or JOINED across hosts
    (dHash fingerprints, oracle rows) must not depend on whether the
    executing host has PIL. PNG/GIF are lossless-exact either way and
    keep the fast path."""
    b = bytes(data)
    fast = fast_image_decoder()
    if deterministic and is_jpeg(b):
        fast = None
    if fast is not None and _fast_eligible(b) and (
        is_png(b) or is_jpeg(b) or is_gif(b) or is_webp(b)
    ):
        # WebP has NO pure decoder (see decode_webp's refusal) — the
        # seam can only turn that refusal into a real decode, which the
        # fast-path contract explicitly allows
        try:
            return fast(b)
        except Exception:  # noqa: BLE001 — pure path owns the error text
            pass
    if is_png(b):
        return decode_png(b)
    if is_jpeg(b):
        return decode_jpeg(b)
    if is_gif(b):
        return decode_gif(b)
    if is_tiff(b):
        return decode_tiff(b)
    if is_bmp(b):
        return decode_bmp(b)
    if is_ico(b):
        return decode_ico(b)
    if is_webp(b):
        return decode_webp(b)
    if is_pnm(b):
        return decode_pnm(b)
    if is_tga(b):  # no magic number — structural check runs LAST
        return decode_tga(b)
    raise NotImplementedError(
        "only PNG, baseline JPEG, GIF, TIFF, BMP, ICO, PNM, and TGA "
        "decode are available in this environment"
    )


# --- TIFF (rounds 8-9) ------------------------------------------------------
#
# Baseline TIFF 6.0: the scanned-document and dataset-export format.
# IFD tag walk (both byte orders), strip AND tile assembly (round 9:
# tags 322-325, edge tiles coded full-size and clipped), planar
# configurations 1 and 2 (per-channel segment sequences), compressions
# 1 (none) / 5 (LZW — the SAME MSB-first early-change variant PDF's
# /LZWDecode uses, one implementation shared) / 8 (zlib) / 32773
# (PackBits) / 2-3-4 (CCITT MH, T.4, G4 — functions/ccitt.py, shared
# with PDF /CCITTFaxDecode), horizontal-differencing predictor 2
# (undone PER SEGMENT — tile rows restart prediction), photometric
# 0/1/2, 1/8/16-bit samples. Other photometrics refuse loudly. Same
# bounds discipline as PNG: dimensions validate against MAX_PIXELS
# BEFORE allocation, segment inflation is capped by the expected size.


def is_tiff(data: bytes) -> bool:
    return data[:4] in (b"II*\x00", b"MM\x00*")


_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_TIFF_MAX_ENTRIES = 4096
_TIFF_MAX_IFDS = 64


def _tiff_ifds(data: bytes):
    """Yield {tag: [values]} per IFD (value arrays resolved through the
    offset indirection), bounded against looped/hostile chains."""
    if not is_tiff(data):
        raise ValueError("not a TIFF: bad byte-order magic")
    bo = "<" if data[:2] == b"II" else ">"
    (off,) = struct.unpack_from(bo + "I", data, 4)
    seen = set()
    budget = _TIFF_MAX_ENTRIES
    for _ in range(_TIFF_MAX_IFDS):
        if off == 0:
            return
        if off in seen or off + 2 > len(data):
            raise ValueError("TIFF IFD chain loops or overruns the file")
        seen.add(off)
        (n_entries,) = struct.unpack_from(bo + "H", data, off)
        budget -= n_entries
        if budget < 0:
            raise ValueError("TIFF IFD entry count exceeds the walk budget")
        if off + 2 + 12 * n_entries + 4 > len(data):
            raise ValueError("TIFF IFD overruns the file")
        tags: dict[int, list] = {}
        for i in range(n_entries):
            at = off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(bo + "HHI", data, at)
            sz = _TIFF_TYPE_SIZES.get(typ)
            if sz is None:
                continue  # unknown type: skip, per spec readers must
            total = sz * cnt
            if total > 4:
                (vat,) = struct.unpack_from(bo + "I", data, at + 8)
            else:
                vat = at + 8
            if vat + total > len(data) or cnt > _TIFF_MAX_ENTRIES * 16:
                raise ValueError(f"TIFF tag {tag} value overruns the file")
            if typ == 3:
                vals = list(struct.unpack_from(f"{bo}{cnt}H", data, vat))
            elif typ == 4:
                vals = list(struct.unpack_from(f"{bo}{cnt}I", data, vat))
            elif typ in (1, 6, 7):
                vals = list(data[vat : vat + cnt])
            elif typ == 2:
                vals = [data[vat : vat + cnt].split(b"\x00")[0].decode("latin-1")]
            elif typ == 5:
                vals = []
                for k in range(cnt):
                    num, den = struct.unpack_from(bo + "II", data, vat + 8 * k)
                    vals.append(num / den if den else 0.0)
            else:
                vals = []
            tags[tag] = vals
        (off,) = struct.unpack_from(bo + "I", data, off + 2 + 12 * n_entries)
        yield tags


def tiff_info(data: bytes) -> dict:
    """(width, height, bits, n_channels, compression, photometric,
    n_pages) from the first IFD + chain count — header walk only."""
    data = bytes(data)
    first = None
    n = 0
    for tags in _tiff_ifds(data):
        if first is None:
            first = tags
        n += 1
    if first is None:
        raise ValueError("TIFF with no IFD")
    bps = first.get(258, [1])
    return {
        "width": (first.get(256) or [0])[0],
        "height": (first.get(257) or [0])[0],
        "bits": bps[0] if bps else 1,
        "n_channels": (first.get(277) or [1])[0],
        "compression": (first.get(259) or [1])[0],
        "photometric": (first.get(262) or [1])[0],
        "n_pages": n,
    }


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """Apple PackBits (TIFF compression 32773): n in 0..127 copies n+1
    literals, 129..255 repeats the next byte 257−n times, 128 no-op.
    Output capped at the caller's expected strip size."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:
            if i >= n:
                break
            out += data[i : i + 1] * (257 - c)
            i += 1
    return bytes(out)


def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        # find run
        j = i
        while j + 1 < n and row[j + 1] == row[j] and j - i < 126:
            j += 1
        if j > i:  # run of j-i+1 identical bytes
            out.append(257 - (j - i + 1))
            out.append(row[i])
            i = j + 1
            continue
        # literal stretch until next run of ≥3
        j = i
        while (
            j + 2 >= n or row[j + 1] != row[j + 2] or row[j] != row[j + 1]
        ) and j < n - 1 and j - i < 126:
            j += 1
        out.append(j - i)
        out += row[i : j + 1]
        i = j + 1
    return bytes(out)


def decode_tiff(data: bytes, page: int = 0) -> np.ndarray:
    """TIFF decode to (H, W, C) uint8 — ``page`` selects the IFD for
    multi-page scans (default first, decode_gif's first-frame rule;
    the page count surfaces in tiff_info). Strip AND tile layouts,
    planar configurations 1 (chunky) and 2 (per-channel planes); the
    predictor is undone per segment (a tile's rows restart prediction
    — applying it across assembled image rows would corrupt every
    tile column after the first). See the section comment for the
    supported matrix."""
    data = bytes(data)
    tags = None
    for i, t in enumerate(_tiff_ifds(data)):
        if i == page:
            tags = t
            break
    if tags is None:
        raise ValueError(f"TIFF has no page {page}")
    w = (tags.get(256) or [0])[0]
    h = (tags.get(257) or [0])[0]
    spp = (tags.get(277) or [1])[0]
    bps = tags.get(258) or [1]
    comp = (tags.get(259) or [1])[0]
    photo = (tags.get(262) or [1])[0]
    pred = (tags.get(317) or [1])[0]
    planar = (tags.get(284) or [1])[0]
    tiled = 322 in tags or 323 in tags or 324 in tags or 325 in tags
    if planar not in (1, 2):
        raise NotImplementedError(f"TIFF planar configuration {planar}")
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError(f"TIFF dimensions {w}x{h} out of bounds")
    if spp not in (1, 3) or photo not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF photometric {photo} with {spp} samples (gray/RGB tier)"
        )
    bits = bps[0]
    if any(b != bits for b in bps) or bits not in (1, 8, 16):
        raise NotImplementedError(f"TIFF {bps}-bit samples (1/8/16-bit tier)")
    if bits == 1 and spp != 1:
        raise NotImplementedError("1-bit TIFF must be single-sample")
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {pred}")
    bo = "<" if data[:2] == b"II" else ">"
    n_planes = spp if planar == 2 and spp > 1 else 1
    cpp = spp // n_planes  # channels per plane: 1 planar, spp chunky

    def decompress(seg: bytes, sw: int, sh: int) -> bytes:
        expect = ((sw * cpp * bits + 7) // 8) * sh
        if comp == 1:
            out = seg
        elif comp == 5:
            from pg2kinesis_spark.functions.pdf import _lzw_decode

            out = _lzw_decode(seg, early=1)
        elif comp == 8:
            out = zlib.decompressobj().decompress(seg, expect + 1)
        elif comp == 32773:
            out = _packbits_decode(seg, expect)
        elif comp in (2, 3, 4):
            # CCITT fax tiers: 2 = MH with byte-aligned rows, 3 = T.4
            # (T4Options bit 0 picks 1D/2D; fill+EOL handles alignment),
            # 4 = T.6/G4. Every strip/tile restarts the coder (TIFF 6.0).
            from pg2kinesis_spark.functions.ccitt import ccitt_decode

            if bits != 1:
                raise ValueError("CCITT TIFF must be 1-bit single-sample")
            t4 = (tags.get(292) or [0])[0]
            if comp == 3 and t4 & 2:
                raise NotImplementedError("T.4 uncompressed mode")
            if comp == 2:
                k_, ba = 0, True
            elif comp == 3:
                k_, ba = (2 if t4 & 1 else 0), False
            else:
                k_, ba = -1, False
            black = ccitt_decode(seg, sw, sh, k=k_, byte_align=ba)
            # photometric 0 (the fax default): bit 1 = black
            out = np.packbits(black if photo == 0 else ~black, axis=1).tobytes()
        else:
            raise NotImplementedError(
                f"TIFF compression {comp} (none/LZW/deflate/PackBits/CCITT tier)"
            )
        if len(out) < expect:
            raise ValueError(f"TIFF segment short: {len(out)} < {expect}")
        return out[:expect]

    def segment(seg: bytes, sw: int, sh: int) -> np.ndarray:
        """One strip/tile → (sh, sw, cpp) uint8 (predictor undone
        here: prediction never crosses a segment boundary)."""
        raw = decompress(seg, sw, sh)
        if bits == 1:
            rows = np.frombuffer(raw, dtype=np.uint8).reshape(sh, -1)
            return np.unpackbits(rows, axis=1)[:, :sw].astype(np.uint8)[
                :, :, None
            ] * 255
        if bits == 16:
            # sample endianness follows the FILE byte order; reduce to
            # the high byte after undoing the predictor — the PNG rule
            wide = np.frombuffer(raw, dtype=np.dtype(bo + "u2"))
            wide = wide.reshape(sh, sw, cpp)
            if pred == 2:
                wide = np.cumsum(wide.astype(np.uint32), axis=1) & 0xFFFF
            return (wide >> 8).astype(np.uint8)
        img = np.frombuffer(raw, dtype=np.uint8).reshape(sh, sw, cpp)
        if pred == 2:
            img = np.cumsum(img.astype(np.uint16), axis=1).astype(np.uint8)
        return img

    def fetch(o: int, c: int) -> bytes:
        if o + c > len(data):
            raise ValueError("TIFF segment overruns the file")
        return data[o : o + c]

    out = np.zeros((h, w, spp), dtype=np.uint8)
    if tiled:
        tw = (tags.get(322) or [0])[0]
        th = (tags.get(323) or [0])[0]
        offsets = tags.get(324)
        counts = tags.get(325)
        if not tw or not th or not offsets or not counts:
            raise ValueError("tiled TIFF missing tile geometry/offsets")
        if len(offsets) != len(counts):
            raise ValueError("TIFF tile offset/count arrays disagree")
        if tw * th > MAX_PIXELS:
            raise ValueError(f"TIFF tile {tw}x{th} out of bounds")
        tx_n = -(-w // tw)
        ty_n = -(-h // th)
        if len(offsets) != tx_n * ty_n * n_planes:
            raise ValueError(
                f"TIFF tile count {len(offsets)} != "
                f"{tx_n}x{ty_n}x{n_planes} grid"
            )
        i = 0
        for p in range(n_planes):
            for ty in range(ty_n):
                for tx in range(tx_n):
                    px = segment(fetch(offsets[i], counts[i]), tw, th)
                    i += 1
                    # edge tiles are coded at FULL tile size and clip
                    sub = px[: min(th, h - ty * th), : min(tw, w - tx * tw)]
                    ys, xs = ty * th, tx * tw
                    if n_planes > 1:
                        out[
                            ys : ys + sub.shape[0], xs : xs + sub.shape[1], p
                        ] = sub[:, :, 0]
                    else:
                        out[ys : ys + sub.shape[0], xs : xs + sub.shape[1]] = sub
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing strip offsets/byte counts")
        rps = (tags.get(278) or [h])[0] or h
        strips_per_plane = -(-h // rps)
        if len(offsets) != strips_per_plane * n_planes:
            raise ValueError(
                f"TIFF strip count {len(offsets)} != "
                f"{strips_per_plane}x{n_planes} layout"
            )
        i = 0
        for p in range(n_planes):
            for si in range(strips_per_plane):
                n_rows = min(rps, h - si * rps)
                px = segment(fetch(offsets[i], counts[i]), w, n_rows)
                i += 1
                ys = si * rps
                if n_planes > 1:
                    out[ys : ys + n_rows, :, p] = px[:, :, 0]
                else:
                    out[ys : ys + n_rows] = px
    if photo == 0 and spp == 1:  # WhiteIsZero
        out = 255 - out
    return np.ascontiguousarray(out)


def exif_orientation(data: bytes) -> int | None:
    """EXIF Orientation (tag 274) of a JPEG (the APP1 ``Exif\\0\\0``
    TIFF blob, read with the SAME bounded IFD walk as TIFF files) or a
    TIFF file's first IFD. None when absent or unparsable — EXIF is
    advisory metadata, never a decode error; only values 1..8 count.
    At corpus scale this is what makes a camera-rotated photo and its
    upright re-export land in ONE near-dup cluster (the dHash and
    feature kernels normalize through ``apply_exif_orientation``)."""
    data = bytes(data)
    try:
        if is_tiff(data):
            for tags in _tiff_ifds(data):
                o = (tags.get(274) or [None])[0]
                return o if o in range(1, 9) else None
        if is_jpeg(data):
            pos = 2
            while pos + 4 <= len(data):
                if data[pos] != 0xFF:
                    break
                while pos < len(data) and data[pos] == 0xFF:
                    pos += 1
                marker = data[pos]
                pos += 1
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    continue
                if marker in (0xD9, 0xDA):
                    break  # EOI / SOS: no more header segments
                (seglen,) = struct.unpack(">H", data[pos : pos + 2])
                body = data[pos + 2 : pos + seglen]
                pos += seglen
                if marker == 0xE1 and body.startswith(b"Exif\x00\x00"):
                    tiff = body[6:]
                    if is_tiff(tiff):
                        for tags in _tiff_ifds(tiff):
                            o = (tags.get(274) or [None])[0]
                            return o if o in range(1, 9) else None
                    return None
        if data.startswith(b"\x89PNG\r\n\x1a\n"):
            # PNG eXIf chunk (PNG 1.2 extension): the same TIFF blob
            pos = 8
            for _ in range(256):  # ancillary chunks precede IDAT
                if pos + 8 > len(data):
                    break
                (clen,) = struct.unpack(">I", data[pos : pos + 4])
                ctype = data[pos + 4 : pos + 8]
                if ctype in (b"IDAT", b"IEND"):
                    break
                if ctype == b"eXIf":
                    tiff = data[pos + 8 : pos + 8 + clen]
                    if is_tiff(tiff):
                        for tags in _tiff_ifds(tiff):
                            o = (tags.get(274) or [None])[0]
                            return o if o in range(1, 9) else None
                    return None
                pos += 12 + clen
    except Exception:
        return None
    return None


def apply_exif_orientation(img: np.ndarray, orientation: int | None) -> np.ndarray:
    """Undo an EXIF orientation on decoded (H, W, C) pixels: the 8
    standard transforms (mirrors, 180, the transpose family for the
    90-degree rotations). 1/None/unknown pass through."""
    if orientation in (None, 1) or not 2 <= orientation <= 8:
        return img
    if orientation == 2:  # mirrored horizontal
        out = img[:, ::-1]
    elif orientation == 3:  # rotated 180
        out = img[::-1, ::-1]
    elif orientation == 4:  # mirrored vertical
        out = img[::-1]
    elif orientation == 5:  # transpose (mirror + 90)
        out = np.transpose(img, (1, 0, 2))
    elif orientation == 6:  # stored needs 90 CW to display upright
        out = np.transpose(img, (1, 0, 2))[:, ::-1]
    elif orientation == 7:  # transverse (anti-diagonal flip)
        out = np.transpose(img, (1, 0, 2))[::-1, ::-1]
    else:  # 8: stored needs 90 CCW
        out = np.transpose(img, (1, 0, 2))[::-1]
    return np.ascontiguousarray(out)


def encode_exif_app1(orientation: int) -> bytes:
    """A minimal EXIF APP1 segment (marker + length + ``Exif\\0\\0`` +
    a one-entry little-endian TIFF IFD holding Orientation) — insert
    after a JPEG's SOI for the fixture side of exif_orientation."""
    ifd = (
        struct.pack("<H", 1)
        + struct.pack("<HHI", 274, 3, 1)
        + struct.pack("<HH", orientation, 0)
        + struct.pack("<I", 0)
    )
    blob = b"Exif\x00\x00" + b"II*\x00" + struct.pack("<I", 8) + ifd
    return b"\xff\xe1" + struct.pack(">H", len(blob) + 2) + blob


def encode_tiff(
    img: np.ndarray,
    compression: int = 1,
    predictor: int = 1,
    rows_per_strip: int | None = None,
    byteorder: str = "<",
    photometric: int | None = None,
    bits: int = 8,
    tiles: tuple[int, int] | None = None,
    planar: int = 1,
    orientation: int | None = None,
) -> bytes:
    """Spec-packed TIFF fixture writer (strips OR tiles, both byte
    orders, compressions 1/5/8/32773 + CCITT 2/3/4, predictor 2,
    planar configuration 1/2, 8-bit gray/RGB or 1-bit bilevel) — the
    independent test side of decode_tiff/tiff_info, like every
    encode_* here. ``bits=1``: img is (H, W) of 0/255 (or booleans),
    rows pack MSB-first; photometric 0 inverts. ``bits=16``: img is
    uint16; samples store in the chosen byte order. ``tiles=(tw,th)``
    writes tags 322-325 with edge tiles zero-padded to full size;
    ``planar=2`` writes one segment sequence per channel."""
    img = np.asarray(img, dtype=np.uint16 if bits == 16 else np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, spp = img.shape
    photo = photometric if photometric is not None else (2 if spp == 3 else 1)
    rps = rows_per_strip or h
    if planar not in (1, 2) or (planar == 2 and spp == 1):
        raise ValueError("planar 2 fixture needs multi-sample pixels")
    if bits == 1 and (spp != 1 or predictor == 2):
        raise ValueError("bilevel fixture: single sample, no predictor")

    def seg_bytes(arr: np.ndarray) -> bytes:
        """Predictor + bit packing for ONE segment's samples (sh, sw,
        cpp) — prediction restarts per segment, matching the decoder."""
        sh = arr.shape[0]
        if bits == 1:
            ink = (arr[:, :, 0] > 127).astype(np.uint8)
            if photo == 0:
                ink = 1 - ink
            return np.packbits(ink, axis=1).tobytes()
        if bits == 16:
            d = arr.astype(np.uint32)
            if predictor == 2:
                d = d.copy()
                d[:, 1:, :] = (d[:, 1:, :] - d[:, :-1, :]) & 0xFFFF
            return (
                d.astype(np.dtype(byteorder + "u2")).view(np.uint8)
                .reshape(sh, -1).tobytes()
            )
        raw = arr
        if predictor == 2:
            d = arr.astype(np.int16)
            d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
            raw = (d & 0xFF).astype(np.uint8)
        return raw.tobytes()

    def compress(block: bytes, sw: int) -> bytes:
        cpp = 1 if planar == 2 else spp
        if compression == 1:
            return block
        if compression == 5:
            return _tiff_lzw_encode(block)
        if compression == 8:
            return zlib.compress(block)
        if compression == 32773:
            rb = (sw * cpp * bits + 7) // 8
            return b"".join(
                _packbits_encode(block[i : i + rb])
                for i in range(0, len(block), rb)
            )
        if compression in (2, 3, 4):
            from pg2kinesis_spark.functions.ccitt import ccitt_encode

            if bits != 1:
                raise ValueError("CCITT fixture compression needs bits=1")
            # recover the BLACK mask from the packed rows (photometric
            # 0 packs black as 1, photometric 1 as 0)
            rb = (sw + 7) // 8
            packed = np.frombuffer(block, dtype=np.uint8).reshape(-1, rb)
            mask = np.unpackbits(packed, axis=1)[:, :sw].astype(bool)
            if photo != 0:
                mask = ~mask
            if compression == 2:
                return ccitt_encode(mask, k=0, byte_align=True)
            if compression == 3:
                return ccitt_encode(mask, k=4)  # T4Options bit 0
            return ccitt_encode(mask, k=-1)
        raise ValueError(f"unsupported fixture compression {compression}")

    planes = (
        [img] if planar == 1 else [img[:, :, c : c + 1] for c in range(spp)]
    )
    segs: list[bytes] = []
    if tiles:
        tw, th = tiles
        for plane in planes:
            for ty in range(0, h, th):
                for tx in range(0, w, tw):
                    tile = plane[ty : ty + th, tx : tx + tw]
                    pad_y, pad_x = th - tile.shape[0], tw - tile.shape[1]
                    if pad_y or pad_x:
                        tile = np.pad(
                            tile, ((0, pad_y), (0, pad_x), (0, 0))
                        )
                    segs.append(compress(seg_bytes(tile), tw))
    else:
        for plane in planes:
            for y0 in range(0, h, rps):
                segs.append(compress(seg_bytes(plane[y0 : y0 + rps]), w))
    bo = byteorder
    entries = []  # (tag, type, count, value_bytes-or-int)
    n_segs = len(segs)
    header_end = 8
    # layout: header | segment data | [value arrays] | IFD
    seg_data = b"".join(segs)
    seg_offs = []
    at = header_end
    for s in segs:
        seg_offs.append(at)
        at += len(s)
    extra = bytearray()
    extra_base = at

    def arr(vals, typ):
        nonlocal extra
        fmt = "H" if typ == 3 else "I"
        b = struct.pack(f"{bo}{len(vals)}{fmt}", *vals)
        if len(b) <= 4:
            return b + bytes(4 - len(b))
        off = extra_base + len(extra)
        extra.extend(b)
        return struct.pack(bo + "I", off)

    def entry(tag, typ, cnt, packed4):
        entries.append(struct.pack(bo + "HHI", tag, typ, cnt) + packed4)

    def short(tag, val):
        entry(
            tag, 3, 1,
            struct.pack(bo + "HH", val, 0)
            if bo == "<"
            else struct.pack(bo + "H", val) + bytes(2),
        )

    entry(256, 4, 1, struct.pack(bo + "I", w))
    entry(257, 4, 1, struct.pack(bo + "I", h))
    entry(258, 3, spp, arr([bits] * spp, 3))
    short(259, compression)
    short(262, photo)
    short(277, spp)
    if tiles:
        entry(322, 4, 1, struct.pack(bo + "I", tiles[0]))
        entry(323, 4, 1, struct.pack(bo + "I", tiles[1]))
        entry(324, 4, n_segs, arr(seg_offs, 4))
        entry(325, 4, n_segs, arr([len(s) for s in segs], 4))
    else:
        entry(273, 4, n_segs, arr(seg_offs, 4))
        entry(278, 4, 1, struct.pack(bo + "I", rps))
        entry(279, 4, n_segs, arr([len(s) for s in segs], 4))
    if planar == 2:
        short(284, 2)
    if orientation:
        short(274, orientation)
    if predictor == 2:
        short(317, 2)
    if compression == 3:
        entry(292, 4, 1, struct.pack(bo + "I", 1))  # T4Options: 2D
    ifd_off = extra_base + len(extra)
    magic = b"II*\x00" if bo == "<" else b"MM\x00*"
    out = bytearray(magic + struct.pack(bo + "I", ifd_off))
    out += seg_data + extra
    out += struct.pack(bo + "H", len(entries))
    for e in sorted(entries, key=lambda b: struct.unpack_from(bo + "H", b)[0]):
        out += e
    out += struct.pack(bo + "I", 0)  # no next IFD
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF/PDF-variant LZW encoder (MSB-first, 9→12-bit codes, clear
    256 / EOI 257, EARLY CHANGE) — the fixture twin of _lzw_decode."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)  # leading CLEAR
    prev = b""
    for byte in data:
        cur = prev + bytes([byte])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        next_code += 1
        # EARLY CHANGE sync: the decoder's table lags the encoder's by
        # one entry (it builds E_n while processing C_{n+1}), and its
        # early=1 rule bumps at dec_next+1 >= 2^w — so the encoder
        # bumps at enc_next >= 2^w, one entry later than a naive
        # "enc_next == 2^w - 1" (which desyncs at code 511)
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4093:  # table nearly full: reset
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        prev = bytes([byte])
    if prev:
        emit(table[prev], width)
    emit(257, width)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# --- AVI (MJPEG) ----------------------------------------------------------
#
# Motion-JPEG in an AVI RIFF container: the simplest REAL video format —
# every frame is a baseline JPEG, so the JPEG kernel above does all the
# pixel work and this layer is pure RIFF bookkeeping (the same chunk walk
# as WAV). Covers the "video" modality end-to-end: container parse ->
# per-frame decode -> the existing image machinery (features, dHash,
# resize) applied per frame.


def is_avi(data: bytes) -> bool:
    return bytes(data[:4]) == b"RIFF" and bytes(data[8:12]) == b"AVI "


def decode_avi_mjpeg(
    data: bytes,
    max_frames: int | None = None,
    frame_indices: "set[int] | None" = None,
) -> list[np.ndarray]:
    """Decode an MJPEG AVI to a list of (H, W, C) uint8 frames.

    Walks the RIFF tree to the ``movi`` LIST and decodes video chunks
    (``##dc``/``##db``) as baseline JPEGs, stopping after
    ``max_frames`` frames so samplers pay only for the frames they
    keep. ``frame_indices`` decodes ONLY those frame ordinals (in
    stream order): unlike GIF — where canvas composition forces every
    prior frame to decode — MJPEG frames are independent, so a strided
    sampler skips non-sampled frames at RIFF-walk cost (header reads),
    not JPEG-decode cost. Non-MJPEG payloads fail inside
    ``decode_jpeg`` with its usual errors.
    """
    data = bytes(data)
    if not is_avi(data):
        raise ValueError("not an AVI: bad RIFF/AVI header")
    wanted = set(frame_indices) if frame_indices is not None else None
    if wanted is not None and not wanted:
        return []  # zero frames requested: no walk, no decode
    last_wanted = max(wanted) if wanted else -1  # hoisted: O(1) per chunk
    frames: list[np.ndarray] = []
    total_px = 0
    ordinal = 0

    def walk(pos: int, end: int) -> None:
        nonlocal total_px, ordinal
        while pos + 8 <= end:
            if max_frames is not None and len(frames) >= max_frames:
                return
            if wanted is not None and ordinal > last_wanted:
                return
            cid = data[pos : pos + 4]
            (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                ltype = data[body_start : body_start + 4]
                if ltype in (b"movi", b"hdrl", b"rec "):
                    walk(body_start + 4, body_start + clen)
            elif cid[2:4] in (b"dc", b"db") and clen:
                if wanted is None or ordinal in wanted:
                    f = decode_jpeg(data[body_start : body_start + clen])
                    total_px += f.shape[0] * f.shape[1]
                    # same animation-output bound as GIF: per-frame dims
                    # are individually capped, but a hostile file can
                    # multiply near-cap frames until the LIST is exhausted
                    if total_px > MAX_TOTAL_PIXELS:
                        raise ValueError(
                            f"AVI exceeds {MAX_TOTAL_PIXELS} total output pixels"
                        )
                    frames.append(f)
                ordinal += 1
            pos = body_start + clen + (clen & 1)  # word-aligned

    walk(12, len(data))
    if not frames:
        raise ValueError("AVI contains no video frames")
    return frames


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 25, quality: int = 90
) -> bytes:
    """Encode frames as an MJPEG AVI (avih/strh/strf headers + idx1),
    playable by standard tools and round-trippable by decode_avi_mjpeg."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    payloads = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        payloads.append(encode_jpeg(f, quality=quality))

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    max_bytes = max(len(p) for p in payloads)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        len(frames), 0, 1, max_bytes,  # totalFrames, initial, streams, bufsize
        w, h, 0, 0, 0, 0,
    )
    strh = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIiI4H",
        0, 0, 0, 0,  # flags, priority+lang, initialFrames
        1, fps,  # scale, rate -> fps frames/sec
        0, len(frames), max_bytes, -1, 0,  # start, length, bufsize, quality, sampleSize
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks, idx, off = [], [], 4
    for p in payloads:
        movi_chunks.append(chunk(b"00dc", p))
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) & 1)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(b"idx1", b"".join(idx))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# --- GIF ------------------------------------------------------------------
#
# GIF87a/89a static decode (first frame of an animation): palette +
# LZW, optional interlace. Palette images with <= 256 colors round-trip
# LOSSLESSLY through encode_gif/decode_gif — which is what makes the
# LZW pair testable exactly, unlike the lossy JPEG path. Transparency
# and later animation frames are ignored (first-frame semantics — the
# standard choice for corpus features/dedup); both are documented.


def is_gif(data: bytes) -> bool:
    return bytes(data[:6]) in (b"GIF87a", b"GIF89a")


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) passes


def _lzw_decode(data: bytes, min_code_size: int, max_out: int | None = None) -> list[int]:
    """GIF-flavor LZW: variable code width, CLEAR/EOI codes, dictionary
    rebuilt from the palette roots on CLEAR. ``max_out`` stops decoding
    once that many symbols exist — LZW expands up to ~4096x, so an
    unbounded decode of hostile input is a memory bomb; callers pass
    the frame's pixel count (the tail is playback-irrelevant anyway)."""
    # the field is attacker-controlled and sizes the root dictionary:
    # a stomped byte claiming 40 builds a 2^40-entry dict. GIF codes
    # are at most 12 bits wide, so roots can never exceed 2^11.
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"GIF LZW minimum code size {min_code_size} out of bounds")
    clear = 1 << min_code_size
    eoi = clear + 1

    def reset():
        return {i: (i,) for i in range(clear)}, min_code_size + 1, clear + 2

    table, width, next_code = reset()
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # tolerate missing explicit EOI
            acc |= data[pos] << nbits  # LSB-first packing
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table, width, next_code = reset()
            prev = None
            continue
        if code == eoi:
            return out
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if max_out is not None and len(out) >= max_out:
            return out
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """The matching GIF LZW encoder (greedy longest-match)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    width = min_code_size + 1
    next_code = clear + 2
    emit(clear, width)
    run: tuple[int, ...] = ()
    for sym in indices:
        cand = run + (sym,)
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # decoder parity: its dictionary lags ours by one entry, so it
            # widens when ITS next_code (= ours - 1) reaches 2^width
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            width = min_code_size + 1
            next_code = clear + 2
        run = (sym,)
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def decode_gif(data: bytes) -> np.ndarray:
    """Decode the first frame of a GIF to an (H, W, 3) uint8 RGB array.

    Equivalent to ``decode_gif_frames(data)[0]`` — the composed canvas
    after the first image block."""
    return decode_gif_frames(data, max_frames=1)[0]


def decode_gif_frames(
    data: bytes,
    max_frames: int | None = None,
    frame_indices: "set[int] | None" = None,
) -> list[np.ndarray]:
    """Decode a (possibly animated) GIF to full-canvas RGB frames.

    Each image block is composed onto the logical-screen canvas at its
    (left, top) position; Graphic Control Extension transparency leaves
    the underlying canvas visible, and disposal methods are honored:
    1/none keep the canvas, 2 restores the painted region to the
    background color, 3 restores the previous canvas. The initial
    canvas is the background color (global-palette bg index, else
    black). Interlace, local palettes, and the LZW stream are handled
    per frame. Frame delays/loop counts are playback metadata and are
    not returned.

    ``frame_indices`` returns only those frame ordinals. Composition
    is inherently sequential (every prior frame must still decode and
    compose), but the full-canvas COPY — the dominant per-frame memory
    cost on large canvases — happens only for sampled frames, and
    decoding stops after the last wanted ordinal."""
    data = bytes(data)
    if not is_gif(data):
        raise ValueError("not a GIF: bad signature")
    try:
        return _decode_gif_body(data, max_frames, frame_indices)
    except (struct.error, IndexError) as e:  # truncated mid-structure
        raise ValueError(f"truncated GIF: {e}") from e


def _decode_gif_body(
    data: bytes, max_frames: int | None, frame_indices: "set[int] | None" = None
) -> list[np.ndarray]:
    sw, sh, flags, bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    _check_pixels(sw, sh, "GIF screen")
    last_wanted = max(frame_indices) if frame_indices else None
    n_seen = 0
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    bg_rgb = gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).astype(np.uint8).copy()
    frames: list[np.ndarray] = []
    transparent = None  # from the pending GCE, if any
    disposal = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                blen = data[pos]
                packed = data[pos + 1]
                tidx = data[pos + 4]
                disposal = (packed >> 2) & 7
                transparent = tidx if packed & 1 else None
                pos += 1 + blen
                if data[pos] != 0:
                    raise ValueError("bad GIF GCE terminator")
                pos += 1
            else:  # other extensions (NETSCAPE loop, comments): skip
                while data[pos]:
                    pos += 1 + data[pos]
                pos += 1
        elif block == 0x2C:  # image descriptor
            left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
            _check_pixels(w, h, "GIF frame")
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF image without a color table")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos]:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(lzw), min_code, max_out=w * h)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data truncated")
            grid = np.array(idx[: w * h], dtype=np.int32).reshape(h, w)
            if iflags & 0x40:  # interlaced: rows arrive in four passes
                rows = [r for start, step in _GIF_INTERLACE for r in range(start, h, step)]
                fixed = np.empty_like(grid)
                fixed[rows] = grid
                grid = fixed
            if int(grid.max(initial=0)) >= len(pal):
                raise ValueError("GIF palette index out of range")
            if left + w > sw or top + h > sh:
                raise ValueError("GIF image block exceeds the logical screen")
            before = canvas[top : top + h, left : left + w].copy()
            region = canvas[top : top + h, left : left + w]
            if transparent is None:
                region[:] = pal[grid]
            else:
                opaque = grid != transparent
                region[opaque] = pal[grid[opaque]]
            if frame_indices is None or n_seen in frame_indices:
                frames.append(canvas.copy())
            n_seen += 1
            if max_frames is not None and len(frames) >= max_frames:
                return frames
            if last_wanted is not None and n_seen > last_wanted:
                return frames
            if (len(frames) + 1) * sw * sh > MAX_TOTAL_PIXELS:
                raise ValueError(
                    f"GIF animation exceeds {MAX_TOTAL_PIXELS} total output pixels"
                )
            if disposal == 2:  # restore region to background
                canvas[top : top + h, left : left + w] = bg_rgb
            elif disposal == 3:  # restore previous canvas
                canvas[top : top + h, left : left + w] = before
            transparent, disposal = None, 0
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image")
    return frames


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """Encode an (H, W, 3) or (H, W) uint8 array as a GIF89a.

    The palette is built from the distinct colors (<= 256 required —
    this encoder quantizes nothing, so decode_gif(encode_gif(x)) == x
    exactly)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w, c = img.shape
    if c != 3:
        raise ValueError(f"GIF encode needs RGB or gray input, got {c} channels")
    flat = img.reshape(-1, 3)
    pal, inv = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(f"GIF encode needs <= 256 distinct colors, got {len(pal)}")
    bits = max(1, int(len(pal) - 1).bit_length())
    n = 1 << bits
    table = np.zeros((n, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    iflags = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    grid = inv.reshape(h, w)
    if interlace:
        rows = [r for start, step in _GIF_INTERLACE for r in range(start, h, step)]
        grid = grid[rows]
    min_code = max(2, bits)  # spec: minimum LZW code size is 2
    out.append(min_code)
    lzw = _lzw_encode([int(v) for v in grid.reshape(-1)], min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def encode_gif_frames(
    frames: list[np.ndarray], delay_cs: int = 10, loop: int = 0
) -> bytes:
    """Encode frames as an animated GIF89a (NETSCAPE loop + per-frame
    GCE, full-frame image blocks, shared global palette).

    All frames must share dimensions and jointly use <= 256 distinct
    colors — like ``encode_gif`` this quantizes nothing, so
    ``decode_gif_frames(encode_gif_frames(x)) == x`` exactly.
    ``delay_cs`` is per-frame delay in centiseconds; ``loop=0`` means
    forever."""
    if not frames:
        raise ValueError("need at least one frame")
    norm = []
    for f in frames:
        f = np.ascontiguousarray(f, dtype=np.uint8)
        if f.ndim == 2:
            f = np.repeat(f[:, :, None], 3, axis=2)
        if f.shape[2] != 3:
            raise ValueError("GIF frames must be RGB or gray")
        norm.append(f)
    h, w = norm[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in norm):
        raise ValueError("all frames must share dimensions")
    stacked = np.concatenate([f.reshape(-1, 3) for f in norm])
    pal, inv = np.unique(stacked, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(f"GIF encode needs <= 256 distinct colors, got {len(pal)}")
    bits = max(1, int(len(pal) - 1).bit_length())
    n = 1 << bits
    table = np.zeros((n, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    # NETSCAPE 2.0 looping application extension
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
    min_code = max(2, bits)
    per_frame = w * h
    for i in range(len(norm)):
        # GCE: disposal=1 (leave in place), no transparency
        out += b"\x21\xf9\x04" + bytes([1 << 2]) + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(min_code)
        grid = inv[i * per_frame : (i + 1) * per_frame]
        lzw = _lzw_encode([int(v) for v in grid], min_code)
        for j in range(0, len(lzw), 255):
            chunk = lzw[j : j + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# --- BMP / ICO (round 9) ----------------------------------------------------
#
# DIB bitmaps: the no-compression web workhorse (and the payload format
# inside .ico favicons, which every crawl collects by the million).
# BITMAPCOREHEADER (12) and BITMAPINFOHEADER-family (40/52/56/108/124)
# headers, bottom-up and top-down rows, 1/4/8-bit palette, 16/32-bit
# BI_BITFIELDS with arbitrary contiguous masks, 24-bit BGR, and RLE8/
# RLE4 (escape 0/1/2 + absolute mode, word-aligned). ICO walks the
# ICONDIR, decodes PNG-compressed entries through decode_png and DIB
# entries through the shared reader (height halved for the AND mask,
# which becomes the alpha channel for <32-bpp icons). Same bounds
# discipline as the rest of the tier: dimensions check MAX_PIXELS
# before allocation, RLE writes are clipped to the raster, palette
# indices validate against the palette length.


def is_bmp(data: bytes) -> bool:
    return data[:2] == b"BM" and len(data) >= 26


def is_ico(data: bytes) -> bool:
    # type 1 = icon (.ico), type 2 = cursor (.cur — same ICONDIR and
    # payloads; the two entry fields hold the hotspot instead of
    # planes/bpp). The CUR magic 00 00 02 00 is ALSO how every plain
    # truecolor TGA header starts (id 0, no colormap, type 2), so the
    # gate validates directory plausibility: a sane entry count and a
    # first-entry offset that lands past the directory inside the file.
    if data[:4] not in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00") or len(data) < 22:
        return False
    (count,) = struct.unpack_from("<H", data, 4)
    if not 1 <= count <= 64:
        return False
    size, off = struct.unpack_from("<II", data, 6 + 8)
    return size > 0 and 6 + 16 * count <= off <= len(data)


def _mask_shift_width(mask: int) -> tuple[int, int]:
    """(shift, bit width) of a contiguous bitfield mask."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    if (mask >> shift) != (1 << width) - 1:
        raise ValueError(f"non-contiguous BMP bitfield mask {mask:#x}")
    return shift, width


def _scale_to_8bit(chan: np.ndarray, width: int) -> np.ndarray:
    """Replicate the top bits to fill 8 (the 555/565 convention)."""
    if width == 0:
        return np.zeros_like(chan, dtype=np.uint8)
    if width >= 8:
        return (chan >> (width - 8)).astype(np.uint8)
    out = chan.astype(np.uint32) << (8 - width)
    out |= out >> width
    return out.astype(np.uint8)


def _bmp_rle_decode(
    data: bytes, width: int, height: int, four_bit: bool
) -> np.ndarray:
    """RLE8/RLE4 (BI_RLE8=1 / BI_RLE4=2) to a bottom-up (height, width)
    index raster. Escapes: 0,0 end-of-line; 0,1 end-of-bitmap; 0,2
    delta (dx, dy up); 0,n>=3 absolute run (word-aligned). Pixels the
    stream never touches stay index 0 (the spec's undefined-as-
    background convention)."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt:
            if y >= height or x >= width:
                # x can pass width via a hostile delta escape; without
                # this guard the negative pix[:end-x] slice below
                # surfaces as an opaque numpy broadcast error
                raise ValueError("BMP RLE run outside the raster")
            end = min(x + cnt, width)
            if four_bit:
                pair = np.array([val >> 4, val & 15], dtype=np.uint8)
                out[y, x:end] = np.tile(pair, (cnt + 1) // 2)[: end - x]
            else:
                out[y, x:end] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if pos + 1 >= n:
                raise ValueError("truncated BMP RLE delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # absolute mode: val literal pixels, word-aligned
            nbytes = (val + 1) // 2 if four_bit else val
            nbytes += nbytes & 1
            chunk = data[pos : pos + nbytes]
            if len(chunk) < nbytes:
                raise ValueError("truncated BMP RLE absolute run")
            pos += nbytes
            if y >= height or x >= width:
                raise ValueError("BMP RLE run outside the raster")
            if four_bit:
                arr = np.frombuffer(chunk, dtype=np.uint8)
                pix = np.empty(arr.size * 2, dtype=np.uint8)
                pix[0::2] = arr >> 4
                pix[1::2] = arr & 15
                pix = pix[:val]
            else:
                pix = np.frombuffer(chunk[:val], dtype=np.uint8)
            end = min(x + val, width)
            out[y, x:end] = pix[: end - x]
            x += val
    return out[::-1]  # RLE rasters are always bottom-up


def _decode_dib(data: bytes, off: int, pixel_off: int | None, ico: bool = False):
    """Shared DIB reader: ``off`` points at the DIB header; returns
    (H, W, 3|4) uint8. ``pixel_off`` is the file-header pixel offset
    (None inside ICO payloads: pixels follow the palette directly).
    ``ico=True`` halves the stored height (XOR + AND mask) and applies
    the AND mask as transparency for <32-bpp entries."""
    (hdr,) = struct.unpack_from("<I", data, off)
    if hdr == 12:  # BITMAPCOREHEADER: u16 dims, RGB-triple palette
        width, height, _planes, bpp = struct.unpack_from("<HHHH", data, off + 4)
        compression, clr_used, quad, top_down = 0, 0, 3, False
        masks_off = None
    elif hdr in (40, 52, 56, 108, 124):
        width, height, _planes, bpp, compression, _sz, _xp, _yp, clr_used = (
            struct.unpack_from("<iiHHIIiiI", data, off + 4)
        )
        top_down = height < 0
        height = abs(height)
        quad = 4
        # BI_BITFIELDS masks: appended after a 40-byte header, or the
        # V2+/V4/V5 header's own RGB mask fields — both land at +40
        masks_off = off + 40
    else:
        raise NotImplementedError(f"BMP DIB header size {hdr}")
    if ico:
        height //= 2
    if width <= 0 or height <= 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    _check_pixels(width, height, "BMP")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise NotImplementedError(f"BMP bit depth {bpp}")
    if compression not in (0, 1, 2, 3):
        raise NotImplementedError(f"BMP compression {compression}")

    pal_off = off + hdr
    n_masks = 0
    if compression == 3:
        if bpp not in (16, 32):
            raise ValueError("BI_BITFIELDS requires 16 or 32 bpp")
        if hdr == 40:
            n_masks = 3  # masks sit between header and palette
    palette = None
    if bpp <= 8:
        n_colors = clr_used or (1 << bpp)
        if n_colors > 256:
            raise ValueError(f"BMP palette claims {n_colors} colors")
        praw = data[pal_off + 4 * n_masks : pal_off + 4 * n_masks + quad * n_colors]
        if len(praw) < quad * n_colors:
            raise ValueError("truncated BMP palette")
        ptab = np.frombuffer(praw, dtype=np.uint8).reshape(n_colors, quad)
        palette = ptab[:, [2, 1, 0]]  # BGR(A) -> RGB
    if pixel_off is None:
        pixel_off = pal_off + 4 * n_masks
        if palette is not None:
            pixel_off += quad * len(palette)
        elif compression == 3 and hdr == 40:
            pass  # masks already skipped via n_masks
    stride = ((width * bpp + 31) // 32) * 4

    if compression in (1, 2):  # RLE8 / RLE4
        if (compression == 1 and bpp != 8) or (compression == 2 and bpp != 4):
            raise ValueError(f"BMP RLE{8 if compression == 1 else 4} with {bpp} bpp")
        if top_down:
            raise ValueError("top-down BMP cannot be RLE-compressed")
        idx = _bmp_rle_decode(
            data[pixel_off:], width, height, four_bit=compression == 2
        )
    else:
        need = stride * height
        raw = data[pixel_off : pixel_off + need]
        if len(raw) < need:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
        if not top_down:
            rows = rows[::-1]
        if bpp in (1, 4):
            if bpp == 1:
                bits = np.unpackbits(rows, axis=1)[:, :width]
                idx = bits
            else:
                nib = np.empty((height, stride * 2), dtype=np.uint8)
                nib[:, 0::2] = rows >> 4
                nib[:, 1::2] = rows & 15
                idx = nib[:, :width]
        elif bpp == 8:
            idx = rows[:, :width]
        elif bpp == 16:
            px = rows[:, : width * 2].reshape(height, width, 2)
            v = px[:, :, 0].astype(np.uint32) | (px[:, :, 1].astype(np.uint32) << 8)
            if compression == 3:
                rm, gm, bm = struct.unpack_from("<III", data, masks_off)
                am = 0
            else:
                rm, gm, bm, am = 0x7C00, 0x03E0, 0x001F, 0  # 555 default
            chans = []
            for m in (rm, gm, bm):
                sh, wd = _mask_shift_width(m)
                chans.append(_scale_to_8bit((v >> sh) & ((1 << wd) - 1), wd))
            return np.dstack(chans)
        else:  # 24 / 32
            nb = bpp // 8
            px = rows[:, : width * nb].reshape(height, width, nb)
            if bpp == 32 and compression == 3:
                rm, gm, bm = struct.unpack_from("<III", data, masks_off)
                # the alpha mask exists only in V3+/V4/V5 headers; a
                # 40-byte BI_BITFIELDS header appends exactly 3 masks
                am = struct.unpack_from("<I", data, masks_off + 12)[0] if hdr >= 56 else 0
                v = px[:, :, 0].astype(np.uint32)
                for i in range(1, 4):
                    v |= px[:, :, i].astype(np.uint32) << (8 * i)
                chans = []
                for m in (rm, gm, bm):
                    sh, wd = _mask_shift_width(m)
                    chans.append(_scale_to_8bit((v >> sh) & ((1 << wd) - 1), wd))
                if am:
                    sh, wd = _mask_shift_width(am)
                    chans.append(_scale_to_8bit((v >> sh) & ((1 << wd) - 1), wd))
                return np.dstack(chans)
            rgb = px[:, :, [2, 1, 0]]
            if bpp == 32 and ico:
                return np.dstack([rgb, px[:, :, 3]])  # icons carry real alpha
            if bpp == 24 and ico:
                mask_stride = ((width + 31) // 32) * 4
                moff = pixel_off + stride * height
                mraw = data[moff : moff + mask_stride * height]
                if len(mraw) == mask_stride * height:
                    mrows = np.frombuffer(mraw, dtype=np.uint8).reshape(
                        height, mask_stride
                    )[::-1]
                    mask = np.unpackbits(mrows, axis=1)[:, :width]
                    alpha = np.where(mask == 1, 0, 255).astype(np.uint8)
                    return np.dstack([rgb, alpha])
            return np.ascontiguousarray(rgb)
        # palette path falls through here with a bottom-up-corrected idx
    if palette is None:
        raise ValueError("paletted BMP without a palette")
    if int(idx.max()) >= len(palette):
        raise ValueError("BMP palette index out of range")
    rgb = palette[idx]
    if ico and compression == 0:
        # the 1-bit AND mask follows the XOR pixels (bottom-up,
        # 4-byte-aligned rows): bit 1 = transparent
        mask_stride = ((width + 31) // 32) * 4
        moff = pixel_off + stride * height
        mraw = data[moff : moff + mask_stride * height]
        if len(mraw) == mask_stride * height:
            mrows = np.frombuffer(mraw, dtype=np.uint8).reshape(
                height, mask_stride
            )[::-1]
            mask = np.unpackbits(mrows, axis=1)[:, :width]
            alpha = np.where(mask == 1, 0, 255).astype(np.uint8)
            return np.dstack([rgb, alpha])
    return np.ascontiguousarray(rgb)


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode a BMP file to (H, W, 3|4) uint8 RGB(A)."""
    data = bytes(data)
    if not is_bmp(data):
        raise ValueError("not a BMP: bad magic")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    return _decode_dib(data, 14, pixel_off)


def ico_entries(data: bytes) -> list[dict]:
    """ICONDIR walk: list of {width, height, bpp, size, offset} (0 in
    the width/height bytes means 256 per the format)."""
    data = bytes(data)
    if not is_ico(data):
        raise ValueError("not an ICO: bad magic")
    (count,) = struct.unpack_from("<H", data, 4)
    if count == 0 or count > 64:
        raise ValueError(f"ICO entry count {count} out of bounds")
    out = []
    for i in range(count):
        o = 6 + 16 * i
        if o + 16 > len(data):
            raise ValueError("truncated ICONDIR")
        w, h, _colors, _res = struct.unpack_from("<BBBB", data, o)
        _planes, bpp, size, off = struct.unpack_from("<HHII", data, o + 4)
        out.append(
            {
                "width": w or 256,
                "height": h or 256,
                "bpp": bpp,
                "size": size,
                "offset": off,
            }
        )
    return out


def decode_ico(data: bytes, index: int | None = None) -> np.ndarray:
    """Decode one icon from an ICO file to (H, W, 3|4) uint8 —
    ``index`` selects an ICONDIR entry, default the largest by area
    (ties: highest bpp). Entries are PNG-compressed (decode_png) or
    raw DIBs (stored height doubled for the AND mask, which becomes
    the alpha channel for <32-bpp entries)."""
    data = bytes(data)
    entries = ico_entries(data)
    if index is None:
        index = max(
            range(len(entries)),
            key=lambda i: (
                entries[i]["width"] * entries[i]["height"],
                entries[i]["bpp"],
            ),
        )
    e = entries[index]
    payload = data[e["offset"] : e["offset"] + e["size"]]
    if len(payload) < e["size"]:
        raise ValueError("ICO entry overruns the file")
    if is_png(payload):
        return decode_png(payload)
    return _decode_dib(payload, 0, None, ico=True)


def encode_bmp(
    img: np.ndarray,
    bpp: int = 24,
    top_down: bool = False,
    rle: bool = False,
) -> bytes:
    """Encode (H, W[, C]) uint8 as a BMP — the fixture twin of
    decode_bmp. bpp 24 (BGR), 32 (BGRA via BI_BITFIELDS when the input
    has an alpha channel, else BGRX), 8/4/1 (palette built from the
    distinct colors; ``rle=True`` emits BI_RLE8, 8-bpp bottom-up only),
    16 (565 BI_BITFIELDS)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c == 1:
        img = np.repeat(img, 3, axis=2)
        c = 3
    rows_rgb = img if top_down else img[::-1]
    hdr_h = -h if top_down else h
    palette = b""
    masks = b""
    compression = 0
    if bpp in (1, 4, 8):
        flat = rows_rgb[:, :, :3].reshape(-1, 3)
        colors, inv = np.unique(flat, axis=0, return_inverse=True)
        if len(colors) > (1 << bpp):
            raise ValueError(f"image needs {len(colors)} colors, {bpp} bpp allows {1 << bpp}")
        idx = inv.reshape(h, w).astype(np.uint8)
        palette = b"".join(
            bytes([b, g, r, 0]) for r, g, b in colors.tolist()
        )
        if rle:
            if bpp != 8 or top_down:
                raise ValueError("RLE encode supports 8 bpp bottom-up only")
            compression = 1
            body = bytearray()
            for y in range(h):
                row = idx[y]
                x = 0
                while x < w:
                    run = 1
                    while x + run < w and row[x + run] == row[x] and run < 255:
                        run += 1
                    body += bytes([run, int(row[x])])
                    x += run
                body += b"\x00\x00"  # EOL
            body += b"\x00\x01"  # EOB
            pix = bytes(body)
        else:
            if bpp == 8:
                packed = idx
            elif bpp == 4:
                pad_w = w + (w & 1)
                nib = np.zeros((h, pad_w), dtype=np.uint8)
                nib[:, :w] = idx
                packed = (nib[:, 0::2] << 4) | nib[:, 1::2]
            else:
                packed = np.packbits(idx, axis=1)
            stride = ((w * bpp + 31) // 32) * 4
            rows = np.zeros((h, stride), dtype=np.uint8)
            rows[:, : packed.shape[1]] = packed
            pix = rows.tobytes()
    elif bpp == 16:
        compression = 3
        masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
        r = rows_rgb[:, :, 0].astype(np.uint16) >> 3
        g = rows_rgb[:, :, 1].astype(np.uint16) >> 2
        b = rows_rgb[:, :, 2].astype(np.uint16) >> 3
        v = (r << 11) | (g << 5) | b
        stride = ((w * 16 + 31) // 32) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        le = v.astype("<u2").view(np.uint8).reshape(h, w * 2)
        rows[:, : w * 2] = le
        pix = rows.tobytes()
    elif bpp in (24, 32):
        nb = bpp // 8
        alpha_v3 = bpp == 32 and img.shape[2] == 4
        if alpha_v3:
            compression = 3  # masks live INSIDE the 56-byte V3 header
        stride = ((w * bpp + 31) // 32) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        bgr = rows_rgb[:, :, [2, 1, 0]]
        if nb == 4:
            a = (
                rows_rgb[:, :, 3:4]
                if img.shape[2] == 4
                else np.zeros((h, w, 1), dtype=np.uint8)
            )
            px = np.concatenate([bgr, a], axis=2)
        else:
            px = bgr
        rows[:, : w * nb] = px.reshape(h, w * nb)
        pix = rows.tobytes()
    else:
        raise ValueError(f"unsupported encode bpp {bpp}")
    v3 = bpp == 32 and compression == 3
    dib = struct.pack(
        "<IiiHHIIiiII", 56 if v3 else 40, w, hdr_h, 1, bpp, compression,
        len(pix), 2835, 2835, len(palette) // 4, 0,
    )
    if v3:  # BITMAPV3INFOHEADER: the four masks are header fields
        dib += struct.pack(
            "<IIII", 0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000
        )
    pixel_off = 14 + len(dib) + len(masks) + len(palette)
    filehdr = struct.pack("<2sIHHI", b"BM", pixel_off + len(pix), 0, 0, pixel_off)
    return filehdr + dib + masks + palette + pix


def encode_ico(images: list[np.ndarray], png: bool = False) -> bytes:
    """Pack decoded-pixel arrays as an ICO — DIB entries (with an
    all-opaque AND mask) or PNG-compressed entries (``png=True``)."""
    payloads = []
    for img in images:
        img = np.asarray(img, dtype=np.uint8)
        if img.ndim == 2:
            img = img[:, :, None]
        h, w = img.shape[:2]
        if w > 256 or h > 256:
            raise ValueError("ICO entries cap at 256x256")
        if png:
            payloads.append((w, h, 32, encode_png(img)))
        else:
            bmp = encode_bmp(img if img.shape[2] != 1 else img[:, :, 0], bpp=24)
            (poff,) = struct.unpack_from("<I", bmp, 10)
            dib = bytearray(bmp[14:])
            # stored height doubles for the AND mask
            struct.pack_into("<i", dib, 8, h * 2)
            mask_stride = ((w + 31) // 32) * 4
            payloads.append(
                (w, h, 24, bytes(dib) + b"\x00" * (mask_stride * h))
            )
    out = struct.pack("<HHH", 0, 1, len(payloads))
    off = 6 + 16 * len(payloads)
    dirents = b""
    body = b""
    for w, h, bpp, pl in payloads:
        dirents += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, bpp, len(pl), off
        )
        off += len(pl)
        body += pl
    return out + dirents + body


# --- TGA (Truevision, round 9) -----------------------------------------------
#
# The graphics/game-asset interchange format: 18-byte header, optional
# id field and colormap, image types 1/2/3 (+8 for RLE), 8/15/16/24/
# 32-bit pixels, bottom-up default with descriptor-bit flips. TGA has
# NO magic number — is_tga is a structural plausibility check (legal
# type/depth combinations), so it runs LAST in the decode_image
# dispatch and never shadows a real magic.


def is_tga(data: bytes) -> bool:
    if len(data) < 18:
        return False
    cmap_type, img_type = data[1], data[2]
    depth = data[16]
    if cmap_type not in (0, 1):
        return False
    base = img_type & ~8
    if base not in (1, 2, 3) or (img_type & ~11):
        return False
    if base == 1 and (cmap_type != 1 or depth != 8):
        return False
    if base == 2 and depth not in (15, 16, 24, 32):
        return False
    if base == 3 and depth != 8:
        return False
    w, h = struct.unpack_from("<HH", data, 12)
    return w > 0 and h > 0


def _tga_rle(data: bytes, pos: int, count: int, nb: int) -> bytes:
    """Expand RLE packets to count*nb raw pixel bytes."""
    out = bytearray()
    need = count * nb
    n = len(data)
    while len(out) < need:
        if pos >= n:
            raise ValueError("truncated TGA RLE stream")
        hdr = data[pos]
        pos += 1
        cnt = (hdr & 127) + 1
        if hdr & 128:  # run packet: one pixel repeated
            px = data[pos : pos + nb]
            if len(px) < nb:
                raise ValueError("truncated TGA RLE run")
            pos += nb
            out += px * cnt
        else:  # raw packet
            raw = data[pos : pos + cnt * nb]
            if len(raw) < cnt * nb:
                raise ValueError("truncated TGA RLE raw packet")
            pos += cnt * nb
            out += raw
    return bytes(out[:need])


def decode_tga(data: bytes) -> np.ndarray:
    """(H, W, 1|3|4) uint8 — gray, BGR->RGB, BGRA->RGBA, 15/16-bit
    ARRRRRGG expanded by top-bit replication, palette lookups."""
    data = bytes(data)
    if not is_tga(data):
        raise ValueError("not a plausible TGA header")
    id_len, cmap_type, img_type = data[0], data[1], data[2]
    cm_first, cm_len, cm_bits = struct.unpack_from("<HHB", data, 3)
    w, h = struct.unpack_from("<HH", data, 12)
    depth, desc = data[16], data[17]
    _check_pixels(w, h, "TGA")
    pos = 18 + id_len
    cmap = None
    if cmap_type == 1:
        cm_nb = (cm_bits + 7) // 8
        if cm_bits not in (15, 16, 24, 32):
            raise ValueError(f"bad TGA colormap entry size {cm_bits}")
        raw = data[pos : pos + cm_len * cm_nb]
        if len(raw) < cm_len * cm_nb:
            raise ValueError("truncated TGA colormap")
        pos += cm_len * cm_nb
        ent = np.frombuffer(raw, np.uint8).reshape(cm_len, cm_nb)
        if cm_nb == 2:
            v = ent[:, 0].astype(np.uint32) | (ent[:, 1].astype(np.uint32) << 8)
            cmap = np.stack(
                [_scale_to_8bit((v >> s) & 31, 5) for s in (10, 5, 0)], axis=1
            )
        elif cm_nb == 3:
            cmap = ent[:, [2, 1, 0]]
        else:
            cmap = ent[:, [2, 1, 0, 3]]
    nb = (depth + 7) // 8
    count = w * h
    if img_type & 8:
        raw = _tga_rle(data, pos, count, nb)
    else:
        raw = data[pos : pos + count * nb]
        if len(raw) < count * nb:
            raise ValueError("truncated TGA pixel data")
    px = np.frombuffer(raw, np.uint8).reshape(h, w, nb)
    base = img_type & ~8
    if base == 3:
        out = px  # gray
    elif base == 1:
        idx = px[:, :, 0]
        if int(idx.max()) >= (cm_first + len(cmap)) or int(idx.min()) < cm_first:
            raise ValueError("TGA palette index out of range")
        out = cmap[idx - cm_first]
    elif nb == 2:  # 15/16-bit ARRRRRGG GGGBBBBB (little-endian)
        v = px[:, :, 0].astype(np.uint32) | (px[:, :, 1].astype(np.uint32) << 8)
        out = np.dstack([_scale_to_8bit((v >> s) & 31, 5) for s in (10, 5, 0)])
    elif nb == 3:
        out = px[:, :, [2, 1, 0]]
    elif nb == 4:
        out = px[:, :, [2, 1, 0, 3]]
    else:
        raise ValueError(f"bad TGA depth {depth} for type {img_type}")
    if not desc & 0x20:  # bottom-up default
        out = out[::-1]
    if desc & 0x10:  # right-to-left
        out = out[:, ::-1]
    return np.ascontiguousarray(out)


def encode_tga(img: np.ndarray, rle: bool = False, top_down: bool = True) -> bytes:
    """Fixture twin: gray (type 3), BGR (2), BGRA (2/32), optional RLE
    (+8) with runs split at the 128 cap."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c == 1:
        base, depth, px = 3, 8, img
    elif c == 3:
        base, depth, px = 2, 24, img[:, :, [2, 1, 0]]
    elif c == 4:
        base, depth, px = 2, 32, img[:, :, [2, 1, 0, 3]]
    else:
        raise ValueError(f"TGA encode supports 1/3/4 channels, got {c}")
    if not top_down:
        px = px[::-1]
    desc = (0x20 if top_down else 0) | (8 if c == 4 else 0)
    hdr = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, base | (8 if rle else 0), 0, 0, 0,
        0, 0, w, h, depth, desc,
    )
    flat = px.reshape(-1, px.shape[2])
    if not rle:
        return hdr + flat.tobytes()
    out = bytearray(hdr)
    i = 0
    n = flat.shape[0]
    while i < n:
        run = 1
        while i + run < n and run < 128 and (flat[i + run] == flat[i]).all():
            run += 1
        if run >= 2:
            out.append(0x80 | (run - 1))
            out += flat[i].tobytes()
            i += run
        else:
            j = i + 1
            while (
                j < n and j - i < 128
                and not (j + 1 < n and (flat[j] == flat[j + 1]).all())
            ):
                j += 1
            out.append((j - i) - 1)
            out += flat[i:j].tobytes()
            i = j
    return bytes(out)


# --- PNM (PBM/PGM/PPM, round 9) ---------------------------------------------
#
# The netpbm family CV pipelines and academic datasets move frames in:
# P1/P2/P3 (ASCII) and P4/P5/P6 (binary) with #-comments anywhere in
# the header, arbitrary maxval (two-byte big-endian samples above
# 255), and P4's packed 1-means-black bitmap rows. Samples scale to
# 8-bit by round(v * 255 / maxval) — exact for the common 255/65535
# and the spec's own scaling rule for the odd maxvals real tools emit.


def is_pnm(data: bytes) -> bool:
    # magic must be followed by whitespace or a comment — bare "P3x"
    # text must not sniff as an image
    return (
        len(data) >= 3
        and data[0:1] == b"P"
        and data[1:2] in b"123456"
        and (data[2:3].isspace() or data[2:3] == b"#")
    )


def _pnm_tokens(data: bytes, n_tokens: int, start: int = 0):
    """Yield header tokens, skipping whitespace and # comments;
    returns (tokens, position after the single whitespace that
    terminates the last token)."""
    toks = []
    pos = start
    n = len(data)
    while len(toks) < n_tokens:
        while pos < n and data[pos : pos + 1].isspace():
            pos += 1
        if pos < n and data[pos] == 0x23:  # '#'
            eol = data.find(b"\n", pos)
            if eol < 0:
                raise ValueError("unterminated PNM comment")
            pos = eol + 1
            continue
        t0 = pos
        while pos < n and not data[pos : pos + 1].isspace() and data[pos] != 0x23:
            pos += 1
        if pos == t0:
            raise ValueError("truncated PNM header")
        toks.append(data[t0:pos])
        if len(toks) == n_tokens:
            # exactly ONE whitespace byte terminates the header before
            # binary raster data (the spec's rule)
            if pos < n and data[pos : pos + 1].isspace():
                pos += 1
    return toks, pos


def decode_pnm(data: bytes) -> np.ndarray:
    """(H, W, 1|3) uint8; PBM's 1 decodes as BLACK (0) per the spec."""
    data = bytes(data)
    if not is_pnm(data):
        raise ValueError("not a PNM: bad magic")
    kind = data[1] - 0x30
    bitmap = kind in (1, 4)
    nch = 3 if kind in (3, 6) else 1
    n_hdr = 2 if bitmap else 3
    toks, pos = _pnm_tokens(data, n_hdr, start=2)
    w, h = int(toks[0]), int(toks[1])
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PNM dimensions {w}x{h}")
    _check_pixels(w, h, "PNM")
    maxval = 1 if bitmap else int(toks[2])
    if not bitmap and not 1 <= maxval <= 65535:
        raise ValueError(f"bad PNM maxval {maxval}")
    count = w * h * nch
    if kind == 1:
        # Plain PBM legally packs pixels with NO separating whitespace
        # ("0110") — each '0'/'1' CHARACTER is one sample, whitespace
        # optional, '#' comments run to end of line (ADVICE r9: a
        # split() tokenizer quarantined such files).
        bits = []
        i = pos
        n = len(data)
        while i < n and len(bits) < count:
            b = data[i]
            if b in (0x30, 0x31):  # '0' / '1'
                bits.append(b - 0x30)
            elif b == 0x23:  # '#'
                eol = data.find(b"\n", i)
                i = (eol if eol >= 0 else n - 1) + 1
                continue
            elif not data[i : i + 1].isspace():
                raise ValueError("bad PBM ASCII raster byte")
            i += 1
        if len(bits) < count:
            raise ValueError("truncated PNM ASCII raster")
        arr = np.array(bits, dtype=np.int64)
    elif kind in (2, 3):  # ASCII rasters
        vals = data[pos:].split()
        if len(vals) < count:
            raise ValueError("truncated PNM ASCII raster")
        arr = np.array([int(v) for v in vals[:count]], dtype=np.int64)
        if arr.min() < 0 or arr.max() > maxval:
            raise ValueError("PNM sample exceeds maxval")
    elif kind == 4:  # packed bits, rows byte-aligned
        stride = (w + 7) // 8
        need = stride * h
        raw = data[pos : pos + need]
        if len(raw) < need:
            raise ValueError("truncated PNM bitmap raster")
        rows = np.frombuffer(raw, np.uint8).reshape(h, stride)
        arr = np.unpackbits(rows, axis=1)[:, :w].astype(np.int64).reshape(-1)
    else:  # P5 / P6 binary
        wide = maxval > 255
        need = count * (2 if wide else 1)
        raw = data[pos : pos + need]
        if len(raw) < need:
            raise ValueError("truncated PNM binary raster")
        arr = np.frombuffer(raw, ">u2" if wide else np.uint8)[:count].astype(np.int64)
        if arr.max(initial=0) > maxval:
            raise ValueError("PNM sample exceeds maxval")
    if bitmap:
        out = np.where(arr == 1, 0, 255).astype(np.uint8)  # 1 = black
    elif maxval == 255:
        out = arr.astype(np.uint8)
    else:
        # exact integer round-half-up of v*255/maxval (float would put
        # exact .5 midpoints one ulp low)
        out = ((arr * 510 + maxval) // (2 * maxval)).astype(np.uint8)
    return out.reshape(h, w, nch)


def encode_pnm(img: np.ndarray, binary: bool = True, maxval: int = 255) -> bytes:
    """Fixture twin: gray → PGM, RGB → PPM (``maxval`` up to 65535
    scales samples up with round(v * maxval / 255)); a strictly 0/255
    single-channel image with ``maxval=1`` writes PBM."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"PNM encode supports 1 or 3 channels, got {c}")
    if maxval == 1:
        if c != 1 or not np.isin(img, (0, 255)).all():
            raise ValueError("maxval=1 (PBM) needs a strictly 0/255 gray image")
        bits = (img[:, :, 0] == 0).astype(np.uint8)  # black = 1
        if binary:
            return f"P4\n{w} {h}\n".encode() + np.packbits(bits, axis=1).tobytes()
        body = "\n".join(" ".join(map(str, r)) for r in bits.tolist())
        return f"P1\n{w} {h}\n{body}\n".encode()
    vals = img.astype(np.int64)
    if maxval != 255:
        if not 1 < maxval <= 65535:
            raise ValueError(f"bad maxval {maxval}")
        vals = np.round(vals * (maxval / 255.0)).astype(np.int64)
    magic = {True: {1: "P5", 3: "P6"}, False: {1: "P2", 3: "P3"}}[binary][c]
    hdr = f"{magic}\n# pg2kinesis_spark fixture\n{w} {h}\n{maxval}\n".encode()
    if binary:
        dt = ">u2" if maxval > 255 else np.uint8
        return hdr + vals.astype(dt).tobytes()
    body = " ".join(map(str, vals.reshape(-1).tolist()))
    return hdr + body.encode() + b"\n"


# --- APNG (round 9) ---------------------------------------------------------
#
# Animated PNG, per the public APNG spec folded into PNG 3rd edition:
# acTL (frame/play counts, before IDAT), per-frame fcTL (region
# geometry, delay fraction, dispose/blend ops), fdAT (sequence-
# numbered IDAT-equivalent region data). Every region decodes through
# the EXISTING decode_png kernel by rebuilding a minimal PNG around
# the region's chunks (same IHDR depth/color, copied PLTE/tRNS), so
# filters/interlace/bit depths are covered for free; composition
# (blend source/over, dispose none/background/previous) mirrors the
# GIF canvas walk. A PNG without acTL is not an APNG — is_png stays
# true for both, and decode_image keeps returning the spec's DEFAULT
# image for still consumers.


def is_apng(data: bytes) -> bool:
    """PNG whose acTL chunk appears before IDAT (the spec's rule)."""
    if not is_png(data):
        return False
    pos = 8
    n = len(data)
    for _ in range(64):  # acTL must be early; bounded probe
        if pos + 8 > n:
            return False
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        if ctype == b"acTL":
            return True
        if ctype == b"IDAT":
            return False
        pos += 12 + ln
    return False


def _apng_walk(data: bytes):
    """(ihdr_body, aux_chunks, acTL, frames) where frames is a list of
    (fcTL_body, [raw data streams]) — the first frame's data may be the
    default image's IDAT."""
    if not is_png(data):
        raise ValueError("not a PNG")
    pos = 8
    n = len(data)
    ihdr = None
    aux = []  # PLTE / tRNS pass through to region decodes
    actl = None
    frames: list[tuple[bytes, list[bytes]]] = []
    idat_frame = False  # current frame collects IDAT (default image)
    seq_expect = 0
    while pos + 8 <= n:
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            raise ValueError("truncated PNG chunk")
        pos += 12 + ln
        if ctype == b"IHDR":
            ihdr = body
        elif ctype in (b"PLTE", b"tRNS"):
            aux.append((ctype, body))
        elif ctype == b"acTL":
            if len(body) < 8:
                raise ValueError("truncated acTL")
            actl = struct.unpack(">II", body[:8])
        elif ctype == b"fcTL":
            if len(body) < 26:
                raise ValueError("truncated fcTL")
            (seq,) = struct.unpack_from(">I", body, 0)
            if seq != seq_expect:
                raise ValueError(f"APNG sequence number {seq}, expected {seq_expect}")
            seq_expect += 1
            frames.append((body, []))
            # an IDAT following the FIRST fcTL is frame 0's data (the
            # default image participates in the animation)
            idat_frame = len(frames) == 1
        elif ctype == b"IDAT":
            if idat_frame:
                frames[0][1].append(body)
            # IDAT with no preceding fcTL: default image only — skip
        elif ctype == b"fdAT":
            if len(body) < 4:
                raise ValueError("truncated fdAT")
            (seq,) = struct.unpack_from(">I", body, 0)
            if seq != seq_expect:
                raise ValueError(f"APNG sequence number {seq}, expected {seq_expect}")
            seq_expect += 1
            if not frames:
                raise ValueError("fdAT before any fcTL")
            frames[-1][1].append(body[4:])
        elif ctype == b"IEND":
            break
    if ihdr is None or actl is None:
        raise ValueError("not an APNG (missing IHDR/acTL)")
    if len(frames) != actl[0]:
        raise ValueError(
            f"acTL declares {actl[0]} frames, stream carries {len(frames)}"
        )
    return ihdr, aux, actl, frames


def _to_rgba(img: np.ndarray) -> np.ndarray:
    h, w, c = img.shape
    if c == 4:
        return img
    if c == 3:
        return np.dstack([img, np.full((h, w), 255, np.uint8)])
    if c == 2:
        return np.dstack([np.repeat(img[:, :, :1], 3, 2), img[:, :, 1]])
    return np.dstack([np.repeat(img, 3, 2), np.full((h, w), 255, np.uint8)])


def apng_info(data: bytes) -> dict:
    """Header walk: n_frames, n_plays, width, height, fps (mean of the
    per-frame delay fractions), duration_ms."""
    data = bytes(data)
    ihdr, _aux, actl, frames = _apng_walk(data)
    w, h = struct.unpack_from(">II", ihdr, 0)
    total_s = 0.0
    for fctl, _chunks in frames:
        num, den = struct.unpack_from(">HH", fctl, 20)
        total_s += num / (den or 100)  # den 0 means 1/100 s (spec)
    return {
        "width": int(w),
        "height": int(h),
        "n_frames": len(frames),
        "n_plays": actl[1],
        "fps": len(frames) / total_s if total_s else None,
        "duration_ms": total_s * 1000.0 if total_s else None,
    }


def decode_apng_frames(
    data: bytes, frame_indices: "set[int] | None" = None
) -> list[np.ndarray]:
    """Full-canvas RGBA frames. Composition per the spec: blend 0
    replaces the region (alpha included), blend 1 alpha-composites
    over; dispose 0 leaves the canvas, 1 clears the region to
    transparent, 2 reverts it. Every prior frame must compose (like
    GIF), but canvases are COPIED only for sampled ordinals and the
    walk stops after the last one."""
    data = bytes(data)
    ihdr, aux, _actl, frames = _apng_walk(data)
    cw, ch = struct.unpack_from(">II", ihdr, 0)
    _check_pixels(cw, ch, "APNG")
    last = max(frame_indices) if frame_indices else None
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    out: list[np.ndarray] = []
    for idx, (fctl, chunks) in enumerate(frames):
        _seq, w, h, x, y = struct.unpack_from(">IIIII", fctl, 0)
        dispose, blend = fctl[24], fctl[25]
        if x + w > cw or y + h > ch or w == 0 or h == 0:
            raise ValueError("APNG frame region outside the canvas")
        if not chunks:
            raise ValueError("APNG frame without data chunks")
        region_ihdr = struct.pack(">II", w, h) + ihdr[8:]
        mini = bytearray(PNG_SIG)
        mini += _png_chunk(b"IHDR", region_ihdr)
        for ctype, body in aux:
            mini += _png_chunk(ctype, body)
        for c in chunks:
            mini += _png_chunk(b"IDAT", c)
        mini += _png_chunk(b"IEND", b"")
        region = _to_rgba(decode_png(bytes(mini)))
        saved = canvas[y : y + h, x : x + w].copy() if dispose == 2 else None
        if blend == 0 or idx == 0:  # frame 0 always blends as source
            canvas[y : y + h, x : x + w] = region
        else:  # over
            dst = canvas[y : y + h, x : x + w].astype(np.float64)
            src = region.astype(np.float64)
            sa = src[:, :, 3:4] / 255.0
            da = dst[:, :, 3:4] / 255.0
            oa = sa + da * (1 - sa)
            rgb = src[:, :, :3] * sa + dst[:, :, :3] * da * (1 - sa)
            with np.errstate(invalid="ignore"):
                rgb = np.where(oa > 0, rgb / np.where(oa > 0, oa, 1.0), 0)
            blended = np.dstack([rgb, oa * 255.0])
            canvas[y : y + h, x : x + w] = np.clip(
                np.round(blended), 0, 255
            ).astype(np.uint8)
        if frame_indices is None or idx in frame_indices:
            out.append(canvas.copy())
        if dispose == 1:
            canvas[y : y + h, x : x + w] = 0
        elif dispose == 2:
            canvas[y : y + h, x : x + w] = saved
        if last is not None and idx >= last:
            break
    if not out:
        raise ValueError("no sampled APNG frames")
    return out


def encode_apng(
    frames: list[np.ndarray], delay_cs: int = 10, n_plays: int = 0
) -> bytes:
    """Fixture twin: full-canvas RGBA frames, blend source, dispose
    none — a conformant stream any APNG reader plays identically.
    Frame 0 doubles as the default image (fcTL before IDAT)."""
    if not frames:
        raise ValueError("APNG needs at least one frame")
    rgba = [_to_rgba(np.asarray(f, dtype=np.uint8)) for f in frames]
    h, w = rgba[0].shape[:2]
    out = bytearray(PNG_SIG)
    out += _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
    out += _png_chunk(b"acTL", struct.pack(">II", len(rgba), n_plays))
    seq = 0

    def raw_idat(img: np.ndarray) -> bytes:
        raw = b"".join(b"\x00" + img[yy].tobytes() for yy in range(img.shape[0]))
        return zlib.compress(raw, 6)

    for i, f in enumerate(rgba):
        if f.shape[:2] != (h, w):
            raise ValueError("APNG frames must share canvas dimensions")
        fctl = struct.pack(
            ">IIIIIHHBB", seq, w, h, 0, 0, delay_cs, 100, 0, 0
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        payload = raw_idat(f)
        if i == 0:
            out += _png_chunk(b"IDAT", payload)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + payload)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


# --- Y4M / YUV4MPEG2 (round 9) ---------------------------------------------
#
# The uncompressed interchange format video pipelines move frames in
# (ffmpeg's rawvideo twin): one ASCII header line, then FRAME-delimited
# planar YCbCr. Everything is structure — no entropy coding at all —
# so decode is real for any conformant stream. Color conversion uses
# BT.601 STUDIO-SWING (the format's mpeg lineage): the matrix is
# DERIVED from Kr=0.299/Kb=0.114 and the 219/224 excursions rather
# than transcribed decimals. Chroma upsampling is nearest-neighbor
# (documented; a videophile deployment would swap bilinear in).


def is_y4m(data: bytes) -> bool:
    return bytes(data[:10]) == b"YUV4MPEG2 " or bytes(data[:10]) == b"YUV4MPEG2\n"


_Y4M_SUBSAMPLING = {
    "420": (2, 2), "420jpeg": (2, 2), "420mpeg2": (2, 2), "420paldv": (2, 2),
    "422": (2, 1), "444": (1, 1), "mono": None,
}


def _y4m_header(data: bytes) -> tuple[dict, int]:
    nl = data.find(b"\n", 0, 512)
    if nl < 0:
        raise ValueError("Y4M header line missing/oversized")
    toks = data[:nl].split(b" ")
    if toks[0] != b"YUV4MPEG2":
        raise ValueError("not a Y4M stream")
    params = {"C": "420jpeg", "F": (25, 1)}  # the format's defaults
    for t in toks[1:]:
        if not t:
            continue
        key, val = chr(t[0]), t[1:].decode("ascii", "replace")
        if key in ("W", "H"):
            params[key] = int(val)
        elif key == "F":
            num, den = val.split(":")
            params["F"] = (int(num), int(den))
        elif key == "C":
            params["C"] = val
        # I (interlacing), A (aspect), X (comments): metadata only
    if "W" not in params or "H" not in params:
        raise ValueError("Y4M header missing W/H")
    w, h = params["W"], params["H"]
    if w <= 0 or h <= 0:
        raise ValueError(f"bad Y4M dimensions {w}x{h}")
    _check_pixels(w, h, "Y4M")
    if params["C"] not in _Y4M_SUBSAMPLING:
        raise NotImplementedError(f"Y4M colorspace C{params['C']}")
    sub = _Y4M_SUBSAMPLING[params["C"]]
    if sub is not None and (w % sub[0] or h % sub[1]):
        raise ValueError(f"Y4M {w}x{h} not divisible by C{params['C']} subsampling")
    return params, nl + 1


def _y4m_frame_size(params: dict) -> int:
    w, h = params["W"], params["H"]
    sub = _Y4M_SUBSAMPLING[params["C"]]
    if sub is None:
        return w * h
    return w * h + 2 * (w // sub[0]) * (h // sub[1])


def yuv601_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """BT.601 studio-swing YCbCr planes (full-resolution, float or
    uint8) → (H, W, 3) uint8 RGB. Matrix derived from Kr/Kb."""
    kr, kb = 0.299, 0.114
    yf = (y.astype(np.float64) - 16.0) * (255.0 / 219.0)
    pb = (cb.astype(np.float64) - 128.0) * (255.0 / 224.0)
    pr = (cr.astype(np.float64) - 128.0) * (255.0 / 224.0)
    r = yf + 2.0 * (1.0 - kr) * pr
    b = yf + 2.0 * (1.0 - kb) * pb
    g = (yf - kr * r - kb * b) / (1.0 - kr - kb)
    return np.clip(np.round(np.dstack([r, g, b])), 0, 255).astype(np.uint8)


def rgb_to_yuv601(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(H, W, 3) uint8 RGB → full-resolution studio-swing BT.601
    planes as float64 (quantize at the call site)."""
    kr, kb = 0.299, 0.114
    px = img.astype(np.float64)
    yf = kr * px[:, :, 0] + (1 - kr - kb) * px[:, :, 1] + kb * px[:, :, 2]
    pb = (px[:, :, 2] - yf) / (2.0 * (1.0 - kb))
    pr = (px[:, :, 0] - yf) / (2.0 * (1.0 - kr))
    y = yf * (219.0 / 255.0) + 16.0
    cb = pb * (224.0 / 255.0) + 128.0
    cr = pr * (224.0 / 255.0) + 128.0
    return y, cb, cr


def y4m_info(data: bytes) -> dict:
    """Header + frame-count walk (seeks over frame payloads — no pixel
    work): width, height, fps, n_frames, colorspace, duration_ms."""
    data = bytes(data)
    params, pos = _y4m_header(data)
    fsize = _y4m_frame_size(params)
    n_frames = 0
    n = len(data)
    while pos < n:
        nl = data.find(b"\n", pos, pos + 256)
        if nl < 0 or data[pos : pos + 5] != b"FRAME":
            raise ValueError("Y4M FRAME marker missing")
        pos = nl + 1 + fsize
        if pos > n:
            raise ValueError("truncated Y4M frame payload")
        n_frames += 1
    num, den = params["F"]
    fps = num / den if den else 0.0
    return {
        "width": params["W"],
        "height": params["H"],
        "fps": fps,
        "n_frames": n_frames,
        "colorspace": "C" + params["C"],
        "duration_ms": 1000.0 * n_frames / fps if fps else None,
    }


def decode_y4m_frames(data: bytes, frame_indices=None) -> list[np.ndarray]:
    """(H, W, 3) uint8 RGB frames; ``frame_indices`` decodes only the
    sampled ordinals (unsampled frames are SEEKED over, not read —
    the decode_avi_mjpeg pay-for-what-you-keep contract) and stops
    after the last sampled one."""
    data = bytes(data)
    params, pos = _y4m_header(data)
    w, h = params["W"], params["H"]
    sub = _Y4M_SUBSAMPLING[params["C"]]
    fsize = _y4m_frame_size(params)
    last = max(frame_indices) if frame_indices else None
    out: list[np.ndarray] = []
    idx = 0
    n = len(data)
    while pos < n:
        nl = data.find(b"\n", pos, pos + 256)
        if nl < 0 or data[pos : pos + 5] != b"FRAME":
            raise ValueError("Y4M FRAME marker missing")
        body = nl + 1
        if body + fsize > n:
            raise ValueError("truncated Y4M frame payload")
        if frame_indices is None or idx in frame_indices:
            y = np.frombuffer(data, np.uint8, w * h, body).reshape(h, w)
            if sub is None:
                rgb = yuv601_to_rgb(y, np.full((h, w), 128.0), np.full((h, w), 128.0))
            else:
                cw, ch = w // sub[0], h // sub[1]
                cb = np.frombuffer(
                    data, np.uint8, cw * ch, body + w * h
                ).reshape(ch, cw)
                cr = np.frombuffer(
                    data, np.uint8, cw * ch, body + w * h + cw * ch
                ).reshape(ch, cw)
                cb = np.repeat(np.repeat(cb, sub[1], 0), sub[0], 1)
                cr = np.repeat(np.repeat(cr, sub[1], 0), sub[0], 1)
                rgb = yuv601_to_rgb(y, cb, cr)
            out.append(rgb)
        pos = body + fsize
        idx += 1
        if last is not None and idx > last:
            break
    if not out:
        raise ValueError("no sampled Y4M frames")
    return out


def encode_y4m(
    frames: list[np.ndarray],
    rate: tuple[int, int] = (25, 1),
    colorspace: str = "C444",
) -> bytes:
    """Fixture twin: RGB frames → a conformant YUV4MPEG2 stream
    (C444, C420jpeg via 2x2 chroma mean, or Cmono from the Y plane)."""
    if not frames:
        raise ValueError("Y4M needs at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    cs = colorspace.lstrip("C")
    if cs not in ("444", "420jpeg", "mono"):
        raise ValueError(f"encode_y4m supports C444/C420jpeg/Cmono, not {colorspace}")
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{rate[0]}:{rate[1]} Ip A1:1 C{cs}\n".encode()
    )
    for f in frames:
        f = np.asarray(f, dtype=np.uint8)
        if f.ndim == 2:
            f = f[:, :, None]
        if f.shape[:2] != (h, w):
            raise ValueError("Y4M frames must share dimensions")
        rgb = f if f.shape[2] == 3 else np.repeat(f[:, :, :1], 3, axis=2)
        y, cb, cr = rgb_to_yuv601(rgb)
        qy = np.clip(np.round(y), 0, 255).astype(np.uint8)
        out += b"FRAME\n"
        out += qy.tobytes()
        if cs == "mono":
            continue
        if cs == "420jpeg":
            if h % 2 or w % 2:
                raise ValueError("C420 needs even dimensions")
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        out += np.clip(np.round(cb), 0, 255).astype(np.uint8).tobytes()
        out += np.clip(np.round(cr), 0, 255).astype(np.uint8).tobytes()
    return bytes(out)


# --- WebP (round 9: container truth; pixel decode refuses) ----------------
#
# The header walk is REAL-STREAM TRUE: every field read here (RIFF
# chunk framing, the VP8L 5-byte header's 14-bit dimensions and alpha
# hint, the VP8 keyframe start code 9D 01 2A and its 14-bit dimensions,
# the VP8X 24-bit canvas fields) is pure structure from the public
# container/bitstream specs, and alpha/animation are derived from the
# PRESENCE of ALPH/ANIM/ANMF chunks (or the VP8L alpha bit) rather than
# from the VP8X flag byte, so no memorized flag constant can silently
# lie. Pixel decode refuses honestly: lossy VP8 needs the boolean
# coder's default probability tables and VP8L's LZ77 needs the 120-
# entry near-distance map — both are published tables this module does
# not transcribe from memory (the Opus-CELT discipline); the PIL seam
# upgrades the refusal to a real decode when the library is present.


def is_webp(data: bytes) -> bool:
    return data[:4] == b"RIFF" and data[8:12] == b"WEBP" and len(data) >= 20


def _webp_chunks(data: bytes):
    pos = 12
    n = len(data)
    for _ in range(512):  # bounded walk
        if pos + 8 > n:
            return
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("WebP chunk overruns the file")
        yield fourcc, body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    raise ValueError("WebP chunk walk exceeded the bound")


def webp_info(data: bytes) -> dict:
    """Container metadata without pixel decode: format ('lossy' /
    'lossless'), width, height, has_alpha, animated, n_frames (ANMF
    count for animations, else 1)."""
    data = bytes(data)
    if not is_webp(data):
        raise ValueError("not a WebP: bad RIFF magic")
    fmt = None
    width = height = None
    has_alpha = False
    n_frames = 0
    canvas = None
    for fourcc, body in _webp_chunks(data):
        if fourcc == b"VP8X" and len(body) >= 10:
            canvas = (
                1 + int.from_bytes(body[4:7], "little"),
                1 + int.from_bytes(body[7:10], "little"),
            )
        elif fourcc == b"VP8L" and fmt is None:
            if len(body) < 5 or body[0] != 0x2F:
                raise ValueError("bad VP8L signature")
            bits = int.from_bytes(body[1:5], "little")
            width = (bits & 0x3FFF) + 1
            height = ((bits >> 14) & 0x3FFF) + 1
            has_alpha = has_alpha or bool((bits >> 28) & 1)
            if (bits >> 29) & 7:
                raise ValueError("unknown VP8L version")
            fmt = "lossless"
        elif fourcc == b"VP8 " and fmt is None:
            if len(body) < 10:
                raise ValueError("truncated VP8 frame header")
            tag = int.from_bytes(body[0:3], "little")
            if tag & 1:
                raise ValueError("WebP still image whose VP8 frame is not a keyframe")
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe start code")
            width = int.from_bytes(body[6:8], "little") & 0x3FFF
            height = int.from_bytes(body[8:10], "little") & 0x3FFF
            fmt = "lossy"
        elif fourcc == b"ALPH":
            has_alpha = True
        elif fourcc == b"ANMF":
            n_frames += 1
            # format of an animation = its subframes' (round 10): the
            # first image sub-chunk after the 16-byte frame header
            if fmt is None and len(body) >= 20:
                sub = body[16:20]
                if sub == b"VP8L":
                    fmt = "lossless"
                    has_alpha = has_alpha or bool(
                        len(body) >= 29 and (body[28] >> 4) & 1
                    )
                elif sub in (b"VP8 ", b"ALPH"):
                    fmt = "lossy"
                    has_alpha = has_alpha or sub == b"ALPH"
    if fmt is None and n_frames == 0:
        raise ValueError("WebP without an image chunk")
    if canvas is not None:
        width, height = canvas
    return {
        "format": fmt or "lossy",
        "width": width,
        "height": height,
        "has_alpha": has_alpha,
        "animated": n_frames > 0,
        "n_frames": n_frames or 1,
    }


def decode_webp(data: bytes) -> np.ndarray:
    """Lossless (VP8L) stills decode for real since round 10 —
    functions/vp8l.py, the full public-spec walk (prefix codes, meta
    codes, LZ77 + color cache, all four inverse transforms). Lossy
    VP8 and animated WebP keep the honest refusal (the boolean-coder
    probability tables are a far larger transcription); the PIL seam
    in decode_image still upgrades those."""
    data = bytes(data)
    info = webp_info(data)
    if info["format"] == "lossless":
        if info["animated"]:
            # still-image consumers get the first composed frame (the
            # GIF convention); the video tier walks all of them
            return decode_webp_frames(data, frame_indices={0})[0]
        from pg2kinesis_spark.functions import vp8l

        for fourcc, body in _webp_chunks(data):
            if fourcc == b"VP8L":
                return vp8l.decode_vp8l(body)
        raise ValueError("lossless WebP without a VP8L chunk")
    raise NotImplementedError(
        f"WebP pixel decode ({info['format']}"
        f"{', animated' if info['animated'] else ''}, {info['width']}x"
        f"{info['height']}) needs the VP8 boolean-coder probability "
        "tables — not transcribed (VP8L lossless DOES decode, still "
        "and animated); install PIL for the decode_image fast path"
    )


def encode_webp_skeleton(
    width: int,
    height: int,
    lossless: bool = True,
    alpha: bool = False,
    n_anim_frames: int = 0,
) -> bytes:
    """Header-only fixture: a structurally valid WebP whose image data
    is empty — enough for webp_info/sniff tests, never decodable."""
    chunks = []
    if lossless:
        bits = (width - 1) | ((height - 1) << 14) | (int(alpha) << 28)
        chunks.append((b"VP8L", bytes([0x2F]) + bits.to_bytes(4, "little")))
    else:
        tag = (0 | (3 << 1) | (1 << 4)).to_bytes(3, "little")
        dims = struct.pack("<HH", width, height)
        chunks.append((b"VP8 ", tag + b"\x9d\x01\x2a" + dims + b"\x00" * 6))
        if alpha:
            chunks.insert(0, (b"ALPH", b"\x00"))
    for i in range(n_anim_frames):
        chunks.append((b"ANMF", b"\x00" * 16))
    body = b"WEBP"
    for fourcc, payload in chunks:
        body += fourcc + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --- animated WebP (round 10: rides the VP8L decoder) ----------------------
#
# ANMF demux per the public container spec: 16-byte frame header
# (24-bit x/2, y/2, width-1, height-1, 24-bit duration ms, 1 flag byte
# with disposal bit 0 / blending bit 1), frame payload = the usual
# image chunks (VP8L here; lossy VP8 subframes refuse like stills).
# Composition mirrors the APNG walk: blend 0 alpha-composites over the
# canvas, blend 1 replaces the region; disposal 1 clears the region to
# the ANIM background color after the frame is emitted. Canvases are
# COPIED only for sampled ordinals (the pay-for-what-you-keep rule).


def _webp_anim_walk(data: bytes):
    """(canvas_w, canvas_h, bg_rgba, loop_count, frames) where each
    frame is (x, y, w, h, duration_ms, dispose, blend, payload)."""
    info = webp_info(data)  # validates structure + gives the canvas
    if not info["animated"]:
        raise ValueError("WebP without ANMF frames")
    cw, ch = info["width"], info["height"]
    _check_pixels(cw, ch, "WebP")
    bg = (0, 0, 0, 0)
    loop = 0
    frames = []
    for fourcc, body in _webp_chunks(bytes(data)):
        if fourcc == b"ANIM" and len(body) >= 6:
            # background color bytes are B, G, R, A; loop count u16 LE
            bg = (body[2], body[1], body[0], body[3])
            loop = struct.unpack_from("<H", body, 4)[0]
        elif fourcc == b"ANMF":
            if len(body) < 16:
                raise ValueError("truncated ANMF header")
            fx = 2 * int.from_bytes(body[0:3], "little")
            fy = 2 * int.from_bytes(body[3:6], "little")
            fw = 1 + int.from_bytes(body[6:9], "little")
            fh = 1 + int.from_bytes(body[9:12], "little")
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            if fx + fw > cw or fy + fh > ch:
                raise ValueError("ANMF frame region outside the canvas")
            frames.append(
                (fx, fy, fw, fh, dur, flags & 1, (flags >> 1) & 1, body[16:])
            )
    if not frames:
        raise ValueError("animated WebP with no ANMF frames")
    return cw, ch, bg, loop, frames


def _webp_frame_pixels(payload: bytes, fw: int, fh: int) -> np.ndarray:
    """Decode one ANMF payload's image chunks -> (fh, fw, 4) RGBA."""
    from pg2kinesis_spark.functions import vp8l

    pos = 0
    n = len(payload)
    while pos + 8 <= n:
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("ANMF image chunk overruns the frame")
        if fourcc == b"VP8L":
            img = vp8l.decode_vp8l(body)
            if img.shape[:2] != (fh, fw):
                raise ValueError("ANMF frame dims disagree with VP8L header")
            if img.shape[2] == 3:
                img = np.concatenate(
                    [img, np.full((fh, fw, 1), 255, dtype=np.uint8)], axis=2
                )
            return img
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "animated WebP with lossy VP8 subframes (bool-coder "
                "tables not transcribed; the PIL seam covers stills)"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("ANMF frame without an image chunk")


def decode_webp_frames(
    data: bytes, frame_indices: "set[int] | None" = None
) -> list[np.ndarray]:
    """Full-canvas RGBA frames of an animated (lossless) WebP; a still
    lossless WebP yields one frame (the GIF convention, so the video
    tier's dispatch covers both)."""
    data = bytes(data)
    info = webp_info(data)
    if not info["animated"]:
        img = decode_webp(data)
        if img.shape[2] == 3:
            img = np.concatenate(
                [img, np.full(img.shape[:2] + (1,), 255, dtype=np.uint8)],
                axis=2,
            )
        return [img]
    cw, ch, bg, _loop, frames = _webp_anim_walk(data)
    last = max(frame_indices) if frame_indices else None
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    out: list[np.ndarray] = []
    for idx, (fx, fy, fw, fh, _dur, dispose, no_blend, payload) in enumerate(
        frames
    ):
        img = _webp_frame_pixels(payload, fw, fh)
        region = canvas[fy : fy + fh, fx : fx + fw]
        if no_blend:
            region[:] = img
        else:
            # alpha compositing (over), straight alpha per the spec
            fa = img[:, :, 3:4].astype(np.float64) / 255.0
            ba = region[:, :, 3:4].astype(np.float64) / 255.0
            oa = fa + ba * (1.0 - fa)
            safe = np.where(oa == 0.0, 1.0, oa)
            rgb = (
                img[:, :, :3] * fa + region[:, :, :3] * ba * (1.0 - fa)
            ) / safe
            region[:, :, :3] = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
            region[:, :, 3] = np.clip(np.round(oa[:, :, 0] * 255.0), 0, 255
                                      ).astype(np.uint8)
        if frame_indices is None or idx in frame_indices:
            out.append(canvas.copy())
        if last is not None and idx >= last:
            break
        if dispose:
            canvas[fy : fy + fh, fx : fx + fw] = np.array(bg, dtype=np.uint8)
    return out


def webp_anim_info(data: bytes) -> dict:
    """Header walk: n_frames, n_plays, width, height, fps (from the
    per-frame durations; a 0 ms duration counts per the common 100 ms
    renderer fallback), duration_ms."""
    cw, ch, _bg, loop, frames = _webp_anim_walk(bytes(data))
    total_ms = float(sum((f[4] or 100) for f in frames))
    return {
        "width": cw,
        "height": ch,
        "n_frames": len(frames),
        "n_plays": loop,
        "fps": len(frames) / (total_ms / 1000.0) if total_ms else None,
        "duration_ms": total_ms or None,
    }


def encode_webp_anim(
    frames,
    durations_ms=None,
    offsets=None,
    dispose=0,
    blend=1,
    canvas=None,
    loop: int = 0,
    bg=(0, 0, 0, 0),
    **vp8l_kw,
) -> bytes:
    """Animated lossless WebP fixture: RGBA/RGB frames as ANMF+VP8L
    chunks. ``blend=1`` (no-blend/replace) is the default so RGB
    inputs compose exactly; pass per-frame lists for durations/
    offsets, or scalars. The independent construction side of
    decode_webp_frames."""
    from pg2kinesis_spark.functions import vp8l

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    n = len(frames)
    if durations_ms is None:
        durations_ms = [100] * n
    if offsets is None:
        offsets = [(0, 0)] * n
    if canvas is None:
        canvas = (
            max(o[0] + f.shape[1] for o, f in zip(offsets, frames)),
            max(o[1] + f.shape[0] for o, f in zip(offsets, frames)),
        )
    cw, chh = canvas
    disp = [dispose] * n if isinstance(dispose, int) else list(dispose)
    blnd = [blend] * n if isinstance(blend, int) else list(blend)
    body = b"WEBP"
    vp8x = bytes([0x02 | 0x10]) + bytes(3)  # ANIM + ALPH hint flags
    vp8x += (cw - 1).to_bytes(3, "little") + (chh - 1).to_bytes(3, "little")
    body += b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    anim = bytes([bg[2], bg[1], bg[0], bg[3]]) + struct.pack("<H", loop)
    body += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for f, dur, (ox, oy), dp, bl in zip(frames, durations_ms, offsets, disp, blnd):
        if ox % 2 or oy % 2:
            raise ValueError("ANMF offsets must be even (stored /2)")
        payload = vp8l.encode_vp8l(f, **vp8l_kw)
        sub = b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            sub += b"\x00"
        hdr = (
            (ox // 2).to_bytes(3, "little")
            + (oy // 2).to_bytes(3, "little")
            + (f.shape[1] - 1).to_bytes(3, "little")
            + (f.shape[0] - 1).to_bytes(3, "little")
            + int(dur).to_bytes(3, "little")
            + bytes([(dp & 1) | ((bl & 1) << 1)])
        )
        anmf = hdr + sub
        body += b"ANMF" + struct.pack("<I", len(anmf)) + anmf
        if len(anmf) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def video_info(data: bytes) -> dict:
    """Container-level video metadata WITHOUT pixel decode — the cheap
    metadata path (header walk only; no LZW/huffman work): dict with
    n_frames, width, height, fps, duration_ms. Supports MJPEG AVI
    (avih header) and animated GIF (block walk + GCE delays)."""
    data = bytes(data)
    if is_avi(data):
        pos = 12
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            if cid == b"LIST" and data[pos + 8 : pos + 12] == b"hdrl":
                inner = pos + 12
                end = pos + 8 + clen
                while inner + 8 <= end:
                    icid = data[inner : inner + 4]
                    (ilen,) = struct.unpack("<I", data[inner + 4 : inner + 8])
                    if icid == b"avih":
                        usec, _mb, _pg, _fl, nf = struct.unpack(
                            "<5I", data[inner + 8 : inner + 28]
                        )
                        w, h = struct.unpack("<II", data[inner + 40 : inner + 48])
                        fps = 1_000_000.0 / usec if usec else 0.0
                        return {
                            "n_frames": nf,
                            "width": w,
                            "height": h,
                            "fps": fps,
                            "duration_ms": 1000.0 * nf / fps if fps else 0.0,
                        }
                    inner += 8 + ilen + (ilen & 1)
            pos += 8 + clen + (clen & 1)
        raise ValueError("AVI missing avih header")
    if is_gif(data):
        sw, sh = struct.unpack("<HH", data[6:10])
        flags = data[10]
        pos = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)
        n_frames, total_cs, pending_cs = 0, 0, 0
        try:
            while pos < len(data):
                block = data[pos]
                pos += 1
                if block == 0x21:
                    label = data[pos]
                    pos += 1
                    if label == 0xF9:
                        pending_cs = struct.unpack("<H", data[pos + 2 : pos + 4])[0]
                    while data[pos]:
                        pos += 1 + data[pos]
                    pos += 1
                elif block == 0x2C:
                    iflags = data[pos + 8]
                    pos += 9
                    if iflags & 0x80:
                        pos += 3 * (2 << (iflags & 7))
                    pos += 1  # LZW min code size
                    while data[pos]:  # skip data sub-blocks, no decode
                        pos += 1 + data[pos]
                    pos += 1
                    n_frames += 1
                    total_cs += pending_cs
                    pending_cs = 0
                elif block == 0x3B:
                    break
                else:
                    raise ValueError(f"bad GIF block 0x{block:02x}")
        except IndexError as e:
            raise ValueError(f"truncated GIF: {e}") from e
        if not n_frames:
            raise ValueError("GIF contains no image")
        fps = n_frames / (total_cs / 100.0) if total_cs else 0.0
        return {
            "n_frames": n_frames,
            "width": sw,
            "height": sh,
            "fps": fps,
            "duration_ms": total_cs * 10.0,
        }
    if is_mp4(data):
        info = mp4_info(data)
        return {
            "n_frames": info["n_frames"],
            "width": info["width"],
            "height": info["height"],
            "fps": info["fps"],
            "duration_ms": info["duration_ms"],
            "video_codec": info["video_codec"],
            "audio_codec": info["audio_codec"],
        }
    if is_webm(data):
        info = webm_info(data)
        # n_frames/fps from the bounded Cluster/SimpleBlock walk; still
        # honestly NULL for metadata-only skeletons (no Clusters) or
        # when the block count exceeds the walk bound
        return {
            "n_frames": info["n_frames"],
            "width": info["width"],
            "height": info["height"],
            "fps": info["fps"],
            "duration_ms": info["duration_ms"],
            "video_codec": info["video_codec"],
            "audio_codec": info["audio_codec"],
        }
    if is_y4m(data):
        info = y4m_info(data)
        return {
            "n_frames": info["n_frames"],
            "width": info["width"],
            "height": info["height"],
            "fps": info["fps"],
            "duration_ms": info["duration_ms"],
        }
    if is_apng(data):
        info = apng_info(data)
        return {
            "n_frames": info["n_frames"],
            "width": info["width"],
            "height": info["height"],
            "fps": info["fps"],
            "duration_ms": info["duration_ms"],
        }
    if is_webp(data) and webp_info(data)["animated"]:
        info = webp_anim_info(data)
        return {
            "n_frames": info["n_frames"],
            "width": info["width"],
            "height": info["height"],
            "fps": info["fps"],
            "duration_ms": info["duration_ms"],
        }
    raise ValueError(
        "not a supported video container (MJPEG AVI / GIF / MP4 / WebM / "
        "Y4M / APNG / animated WebP)"
    )


# --------------------------------------------------------------------------
# MP4 / ISO BMFF (ISO/IEC 14496-12) metadata walk — the container most
# real video corpora ship (H.264/AAC in MP4/MOV/M4A). Box-structure walk
# only: no bitstream decode (H.264/AAC stay honestly unsupported in the
# pixel/sample kernels), same tier as mp3_info's frame-header walk.
# --------------------------------------------------------------------------

_MP4_CONTAINERS = frozenset((b"moov", b"trak", b"mdia", b"minf", b"stbl"))
_MP4_MAX_BOXES = 10_000  # hostile-input bound: a stomped size field
_MP4_MAX_DEPTH = 16      # cannot make the walk loop or recurse forever


def is_mp4(data: bytes) -> bool:
    return len(data) >= 12 and bytes(data[4:8]) == b"ftyp"


def _mp4_walk(data: bytes, pos: int, end: int, depth: int, budget: list) -> list:
    """Yield (fourcc, body_start, body_end) for each box in [pos, end),
    recursing into container boxes. Sizes are validated against the
    enclosing range; size==1 reads the 64-bit largesize; size==0 means
    to-end-of-enclosure (top level only, per spec usage)."""
    out = []
    if depth > _MP4_MAX_DEPTH:
        raise ValueError("MP4 box nesting exceeds bound")
    while pos + 8 <= end:
        budget[0] -= 1
        if budget[0] < 0:
            raise ValueError(f"MP4 exceeds {_MP4_MAX_BOXES} boxes")
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"MP4 box {fourcc!r} size {size} escapes enclosure")
        out.append((bytes(fourcc), body, pos + size))
        if fourcc in _MP4_CONTAINERS:
            out += _mp4_walk(data, body, pos + size, depth + 1, budget)
        pos += size
    return out


@_truncation_as_valueerror("MP4")
def mp4_info(data: bytes) -> dict:
    """ISO BMFF metadata: brand, movie duration, per-track kind/codec,
    and for the FIRST video track its dimensions (tkhd 16.16 fixed),
    frame count (stsz/stz2 sample_count) and fps (mdhd timescale).
    Handles version-0 and version-1 full boxes and 64-bit largesize.
    Raises ValueError on truncated/hostile structure (bounded walk)."""
    data = bytes(data)
    if not is_mp4(data):
        raise ValueError("not an MP4: no ftyp box")
    budget = [_MP4_MAX_BOXES]
    boxes = _mp4_walk(data, 0, len(data), 0, budget)
    brand = ""
    duration_ms = 0.0
    width = height = 0
    n_frames = 0
    fps = 0.0
    video_codec = audio_codec = None
    audio_rate = audio_channels = 0
    n_video = n_audio = 0
    saw_moov = False
    # group leaf boxes by their enclosing trak: replay the walk tracking
    # the current trak extent (boxes arrive depth-first in file order)
    trak_end = -1
    trak: dict = {}
    traks: list[dict] = []

    def flush():
        if trak:
            traks.append(dict(trak))
            trak.clear()

    for fourcc, body, bend in boxes:
        if fourcc == b"ftyp":
            brand = data[body : body + 4].decode("latin-1").strip()
        elif fourcc == b"moov":
            saw_moov = True
        elif fourcc == b"mvhd":
            v = data[body]
            if v == 1:
                ts, = struct.unpack(">I", data[body + 20 : body + 24])
                dur, = struct.unpack(">Q", data[body + 24 : body + 32])
            else:
                ts, dur = struct.unpack(">II", data[body + 12 : body + 20])
            duration_ms = 1000.0 * dur / ts if ts else 0.0
        elif fourcc == b"trak":
            flush()
            trak_end = bend
        elif body <= trak_end:
            if fourcc == b"tkhd":
                v = data[body]
                # verflags(4) + creation/mod (16 or 8) + track_id(4) +
                # reserved(4) -> off points at duration
                off = body + (4 + 24 if v == 1 else 4 + 16)
                # ...duration, 8 reserved, layer/alt/volume/reserved (8),
                # matrix (36), width, height — offsets from after times
                woff = off + (8 if v == 1 else 4) + 8 + 8 + 36
                w_fx, h_fx = struct.unpack(">II", data[woff : woff + 8])
                trak["width"], trak["height"] = w_fx >> 16, h_fx >> 16
            elif fourcc == b"mdhd":
                v = data[body]
                if v == 1:
                    ts, = struct.unpack(">I", data[body + 20 : body + 24])
                    dur, = struct.unpack(">Q", data[body + 24 : body + 32])
                else:
                    ts, dur = struct.unpack(">II", data[body + 12 : body + 20])
                trak["mdhd_ts"], trak["mdhd_dur"] = ts, dur
            elif fourcc == b"hdlr":
                trak["handler"] = bytes(data[body + 8 : body + 12])
            elif fourcc == b"stsd":
                (n_entries,) = struct.unpack(">I", data[body + 4 : body + 8])
                if n_entries and body + 16 <= bend:
                    trak["codec"] = (
                        data[body + 12 : body + 16].decode("latin-1").strip()
                    )
                    # audio sample-entry fields (ISO 14496-12 §12.2.3):
                    # channelcount u16 at entry+16, samplerate 16.16 at
                    # entry+24 — only meaningful for soun tracks, gated
                    # at aggregation below
                    ebody = body + 16
                    if ebody + 28 <= bend:
                        (trak["a_channels"],) = struct.unpack(
                            ">H", data[ebody + 16 : ebody + 18]
                        )
                        (a_rate_fx,) = struct.unpack(
                            ">I", data[ebody + 24 : ebody + 28]
                        )
                        trak["a_rate"] = a_rate_fx >> 16
            elif fourcc in (b"stsz", b"stz2"):
                cnt_off = body + (8 if fourcc == b"stsz" else 8)
                (cnt,) = struct.unpack(">I", data[cnt_off : cnt_off + 4])
                trak["n_samples"] = cnt
    flush()
    if not saw_moov:
        raise ValueError("MP4 missing moov box")
    for t in traks:
        kind = t.get("handler", b"")
        if kind == b"vide":
            n_video += 1
            if n_video == 1:
                width, height = t.get("width", 0), t.get("height", 0)
                n_frames = t.get("n_samples", 0)
                video_codec = t.get("codec")
                ts, dur = t.get("mdhd_ts", 0), t.get("mdhd_dur", 0)
                if ts and dur:
                    fps = n_frames / (dur / ts)
        elif kind == b"soun":
            n_audio += 1
            if n_audio == 1:
                audio_codec = t.get("codec")
                # rate preference: the sample entry's 16.16 field, else
                # the audio track's mdhd timescale (equal by convention)
                audio_rate = t.get("a_rate") or t.get("mdhd_ts", 0)
                audio_channels = t.get("a_channels", 0)
    return {
        "container": "mp4",
        "brand": brand,
        "duration_ms": duration_ms,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "fps": fps,
        "video_codec": video_codec,
        "audio_codec": audio_codec,
        "audio_rate": audio_rate,
        "audio_channels": audio_channels,
        "n_video_tracks": n_video,
        "n_audio_tracks": n_audio,
    }


def _mp4_box(fourcc: bytes, payload: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + fourcc + struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


_MP4_TAG_KEYS = {
    # iTunes-style ilst items (© = 0xA9) -> canonical keys
    b"\xa9nam": "title", b"\xa9ART": "artist", b"\xa9alb": "album",
    b"\xa9day": "date", b"\xa9gen": "genre", b"\xa9wrt": "composer",
    b"\xa9too": "encoder", b"\xa9cmt": "comment", b"aART": "album_artist",
    b"cprt": "copyright", b"trkn": "track", b"disk": "disc",
}


def mp4_tags(data: bytes) -> dict[str, str]:
    """iTunes-style metadata from the moov.udta.meta.ilst box path
    (the tag system M4A/MP4 corpora carry): ©nam/©ART/©alb/... data
    atoms with well-known-type 1 (UTF-8) decode as text; trkn/disk
    (implicit type 0) render as 'n/total'. {} when the file carries no
    ilst; bounded by the shared MP4 box budget."""
    data = bytes(data)
    if not is_mp4(data):
        raise ValueError("not an MP4: no ftyp box")
    budget = [_MP4_MAX_BOXES]
    out: dict[str, str] = {}
    total_budget = _TAG_MAX_TOTAL
    for fourcc, body, bend in _mp4_walk(data, 0, len(data), 0, budget):
        if fourcc != b"udta":
            continue
        for f2, b2, e2 in _mp4_walk(data, body, bend, 1, budget):
            if f2 != b"meta":
                continue
            # meta is a FULL box: 4 bytes version/flags precede children
            for f3, b3, e3 in _mp4_walk(data, b2 + 4, e2, 2, budget):
                if f3 != b"ilst":
                    continue
                for f4, b4, e4 in _mp4_walk(data, b3, e3, 3, budget):
                    key = _MP4_TAG_KEYS.get(f4)
                    if key is None:
                        continue
                    for f5, b5, e5 in _mp4_walk(data, b4, e4, 4, budget):
                        if f5 != b"data" or e5 - b5 < 8:
                            continue
                        dtype = int.from_bytes(data[b5 : b5 + 4], "big") & 0xFFFFFF
                        payload = data[b5 + 8 : e5]
                        if len(payload) > _TAG_MAX_VALUE:
                            raise ValueError("MP4 ilst value exceeds the tag bound")
                        if key in ("track", "disc") and dtype == 0:
                            if len(payload) < 6:
                                continue
                            n, tot = struct.unpack(">HH", payload[2:6])
                            val = f"{n}/{tot}" if tot else str(n)
                        elif dtype == 1:
                            val = payload.decode("utf-8", errors="replace")
                        else:
                            continue  # binary/unknown well-known types
                        if val:
                            total_budget -= len(val)
                            if total_budget < 0:
                                raise ValueError(
                                    "MP4 ilst exceeds the total text bound"
                                )
                            out.setdefault(key, val)
                        break
    return out


def _parse_esds_aot(entry: bytes) -> tuple[int, int, int]:
    """(audioObjectType, freq_index, channel_config) from the esds box
    inside an mp4a sample entry (ISO 14496-1 descriptor framing: tag +
    7-bit-varint length; 0x03 ES → 0x04 DecoderConfig → 0x05
    DecSpecificInfo holding the AudioSpecificConfig bits)."""
    at = entry.find(b"esds")
    if at < 0:
        raise ValueError("mp4a sample entry without an esds box")
    p = at + 4 + 4  # skip fourcc + fullbox version/flags
    end = len(entry)

    def varlen(q: int) -> tuple[int, int]:
        n = 0
        for _ in range(4):
            if q >= end:
                raise ValueError("truncated esds descriptor length")
            b = entry[q]
            q += 1
            n = (n << 7) | (b & 0x7F)
            if not b & 0x80:
                break
        return n, q

    def expect(tag: int, q: int) -> tuple[int, int]:
        if q >= end or entry[q] != tag:
            raise ValueError(f"esds: expected descriptor 0x{tag:02x}")
        _n, q = varlen(q + 1)
        return _n, q

    _, p = expect(0x03, p)
    p += 3  # ES_ID(2) + streamDependence/URL/OCR flags(1)
    _, p = expect(0x04, p)
    if entry[p] != 0x40:
        raise NotImplementedError(
            f"objectTypeIndication 0x{entry[p]:02x} is not MPEG-4 audio"
        )
    p += 13  # OTI(1) + streamType/bufferSize(4) + maxBitrate(4) + avgBitrate(4)
    _, p = expect(0x05, p)
    if p + 2 > end:
        raise ValueError("truncated AudioSpecificConfig")
    asc = (entry[p] << 8) | entry[p + 1]
    aot = asc >> 11
    freq_idx = (asc >> 7) & 0xF
    chan = (asc >> 3) & 0xF
    return aot, freq_idx, chan


def m4a_aac_gains(data: bytes) -> "np.ndarray":
    """Per-sample energy proxies for AAC-in-MP4 (M4A) — the same
    first-element global_gain read as the ADTS walk, reached through
    the REAL sample tables instead of sync words: stsd's mp4a entry
    (esds AudioSpecificConfig must say AAC LC, AOT 2), stsz sample
    sizes, stsc sample-to-chunk runs, stco/co64 chunk offsets → one
    raw access unit per sample → ``_aac_first_element_gain``. Files
    with video tracks, non-mp4a audio, or non-LC AOT refuse
    (NotImplementedError) into the quarantine channel."""
    data = bytes(data)
    if not is_mp4(data):
        raise ValueError("not an MP4: no ftyp box")
    budget = [_MP4_MAX_BOXES]
    boxes = _mp4_walk(data, 0, len(data), 0, budget)
    trak_end = -1
    trak: dict = {}
    traks: list[dict] = []

    def flush():
        if trak:
            traks.append(dict(trak))
            trak.clear()

    for fourcc, body, bend in boxes:
        if fourcc == b"trak":
            flush()
            trak_end = bend
        elif body <= trak_end:
            if fourcc == b"hdlr":
                trak["handler"] = bytes(data[body + 8 : body + 12])
            elif fourcc == b"stsd":
                (n_entries,) = struct.unpack(">I", data[body + 4 : body + 8])
                if n_entries:
                    trak["codec"] = bytes(data[body + 12 : body + 16])
                    trak["entry"] = bytes(data[body + 8 : bend])
            elif fourcc == b"stsz":
                sz, cnt = struct.unpack(">II", data[body + 4 : body + 12])
                if sz:
                    trak["sizes"] = [sz] * cnt
                else:
                    if body + 12 + 4 * cnt > bend:
                        raise ValueError("stsz table overruns its box")
                    trak["sizes"] = list(
                        struct.unpack(f">{cnt}I", data[body + 12 : body + 12 + 4 * cnt])
                    )
            elif fourcc == b"stsc":
                (cnt,) = struct.unpack(">I", data[body + 4 : body + 8])
                if body + 8 + 12 * cnt > bend:
                    raise ValueError("stsc table overruns its box")
                trak["stsc"] = [
                    struct.unpack(">III", data[body + 8 + 12 * i : body + 20 + 12 * i])
                    for i in range(cnt)
                ]
            elif fourcc in (b"stco", b"co64"):
                (cnt,) = struct.unpack(">I", data[body + 4 : body + 8])
                w = 4 if fourcc == b"stco" else 8
                if body + 8 + w * cnt > bend:
                    raise ValueError("chunk-offset table overruns its box")
                fmt = ">%d%s" % (cnt, "I" if w == 4 else "Q")
                trak["chunks"] = list(
                    struct.unpack(fmt, data[body + 8 : body + 8 + w * cnt])
                )
    flush()
    if any(t.get("handler") == b"vide" for t in traks):
        raise NotImplementedError(
            "MP4 with video tracks stays on the video tier"
        )
    aud = next(
        (t for t in traks if t.get("handler") == b"soun"), None
    )
    if aud is None:
        raise ValueError("MP4 without an audio track")
    if aud.get("codec") != b"mp4a":
        raise NotImplementedError(
            f"M4A gain walk covers mp4a/AAC ({aud.get('codec')!r})"
        )
    aot, _fi, _ch = _parse_esds_aot(aud.get("entry", b""))
    if aot != 2:
        raise NotImplementedError(
            f"AudioSpecificConfig AOT {aot} (AAC LC tier is AOT 2)"
        )
    sizes = aud.get("sizes")
    chunks = aud.get("chunks")
    stsc = aud.get("stsc")
    if not sizes or not chunks or not stsc:
        raise ValueError("M4A missing stsz/stco/stsc sample tables")
    # expand sample-to-chunk runs into a per-chunk sample count; the
    # positional expansion assumes runs start at chunk 1 (ISO 14496-12
    # requires it) — a later first_chunk would silently misalign every
    # chunk's sample count and walk wrong byte offsets, so refuse
    if stsc[0][0] != 1:
        raise ValueError(f"stsc first run starts at chunk {stsc[0][0]}, not 1")
    per_chunk: list[int] = []
    for i, (first, spc, _desc) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(chunks)
        per_chunk.extend([spc] * (last - first + 1))
    gains: list[float] = []
    si = 0
    n = len(data)
    for ci, coff in enumerate(chunks):
        at = coff
        for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
            if si >= len(sizes):
                break
            sz = sizes[si]
            if at + sz > n:
                raise ValueError("sample extent overruns the file")
            gg = _aac_first_element_gain(data[at : at + sz])
            gains.append(2.0 ** ((gg - 100) / 4.0))
            at += sz
            si += 1
    if not gains:
        raise ValueError("M4A with zero audio samples")
    return np.asarray(gains, dtype=np.float64)


def encode_m4a_envelope(
    energies,
    rate: int = 44100,
    channels: int = 1,
    tags: dict[str, str] | None = None,
) -> bytes:
    """M4A fixture whose per-sample decoded envelope equals the
    quantized ``energies`` — real ftyp/moov/mdat structure with true
    sample tables (stsd mp4a + esds AAC-LC AudioSpecificConfig, stsz
    per-sample sizes, stsc one run, stco) over raw SCE/CPE access
    units; the independent fixture side of ``m4a_aac_gains``."""
    import math as _math

    env = list(energies)
    samples: list[bytes] = []
    for e in env:
        gg = min(max(int(round(100 + 4.0 * _math.log2(max(float(e), 1e-12)))), 0), 255)
        if channels == 1:  # SCE: [000][0000][gg]
            acc = gg
            nb = 15
        else:  # CPE, common_window=0: [001][0000][0][gg]
            acc = (1 << 13) | gg
            nb = 16
        acc <<= (8 - nb % 8) % 8
        samples.append(acc.to_bytes((nb + 7) // 8, "big") + b"\x00")

    ftyp = _mp4_box(b"ftyp", b"M4A " + struct.pack(">I", 0x200) + b"M4A mp42")
    mdat_payload = b"".join(samples)
    mdat = _mp4_box(b"mdat", mdat_payload)
    first_off = len(ftyp) + 8  # into mdat's payload

    def fullbox(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
        return _mp4_box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + payload)

    ts = rate
    dur = 1024 * len(samples)
    mvhd = fullbox(
        b"mvhd", 0, 0,
        struct.pack(">III", 0, 0, ts) + struct.pack(">I", dur)
        + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + bytes(10) + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                                  0x40000000) + bytes(24) + struct.pack(">I", 2),
    )
    tkhd = fullbox(
        b"tkhd", 0, 3,
        struct.pack(">III", 0, 0, 1) + bytes(4) + struct.pack(">I", dur)
        + bytes(8) + struct.pack(">HHHH", 0, 0, 0x0100, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 0, 0),
    )
    mdhd = fullbox(
        b"mdhd", 0, 0,
        struct.pack(">III", 0, 0, ts) + struct.pack(">I", dur)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = fullbox(b"hdlr", 0, 0, bytes(4) + b"soun" + bytes(12) + b"a\x00")
    # AudioSpecificConfig: AOT 2 (LC), freq index from rate, channels
    _ASC_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
                  16000, 12000, 11025, 8000, 7350]
    fi = _ASC_RATES.index(rate)
    asc = bytes([(2 << 3) | (fi >> 1), ((fi & 1) << 7) | (channels << 3)])
    dsi = bytes([0x05, len(asc)]) + asc
    dcd = bytes([0x04, 13 + len(dsi), 0x40, 0x15]) + bytes(11) + dsi
    esd = bytes([0x03, 3 + len(dcd)]) + struct.pack(">H", 1) + b"\x00" + dcd
    esds = fullbox(b"esds", 0, 0, esd)
    entry_body = (
        bytes(6) + struct.pack(">H", 1) + bytes(8)
        + struct.pack(">HH", channels, 16) + bytes(4)
        + struct.pack(">I", rate << 16) + esds
    )
    stsd = fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + _mp4_box(b"mp4a", entry_body))
    stsz = fullbox(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(samples))
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stsc = fullbox(b"stsc", 0, 0, struct.pack(">I", 1) + struct.pack(">III", 1, len(samples), 1))
    stco = fullbox(b"stco", 0, 0, struct.pack(">I", 1) + struct.pack(">I", first_off))
    stts = fullbox(b"stts", 0, 0, struct.pack(">I", 1) + struct.pack(">II", len(samples), 1024))
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    smhd = fullbox(b"smhd", 0, 0, bytes(4))
    dref = fullbox(b"dref", 0, 0, struct.pack(">I", 1) + fullbox(b"url ", 0, 1, b""))
    dinf = _mp4_box(b"dinf", dref)
    minf = _mp4_box(b"minf", smhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    udta = b""
    if tags:
        rev = {}
        for f, k in _MP4_TAG_KEYS.items():
            rev.setdefault(k, f)
        items = b""
        for k, v in tags.items():
            d = _mp4_box(b"data", struct.pack(">I", 1) + bytes(4) + v.encode("utf-8"))
            items += _mp4_box(rev[k], d)
        h2 = _mp4_box(b"hdlr", bytes(4) + bytes(4) + b"mdir" + bytes(9))
        meta = _mp4_box(b"meta", bytes(4) + h2 + _mp4_box(b"ilst", items))
        udta = _mp4_box(b"udta", meta)
    moov = _mp4_box(b"moov", mvhd + trak + udta)
    return ftyp + mdat + moov


def encode_mp4_skeleton(
    duration_s: float = 10.0,
    timescale: int = 600,
    width: int = 640,
    height: int = 360,
    fps: float = 25.0,
    video_codec: bytes | None = b"avc1",
    audio_codec: bytes | None = b"mp4a",
    version1: bool = False,
    largesize_mdat: bool = False,
    brand: bytes = b"isom",
    tags: dict[str, str] | None = None,
    cover: bytes | None = None,
) -> bytes:
    """Spec-packed ISO BMFF fixture writer: valid box structure with
    zeroed media data (this module walks boxes, not bitstreams — the
    independent side of mp4_info's contract, like encode_mp3_frames).
    ``tags`` (canonical keys) adds a moov.udta.meta.ilst block — the
    independent side of mp4_tags."""
    dur = int(round(duration_s * timescale))
    n_frames = int(round(duration_s * fps))

    def fullbox(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
        return _mp4_box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + payload)

    def times(v: int, *vals: int) -> bytes:
        return b"".join(struct.pack(">Q" if v else ">I", x) for x in vals)

    v = 1 if version1 else 0
    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = fullbox(
        b"mvhd", v, 0,
        times(v, 0, 0) + struct.pack(">I", timescale)
        + (struct.pack(">Q", dur) if v else struct.pack(">I", dur))
        + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + bytes(10) + matrix + bytes(24) + struct.pack(">I", 3),
    )

    def trak_box(kind: bytes, codec: bytes, track_id: int, media_ts: int,
                 media_dur: int, n_samples: int, w: int = 0, h: int = 0) -> bytes:
        tkhd = fullbox(
            b"tkhd", v, 3,
            times(v, 0, 0) + struct.pack(">I", track_id) + bytes(4)
            + (struct.pack(">Q", dur) if v else struct.pack(">I", dur))
            + bytes(8) + struct.pack(">HHHH", 0, 0, 0x0100 if kind == b"soun" else 0, 0)
            + matrix + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = fullbox(
            b"mdhd", v, 0,
            times(v, 0, 0) + struct.pack(">I", media_ts)
            + (struct.pack(">Q", media_dur) if v else struct.pack(">I", media_dur))
            + struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )
        hdlr = fullbox(b"hdlr", 0, 0, bytes(4) + kind + bytes(12) + b"x\x00")
        if kind == b"vide":
            entry_body = bytes(6) + struct.pack(">H", 1) + bytes(16) + struct.pack(
                ">HH", w, h
            ) + struct.pack(">II", 0x00480000, 0x00480000) + bytes(4) + struct.pack(
                ">H", 1
            ) + bytes(32) + struct.pack(">Hh", 24, -1)
        else:
            entry_body = bytes(6) + struct.pack(">H", 1) + bytes(8) + struct.pack(
                ">HH", 2, 16
            ) + bytes(4) + struct.pack(">I", 44100 << 16)
        stsd = fullbox(
            b"stsd", 0, 0, struct.pack(">I", 1) + _mp4_box(codec, entry_body)
        )
        stsz = fullbox(
            b"stsz", 0, 0, struct.pack(">II", 100, n_samples)
        )  # uniform sample size: no per-sample table
        stbl = _mp4_box(b"stbl", stsd + stsz)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        return _mp4_box(b"trak", tkhd + mdia)

    media_ts = max(1, int(round(fps * 1000)))
    video = (
        trak_box(
            b"vide", video_codec, 1, media_ts,
            int(round(duration_s * media_ts)), n_frames, width, height,
        )
        if video_codec is not None
        else b""  # audio-only layout (M4A)
    )
    audio = (
        trak_box(b"soun", audio_codec, 2, 44100,
                 int(round(duration_s * 44100)), max(1, int(duration_s * 43)))
        if audio_codec is not None
        else b""
    )
    ftyp = _mp4_box(b"ftyp", brand + struct.pack(">I", 0x200) + brand)
    udta = b""
    if cover is not None:
        tags = tags or {}
    if tags or cover is not None:
        rev = {}
        for f, k in _MP4_TAG_KEYS.items():
            rev.setdefault(k, f)
        items = b""
        for k, v in tags.items():
            f = rev[k]
            if k in ("track", "disc"):
                n_, _, tot = v.partition("/")
                payload = bytes(2) + struct.pack(
                    ">HH", int(n_), int(tot or 0)
                ) + bytes(2)
                d = _mp4_box(b"data", struct.pack(">I", 0) + bytes(4) + payload)
            else:
                d = _mp4_box(
                    b"data", struct.pack(">I", 1) + bytes(4) + v.encode("utf-8")
                )
            items += _mp4_box(f, d)
        if cover is not None:
            dt = 14 if is_png(cover) else 13
            items += _mp4_box(
                b"covr",
                _mp4_box(b"data", struct.pack(">I", dt) + bytes(4) + cover),
            )
        hdlr = _mp4_box(b"hdlr", bytes(4) + bytes(4) + b"mdir" + bytes(9))
        meta = _mp4_box(b"meta", bytes(4) + hdlr + _mp4_box(b"ilst", items))
        udta = _mp4_box(b"udta", meta)
    moov = _mp4_box(b"moov", mvhd + video + audio + udta)
    mdat = _mp4_box(b"mdat", bytes(32), largesize=largesize_mdat)
    return ftyp + moov + mdat
