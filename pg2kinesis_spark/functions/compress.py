"""Dependency-free LZ4 and Snappy — the data-engineering compressors.

Web-scale corpora arrive as ``.jsonl.lz4`` shards and Snappy-framed
dumps as often as gzip; the stdlib covers zlib/xz/bz2 and the archives
tier already seams zstd, but LZ4 and Snappy have no binding in this
container. Both formats are PURE STRUCTURE — token bytes, varints,
offsets, and checksums whose algorithms are fully specified in public
documents (the LZ4 block/frame specs, the Snappy format description,
xxHash, CRC-32C) with no probability or entropy tables to transcribe —
so unlike lossy codecs there is nothing here that can be "shaped like"
the format without being the format: a wrong constant fails a checksum
loudly instead of decoding garbage.

* **LZ4 block**: token high-nibble literal length / low-nibble match
  length (15 → 255-continuation bytes), 2-byte little-endian offsets,
  overlap-forward copy semantics.
* **LZ4 frame**: magic 04 22 4D 18, FLG/BD descriptor with the
  xxh32-derived header-checksum byte, independent/linked blocks, the
  0x80000000 uncompressed-block flag, optional block and content
  xxh32 checksums, EndMark, and 0x184D2A5x skippable frames. The
  legacy (0x184C2102) frame refuses.
* **Snappy raw**: uncompressed-length varint preamble, 2-bit tags
  (literal / 1-byte-offset copy with the 3-bit length field and
  offset high bits in the tag / 2-byte / 4-byte offset copies).
* **Snappy framing**: stream identifier chunk ff 06 00 00 "sNaPpY",
  compressed (00) / uncompressed (01) chunks guarded by the MASKED
  CRC-32C of the uncompressed data, padding (fe) and skippable
  (80..fd) chunks, reserved-unskippable (02..7f) refusal.
* **xxh32** (checksums) and **CRC-32C** (Castagnoli, table generated
  from the reflected polynomial 0x82F63B78 — nothing memorized).

Every decompressor takes a hard output ``cap`` checked BEFORE each
write (the archives tier's bomb discipline). Encoders exist as fixture
twins (greedy matching, spec-valid output any conformant decoder
reads); round trips pin both directions and hand-packed spec-form
vectors pin the wire layout independent of the encoders.

Scale posture: called from the archives front door — one shard per
task, bounded decompress, bytes never cross the wire (members explode
into rows executor-side).
"""

from __future__ import annotations

import struct

# --- xxHash-32 (public algorithm; used by the LZ4 frame format) ----------

_XXP1 = 2654435761
_XXP2 = 2246822519
_XXP3 = 3266489917
_XXP4 = 668265263
_XXP5 = 374761393
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    data = bytes(data)
    n = len(data)
    pos = 0
    if n >= 16:
        a1 = (seed + _XXP1 + _XXP2) & _M32
        a2 = (seed + _XXP2) & _M32
        a3 = seed & _M32
        a4 = (seed - _XXP1) & _M32
        while pos + 16 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, pos)
            a1 = (_rotl32((a1 + l1 * _XXP2) & _M32, 13) * _XXP1) & _M32
            a2 = (_rotl32((a2 + l2 * _XXP2) & _M32, 13) * _XXP1) & _M32
            a3 = (_rotl32((a3 + l3 * _XXP2) & _M32, 13) * _XXP1) & _M32
            a4 = (_rotl32((a4 + l4 * _XXP2) & _M32, 13) * _XXP1) & _M32
            pos += 16
        acc = (_rotl32(a1, 1) + _rotl32(a2, 7) + _rotl32(a3, 12) + _rotl32(a4, 18)) & _M32
    else:
        acc = (seed + _XXP5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = (_rotl32((acc + lane * _XXP3) & _M32, 17) * _XXP4) & _M32
        pos += 4
    while pos < n:
        acc = (_rotl32((acc + data[pos] * _XXP5) & _M32, 11) * _XXP1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _XXP2) & _M32
    acc ^= acc >> 13
    acc = (acc * _XXP3) & _M32
    acc ^= acc >> 16
    return acc


# --- CRC-32C (Castagnoli; used by Snappy framing) -------------------------

_CRC32C_TABLE: list[int] | None = None


def _crc32c_table() -> list[int]:
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    return _CRC32C_TABLE


def crc32c(data: bytes) -> int:
    tbl = _crc32c_table()
    c = _M32
    for b in bytes(data):
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ _M32


def _snappy_mask(crc: int) -> int:
    """The framing format's CRC mask: rotate right 15, add a constant
    (guards against CRCs of CRCs)."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & _M32


# --- LZ4 block -------------------------------------------------------------


def lz4_block_decompress(data: bytes, cap: int) -> bytes:
    """One raw LZ4 block; output capped at ``cap`` bytes (checked
    before every write)."""
    out = bytearray()
    lz4_block_decompress_into(out, data, cap)
    return bytes(out)


def lz4_block_compress(data: bytes) -> bytes:
    """Greedy spec-valid LZ4 block (hash-chain-free: last-seen-position
    table over 4-byte keys). Fixture twin — correctness, not ratio."""
    data = bytes(data)
    n = len(data)
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = 0
    pos = 0
    # the spec's end conditions: the last match must start at least 12
    # bytes before the end; the last 5 bytes are always literals
    while pos + 12 <= n:
        key = data[pos : pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is not None and pos - cand <= 65535 and data[cand : cand + 4] == key:
            mlen = 4
            limit = n - 5  # matches must not cover the final 5 bytes
            while pos + mlen < limit and data[cand + mlen] == data[pos + mlen]:
                mlen += 1
            lit = data[anchor:pos]
            _emit_lz4_sequence(out, lit, pos - cand, mlen)
            pos += mlen
            anchor = pos
        else:
            pos += 1
    lit = data[anchor:]
    token_lit = min(len(lit), 15)
    out.append(token_lit << 4)
    rem = len(lit) - 15
    if token_lit == 15:
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)
    out += lit
    return bytes(out)


def _emit_lz4_sequence(out: bytearray, lit: bytes, offset: int, mlen: int) -> None:
    tl = min(len(lit), 15)
    tm = min(mlen - 4, 15)
    out.append((tl << 4) | tm)
    if tl == 15:
        rem = len(lit) - 15
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)
    out += lit
    out += struct.pack("<H", offset)
    if tm == 15:
        rem = mlen - 4 - 15
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)


# --- LZ4 frame -------------------------------------------------------------

LZ4_FRAME_MAGIC = b"\x04\x22\x4d\x18"
_LZ4_LEGACY_MAGIC = b"\x02\x21\x4c\x18"
_LZ4_BLOCK_MAX = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def lz4_decompress(data: bytes, cap: int) -> bytes:
    """LZ4 frame(s) → content bytes; concatenated frames and skippable
    frames handled; every checksum the frame carries is VERIFIED (a
    wrong constant anywhere fails loudly, never decodes garbage)."""
    data = bytes(data)
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        magic = data[pos : pos + 4]
        if len(magic) < 4:
            if magic.strip(b"\x00"):
                raise ValueError("trailing garbage after LZ4 frame")
            break
        if magic == _LZ4_LEGACY_MAGIC:
            raise NotImplementedError("legacy LZ4 frame format")
        if magic[1:4] == b"\x2a\x4d\x18" and 0x50 <= magic[0] <= 0x5F:
            # skippable frame 0x184D2A50..5F: u32 LE size follows
            if pos + 8 > n:
                raise ValueError("truncated LZ4 skippable frame")
            (skip,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + skip > n:
                # a declared size past EOF must fail loudly, not end
                # the frame walk silently (ADVICE r9)
                raise ValueError("truncated LZ4 skippable frame")
            pos += 8 + skip
            continue
        if magic != LZ4_FRAME_MAGIC:
            raise ValueError("bad LZ4 frame magic")
        pos += 4
        if pos + 3 > n:
            raise ValueError("truncated LZ4 frame descriptor")
        flg = data[pos]
        bd = data[pos + 1]
        if (flg >> 6) != 1:
            raise ValueError(f"unsupported LZ4 frame version {flg >> 6}")
        if flg & 0x02:
            raise ValueError("reserved LZ4 FLG bit set")
        b_checksum = bool(flg & 0x10)
        c_size = bool(flg & 0x08)
        c_checksum = bool(flg & 0x04)
        dict_id = bool(flg & 0x01)
        bmax_code = (bd >> 4) & 7
        if bmax_code not in _LZ4_BLOCK_MAX:
            raise ValueError(f"bad LZ4 block-max code {bmax_code}")
        desc_len = 2 + (8 if c_size else 0) + (4 if dict_id else 0)
        desc = data[pos : pos + desc_len]
        if len(desc) < desc_len or pos + desc_len >= n:
            raise ValueError("truncated LZ4 frame descriptor")
        expect_hc = (xxh32(desc) >> 8) & 0xFF
        content_size = struct.unpack_from("<Q", data, pos + 2)[0] if c_size else None
        if dict_id:
            raise NotImplementedError("LZ4 frame with DictID (no dictionary store)")
        hc = data[pos + desc_len]
        if hc != expect_hc:
            raise ValueError("LZ4 frame header checksum mismatch")
        pos += desc_len + 1
        frame_start = len(out)
        while True:
            if pos + 4 > n:
                raise ValueError("truncated LZ4 block header")
            (bsize,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if bsize == 0:
                break  # EndMark
            uncompressed = bool(bsize & 0x80000000)
            bsize &= 0x7FFFFFFF
            if bsize > _LZ4_BLOCK_MAX[bmax_code]:
                raise ValueError("LZ4 block exceeds the declared maximum")
            block = data[pos : pos + bsize]
            if len(block) < bsize:
                raise ValueError("truncated LZ4 block")
            pos += bsize
            if b_checksum:
                if pos + 4 > n:
                    raise ValueError("truncated LZ4 block checksum")
                (bc,) = struct.unpack_from("<I", data, pos)
                pos += 4
                if xxh32(block) != bc:
                    raise ValueError("LZ4 block checksum mismatch")
            if uncompressed:
                if len(out) + bsize > cap:
                    raise ValueError(f"lz4 inflates past {cap} bytes (bomb?)")
                out += block
            else:
                # linked blocks may reference the previous block's
                # tail: decode APPENDING to the running output
                lz4_block_decompress_into(out, block, cap)
        if c_checksum:
            if pos + 4 > n:
                raise ValueError("truncated LZ4 content checksum")
            (cc,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if xxh32(bytes(out[frame_start:])) != cc:
                raise ValueError("LZ4 content checksum mismatch")
        if content_size is not None and len(out) - frame_start != content_size:
            raise ValueError("LZ4 content size mismatch")
    return bytes(out)


def lz4_block_decompress_into(out: bytearray, data: bytes, cap: int) -> int:
    """lz4_block_decompress variant writing into an existing buffer —
    match offsets may reach back past the block boundary (linked
    blocks / frame history)."""
    data = bytes(data)
    pos = 0
    n = len(data)
    while pos < n:
        token = data[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if pos >= n:
                    raise ValueError("LZ4 literal length overruns the block")
                b = data[pos]
                pos += 1
                lit += b
                if b != 255:
                    break
        if pos + lit > n:
            raise ValueError("LZ4 literals overrun the block")
        if len(out) + lit > cap:
            raise ValueError(f"lz4 inflates past {cap} bytes (bomb?)")
        out += data[pos : pos + lit]
        pos += lit
        if pos == n:
            break
        if pos + 2 > n:
            raise ValueError("LZ4 match offset overruns the block")
        (offset,) = struct.unpack_from("<H", data, pos)
        pos += 2
        if offset == 0 or offset > len(out):
            raise ValueError(f"LZ4 match offset {offset} out of range")
        mlen = (token & 15) + 4
        if (token & 15) == 15:
            while True:
                if pos >= n:
                    raise ValueError("LZ4 match length overruns the block")
                b = data[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        if len(out) + mlen > cap:
            raise ValueError(f"lz4 inflates past {cap} bytes (bomb?)")
        start = len(out) - offset
        if offset >= mlen:
            out += out[start : start + mlen]
        else:
            for i in range(mlen):
                out.append(out[start + i])
    return len(out)


def lz4_compress(
    data: bytes,
    block_checksum: bool = False,
    content_checksum: bool = True,
    content_size: bool = False,
    block_max_code: int = 4,
) -> bytes:
    """Fixture-twin LZ4 frame writer: independent blocks split at the
    declared maximum, real xxh32 checksums."""
    data = bytes(data)
    flg = (1 << 6) | 0x20  # version 01, block-independence
    if block_checksum:
        flg |= 0x10
    if content_size:
        flg |= 0x08
    if content_checksum:
        flg |= 0x04
    bd = (block_max_code & 7) << 4
    desc = bytes([flg, bd])
    if content_size:
        desc += struct.pack("<Q", len(data))
    out = bytearray(LZ4_FRAME_MAGIC)
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    bmax = _LZ4_BLOCK_MAX[block_max_code]
    for i in range(0, len(data), bmax):
        chunk = data[i : i + bmax]
        comp = lz4_block_compress(chunk)
        if len(comp) >= len(chunk):  # incompressible: store raw
            out += struct.pack("<I", len(chunk) | 0x80000000)
            payload = chunk
        else:
            out += struct.pack("<I", len(comp))
            payload = comp
        out += payload
        if block_checksum:
            out += struct.pack("<I", xxh32(payload))
    out += struct.pack("<I", 0)  # EndMark
    if content_checksum:
        out += struct.pack("<I", xxh32(data))
    return bytes(out)


# --- Snappy raw ------------------------------------------------------------


def snappy_raw_decompress(data: bytes, cap: int) -> bytes:
    """One raw Snappy block: varint length preamble + tagged elements."""
    data = bytes(data)
    n = len(data)
    # uncompressed-length varint
    expect = 0
    shift = 0
    pos = 0
    while True:
        if pos >= n:
            raise ValueError("truncated snappy length varint")
        b = data[pos]
        pos += 1
        expect |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
        if shift > 35:
            raise ValueError("snappy length varint too long")
    if expect > cap:
        raise ValueError(f"snappy inflates past {cap} bytes (bomb?)")
    out = bytearray()
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                if pos + extra > n:
                    raise ValueError("snappy literal length overruns")
                ln = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise ValueError("snappy literal overruns the block")
            if len(out) + ln > expect:
                raise ValueError("snappy output exceeds the declared length")
            out += data[pos : pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 7) + 4
            if pos >= n:
                raise ValueError("snappy copy offset overruns")
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise ValueError("snappy copy offset overruns")
            (offset,) = struct.unpack_from("<H", data, pos)
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise ValueError("snappy copy offset overruns")
            (offset,) = struct.unpack_from("<I", data, pos)
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError(f"snappy copy offset {offset} out of range")
        if len(out) + ln > expect:
            raise ValueError("snappy output exceeds the declared length")
        start = len(out) - offset
        if offset >= ln:
            out += out[start : start + ln]
        else:
            for i in range(ln):
                out.append(out[start + i])
    if len(out) != expect:
        raise ValueError(
            f"snappy declared {expect} bytes but produced {len(out)}"
        )
    return bytes(out)


def snappy_raw_compress(data: bytes) -> bytes:
    """Fixture-twin raw Snappy: greedy 4-byte matching, 2-byte-offset
    copies (lengths split to the 64-byte element cap)."""
    data = bytes(data)
    n = len(data)
    out = bytearray()
    # varint preamble
    v = n
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)

    def emit_literal(lit: bytes) -> None:
        i = 0
        while i < len(lit):
            chunk = lit[i : i + 65536]
            ln = len(chunk) - 1
            if ln < 60:
                out.append(ln << 2)
            elif ln < 256:
                out.append(60 << 2)
                out.append(ln)
            else:
                out.append(61 << 2)
                out.extend(struct.pack("<H", ln))
            out.extend(chunk)
            i += len(chunk)

    table: dict[bytes, int] = {}
    anchor = 0
    pos = 0
    while pos + 4 <= n:
        key = data[pos : pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is not None and pos - cand <= 65535 and data[cand : cand + 4] == key:
            mlen = 4
            while pos + mlen < n and data[cand + mlen] == data[pos + mlen]:
                mlen += 1
            emit_literal(data[anchor:pos])
            offset = pos - cand
            rem = mlen
            while rem > 0:
                # 2-byte-offset copies carry any length 1..64
                ln = min(rem, 64)
                out.append(((ln - 1) << 2) | 2)
                out += struct.pack("<H", offset)
                rem -= ln
            pos += mlen
            anchor = pos
        else:
            pos += 1
    emit_literal(data[anchor:])
    return bytes(out)


# --- Snappy framing --------------------------------------------------------

SNAPPY_FRAME_MAGIC = b"\xff\x06\x00\x00sNaPpY"


def is_snappy_framed(data: bytes) -> bool:
    return bytes(data[:10]) == SNAPPY_FRAME_MAGIC


def snappy_decompress(data: bytes, cap: int) -> bytes:
    """Snappy framing format → content bytes; every chunk's masked
    CRC-32C is verified."""
    data = bytes(data)
    if not is_snappy_framed(data):
        raise ValueError("not a framed snappy stream (missing sNaPpY)")
    out = bytearray()
    pos = 10
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated snappy chunk header")
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1 : pos + 4], "little")
        body = data[pos + 4 : pos + 4 + clen]
        if len(body) < clen:
            raise ValueError("snappy chunk overruns the stream")
        pos += 4 + clen
        if ctype == 0xFF:  # another stream identifier (concatenation)
            if body != b"sNaPpY":
                raise ValueError("bad snappy stream identifier payload")
            continue
        if ctype == 0x00 or ctype == 0x01:
            if clen < 4:
                raise ValueError("snappy data chunk without a checksum")
            (want,) = struct.unpack_from("<I", body, 0)
            payload = body[4:]
            if ctype == 0x00:
                piece = snappy_raw_decompress(payload, cap - len(out))
            else:
                piece = payload
            if len(out) + len(piece) > cap:
                raise ValueError(f"snappy inflates past {cap} bytes (bomb?)")
            if _snappy_mask(crc32c(piece)) != want:
                raise ValueError("snappy chunk CRC-32C mismatch")
            out += piece
            continue
        if ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / reserved skippable
        raise ValueError(f"reserved unskippable snappy chunk {ctype:#x}")
    return bytes(out)


def snappy_compress(data: bytes, chunk_size: int = 65536) -> bytes:
    """Fixture-twin framed Snappy writer (compressed chunks, real
    masked CRC-32C of the uncompressed data)."""
    data = bytes(data)
    out = bytearray(SNAPPY_FRAME_MAGIC)
    for i in range(0, len(data), chunk_size):
        piece = data[i : i + chunk_size]
        comp = snappy_raw_compress(piece)
        crc = struct.pack("<I", _snappy_mask(crc32c(piece)))
        if len(comp) < len(piece):
            body = crc + comp
            out.append(0x00)
        else:
            body = crc + piece
            out.append(0x01)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)
