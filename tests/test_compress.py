"""LZ4 + Snappy (functions/compress.py): oracles are (a) the formats'
own published check values — xxh32("") = 0x02CC5D05 and the canonical
CRC-32C check value crc32c("123456789") = 0xE3069283 — which every
checksum in both frame formats flows through, so a wrong constant
anywhere fails these pins and every round trip loudly; (b) hand-packed
spec-form byte vectors decoded by hand from the block format
descriptions; (c) lossless round trips through the fixture-twin
encoders; (d) skip-gated equality against the reference ``lz4`` /
``snappy``/``cramjam`` bindings when importable (absent in this
container — the structural tiers always run)."""

from __future__ import annotations

import io
import struct
import tarfile

import numpy as np
import pytest

from pg2kinesis_spark.functions import compress as Z

CAP = 1 << 24


def _corpus():
    rng = np.random.default_rng(11)
    return [
        b"",
        b"a",
        b"abc",
        b"the quick brown fox " * 500,           # highly repetitive
        rng.integers(0, 256, 10000, dtype=np.uint8).tobytes(),  # incompressible
        bytes(100_000),                           # RLE extreme (overlap copies)
        b"ab" * 40_000,                           # short-period overlap
        rng.integers(0, 4, 30_000, dtype=np.uint8).tobytes(),   # low entropy
    ]


# --- published check values -------------------------------------------------


def test_xxh32_and_crc32c_check_values():
    assert Z.xxh32(b"") == 0x02CC5D05
    assert Z.crc32c(b"123456789") == 0xE3069283
    # crc32c differs from zlib's crc32 (different polynomial)
    import zlib

    assert Z.crc32c(b"123456789") != zlib.crc32(b"123456789")


# --- hand-packed spec-form vectors -------------------------------------------


def test_lz4_block_hand_vector():
    """token 0x22: 2 literals + match len 2+4; offset 1 -> RLE 'b'."""
    blk = bytes([0x22]) + b"ab" + struct.pack("<H", 1) + bytes([0x10]) + b"c"
    # 0x22 -> 2 literals 'ab', match len 2+4=6 at offset 1 (six 'b's),
    # then token 0x10 -> 1 literal 'c', end
    assert Z.lz4_block_decompress(blk, CAP) == b"ab" + b"b" * 6 + b"c"
    # 15-extension literal length: one extension byte (<255 ends the
    # run), 15+243 = 258 literals; and a 255-chained run, 15+255+5=275
    lit = bytes(258)
    assert Z.lz4_block_decompress(bytes([0xF0, 243]) + lit, CAP) == lit
    lit = bytes(275)
    assert Z.lz4_block_decompress(bytes([0xF0, 255, 5]) + lit, CAP) == lit


def test_snappy_raw_hand_vector():
    """varint preamble + literal + 1-byte-offset copy with overlap."""
    v = bytes([7, (2 - 1) << 2]) + b"ab" + bytes([((5 - 4) << 2) | 1, 1])
    assert Z.snappy_raw_decompress(v, CAP) == b"abbbbbb"
    # 2-byte-offset copy: tag len-1 in the high 6 bits
    v = bytes([8, (4 - 1) << 2]) + b"wxyz" + bytes([((4 - 1) << 2) | 2]) + struct.pack("<H", 4)
    assert Z.snappy_raw_decompress(v, CAP) == b"wxyzwxyz"
    # declared length must match exactly
    with pytest.raises(ValueError, match="declared"):
        Z.snappy_raw_decompress(bytes([9, (4 - 1) << 2]) + b"wxyz", CAP)


# --- round trips -------------------------------------------------------------


def test_lz4_round_trips_all_shapes():
    for d in _corpus():
        for kwargs in (
            {},
            {"block_checksum": True, "content_size": True},
            {"content_checksum": False},
            {"block_max_code": 7},
        ):
            f = Z.lz4_compress(d, **kwargs)
            assert Z.lz4_decompress(f, CAP) == d, kwargs
        assert Z.lz4_block_decompress(Z.lz4_block_compress(d), CAP) == d


def test_snappy_round_trips_all_shapes():
    for d in _corpus():
        assert Z.snappy_decompress(Z.snappy_compress(d), CAP) == d
        assert Z.snappy_raw_decompress(Z.snappy_raw_compress(d), CAP) == d
    # multi-chunk framing
    big = b"0123456789" * 20_000
    f = Z.snappy_compress(big, chunk_size=4096)
    assert Z.snappy_decompress(f, CAP) == big


def test_lz4_concatenated_and_skippable_frames():
    sk = b"\x50\x2a\x4d\x18" + struct.pack("<I", 5) + b"XXXXX"
    sk2 = b"\x5f\x2a\x4d\x18" + struct.pack("<I", 0)
    two = sk + Z.lz4_compress(b"hello") + sk2 + Z.lz4_compress(b" world")
    assert Z.lz4_decompress(two, CAP) == b"hello world"
    # snappy concatenated streams: a second identifier mid-stream
    f = Z.snappy_compress(b"one") + Z.snappy_compress(b"two")
    assert Z.snappy_decompress(f, CAP) == b"onetwo"


# --- every checksum is load-bearing ------------------------------------------


def test_corruption_is_always_loud():
    d = b"the quick brown fox " * 500
    f = Z.lz4_compress(d, block_checksum=True)
    for pos in (5, 6, len(f) // 2, len(f) - 2):
        bad = bytearray(f)
        bad[pos] ^= 1
        with pytest.raises((ValueError, NotImplementedError)):
            got = Z.lz4_decompress(bytes(bad), CAP)
            assert got == d  # a flip may land in dead space; never garbage
    f = Z.snappy_compress(d)
    bad = bytearray(f)
    bad[20] ^= 1
    with pytest.raises(ValueError):
        got = Z.snappy_decompress(bytes(bad), CAP)
        assert got == d
    with pytest.raises(ValueError, match="header checksum"):
        bad = bytearray(Z.lz4_compress(d))
        bad[6] ^= 0xFF  # the HC byte
        Z.lz4_decompress(bytes(bad), CAP)


def test_bomb_caps_fire():
    with pytest.raises(ValueError, match="bomb"):
        Z.lz4_decompress(Z.lz4_compress(bytes(1 << 20)), cap=1 << 10)
    with pytest.raises(ValueError, match="bomb"):
        Z.snappy_decompress(Z.snappy_compress(bytes(1 << 20)), cap=1 << 10)
    with pytest.raises(NotImplementedError, match="legacy"):
        Z.lz4_decompress(b"\x02\x21\x4c\x18" + bytes(16), CAP)
    with pytest.raises(ValueError, match="DictID|reserved|version|magic"):
        Z.lz4_decompress(b"\x04\x22\x4d\x19" + bytes(16), CAP)


def test_reference_binding_equality_when_present():
    """With the real libraries importable, their output must decode
    through this module byte-exactly (and vice versa)."""
    lz4f = pytest.importorskip("lz4.frame")
    for d in _corpus():
        assert Z.lz4_decompress(lz4f.compress(d), CAP) == d
        assert lz4f.decompress(Z.lz4_compress(d)) == d


def test_reference_snappy_equality_when_present():
    snappy = pytest.importorskip("snappy")
    for d in _corpus():
        assert Z.snappy_raw_decompress(snappy.compress(d), CAP) == d
        assert snappy.decompress(Z.snappy_raw_compress(d)) == d


# --- archives front door ------------------------------------------------------


def _tar_bytes(files: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in files.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_lz4_snappy_archive_front_door(spark):
    from pg2kinesis_spark.functions.archives import archive_members, archive_to_corpus

    tar_raw = _tar_bytes({"inner.txt": b"lz4 tar text", "skip.bin": b"\x00"})
    jsonl = b'{"text": "doc one"}\n{"text": "doc two"}\n'
    rows = [
        ("mem://a.tar.lz4", bytearray(Z.lz4_compress(tar_raw))),
        ("mem://b.txt.lz4", bytearray(Z.lz4_compress(b"bare lz4 member"))),
        ("mem://c.txt.sz", bytearray(Z.snappy_compress(b"bare snappy member"))),
        ("mem://d.jsonl.lz4", bytearray(Z.lz4_compress(jsonl))),
    ]
    archives = spark.createDataFrame(rows, "path string, content binary")
    members = archive_members(archives).collect()
    assert all(m.decode_error is None for m in members)
    got = {(m.path, m.member): bytes(m.payload) for m in members}
    assert got[("mem://a.tar.lz4", "inner.txt")] == b"lz4 tar text"
    assert got[("mem://b.txt.lz4", "b.txt")] == b"bare lz4 member"
    assert got[("mem://c.txt.sz", "c.txt")] == b"bare snappy member"
    texts = {d.text for d in archive_to_corpus(archives).collect()}
    assert {"lz4 tar text", "bare lz4 member", "bare snappy member"} <= texts

    bombs = spark.createDataFrame(
        [
            ("mem://bomb.lz4", bytearray(Z.lz4_compress(bytes(1 << 24)))),
            ("mem://bomb.sz", bytearray(Z.snappy_compress(bytes(1 << 24)))),
        ],
        "path string, content binary",
    )
    out = archive_members(bombs, max_total_bytes=1 << 20).collect()
    assert all(r.decode_error is not None and "bomb" in r.decode_error for r in out)


def test_lz4_truncation_is_valueerror_everywhere():
    """ADVICE r9: a skippable frame whose declared size runs past EOF
    must raise (not end the walk silently), and truncated block /
    content checksum reads must surface as the module's ValueError,
    never a bare struct.error."""
    # skippable frame declaring 100 bytes with only 2 present
    sk = b"\x50\x2a\x4d\x18" + struct.pack("<I", 100) + b"XX"
    with pytest.raises(ValueError, match="truncated LZ4 skippable"):
        Z.lz4_decompress(sk, CAP)
    # block checksum truncated: cut right after the block body
    f = Z.lz4_compress(b"hello world", block_checksum=True)
    # find the block: magic(4) FLG/BD(2) HC(1), then u32 size + body
    (bsize,) = struct.unpack_from("<I", f, 7)
    cut = 7 + 4 + (bsize & 0x7FFFFFFF)
    with pytest.raises(ValueError, match="truncated LZ4"):
        Z.lz4_decompress(f[:cut], CAP)
    # content checksum truncated: drop the trailing bytes after EndMark
    f2 = Z.lz4_compress(b"hello world")
    assert Z.lz4_decompress(f2, CAP) == b"hello world"
    with pytest.raises(ValueError, match="truncated LZ4"):
        Z.lz4_decompress(f2[:-2], CAP)
