"""ZIP/TAR front door: in-memory fixtures, magic-based detection,
bomb/member caps, quarantine channel, corpus conversion."""

from __future__ import annotations

import gzip
import io
import tarfile
import zipfile

import pytest

from pg2kinesis_spark.functions.archives import (
    archive_members,
    archive_to_corpus,
)


def _zip_bytes(files: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_bytes(files: dict[str, bytes], gz: bool = False) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in files.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    return gzip.compress(raw) if gz else raw


def test_zip_tar_targz_and_bare_gz_members(spark):
    zips = _zip_bytes({"a/one.txt": b"alpha text", "img.png": b"\x89PNG.."})
    tars = _tar_bytes({"two.md": b"# beta doc", "skip.bin": b"\x00\x01"})
    targz = _tar_bytes({"three.txt": b"gamma words"}, gz=True)
    bare = gzip.compress(b"delta solo file")
    rows = [
        ("mem://a.zip", bytearray(zips)),
        ("mem://b.tar", bytearray(tars)),
        ("mem://c.tar.gz", bytearray(targz)),
        ("mem://d.txt.gz", bytearray(bare)),
    ]
    archives = spark.createDataFrame(rows, "path string, content binary")
    members = archive_members(archives).collect()
    assert all(m.decode_error is None for m in members)
    got = {(m.path, m.member): bytes(m.payload) for m in members}
    assert got[("mem://a.zip", "a/one.txt")] == b"alpha text"
    assert got[("mem://b.tar", "two.md")] == b"# beta doc"
    assert got[("mem://c.tar.gz", "three.txt")] == b"gamma words"
    assert got[("mem://d.txt.gz", "d.txt")] == b"delta solo file"

    docs = archive_to_corpus(archives).collect()
    texts = {(d.path, d.member): d.text for d in docs}
    # binary-suffixed members are filtered out of the corpus
    assert ("mem://a.zip", "img.png") not in texts
    assert ("mem://b.tar", "skip.bin") not in texts
    assert texts[("mem://a.zip", "a/one.txt")] == "alpha text"
    assert texts[("mem://d.txt.gz", "d.txt")] == "delta solo file"
    assert len({d.doc_id for d in docs}) == len(docs)  # ids distinct


def test_archive_quarantine_and_caps(spark):
    good = _zip_bytes({"ok.txt": b"fine"})
    junk = b"\x00not an archive at all" + bytes(300)
    bomb = _zip_bytes({"big.txt": bytes(1 << 16)})
    rows = [
        ("mem://good.zip", bytearray(good)),
        ("mem://junk.bin", bytearray(junk)),
        ("mem://bomb.zip", bytearray(bomb)),
    ]
    archives = spark.createDataFrame(rows, "path string, content binary")
    members = archive_members(archives, max_member_bytes=1 << 10).collect()
    errs = {m.path: m.decode_error for m in members if m.decode_error}
    assert set(errs) == {"mem://junk.bin", "mem://bomb.zip"}
    assert "bomb" in errs["mem://bomb.zip"]
    assert [m.member for m in members if m.decode_error is None] == ["ok.txt"]
    # corpus path silently drops quarantined archives
    assert {d.member for d in archive_to_corpus(
        archives, max_member_bytes=1 << 10).collect()} == {"ok.txt"}
    # fail-stop mode
    with pytest.raises(Exception, match="archive"):
        archive_members(archives, errors="raise").collect()


def test_member_count_cap(spark):
    many = _tar_bytes({f"f{i}.txt": b"x" for i in range(30)})
    archives = spark.createDataFrame(
        [("mem://many.tar", bytearray(many))], "path string, content binary"
    )
    ok = archive_members(archives, max_members=50).collect()
    assert len(ok) == 30
    capped = archive_members(archives, max_members=10).collect()
    assert len(capped) == 1 and "members" in capped[0].decode_error


def test_malformed_utf8_member_does_not_kill_corpus(spark):
    # utf-8-with-replacement decoding: a text-suffixed member with
    # invalid bytes must yield replacement chars, not an error
    bad = _zip_bytes({"weird.txt": b"ok \xff\xfe bytes"})
    archives = spark.createDataFrame(
        [("mem://w.zip", bytearray(bad))], "path string, content binary"
    )
    [d] = archive_to_corpus(archives).collect()
    assert d.text.startswith("ok ") and "bytes" in d.text


def test_streaming_archive_ingest_dedups_across_batches(spark, tmp_path):
    """Two archive drops through the continuous front door: members
    flow through the gates, an exact cross-batch duplicate member is
    dropped at the hash index, and a corrupt archive quarantines
    without killing the stream."""
    import os

    from pg2kinesis_spark.streaming.corpus_ingest import start_archive_ingest

    land, out, ck = (str(tmp_path / d) for d in ("land", "curated", "ck"))
    os.makedirs(land)
    with open(os.path.join(land, "b1.zip"), "wb") as f:
        f.write(_zip_bytes({
            "one.txt": b"the first unique document with several words here",
            "two.txt": b"a second unique document about something different",
        }))
    q = start_archive_ingest(spark, land, out, ck, near_dup_jaccard=None,
                             bloom_bits=None)
    q.awaitTermination(120)
    with open(os.path.join(land, "b2.zip"), "wb") as f:
        f.write(_zip_bytes({
            "dup.txt": b"the first unique document with several words here",
            "new.txt": b"a third document never before seen in the corpus",
        }))
    with open(os.path.join(land, "junk.zip"), "wb") as f:
        f.write(b"\x00definitely not a zip" + bytes(200))
    q = start_archive_ingest(spark, land, out, ck, near_dup_jaccard=None,
                             bloom_bits=None)
    q.awaitTermination(120)
    acc = spark.read.parquet(os.path.join(out, "accepted"))
    texts = {r.text for r in acc.select("text").collect()}
    assert len(texts) == 3  # dup.txt collapsed at the hash index
    assert any("third document" in t for t in texts)


def test_corrupt_and_bomb_gz_archives_quarantine(spark):
    """A fully corrupt .gz and a bare .gz blowing the PER-MEMBER cap
    both quarantine (the member cap previously only applied inside
    zip/tar); an empty-but-valid gzip member stays a valid empty doc."""
    corrupt = b"\x1f\x8b\x08\x00NOT-REAL-DEFLATE-DATA"
    big = gzip.compress(bytes(5000))
    empty_ok = gzip.compress(b"")
    archives = spark.createDataFrame(
        [("mem://c.txt.gz", bytearray(corrupt)),
         ("mem://big.txt.gz", bytearray(big)),
         ("mem://e.txt.gz", bytearray(empty_ok))],
        "path string, content binary",
    )
    rows = archive_members(archives, max_member_bytes=100).collect()
    by_path = {}
    for r in rows:
        by_path.setdefault(r.path, []).append(r)
    assert by_path["mem://c.txt.gz"][0].decode_error is not None
    assert "bomb" in by_path["mem://big.txt.gz"][0].decode_error
    [e] = by_path["mem://e.txt.gz"]
    assert e.decode_error is None and bytes(e.payload) == b""


def test_duplicate_member_names_get_distinct_ids(spark):
    """ZIP legally allows duplicate member names: the ordinal keeps
    their corpus doc_ids distinct."""
    import io as _io
    import zipfile as _zf

    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w") as zf:
        zf.writestr("doc.txt", b"first version of the document")
        zf.writestr("doc.txt", b"second version entirely different")
    archives = spark.createDataFrame(
        [("mem://dup.zip", bytearray(buf.getvalue()))],
        "path string, content binary",
    )
    members = archive_members(archives)
    rows = members.collect()
    assert len(rows) == 2 and {r.ordinal for r in rows} == {0, 1}
    docs = archive_to_corpus(archives).collect()
    assert len({d.doc_id for d in docs}) == 2
    assert {d.text for d in docs} == {
        "first version of the document",
        "second version entirely different",
    }


def test_xz_and_bz2_front_door(spark):
    """The other two stdlib stream compressors, same contract as gzip:
    .tar.xz / .tar.bz2 re-sniff to tar, bare .xz / .bz2 become one
    member, and a high-ratio bomb refuses BEFORE allocation."""
    import bz2 as _bz2
    import lzma as _lzma

    from pg2kinesis_spark.functions.archives import archive_to_corpus

    tar_raw = _tar_bytes({"inner.txt": b"xz tar text", "skip.bin": b"\x00"})
    rows = [
        ("mem://a.tar.xz", bytearray(_lzma.compress(tar_raw))),
        ("mem://b.tar.bz2", bytearray(_bz2.compress(tar_raw))),
        ("mem://c.txt.xz", bytearray(_lzma.compress(b"bare xz member"))),
        ("mem://d.txt.bz2", bytearray(_bz2.compress(b"bare bz2 member"))),
    ]
    archives = spark.createDataFrame(rows, "path string, content binary")
    members = archive_members(archives).collect()
    assert all(m.decode_error is None for m in members)
    got = {(m.path, m.member): bytes(m.payload) for m in members}
    assert got[("mem://a.tar.xz", "inner.txt")] == b"xz tar text"
    assert got[("mem://b.tar.bz2", "inner.txt")] == b"xz tar text"
    assert got[("mem://c.txt.xz", "c.txt")] == b"bare xz member"
    assert got[("mem://d.txt.bz2", "d.txt")] == b"bare bz2 member"
    docs = archive_to_corpus(archives).collect()
    texts = {d.text for d in docs}
    assert {"xz tar text", "bare xz member", "bare bz2 member"} <= texts

    # bombs: 64 MiB of zeros compresses to a few KB in both formats —
    # the bounded decompressor must refuse at the cap, pre-allocation
    bomb_rows = [
        ("mem://bomb.xz", bytearray(_lzma.compress(bytes(1 << 26)))),
        ("mem://bomb.bz2", bytearray(_bz2.compress(bytes(1 << 26)))),
    ]
    bombs = spark.createDataFrame(bomb_rows, "path string, content binary")
    out = archive_members(bombs, max_total_bytes=1 << 20).collect()
    assert all(r.decode_error is not None and "bomb" in r.decode_error
               for r in out)


def test_zst_seam(spark):
    """zstd front door (optional-import seam, the fast_image_decoder
    contract): with a binding importable, .tar.zst / bare .zst
    decompress bounded; without one, the archive quarantines with the
    honest refusal — never a silent skip. The refusal row always runs;
    the positive path is skip-gated on the binding."""
    from pg2kinesis_spark.functions.archives import (
        _zstd_decompressor,
        archive_members,
    )

    # a real zstd frame header (magic + minimal frame: FCS 0, empty) —
    # enough to trigger the zst branch without a binding
    fake = bytes.fromhex("28b52ffd2000010000")
    archives = spark.createDataFrame(
        [("mem://x.txt.zst", bytearray(fake))], "path string, content binary"
    )
    rows = archive_members(archives).collect()
    if _zstd_decompressor() is None:
        assert rows[0].decode_error is not None
        assert "no zstd codec" in rows[0].decode_error
        pytest.skip("no zstd binding in this environment — refusal pinned")
    import zstandard  # the positive path, when available

    tar_raw = _tar_bytes({"z.txt": b"zst tar text"})
    good = spark.createDataFrame(
        [
            ("mem://a.tar.zst", bytearray(zstandard.compress(tar_raw))),
            ("mem://b.txt.zst", bytearray(zstandard.compress(b"bare zst"))),
        ],
        "path string, content binary",
    )
    got = {(m.path, m.member): bytes(m.payload)
           for m in archive_members(good).collect()}
    assert got[("mem://a.tar.zst", "z.txt")] == b"zst tar text"
    assert got[("mem://b.txt.zst", "b.txt")] == b"bare zst"


def test_multistream_xz_bz2(spark):
    """Parallel compressors (pbzip2, pixz) and chunked corpus shards
    emit CONCATENATED streams; a one-shot decompressor silently
    returns only the first — every stream must surface (review
    finding, round 7)."""
    import bz2 as _bz2
    import lzma as _lzma

    rows = [
        ("mem://two.txt.bz2",
         bytearray(_bz2.compress(b"A" * 100) + _bz2.compress(b"B" * 100))),
        ("mem://two.txt.xz",
         bytearray(_lzma.compress(b"C" * 50) + _lzma.compress(b"D" * 50))),
    ]
    archives = spark.createDataFrame(rows, "path string, content binary")
    got = {m.path: bytes(m.payload) for m in archive_members(archives).collect()}
    assert got["mem://two.txt.bz2"] == b"A" * 100 + b"B" * 100
    assert got["mem://two.txt.xz"] == b"C" * 50 + b"D" * 50
    # truncated stream refuses (not silently half-decoded)
    trunc = spark.createDataFrame(
        [("mem://t.bz2", bytearray(_bz2.compress(b"Z" * 1000)[:-5]))],
        "path string, content binary",
    )
    r = archive_members(trunc).collect()[0]
    assert r.decode_error is not None and "truncated" in r.decode_error
