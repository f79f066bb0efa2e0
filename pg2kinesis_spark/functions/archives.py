"""ZIP / TAR document front door.

Text corpora routinely arrive as archives of files (a tarball of .txt,
a zip of .md/.jsonl) rather than WARC. This module is the
``functions/warc.py`` pattern for those layouts: ``binaryFile`` rows →
an Arrow-batched ``mapInPandas`` splitter that explodes each archive
into per-member rows inside its task, with

* **format detection by magic bytes** — ZIP (``PK\\x03\\x04``), tar
  (``ustar`` at offset 257), the three stdlib stream compressors:
  gzip (``\\x1f\\x8b``), xz (``\\xfd7zXZ``), bz2 (``BZh``), the zstd
  optional-import seam, and (round 9) the dependency-free LZ4 frame
  and framed-Snappy decoders in ``functions/compress.py`` — every
  stream decompressed bounded, then re-sniffed, so ``.tar.{gz,xz,bz2,
  zst,lz4}`` becomes tar and a bare compressed file becomes one member
  named after the archive;
* **bounded decompression everywhere** — per-member and whole-archive
  inflate caps (an archive entry claiming 10 TB must error before the
  allocation, not after; the zip format's independent per-member
  streams make member caps enforceable on read), plus a member-count
  cap;
* **the quarantine error channel** — at corpus scale some archives
  WILL be corrupt or hostile; ``errors="quarantine"`` (default) turns
  a failing archive into one ``decode_error`` row instead of a dead
  stage (the media-kernel / warc_records contract), while
  ``errors="raise"`` keeps fail-stop for trusted inputs.

Parallelism = one archive per task (same contract as WARC: compressed
streams don't split mid-file; the many-archives layout is the
parallelism). Reference analogy: the reference system's only ingest is
the replication stream (`stream.py`); this front door is the batch
twin the corpus domain needs.
"""

from __future__ import annotations

import io
import tarfile
import zipfile
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg2kinesis_spark.functions.warc import gunzip_members

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        # position within the archive: both ZIP and TAR legally allow
        # DUPLICATE member names, so (path, member) is not a key —
        # (path, ordinal) is
        T.StructField("ordinal", T.IntegerType()),
        T.StructField("member", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("decode_error", T.StringType()),
    ]
)

_TEXT_SUFFIXES = (".txt", ".md", ".text", ".json", ".jsonl", ".csv", ".html", ".htm")


def _zstd_decompressor():
    """The importable zstd binding, or None: python>=3.14's stdlib
    compression.zstd first, the `zstandard` wheel second."""
    try:
        from compression import zstd  # python 3.14+

        return ("stdlib", zstd)
    except ImportError:
        pass
    try:
        import zstandard

        return ("zstandard", zstandard)
    except ImportError:
        return None


def _multistream_decompress(new_dec, data: bytes, cap: int, what: str) -> bytes:
    """Decompress ALL concatenated streams bounded at ``cap`` total
    output bytes. Parallel compressors (pbzip2, pixz) and chunked
    corpus shards emit multi-stream files routinely; a one-shot
    decompressor would silently return only the first stream."""
    out = bytearray()
    buf = bytes(data)
    while buf:
        dec = new_dec()
        out += dec.decompress(buf, cap + 1 - len(out))
        if len(out) > cap:
            raise ValueError(f"{what} inflates past {cap} bytes (bomb?)")
        if not dec.eof:
            raise ValueError(
                f"{what} stream truncated (ran out "
                f"{'of input' if dec.needs_input else 'at the output cap'})"
            )
        buf = dec.unused_data.lstrip(b"\x00")  # xz stream padding is NULs
    return bytes(out)


def _xz_decompress(data: bytes, cap: int) -> bytes:
    import lzma

    return _multistream_decompress(lzma.LZMADecompressor, data, cap, "xz")


def _bz2_decompress(data: bytes, cap: int) -> bytes:
    import bz2

    return _multistream_decompress(bz2.BZ2Decompressor, data, cap, "bz2")


def _zstd_decompress(data: bytes, cap: int) -> bytes:
    found = _zstd_decompressor()
    if found is None:
        raise NotImplementedError(
            "zst archive: no zstd codec available (stdlib compression.zstd "
            "is python>=3.14; pip zstandard not installed) — quarantined, "
            "not silently skipped"
        )
    kind, mod = found
    if kind == "stdlib":
        return _multistream_decompress(mod.ZstdDecompressor, data, cap, "zst")
    reader = mod.ZstdDecompressor().stream_reader(
        io.BytesIO(data), read_across_frames=True  # multi-frame shards
    )
    out = reader.read(cap + 1)
    if len(out) > cap:
        raise ValueError(f"zst inflates past {cap} bytes (bomb?)")
    return out


# The stream-compressor front doors share one shape: sniff by magic,
# decompress bounded (ALL streams), re-sniff for tar, else one bare
# member named after the archive. gzip keeps warc.py's multi-member
# gunzip_members (it also validates the gzip trailer).
def _lz4_decompress(data: bytes, cap: int) -> bytes:
    from . import compress

    return compress.lz4_decompress(data, cap)


def _snappy_decompress(data: bytes, cap: int) -> bytes:
    from . import compress

    return compress.snappy_decompress(data, cap)


_STREAM_COMPRESSORS = (
    (b"\x1f\x8b", "gz", (".gz", ".tgz"),
     lambda d, cap: gunzip_members(d, max_bytes=cap)),
    (b"\xfd7zXZ\x00", "xz", (".xz", ".txz"), _xz_decompress),
    (b"BZh", "bz2", (".bz2", ".tbz2"), _bz2_decompress),
    (b"\x28\xb5\x2f\xfd", "zst", (".zst",), _zstd_decompress),
    # round 9: the data-engineering compressors, decoded by the
    # dependency-free functions/compress.py (checksums verified)
    (b"\x04\x22\x4d\x18", "lz4", (".lz4",), _lz4_decompress),
    (b"\xff\x06\x00\x00sNaPpY", "sz", (".sz", ".snappy"), _snappy_decompress),
)


def _split_archive(
    data: bytes,
    name: str,
    max_member_bytes: int,
    max_total_bytes: int,
    max_members: int,
):
    """Yield (member_name, payload) from one archive's bytes."""
    for magic, label, suffixes, decompress in _STREAM_COMPRESSORS:
        if not bytes(data[: len(magic)]) == magic:
            continue
        # zstd is an optional-import seam (the fast_image_decoder
        # contract): decompress raises NotImplementedError into
        # quarantine when no binding exists — never a silent skip
        inner = decompress(bytes(data), max_total_bytes)
        if len(inner) >= 262 and inner[257:262] == b"ustar":
            data = inner  # .tar.{gz,xz,bz2,zst}
            break
        # bare compressed file: one member, named after the archive —
        # the per-member cap applies the same as inside a zip/tar
        if len(inner) > max_member_bytes:
            raise ValueError(
                f"{label} member inflates past {max_member_bytes} bytes (bomb?)"
            )
        stem = name.rsplit("/", 1)[-1]
        for suf in suffixes:
            if stem.endswith(suf):
                stem = stem[: -len(suf)]
                break
        yield stem, inner
        return
    if data[:4] == b"PK\x03\x04":
        total = 0
        zf = zipfile.ZipFile(io.BytesIO(data))
        infos = [i for i in zf.infolist() if not i.is_dir()]
        if len(infos) > max_members:
            raise ValueError(f"zip has {len(infos)} members (cap {max_members})")
        for info in infos:
            with zf.open(info) as f:
                payload = f.read(max_member_bytes + 1)
                if len(payload) > max_member_bytes:
                    raise ValueError(
                        f"zip member {info.filename!r} exceeds "
                        f"{max_member_bytes} bytes (bomb?)"
                    )
            total += len(payload)
            if total > max_total_bytes:
                raise ValueError(
                    f"zip inflates past {max_total_bytes} bytes (bomb?)"
                )
            yield info.filename, payload
        return
    if len(data) >= 262 and data[257:262] == b"ustar":
        total = 0
        n = 0
        tf = tarfile.open(fileobj=io.BytesIO(data), mode="r:")
        for info in tf:
            if not info.isfile():
                continue
            n += 1
            if n > max_members:
                raise ValueError(f"tar exceeds {max_members} members")
            if info.size > max_member_bytes:
                raise ValueError(
                    f"tar member {info.name!r} claims {info.size} bytes "
                    f"(cap {max_member_bytes})"
                )
            total += info.size
            if total > max_total_bytes:
                raise ValueError(
                    f"tar inflates past {max_total_bytes} bytes (bomb?)"
                )
            f = tf.extractfile(info)
            yield info.name, (f.read() if f else b"")
        return
    raise ValueError("not a recognized archive (zip / tar / gzip / xz / bz2)")


def archive_members(
    archives: DataFrame,
    errors: str = "quarantine",
    max_member_bytes: int = 1 << 28,
    max_total_bytes: int = 1 << 31,
    max_members: int = 100_000,
) -> DataFrame:
    """(path, content) → one row per archive member (MEMBER_SCHEMA).
    A failing archive yields one ``decode_error`` row under
    ``errors="quarantine"`` (default) or fails the task under
    ``errors="raise"``."""
    import pandas as pd

    from pg2kinesis_spark.functions.multimodal import _check_errors

    _check_errors(errors)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in MEMBER_SCHEMA.fieldNames()}

            def emit(path, ordinal, member, payload, err):
                rows["path"].append(path)
                rows["ordinal"].append(ordinal)
                rows["member"].append(member)
                rows["size"].append(len(payload) if payload is not None else None)
                rows["payload"].append(payload)
                rows["decode_error"].append(err)

            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    # buffer per archive: a cap tripping mid-walk must
                    # quarantine the WHOLE archive, not leave a partial
                    # member list next to the error row
                    got = list(
                        _split_archive(
                            bytes(content), path, max_member_bytes,
                            max_total_bytes, max_members,
                        )
                    )
                except Exception as e:  # noqa: BLE001 — quarantine channel
                    if errors == "raise":
                        raise
                    emit(path, None, None, None, f"{type(e).__name__}: {e}")
                    continue
                for i, (member, payload) in enumerate(got):
                    emit(path, i, member, payload, None)
            yield pd.DataFrame(rows)

    return archives.select("path", "content").mapInPandas(kernel, MEMBER_SCHEMA)


def archive_to_corpus(
    archives: DataFrame,
    suffixes: tuple[str, ...] = _TEXT_SUFFIXES,
    errors: str = "quarantine",
    **caps,
) -> DataFrame:
    """Archives → (doc_id, path, member, text): text-suffixed members
    decoded utf-8-with-replacement; doc_id is the cross-engine md5-60
    of path:ordinal:member (the WARC front door's reproducibility
    recipe; the ordinal keeps legally-duplicated member names
    distinct). Quarantined archives' error rows drop here — audit them
    on ``archive_members`` output."""
    from pg2kinesis_spark.functions.sampling import HASH60

    members = archive_members(archives, errors=errors, **caps)
    cond = F.lit(False)
    for s in suffixes:
        cond = cond | F.lower("member").endswith(s)
    key = "concat(path, ':', cast(ordinal as string), ':', member)"
    # utf-8-with-replacement, JVM-side: BINARY->STRING cast wraps the
    # bytes unvalidated, make_valid_utf8 replaces malformed sequences
    # with U+FFFD — ANSI decode() would instead raise
    # MALFORMED_CHARACTER_CODING on the first dirty member
    return (
        members.filter(F.col("decode_error").isNull() & cond)
        .select(
            F.expr(HASH60.format(x=key)).alias("doc_id"),
            "path",
            "member",
            F.expr("make_valid_utf8(cast(payload as string))").alias("text"),
        )
    )
