"""Independent decoder for KPL aggregated records, used to check what the
sink put without relying on the sink's own decoder.

Format: 4-byte magic F3 89 9A C2, a protobuf ``AggregatedRecord``
(field 1: partition-key table, field 2: explicit-hash-key table,
field 3: records, each with field 1 key index, field 2 hash-key index,
field 3 data), then the MD5 of the protobuf bytes.
"""

from __future__ import annotations

import hashlib

MAGIC = bytes.fromhex("f3899ac2")


class KplError(ValueError):
    pass


def _fields(buf: bytes):
    """Yield (field number, value) for a protobuf message; a varint field
    yields an int, a length-delimited one yields bytes."""
    pos, end = 0, len(buf)

    def varint() -> int:
        nonlocal pos
        out = shift = 0
        while True:
            if pos >= end:
                raise KplError("truncated varint")
            b = buf[pos]
            pos += 1
            out |= (b & 0x7F) << shift
            if b < 0x80:
                return out
            shift += 7

    while pos < end:
        key = varint()
        field, wire = key >> 3, key & 7
        if wire == 0:
            yield field, varint()
        elif wire == 2:
            n = varint()
            if pos + n > end:
                raise KplError("truncated field")
            yield field, buf[pos : pos + n]
            pos += n
        else:
            raise KplError(f"unexpected wire type {wire}")


def decode(blob: bytes) -> list[tuple[str, bytes]]:
    """(partition key, data) of every user record, in record order."""
    if blob[:4] != MAGIC:
        raise KplError("bad magic")
    body, digest = blob[4:-16], blob[-16:]
    if hashlib.md5(body).digest() != digest:
        raise KplError("md5 mismatch")
    keys: list[str] = []
    out: list[tuple[int, bytes]] = []
    for field, value in _fields(body):
        if field == 1:
            keys.append(value.decode())
        elif field == 3:
            idx, data = None, None
            for f, v in _fields(value):
                if f == 1:
                    idx = v
                elif f == 3:
                    data = v
            if idx is None or data is None:
                raise KplError("record without key index or data")
            out.append((idx, data))
    try:
        return [(keys[i], d) for i, d in out]
    except IndexError:
        raise KplError("key index out of range") from None
