"""KPL aggregated-record wire format — pure-Python encode/decode.

The reference publishes aggregates via the ``aws_kinesis_agg`` library
(reference stream.py:16,36); its on-wire format is the public KPL
aggregation format that standard Kinesis consumer deaggregators read:

    4-byte magic  F3 89 9A C2
    protobuf      AggregatedRecord {
                      repeated string partition_key_table     = 1;
                      repeated string explicit_hash_key_table = 2;
                      repeated Record records                 = 3;
                  }
                  Record {
                      required uint64 partition_key_index     = 1;
                      optional uint64 explicit_hash_key_index = 2;
                      required bytes  data                    = 3;
                  }
    16-byte MD5 of the protobuf payload

Hand-encoded against the protobuf wire spec (tag = field_number << 3 |
wire_type; varints; length-delimited strings/messages) so no protobuf
dependency is needed — the messages involved use only wire types 0
(varint) and 2 (length-delimited).
"""

from __future__ import annotations

import hashlib

KPL_MAGIC = b"\xf3\x89\x9a\xc2"

# AggregatedRecord field tags (field << 3 | wire_type)
_TAG_PK_TABLE = 0x0A  # field 1, length-delimited
_TAG_EHK_TABLE = 0x12  # field 2, length-delimited
_TAG_RECORD = 0x1A  # field 3, length-delimited
# Record field tags
_TAG_PK_INDEX = 0x08  # field 1, varint
_TAG_EHK_INDEX = 0x10  # field 2, varint
_TAG_DATA = 0x1A  # field 3, length-delimited


# Single-byte varints (n < 128) dominate real aggregates — small record
# lengths, small key indices — so they come from a precomputed table.
_VARINT1 = [bytes([i]) for i in range(0x80)]


def _varint(n: int) -> bytes:
    if n < 0x80:
        return _VARINT1[n]
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def serialize_kpl(records: list[tuple[str, bytes]]) -> bytes:
    """Pack (partition_key, data) user records into one KPL aggregate.

    The plain reference encoder: the sink frames incrementally in
    ``sinks/kinesis.py::AggRecord.add``, and tests/test_kpl.py pins those
    bytes against this one."""
    key_idx: dict[str, int] = {}
    table, buf = bytearray(), bytearray()
    for pk, data in records:
        if pk not in key_idx:
            key_idx[pk] = len(key_idx)
            kb = pk.encode()
            table += bytes([_TAG_PK_TABLE]) + _varint(len(kb)) + kb
        rec = bytes([_TAG_PK_INDEX]) + _varint(key_idx[pk]) + bytes([_TAG_DATA]) + _varint(len(data)) + data
        buf += bytes([_TAG_RECORD]) + _varint(len(rec)) + rec
    payload = bytes(table + buf)
    return KPL_MAGIC + payload + hashlib.md5(payload).digest()


def deaggregate_kpl(blob: bytes) -> list[tuple[str, bytes]]:
    """Unpack a KPL aggregate; raises ValueError on bad magic/checksum.

    This is what a standard Kinesis consumer-side deaggregator does —
    the round-trip proof that the sink's bytes are readable downstream.
    """
    if blob[:4] != KPL_MAGIC:
        raise ValueError("not a KPL aggregated record: bad magic")
    payload, digest = blob[4:-16], blob[-16:]
    if hashlib.md5(payload).digest() != digest:
        raise ValueError("KPL aggregate checksum mismatch")
    keys: list[str] = []
    records: list[tuple[int, bytes]] = []
    pos = 0
    while pos < len(payload):
        tag = payload[pos]
        pos += 1
        if tag in (_TAG_PK_TABLE, _TAG_EHK_TABLE):
            ln, pos = _read_varint(payload, pos)
            if tag == _TAG_PK_TABLE:
                keys.append(payload[pos : pos + ln].decode())
            pos += ln
        elif tag == _TAG_RECORD:
            ln, pos = _read_varint(payload, pos)
            rec, rpos = payload[pos : pos + ln], 0
            pos += ln
            pk_i, data = 0, b""
            while rpos < len(rec):
                rtag = rec[rpos]
                rpos += 1
                if rtag in (_TAG_PK_INDEX, _TAG_EHK_INDEX):
                    v, rpos = _read_varint(rec, rpos)
                    if rtag == _TAG_PK_INDEX:
                        pk_i = v
                else:  # _TAG_DATA (or tags — skip length-delimited)
                    ln2, rpos = _read_varint(rec, rpos)
                    if rtag == _TAG_DATA:
                        data = rec[rpos : rpos + ln2]
                    rpos += ln2
            records.append((pk_i, data))
        else:
            raise ValueError(f"unexpected tag 0x{tag:02x} in KPL aggregate")
    return [(keys[i] if i < len(keys) else "", d) for i, d in records]
