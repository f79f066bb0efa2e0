"""pgoutput binary protocol: decode unit tests against hand-packed
bytes, and the Spark parse pipeline end-to-end."""

from __future__ import annotations

import struct

import pytest

from pg2kinesis_spark.operators.pgoutput import (
    decode_message,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
    pgoutput_cdc_changes,
    relation_registry,
)


def test_decode_begin_commit_hand_packed():
    # independent of the encoders: bytes packed inline per the spec
    b = b"B" + struct.pack(">QQI", 0x1_0000_0010, 0, 777)
    assert decode_message(b) == {"op": "begin", "xid": 777, "final_lsn": 0x1_0000_0010}
    c = b"C" + struct.pack(">BQQQ", 0, 16, 32, 0)
    assert decode_message(c) == {"op": "commit", "commit_lsn": 16, "end_lsn": 32}


def test_decode_relation_and_tuples_hand_packed():
    r = (
        b"R"
        + struct.pack(">I", 55)
        + b"public\x00users\x00d"
        + struct.pack(">H", 2)
        + b"\x01id\x00" + struct.pack(">Ii", 23, -1)
        + b"\x00name\x00" + struct.pack(">Ii", 25, -1)
    )
    d = decode_message(r)
    assert d["rel_id"] == 55 and d["relname"] == "users"
    assert d["col_names"] == ["id", "name"] and d["key_cols"] == ["id"]

    ins = (
        b"I"
        + struct.pack(">I", 55)
        + b"N"
        + struct.pack(">H", 3)
        + b"t" + struct.pack(">I", 1) + b"7"
        + b"n"
        + b"u"
    )
    d = decode_message(ins)
    assert d == {"op": "insert", "rel_id": 55, "new": ["7", None, "<unchanged>"], "old": None}


def test_encode_decode_roundtrip_all_ops():
    msgs = [
        encode_begin(100, 42),
        encode_relation(9, "public", "t", ["id", "v"], key_cols=("id",)),
        encode_insert(9, ["1", "hello"]),
        encode_update(9, ["1", "world"], old=["1", None], old_kind="O"),
        encode_delete(9, ["1", "<unchanged>"]),
        encode_commit(100, 101),
    ]
    ops = [decode_message(m)["op"] for m in msgs]
    assert ops == ["begin", "relation", "insert", "update", "delete", "commit"]
    upd = decode_message(msgs[3])
    assert upd["new"] == ["1", "world"] and upd["old"] == ["1", None]
    assert decode_message(msgs[4])["old"] == ["1", "<unchanged>"]
    with pytest.raises(ValueError):
        decode_message(b"Zjunk")


def _stream(spark, unicode_table=False):
    rel = "tüble" if unicode_table else "users"
    msgs = [
        (10, encode_relation(55, "public", rel, ["id", "name"], key_cols=("id",))),
        (20, encode_begin(60, 900)),
        (30, encode_insert(55, ["1", "alice"])),
        (40, encode_update(55, ["1", "bob"], old=["1", "alice"], old_kind="O")),
        (50, encode_commit(60, 61)),
        (60, encode_begin(95, 901)),
        (70, encode_delete(55, ["1", None])),
        (80, encode_commit(95, 96)),
    ]
    return spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, payload binary"
    )


def test_relation_registry_last_wins(spark):
    raw = _stream(spark)
    # re-send the relation with a new column set at a later lsn
    extra = spark.createDataFrame(
        [(90, bytearray(encode_relation(55, "public", "users", ["id", "name", "age"], key_cols=("id",))))],
        "lsn long, payload binary",
    )
    reg = relation_registry(raw.union(extra)).collect()
    assert len(reg) == 1
    assert reg[0]["col_names"] == ["id", "name", "age"]


def test_pgoutput_cdc_changes_end_to_end(spark):
    out = pgoutput_cdc_changes(_stream(spark)).orderBy("lsn").collect()
    assert [(r["operation"], r["xid"]) for r in out] == [
        ("insert", "900"),
        ("update", "900"),
        ("delete", "901"),
    ]
    ins, upd, dele = out
    assert ins["table"] == "public.users"
    assert ins["row"] == {"id": "1", "name": "alice"} and ins["pkey"] == "1"
    assert upd["row"] == {"id": "1", "name": "bob"}  # the new tuple
    assert dele["row"] == {"id": "1", "name": None}  # the old tuple
    assert dele["pkey"] == "1"  # from the key column
    assert {(r["change_idx"], r["error"]) for r in out} == {(0, None)}


def test_parse_handles_unicode_and_plan_shape(spark):
    df = pgoutput_cdc_changes(_stream(spark, unicode_table=True))
    rows = df.collect()
    assert all(r["table"] == "public.tüble" for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # relation metadata joins via broadcast; no cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pgoutput_unknown_rel_surfaces_error(spark):
    msgs = [
        (10, encode_begin(30, 900)),
        (20, encode_insert(99, ["1", "ghost"])),  # no Relation for 99
        (30, encode_commit(30, 31)),
    ]
    raw = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, payload binary"
    )
    rows = pgoutput_cdc_changes(raw).collect()
    assert len(rows) == 1
    assert rows[0]["error"] == "no Relation message for rel_id 99"


def test_pgoutput_property_roundtrip():
    """Arbitrary tuple payloads (unicode, None, <unchanged>, empty
    strings) survive encode->decode for every row op."""
    from hypothesis import given, settings, strategies as st

    val = st.one_of(
        st.none(),
        st.just("<unchanged>"),
        st.text(max_size=30),
    )
    vals = st.lists(val, min_size=0, max_size=8)

    @settings(max_examples=120, deadline=None)
    @given(vals, vals, st.integers(min_value=0, max_value=2**31 - 1))
    def prop(new, old, rel_id):
        d = decode_message(encode_insert(rel_id, new))
        assert d["new"] == new and d["rel_id"] == rel_id
        d = decode_message(encode_update(rel_id, new, old=old, old_kind="O"))
        assert d["new"] == new and d["old"] == old
        d = decode_message(encode_delete(rel_id, old))
        assert d["old"] == old

    prop()


def test_begin_stats_jvm_twin_matches_kernel(spark):
    """The pure-JVM ``begins`` twin pgoutput_cdc_changes feeds to
    stamp_xid_scalable's build jobs must agree byte-for-byte with the
    Python kernel's Begin decode — including xids above 2^31 (uint32)."""
    from pyspark.sql import functions as F

    msgs = [
        (10, encode_relation(55, "public", "users", ["id"], key_cols=("id",))),
        (20, encode_begin(60, 900)),
        (30, encode_insert(55, ["1"])),
        (40, encode_commit(60, 61)),
        (50, encode_begin(95, 2**32 - 7)),  # top-bit-set uint32 xid
        (60, encode_insert(55, ["2"])),
        (70, encode_commit(95, 96)),
    ]
    raw = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, payload binary"
    )
    twin = (
        raw.filter(F.expr("substring(payload, 1, 1) = x'42'"))
        .select(
            "lsn",
            F.conv(F.hex(F.expr("substring(payload, 18, 4)")), 16, 10).alias("begin_xid"),
        )
        .orderBy("lsn")
        .collect()
    )
    assert [(r.lsn, r.begin_xid) for r in twin] == [
        (20, "900"),
        (50, str(2**32 - 7)),
    ]
    # and the stamped pipeline attributes both transactions correctly
    out = pgoutput_cdc_changes(raw).orderBy("lsn").collect()
    assert [(r.operation, r.xid) for r in out] == [
        ("insert", "900"),
        ("insert", str(2**32 - 7)),
    ]


def test_truncate_decode_encode_roundtrip():
    from pg2kinesis_spark.operators.pgoutput import encode_truncate

    # hand-packed per the protocol doc: 'T' nrels(4) options(1) relids
    b = b"T" + struct.pack(">I", 2) + bytes([3]) + struct.pack(">2I", 55, 77)
    assert decode_message(b) == {
        "op": "truncate",
        "rel_ids": [55, 77],
        "cascade": True,
        "restart_identity": True,
    }
    assert encode_truncate([55, 77], cascade=True, restart_identity=True) == b
    assert decode_message(encode_truncate([9]))["rel_ids"] == [9]


def test_pgoutput_cdc_changes_truncate_rows(spark):
    """Truncate emits one change row per rel (xid-attributed, NULL
    pkey/row)."""
    from pg2kinesis_spark.operators.pgoutput import encode_truncate

    msgs = [
        (10, encode_relation(55, "public", "users", ["id", "name"], key_cols=("id",))),
        (15, encode_relation(66, "public", "other", ["id"], key_cols=("id",))),
        (20, encode_begin(60, 900)),
        (30, encode_insert(55, ["1", "alice"])),
        (40, encode_insert(55, ["2", "bob"])),
        (45, encode_insert(66, ["7"])),
        (50, encode_commit(60, 61)),
        (60, encode_begin(95, 901)),
        (70, encode_truncate([55], restart_identity=True)),
        (80, encode_insert(55, ["3", "carol"])),
        (90, encode_commit(95, 96)),
    ]
    raw = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, payload binary"
    )
    ch = pgoutput_cdc_changes(raw).orderBy("lsn").collect()
    tr = [r for r in ch if r.operation == "truncate"]
    assert len(tr) == 1
    assert tr[0].table == "public.users" and tr[0].xid == "901"
    assert tr[0].pkey is None and tr[0].row is None and tr[0].error is None


def test_pgoutput_xid_matches_forward_fill(spark):
    """pgoutput_cdc_changes's xid equals a Python forward fill over the decoded
    corpus in lsn order, including a change row before the first Begin
    and one after the last Commit (outside the Begin frames' span)."""
    import base64

    from pg2kinesis_spark import fixtures as fx

    rows = [(lsn, base64.b64decode(p)) for lsn, _size, p in fx.gen_pgoutput(n_txns=200, seed=9)]
    rows += [(1, encode_insert(101, ["-1", "below"])), (rows[-1][0] + 10_000, encode_insert(101, ["-2", "above"]))]
    want, cur = [], ""
    for lsn, msg in sorted(rows):
        d = decode_message(msg)
        if d["op"] == "begin":
            cur = str(d["xid"])
        elif d["op"] in ("insert", "update", "delete"):
            want.append((lsn, d["op"], cur))
        elif d["op"] == "truncate":
            want += [(lsn, "truncate", cur)] * len(d["rel_ids"])
    raw = spark.createDataFrame([(lsn, bytearray(m)) for lsn, m in rows], "lsn long, payload binary")
    got = sorted(tuple(r) for r in pgoutput_cdc_changes(raw).select("lsn", "operation", "xid").collect())
    assert got == sorted(want) and len(got) > 100
    assert want[0][2] == "" and want[-1][2] != ""
