"""Golden-parity tests for the CDC parse/format operators.

Every expected value is ported from the reference's own unit tests
(reference tests/test_formatter.py) — same inputs, same expected
strings/structs — so reference fidelity, including the weird bits
(SURVEY §8), is pinned at the DataFrame level.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.catalog import primary_key_map
from pg2kinesis_spark.operators.errors import CdcParseError
from pg2kinesis_spark.operators.formatters import (
    csv_column,
    csvpayload_column,
    expand_operations,
    filter_operations,
    format_csv,
)
from pg2kinesis_spark.operators.test_decoding import parse_test_decoding
from pg2kinesis_spark.operators.wal2json import parse_wal2json
from pg2kinesis_spark.sinks.kinesis import InMemoryTransport, KinesisLikeWriter
from pg2kinesis_spark.streaming.pipeline import _sink_rows

UUID = "00079f3e-0479-4475-acff-4f225cc5188a"


@pytest.fixture(scope="module")
def pk_map(spark):
    # Mirrors the reference test fixture (test_formatter.py:35-36).
    catalog = spark.createDataFrame(
        [
            ("public.test_table", "uuid", "uuid", 0),
            ("public.test_table2", "name", "character varying", 0),
        ],
        "table_name string, col_name string, col_type string, col_ord_pos int",
    )
    return primary_key_map(catalog)


def _raw(spark, payloads):
    return spark.createDataFrame(
        [(i, len(p.encode()), p) for i, p in enumerate(payloads)],
        "lsn long, data_size int, payload string",
    )


def _drain(parsed):
    """Put frame-keeping parse output through the stream tail into the
    sink, which fail-stops on the first error row in LSN order, as the
    stream does."""
    KinesisLikeWriter(InMemoryTransport()).process_batch(_sink_rows(parsed, "CSV", ("all",)), 0)


# ---------- test_decoding ----------

def test_begin_commit_emit_nothing(spark, pk_map):
    out = parse_test_decoding(_raw(spark, ["BEGIN 100", "COMMIT"]), pk_map).collect()
    assert out == []


def test_proper_update_and_delete(spark, pk_map):
    # test_formatter.py:89-103 — xid carried from BEGIN, op NOT lowercased.
    rows = parse_test_decoding(
        _raw(
            spark,
            [
                "BEGIN 1337",
                f"table public.test_table: UPDATE: uuid[uuid]:'{UUID}'",
                "table public.test_table2: DELETE: name[character varying]:'Bling-2'",
            ],
        ),
        pk_map,
    ).orderBy("lsn").collect()
    assert len(rows) == 2
    assert rows[0].xid == "1337"
    assert rows[0].table == "public.test_table"
    assert rows[0].operation == "UPDATE"
    assert rows[0].pkey == UUID
    assert rows[0].error is None
    assert rows[1].xid == "1337"
    assert rows[1].table == "public.test_table2"
    assert rows[1].operation == "DELETE"
    assert rows[1].pkey == "Bling-2"


def test_unquoted_pk_value(spark, pk_map):
    # regex allows optional quotes: :'?([\w\-]+)'? (formatter.py:19)
    rows = parse_test_decoding(
        _raw(spark, ["BEGIN 9", "table public.test_table: INSERT: uuid[uuid]:12345"]), pk_map
    ).collect()
    assert rows[0].pkey == "12345"


def test_xid_initial_empty_string(spark, pk_map):
    # cur_xact initial value is '' (formatter.py:37) — a change before any
    # BEGIN gets the empty xid.
    rows = parse_test_decoding(
        _raw(spark, [f"table public.test_table: UPDATE: uuid[uuid]:'{UUID}'"]), pk_map
    ).collect()
    assert rows[0].xid == ""


def test_unknown_change_raises(spark, pk_map):
    df = parse_test_decoding(_raw(spark, ["UNKNOWN BLING"]), pk_map, keep_frames=True)
    with pytest.raises(CdcParseError, match='Unknown change: "UNKNOWN BLING"'):
        _drain(df)


def test_unknown_table_raises_with_colon(spark, pk_map):
    # Reference error text keeps the trailing colon (formatter.py:70).
    df = parse_test_decoding(
        _raw(spark, [f"table not_a_table: UPDATE: uuid[uuid]:'{UUID}'"]), pk_map, keep_frames=True
    )
    with pytest.raises(CdcParseError, match='Unable to locate table: "not_a_table:"'):
        _drain(df)


def test_missing_pk_raises(spark, pk_map):
    df = parse_test_decoding(
        _raw(spark, [f"table public.test_table: UPDATE: not[not]:'{UUID}'"]), pk_map, keep_frames=True
    )
    with pytest.raises(
        CdcParseError, match='Unable to locate primary key for table "public.test_table"'
    ):
        _drain(df)


def test_table_pat_skips_unknown_tables(spark, pk_map):
    # --table-pat is the only way to skip unknown tables (SURVEY §8.2).
    rows = parse_test_decoding(
        _raw(
            spark,
            [
                "BEGIN 5",
                f"table not_a_table: UPDATE: uuid[uuid]:'{UUID}'",
                f"table public.test_table: UPDATE: uuid[uuid]:'{UUID}'",
            ],
        ),
        pk_map,
        table_pat=r"public\.test_table",
    ).collect()
    assert len(rows) == 1 and rows[0].table == "public.test_table"


def test_xid_carry_forward_across_transactions(spark, pk_map):
    rows = parse_test_decoding(
        _raw(
            spark,
            [
                "BEGIN 1",
                "table public.test_table: INSERT: uuid[uuid]:'a-1'",
                "table public.test_table: UPDATE: uuid[uuid]:'a-2'",
                "COMMIT",
                "BEGIN 2",
                "table public.test_table: DELETE: uuid[uuid]:'a-3'",
                "COMMIT",
            ],
        ),
        pk_map,
    ).orderBy("lsn").collect()
    assert [r.xid for r in rows] == ["1", "1", "2"]


def _stamp(df):
    """The batch carry with its BEGIN rows taken from ``df`` itself."""
    from pg2kinesis_spark.operators.test_decoding import stamp_xid_scalable

    return stamp_xid_scalable(df, df.filter(F.col("begin_xid").isNotNull()))


def _forward_fill(rows):
    """Pure-Python W1 reference: walk (lsn, begin_xid) rows in lsn order
    (NULL lsn first, as Spark's ascending order places it) and carry the
    last BEGIN xid forward, '' before any (reference formatter.py:37)."""
    out, cur = set(), ""
    for lsn, begin in sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0)):
        cur = begin if begin is not None else cur
        out.add((lsn, cur))
    return out


def test_stamp_xid_null_order_col_sorts_first_and_survives(spark):
    """NULL order_col must not corrupt the scan: ascending order places
    nulls FIRST, so a NULL-lsn row belongs in bucket 0, before any BEGIN
    — xid '' — and every real row still gets its correct carry. A
    null-skipping bucket expression would route it to the LAST bucket
    and stamp it with the final transaction's xid instead."""
    rows = [
        (None, None),  # orphan row with no offset: sorts before everything
        (1, "100"),
        (2, None),
        (3, "200"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "lsn long, begin_xid string")
    got = {r.lsn: r.xid for r in _stamp(df).collect()}
    assert got[None] == ""  # before any BEGIN, never "200"
    assert got[1] == "100" and got[2] == "100"
    assert got[3] == "200" and got[4] == "200"


def test_stamp_xid_scalable_matches_forward_fill(spark):
    """The two-phase carry equals a sequential forward fill — including
    NULL order rows, empty-carry buckets, rows before any BEGIN, a
    many-transaction stream that spans every bucket, and rows below and
    far above the BEGIN rows' [min, max] span, which the bucket function
    clamps into the first and last bucket."""
    cases = [
        # orphan nulls + sparse BEGINs (the null-bucket regression shape)
        [(None, None), (1, "100"), (2, None), (3, "200"), (4, None)],
        # no BEGIN anywhere: every xid ''
        [(1, None), (2, None), (3, None)],
        # BEGIN-dense stream crossing all buckets
        [(i, str(i) if i % 3 == 0 else None) for i in range(1, 400)],
        # single row
        [(7, None)],
        # rows below and above the bounds of the BEGIN rows
        [(-900, None), (1, None), (5, "500"), (6, None), (9, "900"), (12, None), (5000, None)],
        # BEGINs in a narrow middle of a wide span
        [(i, str(i) if 400 <= i <= 410 and i % 2 == 0 else None) for i in range(-50, 1000, 7)],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "lsn long, begin_xid string")
        got = {(r.lsn, r.xid) for r in _stamp(df).collect()}
        assert got == _forward_fill(rows), rows


def test_stamp_xid_scalable_empty_input(spark):
    df = spark.createDataFrame([], "lsn long, begin_xid string")
    out = _stamp(df)
    assert out.collect() == [] and "xid" in out.columns


def test_parse_test_decoding_xid_matches_forward_fill(spark, pk_map):
    payloads = [
        "table public.test_table: INSERT: uuid[uuid]:'a-0'",  # before any BEGIN
        "BEGIN 1",
        "table public.test_table: INSERT: uuid[uuid]:'a-1'",
        "COMMIT",
        "BEGIN 2",
        "table public.test_table: UPDATE: uuid[uuid]:'a-2'",
        "table public.test_table: DELETE: uuid[uuid]:'a-3'",
        "COMMIT",
        "table public.test_table: INSERT: uuid[uuid]:'a-4'",  # after the last BEGIN
    ]
    begins = [p.split(" ")[1] if p.startswith("BEGIN ") else None for p in payloads]
    want = {
        (lsn, xid)
        for lsn, xid in _forward_fill(list(enumerate(begins)))
        if payloads[lsn].startswith("table ")
    }
    got = parse_test_decoding(_raw(spark, payloads), pk_map).select("lsn", "xid").collect()
    assert {tuple(r) for r in got} == want and len(got) == 5


# ---------- wal2json ----------

def _w2j(xid, *changes):
    return json.dumps({"xid": xid, "change": list(changes)})


def _chg(kind="insert", schema="public", table="test_table", names=("uuid",), types=("int4",), values=(UUID,)):
    return {
        "kind": kind,
        "schema": schema,
        "table": table,
        "columnnames": list(names),
        "columntypes": list(types),
        "columnvalues": list(values),
    }


def test_wal2json_empty_change_emits_nothing(spark, pk_map):
    assert parse_wal2json(_raw(spark, [_w2j(101)]), pk_map).collect() == []


def test_wal2json_insert_and_delete(spark, pk_map):
    rows = parse_wal2json(
        _raw(
            spark,
            [
                _w2j(1337, _chg()),
                _w2j(1337, _chg(kind="delete", table="test_table2", names=("name",), types=("varchar",), values=("Bling-2",))),
            ],
        ),
        pk_map,
    ).orderBy("lsn").collect()
    assert rows[0].xid == 1337
    assert rows[0].table == "public.test_table"
    assert rows[0].operation == "insert"
    assert rows[0].pkey == UUID
    assert rows[0].error is None
    assert rows[1].table == "public.test_table2"
    assert rows[1].operation == "delete"
    assert rows[1].pkey == "Bling-2"


def test_wal2json_kind_is_lowercased(spark, pk_map):
    rows = parse_wal2json(_raw(spark, [_w2j(1, _chg(kind="INSERT"))]), pk_map).collect()
    assert rows[0].operation == "insert"


def test_wal2json_pk_by_name_not_position(spark, pk_map):
    rows = parse_wal2json(
        _raw(
            spark,
            [_w2j(7, _chg(names=("other", "uuid"), types=("text", "uuid"), values=("zzz", "the-pk")))],
        ),
        pk_map,
    ).collect()
    assert rows[0].pkey == "the-pk"


def test_wal2json_int_pk_stringified(spark, pk_map):
    rows = parse_wal2json(_raw(spark, [_w2j(7, _chg(values=(42,)))]), pk_map).collect()
    assert rows[0].pkey == "42"


def test_wal2json_null_pk_is_str_none(spark, pk_map):
    # str(None) == 'None' (reference formatter.py:127)
    rows = parse_wal2json(_raw(spark, [_w2j(7, _chg(values=(None,)))]), pk_map).collect()
    assert rows[0].pkey == "None"


def test_wal2json_multi_change_explodes(spark, pk_map):
    rows = parse_wal2json(
        _raw(spark, [_w2j(9, _chg(values=("a",)), _chg(kind="update", values=("b",)))]), pk_map
    ).orderBy("change_idx").collect()
    assert [r.pkey for r in rows] == ["a", "b"]
    assert [r.xid for r in rows] == [9, 9]


def test_wal2json_unknown_table_raises(spark, pk_map):
    df = parse_wal2json(_raw(spark, [_w2j(100, _chg(table="not_a_table"))]), pk_map, keep_empty=True)
    with pytest.raises(CdcParseError, match='Unable to locate table: "public.not_a_table"'):
        _drain(df)


def test_wal2json_full_change_skips_validation(spark, pk_map):
    # test_formatter.py:184-199 — unknown table passes unvalidated.
    change = _chg(table="not_a_table")
    rows = parse_wal2json(_raw(spark, [_w2j(100, change)]), full_change=True).collect()
    assert len(rows) == 1
    assert rows[0].xid == 100
    assert rows[0].operation == "insert"  # raw kind, not lowered (already lower here)
    assert json.loads(rows[0].change_raw) == change


def test_wal2json_full_change_preserves_json_types(spark):
    # VARIANT round-trip keeps ints/nulls/floats as JSON types.
    change = _chg(names=("a", "b", "c"), types=("int4", "text", "f8"), values=(42, None, 1.5))
    rows = parse_wal2json(_raw(spark, [_w2j(1, change)]), full_change=True).collect()
    assert json.loads(rows[0].change_raw) == change


# ---------- formatters ----------

def test_csv_formatter_golden(spark):
    # '0,CDC,1,public.blue,Update,123456' (test_formatter.py:20-23)
    df = spark.createDataFrame(
        [(1, "public.blue", "Update", "123456")], "xid long, table string, operation string, pkey string"
    )
    out = df.select(csv_column(F.col("xid"), F.col("table"), F.col("operation"), F.col("pkey")).alias("fmt_msg")).collect()
    assert out[0].fmt_msg == "0,CDC,1,public.blue,Update,123456"


def test_csvpayload_formatter_golden(spark):
    # starts with '0,CDC,'; payload parses to the change dict (test_formatter.py:26-30)
    df = spark.createDataFrame(
        [(1, "public.blue", "Update", "123456")], "xid long, table string, operation string, pkey string"
    )
    out = df.select(
        csvpayload_column(F.col("xid"), F.col("table"), F.col("operation"), F.col("pkey")).alias("fmt_msg")
    ).collect()
    assert out[0].fmt_msg.startswith("0,CDC,")
    assert json.loads(out[0].fmt_msg.split(",", 2)[-1]) == {
        "xid": 1,
        "table": "public.blue",
        "operation": "Update",
        "pkey": "123456",
    }


def test_end_to_end_test_decoding_csv(spark, pk_map):
    rows = format_csv(
        parse_test_decoding(
            _raw(spark, ["BEGIN 1337", f"table public.test_table: UPDATE: uuid[uuid]:'{UUID}'"]),
            pk_map,
        )
    ).collect()
    assert rows[0].error is None
    assert rows[0].fmt_msg == f"0,CDC,1337,public.test_table,UPDATE,{UUID}"


def test_csvpayload_fullchange_golden(spark, pk_map):
    # FullChange._asdict() → {'xid':…, 'change': <raw dict>} with JSON
    # value types preserved through VARIANT (formatter.py:13,161-163).
    from pg2kinesis_spark.operators.formatters import format_csvpayload

    change = _chg(names=("uuid", "n"), types=("uuid", "int4"), values=(UUID, 42))
    parsed = parse_wal2json(_raw(spark, [_w2j(1337, change)]), full_change=True)
    row = format_csvpayload(parsed, full_change=True).collect()[0]
    assert row.fmt_msg.startswith("0,CDC,")
    payload = json.loads(row.fmt_msg.split(",", 2)[-1])
    assert payload["xid"] == 1337
    assert payload["change"] == change  # ints stay ints, not strings


def test_unicode_table_and_pkey(spark):
    # Python's re treats \w as unicode; the (?U) prefix gives Java regex
    # the same semantics (SURVEY §1.3 unicode note).
    catalog = spark.createDataFrame(
        [("public.タグ", "名前", "text", 0)],
        "table_name string, col_name string, col_type string, col_ord_pos int",
    )
    pk = primary_key_map(catalog)
    rows = parse_test_decoding(
        _raw(spark, ["BEGIN 5", "table public.タグ: INSERT: 名前[text]:'値-1'"]), pk
    ).collect()
    assert rows[0].table == "public.タグ"
    assert rows[0].pkey == "値-1"
    assert rows[0].error is None


# ---------- operation filter (P6 / §8.4 / §8.6) ----------

def test_expand_all():
    assert expand_operations(["all"]) == ("insert", "update", "delete", "truncate")


def test_filter_nulls_but_keeps_rows(spark):
    df = spark.createDataFrame(
        [(1, "insert", "m1"), (2, "update", "m2"), (3, "delete", "m3")],
        "lsn long, operation string, fmt_msg string",
    )
    out = filter_operations(df, ["insert"]).orderBy("lsn").collect()
    assert len(out) == 3  # rows survive — flush clock parity (§8.6)
    assert [r.fmt_msg for r in out] == ["m1", None, None]


def test_filter_is_case_sensitive(spark):
    # test_decoding's uppercase ops never match the lowercase list (§8.4).
    df = spark.createDataFrame([(1, "UPDATE", "m1")], "lsn long, operation string, fmt_msg string")
    out = filter_operations(df, ["update"]).collect()
    assert out[0].fmt_msg is None
