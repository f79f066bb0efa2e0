"""Output formatters + the operation filter.

The reference's Formatter hierarchy (formatter.py:146-163) reduces to
pure column expressions — no Python in the hot path:

- CSVFormatter:        '0,CDC,{xid},{table},{operation},{pkey}'
  (golden: '0,CDC,1,public.blue,Update,123456', test_formatter.py:23)
- CSVPayloadFormatter: '0,CDC,' + json of the change namedtuple
  (field order xid, table, operation, pkey — _asdict() order; the
  reference's own test asserts parsed-JSON equality, not bytes,
  test_formatter.py:28-30, so to_json's spacing is conformant)

``filter_operations`` is P6 (reference __main__.py:83-84,97-99): rows
whose operation isn't in the configured set are NULLED, NOT DROPPED —
the sink still receives a put_message(None) per filtered row, which is
what keeps the reference's flush clock ticking (SURVEY §8.6). The
comparison is case-sensitive against a lowercase list, so uppercase
test_decoding ops never match an explicit filter (fidelity §8.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VERSION = "0"
TYPE = "CDC"

ALL_OPERATIONS = ("insert", "update", "delete", "truncate")


def csv_column(
    xid: Column, table: Column, operation: Column, pkey: Column
) -> Column:
    """'{ver},{type},{xid},{table},{operation},{pkey}' (formatter.py:153-155)."""
    return F.concat_ws(
        ",",
        F.lit(VERSION),
        F.lit(TYPE),
        xid.cast("string"),
        table,
        operation,
        pkey,
    )


def csvpayload_column(
    xid: Column, table: Column, operation: Column, pkey: Column
) -> Column:
    """'{ver},{type},{json}' with json field order = _asdict() order
    (formatter.py:161-163)."""
    return F.concat(
        F.lit(VERSION + "," + TYPE + ","),
        F.to_json(
            F.struct(
                xid.alias("xid"),
                table.alias("table"),
                operation.alias("operation"),
                pkey.alias("pkey"),
            )
        ),
    )


def csvpayload_fullchange_column(xid: Column, change_raw: Column) -> Column:
    """Full-change payload: json of {'xid':…, 'change': <raw dict>}
    (FullChange._asdict(); reference formatter.py:13,161-163). The raw
    change re-enters as VARIANT so JSON value types survive byte-faithful."""
    return F.concat(
        F.lit(VERSION + "," + TYPE + ","),
        F.to_json(F.struct(xid.alias("xid"), F.parse_json(change_raw).alias("change"))),
    )


def format_csv(changes: DataFrame) -> DataFrame:
    return changes.withColumn(
        "fmt_msg",
        csv_column(F.col("xid"), F.col("table"), F.col("operation"), F.col("pkey")),
    )


def format_csvpayload(changes: DataFrame, full_change: bool = False) -> DataFrame:
    if full_change:
        return changes.withColumn(
            "fmt_msg", csvpayload_fullchange_column(F.col("xid"), F.col("change_raw"))
        )
    return changes.withColumn(
        "fmt_msg",
        csvpayload_column(F.col("xid"), F.col("table"), F.col("operation"), F.col("pkey")),
    )


def expand_operations(operations: tuple[str, ...] | list[str]) -> tuple[str, ...]:
    """'all' expands to the full lowercase set (reference __main__.py:42-43)."""
    ops: list[str] = []
    for op in operations:
        if op == "all":
            ops.extend(ALL_OPERATIONS)
        else:
            ops.append(op)
    return tuple(dict.fromkeys(ops))


def filter_operations(messages: DataFrame, operations: tuple[str, ...] | list[str]) -> DataFrame:
    """Null-out (never drop) messages whose operation isn't selected.

    Case-sensitive compare (reference __main__.py:84) — uppercase
    test_decoding operations never match the lowercase list (§8.4).
    The row survives with fmt_msg=NULL so sink-side flush accounting
    sees every message, like Consume calling put_message(None)
    (reference __main__.py:97-101).
    """
    ops = expand_operations(operations)
    keep = F.col("operation").isin(*ops)
    return messages.withColumn("fmt_msg", F.when(keep, F.col("fmt_msg")))
