"""Batch parse of the Postgres ``wal2json`` wire format.

Re-expresses the reference's `_preprocess_wal2json_change`
(reference formatter.py:83-132) on Spark 4's VARIANT type — true
schema-on-read: the JSON is parsed once, values keep their JSON types
for full-change passthrough, and only the fields the pipeline needs are
shredded into columns.

wire message                      operator                     reference
--------------------------------  ---------------------------  ---------
json.loads                        P7  parse_json → variant     :106
xid per message                   variant_get '$.xid'          :110
change-array iteration            P8  posexplode(array<variant>) :113
table regex filter (unanchored)   P5  rlike on unqualified name :116
full-change passthrough           P10 to_json(elem), NO catalog :117-118
  (skips table validation!)           probe (test_formatter.py:184-199)
schema.table qualification        F11 concat                    :121
pk-catalog probe                  J3  broadcast hash join       :122-124
pk lookup by column name          P9  array_position+element_at :126-127
kind.lower()                      F8  lower                     :130
missing table → fail-stop         §8.5 error column             :123-124

Input : (lsn long, payload string [, data_size int])
Output (key mode):  (lsn, change_idx, xid long, table, operation, pkey, error)
Output (full mode): (lsn, change_idx, xid long, operation, change_raw json-string)

Fidelity notes:
- ``str()`` coercion of the pk value (reference :127): JSON null →
  Python ``str(None)`` == ``'None'`` — reproduced via coalesce. JSON
  booleans would differ ('true' vs Python 'True'); no boolean pks exist
  in any reference fixture.
- pk column name absent from columnnames raises ValueError in the
  reference (unhandled crash); here it is an error row with the same
  "'<col>' is not in list" message, raised by the sink's fail-stop.

Scale: per-message parse is embarrassingly parallel (no window — each
wal2json message carries its own xid, reference :110). The catalog join
is broadcast. VARIANT keeps the full-change path from re-serializing
through Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MISSING_TABLE_ERR = 'Unable to locate table: "{}"'
NOT_IN_LIST_ERR = "'{}' is not in list"
DEFAULT_TABLE_PAT = r"[\w_\.]+"


def _exploded(raw: DataFrame, table_pat: str, keep_empty: bool = False) -> DataFrame:
    v = F.expr("try_parse_json(payload)")
    df = raw.withColumn("v", v).withColumn(
        "elems", F.expr("cast(variant_get(v, '$.change') as array<variant>)")
    )
    if keep_empty:
        # Keep one (change_idx=null, elem=null) row per empty/missing
        # change array: the wire message still exists and the streaming
        # sink counts it by data_size like the reference's consume loop
        # (reference __main__.py:86-91) even though it formats nothing.
        df = df.select("*", F.posexplode_outer("elems").alias("change_idx", "elem")).drop("elems")
    else:
        # Messages with an empty/missing change array emit no rows (the
        # reference's falsy-dict and empty-list paths, formatter.py:107,113).
        df = df.select("*", F.posexplode("elems").alias("change_idx", "elem")).drop("elems")
    df = df.select(
        "*",
        F.expr("variant_get(v, '$.xid', 'long')").alias("xid"),
        F.expr("variant_get(elem, '$.table', 'string')").alias("tbl"),
        F.expr("variant_get(elem, '$.schema', 'string')").alias("sch"),
        F.expr("variant_get(elem, '$.kind', 'string')").alias("kind"),
    )
    # P5: unanchored search on the UNqualified table name (reference :116).
    keep = F.col("tbl").rlike("(?U)" + table_pat)
    if keep_empty:
        # Streaming-counter path: non-matching change rows DEGRADE to
        # skeleton rows (all change fields null — indistinguishable from
        # an empty-message row) instead of vanishing, so the sink still
        # counts the wire message even when --table-pat filters out
        # every change (the reference counts pre-filter,
        # __main__.py:86-91). Skeletons never format or put_message —
        # P5's drop semantics for the data path are preserved.
        df = df.withColumn("_keep", keep)
        for c in ("change_idx", "elem", "tbl", "sch", "kind"):
            df = df.withColumn(c, F.when(F.col("_keep"), F.col(c)))
        return df.drop("_keep")
    return df.filter(keep)


def parse_wal2json(
    raw: DataFrame,
    pk_map: DataFrame | None = None,
    table_pat: str | None = None,
    full_change: bool = False,
    keep_empty: bool = False,
) -> DataFrame:
    """``keep_empty=True`` (streaming sink counters) keeps one all-null
    row per empty wire message, and per change ``table_pat`` filters
    out, and carries ``data_size`` and ``is_frame`` (true on those rows)
    through; those rows are exempt from validation (there is no change
    to validate)."""
    table_pat = table_pat if table_pat is not None else DEFAULT_TABLE_PAT
    df = _exploded(raw, table_pat, keep_empty)
    is_change = F.col("change_idx").isNotNull()
    extra = ["data_size", (~is_change).alias("is_frame")] if keep_empty else []

    if full_change:
        # P10: raw change dict passes through unvalidated; operation is the
        # raw (un-lowered) kind, per FullChange.operation (formatter.py:14).
        return df.select(
            "lsn",
            *extra,
            "change_idx",
            "xid",
            F.col("kind").alias("operation"),
            F.expr("to_json(elem)").alias("change_raw"),
        )

    if pk_map is None:
        raise ValueError("pk_map is required unless full_change=True")

    # concat_ws never returns NULL — guard so empty-message rows keep a
    # null table instead of '' (which would fake a catalog miss).
    df = df.withColumn("table", F.when(is_change, F.concat_ws(".", "sch", "tbl")))
    pk = F.broadcast(pk_map.select("table_name", "pk_col_name"))
    df = df.join(pk, on=df["table"] == pk["table_name"], how="left")

    names = F.expr("cast(variant_get(elem, '$.columnnames') as array<string>)")
    values = F.expr("cast(variant_get(elem, '$.columnvalues') as array<string>)")
    df = df.withColumn("pos", F.array_position(names, F.col("pk_col_name")))
    # str() coercion incl. str(None) == 'None' (reference :127).
    pkey = F.coalesce(F.element_at(values, F.col("pos").cast("int")), F.lit("None"))

    return df.select(
        "lsn",
        *extra,
        "change_idx",
        "xid",
        "table",
        F.lower("kind").alias("operation"),
        F.when(F.col("pos") > 0, pkey).alias("pkey"),
        F.coalesce(
            F.when(
                is_change & F.col("table_name").isNull(),
                F.format_string(MISSING_TABLE_ERR.replace("{}", "%s"), F.col("table")),
            ),
            F.when(
                is_change & (F.col("pos").isNull() | (F.col("pos") == 0)),
                F.format_string(NOT_IN_LIST_ERR.replace("{}", "%s"), F.col("pk_col_name")),
            ),
        ).alias("error"),
    )
