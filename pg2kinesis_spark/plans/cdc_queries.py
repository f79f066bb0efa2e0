"""Oracle-checked queries for the CDC pipeline itself.

These run the real parse/enrich/format operators over the committed
Group-A fixture corpus (fixtures/*.parquet, seed=42) and are verified
against DuckDB SQL that re-derives the same result independently —
so the reference semantics (xid carry-forward, catalog last-wins,
pk-by-name lookup, str(None) coercion, case-sensitive op filter) are
all hash-checked, not just unit-tested.

The fixture corpus is scale-factor-independent; sf_dir is ignored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2kinesis_spark.catalog import build_pk_catalog, primary_key_map
from pg2kinesis_spark.operators.formatters import filter_operations, format_csv
from pg2kinesis_spark.operators.test_decoding import parse_test_decoding
from pg2kinesis_spark.operators.wal2json import parse_wal2json

FIXTURES_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "fixtures")


def _fx(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(FIXTURES_DIR, f"{name}.parquet"))


def _pk_map(spark: SparkSession) -> DataFrame:
    return primary_key_map(_fx(spark, "pk_catalog"))


def catalog_pk_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+J1+J2+O1+A4: information_schema pipeline → last-wins pk map."""
    cat = build_pk_catalog(
        _fx(spark, "info_tables"),
        _fx(spark, "info_table_constraints"),
        _fx(spark, "info_key_column_usage"),
        _fx(spark, "info_columns"),
    )
    return primary_key_map(cat).select("table_name", "pk_col_name", "pk_col_type").orderBy("table_name")


def cdc_td_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P5+W1+J3: full test_decoding parse of the fixture stream; the
    xid column hash-checks the batch carry (``stamp_xid_scalable``)
    against the DuckDB oracle's forward fill."""
    out = parse_test_decoding(_fx(spark, "cdc_test_decoding"), _pk_map(spark))
    return out.select("lsn", "xid", "table", "operation", "pkey").orderBy("lsn")


def cdc_td_format_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """...plus F7 CSV assembly — the reference's CSVFormatter output."""
    out = format_csv(parse_test_decoding(_fx(spark, "cdc_test_decoding"), _pk_map(spark)))
    return out.select("lsn", "fmt_msg").orderBy("lsn")


def cdc_w2j_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7-P9+F8+J3: full wal2json parse (VARIANT shredding)."""
    out = parse_wal2json(_fx(spark, "cdc_wal2json"), _pk_map(spark))
    return out.select("lsn", "change_idx", "xid", "table", "operation", "pkey").orderBy("lsn", "change_idx")


def cdc_w2j_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: case-sensitive operation filter with null-out-not-drop
    semantics (reference __main__.py:97-99, SURVEY §8.6)."""
    parsed = parse_wal2json(_fx(spark, "cdc_wal2json"), _pk_map(spark))
    msgs = format_csv(parsed)
    out = filter_operations(msgs, ["insert", "update"])
    return out.select("lsn", "change_idx", "operation", "fmt_msg").orderBy("lsn", "change_idx")


def cdc_w2j_fullchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: full-change passthrough (no catalog validation). change_raw is
    VARIANT-normalized JSON — sorted keys, minified, canonical numbers —
    and the oracle reconstructs the identical canonical text with
    json_object in sorted key order, so the full payload is hash-checked
    (raw-dict equality is additionally pinned in tests/test_cdc_parse.py)."""
    out = parse_wal2json(_fx(spark, "cdc_wal2json"), full_change=True)
    return out.select("lsn", "change_idx", "xid", "operation", "change_raw").orderBy(
        "lsn", "change_idx"
    )


_TD_TOKS = r"'^table ([^ ]+): ([^ ]+): (.*)$'"

CDC_QUERIES = {
    "c1_catalog_pk_map": catalog_pk_map,
    "c2_td_parse": cdc_td_parse,
    "c3_td_format_csv": cdc_td_format_csv,
    "c4_w2j_parse": cdc_w2j_parse,
    "c5_w2j_filter_ops": cdc_w2j_filter_ops,
    "c6_w2j_fullchange": cdc_w2j_fullchange,
}


def _f(name: str) -> str:
    return f"read_parquet('{FIXTURES_DIR}/{name}.parquet')"


_TD_PARSE_CTE = f"""
WITH base AS (
  SELECT lsn,
         CASE WHEN payload LIKE 'BEGIN %' THEN split_part(payload, ' ', 2) END AS begin_xid,
         payload LIKE 'table %' AS is_table,
         regexp_extract(payload, {_TD_TOKS}, 1) AS tbl,
         regexp_extract(payload, {_TD_TOKS}, 2) AS op,
         regexp_extract(payload, {_TD_TOKS}, 3) AS tail
  FROM {_f('cdc_test_decoding')}
), x AS (
  SELECT *, coalesce(
           last_value(begin_xid IGNORE NULLS)
             OVER (ORDER BY lsn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           '') AS xid
  FROM base
), parsed AS (
  SELECT x.lsn, x.xid, x.tbl AS "table", x.op AS operation,
         regexp_extract(
           substr(x.tail,
                  strpos(x.tail, pc.col_name || '[' || pc.col_type || ']:')
                    + length(pc.col_name || '[' || pc.col_type || ']:')),
           '^''?([\\w\\-]+)''?', 1) AS pkey
  FROM x
  JOIN {_f('pk_catalog')} pc ON pc.table_name = x.tbl
  WHERE x.is_table
)
"""

_W2J_PARSE_CTE = f"""
WITH ex AS (
  SELECT lsn,
         generate_subscripts(CAST(json_extract(payload, '$.change') AS JSON[]), 1) - 1 AS change_idx,
         unnest(CAST(json_extract(payload, '$.change') AS JSON[])) AS elem,
         json_extract(payload, '$.xid')::BIGINT AS xid
  FROM {_f('cdc_wal2json')}
), d AS (
  SELECT lsn, change_idx, xid,
         json_extract_string(elem, '$.schema') || '.' || json_extract_string(elem, '$.table') AS "table",
         lower(json_extract_string(elem, '$.kind')) AS operation,
         CAST(json_extract(elem, '$.columnnames') AS VARCHAR[]) AS names,
         elem
  FROM ex
), parsed AS (
  SELECT d.lsn, d.change_idx, d.xid, d."table", d.operation,
         coalesce(
           json_extract_string(d.elem,
             '$.columnvalues[' || (list_position(d.names, pc.col_name) - 1) || ']'),
           'None') AS pkey
  FROM d
  JOIN {_f('pk_catalog')} pc ON pc.table_name = d."table"
)
"""

CDC_ORACLE_SQL = {
    "c1_catalog_pk_map": f"""
        WITH pk_cols AS (
          SELECT kcu.table_schema, kcu.table_name, kcu.column_name,
                 c.data_type, kcu.ordinal_position
          FROM {_f('info_table_constraints')} tc
          JOIN {_f('info_key_column_usage')} kcu
            USING (constraint_catalog, constraint_schema, constraint_name,
                   table_catalog, table_schema, table_name)
          JOIN {_f('info_columns')} c
            USING (table_catalog, table_schema, table_name, column_name)
          WHERE tc.constraint_type = 'PRIMARY KEY'
        )
        SELECT t.table_schema || '.' || t.table_name AS table_name,
               MAX_BY(p.column_name, p.ordinal_position) AS pk_col_name,
               MAX_BY(p.data_type, p.ordinal_position) AS pk_col_type
        FROM {_f('info_tables')} t
        LEFT JOIN pk_cols p
          ON p.table_schema = t.table_schema AND p.table_name = t.table_name
        WHERE t.table_type = 'BASE TABLE'
        GROUP BY 1 ORDER BY 1
    """,
    "c2_td_parse": _TD_PARSE_CTE + """
        SELECT lsn, xid, "table", operation, pkey FROM parsed ORDER BY lsn
    """,
    "c3_td_format_csv": _TD_PARSE_CTE + """
        SELECT lsn,
               concat_ws(',', '0', 'CDC', xid, "table", operation, pkey) AS fmt_msg
        FROM parsed ORDER BY lsn
    """,
    "c4_w2j_parse": _W2J_PARSE_CTE + """
        SELECT lsn, change_idx, xid, "table", operation, pkey
        FROM parsed ORDER BY lsn, change_idx
    """,
    "c5_w2j_filter_ops": _W2J_PARSE_CTE + """
        SELECT lsn, change_idx, operation,
               CASE WHEN operation IN ('insert', 'update')
                    THEN concat_ws(',', '0', 'CDC', CAST(xid AS VARCHAR), "table", operation, pkey)
               END AS fmt_msg
        FROM parsed ORDER BY lsn, change_idx
    """,
    # Full-change: Spark VARIANT renders to_json with sorted keys and
    # minified/canonical numbers; the change dicts have a fixed 6-key
    # shape, so json_object in sorted key order rebuilds the exact text.
    "c6_w2j_fullchange": f"""
        WITH ex AS (
          SELECT lsn,
                 generate_subscripts(CAST(json_extract(payload, '$.change') AS JSON[]), 1) - 1 AS change_idx,
                 unnest(CAST(json_extract(payload, '$.change') AS JSON[])) AS elem,
                 json_extract(payload, '$.xid')::BIGINT AS xid
          FROM {_f('cdc_wal2json')}
        )
        SELECT lsn, CAST(change_idx AS INT) AS change_idx, xid,
               json_extract_string(elem, '$.kind') AS operation,
               CAST(json_object(
                 'columnnames', json_extract(elem, '$.columnnames'),
                 'columntypes', json_extract(elem, '$.columntypes'),
                 'columnvalues', json_extract(elem, '$.columnvalues'),
                 'kind', json_extract(elem, '$.kind'),
                 'schema', json_extract(elem, '$.schema'),
                 'table', json_extract(elem, '$.table')) AS VARCHAR) AS change_raw
        FROM ex ORDER BY lsn, change_idx
    """,
}
