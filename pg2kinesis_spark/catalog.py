"""Primary-key catalog: the engine's only schema authority.

Rebuilds the reference's catalog pipeline (reference slot.py:18-33 PK_SQL,
slot.py:88-94 map build) as DataFrame operators:

- ``build_pk_catalog``     — the information_schema query (J1 left join +
                             J2 inner joins + P11 concat), unordered.
- ``primary_key_map``      — the last-wins dict collapse (A4): for
                             composite keys, the column with the highest
                             ordinal position wins (reference slot.py:92,
                             fidelity note SURVEY §8.3).

The map is tiny (one row per table) — always broadcast it into the change
stream join (J3). At 100 TB of CDC traffic the catalog is still KBs, so
the enrich join never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Matches the reference's COL_TYPE_VALUE_TEMPLATE_PAT (formatter.py:19):
#   {col_name}\[{col_type}\]:'?([\w\-]+)'?
# col_name/col_type are interpolated unescaped, exactly like the reference.
# (?U) makes Java's \w match unicode word chars like Python's re does.
_PK_PATTERN_SUFFIX = "\\]:'?([\\w\\-]+)'?"


def build_pk_catalog(
    tables: DataFrame,
    table_constraints: DataFrame,
    key_column_usage: DataFrame,
    columns: DataFrame,
) -> DataFrame:
    """information_schema → (table_name, col_name, col_type, col_ord_pos).

    Mirrors PK_SQL (reference slot.py:18-33): every BASE TABLE appears;
    tables without a PRIMARY KEY constraint get NULL pk columns (LEFT
    JOIN). PK_SQL's ``ORDER BY ordinal_position`` is left out: the
    reference needs it for its dict build, but ``primary_key_map`` picks
    the highest ordinal with ``max_by`` whatever the row order, and a
    global sort would add a range-partition sampling job to every
    catalog snapshot.
    """
    pk_cols = (
        table_constraints.filter(F.col("constraint_type") == "PRIMARY KEY")
        .join(
            key_column_usage,
            on=[
                "constraint_catalog",
                "constraint_schema",
                "constraint_name",
                "table_catalog",
                "table_schema",
                "table_name",
            ],
        )
        .join(columns, on=["table_catalog", "table_schema", "table_name", "column_name"])
        .select(
            "table_catalog",
            "table_schema",
            "table_name",
            "column_name",
            F.col("data_type"),
            F.col("ordinal_position"),
        )
    )
    base = tables.filter(F.col("table_type") == "BASE TABLE")
    return (
        base.join(pk_cols, on=["table_catalog", "table_schema", "table_name"], how="left")
        .select(
            F.concat_ws(".", "table_schema", "table_name").alias("table_name_q"),
            F.col("column_name").alias("col_name"),
            F.col("data_type").alias("col_type"),
            F.col("ordinal_position").alias("col_ord_pos"),
        )
        .withColumnRenamed("table_name_q", "table_name")
    )


def primary_key_map(pk_catalog: DataFrame) -> DataFrame:
    """Collapse to one pk definition per table — last ordinal wins.

    Reference builds ``{rec.table_name: rec for rec in rows}`` over rows
    ordered by ordinal_position (slot.py:91-93), so for composite keys the
    highest-ordinal column silently wins. ``max_by`` reproduces exactly
    that over rows in any order. Tables with no PK keep a row with NULL
    col_name/col_type — their compiled pattern can never match, which
    surfaces downstream as the MISSING_PK failure (SURVEY §8.1).
    """
    collapsed = pk_catalog.groupBy("table_name").agg(
        F.expr("max_by(struct(col_name, col_type), col_ord_pos)").alias("pk")
    )
    return collapsed.select(
        "table_name",
        F.col("pk.col_name").alias("pk_col_name"),
        F.col("pk.col_type").alias("pk_col_type"),
        # NULL col_name/col_type → NULL pattern → extract yields NULL →
        # MISSING_PK error row, same observable as the reference.
        F.concat(
            F.lit("(?U)"),
            F.col("pk.col_name"),
            F.lit("\\["),
            F.col("pk.col_type"),
            F.lit(_PK_PATTERN_SUFFIX),
        ).alias("pk_pattern"),
    )
