"""Batch parse of the Postgres ``test_decoding`` wire format.

Re-expresses the reference's `_preprocess_test_decoding_change`
(reference formatter.py:45-81) as a declarative column pipeline:

wire line                         operator                    reference
--------------------------------  --------------------------  ---------
split(' ', 3) tokenize            P1  split + when/otherwise  :57
``BEGIN <xid>`` sets current xid  W1  last() over lsn window  :59-60
``COMMIT`` ignored                P1                          :61-62
table-name projection (strip :)   P2  substring               :64
table regex filter (unanchored)   P5  rlike                   :66
pk-catalog probe                  J3  broadcast hash join     :68-70
pk value regex extract            P4  regexp_extract (column  :19,73
                                      pattern from the join)
operation projection (strip :)    P3  substring               :75
unknown line / missing table /    §8.5 error column, raised   :69,76,79
missing pk → fail-stop                 by the sink

Input : (lsn long, payload string [, data_size int])
Output: (lsn, xid string, table string, operation string, pkey string,
         error string) — one row per DML change; BEGIN/COMMIT frames
         emit no row (after their xid side effect is applied).

Scale notes (100 TB): the only non-embarrassingly-parallel step is the
xid carry-forward, which is inherently a prefix scan over the
commit-ordered log. Everything else (tokenize, filters, regex, the
catalog join — broadcast, no shuffle) is per-row. The batch
carry-forward (``stamp_xid_scalable``) is a two-phase bucket scan, not a
global window: two driver jobs over the BEGIN rows alone fix the bucket
bounds and each bucket's last BEGIN xid, the carries into every bucket
ride the plan as a literal map, and a window within each bucket
finishes the fill. The streaming query stamps inside each
whole-transaction micro-batch instead (``streaming/pipeline.py::stamp_xid``).
For multi-slot fan-in, run the scan per slot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def begin_xid() -> Column:
    """The xid of a ``BEGIN <xid>`` line, NULL on every other line — the
    ``begin_xid`` input of both xid stamps (batch ``stamp_xid_scalable``
    and the streaming ``stamp_xid``); its prefix also marks the replay
    source's transaction starts."""
    return F.when(F.col("payload").startswith("BEGIN "), F.get(F.split("payload", " ", 3), 1))


def stamp_xid_scalable(
    df: DataFrame,
    begins: DataFrame,
    order_col: str = "lsn",
    begin_col: str = "begin_xid",
) -> DataFrame:
    """Distributed prefix-scan of the BEGIN-xid carry-forward (W1).

    ``df`` needs a ``begin_col`` holding the xid on BEGIN rows and NULL
    elsewhere; output adds ``xid`` (empty string before any BEGIN —
    reference formatter.py:37). ``begins`` holds the same
    (order_col, begin_col) values for the BEGIN rows only, typically
    filtered on the raw column (``startswith('BEGIN ')``, tag byte 'B'),
    so the predicate reaches the scan and neither build job re-runs the
    parse upstream of ``df``.

    A naive ``last(...) over (order by lsn)`` collapses the whole input
    into ONE partition (Spark warns 'No Partition Defined for Window') —
    a cliff at scale. This is the classic two-phase scan instead:

    1. assign each row a DETERMINISTIC coarse bucket — a linear map of
       ``order_col`` over the [min, max] span of ``begins``, clamped to
       bucket 0 below it and to the last bucket above it (weakly
       monotone in the global order, so the within-bucket window
       refines it),
    2. collect one summary row per bucket (its last BEGIN xid —
       ``n_buckets`` rows at most, never data-sized),
    3. compute each bucket's carry-in prefix on the driver and inline it
       as a literal map; the window WITHIN buckets runs in parallel.

    Steps 1 and 2 are the two driver jobs paid at build, both over
    ``begins``. Deliberately NOT repartitionByRange+persist: range
    partitioning is sample-based, so without a persisted intermediate
    the two phases could disagree on partition assignment, and the
    persist would leak. The coarse bucket is a pure column expression —
    both phases recompute it identically and nothing is cached. The
    streaming query does not call this: it stamps in-batch with
    ``streaming/pipeline.py::stamp_xid``.
    """
    # capped so the literal carry map stays a few hundred expression
    # nodes at most (codegen method size, analysis cost) on any cluster
    n_buckets = min(512, max(2, df.sparkSession.sparkContext.defaultParallelism * 4))
    lo, hi = begins.agg(F.min(order_col), F.max(order_col)).first()
    if lo is None:  # no BEGIN row: every xid is ''
        return df.withColumn("xid", F.lit(""))
    span = float(hi - lo + 1)
    # NULL order_col (should not occur for an LSN offset, but must not
    # corrupt the scan): ascending order puts nulls FIRST, so bucket 0 is
    # the only placement consistent with the global order — Spark's
    # null-skipping least() would otherwise route them to the LAST bucket.
    bucket = F.when(F.col(order_col).isNull(), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_buckets - 1),
                ((F.col(order_col) - F.lit(lo)) / F.lit(span) * n_buckets).cast("long"),
            ),
        )
    )
    # phase 2: one row per bucket — (bucket, last BEGIN xid in bucket)
    summary = (
        begins.filter(F.col(begin_col).isNotNull())
        .withColumn("_bkt", bucket)
        .groupBy("_bkt")
        .agg(F.expr(f"max_by({begin_col}, {order_col})").alias("last_begin"))
        .collect()
    )
    last_by_bkt = {r._bkt: r.last_begin for r in summary}
    # phase 3: carry-in for bucket k = last BEGIN of the nearest bucket < k.
    # The lookup is a LITERAL map expression, not a broadcast join: the
    # carry table is n_buckets rows by construction, and the join added
    # a whole exchange + build stage to every run of the plan. Only
    # non-empty carries are materialized (empty string is the default).
    pairs, cur = [], ""
    for k in range(n_buckets):
        if cur:
            pairs += [F.lit(k).cast("long"), F.lit(cur)]
        cur = last_by_bkt.get(k, cur)
    # try_element_at: ANSI mode makes plain element_at raise on a
    # missing map key, and buckets with an empty carry are absent
    carry = (
        F.try_element_at(F.create_map(*pairs), F.col("_bkt"))
        if pairs
        else F.lit(None).cast("string")
    )
    w = W.partitionBy("_bkt").orderBy(order_col).rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        df.withColumn("_bkt", bucket)
        .withColumn(
            "xid",
            F.coalesce(F.last(begin_col, ignorenulls=True).over(w), carry, F.lit("")),
        )
        .drop("_bkt")
    )


# Error templates — byte-identical to reference formatter.py:20-21,79.
MISSING_TABLE_ERR = 'Unable to locate table: "{}"'
MISSING_PK_ERR = 'Unable to locate primary key for table "{}"'
UNKNOWN_CHANGE_ERR = 'Unknown change: "{}"'

IGNORED_CHANGES = ("COMMIT",)
DEFAULT_TABLE_PAT = r"[\w_\.]+"


def parse_test_decoding(
    raw: DataFrame,
    pk_map: DataFrame,
    table_pat: str | None = None,
    xid_precomputed: bool = False,
    keep_frames: bool = False,
) -> DataFrame:
    """Parse raw test_decoding lines into Change rows.

    ``pk_map`` is the output of catalog.primary_key_map —
    (table_name, pk_col_name, pk_col_type, pk_pattern).

    ``xid_precomputed=True`` skips the W1 window — the streaming pipeline
    stamps xid within each whole-transaction micro-batch (``stamp_xid``,
    fed by ``begin_xid()``) before calling this, so batch and streaming
    share every operator downstream of the stamp.

    ``keep_frames=True`` keeps BEGIN/COMMIT frame rows (is_frame=true,
    all Change fields null), carries ``data_size`` through and adds
    ``change_idx`` (0: one change per line) — the streaming sink needs
    them for its drain order and reference-parity progress counters:
    the reference counts EVERY wal message by data_size before the
    formatter drops frames (reference __main__.py:86-91).

    Otherwise the build runs ``stamp_xid_scalable``'s two driver jobs
    over the BEGIN lines.
    """
    table_pat = table_pat if table_pat is not None else DEFAULT_TABLE_PAT
    # Java regex needs (?U) for Python-re \w unicode parity.
    table_pat_j = "(?U)" + table_pat

    df = raw
    if not xid_precomputed:
        # W1: cur_xact starts '' and is replaced by each BEGIN's xid
        # (reference formatter.py:37,59-60) — a prefix scan in lsn order,
        # executed as a parallel two-phase scan (no global window). The
        # stamp runs BEFORE tokenization so the window shuffle carries
        # only the narrow (lsn, payload, begin_xid) rows, not four extra
        # token copies of every payload.
        df = stamp_xid_scalable(
            df.withColumn("begin_xid", begin_xid()),
            # BEGIN rows filtered on the RAW column: the startswith
            # predicate reaches the scan, so both build jobs read only
            # the ~1-in-5 BEGIN lines and tokenize nothing else
            df.filter(F.col("payload").startswith("BEGIN ")).select(
                "lsn", begin_xid().alias("begin_xid")
            ),
        ).drop("begin_xid")

    # F.get (not getItem): lines like 'COMMIT' have fewer than 4 tokens and
    # ANSI mode (Spark 4 default) makes out-of-bounds access an error.
    toks = F.split("payload", " ", 4)
    df = df.select(
        "*",
        F.get(toks, 0).alias("tok0"),
        F.get(toks, 1).alias("tok1"),
        F.get(toks, 2).alias("tok2"),
        F.get(toks, 3).alias("tok3"),
    )

    is_frame = (F.col("tok0") == "BEGIN") | F.col("tok0").isin(*IGNORED_CHANGES)
    is_table = F.col("tok0") == "table"

    # Unknown first token is a fail-stop error (reference formatter.py:79).
    df = df.withColumn(
        "error",
        F.when(~is_frame & ~is_table, F.format_string(UNKNOWN_CHANGE_ERR.replace("{}", "%s"), F.col("payload"))),
    )

    if keep_frames:
        changes = df.withColumn("is_frame", is_frame)
    else:
        # Frame rows emitted nothing; drop them once the window consumed them.
        changes = df.filter(~is_frame)

    table_name = F.expr("substring(tok1, 1, length(tok1) - 1)")
    changes = changes.withColumn("table", F.when(is_table, table_name))

    # P5: unanchored search, like Python re.search / the reference :66.
    # Rows filtered out by table_pat vanish silently — this is also the
    # only way to skip unknown tables (SURVEY §8.2).
    changes = changes.filter(~is_table | F.col("table").rlike(table_pat_j) | F.col("error").isNotNull())

    # J3: broadcast probe of the pk catalog. A catalog miss must become
    # MISSING_TABLE (the reference's KeyError on the colon-keyed dict,
    # formatter.py:68-70), so join left and test for null.
    pk = F.broadcast(pk_map.select("table_name", "pk_pattern"))
    changes = changes.join(pk, on=changes["table"] == pk["table_name"], how="left")

    # Column (per-row) regex pattern — PySpark's regexp_extract wrapper only
    # takes a literal pattern, but the SQL function accepts a column. Its
    # own projection: the pkey and error columns read it four times, and
    # CollapseProject keeps a non-cheap expression that is read more than
    # once out of the consumer, so the regex runs once per row.
    changes = changes.withColumn("_pkey", F.expr("regexp_extract(tok3, pk_pattern, 1)"))
    pkey = F.col("_pkey")
    extra = ["data_size", "is_frame", F.lit(0).alias("change_idx")] if keep_frames else []
    changes = changes.select(
        "lsn",
        *extra,
        "xid",
        "table",
        F.when(is_table, F.expr("substring(tok2, 1, length(tok2) - 1)")).alias("operation"),
        F.when(is_table & (pkey != ""), pkey).alias("pkey"),
        F.coalesce(
            F.col("error"),
            F.when(
                is_table & F.col("table_name").isNull(),
                F.format_string(MISSING_TABLE_ERR.replace("{}", "%s"), F.col("tok1")),
            ),
            F.when(
                is_table & (pkey.isNull() | (pkey == "")),
                F.format_string(MISSING_PK_ERR.replace("{}", "%s"), F.col("table")),
            ),
        ).alias("error"),
    )
    return changes
