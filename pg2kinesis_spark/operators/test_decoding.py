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
global window: each row gets a deterministic coarse bucket over the LSN
span, one summary row per bucket carries its last BEGIN xid to the
buckets after it, and a window within each bucket finishes the fill.
The streaming query stamps inside each whole-transaction micro-batch
instead (``streaming/pipeline.py::stamp_xid``). For multi-slot fan-in,
run the scan per slot.
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
    order_col: str = "lsn",
    begin_col: str = "begin_xid",
    stats_df: DataFrame | None = None,
    begin_rows_df: DataFrame | None = None,
    eager: bool = True,
) -> DataFrame:
    """Distributed prefix-scan of the BEGIN-xid carry-forward (W1).

    ``stats_df``, when given, feeds the two EAGER phases (the [min,max]
    span and the per-bucket last-BEGIN summary) instead of ``df``. The
    contract: it must hold the SAME (order_col, begin_col) values as
    ``df`` — typically a pure-JVM twin computed from the raw bytes.
    This matters when ``df``'s lineage contains a Python kernel: both
    eager phases re-execute the full upstream DAG at CONSTRUCTION time,
    so without the twin a mapInPandas-parsed stream pays the decode
    three times per build (measured 2.2s -> 1.0s on the pgoutput bench).

    A naive ``last(...) over (order by lsn)`` collapses the whole input
    into ONE partition (Spark warns 'No Partition Defined for Window') —
    a cliff at scale. This is the classic two-phase scan instead:

    1. assign each row a DETERMINISTIC coarse bucket — a linear map of
       ``order_col`` over its exact [min, max] span (weakly monotone in
       the global order, so the within-bucket window refines it),
    2. collect one summary row per bucket (its last BEGIN xid —
       thousands of rows at most, never data-sized),
    3. compute each bucket's carry-in prefix on the driver and
       broadcast-join it back; window WITHIN buckets runs in parallel.

    Deliberately NOT repartitionByRange+persist: range partitioning is
    sample-based, so without a persisted intermediate the two phases
    could disagree on partition assignment, and the persist would leak
    (no safe unpersist point) and is impossible at 100 TB anyway. The
    coarse bucket is a pure column expression — both phases recompute it
    identically, nothing is cached, and the extra pass over the input is
    a column-pruned scan.

    Input needs a ``begin_col`` holding the xid on BEGIN rows and NULL
    elsewhere; output adds ``xid`` (empty string before any BEGIN —
    reference formatter.py:37).

    Eager-phase cost knobs (each phase is a driver-blocking job, so they
    bound the per-build latency a backfill pays):

    * ``begin_rows_df`` feeds the per-bucket summary with an ALREADY
      PRE-FILTERED (order_col, begin_col) frame (BEGIN rows only).
      ``filter(isNotNull(begin_col))`` on a derived ``when()`` column
      does not reliably reach the scan as a cheap predicate; the caller
      knows the raw-side test (``startswith('BEGIN ')``, tag byte 'B')
      and filtering there makes the summary scan touch ~1/5 of the rows.
    * ``eager=False`` removes BOTH driver-blocking jobs from the build:
      the bounds become a 1-row aggregate broadcast-cross-joined onto
      every row, and the carry table becomes ``range(n_buckets) LEFT
      JOIN summary`` with the prefix computed by a window over that
      bounded frame — all lazy, scheduled inside the same job graph as
      the consuming action. This is the BACKFILL shape: a plan built
      once and executed once pays zero driver round trips. (The
      1.5 s -> 0.5 s build+count once measured on the 450k-line bench
      corpus is the eager build's two driver jobs alone: ``count()``
      prunes ``xid``, so Catalyst drops the carry's Window and neither
      count runs the prefix scan.) The eager literal-map default pays
      its two jobs once at build and is cheaper only when one built
      plan is executed many times by an action that reads ``xid``, as
      bench.py's ``e2e_sink`` does; the lazy carry re-runs its summary
      scan on every such execution. The streaming query does not call
      this: it stamps in-batch with ``streaming/pipeline.py::stamp_xid``.
    """
    spark = df.sparkSession
    stats = stats_df if stats_df is not None else df
    n_buckets = max(2, spark.sparkContext.defaultParallelism * 4)
    if not eager:
        begin_rows = begin_rows_df if begin_rows_df is not None else stats
        return _stamp_xid_lazy(df, order_col, begin_col, stats, begin_rows, n_buckets)
    lo, hi = stats.agg(F.min(order_col), F.max(order_col)).first()
    if lo is None:  # empty input
        return df.withColumn("xid", F.lit(""))
    span = float(max(1, hi - lo + 1))
    # NULL order_col (should not occur for an LSN offset, but must not
    # corrupt the scan): ascending order puts nulls FIRST, so bucket 0 is
    # the only placement consistent with the global order — Spark's
    # null-skipping least() would otherwise route them to the LAST bucket.
    bucket = F.when(F.col(order_col).isNull(), F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            ((F.col(order_col) - F.lit(lo)) / F.lit(span) * n_buckets).cast("long"),
        )
    )
    b = df.withColumn("_bkt", bucket)
    # phase 2: one row per bucket — (bucket, last BEGIN xid in bucket)
    begin_rows = begin_rows_df if begin_rows_df is not None else stats
    summary = (
        begin_rows.filter(F.col(begin_col).isNotNull())
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
    carry, cur = {}, ""
    for k in range(n_buckets):
        if cur:
            carry[k] = cur
        if k in last_by_bkt:
            cur = last_by_bkt[k]
    w = W.partitionBy("_bkt").orderBy(order_col).rowsBetween(W.unboundedPreceding, W.currentRow)
    if carry and len(carry) > 512:
        # n_buckets scales with defaultParallelism: on a thousand-core
        # cluster a literal map would put thousands of expression nodes
        # in every plan (codegen 64KB-method fallback, linear analysis
        # cost). Above the cap, ship the carry as data again — the
        # broadcast join costs one build stage but stays O(1) plan size.
        carry_df = F.broadcast(
            spark.createDataFrame(
                [(k, c) for k, c in carry.items()], "_bkt long, _carry string"
            )
        )
        return (
            b.join(carry_df, "_bkt", "left")
            .withColumn(
                "xid",
                F.coalesce(
                    F.last(begin_col, ignorenulls=True).over(w),
                    F.col("_carry"),
                    F.lit(""),
                ),
            )
            .drop("_bkt", "_carry")
        )
    if carry:
        pairs: list = []
        for k, c in carry.items():
            pairs += [F.lit(k).cast("long"), F.lit(c)]
        # try_element_at: ANSI mode makes plain element_at raise on a
        # missing map key, and buckets with an empty carry are absent
        carry_expr = F.try_element_at(F.create_map(*pairs), F.col("_bkt"))
    else:
        carry_expr = F.lit(None).cast("string")
    return (
        b.withColumn(
            "xid",
            F.coalesce(
                F.last(begin_col, ignorenulls=True).over(w), carry_expr, F.lit("")
            ),
        )
        .drop("_bkt")
    )

def _stamp_xid_lazy(
    df: DataFrame,
    order_col: str,
    begin_col: str,
    stats: DataFrame,
    begin_rows: DataFrame,
    n_buckets: int,
) -> DataFrame:
    """Zero-driver-job twin of the eager two-phase scan (see
    ``stamp_xid_scalable(eager=False)``). Same bucket function, same
    carry semantics, but bounds and carries stay DataFrames:

    * bounds: 1-row min/max aggregate, broadcast-cross-joined onto the
      input (a 1-row BroadcastNestedLoopJoin — bounded by construction,
      not a data-sized cartesian),
    * carries: ``range(n_buckets)`` LEFT JOIN the per-bucket last-BEGIN
      summary, prefix via ``last(...) over (order by _bkt)`` — a window
      over ≤ n_buckets rows, single-partition by design,
    * the carry table broadcast-joins back; empty input degrades to
      NULL bounds -> every (nonexistent) row in bucket 0, and a corpus
      with no BEGIN rows coalesces to '' — no eager special cases.
    """
    spark = df.sparkSession
    bounds_df = stats.agg(
        F.min(order_col).alias("_xid_lo"), F.max(order_col).alias("_xid_hi")
    )

    # ONE SQL string instead of a ~15-node Column tree built twice
    # (r13 opt round, guide §1.5: this helper was 0.47 s of the 1.1 s
    # pgoutput plan construction — every withColumn/Column op is a
    # py4j round trip plus an eager re-analysis of the growing plan).
    # Same expression node for node: the Divide auto-casts its long
    # numerator to double exactly like the Column twin did, so bucket
    # ids are bit-identical.
    bucket_sql = (
        f"CASE WHEN {order_col} IS NULL OR _xid_lo IS NULL THEN 0 "
        f"ELSE LEAST({n_buckets - 1}, CAST(({order_col} - _xid_lo) "
        f"/ GREATEST(CAST(1.0 AS DOUBLE), CAST(_xid_hi - _xid_lo + 1 AS DOUBLE)) "
        f"* {n_buckets} AS BIGINT)) END"
    )
    b = df.crossJoin(F.broadcast(bounds_df)).selectExpr(
        *df.columns, f"{bucket_sql} AS _bkt"
    )
    summary = (
        begin_rows.filter(F.col(begin_col).isNotNull())
        .crossJoin(F.broadcast(bounds_df))
        .selectExpr(begin_col, order_col, f"{bucket_sql} AS _bkt")
        .groupBy("_bkt")
        .agg(F.expr(f"max_by({begin_col}, {order_col})").alias("_last_begin"))
    )
    # Full bucket axis: buckets with no BEGIN row still inherit the
    # nearest-lower carry, which a join on summary alone would lose.
    axis = spark.range(n_buckets).selectExpr("id AS _bkt")
    wc = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    carry_df = axis.join(summary, "_bkt", "left").select(
        "_bkt", F.last("_last_begin", ignorenulls=True).over(wc).alias("_carry")
    )
    w = W.partitionBy("_bkt").orderBy(order_col).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return b.join(F.broadcast(carry_df), "_bkt", "left").select(
        *df.columns,
        F.coalesce(
            F.last(begin_col, ignorenulls=True).over(w),
            F.col("_carry"),
            F.lit(""),
        ).alias("xid"),
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
    xid_eager: bool = True,
) -> DataFrame:
    """Parse raw test_decoding lines into Change rows.

    ``pk_map`` is the output of catalog.primary_key_map —
    (table_name, pk_col_name, pk_col_type, pk_pattern).

    ``xid_precomputed=True`` skips the W1 window — the streaming pipeline
    stamps xid within each whole-transaction micro-batch (``stamp_xid``,
    fed by ``begin_xid()``) before calling this, so batch and streaming
    share every operator downstream of the stamp.

    ``keep_frames=True`` keeps BEGIN/COMMIT frame rows (is_frame=true,
    all Change fields null) and carries ``data_size`` through — the
    streaming sink needs them for reference-parity progress counters:
    the reference counts EVERY wal message by data_size before the
    formatter drops frames (reference __main__.py:86-91).

    ``xid_eager=False`` selects the zero-driver-job carry for the xid
    prefix scan (``stamp_xid_scalable(eager=False)``) — the right shape
    for a BACKFILL/replay job that builds the plan once and runs it
    once. The eager default pays off only when one built plan is
    executed many times by an action that reads ``xid`` (bench.py's
    ``e2e_sink``). bench.py's ``cdc_replay_450k`` times ``count()``,
    which prunes ``xid`` and with it the carry's Window, so there the
    knob mostly moves the eager build's two driver jobs in or out of
    the timer. The
    streaming query stamps in-batch and passes ``xid_precomputed=True``.
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
            # summary-phase input pre-filtered on the RAW column: the
            # startswith predicate reaches the scan, so the eager
            # per-bucket job splits only the ~1-in-5 BEGIN rows instead
            # of tokenizing the whole corpus (measured 0.48s -> 0.3s on
            # the 450k-line bench corpus)
            begin_rows_df=df.filter(F.col("payload").startswith("BEGIN ")).select(
                "lsn", begin_xid().alias("begin_xid")
            ),
            eager=xid_eager,
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
    # takes a literal pattern, but the SQL function accepts a column.
    pkey = F.expr("regexp_extract(tok3, pk_pattern, 1)")
    extra = ["data_size", "is_frame"] if keep_frames else []
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
