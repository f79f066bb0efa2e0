"""Gopher-style repetition and document-shape filters.

Implements the repetition-removal rules of Rae et al., "Scaling Language
Models: Methods, Analysis & Insights from Training Gopher" (2021),
appendix A1.1 — the standard pre-training quality gate alongside the
C4-style heuristics: duplicate-line fractions, most-common-n-gram
character fraction, duplicated-n-gram character coverage, and per-row
shape signals (symbol ratio, bullet/ellipsis lines, alphabetic-word
fraction).

Scale design
------------
Every signal here is DOCUMENT-LOCAL, so the whole gate is computed as
per-row column expressions — zero shuffle, zero Python, one scan. The
obvious distributed formulation (explode grams → groupBy (doc, gram))
ships ~2× the corpus through the network per n-gram size; at 100 TB
that's the difference between a map-only job and petabytes of shuffle.
Instead each row does ``array_sort`` + a run-length ``aggregate`` over
its own grams: O(L log L) per document, JVM-side, and embarrassingly
parallel across the cluster. (The naive in-row alternative — counting
each gram with ``filter(grams, g -> g = x)`` — is O(L²) and dies on
long documents; sorted-runs is the trick that makes in-row viable.)

CRITICAL expression-level detail: intermediate arrays (the sorted gram
array, the word array) must be LET-BOUND, not materialized as projected
columns. Catalyst's filter pushdown / CollapseProject inline projected
expressions into every reference, so ``element_at(z, j)`` inside a
per-element lambda would re-run ``array_sort`` per element — O(L² log
L). SQL has no ``let``, but a single-element higher-order function is
one: ``transform(array(<expr>), z -> <body>)[0]`` evaluates ``<expr>``
once and binds it as a lambda variable that survives any plan rewrite
(see ``_bind``).

Duplicated-n-gram character coverage is computed EXACTLY (distinct word
positions covered by any duplicated gram, char-weighted) rather than the
common sum-of-occurrences approximation, which double-counts overlapping
grams and can exceed 1.

The reference system has no corpus operators; this module is north-star
surface (BASELINE.json extensions) like text.py / dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import STOPWORDS

# Gopher A1.1 default thresholds (public values from the paper).
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_avg_word_len": 3.0,
    "max_avg_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
    "max_dup_line_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
    # n -> max fraction of chars in the most common n-gram
    "max_top_ngram_char_frac": {2: 0.2, 3: 0.18, 4: 0.16},
    # n -> max fraction of chars covered by duplicated n-grams
    "max_dup_ngram_char_frac": {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
}


def _bind(val: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``val`` once, reference it as ``var``.

    A one-element transform's lambda variable cannot be inlined by any
    Catalyst rewrite, unlike a projected column.
    """
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _sfrac(num: str, den: str) -> str:
    """SQL num/den with 0-denominator (empty doc) yielding 0.0, never NULL."""
    return f"coalesce(({num}) / nullif(cast(({den}) as double), 0.0D), 0.0D)"


def _grams_expr(n: int, ws: str = "ws") -> str:
    """Word n-grams of the word array ``ws``, as a SQL expression.

    sequence(1, 0) is DESCENDING in Spark, so guard short docs explicitly.
    """
    return (
        f"if(size({ws}) >= {n},"
        f" transform(sequence(1, size({ws}) - {n} + 1),"
        f" i -> concat_ws(' ', slice({ws}, i, {n}))),"
        f" array())"
    )


def _gram_pos_expr(n: int, ws: str = "ws") -> str:
    """(gram, 1-based start position) structs, for coverage marking."""
    return (
        f"if(size({ws}) >= {n},"
        f" transform(sequence(1, size({ws}) - {n} + 1),"
        f" i -> named_struct('g', concat_ws(' ', slice({ws}, i, {n})), 'p', i)),"
        f" cast(array() as array<struct<g: string, p: int>>))"
    )


# -- in-row run-length counters over sorted arrays ------------------------
# State carries the previous element and current run; a run is "flushed"
# into the totals when the element changes (and once more in the finish
# lambda for the trailing run). The aggregate's input is evaluated once
# per row, so these are safe to inline anywhere.


def _dup_runs_expr(arr: str) -> str:
    """struct(dup, dupch): elements / chars belonging to runs >= 2 long."""
    return f"""aggregate(
      array_sort({arr}),
      named_struct('prev', cast(null as string), 'run', 0L, 'dup', 0L, 'dupch', 0L),
      (a, x) -> if(a.prev is not null and x = a.prev,
        named_struct('prev', x, 'run', a.run + 1L, 'dup', a.dup, 'dupch', a.dupch),
        named_struct('prev', x, 'run', 1L,
          'dup', a.dup + if(a.run > 1L, a.run, 0L),
          'dupch', a.dupch + if(a.run > 1L, a.run * length(a.prev), 0L))),
      a -> named_struct(
        'dup', a.dup + if(a.run > 1L, a.run, 0L),
        'dupch', a.dupch + if(a.run > 1L, a.run * length(a.prev), 0L)))"""


def _top_run_chars_expr(grams: str) -> str:
    """max over grams of (occurrences × non-space chars of the gram)."""
    return f"""aggregate(
      array_sort({grams}),
      named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
      (a, x) -> if(a.prev is not null and x = a.prev,
        named_struct('prev', x, 'run', a.run + 1L,
          'best', greatest(a.best, (a.run + 1L) * length(replace(x, ' ', '')))),
        named_struct('prev', x, 'run', 1L,
          'best', greatest(a.best, cast(length(replace(x, ' ', '')) as bigint)))),
      a -> a.best)"""


def _dup_cov_chars_expr(n: int, ws: str) -> str:
    """Chars at DISTINCT word positions covered by duplicated n-grams.

    Sorts (gram, pos) structs; an occurrence is duplicated iff its gram
    equals a sorted neighbor's. Covered word positions are expanded per
    occurrence and de-duplicated before char-weighting, so overlapping
    occurrences never double-count. The sorted array and the word array
    are lambda-bound — each evaluated exactly once per row.
    """
    dup_pos = f"""filter(
      transform(sequence(1, size(zz)),
        j -> if((j > 1 and element_at(zz, j).g = element_at(zz, j - 1).g)
                or (j < size(zz) and element_at(zz, j).g = element_at(zz, j + 1).g),
                element_at(zz, j).p, -1)),
      p -> p != -1)"""
    covered = f"array_distinct(flatten(transform({dup_pos}, p -> sequence(p, p + {n} - 1))))"
    body = (
        f"if(size(zz) < 2, 0L,"
        f" aggregate({covered}, 0L, (a, p) -> a + length(element_at({ws}, p))))"
    )
    return _bind(f"array_sort({_gram_pos_expr(n, ws)})", "zz", body)


_DOC_CHARS = "length(regexp_replace(text, '\\\\s+', ''))"
_WS_SQL = "split(text, ' ')"
_LINES_SQL = "split(text, '\\n')"


def gopher_filter(
    docs: DataFrame,
    thresholds: dict | None = None,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    parallelism: int | None = None,
) -> DataFrame:
    """Documents passing every Gopher A1.1 gate (shape + repetition).

    Returns the original rows. Because every signal is row-local the
    whole gate is ONE boolean expression over ONE scan — no joins, no
    shuffle; at 100 TB this is a map-only job. The word/line arrays are
    lambda-bound so each is computed once per row no matter how Catalyst
    rewrites the plan.

    ``parallelism``: optional repartition BEFORE the gate — for inputs
    whose storage can't split (a single-row-group parquet file puts the
    whole interpreted HOF evaluation on ONE core; Spark file splits
    align to row groups, so no split knob can help). The shuffle moves
    the raw rows once and the gate then runs on every core; leave None
    at deployment scale, where files carry many row groups and the
    map-only plan parallelizes for free (the zero-shuffle plan pin
    covers the default).
    """
    t = dict(GOPHER_DEFAULTS, **(thresholds or {}))
    stop_lit = ", ".join(f"'{w}'" for w in STOPWORDS)
    symbols = (
        "((length(text) - length(replace(text, '#', '')))"
        " + (length(text) - length(replace(text, '...', ''))) / 3.0D)"
    )
    avg_wl = _sfrac("aggregate(ws2, 0L, (a, w) -> a + length(w))", "size(ws2)")
    alpha = "size(filter(ws2, w -> translate(w, 'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', '') != w))"
    bullet = "size(filter(ln2, l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•', '‣', '◦')))"
    ellipsis = "size(filter(ln2, l -> endswith(rtrim(l), '...') or endswith(rtrim(l), '…')))"
    line_conds = " and ".join(
        [
            f"{_sfrac(bullet, 'size(ln2)')} <= {t['max_bullet_line_frac']}",
            f"{_sfrac(ellipsis, 'size(ln2)')} <= {t['max_ellipsis_line_frac']}",
        ]
        + [
            _bind(
                _dup_runs_expr("ln2"),
                "dd",
                f"{_sfrac('dd.dup', 'size(ln2)')} <= {t['max_dup_line_frac']}"
                f" and {_sfrac('dd.dupch', 'aggregate(ln2, 0L, (a, l) -> a + length(l))')}"
                f" <= {t['max_dup_line_char_frac']}",
            )
        ]
    )
    word_conds = " and ".join(
        [
            f"size(ws2) >= {t['min_words']}",
            f"size(ws2) <= {t['max_words']}",
            f"{avg_wl} >= {t['min_avg_word_len']}",
            f"{avg_wl} <= {t['max_avg_word_len']}",
            f"{_sfrac(symbols, 'size(ws2)')} <= {t['max_symbol_word_ratio']}",
            f"{_sfrac(alpha, 'size(ws2)')} >= {t['min_alpha_word_frac']}",
            f"size(filter(ws2, w -> w IN ({stop_lit}))) >= {t['min_stop_hits']}",
        ]
        + [
            f"{_sfrac(_top_run_chars_expr(_grams_expr(n, 'ws2')), _DOC_CHARS)}"
            f" <= {t['max_top_ngram_char_frac'][n]}"
            for n in top_ns
        ]
        + [
            f"{_sfrac(_dup_cov_chars_expr(n, 'ws2'), _DOC_CHARS)}"
            f" <= {t['max_dup_ngram_char_frac'][n]}"
            for n in dup_ns
        ]
    )
    cond = (
        f"{_bind(_WS_SQL, 'ws2', word_conds)}"
        f" and {_bind(_LINES_SQL, 'ln2', line_conds)}"
    )
    if parallelism:
        # localCheckpoint is the barrier: Catalyst pushes a
        # deterministic filter straight back through repartition() onto
        # the unsplittable scan (and splits/simplifies every
        # nondeterministic-guard formulation tried), so the plan is cut
        # instead — the repartitioned rows materialize once (tiny: this
        # knob exists for SMALL single-row-group inputs) and the gate
        # then runs on every core
        return docs.repartition(parallelism).localCheckpoint(eager=False).filter(
            F.expr(cond)
        )
    return docs.filter(F.expr(cond))
