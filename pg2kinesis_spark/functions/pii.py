"""PII detection and redaction — pure-codegen regex scrubbing.

The standard privacy pass over a pre-training corpus: find and replace
emails, phone numbers, IP addresses, SSNs, and card numbers with typed
placeholder tokens (the convention used by public corpus pipelines such
as BigScience ROOTS / The Pile derivatives).

Scale design: every rule is a JVM-side ``regexp_replace`` /
``regexp_count`` column expression — zero shuffle, zero Python, one
scan, trivially pushdown-compatible. Rules apply in a fixed order
(specific before general) so e.g. a card number is never half-eaten by
the phone rule. The reference system has no corpus operators; this is
north-star surface like text.py / repetition.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered (name, pattern, replacement). Patterns are deliberately
# conservative (word-boundary anchored, bounded lengths) — a corpus
# scrubber must not mangle code/technical text with false positives.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ipv4",
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b",
        "<IP>",
    ),
    (
        "ssn",
        r"\b(?!000|666|9[0-9]{2})[0-9]{3}-(?!00)[0-9]{2}-(?!0000)[0-9]{4}\b",
        "<SSN>",
    ),
    (
        "card",
        r"\b(?:[0-9][ -]?){12,18}[0-9]\b",
        "<CARD>",
    ),
    (
        "phone",
        r"(?<![0-9])(?:\+?[0-9]{1,3}[ .-]?)?(?:\([0-9]{2,4}\)[ .-]?)?"
        r"[0-9]{3}[ .-][0-9]{3,4}(?:[ .-][0-9]{2,4})?(?![0-9])",
        "<PHONE>",
    ),
)


def luhn_valid(c: Column) -> Column:
    """True iff the digits of ``c`` pass the Luhn checksum (ISO/IEC
    7812) and are a plausible card length (13-19).

    Pure codegen: digit chars are let-bound once per candidate (the
    nested transform(array(x), v -> …)[0] idiom from repetition.py —
    without it Catalyst re-inlines the regexp_replace/split per
    aggregate step), then one aggregate doubles every second digit
    from the right.
    """

    def _sum(d: Column) -> Column:
        chars = F.split(d, "(?!^)")  # per-char without empty edges

        def step(acc: Column, i: Column) -> Column:
            dgt = F.element_at(chars, i).cast("int")
            dbl = dgt * 2
            return acc + F.when(
                F.pmod(F.length(d) - i, F.lit(2)) == 1,
                F.when(dbl > 9, dbl - 9).otherwise(dbl),
            ).otherwise(dgt)

        total = F.aggregate(F.sequence(F.lit(1), F.length(d)), F.lit(0), step)
        return F.pmod(total, F.lit(10))

    digits = F.regexp_replace(c, "[^0-9]", "")
    checksum = F.transform(F.array(digits), _sum)[0]
    return (F.length(digits) >= 13) & (F.length(digits) <= 19) & (checksum == 0)


def _card_candidates(t: Column) -> Column:
    """Luhn-validated card matches of the card regex in ``t``."""
    pat = next(p for name, p, _ in PII_RULES if name == "card")
    return F.filter(F.regexp_extract_all(t, F.lit(pat), F.lit(0)), luhn_valid)


def _redact_cards(t: Column) -> Column:
    """Replace each validated candidate (literal string replace —
    candidates are exact extracted matches)."""
    return F.aggregate(
        _card_candidates(t), t, lambda acc, c: F.replace(acc, c, F.lit("<CARD>"))
    )


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace every PII match with its typed placeholder, in rule order.

    Returns the input with ``text_col`` rewritten — a drop-in stage for
    curate pipelines.
    """
    col: Column = F.col(text_col)
    for name, pat, repl in PII_RULES:
        if name == "card":
            col = _redact_cards(col)
        else:
            col = F.regexp_replace(col, pat, repl)
    return docs.withColumn(text_col, col)


def pii_filter(docs: DataFrame, max_pii: int = 0, text_col: str = "text") -> DataFrame:
    """Documents with at most ``max_pii`` PII matches.

    The count is row-local, so this is a single filter over one scan —
    no join, no shuffle, original rows returned unchanged.
    """
    total: Column = F.lit(0)
    t: Column = F.col(text_col)
    for name, pat, repl in PII_RULES:
        if name == "card":
            total = total + F.size(_card_candidates(t))
            t = _redact_cards(t)
        else:
            total = total + F.regexp_count(t, F.lit(pat))
            t = F.regexp_replace(t, pat, repl)
    return docs.filter(total <= max_pii)
