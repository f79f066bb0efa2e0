"""HTML -> text extraction for web-corpus ingestion.

Web crawls arrive as HTML; every published curation pipeline (C4,
CCNet, RefinedWeb) starts by stripping markup before the text gates
run. This is that step as PURE codegen regexp chains — map-only, zero
shuffle, no Python — with pinned, honest semantics:

* ``<head>``/``<script>``/``<style>``/``<noscript>``/``<template>``
  blocks and HTML comments are removed WITH their content
  (case-insensitive, non-greedy, dotall).
* Block-level tags (p, div, br, li, tr, headings, blockquote, section,
  article, table rows...) become newlines so paragraph structure
  survives for the line-level gates (C4, boilerplate removal); all
  other tags are deleted.
* The common named entities (&amp; &lt; &gt; &quot; &apos; &#39;
  &nbsp;) are decoded, ampersand LAST so "&amp;lt;" yields the literal
  "&lt;". Numeric entities beyond &#39; are left verbatim — a
  documented limitation, not silent corruption (regexp_replace cannot
  compute chr(n); a full entity table belongs in a real parser).
* Horizontal whitespace runs collapse to one space, 3+ newlines to 2,
  lines are trimmed.

This is deliberately NOT a spec-grade HTML5 parser (no attribute-aware
tokenization, no CDATA) — it is the deterministic, scalable 95% that
runs inside whole-stage codegen. The pinned rules have an exact
pure-Python twin in tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# content-bearing containers whose entire payload is noise (head first:
# it swallows title/meta/script/style in one pass; body-level script and
# style blocks still need their own rules)
_DROP_BLOCKS = ("head", "script", "style", "noscript", "template")
# tags that imply a line break in rendered text
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|tr|table|h1|h2|h3|h4|h5|h6|blockquote|section"
    "|article|header|footer|pre|hr|dd|dt|dl|figcaption|form"
)

_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: double-escaped entities decode one level
]


def html_to_text_col(col) -> Column:
    """Column expression implementing the pinned extraction rules."""
    c = F.col(col) if isinstance(col, str) else col
    for tag in _DROP_BLOCKS:
        c = F.regexp_replace(c, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    # block-level tags (open or close) -> newline, before generic removal
    c = F.regexp_replace(c, rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*/?>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", "")
    for ent, rep in _ENTITIES:
        c = F.regexp_replace(c, ent, rep)
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    # Spark's trim() strips spaces only — full whitespace trim by regex
    return F.regexp_replace(c, r"^\s+|\s+$", "")
