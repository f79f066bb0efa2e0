"""HTML extraction vs the exact pure-Python twin of the pinned rules,
plus golden documents and plan pins."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.html import (
    _BLOCK_TAGS,
    _DROP_BLOCKS,
    _ENTITIES,
    html_to_text_col,
)


def _py_extract(html: str) -> str:
    c = html
    for tag in _DROP_BLOCKS:
        c = re.sub(rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ", c)
    c = re.sub(r"(?s)<!--.*?-->", " ", c)
    c = re.sub(rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*/?>", "\n", c)
    c = re.sub(r"(?s)<[^>]*>", "", c)
    for ent, rep in _ENTITIES:
        c = c.replace(ent, rep)
    c = re.sub(r"[ \t\r]+", " ", c)
    c = re.sub(r" ?\n ?", "\n", c)
    c = re.sub(r"\n{3,}", "\n\n", c)
    return c.strip()


GOLDENS = [
    (
        "<html><head><title>My&nbsp;Page</title>"
        "<script type='text/javascript'>var x = '<p>not text</p>';</script>"
        "<style>.a { color: red }</style></head>"
        "<body><h1>Heading</h1><p>First paragraph with <b>bold</b> and "
        "<a href='x'>a link</a>.</p><p>Second &amp; last.</p>"
        "<!-- a comment --><div>Tail</div></body></html>",
        "Heading\n\nFirst paragraph with bold and a link.\n\nSecond & last.\n\nTail",
    ),
    (
        # adjacent block boundaries keep one blank line (the pinned rule
        # collapses 3+ newlines to 2, never to 1 — paragraph structure
        # must survive for the line-level gates)
        "<ul><li>one</li><li>two &lt;tagged&gt;</li></ul>",
        "one\n\ntwo <tagged>",
    ),
    ("plain text without markup", "plain text without markup"),
    ("<p>a</p>\n\n\n\n<p>b</p>", "a\n\nb"),
    ("", ""),
]


@pytest.mark.parametrize("html,want", GOLDENS)
def test_goldens(spark, html, want):
    df = spark.createDataFrame([(1, html)], ["doc_id", "html"])
    got = df.select(html_to_text_col("html").alias("text")).collect()[0]["text"]
    assert got == want
    assert _py_extract(html) == want  # the twin agrees with the goldens


def test_matches_python_twin_on_generated_docs(spark):
    """Randomized tag soup: the Spark chain and the Python twin must be
    byte-identical (same pinned rules, two implementations)."""
    import random

    rng = random.Random(7)
    frags = [
        "<p>", "</p>", "<div class='x'>", "</div>", "<br/>", "<span>",
        "</span>", "text one", "two &amp; three", "&lt;x&gt;", "<b>", "</b>",
        "<script>junk();</script>", "<!-- c -->", "word", "&nbsp;", "\n",
        "<li>item</li>", "<h2>t</h2>", "<style>s{}</style>",
    ]
    rows = [
        (i, " ".join(rng.choices(frags, k=rng.randint(3, 25)))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    got = {
        r["doc_id"]: r["text"]
        for r in df.select("doc_id", html_to_text_col("html").alias("text")).collect()
    }
    for i, html in rows:
        assert got[i] == _py_extract(html), html


def test_composes_with_curation_and_plan_is_map_only(spark):
    """html_to_text_col feeds annotate directly; the combined plan stays a
    single Python-free projection chain with no exchange."""
    from pg2kinesis_spark.functions.curate import annotate

    df = spark.createDataFrame(
        [(1, "<p>the quick brown fox jumps over the lazy dog</p>")],
        ["doc_id", "html"],
    )
    ann = annotate(df.select("doc_id", html_to_text_col("html").alias("text")))
    row = ann.collect()[0]
    assert row["n_tokens"] == 9
    plan = ann._jdf.queryExecution().executedPlan().toString()
    for marker in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker
