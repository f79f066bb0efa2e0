"""Property-based oracles for the corpus operators (hypothesis).

Random small corpora, exact Python reference semantics — these catch the
edge shapes hand-written cases miss (empty docs, all-identical docs,
single-word docs, unicode, maximal repetition).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.packing import pack_sequences
from pg2kinesis_spark.functions.substr_dedup import dedup_substrings

# small word alphabet -> high collision probability (the interesting case)
WORD = st.sampled_from(["aa", "b", "ccc", "dd", "é"])
TEXT = st.lists(WORD, min_size=0, max_size=12).map(lambda ws: " ".join(ws))

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    derandomize=True,  # reproducible across rounds — no random flakes
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_dedup(docs: list[tuple[int, str]], k: int) -> dict[int, str]:
    first: dict[tuple, tuple[int, int]] = {}
    occs = []
    for doc_id, text in sorted(docs):
        ws = text.split(" ")
        for i in range(len(ws) - k + 1):
            g = tuple(ws[i : i + k])
            occs.append((g, doc_id, i + 1))
            if g not in first or (doc_id, i + 1) < first[g]:
                first[g] = (doc_id, i + 1)
    cnt = Counter(g for g, _, _ in occs)
    cut: dict[int, set[int]] = {}
    for g, d, p in occs:
        if cnt[g] > 1 and (d, p) != first[g]:
            cut.setdefault(d, set()).update(range(p, p + k))
    out = {}
    for doc_id, text in docs:
        ws = text.split(" ")
        if doc_id not in cut:
            out[doc_id] = text
            continue
        kept = [w for i, w in enumerate(ws, start=1) if i not in cut[doc_id]]
        if kept:
            out[doc_id] = " ".join(kept)
    return out


@settings(**SETTINGS)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_substr_dedup_property(spark, texts):
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in dedup_substrings(df, 2).collect()}
    assert got == _py_dedup(docs, 2)


@settings(**SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=20))
def test_pack_sequences_property(spark, toks):
    import hashlib

    docs = spark.createDataFrame(
        [(str(i), n) for i, n in enumerate(toks)], ["doc_id", "nt"]
    )
    got = {
        r["doc_id"]: (r["start_offset"], r["seq_id"])
        for r in pack_sequences(docs, F.col("nt"), 7, "doc_id").collect()
    }
    rows = [(str(i), n) for i, n in enumerate(toks) if n > 0]
    rows.sort(key=lambda x: (int(hashlib.md5(x[0].encode()).hexdigest()[:15], 16), x[0]))
    off = 0
    for d, n in rows:
        assert got[d] == (off, off // 7), d
        off += n
    assert len(got) == len(rows)
