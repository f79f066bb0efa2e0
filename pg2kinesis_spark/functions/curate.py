"""End-to-end corpus curation: the representative 100 TB training-data
workload, composed entirely from the verified operator primitives.

Pipeline (cheapest-reduction-first, so each stage shrinks the input of
the next):

  1. ``annotate`` — ONE scan computing language ID + quality + token
     count as fused column expressions (no joins between the per-row
     annotators; they share the tokenization projection).
  2. language / quality filters — pure predicates, applied before any
     shuffle so dedup never sees documents the filters would discard.
  2b. optional row-local gates, still shuffle-free: the Gopher A1.1
     repetition/shape filter (``gopher=``), PII redaction/threshold
     (``redact_pii_text=`` / ``max_pii=``) — redaction happens BEFORE
     dedup so two documents differing only in scrubbed PII hash equal —
     and the trained model filter (``classifier_model=`` — broadcast
     coefficients, map-only scoring).
  3. exact dedup — groupBy on a 16-byte md5 content hash, survivor =
     min(doc_id); the shuffle carries hashes, never documents. Every
     NULL-text row survives (absent content duplicates nothing).
  4. near-dup removal — MinHash+LSH candidate pairs (banded; the only
     join whose cost tracks collision rate, not corpus²); every doc that
     is the LARGER id of a pair at/above the threshold is dropped —
     the cheap greedy rule (keeps every LOCAL-minimum id, which can
     over-keep on chain-shaped clusters). ``transitive=True`` swaps in
     true one-survivor-per-cluster dedup via connected components over
     the pair graph (cc.py), at the cost of the O(log n)-round star
     iteration.
  4b. optional eval-set decontamination (``eval_df=``) — broadcast
     gram-hash probe + broadcast anti join; placed after dedup so the
     gram explosion runs over survivors only.
  5. optional token-budget selection — two-phase distributed cumulative
     sum over (quality desc, doc_id), no single-partition window.

At cluster scale, materialize between stages: write the filtered
survivors once, write ``dedup.minhash_signatures`` once, and band the
signature table — every stage then starts from a column-pruned parquet
scan instead of a recompute. The composition here keeps the whole plan
lazy, which is the right shape for the sub-TB case and for tests.

The reference system has no corpus operators; this module is north-star
surface (BASELINE.json extensions), built only on primitives that carry
their own oracle rows (n1-n8, n17-n18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import prefetch_checkpoint
from .cc import cluster_drop_list
from .dedup import minhash_lsh_pairs
from .sampling import token_budget_select
from .text import _words, lang_exprs, quality_exprs


def annotate(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Single-scan per-document annotation: token count, quality score,
    predicted language — bit-identical to ``quality_score`` / ``lang_id``
    (shared expression builders), but one projection instead of three
    scans plus two doc_id joins. ``carry`` names extra input columns to
    pass through in the same projection — a column ride is free where a
    doc_id re-join would shuffle the batch (the streaming ingest carries
    embedding / URL columns this way)."""
    df = docs.select("doc_id", "text", _words().alias("ws"), *carry)
    q = quality_exprs()
    _, pred = lang_exprs()
    return df.select(
        "doc_id",
        "text",
        q["n_tokens"].alias("n_tokens"),
        q["quality"].alias("quality"),
        pred.alias("pred_lang"),
        *carry,
    )


def curate_corpus(
    docs: DataFrame,
    langs: tuple[str, ...] | None = None,
    min_quality: float = 0.0,
    near_dup_jaccard: float | None = 0.6,
    token_budget: int | None = None,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    materialize_sig: bool = True,
    transitive: bool = False,
    gopher: bool | dict = False,
    redact_pii_text: bool = False,
    max_pii: int | None = None,
    eval_df: DataFrame | None = None,
    contamination_n: int = 13,
    c4_rules: bool = False,
    substring_k: int | None = None,
    classifier_model=None,
    classifier_keep: str = "curated",
    classifier_min_score: float = 0.5,
    lang_model=None,
    lm_model=None,
    max_perplexity: float | None = None,
    url_col: str | None = None,
    url_blocklist: list[str] | None = None,
    url_badwords: tuple[str, ...] | None = None,
    domain_cap_k: int | None = None,
    embeddings: DataFrame | None = None,
    semdedup_eps: float | None = None,
    semdedup_clusters: int = 64,
    dsir_target: DataFrame | None = None,
    dsir_n: int | None = None,
) -> DataFrame:
    """Curated corpus: (doc_id, text, n_tokens, quality, pred_lang) for
    every surviving document. See module docstring for stage order and
    the scale contract of each stage.

    ``materialize_sig`` forwards to ``minhash_lsh_pairs``: True (the
    default) checkpoints the k·8 B/doc signature table once for the
    three subtrees that read it; False is the 100 TB-tier opt-out that
    keeps the signature plan fully lazy (or, better at that scale, use
    the written signature index per the module docstring). Survivors
    are identical either way.

    ``lang_model`` (a ``langid.train_char_lang_id`` PipelineModel)
    replaces the marker-word pred_lang with the trained char-n-gram
    classifier's prediction — map-only broadcast scoring, same schema.

    ``c4_rules`` applies the C4 line/page gates BEFORE annotation (they
    rewrite text, so annotations must see the cleaned version);
    ``substring_k`` runs exact substring dedup (Lee et al.) after
    near-dup removal and RE-annotates the survivors, since the cut
    rewrites text and stales token counts.

    ``url_col`` switches on the RefinedWeb front door (urls.py) as
    stage 0 — the cheapest gates run before any text is even scanned:
    badword score filter, domain blocklist, normalized-URL dedup, and
    the per-domain crawl cap (ordered by doc_id — crawl budgets are
    url-axis decisions, made before quality exists).

    ``embeddings`` (vec_id == doc_id) + ``semdedup_eps`` adds SemDeDup
    semantic near-dup removal after the MinHash stage; ``dsir_target``
    + ``dsir_n`` swaps the final selection to DSIR importance
    resampling toward the target corpus (mutually exclusive with
    ``token_budget``).
    """
    if url_col is not None:
        from . import urls as _urls

        if url_badwords:
            docs = _urls.url_badword_filter(docs, url_badwords, url_col=url_col)
        # parse ONCE: blocklist + dedup + cap all reuse the host/domain/
        # url_norm columns instead of re-evaluating the PSL longest-match
        # CASE per stage (the expensive expression in this tier). The
        # stages are multi-reference (url_dedup sees its input from 3
        # plan subtrees, domain_cap from 2), so materialize between them
        # — same localCheckpoint discipline as the dedup stages below
        # (measured 2.6x on the bench URL pipeline).
        # internal output names: a docs DataFrame may legitimately carry
        # its own host/domain/path columns (crawl metadata) — default
        # names would silently clobber then drop them
        parsed = _urls.parse_urls(
            docs, url_col, host_col="_cu_host", domain_col="_cu_domain",
            path_col="_cu_path", norm_col="_cu_url_norm",
        )
        if url_blocklist:
            parsed = _urls.domain_blocklist_filter(
                parsed, url_blocklist, url_col=url_col,
                host_col="_cu_host", domain_col="_cu_domain",
            )
        parsed = prefetch_checkpoint(parsed.localCheckpoint(eager=False))
        parsed = _urls.url_dedup(parsed, url_col=url_col, norm_col="_cu_url_norm")
        if domain_cap_k is not None:
            parsed = _urls.domain_cap(
                prefetch_checkpoint(parsed.localCheckpoint(eager=False)),
                domain_cap_k, url_col=url_col, domain_col="_cu_domain",
            )
        docs = parsed.drop("_cu_host", "_cu_domain", "_cu_path", "_cu_url_norm")
    if c4_rules:
        from .c4 import c4_clean

        docs = c4_clean(docs, span_dedup=False)
    ann = annotate(docs)
    if lang_model is not None:
        # trained char-n-gram lang-ID overrides the marker-word column:
        # a map-only broadcast scoring pass over the same projection
        # (langid.predict_lang), no joins — annotate still supplies
        # n_tokens/quality from its single scan.
        from .langid import predict_lang

        ann = predict_lang(lang_model, ann, out_col="pred_lang")
    if langs:
        ann = ann.filter(F.col("pred_lang").isin(*langs))
    if min_quality > 0.0:
        ann = ann.filter(F.col("quality") >= min_quality)
    if gopher:
        from .repetition import gopher_filter

        ann = gopher_filter(ann, thresholds=gopher if isinstance(gopher, dict) else None)
    if max_pii is not None:
        from .pii import pii_filter

        ann = pii_filter(ann, max_pii=max_pii)
    if classifier_model is not None:
        from .classifier import classifier_filter

        ann = classifier_filter(
            classifier_model, ann, classifier_keep, classifier_min_score
        )
    if lm_model is not None and max_perplexity is not None:
        # CCNet perplexity gate: broadcast-join scoring (lm.py), a
        # reduction before the expensive dedup stages like the others
        from .lm import perplexity_filter

        ann = perplexity_filter(ann, lm_model, max_perplexity)
    if redact_pii_text:
        from .pii import redact_pii

        ann = redact_pii(ann)

    # The dedup/decontamination stages below each reference `ann` from
    # 2-4 plan subtrees; when the row-local gates above are active,
    # leaving the chain lazy re-executes those gates per subtree.
    # Materialize the gated survivors once (GC-cleaned localCheckpoint —
    # the in-plan analogue of the documented write-survivors-once rule).
    heavy_downstream = near_dup_jaccard is not None or substring_k is not None or eval_df is not None
    if heavy_downstream:
        # r12 opt round: checkpoint whenever the dedup chain follows,
        # not only when gates are active — the exact-dedup semi join,
        # LSH signature build and anti join each reference `ann`, and
        # even the gate-free annotate projection re-ran per subtree
        # (interleaved A/B: ann+sig checkpoints 1.91 s → 1.12 s on the
        # sf0.1 quality+LSH chain; sig ckpt is inside minhash_lsh_pairs).
        # r13: prefetch — the cluster materializes the gate chain while
        # the driver constructs the dedup plans (guide §2.6; see
        # io.prefetch_checkpoint).
        ann = prefetch_checkpoint(ann.localCheckpoint(eager=False))

    # Exact dedup: survivor = min doc_id per content hash. The decision
    # runs over a key-only (16-byte hash, doc_id) projection and the
    # annotated payload is touched once, by a LOSER-list anti join
    # (r13 opt round): the previous keep-list semi join shuffled `ann`
    # by doc_id whenever the keep list — one row per distinct content,
    # corpus-sized — outgrew the broadcast threshold; the loser list is
    # only the duplicate ids, usually a small fraction and broadcastable
    # far longer (guide §2.3/§3.1/§8 decide with small rows). Keep-set
    # identical: doc_id is unique per row, so "not the min of a
    # duplicated hash group" is exactly the old complement.
    # NULL text is absent, not equal, content: the join on md5 = NULL
    # matches nothing, so every NULL-text row survives.
    keys = ann.select("doc_id", F.md5("text").alias("_h"))
    dup_winners = (
        keys.groupBy("_h")
        .agg(F.min("doc_id").alias("_w"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_h", "_w")
    )
    losers = (
        keys.join(dup_winners, "_h")
        .filter(F.col("doc_id") != F.col("_w"))
        .select("doc_id")
    )
    ann = ann.join(losers, "doc_id", "left_anti")

    if near_dup_jaccard is not None:
        # materialize_sig forwards the 100 TB-tier opt-out (the k·8 B/doc
        # signature checkpoint stays lazy when False) — results are
        # identical either way; see minhash_lsh_pairs.
        pairs = minhash_lsh_pairs(
            ann.select("doc_id", "text"), n=n, k=k, bands=bands,
            materialize_sig=materialize_sig,
        )
        pairs = pairs.filter(F.col("est_jaccard") >= near_dup_jaccard)
        if transitive:
            # One survivor per TRANSITIVE duplicate cluster (connected
            # components over the pair graph). The greedy rule below
            # keeps every local-minimum id — e.g. chain 2—10, 10—1
            # keeps both 1 and 2; this path keeps only 1.
            drop = cluster_drop_list(pairs)
        else:
            drop = pairs.select(F.col("id2").alias("doc_id")).distinct()
        ann = ann.join(drop, "doc_id", "left_anti")

    if substring_k is not None:
        from .substr_dedup import dedup_substrings

        # dedup_substrings references its input from several plan
        # subtrees (gram stream, loser cut, rebuild join); left lazy,
        # each subtree would re-execute the ENTIRE gate+dedup chain
        # above (measured 7x wall on the all-gates pipeline).
        # localCheckpoint materializes the survivors once and is
        # GC-cleaned with the DataFrame — unlike a persist, which pins
        # the CacheManager entry for the session lifetime.
        base = prefetch_checkpoint(
            ann.select("doc_id", "text").localCheckpoint(eager=False)
        )
        ann = annotate(dedup_substrings(base, k=substring_k))

    if embeddings is not None and semdedup_eps is not None:
        from .semdedup import semdedup

        # semdedup drives MANY actions against the survivor set (dim
        # probe, centroid seed + per-Lloyd collects, assignment, pair
        # join) — left lazy, each one re-executes the whole gate+dedup
        # chain above (the measured multi-reference trap; same fix as
        # the substring stage).
        ann = prefetch_checkpoint(ann.localCheckpoint(eager=False))
        # semantic near-dups among CURRENT survivors only: restrict the
        # embedding table first so a dropped doc can't suppress a kept
        # one, then drop the semantic losers.
        surv_emb = embeddings.join(
            ann.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        # dim=None: semdedup infers the dimension from the data — the
        # explicit first() probe here executed the surv_emb join once
        # just before the driver path collected the same rows again
        # (one whole pass over the join saved; r12 opt round)
        flags = semdedup(
            surv_emb, eps=semdedup_eps, n_clusters=semdedup_clusters
        )
        drop_sem = flags.filter(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
        ann = ann.join(drop_sem, "doc_id", "left_anti")

    if eval_df is not None:
        from .contamination import decontaminate

        ann = decontaminate(ann, eval_df, n=contamination_n)

    if token_budget is not None:
        sel = token_budget_select(ann, F.col("quality"), F.col("n_tokens"), token_budget)
        ann = ann.join(sel.select("doc_id"), "doc_id", "left_semi")
    if dsir_target is not None and dsir_n is not None:
        from .dsir import dsir_fit_select

        # fit (raw side), scoring, and the final semi join all
        # reference the survivor set — materialize once (same trap).
        # dsir_fit_select shares one gram stream across fit + score
        # (was 3 corpus explosions; results bit-equal, r12 opt round).
        ann = prefetch_checkpoint(ann.localCheckpoint(eager=False))
        sel = dsir_fit_select(ann, dsir_target, n=dsir_n)
        ann = ann.join(sel.select("doc_id"), "doc_id", "left_semi")
    return ann
