"""Streaming corpus ingest: continuous curation with incremental dedup.

The streaming twin of ``functions.curate``: documents arrive as files
(the standard landing-zone pattern — each micro-batch is a set of new
parquet files), pass the row-local gates, are exact-deduplicated against
everything already accepted, near-dup-checked against the materialized
MinHash signature index, and appended to the curated output — while the
signature index grows by exactly the accepted batch.

Scale/streaming design
----------------------
* Row-local gates (quality/lang/Gopher/PII) run inside the micro-batch —
  map-only, no state.
* Exact dedup state is the ACCEPTED-HASH PARQUET INDEX (16-byte md5
  keys), not Spark operator state: a `dropDuplicates` over an unbounded
  key stream would grow executor state forever and die on restart
  recovery at 100 TB. The index is a column-pruned scan + left-anti
  join per batch, and doubles as within-batch dedup via a groupBy.
* Near-dup state is a written ``dedup.minhash_signatures`` index
  (``sig_index``) — the new batch is signed ONCE;
  banding joins new-vs-index candidates (`lsh_pairs_incremental`).
* Idempotence: the foreachBatch body keys every append by batch_id
  (overwrite-by-partition), so a replayed batch after a crash rewrites
  the same partition instead of duplicating it — the standard
  exactly-once-by-idempotence recipe for file sinks.

The reference system is itself a streaming CDC pump; this module is the
same at-least-once + idempotent-sink contract applied to the corpus
domain (reference `__main__.py` consume loop; SURVEY §2.9).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.curate import annotate
from pg2kinesis_spark.functions.dedup import lsh_pairs_incremental
from pg2kinesis_spark.io import prefetch_checkpoint


def _index_batch_ids(path: str) -> set[int]:
    """batch_id partition values present in a parquet index directory —
    a filesystem listing (no Spark job); the coverage set a bloom
    sidecar must match before it may prefilter that index."""
    try:
        names = os.listdir(path)
    except OSError:
        return set()
    out = set()
    for n in names:
        if n.startswith("batch_id="):
            try:
                out.add(int(n.split("=", 1)[1]))
            except ValueError:
                continue
    return out


class CorpusIngest:
    """foreachBatch processor: gate -> dedup -> near-dup -> append."""

    def __init__(
        self,
        out_dir: str,
        min_quality: float = 0.0,
        langs: tuple[str, ...] | None = None,
        lang_model=None,
        near_dup_jaccard: float | None = 0.6,
        n: int = 3,
        k: int = 16,
        bands: int = 4,
        gopher: bool | dict = False,
        max_pii: int | None = None,
        lm_model=None,
        max_perplexity: float | None = None,
        url_col: str | None = None,
        url_blocklist: list[str] | None = None,
        url_badwords: tuple[str, ...] | None = None,
        url_dedup_cross_batch: bool = False,
        domain_cap_k: int | None = None,
        dsir_logratios: DataFrame | None = None,
        min_dsir_logw: float | None = None,
        eval_df: DataFrame | None = None,
        contamination_n: int = 13,
        semdedup_eps: float | None = None,
        semdedup_ref_emb: DataFrame | None = None,
        semdedup_dim: int | None = None,
        semdedup_clusters: int = 16,
        bloom_bits: int | None = 1 << 23,
        bloom_k: int = 7,
        stats: bool = False,
    ):
        self.out_dir = out_dir
        self.gopher = gopher
        self.max_pii = max_pii
        # SemDeDup as a STREAMING stage: centroids are fit ONCE on a
        # reference embedding set (frozen quantizer — every batch and
        # the accepted index agree on cluster ids forever), then each
        # micro-batch is checked against the accepted-embedding parquet
        # index + itself (semdedup_incremental: index side always wins,
        # within-batch uses the paper's keep order). Requires batches to
        # carry an `embedding` column.
        self.semdedup_eps = semdedup_eps
        self.sd_cents = None
        if semdedup_eps is not None:
            if semdedup_ref_emb is None or semdedup_dim is None:
                raise ValueError(
                    "semdedup_eps needs semdedup_ref_emb + semdedup_dim "
                    "(centroids are fit once, on a reference corpus)"
                )
            from pg2kinesis_spark.functions.similarity import ivf_int_centroids

            self.sd_cents = ivf_int_centroids(
                semdedup_ref_emb, semdedup_dim, semdedup_clusters
            )
        # URL front door (urls.py): badwords/blocklist are row-local;
        # URL dedup is within-batch by default (a byte-identical recrawl
        # also collapses at the text-hash index; url_dedup_cross_batch
        # below adds the URL-key index for recrawls whose text CHANGED)
        self.url_col = url_col
        self.url_blocklist = url_blocklist
        self.url_badwords = url_badwords
        # Cross-batch URL state, both on the parquet-index pattern:
        # * url_dedup_cross_batch: normalized-URL exact dedup vs a
        #   md5(url_norm) index — a RECRAWL whose boilerplate changed
        #   (so the text hash differs) still collapses at the URL key.
        # * domain_cap_k: per-registered-domain doc budget over the
        #   WHOLE accepted corpus — a (domain, n) count index accrues
        #   per batch; each batch admits at most k - already_accepted
        #   more docs per domain. Applied AFTER the dedup stages so
        #   duplicates never consume a domain's budget.
        if (url_dedup_cross_batch or domain_cap_k is not None) and url_col is None:
            raise ValueError(
                "url_dedup_cross_batch / domain_cap_k need url_col"
            )
        self.url_xbatch = url_dedup_cross_batch
        self.domain_cap_k = domain_cap_k
        self.url_path = os.path.join(out_dir, "url_index")
        self.dom_path = os.path.join(out_dir, "domain_counts")
        # DSIR as a STREAMING gate: the log-ratio table is fit once on
        # reference corpora; per-batch scoring thresholds on logw — the
        # streaming analogue of top-k selection. Materialize it HERE
        # (eager localCheckpoint): the table is probed every batch, and
        # a lazy plan would re-run the whole fit per micro-batch.
        if dsir_logratios is not None:
            dsir_logratios = dsir_logratios.localCheckpoint(eager=True)
            self.dsir_n_buckets = dsir_logratios.count()
        self.dsir_logratios = dsir_logratios
        self.min_dsir_logw = min_dsir_logw
        # Eval-set decontamination as a STREAMING gate: the distinct
        # eval gram-hash set is fit ONCE (the benchmark suite is static)
        # and materialized eagerly — it is broadcast-probed every batch,
        # and a lazy plan would re-shingle the eval set per micro-batch.
        self.eval_grams = None
        self.contamination_n = contamination_n
        if eval_df is not None:
            from pg2kinesis_spark.functions.contamination import eval_gram_set

            self.eval_grams = eval_gram_set(
                eval_df, contamination_n
            ).localCheckpoint(eager=True)
        # LM gate state: the model's count DataFrames live for the whole
        # stream (trained once, on a REFERENCE corpus — not the stream)
        self.lm_model = lm_model
        self.max_perplexity = max_perplexity
        # opt-in per-batch observability: one row per micro-batch to
        # out_dir/stats (input-after-gates, after-exact-dedup, accepted,
        # wall). The counts reuse the checkpoints the plan already
        # materializes, so they cost RDD counts, not gate re-execution.
        self.stats = stats
        self.stats_path = os.path.join(out_dir, "stats")
        self.accepted_path = os.path.join(out_dir, "accepted")
        self.hash_path = os.path.join(out_dir, "hash_index")
        self.sig_path = os.path.join(out_dir, "sig_index")
        self.emb_path = os.path.join(out_dir, "emb_index")
        self.min_quality = min_quality
        # language gate, mirroring curate_corpus: annotate's marker-word
        # pred_lang by default; lang_model (langid.train_char_lang_id)
        # swaps in the trained char-n-gram prediction — broadcast
        # map-only scoring, still a row-local gate
        self.langs = tuple(langs) if langs else None
        self.lang_model = lang_model
        self.near_dup_jaccard = near_dup_jaccard
        self.n, self.k, self.bands = n, k, bands
        # Bloom sidecar over the accepted hashes: answers "definitely
        # new" for the bulk of each batch so the hash-index anti-join
        # runs only on the maybe-seen residue. Purely an optimization —
        # no false negatives by construction, accepted set identical
        # with it on or off (test-pinned). bloom_bits=None disables.
        self.bloom = None
        self.band_bloom = None
        if bloom_bits is not None:
            from pg2kinesis_spark.functions.bloom import BloomSidecar

            self.bloom = BloomSidecar(
                os.path.join(out_dir, "bloom"), m_bits=bloom_bits, k=bloom_k
            )
            # second sidecar over the signature index's (band_idx,
            # band_key) rows: prefilters the banding join the same way
            # the hash bloom prefilters the exact anti-join
            self.band_bloom = BloomSidecar(
                os.path.join(out_dir, "bloom_bands"), m_bits=bloom_bits, k=bloom_k
            )

    def _existing(
        self, spark: SparkSession, path: str, exclude_batch_id: int | None = None
    ) -> DataFrame | None:
        """Read an index, excluding ``exclude_batch_id``'s partition.

        The exclusion is the crash-replay contract: a replayed batch must
        dedup against everything EXCEPT its own (possibly partial) prior
        writes, so it recomputes the same accepted set and idempotently
        rewrites all of its partitions. Without it, a crash after the
        hash-index write but before the sig-index write would make the
        replay see its own hashes, compute an empty batch, and leave the
        sig index permanently missing those signatures.
        """
        # Probe existence through the Hadoop FS API instead of letting
        # spark.read.parquet raise on the first batch: the raise is
        # caught here, but the JVM logs the full AnalysisException stack
        # to stderr via py4j — which is exactly the "unexplained trace in
        # the bench artifact" problem. The probe is scheme-agnostic
        # (local/HDFS/S3A), so the quiet path survives on a real cluster.
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None  # first batch: no index yet
        try:
            df = spark.read.parquet(path)
        except Exception:
            # exists but unreadable (e.g. crash left an empty dir before
            # any part file) — same "no index yet" semantics
            return None
        if exclude_batch_id is not None and "batch_id" in df.columns:
            df = df.filter(F.col("batch_id") != exclude_batch_id)
        return df

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        import time as _time

        t_start = _time.perf_counter()
        # SPARK_GRAFT_INGEST_TRACE=1: per-phase wall times to stderr —
        # the fixed per-batch cost is a sum of driver-blocking jobs, and
        # this is how you find which one grew.
        _trace = os.environ.get("SPARK_GRAFT_INGEST_TRACE")
        _t_last = [t_start]

        def _mark(label: str) -> None:
            if not _trace:
                return
            now = _time.perf_counter()
            print(
                f"[ingest b{batch_id}] {label}: {now - _t_last[0]:.3f}s",
                file=sys.stderr,
            )
            _t_last[0] = now

        stats_row: dict = {}
        spark = batch.sparkSession
        # heal a crashed compact_corpus_indexes swap (two cheap stat
        # calls per index; the index must never appear absent)
        for p in (
            self.hash_path,
            self.sig_path,
            self.emb_path,
            self.url_path,
            self.dom_path,
        ):
            _recover_compaction(p)
        _mark("recover")
        if self.url_col is not None:
            from pg2kinesis_spark.functions import urls as _urls

            if self.url_badwords:
                batch = _urls.url_badword_filter(
                    batch, self.url_badwords, url_col=self.url_col
                )
            # parse once; blocklist + dedup reuse the computed columns.
            # Internal names: a batch may carry its own host/domain/path
            # columns (crawl metadata) — defaults would clobber them.
            parsed = _urls.parse_urls(
                batch, self.url_col, host_col="_cu_host",
                domain_col="_cu_domain", path_col="_cu_path",
                norm_col="_cu_url_norm",
            )
            if self.url_blocklist:
                parsed = _urls.domain_blocklist_filter(
                    parsed, self.url_blocklist, url_col=self.url_col,
                    host_col="_cu_host", domain_col="_cu_domain",
                )
            parsed = _urls.url_dedup(
                parsed, url_col=self.url_col, norm_col="_cu_url_norm"
            )
            if self.url_xbatch:
                # recrawl collapse: anti-join the normalized-URL hash
                # against the accepted-URL index (16-byte keys shuffle,
                # never the docs); unparseable URLs (NULL norm) always
                # pass — no evidence of duplication
                uidx = self._existing(
                    spark, self.url_path, exclude_batch_id=batch_id
                )
                if uidx is not None:
                    # single anti-join, no NULL-split union: a NULL _uh
                    # never equals an index key, so left_anti keeps
                    # unparseable rows by construction — the r12 opt
                    # round removed the two-subtree union that scanned
                    # (and re-ran the URL parse of) the batch twice
                    parsed = (
                        parsed.withColumn("_uh", F.md5("_cu_url_norm"))
                        .join(uidx.select("_uh"), "_uh", "left_anti")
                        .drop("_uh")
                    )
            if self.domain_cap_k is not None:
                # parse-once discipline: the cap stage reuses the PSL
                # longest-match result instead of re-deriving it
                parsed = parsed.withColumnRenamed("_cu_domain", "_cu_dom")
                batch = parsed.drop("_cu_host", "_cu_path", "_cu_url_norm")
            else:
                batch = parsed.drop(
                    "_cu_host", "_cu_domain", "_cu_path", "_cu_url_norm"
                )
        if self.dsir_logratios is not None and self.min_dsir_logw is not None:
            from pg2kinesis_spark.functions.dsir import dsir_scores

            keep = (
                dsir_scores(batch, self.dsir_logratios, n_buckets=self.dsir_n_buckets)
                .filter(F.col("logw") >= self.min_dsir_logw)
                .select("doc_id")
            )
            batch = batch.join(keep, "doc_id", "left_semi")
        if self.gopher:
            from pg2kinesis_spark.functions.repetition import gopher_filter

            batch = gopher_filter(
                batch, thresholds=self.gopher if isinstance(self.gopher, dict) else None
            )
        if self.max_pii is not None:
            from pg2kinesis_spark.functions.pii import pii_filter

            batch = pii_filter(batch, max_pii=self.max_pii)
        if self.lm_model is not None and self.max_perplexity is not None:
            from pg2kinesis_spark.functions.lm import perplexity_filter

            batch = perplexity_filter(batch, self.lm_model, self.max_perplexity)
        if self.eval_grams is not None:
            # GPT-3-style 13-gram leakage gate vs the frozen eval gram
            # set: corpus grams are consumed in-map by the broadcast
            # semi join (contamination.py's shape), flagged ids
            # anti-joined back — a benchmark snippet arriving in ANY
            # batch is dropped before it can enter the corpus.
            # Materialize first: flagged + the anti-join reference the
            # gated batch from two subtrees, and without a checkpoint
            # the whole upstream gate chain executes twice per batch.
            from pg2kinesis_spark.functions.contamination import _gram_hashes

            # lazy + prefetch (guide §2.6, io.prefetch_checkpoint): the
            # cluster materializes the gate chain while the driver
            # constructs the gram/anti-join plans below — same plan
            # instance, same multi-reference protection once materialized
            batch = prefetch_checkpoint(batch.localCheckpoint(eager=False))
            flagged = (
                _gram_hashes(batch, self.contamination_n, "doc_id", "gram_h")
                .join(F.broadcast(self.eval_grams), "gram_h", "left_semi")
                .select("doc_id")
                .distinct()
            )
            batch = batch.join(flagged, "doc_id", "left_anti")
        # columns the later stages need RIDE annotate's single-scan
        # projection (a column carry is free; a doc_id re-join would
        # shuffle the micro-batch once per carried column): embedding
        # for the semantic stage, the provenance URL for the accepted
        # output + index write-backs, the parsed registered domain for
        # the cap stage.
        carry: list[str] = []
        if self.sd_cents is not None:
            carry.append("embedding")
        if self.url_col is not None and (
            self.url_xbatch or self.domain_cap_k is not None
        ):
            carry.append(self.url_col)
        if self.domain_cap_k is not None:
            carry.append("_cu_dom")
        ann = annotate(batch, carry=tuple(carry))
        if self.lang_model is not None:
            from pg2kinesis_spark.functions.langid import predict_lang

            ann = predict_lang(self.lang_model, ann, out_col="pred_lang")
        if self.langs:
            ann = ann.filter(F.col("pred_lang").isin(*self.langs))
        if self.min_quality > 0.0:
            ann = ann.filter(F.col("quality") >= self.min_quality)

        # exact dedup: within batch (min doc_id per hash) and vs index.
        # Materialize the gated batch FIRST (curate.py's multi-reference
        # discipline): everything below — the within-batch groupBy
        # semi-join, the bloom maybe/definitely split, docs for the
        # signature stage, the near-dup drop anti-join — references
        # `ann` from 2+ plan subtrees, and without a checkpoint each
        # reference re-executes the whole gate chain (URL/DSIR/gopher/
        # LM/annotate) per micro-batch.
        #
        # The within-batch dedup stays the groupBy+semi-join shape ON
        # PURPOSE: a window row_number over _h was tried (one fewer
        # materialization, 24 jobs) and measured WORSE at scale — the
        # window shuffles the FULL document rows by hash, while the
        # groupBy's exchange carries only (_h, doc_id) pairs and AQE
        # broadcasts the survivor set back (ladder: 88 -> 126 µs/doc at
        # 1M docs). Shuffles carry hashes, never documents.
        # NULL-text rows drop explicitly (md5(NULL) = NULL): the join
        # on a NULL key never matched anyway, but the filter makes the
        # contract visible instead of incidental.
        # The checkpoint is LAZY + prefetched (io.prefetch_checkpoint,
        # guide §2.6): a background driver thread submits the
        # materialization job the moment the checkpoint exists, so the
        # cluster runs the gate chain WHILE the driver constructs the
        # exact-dedup plans below (index existence probe + parquet
        # schema read, bloom sidecar load, join construction — pure
        # driver work that used to wait behind the eager barrier). The
        # multi-reference protection is unchanged: once materialized
        # (at latest inside the accepted write, which forces it), every
        # reference reads the stored blocks; in-flight partitions are
        # awaited via the block manager's single-flight locks, never
        # computed twice.
        ann = prefetch_checkpoint(
            ann.withColumn("_h", F.md5("text"))
            .filter(F.col("_h").isNotNull())
            .localCheckpoint(eager=False)
        )
        _mark("gates+annotate ckpt")
        if self.stats:
            stats_row["n_after_gates"] = ann.count()  # checkpointed: cheap
        ann = ann.join(
            ann.groupBy("_h").agg(F.min("doc_id").alias("doc_id")),
            ["_h", "doc_id"],
            "left_semi",
        )
        idx = self._existing(spark, self.hash_path, exclude_batch_id=batch_id)
        if idx is not None:
            # every index batch must have a bloom file, or the union
            # would under-approximate (load_union refuses -> full join)
            need = _index_batch_ids(self.hash_path) - {batch_id}
            bloom_bits = (
                self.bloom.load_union(
                    exclude_batch_id=batch_id, require_batch_ids=need
                )
                if self.bloom is not None
                else None
            )
            if bloom_bits is not None:
                # bloom prefilter: rows the filter has never seen are
                # DEFINITELY new and survive the anti-join by
                # construction; only the maybe-seen residue (dups +
                # <1% false positives) can match an index key. The
                # probe rides the anti-join as an extra join condition
                # (a _maybe=false row never satisfies it -> kept) —
                # the r12 opt round replaced the two-branch union,
                # whose plan evaluated the Arrow probe in TEN cloned
                # subtrees (2 branches x filter-pushdown duplication,
                # guide §4.4): 10 -> 2 ArrowEvalPython, 10 -> 6
                # Exchange, ~1.3 s -> ~0.9 s on the sf0.1 batch,
                # identical survivors (A/B'd). The batch side (small)
                # now shuffles whole instead of maybe-only; the index
                # side (the 100 TB-scale one) shuffles identically.
                from pg2kinesis_spark.functions.bloom import (
                    bloom_hash_cols,
                    maybe_seen_udf,
                )

                h1, h2 = bloom_hash_cols(F.col("_h"))
                maybe = maybe_seen_udf(spark, bloom_bits, self.bloom.k)
                flagged = ann.withColumn("_maybe", maybe(h1, h2))
                ann = flagged.join(
                    idx.select(F.col("_h").alias("_ih")),
                    (F.col("_h") == F.col("_ih")) & F.col("_maybe"),
                    "left_anti",
                ).drop("_maybe")
            else:
                ann = ann.join(idx.select("_h"), "_h", "left_anti")

        # near-dup vs signature index (new-vs-index + new-vs-new pairs)
        if (
            self.near_dup_jaccard is not None
            or self.sd_cents is not None
            or self.domain_cap_k is not None
            or self.stats
        ):
            # the survivors feed 2-3 subtrees below (docs/signatures,
            # the id-side broadcast marks, the cap's parsed/unparsed
            # split, the final anti-join) — bound the plan here too.
            # stats alone also lands here: the after-exact count must
            # come off a materialized plan, not re-run the anti-join.
            # lazy + prefetch again: the exact-dedup result materializes
            # (forcing the gates checkpoint above if still in flight)
            # while the driver constructs the signature/LSH plans below
            ann = prefetch_checkpoint(ann.localCheckpoint(eager=False))
            _mark("exact-dedup ckpt")
            if self.stats:
                stats_row["n_after_exact"] = ann.count()
        new_sig = None
        if self.near_dup_jaccard is not None:
            from pg2kinesis_spark.functions.dedup import minhash_signatures

            docs = ann.select("doc_id", "text")
            # Sign the batch ONCE and materialize: the LSH pair plan
            # references the new signatures three times (banding + both
            # sides of the score re-join), and the post-accept sig-index
            # write needs them again — without this checkpoint each of
            # those re-runs the shingle+minhash pass over the batch
            # text. K*8 bytes per doc, the cheapest checkpoint in the
            # batch; also exactly the lineage-severed form the index
            # write contract requires.
            # lazy + prefetch: the shingle+minhash pass runs while the
            # driver constructs the banding/score-join plan (the "lsh
            # plan" phase, ~0.3-0.5 s of pure py4j construction at sf0.1)
            new_sig = prefetch_checkpoint(
                minhash_signatures(docs, self.n, self.k).localCheckpoint(
                    eager=False
                )
            )
            _mark("sig ckpt")
            sig_idx = self._existing(spark, self.sig_path, exclude_batch_id=batch_id)
            if sig_idx is not None:
                band_need = _index_batch_ids(self.sig_path) - {batch_id}
                band_bits = (
                    self.band_bloom.load_union(
                        exclude_batch_id=batch_id, require_batch_ids=band_need
                    )
                    if self.band_bloom is not None
                    else None
                )
                pairs = lsh_pairs_incremental(
                    spark,
                    docs,
                    self.sig_path,
                    self.n,
                    self.k,
                    self.bands,
                    exclude_batch_id=batch_id,
                    band_bloom_bits=band_bits,
                    band_bloom_k=self.band_bloom.k if self.band_bloom else 7,
                    # reuse the existence probe's read: a second
                    # spark.read.parquet would re-infer the schema per
                    # micro-batch for nothing
                    old_sig_df=sig_idx,
                    new_sig_df=new_sig,
                ).filter(F.col("est_jaccard") >= self.near_dup_jaccard)
                # ids are canonicalized id1 < id2; the ACCEPTED index side
                # must never be dropped. Mark which side is new (the batch
                # id set is micro-batch-sized -> broadcast), then drop:
                # both new -> the larger; one new -> the new one.
                ids = docs.select("doc_id")
                n1 = F.broadcast(
                    ids.select(F.col("doc_id").alias("id1"), F.lit(True).alias("_n1"))
                )
                n2 = F.broadcast(
                    ids.select(F.col("doc_id").alias("id2"), F.lit(True).alias("_n2"))
                )
                drop = (
                    pairs.join(n1, "id1", "left")
                    .join(n2, "id2", "left")
                    .select(
                        F.when(F.col("_n1") & F.col("_n2"), F.col("id2"))
                        .when(F.col("_n1"), F.col("id1"))
                        .otherwise(F.col("id2"))
                        .alias("doc_id")
                    )
                    .distinct()
                )
                ann = ann.join(drop, "doc_id", "left_anti")
                _mark("lsh plan")

        # semantic near-dup vs the accepted-embedding index (+ itself)
        if self.sd_cents is not None:
            from pg2kinesis_spark.functions.semdedup import semdedup_incremental

            new_emb = ann.select(F.col("doc_id").alias("vec_id"), "embedding")
            idx_emb = self._existing(spark, self.emb_path, exclude_batch_id=batch_id)
            if idx_emb is not None:
                idx_emb = idx_emb.select("vec_id", "cid", "cent_sim", "embedding")
            kept = (
                semdedup_incremental(
                    new_emb, idx_emb, self.sd_cents, eps=self.semdedup_eps
                )
                .filter(F.col("kept"))
                .select(F.col("vec_id").alias("doc_id"))
            )
            ann = ann.join(kept, "doc_id", "left_semi")

        # cross-batch per-domain cap: admit at most k - already_accepted
        # docs per registered domain. LAST on purpose — placed after the
        # dedup stages so a recrawl/near-dup never consumes its domain's
        # budget with a doc that was going to be dropped anyway. The
        # count index is semi-pruned to THIS batch's domains before the
        # broadcast (the full domain table never ships). The rank is the
        # salted two-phase shape (urls.domain_cap): a hot-domain flood
        # first prunes to <= k per (domain, salt) in parallel, so the
        # exact window sees at most n_salt*k rows per domain — never the
        # whole flood in one reducer. NULL domains (unparseable URLs)
        # pass uncapped, the no-evidence rule.
        if self.domain_cap_k is not None:
            from pyspark.sql.window import Window

            k = self.domain_cap_k
            unparsed = ann.filter(F.col("_cu_dom").isNull())
            base = ann.filter(F.col("_cu_dom").isNotNull())
            used = None
            counts_idx = self._existing(
                spark, self.dom_path, exclude_batch_id=batch_id
            )
            if counts_idx is not None:
                batch_doms = (
                    base.select(F.col("_cu_dom").alias("domain")).distinct()
                )
                used = (
                    counts_idx.join(batch_doms, "domain", "left_semi")
                    .groupBy("domain")
                    .agg(F.sum("n").alias("_used"))
                )
            # phase 1: per-(domain, salt) prune — the budget is <= k, so
            # a doc ranked > k within its salt can never be admitted
            salt = F.pmod(F.xxhash64("doc_id"), F.lit(32))
            w_local = Window.partitionBy("_cu_dom", "_salt").orderBy("doc_id")
            pre = (
                base.withColumn("_salt", salt)
                .withColumn("_lrnk", F.row_number().over(w_local))
                .filter(F.col("_lrnk") <= k)
                .drop("_salt", "_lrnk")
            )
            # phase 2: exact rank over the bounded survivors vs budget
            w = Window.partitionBy("_cu_dom").orderBy("doc_id")
            ranked = pre.withColumn("_rn", F.row_number().over(w))
            if used is not None:
                ranked = ranked.join(
                    F.broadcast(used),
                    ranked["_cu_dom"] == used["domain"],
                    "left",
                ).drop("domain")
            else:
                ranked = ranked.withColumn("_used", F.lit(None).cast("long"))
            keep = F.col("_rn") <= k - F.coalesce(F.col("_used"), F.lit(0))
            ann = (
                ranked.filter(keep)
                .drop("_rn", "_used")
                .unionByName(unparsed)
                .drop("_cu_dom")
            )

        # WRITE-THEN-READ-BACK, deliberately: the accepted plan's lineage
        # runs anti-joins AGAINST the hash/signature indexes. If the index
        # writes below re-executed that lineage (cache eviction, partial
        # persist), they would see the batch's OWN freshly-written hashes
        # and silently compute an empty batch. Materializing the accepted
        # rows to their final parquet first and deriving both index writes
        # from a re-read severs that lineage completely — and doubles as
        # the idempotence anchor (everything is partitioned by batch_id,
        # so a crash-replayed batch overwrites its own partition).
        def _write(df: DataFrame, path: str) -> None:
            df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).partitionBy("batch_id").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(path)

        def _write_stats(n_accepted: int) -> None:
            if not self.stats:
                return
            import time as _t

            row = [
                (
                    stats_row.get("n_after_gates"),
                    stats_row.get("n_after_exact"),
                    n_accepted,
                    round(_t.perf_counter() - t_start, 3),
                )
            ]
            df = spark.createDataFrame(
                row,
                "n_after_gates long, n_after_exact long, "
                "n_accepted long, wall_s double",
            )
            _write(df, self.stats_path)

        # Write FIRST, then derive emptiness from the written partition:
        # a pre-write `limit(1).count()` probe executed the whole
        # LSH/semdedup anti-join chain once just to answer "any rows?",
        # and the write then executed it AGAIN — the single largest
        # fixed cost of a micro-batch. Dynamic partition overwrite of an
        # empty plan writes no partition dir, so "did this batch accept
        # anything" is a free filesystem listing after the write.
        # (Determinism makes this replay-safe: a replayed batch sees the
        # same index state — own partitions excluded — so it computes
        # the same accepted set as the crashed attempt.)
        _write(ann.drop("_h"), self.accepted_path)
        if batch_id not in _index_batch_ids(self.accepted_path):
            # an empty FIRST write leaves a bare scaffold dir — remove
            # it so an all-rejected stream is a true no-op on disk
            # (non-recursive delete: can never remove real partitions)
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(self.accepted_path)
                fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                fs.delete(jpath, False)
            except Exception:
                pass  # non-empty (other batches' partitions) or gone
            _write_stats(0)
            return
        back = (
            spark.read.parquet(self.accepted_path)
            .filter(F.col("batch_id") == batch_id)
            .drop("batch_id")
        )
        _mark("accepted write")
        # sig BEFORE hash: with the batch-id exclusion above, replay is
        # idempotent regardless of where a crash lands, but ordering the
        # replay-gating state (exact-dedup hashes) last means even a
        # reader that ignores the exclusion can never observe a batch
        # whose hashes exist while its signatures don't.
        #
        # The hash-BLOOM sidecar build is independent of the sig chain
        # (it reads only `back`), and the only ordering that protects
        # correctness is bloom-before-its-own-INDEX (over-approximation
        # is safe, under-approximation is not) — so it runs CONCURRENTLY
        # with the sig write + band bloom on a driver thread (guide
        # §2.6: overlap independent jobs; FIFO scheduling backfills the
        # sig job's task tail). The hash-INDEX write still happens last,
        # after both complete. Crash windows are unchanged: a bloom
        # file without its index partition over-approximates until the
        # batch replays and overwrites both.
        bloom_futs: list = []
        bloom_pool = None
        if self.bloom is not None:
            from concurrent.futures import ThreadPoolExecutor

            from pg2kinesis_spark.functions.bloom import bloom_hash_cols

            bh1, bh2 = bloom_hash_cols(F.md5("text"))

            def _build_hash_bloom() -> None:
                self.bloom.write(
                    back.select(bh1.alias("_h1"), bh2.alias("_h2")),
                    "_h1",
                    "_h2",
                    batch_id,
                )

            # two slots: the hash bloom and (below) the band bloom can
            # both overlap the sig-index write without queueing on each
            # other
            bloom_pool = ThreadPoolExecutor(max_workers=2)
            bloom_futs.append(bloom_pool.submit(_build_hash_bloom))
        _sig_chain_ok = False
        try:
            if self.near_dup_jaccard is not None:
                from pg2kinesis_spark.functions.dedup import _banded, band_key_col

                # ACCEPTED rows' signatures = the checkpointed batch
                # signatures semi-joined with the written-and-read-back doc
                # ids: no second shingle+minhash pass, and the lineage is
                # still severed (checkpoint on one side, final parquet on
                # the other — minhash is deterministic, so these are
                # byte-identical to re-signing the read-back text).
                sig = new_sig.join(
                    F.broadcast(back.select("doc_id")), "doc_id", "left_semi"
                )
                band_fut = None
                if self.band_bloom is not None:
                    # Band bloom CONCURRENT with the sig-index write
                    # (guide §2.6), built from the same checkpointed
                    # signatures the write uses instead of a re-read of
                    # the partition being written. Either crash ordering
                    # is safe: a bloom file whose sig partition never
                    # landed is an EXTRA file load_union ORs in —
                    # over-approximation (false "maybe" band keys find no
                    # index row -> no pair -> doc kept); a sig partition
                    # whose bloom never landed trips the coverage check
                    # and the probe falls back to the full index join —
                    # slow, never wrong — until the batch replays and
                    # overwrites both.
                    from pg2kinesis_spark.functions.bloom import bloom_hash_cols

                    h1, h2 = bloom_hash_cols(band_key_col())

                    def _build_band_bloom() -> None:
                        self.band_bloom.write(
                            _banded(sig, self.k, self.bands).select(
                                h1.alias("_h1"), h2.alias("_h2")
                            ),
                            "_h1",
                            "_h2",
                            batch_id,
                        )

                    band_fut = bloom_pool.submit(_build_band_bloom)
                    bloom_futs.append(band_fut)
                _write(sig, self.sig_path)
                if band_fut is not None:
                    # surface a band-bloom failure here, inside the sig
                    # chain, so the finally's masking rule treats it as
                    # the primary error of this batch
                    band_fut.result()
                _mark("sig build+bloom+write")
            if self.sd_cents is not None:
                from pg2kinesis_spark.functions.semdedup import assign_with_centroids

                # re-assign from the read-back rows (same frozen centroids →
                # identical cids) so the index write shares the severed
                # lineage and the replay-exclusion contract of the others
                _write(
                    assign_with_centroids(
                        back.select(F.col("doc_id").alias("vec_id"), "embedding"),
                        self.sd_cents,
                    ),
                    self.emb_path,
                )
            if self.url_xbatch:
                from pg2kinesis_spark.functions import urls as _urls

                # the index writes re-derive url_norm/domain from `back`'s
                # provenance URL on purpose: deriving from the pre-write
                # plan would re-execute the whole batch lineage (the severed-
                # lineage rule above), and keeping _cu_* columns in the
                # accepted parquet would leak internals into the user-facing
                # schema — one map-only codegen pass over ACCEPTED rows only
                # is the cheapest correct option.
                # Same normalize_url expression as the probe side -> same
                # md5 keys; NULL norms (unparseable) never enter the index.
                _write(
                    back.select(
                        F.md5(_urls.normalize_url(self.url_col)).alias("_uh")
                    ).filter(F.col("_uh").isNotNull()),
                    self.url_path,
                )
            if self.domain_cap_k is not None:
                from pg2kinesis_spark.functions import urls as _urls

                _write(
                    back.select(
                        _urls._registered_domain_expr(
                            _urls._host_sql(self.url_col)
                        ).alias("domain")
                    )
                    .filter(F.col("domain").isNotNull())
                    .groupBy("domain")
                    .agg(F.count(F.lit(1)).alias("n")),
                    self.dom_path,
                )
            _sig_chain_ok = True
        finally:
            # bloom BEFORE the hash index (the build was submitted above,
            # concurrent with the sig chain): a crash between the two
            # leaves the bloom over-approximating (maybe-seen rows probe
            # the index, find nothing, get re-accepted) — never under-,
            # which would silently re-admit duplicates. Replay overwrites
            # both. result() is the barrier that preserves that order —
            # and it runs on EVERY exit path: a raise anywhere in the sig/
            # semdedup/url/domain chain above must not orphan the non-
            # daemon bloom thread (it could outlive the failed batch into
            # a same-process replay and race its bloom_<batch_id>.bin
            # write) or silently drop its exception (ADVICE r12).
            try:
                for fut in bloom_futs:
                    try:
                        fut.result()
                    except BaseException:
                        if _sig_chain_ok:
                            raise
                        # the chain already failed — await the thread but
                        # do not mask the primary exception with the
                        # sidecar's (a band-bloom failure re-raised here
                        # IS the primary: _sig_chain_ok is False then)
            finally:
                if bloom_pool is not None:
                    bloom_pool.shutdown(wait=True)
        _write(back.select(F.md5("text").alias("_h")), self.hash_path)
        _mark("hash bloom+write")
        if self.stats:  # the count is a job — don't pay it when unread
            _write_stats(back.count())  # read-back parquet: cheap count


COMPACTED_BATCH_ID = -1
"""Reserved batch_id partition for compacted index history. Streaming
batch ids are >= 0, so the replay-exclusion filter
(``batch_id != current``) can never exclude compacted rows — exactly
right, because only batches that can no longer be replayed are folded."""


def _recover_compaction(path: str) -> None:
    """Crash recovery for ``compact_corpus_indexes``'s swap: if the live
    dir is missing but the ``.old`` backup exists (crash between the two
    renames), restore the backup — the index must never appear absent."""
    old = path + ".compact_old"
    if os.path.isdir(old) and not os.path.isdir(path):
        os.replace(old, path)


def compact_corpus_indexes(
    spark: SparkSession,
    out_dir: str,
    keep_last_batches: int = 1,
    target_files: int = 1,
) -> dict:
    """Fold old per-batch index partitions into one compacted partition.

    At 100 TB streaming scale the small-file problem is real: every
    micro-batch appends a ``batch_id=N`` partition to the hash /
    signature / embedding indexes, so after 10^4 batches every dedup
    join opens 10^4 parquet footers. Per-batch partitioning only earns
    its keep for REPLAYABLE batches (the crash-replay exclusion
    contract); history that can no longer be replayed doesn't need it.
    This maintenance op rewrites each index with all but the newest
    ``keep_last_batches`` partitions folded into ``batch_id=-1``
    (``COMPACTED_BATCH_ID``, sized to ``target_files`` files), leaving
    row content bit-identical — only layout changes.

    MUST run with the ingest stream STOPPED (the contract that makes
    folding safe: a stopped stream has no batch left to replay, and
    ``keep_last_batches >= 1`` keeps the newest partitions replayable
    anyway as belt-and-braces).

    Bloom sidecars fold with their index: the folded batches' bloom
    files OR into ``bloom_-1.bin`` — written BEFORE the index swap, so
    a crash only ever leaves extra (over-approximating) bloom files —
    and only when EVERY folded batch had one (a partial union would
    under-approximate; the coverage check would refuse it anyway).

    Crash-safe by rename protocol per index: write the compacted copy
    to ``<path>.compact_tmp``, rename live -> ``<path>.compact_old``,
    rename tmp -> live, delete old. A crash between the renames is
    healed by ``_recover_compaction`` (called here and by
    ``CorpusIngest.process_batch``).
    """
    import shutil

    if keep_last_batches < 1:
        # the newest batch stays replayable as belt-and-braces: a
        # checkpoint that didn't commit its last batch would replay it,
        # and a folded partition can't honor the exclusion contract
        raise ValueError("keep_last_batches must be >= 1")
    summary: dict = {}
    index_blooms = {
        "hash_index": "bloom",
        "sig_index": "bloom_bands",
        "emb_index": None,
        "url_index": None,
        # (domain, n) count rows: folding only relabels batch_id — the
        # per-batch sum the cap stage aggregates is unchanged
        "domain_counts": None,
    }
    for index_name, bloom_name in index_blooms.items():
        path = os.path.join(out_dir, index_name)
        _recover_compaction(path)
        ids = sorted(_index_batch_ids(path))
        if len(ids) <= keep_last_batches:
            continue
        fold = ids[: len(ids) - keep_last_batches]
        kept = ids[len(ids) - keep_last_batches :]
        if fold == [COMPACTED_BATCH_ID]:
            continue  # already compacted, nothing new to fold
        df = spark.read.parquet(path)
        folded = (
            df.filter(F.col("batch_id").isin(fold))
            .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
            .repartition(target_files)
        )
        kept_df = df.filter(F.col("batch_id").isin(kept)) if kept else None

        # bloom fold first (over-approximation-only crash window)
        if bloom_name is not None:
            bdir = os.path.join(out_dir, bloom_name)
            srcs = [os.path.join(bdir, f"bloom_{b}.bin") for b in fold]
            if os.path.isdir(bdir) and all(os.path.isfile(s) for s in srcs):
                import numpy as np

                acc = None
                for s in srcs:
                    with open(s, "rb") as fh:
                        arr = np.frombuffer(fh.read(), dtype=np.uint8)
                    acc = arr.copy() if acc is None else (acc | arr)
                tmp = os.path.join(bdir, f"bloom_{COMPACTED_BATCH_ID}.bin.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(acc.tobytes())
                os.replace(tmp, os.path.join(bdir, f"bloom_{COMPACTED_BATCH_ID}.bin"))

        tmp_path = path + ".compact_tmp"
        old_path = path + ".compact_old"
        shutil.rmtree(tmp_path, ignore_errors=True)
        shutil.rmtree(old_path, ignore_errors=True)
        folded.write.mode("append").partitionBy("batch_id").parquet(tmp_path)
        if kept_df is not None:
            kept_df.write.mode("append").partitionBy("batch_id").parquet(tmp_path)
        os.replace(path, old_path)
        os.replace(tmp_path, path)
        shutil.rmtree(old_path)

        # stale per-batch blooms last: deleting after the swap means a
        # crash anywhere above leaves them present = over-approximation
        if bloom_name is not None:
            bdir = os.path.join(out_dir, bloom_name)
            for b in fold:
                if b != COMPACTED_BATCH_ID:
                    try:
                        os.remove(os.path.join(bdir, f"bloom_{b}.bin"))
                    except OSError:
                        pass
        summary[index_name] = {"folded": fold, "kept": kept}
    return summary


def start_corpus_ingest(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema=None,
    max_files_per_trigger: int = 10,
    **kwargs,
):
    """Wire the file-landing-zone stream into CorpusIngest. Returns the
    StreamingQuery (caller owns lifecycle)."""
    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    ingest = CorpusIngest(out_dir, **kwargs)
    return (
        stream.writeStream.foreachBatch(ingest.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_archive_ingest(
    spark: SparkSession,
    archive_dir: str,
    out_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    suffixes: tuple[str, ...] | None = None,
    **kwargs,
):
    """ZIP/TAR landing zone as a continuous stream: archives landing in
    ``archive_dir`` explode through the bounded splitter + quarantine
    channel (functions/archives.py) into the same crash-idempotent
    CorpusIngest gates. One archive = one task; binaryFile checkpoint
    tracking gives exactly-once archive consumption (the WARC front
    door's contract for the tarball/zip corpus layout)."""
    from pg2kinesis_spark.functions.archives import archive_to_corpus

    bf_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(bf_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(archive_dir)
    )
    ingest = CorpusIngest(out_dir, **kwargs)
    kw = {} if suffixes is None else {"suffixes": suffixes}

    def _batch(df: DataFrame, batch_id: int) -> None:
        ingest.process_batch(
            archive_to_corpus(df, **kw).select("doc_id", "text"), batch_id
        )

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_warc_ingest(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    **kwargs,
):
    """The CommonCrawl front door as a CONTINUOUS stream: WARC archives
    landing in ``warc_dir`` flow through the record splitter + HTTP
    gate + codegen HTML->text (functions/warc.py) into the same
    crash-idempotent CorpusIngest gates (exact + incremental-LSH dedup
    against the parquet indexes).

    binaryFile is a regular file-stream source, so checkpointed file
    tracking gives exactly-once archive consumption; one archive = one
    task (the CommonCrawl 64k-files layout is the parallelism), and
    maxFilesPerTrigger bounds per-batch memory the same way
    maxPartitionBytes bounds scan tasks on a real cluster.
    """
    from pg2kinesis_spark.functions.warc import warc_to_corpus

    # binaryFile's schema is fixed by the format, but the stream source
    # API still demands it explicitly
    bf_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(bf_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(warc_dir)
    )
    ingest = CorpusIngest(out_dir, **kwargs)

    def _batch(df: DataFrame, batch_id: int) -> None:
        ingest.process_batch(warc_to_corpus(df).select("doc_id", "text"), batch_id)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
