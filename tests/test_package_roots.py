"""The package holds what its roots reach, plus a committed list of what
only tests call.

Roots: the query registry (``pg2kinesis_spark.plans``), ``bench.py``,
``__spark_entry__.py``, ``pg2kinesis_spark/__main__.py``, ``tools/*.py``,
``perfbench/*.py`` and the public defs of ``streaming/``, ``sinks/`` and
``sources/``. The walk is name-level: every ``Name``, ``Attribute`` and
identifier-shaped string constant inside a reached body reaches every
top-level def of that name, and importing a module reaches its
module-level statements. It over-approximates, so it never calls live
code dead.

A top-level def that no root reaches must be named below:

- ``TEST_SUPPORT``: fixture encoders, and helpers or references that
  tests of rooted code use (an encoder builds the input a rooted decoder
  reads; ``tiff_info`` checks the headers ``encode_tiff`` writes).
- ``TESTED_ONLY``: library code that only its own tests call. Deleting
  one deletes the tests that check only it, so these go a few modules
  per change.

The test fails on a new def that no root reaches, on a listed def that a
root now reaches or that is gone, and on a listed def that no test uses.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "pg2kinesis_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

TEST_SUPPORT = frozenset({
    "fixtures.gen_lang_corpus",
    "functions.aes.aes_decrypt_block",
    "functions.aes.aes_encrypt_block",
    "functions.codecs._default_prog_scans",
    "functions.codecs._emit_prog_scan",
    "functions.codecs._l1_quant",
    "functions.codecs.encode_exif_app1",
    "functions.codecs.encode_gif",
    "functions.codecs.encode_id3v1",
    "functions.codecs.encode_jpeg_progressive",
    "functions.codecs.encode_m4a_envelope",
    "functions.codecs.encode_mp3_layer1",
    "functions.codecs.encode_mp3_layer2",
    "functions.codecs.encode_mp3_layer3_envelope",
    "functions.codecs.encode_ogg_flac",
    "functions.codecs.encode_pnm",
    "functions.codecs.encode_tga",
    "functions.codecs.encode_wav_extensible",
    "functions.codecs.encode_webp_skeleton",
    "functions.codecs.tiff_info",
    "functions.compress._emit_lz4_sequence",
    "functions.compress.lz4_block_compress",
    "functions.compress.lz4_block_decompress",
    "functions.compress.lz4_compress",
    "functions.compress.snappy_compress",
    "functions.compress.snappy_raw_compress",
    "functions.classifier.build_classifier_pipeline",
    "functions.classifier.train_doc_classifier",
    "functions.langid.build_lang_id_pipeline",
    "functions.langid.train_char_lang_id",
    "functions.opus.RangeEncoder",
    "functions.opus._celt_prob",
    "functions.opus._laplace_encode",
    "functions.opus._plan_silk_gains",
    "functions.opus._quantize_gain_index",
    "functions.opus.celt_quantize_envelope",
    "functions.opus.encode_ogg_opus_envelope",
    "functions.opus.encode_webm_opus_envelope",
    "functions.opus.opus_envelope_packets",
    "functions.opus.silk_quantize_envelope",
    "functions.vorbis._VBitWriter",
    "functions.vorbis._fixture_setup_packet",
    "functions.vorbis.encode_ogg_vorbis_envelope",
    "functions.vorbis.encode_webm_vorbis_envelope",
    "functions.vorbis.vorbis_quantize_envelope",
    "operators.pgoutput.encode_truncate",
})

TESTED_ONLY = frozenset({
    "bucketing.colocated_join",
    "bucketing.write_bucketed",
    "functions.archives.archive_jsonl_to_corpus",
    "functions.archives.epub_to_corpus",
    "functions.archives.members_as_media",
    "functions.bpe.bpe_decode",
    "functions.bpe.bpe_encode",
    "functions.bpe.bpe_fertility",
    "functions.bpe.load_model",
    "functions.bpe.save_model",
    "functions.c4.drop_boilerplate_lines",
    "functions.classifier.score_docs",
    "functions.codecs.audio_cover",
    "functions.codecs.flac_cover",
    "functions.codecs.id3v2_cover",
    "functions.codecs.mp4_cover",
    "functions.contamination.contamination_report",
    "functions.dedup.append_minhash_signatures",
    "functions.dedup.minhash_lsh_pairs_from_signatures",
    "functions.dedup.refine_pairs_levenshtein",
    "functions.dedup.write_minhash_signatures",
    "functions.dsir.dsir_threshold_for_rate",
    "functions.embed.build_embedding_pipeline",
    "functions.embed.embed_docs",
    "functions.embed.fit_embedder",
    "functions.embed.semantic_neardup_pairs",
    "functions.html.extract_title",
    "functions.lm.perplexity_buckets",
    "functions.multimodal._with_error",
    "functions.multimodal.covers_as_media",
    "functions.multimodal.extract_cover_art",
    "functions.multimodal.media_from_files",
    "functions.multimodal.media_profile",
    "functions.multimodal.media_quarantine",
    "functions.multimodal.pdf_images_as_media",
    "functions.multimodal.resize_media",
    "functions.multimodal.sniff_mime",
    "functions.multimodal.video_frame_dhash",
    "functions.multimodal.video_frames",
    "functions.multimodal.video_near_dup_pairs",
    "functions.packing.materialize_sequences",
    "functions.packing.packing_stats",
    "functions.pii._rule_counts",
    "functions.pii.pii_counts",
    "functions.repetition._occurrences",
    "functions.repetition._safe_frac",
    "functions.repetition.doc_shape_stats",
    "functions.repetition.dup_line_stats",
    "functions.repetition.dup_ngram_char_frac",
    "functions.repetition.repetition_stats",
    "functions.repetition.top_ngram_char_frac",
    "functions.sampling.mix_corpora",
    "functions.sampling.rebalance_to_target",
    "functions.sampling.stratified_fixed_n",
    "functions.sampling.stratified_sample",
    "functions.sampling.temperature_weights",
    "functions.sampling.weighted_sample_n",
    "functions.search.bm25_topk_from_postings",
    "functions.search.corpus_stats",
    "functions.search.write_postings",
    "functions.similarity._sqdist",
    "functions.similarity.cosine_pairs",
    "functions.similarity.ivf_ann_topk",
    "functions.similarity.ivf_ann_topk_from_index",
    "functions.similarity.ivf_assign",
    "functions.similarity.ivf_centroids",
    "functions.similarity.srp_ann_topk",
    "functions.similarity.srp_buckets",
    "functions.similarity.srp_neardup_pairs",
    "functions.similarity.srp_neardup_pairs_from_buckets",
    "functions.similarity.srp_planes",
    "functions.similarity.write_ivf_index",
    "functions.similarity.write_srp_buckets",
    "functions.skew.explode_salt",
    "functions.skew.salt_from_row",
    "functions.skew.salted_count_distinct",
    "functions.skew.salted_join",
    "functions.text.chunk_documents",
    "functions.text.normalize_text",
    "functions.unigram.corpus_log_likelihood",
    "functions.unigram.unigram_encode",
    "functions.vocab.build_vocab",
    "functions.vocab.vocab_token_counts",
})


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _imports(node: ast.AST, module: str, is_pkg: bool) -> set[str]:
    """Absolute names of the modules an import in ``node`` can load."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                parts = module.split(".")
                keep = len(parts) - n.level + (1 if is_pkg else 0)
                base = ".".join(parts[:keep] + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in n.names)
    return out


class _Package:
    """Top-level defs of the package and their reachability."""

    def __init__(self):
        self.defs = {}  # "pg2kinesis_spark.mod.name" -> (module, node)
        self.by_name = defaultdict(list)
        self.top = {}  # module -> (module-level statements, is_pkg)
        for path in sorted(PKG.rglob("*.py")):
            rel = path.relative_to(REPO).with_suffix("")
            is_pkg = rel.name == "__init__"
            module = ".".join(rel.parts[:-1] if is_pkg else rel.parts)
            stmts = []
            for st in ast.parse(path.read_text(encoding="utf-8")).body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    key = f"{module}.{st.name}"
                    self.defs[key] = (module, st)
                    self.by_name[st.name].append(key)
                elif not (
                    isinstance(st, ast.Assign)
                    and any(getattr(t, "id", None) == "__all__" for t in st.targets)
                ):
                    stmts.append(st)
            self.top[module] = (stmts, is_pkg)

    def reach(self, files: list[Path], modules: list[str], keys: list[str]) -> set[str]:
        reached, loaded, work = set(), set(), []

        def visit(node, module, is_pkg):
            for name in _names(node):
                for key in self.by_name.get(name, ()):
                    if key not in reached:
                        reached.add(key)
                        work.append(key)
            load(_imports(node, module, is_pkg))

        def load(mods):
            for m in mods:
                if m in self.top and m not in loaded:
                    loaded.add(m)
                    stmts, is_pkg = self.top[m]
                    for st in stmts:
                        visit(st, m, is_pkg)

        for f in files:
            rel = f.relative_to(REPO).with_suffix("")
            visit(ast.parse(f.read_text(encoding="utf-8")), ".".join(rel.parts), False)
        load(modules)
        reached.update(keys)
        work.extend(keys)
        while work:
            module, node = self.defs[work.pop()]
            load([module])
            visit(node, module, self.top[module][1])
        return reached


def _short(keys) -> set[str]:
    return {k.removeprefix("pg2kinesis_spark.") for k in keys}


def test_unrooted_defs_are_exactly_the_listed_ones():
    pkg = _Package()
    files = [REPO / "bench.py", REPO / "__spark_entry__.py", PKG / "__main__.py"]
    files += sorted((REPO / "tools").glob("*.py")) + sorted((REPO / "perfbench").glob("*.py"))
    public = [
        k for k, (module, node) in pkg.defs.items()
        if module.split(".")[1:2] in (["streaming"], ["sinks"], ["sources"])
        and not node.name.startswith("_")
    ]
    reached = pkg.reach(files, ["pg2kinesis_spark.plans"], public)
    unrooted = _short(set(pkg.defs) - reached)
    assert not TEST_SUPPORT & TESTED_ONLY
    listed = TEST_SUPPORT | TESTED_ONLY
    assert sorted(unrooted - listed) == [], "defs that no root reaches"
    assert sorted(listed - unrooted) == [], "listed defs that are rooted or gone"

    tests = [p for p in sorted(Path(__file__).parent.glob("*.py")) if p.name != Path(__file__).name]
    used = _short(pkg.reach(tests, [], []))
    assert sorted(listed - used) == [], "listed defs that no test uses"
