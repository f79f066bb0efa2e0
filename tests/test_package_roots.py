"""The package holds what its roots reach, plus declared test support,
and every module-level name it binds is used somewhere.

Roots: the query registry (``pg2kinesis_spark.plans``), ``bench.py``,
``__spark_entry__.py``, ``pg2kinesis_spark/__main__.py``, ``tools/*.py``,
``perfbench/*.py`` and the public defs of ``streaming/``, ``sinks/`` and
``sources/``. The walk is name-level: every ``Name``, ``Attribute`` and
identifier-shaped string constant inside a reached body reaches every
top-level def of that name, and importing a module reaches its
module-level statements. It over-approximates, so it never calls live
code dead.

A top-level def that no root reaches must be named in ``TEST_SUPPORT``:
fixture encoders, and helpers or references that tests of rooted code
use (an encoder builds the input a rooted decoder reads; ``tiff_info``
checks the headers ``encode_tiff`` writes; ``cosine_pairs`` is the
brute-force reference for ``srp_tables_neardup_pairs``). The test fails
on a new def that no root reaches, on a listed def that a root now
reaches or that is gone, and on a listed def that no test uses.

The orphan check is name-level too: a name that a package module binds
at module level, by assignment or import, must occur as a name, an
attribute or an identifier-shaped string somewhere in the package,
``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``, beyond its own binding. Dunders and ``__all__``
are exempt.
"""

from __future__ import annotations

import ast
import re
from collections import Counter, defaultdict
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
    "functions.similarity.cosine_pairs",
    "functions.vorbis._VBitWriter",
    "functions.vorbis._fixture_setup_packet",
    "functions.vorbis.encode_ogg_vorbis_envelope",
    "functions.vorbis.encode_webm_vorbis_envelope",
    "functions.vorbis.vorbis_quantize_envelope",
    "operators.pgoutput.encode_truncate",
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
    assert sorted(unrooted - TEST_SUPPORT) == [], "defs that no root reaches"
    assert sorted(TEST_SUPPORT - unrooted) == [], "listed defs that are rooted or gone"

    tests = [p for p in sorted(Path(__file__).parent.glob("*.py")) if p.name != Path(__file__).name]
    used = _short(pkg.reach(tests, [], []))
    assert sorted(TEST_SUPPORT - used) == [], "listed defs that no test uses"


def _bindings(tree: ast.Module):
    """(name, node) for each module-level assignment target and import
    alias, including those under a top-level ``if`` or ``try``."""
    todo = list(tree.body)
    while todo:
        st = todo.pop()
        if isinstance(st, (ast.If, ast.Try)):
            todo += st.body + st.orelse + getattr(st, "finalbody", [])
            todo += [s for h in getattr(st, "handlers", []) for s in h.body]
        elif isinstance(st, (ast.Import, ast.ImportFrom)):
            for a in st.names:
                yield (a.asname or a.name).split(".")[0], st
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            for t in st.targets if isinstance(st, ast.Assign) else [st.target]:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, st


def _uses(tree: ast.AST) -> Counter:
    out = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out[n.value] += 1
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def test_module_level_names_are_used():
    files = sorted(PKG.rglob("*.py")) + sorted((REPO / "tests").glob("*.py"))
    files += sorted((REPO / "tools").glob("*.py")) + sorted((REPO / "perfbench").glob("*.py"))
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    trees = {f: ast.parse(f.read_text(encoding="utf-8")) for f in files}
    uses = Counter()
    for tree in trees.values():
        uses += _uses(tree)
    orphans = []
    for path in sorted(PKG.rglob("*.py")):
        for name, st in _bindings(trees[path]):
            if name == "annotations" or (name.startswith("__") and name.endswith("__")):
                continue
            # an unaliased ``from x import name`` counts itself once
            own = isinstance(st, ast.ImportFrom) and any(
                a.name == name and a.asname is None for a in st.names
            )
            if uses[name] <= own:
                orphans.append(f"{path.relative_to(REPO)}:{st.lineno} {name}")
    assert orphans == [], "module-level names nothing uses"
