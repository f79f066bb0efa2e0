"""Per-task import cost in Python workers: ``forget_zip_importers``.

Every worker task runs ``importlib.invalidate_caches()``; on CPython 3.11
each cached zipimporter then re-reads its archive's whole directory.
The helper drops those cached finders so the invalidation has nothing to
read, and later imports still resolve from the archive.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from pg2kinesis_spark.session import forget_zip_importers


def test_invalidate_caches_reads_no_archive_after_forget(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("fzi_mod_a.py", "NAME = 'a'\n")
        z.writestr("fzi_mod_b.py", "NAME = 'b'\n")
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path))
    try:
        assert importlib.import_module("fzi_mod_a").NAME == "a"
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        # without the helper, invalidation re-reads the archive directory
        importlib.invalidate_caches()
        assert archive in reads

        forget_zip_importers()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
        # the finder is rebuilt from zipimport's directory cache
        mod_b = importlib.import_module("fzi_mod_b")
        assert mod_b.NAME == "b" and mod_b.__file__.startswith(archive)
        assert reads == []
    finally:
        for name in ("fzi_mod_a", "fzi_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_cdc_worker_function_leaves_no_zip_importers(spark):
    """Runs the streaming xid stamp's worker body inside a Python worker,
    then reports the zipimporters still cached in that same worker: none
    are left for the next task's ``invalidate_caches()`` to re-read. The
    body runs twice: a fresh worker's first call imports pandas lazily
    (a sys.path walk that rebuilds the finders), the second call is what
    every later task of the worker sees."""

    def probe(batches):
        import pyarrow as pa

        from pg2kinesis_spark.streaming.pipeline import _stamp_batches

        chunks = list(batches)
        list(_stamp_batches(iter(chunks)))
        stamped = list(_stamp_batches(iter(chunks)))
        left = [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({"rows": [sum(b.num_rows for b in stamped)], "zips": [len(left)]})

    df = spark.createDataFrame(
        [(1, "BEGIN 7", "7"), (2, "COMMIT", None)], "lsn long, payload string, begin_xid string"
    )
    out = df.coalesce(1).mapInArrow(probe, "rows long, zips long").collect()
    assert [(r.rows, r.zips) for r in out] == [(2, 0)]
