"""The Python-worker zip-reread gate (spyglass_spark._stat_gated): a
worker's per-task ``importlib.invalidate_caches()`` re-reads a zip
archive's central directory only when the archive changed on disk. It is
installed in Python workers on CPython < 3.12, never in the driver."""

import sys
import types
import zipfile
import zipimport

import pytest

import spyglass_spark

OLD_ZIPIMPORT = sys.version_info < (3, 12)


def _is_stdlib(fn) -> bool:
    return fn.__module__ == "zipimport" and not hasattr(fn, "reread")


@pytest.mark.skipif(not OLD_ZIPIMPORT,
                    reason="CPython >= 3.12 re-reads zip archives lazily")
def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    path = tmp_path / "lib.zip"

    def write(src):
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("gated_mod.py", src)

    write("X = 1\n")
    imp = zipimport.zipimporter(str(path))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    gated = spyglass_spark._stat_gated(zipimport.zipimporter.invalidate_caches)

    gated(imp)  # no stamp yet: the first call re-reads
    assert len(reads) == 1
    gated(imp)
    gated(imp)
    assert len(reads) == 1  # unchanged archive: not re-read
    # a second importer over the same archive keeps its own stamp
    gated(zipimport.zipimporter(str(path)))
    assert len(reads) == 2

    write("X = 2  # rewritten, so the size changes\n")
    gated(imp)
    assert len(reads) == 3
    assert "X = 2" in imp.get_source("gated_mod")

    path.unlink()  # a failed stat falls through to the stdlib re-read
    gated(imp)
    assert len(reads) == 4


@pytest.mark.skipif(not OLD_ZIPIMPORT,
                    reason="CPython >= 3.12 re-reads zip archives lazily")
def test_gate_installs_once_and_only_in_a_worker(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    assert _is_stdlib(stdlib)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    spyglass_spark._gate_worker_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stdlib  # driver
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    spyglass_spark._gate_worker_zip_rereads()
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.reread is stdlib
    spyglass_spark._gate_worker_zip_rereads()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is gated


def test_session_workers_gate_and_driver_keeps_stdlib(spark):
    """A task that imports the package runs with the gate on CPython <
    3.12 (the stdlib method otherwise); the driver keeps the stdlib
    method after ``import spyglass_spark``."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        import spyglass_spark  # noqa: F401  (installs the gate)

        fn = zipimport.zipimporter.invalidate_caches
        gated = fn.__module__ == "spyglass_spark" and hasattr(fn, "reread")
        for _ in batches:
            pass
        yield pd.DataFrame({"gated": [gated],
                            "old": [sys.version_info < (3, 12)]})

    n = max(spark.sparkContext.defaultParallelism, 2)
    rows = (spark.range(0, n, 1, n)
                 .mapInPandas(probe, "gated boolean, old boolean").collect())
    assert len(rows) == n
    assert all(r.gated == r.old for r in rows), rows
    assert all(r.old == OLD_ZIPIMPORT for r in rows)
    assert _is_stdlib(zipimport.zipimporter.invalidate_caches)
