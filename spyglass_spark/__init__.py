"""spyglass_spark — a PySpark-native inverted-index + BM25 search engine.

From-scratch rebuild of the query/data-processing capabilities of
spyglass-search/spyglass (reference at /root/reference, read-only), built
Spark-first: DataFrame/SQL plans, Arrow-vectorized UDFs for the analyzer
and posting codecs, term-range-partitioned posting segments with
doc-partition-aligned chunks for block-max WAND scoring.

Public API:

    from spyglass_spark import (build_index, upsert_documents, delete_by_ids,
                                compact_index, SearchEngine, OracleIndex,
                                load_corpus, to_documents, read_corpus)

    manifest = build_index(spark, docs_df, "/path/index", num_partitions=128)
    engine = SearchEngine(spark, "/path/index")
    hits = engine.search("fn main", filters=[("tag", 3)], k=5)
"""

__version__ = "0.1.0"


def __getattr__(name):  # lazy imports keep `import spyglass_spark` light
    from importlib import import_module

    targets = {
        "build_index": ("spyglass_spark.index.builder", "build_index"),
        "upsert_documents": ("spyglass_spark.index.builder", "upsert_documents"),
        "delete_by_ids": ("spyglass_spark.index.builder", "delete_by_ids"),
        "compact_index": ("spyglass_spark.index.builder", "compact_index"),
        "SearchEngine": ("spyglass_spark.query.executor", "SearchEngine"),
        "OracleIndex": ("spyglass_spark.oracle.engine", "OracleIndex"),
        "load_corpus": ("spyglass_spark.corpus", "load_corpus"),
        "to_documents": ("spyglass_spark.corpus", "to_documents"),
        "build_tags_dim": ("spyglass_spark.corpus", "build_tags_dim"),
        "read_corpus": ("spyglass_spark.sources", "read_corpus"),
        "get_spark": ("spyglass_spark.session", "get_spark"),
        "search_with_lenses": ("spyglass_spark.ops.tags", "search_with_lenses"),
        "search_with_semantic_boost": ("spyglass_spark.ops.semantic",
                                       "search_with_semantic_boost"),
        "apply_lens": ("spyglass_spark.ops.lens_rules", "apply_lens"),
        "start_incremental_indexer": ("spyglass_spark.streaming.incremental",
                                      "start_incremental_indexer"),
    }
    if name in targets:
        mod, attr = targets[name]
        return getattr(import_module(mod), attr)
    raise AttributeError(f"module 'spyglass_spark' has no attribute {name!r}")


def _stat_gated(reread):
    """``zipimporter.invalidate_caches`` that re-reads its archive only
    when the file changed. PySpark's worker calls
    ``importlib.invalidate_caches()`` before every task; on CPython 3.11
    each zipimporter then re-parses its whole central directory
    (pyspark.zip once per imported subpackage prefix, the py4j zip and
    the spark-core jar: ~27k entries, ~0.2 s per task on a 4-CPU host).
    The stamp is ``(st_mtime_ns, st_size)`` as of this importer's last
    re-read (kept per importer, since importers share archives); a
    failed stat falls through to ``reread``, the stdlib method."""
    import os

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.reread = reread
    return invalidate_caches


def _gate_worker_zip_rereads() -> None:
    """Install ``_stat_gated`` in a PySpark Python worker, once. CPython
    3.12 already re-reads lazily, and the driver process is never
    patched."""
    import sys

    if sys.version_info >= (3, 12):
        return
    tc = sys.modules.get("pyspark.taskcontext")
    if ("pyspark.worker" not in sys.modules
            and (tc is None or tc.TaskContext.get() is None)):
        return
    import zipimport

    current = zipimport.zipimporter.invalidate_caches
    if not hasattr(current, "reread"):
        zipimport.zipimporter.invalidate_caches = _stat_gated(current)


_gate_worker_zip_rereads()
