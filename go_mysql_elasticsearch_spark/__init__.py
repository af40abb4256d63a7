"""PySpark-native full-text indexing + BM25 query engine.

A from-scratch Spark-first re-expression of the capabilities of
ehalpern/go-mysql-elasticsearch (a MySQL→Elasticsearch CDC full-text
sync pipeline): durable, resumable, batched inverted-index construction
from a table source, and rank-correct BM25 top-k retrieval with the
Elasticsearch query-operator surface the reference targets.

Not a port: the reference is a row-oriented Go binlog tailer feeding
ES bulk HTTP; this engine is columnar (parquet/Arrow scans), declares
its dataflow with the DataFrame API so Catalyst optimizes it, and
implements only the genuinely novel parts (posting-block codec,
block-max WAND, skew salting) as vectorized Arrow UDFs.
"""

import sys

__version__ = "0.1.0"


def _guard_zipimport_invalidation() -> None:
    """Make repeated ``importlib.invalidate_caches()`` calls cheap.

    PySpark's worker loop runs ``setup_spark_files`` → ``importlib.
    invalidate_caches()`` before EVERY task. On CPython 3.11 each cached
    ``zipimporter`` (pyspark.zip, py4j zip — and one cache entry per
    package subdirectory inside them) answers that by re-reading its
    whole zip central directory; profiled here at ~0.4 s of pure Python
    CPU per task, on every Python-stage task of every job (guide §4:
    the boundary tax — this one was invisible until the worker's
    between-task CPU was measured). CPython 3.12+ fixed it upstream by
    making the re-read lazy (gh-97850-adjacent); this guard backports
    the observable effect: skip the directory re-read when the archive
    file's (mtime_ns, size) is unchanged since it was last read —
    exactly the condition under which the cached directory is still
    valid. A changed or vanished zip still re-reads eagerly.

    Applied at package import on CPython < 3.12 only, so the driver
    and every Python worker that unpickles this engine's functions (the
    import happens on the worker's first task) are covered from their
    next task onward.
    """
    import os
    import zipimport

    zi = zipimport.zipimporter
    if getattr(zi, "_gmes_stat_guard", False) or not hasattr(zi, "invalidate_caches"):
        return
    orig = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_gmes_stat", None) == key:
            return None  # archive unchanged → cached directory valid
        out = orig(self)
        self._gmes_stat = key
        return out

    try:
        zi.invalidate_caches = invalidate_caches
        zi._gmes_stat_guard = True
    except (AttributeError, TypeError):  # immutable class: leave as-is
        pass


if sys.version_info < (3, 12):
    _guard_zipimport_invalidation()
