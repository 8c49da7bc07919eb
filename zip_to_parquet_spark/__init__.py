"""zip_to_parquet_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference ``mcpar-land/zip-to-parquet``
(a Rust zip→parquet ETL CLI, see ``/root/reference/src/builder.rs``) as an
idiomatic Spark DataFrame engine, and extends it with the relational operator
library and LLM-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns) described in SURVEY.md §2/§7.

Layout:
    session.py     SparkSession construction with scale-aware defaults
    schema.py      explicit StructTypes (zip-member table + driver fixtures)
    sources/       zip-archive source (the reference's A1/A2/A3 surface)
    sinks.py       parquet sink with row-group/compression control (A4/A5)
    functions/     scalar helpers (glob→regex, sha256, vector math)
    operators/     relational + LLM-pipeline operator library
    plans/         named query registry backing __spark_entry__.queries()
    streaming/     Structured Streaming variants over the events table
"""

__version__ = "0.1.0"


def _gate_zip_directory_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's ``(st_mtime_ns, st_size, st_ino)`` changed since
    that importer last read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. On Python 3.11 and 3.12 that eagerly re-parses the directory of
    every zip on ``sys.path`` (``pyspark.zip``, the ``spark-core`` jar and
    this package's shipped zip), once per importer instance, which is most
    of a short task's CPU. CPython 3.13 only drops the cache entry there,
    so the gate is installed on older versions only. Every worker that
    unpickles a function of this package imports this module, so the gate
    covers the zip source and the UDFs alike."""
    import os
    import sys
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(eager, "__module__", None) == __name__:
        return

    def invalidate_caches(self):
        # Stat before reading: a change racing the read leaves an older
        # signature behind, so the next call re-reads again.
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        if sig is None or self.__dict__.get("_dir_sig") != sig:
            eager(self)
            self._dir_sig = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_gate_zip_directory_rereads()
