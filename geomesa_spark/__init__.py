"""geomesa_spark: a PySpark-native spatial-join + tiling engine.

A from-scratch DataFrame/Catalyst/Arrow engine with the query surface of
GeoMesa (reference at /root/reference): st_* SQL functions, Z2/Z3/XZ2-style
cell indexing re-expressed as vectorized cell encoders + partition-prunable
predicates, spatial joins, kNN, density/tile aggregation — over parquet or
Iceberg tables of interleaved text+media documents.

Usage:
    import geomesa_spark
    geomesa_spark.init_sql(spark)   # registers all st_* SQL functions
"""

__version__ = "0.1.0"

from .functions import register as _register_functions


def attach(spark):
    """Ship this package to the executors (spark-submit --py-files analog,
    done automatically): zips the package and calls sc.addPyFile so UDF
    closures can import geomesa_spark on any worker regardless of cwd.
    The zip's comment holds a digest of the package's .py sources; a zip
    whose digest differs (another checkout, an edited tree) is rebuilt."""
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = sorted(
        os.path.relpath(os.path.join(root, f), pkg_dir)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in sources:
        with open(os.path.join(pkg_dir, rel), "rb") as fh:
            digest.update(rel.encode() + b"\0" + fh.read() + b"\0")
    comment = digest.hexdigest().encode()
    zpath = os.path.join(tempfile.gettempdir(), f"geomesa_spark-{__version__}.zip")
    try:
        with zipfile.ZipFile(zpath) as zf:
            fresh = zf.comment == comment
    except (OSError, zipfile.BadZipFile):
        fresh = False
    if not fresh:
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel in sources:
                zf.write(os.path.join(pkg_dir, rel), os.path.join("geomesa_spark", rel))
            zf.comment = comment
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    return spark


def _lazy_zip_invalidation():
    """Inside a Python worker on CPython < 3.13, re-read a zip archive's
    directory on importlib.invalidate_caches() only when the archive changed.

    PySpark's worker ends setup_spark_files with importlib.invalidate_caches()
    on every task, and before 3.13 zipimporter.invalidate_caches re-parses
    the archive's whole central directory in pure Python, once per cached
    importer: the spark-core jar x2, pyspark.zip x12-14, py4j x2 and this
    package's zip x5-8, about 30k entries and 0.1-0.6 s before each task's UDF
    runs. CPython 3.13 reads zipimporter's files through
    _zip_directory_cache and only pops the entry on invalidation; this does
    the same with one difference: the entry stays filled (pkgutil's
    iter_zipimport_modules indexes _zip_directory_cache[archive] directly)
    and is re-read when the archive's (st_size, st_mtime_ns) differs from
    the one it was read at. The driver's interpreter is left as it is."""
    import sys

    if sys.version_info >= (3, 13):
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    import os
    import zipimport

    cache = zipimport._zip_directory_cache

    def stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_size, st.st_mtime_ns

    # this task's setup_spark_files re-read every cached archive just now
    read_at = {path: stamp(path) for path in cache}

    def read(path, st):
        try:
            files = cache[path] = zipimport._read_directory(path)
        except zipimport.ZipImportError:
            cache.pop(path, None)
            return {}
        read_at[path] = st
        return files

    def files(self):
        try:
            return cache[self.archive]
        except KeyError:
            return read(self.archive, stamp(self.archive))

    def invalidate_caches(self):
        st = stamp(self.archive)
        if st is None or read_at.get(self.archive) != st or self.archive not in cache:
            read(self.archive, st)

    # zipimporter.__init__ stores the directory in the cache before it
    # assigns self._files, so the setter has nothing left to keep
    zipimport.zipimporter._files = property(files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def init_sql(spark):
    """Register all st_* functions on a SparkSession (the analog of
    geomesa_pyspark.init_sql / SparkSession.withJTS) and ship the package
    to the executors."""
    attach(spark)
    _register_functions(spark)
    return spark


_lazy_zip_invalidation()
