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


def init_sql(spark):
    """Register all st_* functions on a SparkSession (the analog of
    geomesa_pyspark.init_sql / SparkSession.withJTS) and ship the package
    to the executors."""
    attach(spark)
    _register_functions(spark)
    return spark
