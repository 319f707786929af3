"""GeoEngine facade tests: hint-surface parity (QueryHints.scala analog)."""

import pytest

from geomesa_spark.engine import FullTableScanError, GeoEngine
from geomesa_spark.sources.docs import synth_docs


@pytest.fixture(scope="module")
def eng(spark):
    return GeoEngine(spark)


@pytest.fixture(scope="module")
def docs(spark, eng):
    df = eng.ingest(synth_docs(spark, 600)).cache()
    df.count()
    return df


def test_scan_spatial_temporal_hints(eng, docs):
    out = eng.scan(
        docs,
        geometry="POLYGON((-40 -40, -40 40, 40 40, 40 -40, -40 -40))",
        interval=("2016-01-01", "2016-01-20"),
        max_features=10,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert -40 <= r.x <= 40 and -40 <= r.y <= 40


def test_scan_density_hint(eng, docs):
    grid = eng.scan(docs, density=dict(bbox=(-180, -90, 180, 90), width=64, height=32))
    total = grid.agg({"weight": "sum"}).collect()[0][0]
    assert total == docs.filter("x is not null").count()


def test_scan_stats_hint(eng, docs):
    s = eng.scan(docs, stats="MinMax(x);Count()")
    assert s[1]["count"] == docs.count()
    assert -180 <= s[0]["min"] <= s[0]["max"] <= 180


def test_scan_sampling_hint(eng, docs):
    n = eng.scan(docs, sampling=10).count()
    assert 0 < n <= docs.count() // 5


def test_scan_bin_hint(eng, docs):
    b = eng.scan(docs, bin=dict(track="doc_id")).limit(5).collect()
    assert all(len(bytes(r.bin)) == 16 for r in b)


def test_guard_blocks_full_scan(eng, docs):
    with pytest.raises(FullTableScanError):
        eng.scan(docs, guard=True)
    # predicate present -> allowed
    eng.scan(docs, geometry="POLYGON((0 0, 0 1, 1 1, 1 0, 0 0))", guard=True)


def test_engine_join_and_tiles(eng, spark, docs):
    right = eng.ingest(synth_docs(spark, 80, seed=7, bbox=(-3, -3, 3, 3)))
    j = eng.join(docs, right)
    assert j.count() >= 0
    t = eng.tiles(docs, 3)
    assert t.agg({"n_docs": "sum"}).collect()[0][0] == docs.filter("x is not null").count()


def test_engine_pipeline_ops(eng, spark, tmp_path):
    """Facade surface for the training-data ops + tiered attribute index."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert eng.dedup_near(docs, "minhash", threshold=0.8, verify="exact").count() > 0
    assert eng.dedup_near(emb, "embedding", threshold=0.40).count() >= 0
    q = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    assert eng.ann(emb, q, k=5, approx=False).count() == 5

    from pyspark.sql import functions as F
    from geomesa_spark import oracle as O

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("x", F.expr(O.EVENT_LON)).withColumn("y", F.expr(O.EVENT_LAT))
        .withColumn("minx", F.col("x")).withColumn("maxx", F.col("x"))
        .withColumn("miny", F.col("y")).withColumn("maxy", F.col("y"))
    )
    path = str(tmp_path / "by_user")
    eng.write_attr_indexed(ev, path, "user_id")
    got = eng.attr_scan(path, "user_id", 7).count()
    want = ev.filter("user_id = 7").count()
    assert got == want > 0


def test_attach_rebuilds_a_stale_package_zip(tmp_path, monkeypatch):
    """attach() ships a zip of the package's current sources: a stale zip
    left at the same path is rebuilt, a current one is reused."""
    import tempfile
    import types
    import zipfile
    from pathlib import Path

    import geomesa_spark

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    zpath = tmp_path / f"geomesa_spark-{geomesa_spark.__version__}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("geomesa_spark/__init__.py", "STALE = True\n")
    added = []
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=added.append))

    geomesa_spark.attach(fake)
    pkg = Path(geomesa_spark.__file__).parent
    want = {f"geomesa_spark/{p.relative_to(pkg).as_posix()}": p.read_bytes() for p in pkg.rglob("*.py")}
    with zipfile.ZipFile(zpath) as zf:
        assert {n: zf.read(n) for n in zf.namelist()} == want
    built = zpath.stat().st_mtime_ns
    geomesa_spark.attach(fake)
    assert zpath.stat().st_mtime_ns == built
    assert added == [str(zpath)] * 2
