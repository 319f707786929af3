"""Spatial partitioning strategy tests (§2.8): coverage (no lost rows),
whole-earth grid determinism, weighted balance on skewed data."""

import pytest
from pyspark.sql import functions as F

from geomesa_spark.plans.partitioning import (
    _ensure_parallel,
    earth_partitioning,
    equal_partitioning,
    partition_bounds,
    weighted_partitioning,
)
from geomesa_spark.sources.docs import index_docs, synth_docs


@pytest.fixture(scope="module")
def docs(spark):
    df = index_docs(synth_docs(spark, 2000)).filter("x is not null").cache()
    df.count()
    return df


@pytest.mark.parametrize("strategy", [equal_partitioning, earth_partitioning, weighted_partitioning])
def test_partitioning_preserves_rows(spark, docs, strategy):
    out = strategy(docs, 16)
    assert out.count() == docs.count()
    assert out.select("spart").distinct().count() <= 16
    # same row -> same partition (deterministic)
    a = {r.doc_id: r.spart for r in out.select("doc_id", "spart").collect()}
    b = {r.doc_id: r.spart for r in strategy(docs, 16).select("doc_id", "spart").collect()}
    assert a == b


def test_weighted_beats_earth_on_skew(spark, docs):
    """The synthetic hot cell concentrates rows; quantile grid splits it."""
    earth = partition_bounds(earth_partitioning(docs, 16)).collect()
    weighted = partition_bounds(weighted_partitioning(docs, 16)).collect()
    emax = max(r.rows for r in earth)
    wmax = max(r.rows for r in weighted)
    assert wmax <= emax  # quantile grid never worse than fixed grid here


def test_partition_bounds_cover_data(spark, docs):
    out = earth_partitioning(docs, 9)
    pb = {r.spart: r for r in partition_bounds(out).collect()}
    for r in out.select("spart", "x", "y").sample(0.1, seed=42).collect():
        b = pb[r.spart]
        assert b.minx <= r.x <= b.maxx and b.miny <= r.y <= b.maxy


@pytest.fixture()
def one_file_scan(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    df = spark.range(1000).withColumn("Repartition_x", F.col("id") * 2)
    df.coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1 and df.rdd.getNumPartitions() == 1
    return df


def test_ensure_parallel_spreads_few_file_scan(spark, one_file_scan):
    par = spark.sparkContext.defaultParallelism
    assert par > 1
    # a column NAMED like the repartition operator is not a repartition,
    # and a coalesce narrows the scan further instead of spreading it
    for df in (
        one_file_scan,
        one_file_scan.select("id", "Repartition_x"),
        one_file_scan.coalesce(1),
        one_file_scan.repartition(3).coalesce(1),
    ):
        out = _ensure_parallel(df)
        assert out.rdd.getNumPartitions() == par
        assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_ensure_parallel_keeps_upstream_repartition(spark, one_file_scan):
    for df in (
        one_file_scan.repartition(3),
        one_file_scan.repartition(3).select("id"),
        one_file_scan.repartition("id"),
    ):
        assert _ensure_parallel(df) is df
