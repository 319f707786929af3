"""GeoEngine: the one-stop query facade — the analog of the reference's
query-hint surface (geomesa-index-api/.../conf/QueryHints.scala:28-79) where
every knob (index choice, density grid, stats string, sampling, BIN export,
max features, loose bbox) is a keyword argument on scan().

    eng = GeoEngine(spark)
    docs = eng.read("/data/docs_indexed")
    eng.scan(docs, geometry="POLYGON(...)", interval=("2016-01-01", "2016-02-01"),
             sampling=10, max_features=1000)
    eng.scan(docs, geometry=..., density=dict(bbox=(-180,-90,180,90), width=256, height=256))
    eng.scan(docs, stats="MinMax(x);Count()")
    eng.scan(docs, geometry=..., bin=dict(track="doc_id"))
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import density as density_mod
from .operators import knn as knn_mod
from .operators import spatial_join as join_mod
from .operators import stats as stats_mod
from .plans import planner
from .sources import docs as docs_mod
from .sources import export as export_mod


class FullTableScanError(Exception):
    """Raised by guard=True scans with no prunable predicate (the analog of
    geomesa.scan.block-full-table, QueryProperties.scala:40-42)."""


class GeoEngine:
    def __init__(self, spark: SparkSession):
        import geomesa_spark

        self.spark = geomesa_spark.init_sql(spark)

    # ------------------------------------------------------------------ I/O

    def read(self, path: str, fmt: str = "parquet") -> DataFrame:
        return self.spark.read.format(fmt).load(path)

    def ingest(self, docs: DataFrame) -> DataFrame:
        """docs(doc_id, spans) -> indexed table (the write-path index job)."""
        return docs_mod.index_docs(docs)

    def write(self, df: DataFrame, path: str) -> None:
        docs_mod.write_indexed(df, path)

    # ----------------------------------------------------------------- scan

    def scan(
        self,
        df: DataFrame,
        geometry=None,
        predicate: str = "intersects",
        interval=None,
        loose: bool = False,
        sampling: int | None = None,
        sample_by: str | None = None,
        max_features: int | None = None,
        sort: list | None = None,
        density: dict | None = None,
        stats: str | None = None,
        bin: dict | None = None,
        guard: bool = False,
        columns: list | None = None,
        geom_kind: str = "mixed",
    ):
        """One query entry with the reference's hint surface. Returns a
        DataFrame (or a stat dict for stats=...)."""
        if guard and geometry is None and interval is None:
            raise FullTableScanError(
                "full-table scan blocked: no spatial or temporal predicate"
            )
        out = df
        if geometry is not None or interval is not None:
            # geom_kind="points" declares an all-points table: the refine is
            # the x/y locate alone and never references geom_wkb
            qp = planner.plan(geometry, predicate, interval, loose, geom_kind=geom_kind)
            out = planner.apply_plan(out, qp)
        if sampling:
            key = df.columns[0]
            if sample_by:
                from .operators.processes import sample_every_nth

                out = sample_every_nth(out, sampling, key, by=sample_by)
            else:
                # deterministic 1-in-n thinning; hash-mod works for any key type
                out = out.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(sampling)) == 0)
        if stats is not None:
            return stats_mod.stat(out, stats)
        if density is not None:
            return density_mod.density(
                out,
                density["bbox"],
                density.get("width", 256),
                density.get("height", 256),
                weight=density.get("weight"),
                geometry_render=density.get("geometry_render", False),
            )
        if bin is not None:
            return export_mod.bin_encode(
                out,
                bin["track"],
                dtg_col=bin.get("dtg", "ts"),
                label_col=bin.get("label"),
                sort=bin.get("sort", False),
            )
        if sort:
            out = out.orderBy(*sort)
        if max_features:
            out = out.limit(max_features)
        if columns:
            out = out.select(*columns)
        return out

    # ----------------------------------------------------------- operators

    def join(self, left: DataFrame, right: DataFrame, predicate="intersects", **kw) -> DataFrame:
        return join_mod.spatial_join(left, right, predicate=predicate, **kw)

    def knn(self, docs: DataFrame, queries, k=5, **kw) -> DataFrame:
        return knn_mod.knn(docs, queries, k=k, **kw)

    def tiles(self, df: DataFrame, zoom: int) -> DataFrame:
        return density_mod.tile_counts(df, zoom)

    # ------------------------------------------- training-data pipeline ops

    def dedup_exact(self, df: DataFrame, **kw) -> DataFrame:
        from .operators import dedup

        return dedup.exact_dedup(df, **kw)

    def dedup_near(self, df: DataFrame, method: str = "minhash", **kw) -> DataFrame:
        """Near-duplicate pairs: method = minhash | ngram | simhash | embedding."""
        from .operators import dedup

        fns = {
            "minhash": dedup.minhash_lsh_pairs,
            "ngram": dedup.ngram_jaccard_pairs,
            "simhash": dedup.simhash_pairs,
            "embedding": dedup.embedding_cosine_pairs,
        }
        return fns[method](df, **kw)

    def ann(self, df: DataFrame, query_vec, k: int = 10, approx: bool = True, **kw) -> DataFrame:
        from .operators import similarity

        fn = similarity.ann_topk_lsh if approx else similarity.brute_force_topk
        return fn(df, query_vec, k=k, **kw)

    def write_attr_indexed(self, df: DataFrame, path: str, attr: str, **kw) -> None:
        from .sources import attr_index

        attr_index.write_attr_indexed(attr_index.with_z2(df), path, attr, **kw)

    def attr_scan(self, path: str, attr: str, value, bbox=None, **kw) -> DataFrame:
        from .sources import attr_index

        return attr_index.attr_equality_scan(self.spark, path, attr, value, bbox, **kw)
