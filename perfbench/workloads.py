"""The benchmark's workloads.

Each workload builds its inputs from the seed, runs one set-up cycle per
`setup()` call, one timed operation per `op()` call (a batch pass, or one
query), and checks each operation's outputs in an untimed `check()` call
after it. Every call into the engine sits inside a tracer span named after
the layer it exercises.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import gen


def docs_frame(spark, docs: gen.Docs, wkt: list[str]):
    """The interleaved docs table (doc_id, spans) the engine's index job reads."""
    flat = spark.createDataFrame(pd.DataFrame({"doc_id": docs.doc_id, "wkt": wkt, "ts": docs.ts}))
    iso = F.date_format(F.timestamp_seconds("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")

    def span(kind, text, offset):
        return F.struct(
            F.lit(kind).alias("kind"), text.alias("text"),
            F.lit("").alias("media_ref"), F.lit(offset).alias("offset"),
        )

    return flat.select(
        "doc_id",
        F.array(
            span("text", F.concat(F.lit("document "), F.col("doc_id")), 0),
            span("geo", F.col("wkt"), 1),
            span("time", iso, 2),
        ).alias("spans"),
    )


def _init_engine(spark):
    import geomesa_spark

    geomesa_spark.init_sql(spark)


class Workload:
    name = ""
    op_kind = "pass"
    warmup_ops = 1  # untimed operations before measuring
    block = 1  # a run measures whole blocks of operations

    def __init__(self, spark, seed: int, tracer, workdir: str):
        self.spark, self.seed, self.tracer, self.workdir = spark, seed, tracer, workdir
        self.sizes: dict = {}
        self.failures: list[str] = []  # one entry per failed check

    def fail(self, op: int, why: str) -> None:
        self.failures.append(f"op {op}: {why}")


class Batch(Workload):
    """The offline pipeline. Set-up indexes 60k docs with the engine's
    index job and persists them; one pass intersects-joins them to 1,200
    regions, then near-dups a 3k-text corpus (MinHash-LSH with exact
    verify, SimHash, connected components)."""

    name = "batch"
    N_DOCS, N_REGIONS, N_TEXTS = 60_000, 1_200, 3_000
    SUBSAMPLE_EVERY = 40
    THRESHOLD, MAX_HAMMING = 0.8, 3

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = gen.gen_docs(self.seed, self.N_DOCS)
        self.wkt = self.docs.wkt()
        self.rings = gen.gen_regions(self.seed, self.N_REGIONS)
        self.texts = gen.gen_texts(self.seed, self.N_TEXTS)
        self.subsample = np.arange(0, self.N_DOCS, self.SUBSAMPLE_EVERY)
        self.sizes = {
            "docs": self.N_DOCS, "regions": self.N_REGIONS,
            "texts": self.N_TEXTS, "planted": len(self.texts.planted),
        }
        self.text_of = dict(zip(self.texts.doc_id, self.texts.text))
        self.planted = [  # planted pairs at or above the threshold
            p for p in self.texts.planted
            if checks.jaccard(self.text_of[p[0]], self.text_of[p[1]]) >= self.THRESHOLD
        ]
        self.indexed = self.regions_df = self.texts_df = None
        self.joined = self.deduped = None  # the last pass's outputs, for check()
        self.n_pairs = None
        self.ref_jaccard: dict = {}

    def docs_per_s(self, op_p50_s: float) -> float:
        """Docs joined plus texts deduplicated, per second."""
        return (self.N_DOCS + self.N_TEXTS) / op_p50_s

    docs_basis = f"{N_DOCS} docs + {N_TEXTS} texts per pass"

    def setup(self) -> None:
        from geomesa_spark.sources.docs import index_docs

        self.close()
        _init_engine(self.spark)
        with self.tracer.span("sources.index"):
            self.indexed = index_docs(docs_frame(self.spark, self.docs, self.wkt)).persist()
            self.indexed.count()
        self.regions_df = self.spark.createDataFrame(
            [(f"r{i:06d}", bytearray(gen.ring_wkb(r))) for i, r in enumerate(self.rings)],
            "region_id string, geom_wkb binary",
        ).cache()
        self.texts_df = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": self.texts.doc_id, "text": self.texts.text})
        ).cache()
        for df in (self.regions_df, self.texts_df):
            df.count()

    def op(self, op: int) -> None:
        self._join()
        self._dedup()

    def _join(self) -> None:
        from geomesa_spark.operators.spatial_join import spatial_join

        t = self.tracer
        with t.span("spatial_join.call"):
            joined = spatial_join(self.indexed, self.regions_df, predicate="intersects", salt=4)
        with t.span("spatial_join.exec"):
            pairs = joined.select("doc_id", "region_id").persist()
            n = pairs.count()
        self.joined = (pairs, n)

    def _dedup(self) -> None:
        from geomesa_spark.operators.dedup import dedup_components, minhash_lsh_pairs, simhash_pairs

        t = self.tracer
        with t.span("dedup.minhash_call"):
            pairs = minhash_lsh_pairs(
                self.texts_df, threshold=self.THRESHOLD, verify="exact", canonicalize=True
            )
        with t.span("dedup.minhash_exec"):
            pairs = pairs.persist()
            mh = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()]
        with t.span("dedup.simhash"):
            sh = [
                (r["id_a"], r["id_b"], r["hamming"])
                for r in simhash_pairs(self.texts_df, max_hamming=self.MAX_HAMMING).collect()
            ]
        with t.span("dedup.components"):
            comp = {
                r["id"]: r["component"]
                for r in dedup_components(pairs.select("id_a", "id_b")).collect()
            }
        pairs.unpersist()
        self.deduped = (mh, sh, comp)

    def check_subsample(self, got: set) -> str | None:
        """The (doc_id, region_id) pairs of every SUBSAMPLE_EVERY-th doc
        against an independent brute-force join."""
        want = checks.join_pairs(self.docs, self.subsample, self.rings)
        return None if got == want else f"subsample pairs {len(got)}, brute force {len(want)}"

    def check_dedup(self, mh, sh, comp) -> list[str]:
        """Every planted pair found; every minhash pair at or above the
        threshold with its exact Jaccard; simhash pairs within max_hamming;
        components label each planted pair alike, by the minimum member."""
        out = []
        found = {(a, b) for a, b, _ in mh}
        missing = [p for p in self.planted if p not in found]
        if missing:
            out.append(f"{len(missing)} planted pairs not found, e.g. {missing[0]}")
        for a, b, jac in mh:
            if (a, b) not in self.ref_jaccard:
                self.ref_jaccard[(a, b)] = checks.jaccard(self.text_of[a], self.text_of[b])
            ref = self.ref_jaccard[(a, b)]
            if ref < self.THRESHOLD or abs(ref - jac) > 1e-9:
                out.append(f"minhash pair {(a, b)} jaccard {jac}, reference {ref}")
                break
        if any(h > self.MAX_HAMMING or a >= b for a, b, h in sh):
            out.append("simhash pair above max_hamming or out of order")
        members: dict = {}
        for node, comp_id in comp.items():
            members.setdefault(comp_id, []).append(node)
        if any(min(m) != comp_id for comp_id, m in members.items()) or any(
            comp.get(a) is None or comp.get(a) != comp.get(b) for a, b in self.planted
        ):
            out.append("components do not join every planted pair under its minimum id")
        return out

    def check(self, op: int) -> None:
        """The first measured pass's subsample against brute force; its
        pair count then anchors every later pass. The cached pairs are
        dropped before the next pass, so no pass reuses another's result."""
        pairs, n = self.joined
        if op == 0:
            sub = F.expr(f"cast(substring(doc_id, 5) as int) % {self.SUBSAMPLE_EVERY} = 0")
            why = self.check_subsample({(r[0], r[1]) for r in pairs.filter(sub).collect()})
            if why:
                self.fail(op, why)
            self.n_pairs = self.sizes["pairs"] = n
        elif op > 0 and n != self.n_pairs:
            self.fail(op, f"{n} pairs, first pass {self.n_pairs}")
        pairs.unpersist()
        for why in self.check_dedup(*self.deduped):
            self.fail(op, why)

    def close(self) -> None:
        for df in (self.indexed, self.regions_df, self.texts_df):
            if df is not None:
                df.unpersist()


def _iso(epoch: int) -> str:
    return datetime.fromtimestamp(epoch, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class QueryMix(Workload):
    """Ingest 20k docs of one week through write_indexed, then answer a
    seeded closed-loop sequence of bbox+time, polygon, density and kNN
    queries from one client."""

    name = "query_mix"
    op_kind = "query"
    warmup_ops = len(gen.QUERY_MIX)
    block = sum(gen.QUERY_MIX.values())
    N_DOCS, DAYS, N_BLOCKS, CHECKED_PER_KIND = 20_000, 7, 30, 2
    BBOX = (2.0, 36.0, 42.0, 54.0)  # 2 x 2 coarse partition cells
    GRID, K, KNN_START_M = 64, 10, 12_500  # two radius rounds per query

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = gen.gen_docs(self.seed, self.N_DOCS, bbox=self.BBOX, days=self.DAYS)
        self.wkt = self.docs.wkt()
        self.queries = gen.gen_queries(self.seed, self.N_BLOCKS, self.BBOX, self.DAYS)
        # warm-up queries: one per kind, from another seed's sequence
        warm = gen.gen_queries(self.seed + 1, 1, self.BBOX, self.DAYS)
        self.warmup = [next(q for q in warm if q.kind == k) for k in gen.QUERY_MIX]
        self.sizes = {"docs": self.N_DOCS, "days": self.DAYS}
        self.n_setups = 0
        self.table = None
        self.results: dict[int, object] = {}  # kept results of the checked queries
        self.result_rows: dict[int, int] = {}
        self.write_stats: list[tuple[int, int]] = []  # (files, bytes) per ingest
        self.ingest_s: list[float] = []

    def setup(self) -> None:
        from geomesa_spark.sources.docs import index_docs, write_indexed

        _init_engine(self.spark)
        path = os.path.join(self.workdir, f"table_{self.n_setups}")
        self.n_setups += 1
        docs_df = docs_frame(self.spark, self.docs, self.wkt)
        t = self.tracer
        t0 = time.perf_counter()
        with t.span("sources.write"):
            write_indexed(index_docs(docs_df), path)
        with t.span("sources.discover"):
            table = self.spark.read.parquet(path)
            n = table.count()
        self.ingest_s.append(time.perf_counter() - t0)
        if n != self.N_DOCS:
            raise RuntimeError(f"read back {n} docs of {self.N_DOCS}")
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        self.write_stats.append((len(files), sum(os.path.getsize(f) for f in files)))
        if self.table is not None:
            shutil.rmtree(self.table_path, ignore_errors=True)
        self.table, self.table_path = table, path

    def query(self, op: int):
        return self.warmup[-op - 1] if op < 0 else self.queries[op % len(self.queries)]

    def op(self, op: int) -> None:
        from geomesa_spark.operators.density import density
        from geomesa_spark.operators.knn import knn
        from geomesa_spark.plans.planner import spatial_filter

        q = self.query(op)
        t = self.tracer
        if q.kind in ("bbox_time", "polygon"):
            interval = None if q.interval is None else tuple(map(_iso, q.interval))
            with t.span("plans.call"):
                df = spatial_filter(self.table, q.wkt, interval=interval)
            with t.span("plans.exec"):
                result = {r[0] for r in df.select("doc_id").collect()}
        elif q.kind == "density":
            r = q.ring
            bbox = (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())
            with t.span("plans.call"):
                df = spatial_filter(self.table, q.wkt)
            with t.span("density.call"):
                grid = density(df, bbox, self.GRID, self.GRID)
            with t.span("density.exec"):
                result = {(int(r[0]), int(r[1])): float(r[2]) for r in grid.collect()}
        else:
            with t.span("knn.call"):
                df = knn(self.table, [("q", q.point[0], q.point[1])], k=self.K, start_radius_m=self.KNN_START_M)
            with t.span("knn.exec"):
                rows = df.select("doc_id", "dist_m").collect()
            result = sorted(((r[0], r[1]) for r in rows), key=lambda p: (p[1], p[0]))
        self.result_rows[op] = len(result)
        seen = sum(1 for o in self.results if self.query(o).kind == q.kind)
        if op >= 0 and seen < self.CHECKED_PER_KIND:
            self.results[op] = result

    def check(self, op: int) -> None:
        """The first CHECKED_PER_KIND queries of each kind against the
        independent references."""
        if op not in self.results:
            return
        got, q = self.results[op], self.query(op)
        if q.kind == "bbox_time":
            ok = got == checks.bbox_time_ids(self.docs, q.ring, q.interval)
        elif q.kind == "polygon":
            ok = got == checks.polygon_ids(self.docs, q.ring)
        elif q.kind == "density":
            ok = got == checks.density_grid(self.docs, q.ring, self.GRID, self.GRID)
        else:
            want = checks.knn_ids(self.docs, q.point, self.K)
            ok = [i for i, _ in got] == [i for i, _ in want] and checks.same_distances(
                [d for _, d in got], [d for _, d in want]
            )
        if not ok:
            self.fail(op, f"{q.kind} result differs from the reference")

    def docs_per_s(self, op_p50_s: float) -> float:
        """query_mix's throughput figure is its ingest path: docs written
        and read back per second, the median over the timed set-up cycles
        (the first, cold, cycle excluded)."""
        return self.N_DOCS / statistics.median(self.ingest_s[1:])

    docs_basis = f"{N_DOCS} docs per ingest, median of the timed set-up cycles"

    def close(self) -> None:
        if self.table is not None:
            shutil.rmtree(self.table_path, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Batch, QueryMix)}
