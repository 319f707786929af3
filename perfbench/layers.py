"""Per-layer metrics of a traced run, folded from the event log and the
benchmark's spans. A layer a workload does not exercise reports 0.

The metric names and units are BENCHMARK.json's. The comment above each
group in layer_metrics names the end-to-end metric (and workload) the
group is expected to move; on other workloads the prediction is no change.
"""

from __future__ import annotations

import json
from pathlib import Path

from tracing import Fold, Tracer, median

MB = 1 << 20

_SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}  # name -> unit
UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")
_PY_RUN = "time to run Python workers"


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(fold: Fold, tr: Tracer, wl, overhead_frac: float) -> dict[str, float]:
    ops = tr.measured()
    n_ops = len(ops)
    m = {name: 0.0 for name in UNITS}

    def wall(label):
        return median(tr.walls(label))

    def per_op(total):
        return _per(total, n_ops)

    # sources -> batch setup_s (the index job), query_mix setup_s and
    # docs_per_s (the write path). Both run in set-up (op < 0), so these
    # take every span, the cold set-up cycle's too
    def setup_wall(label):
        return median(s.wall for s in tr.spans if s.label == label)

    n_index = sum(1 for s in tr.spans if s.label == "sources.index")
    m["sources.index_s"] = setup_wall("sources.index")
    m["sources.index_python_s"] = _per(fold.sql(_PY_RUN, "sources.index", setup=True), n_index)
    m["sources.write_s"] = setup_wall("sources.write")
    m["sources.discover_s"] = setup_wall("sources.discover")
    stats = getattr(wl, "write_stats", None)
    if stats:
        files, nbytes = stats[-1]
        m["sources.files_written"] = files
        m["sources.bytes_per_doc"] = nbytes / wl.sizes["docs"]

    # plans (with index), operators/density, operators/knn -> query_mix
    # op_p50_s; per query kind
    kinds: dict[str, list] = {}
    for s in ops:
        if s.label == "query":
            kinds.setdefault(wl.query(s.op).kind, []).append(s)
    for kind, spans in kinds.items():
        m[f"query.{kind}_p50_s"] = median(s.wall for s in spans)
    n_filter = len(kinds.get("bbox_time", [])) + len(kinds.get("polygon", []))
    n_density = len(kinds.get("density", []))
    n_knn = len(kinds.get("knn", []))
    if n_filter + n_density:
        scans = ("plans", "density")
        m["plans.call_s"] = wall("plans.call")
        m["plans.files_read_per_query"] = _per(fold.sql("number of files read", *scans), n_filter + n_density)
        results = sum(
            wl.result_rows.get(s.op, 0) for k in ("bbox_time", "polygon") for s in kinds.get(k, [])
        )
        scanned = fold.sql("number of output rows", "plans", node="Scan")
        m["plans.rows_scanned_per_result"] = _per(scanned, results)
        refined = fold.sql("number of output rows", *scans, node="ArrowEvalPython")
        m["plans.refine_rows_per_query"] = _per(refined, n_filter + n_density)
        m["plans.jobs_per_query"] = _per(len(fold.jobs("plans")), n_filter)
        m["density.exec_s"] = wall("density.exec")
        m["density.jobs_per_query"] = _per(len(fold.jobs("density")), n_density)
    if n_knn:
        calls = [s for s in tr.spans if s.label == "knn.call" and s.op >= 0]
        m["knn.call_s"] = median(s.wall for s in calls)
        m["knn.jobs_per_query"] = _per(len(fold.jobs("knn")), n_knn)
        m["knn.driver_gap_s"] = median(s.wall - fold.job_time(s) for s in calls)

    # operators/spatial_join -> batch op_p50_s and docs_per_s
    if tr.walls("spatial_join.call"):
        m["spatial_join.call_s"] = wall("spatial_join.call")
        m["spatial_join.exec_s"] = wall("spatial_join.exec")
        m["spatial_join.python_s"] = per_op(fold.sql(_PY_RUN, "spatial_join"))
        m["spatial_join.shuffle_write_mb"] = per_op(
            sum(t.shuffle_write_b for t in fold.tasks("spatial_join")) / MB
        )
        cand = fold.sql("number of output rows", "spatial_join.exec", node=_JOIN_NODES)
        m["spatial_join.candidates_per_pair"] = _per(cand / max(n_ops, 1), wl.sizes.get("pairs", 0))
        m["spatial_join.task_skew"] = fold.task_skew("spatial_join.exec")

    # operators/dedup -> batch op_p50_s and docs_per_s; driver_result_mb
    # -> batch driver_rss_peak_mb
    if tr.walls("dedup.minhash_call"):
        for step in ("minhash_call", "minhash_exec", "simhash", "components"):
            m[f"dedup.{step}_s"] = wall(f"dedup.{step}")
        m["dedup.python_s"] = per_op(fold.sql(_PY_RUN, "dedup"))
        tasks = fold.tasks("dedup")
        m["dedup.shuffle_write_mb"] = per_op(sum(t.shuffle_write_b for t in tasks) / MB)
        m["dedup.driver_result_mb"] = per_op(sum(t.result_b for t in tasks) / MB)

    # cross-cutting, per measured operation -> each workload's op_p50_s
    prefixes = ("sources", "plans", "spatial_join", "knn", "density", "dedup")
    tasks = fold.tasks(*prefixes)
    m["spark.jobs"] = per_op(len(fold.jobs(*prefixes)))
    m["spark.tasks"] = per_op(len(tasks))
    m["spark.executor_cpu_s"] = per_op(sum(t.cpu_s for t in tasks))
    m["spark.gc_s"] = per_op(sum(t.gc_s for t in tasks))
    m["spark.spill_mb"] = per_op(sum(t.spill_b for t in tasks) / MB)
    m["spark.python_boot_s"] = per_op(fold.sql("time to start Python workers", *prefixes))
    m["driver.gap_s"] = median(s.wall - fold.job_time(s) for s in ops)

    # the trace itself. Coverage: of the time an operation kept Spark busy,
    # the share its layer spans' labelled jobs account for (the worst
    # operation); a job no span labels lowers it
    m["trace.overhead_frac"] = overhead_frac
    m["trace.span_coverage"] = min(
        (
            sum(fold.job_time(s) for s in tr.spans if s.op == o.op) / fold.busy_time(o.t0, o.t1)
            for o in ops
        ),
        default=0.0,
    )
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer metrics {sorted(set(m) ^ set(UNITS))} differ from BENCHMARK.json's")
    return m
