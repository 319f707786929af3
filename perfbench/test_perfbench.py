"""Tests of the benchmark itself: seeded generators, output checks, and the
event-log fold.

    python3 -m pytest perfbench/test_perfbench.py -q

The fold is tested on small event logs recorded from real traced runs of
both workloads at toy sizes (perfbench/testdata). To record them again:

    python3 perfbench/test_perfbench.py --record
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import numpy as np  # noqa: E402
import pytest  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

DATA = HERE / "testdata"
RECORDED = ("batch", "query_mix")


# ------------------------------------------------------------ generators


def _inputs(seed: int):
    return (
        gen.gen_docs(seed, 2_000),
        gen.gen_regions(seed, 50),
        gen.gen_texts(seed, 400),
        gen.gen_queries(seed, 3, (2.0, 36.0, 42.0, 54.0), 7),
    )


def test_same_seed_same_inputs():
    assert gen.content_hash(*_inputs(7)) == gen.content_hash(*_inputs(7))


def test_different_seed_different_inputs():
    a, b = _inputs(7), _inputs(8)
    assert gen.content_hash(*a) != gen.content_hash(*b)
    for x, y in zip(a, b):  # every generator depends on the seed
        assert gen.content_hash(x) != gen.content_hash(y)


def test_query_blocks_hold_the_exact_mix():
    qs = gen.gen_queries(3, 5, (2.0, 36.0, 42.0, 54.0), 7)
    block = sum(gen.QUERY_MIX.values())
    for i in range(0, len(qs), block):
        kinds = [q.kind for q in qs[i : i + block]]
        assert {k: kinds.count(k) for k in gen.QUERY_MIX} == gen.QUERY_MIX


# ------------------------------------------------ independent references


def test_reference_geometry():
    square = gen.rect_ring(0.0, 0.0, 2.0, 2.0)
    inside = checks.points_in_ring(np.array([1.0, 3.0]), np.array([1.0, 1.0]), square)
    assert inside.tolist() == [True, False]
    assert checks.rect_intersects_ring(1.5, 1.5, 5.0, 5.0, square)  # corner overlap
    assert checks.rect_intersects_ring(-1.0, 0.5, 3.0, 1.0, square)  # edges cross only
    assert not checks.rect_intersects_ring(2.5, 2.5, 3.0, 3.0, square)
    assert checks.knn_ids(gen.gen_docs(1, 300), (0.0, 0.0), 3) == sorted(
        checks.knn_ids(gen.gen_docs(1, 300), (0.0, 0.0), 3), key=lambda p: (p[1], p[0])
    )
    assert checks.jaccard("abcd", "abcd") == 1.0
    assert checks.jaccard("abcd", "abce") == pytest.approx(1 / 3)


# --------------------------------- each output check fails on a wrong result


@pytest.fixture(scope="module")
def batch():
    return workloads.Batch(None, 5, tracing.Tracer(), "unused")


def test_join_check_rejects_a_wrong_subsample(batch):
    want = checks.join_pairs(batch.docs, batch.subsample, batch.rings)
    assert len(want) > 10
    assert batch.check_subsample(set(want)) is None
    assert batch.check_subsample(set(list(want)[1:])) is not None  # one pair lost
    doc = batch.docs.doc_id[batch.subsample[0]]
    assert batch.check_subsample(set(want) | {(doc, "r999999")}) is not None  # one extra


def _dedup_truth(b: workloads.Batch):
    """The right answer for the batch's own corpus, built from the planted pairs."""
    mh = [(a, c, checks.jaccard(b.text_of[a], b.text_of[c])) for a, c in b.planted]
    comp = {}
    for a, c in b.planted:
        comp[a] = comp[c] = min(a, c)
    return mh, [(a, c, 1) for a, c in b.planted], comp


def test_dedup_check_rejects_wrong_results(batch):
    mh, sh, comp = _dedup_truth(batch)
    assert batch.check_dedup(mh, sh, comp) == []
    assert batch.check_dedup(mh[1:], sh, comp)  # a planted pair missed
    a, c, jac = mh[0]
    assert batch.check_dedup([(a, c, jac - 0.01)] + mh[1:], sh, comp)  # wrong score
    unrelated = (batch.planted[0][0], batch.planted[1][0])
    low = (*unrelated, checks.jaccard(*(batch.text_of[u] for u in unrelated)))
    assert batch.check_dedup(mh + [low], sh, comp)  # pair below threshold
    assert batch.check_dedup(mh, sh + [(a, c, batch.MAX_HAMMING + 1)], comp)
    bad = dict(comp)
    bad[c] = c  # planted pair split across components
    assert batch.check_dedup(mh, sh, bad)


@pytest.fixture(scope="module")
def query_mix():
    return workloads.QueryMix(None, 5, tracing.Tracer(), "unused")


def _reference(q: workloads.QueryMix, op: int):
    query = q.query(op)
    if query.kind == "bbox_time":
        return checks.bbox_time_ids(q.docs, query.ring, query.interval)
    if query.kind == "polygon":
        return checks.polygon_ids(q.docs, query.ring)
    if query.kind == "density":
        return checks.density_grid(q.docs, query.ring, q.GRID, q.GRID)
    return checks.knn_ids(q.docs, query.point, q.K)


def _wrong(got):
    if isinstance(got, set):
        return set(list(got)[1:])
    if isinstance(got, dict):
        k = next(iter(got))
        return {**got, k: got[k] + 1}
    return got[:-2] + [got[-1], got[-2]]  # two neighbours swapped


def test_query_checks_reject_wrong_results(query_mix):
    ops = {}
    for op in range(sum(gen.QUERY_MIX.values())):
        ops.setdefault(query_mix.query(op).kind, op)
    assert set(ops) == set(gen.QUERY_MIX)
    for kind, op in ops.items():
        right = _reference(query_mix, op)
        assert right, kind  # a vacuous result would check nothing
        query_mix.failures.clear()
        query_mix.results = {op: right}
        query_mix.check(op)
        assert query_mix.failures == [], kind
        query_mix.results = {op: _wrong(right)}
        query_mix.check(op)
        assert len(query_mix.failures) == 1, kind


# ------------------------------------------------------------ event log


def _recorded(name: str):
    log = tracing.read_event_log(str(DATA / f"{name}_events.jsonl"))
    saved = json.loads((DATA / f"{name}_spans.json").read_text())
    tr = tracing.Tracer()
    tr.spans = [tracing.Span(**s) for s in saved["spans"]]
    tr.ops = [tracing.Span(**s) for s in saved["ops"]]
    return log, tr, saved


def _raw_sum(name: str, metric: str, prefix: str) -> float:
    """Sum one named SQL metric straight from the raw JSON: task
    accumulables carry the metric name, so no plan walk is needed."""
    stage_key, total = {}, 0.0
    for line in (DATA / f"{name}_events.jsonl").read_text().splitlines():
        e = json.loads(line)
        if e["Event"] == "SparkListenerStageSubmitted":
            stage_key[e["Stage Info"]["Stage ID"]] = (e.get("Properties") or {}).get("spark.job.description")
        elif e["Event"] == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"]) or ""
            label, _, op = key.partition("#")
            if label.startswith(prefix) and op.isdigit():
                total += sum(float(a["Update"]) for a in e["Task Info"]["Accumulables"] if a.get("Name") == metric)
    return total


@pytest.mark.parametrize("name", RECORDED)
def test_fold_matches_the_raw_log(name):
    log, tr, _ = _recorded(name)
    log.driver_accums = []  # driver-side updates carry no metric name to check against
    fold = tracing.Fold(log)
    prefixes = {s.label.split(".")[0] for s in tr.spans}
    for p in prefixes:
        assert fold.sql("time to run Python workers", p) == pytest.approx(
            _raw_sum(name, "time to run Python workers", p) / 1e3
        )
        assert fold.sql("number of output rows", p) == pytest.approx(
            _raw_sum(name, "number of output rows", p)
        )
    for s in tr.measured():
        busy = fold.job_time(s)
        assert 0 < busy <= s.wall + 1e-6


def test_interval_union():
    assert tracing._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union([(0, 4), (1, 2)]) == 4
    assert tracing._split("spatial_join.exec#3") == ("spatial_join.exec", 3)
    assert tracing._split("sources.index#-1") == ("sources.index", -1)
    assert tracing._split(None) == ("", -1)


class _Recorded:
    """What layer_metrics reads from a workload, as recorded."""

    def __init__(self, saved: dict):
        self.sizes = saved["sizes"]
        self.write_stats = [tuple(w) for w in saved["write_stats"]]
        self.result_rows = {int(k): v for k, v in saved["result_rows"].items()}
        self.kinds = {int(k): v for k, v in saved["kinds"].items()}

    def query(self, op):
        return gen.Query(self.kinds[op])


@pytest.mark.parametrize("name", RECORDED)
def test_layer_metrics_from_recorded_log(name):
    log, tr, saved = _recorded(name)
    m = layers.layer_metrics(tracing.Fold(log), tr, _Recorded(saved), 0.01)
    assert set(m) == set(layers.UNITS)
    exercised = {
        "batch": ["sources.index_s", "sources.index_python_s", "spatial_join.exec_s",
                  "spatial_join.python_s", "spatial_join.candidates_per_pair",
                  "dedup.minhash_call_s", "dedup.python_s", "dedup.driver_result_mb"],
        "query_mix": ["sources.write_s", "sources.files_written", "sources.discover_s",
                      "plans.call_s", "plans.files_read_per_query", "plans.jobs_per_query",
                      "knn.call_s", "knn.jobs_per_query", "density.exec_s",
                      "query.knn_p50_s"],
    }[name]
    idle = {
        "batch": ["sources.write_s", "plans.call_s", "knn.call_s", "density.exec_s"],
        "query_mix": ["sources.index_s", "spatial_join.call_s", "dedup.minhash_call_s"],
    }[name]
    assert all(m[k] > 0 for k in exercised), {k: m[k] for k in exercised}
    assert all(m[k] == 0 for k in idle)
    assert m["spark.jobs"] > 0 and m["spark.tasks"] >= m["spark.jobs"]
    assert 0.9 <= m["trace.span_coverage"] <= 1.0
    if name == "batch":
        assert m["spatial_join.candidates_per_pair"] >= 1.0  # candidates before the refine


def test_span_coverage_drops_on_an_unlabelled_job():
    log, tr, saved = _recorded("batch")
    op = tr.measured()[0]
    job = max(
        (j for j in log.jobs.values() if tracing._split(j.key)[1] == op.op),
        key=lambda j: j.end - j.start,
    )
    job.key = None  # as if the job ran outside every span
    m = layers.layer_metrics(tracing.Fold(log), tr, _Recorded(saved), 0.01)
    assert m["trace.span_coverage"] < 0.9


# ------------------------------------------------------------ recording


# the SQL metrics layers.py folds; everything else is dropped from the
# recorded logs to keep them small
FOLDED = {
    "time to run Python workers", "time to start Python workers",
    "number of output rows", "number of files read",
}
TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time",
    "Memory Bytes Spilled", "Disk Bytes Spilled", "Result Size",
)


def _plan_nodes(node: dict, seen: set):
    """The plan nodes' folded metrics not listed by an earlier event."""
    metrics = [
        {k: m[k] for k in ("name", "accumulatorId", "metricType")}
        for m in node.get("metrics", [])
        if m["name"] in FOLDED and m["accumulatorId"] not in seen
    ]
    seen.update(m["accumulatorId"] for m in metrics)
    if metrics:
        yield {"nodeName": node["nodeName"], "metrics": metrics, "children": []}
    for child in node.get("children", []):
        yield from _plan_nodes(child, seen)


def slim_log(lines, seen: set):
    """Keep only the events and fields the fold reads."""
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        props = {k: v for k, v in (e.get("Properties") or {}).items()
                 if k in ("spark.job.description", "spark.sql.execution.id")}
        if kind == "SparkListenerJobStart":
            yield {"Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                   "Properties": props}
        elif kind == "SparkListenerJobEnd":
            yield {"Event": kind, "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
        elif kind == "SparkListenerStageSubmitted":
            yield {"Event": kind, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}, "Properties": props}
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            metrics = {k: m[k] for k in TASK_METRICS if k in m}
            metrics["Shuffle Write Metrics"] = {
                "Shuffle Bytes Written": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            }
            accs = [
                {"ID": a["ID"], "Name": a["Name"], "Update": a.get("Update")}
                for a in e["Task Info"].get("Accumulables", []) if a.get("Name") in FOLDED
            ]
            yield {"Event": kind, "Stage ID": e["Stage ID"], "Task Info": {"Accumulables": accs},
                   "Task Metrics": metrics}
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            root = {"nodeName": "plan", "metrics": [], "children": list(_plan_nodes(e["sparkPlanInfo"], seen))}
            out = {"Event": kind, "executionId": e["executionId"], "sparkPlanInfo": root}
            if "#" in (e.get("description") or ""):  # a span key, not a call site
                out["description"] = e["description"]
            if root["children"] or kind.endswith("SQLExecutionStart"):
                yield out
        elif kind.endswith("DriverAccumUpdates"):
            yield e


def record() -> None:
    """Traced toy-size runs of both workloads -> testdata/*_events.jsonl
    and *_spans.json."""
    import os
    import shutil
    import tempfile

    import run

    class TinyBatch(workloads.Batch):
        N_DOCS, N_REGIONS, N_TEXTS = 2_000, 40, 300

    class TinyQueryMix(workloads.QueryMix):
        N_DOCS = 3_000

    DATA.mkdir(exist_ok=True)
    for name, cls in (("batch", TinyBatch), ("query_mix", TinyQueryMix)):
        run_dir = HERE.parent / ".perfbench_run" / f"record-{name}"
        shutil.rmtree(run_dir, ignore_errors=True)
        (run_dir / "tmp").mkdir(parents=True)
        os.environ["TMPDIR"] = str(run_dir / "tmp")
        tempfile.tempdir = None
        spark = run.start_session(run_dir, event_log=True)
        tr = tracing.Tracer(spark.sparkContext, labels=True)
        wl = cls(spark, 1, tr, str(run_dir))
        wl.setup()
        run.measure(wl, tr, 0.0, {}, min_ops=2 if name == "batch" else wl.block)
        wl.close()
        spark.stop()
        (log,) = (run_dir / "events").iterdir()
        with open(log) as src, open(DATA / f"{name}_events.jsonl", "w") as dst:
            for e in slim_log(src, set()):
                dst.write(json.dumps(e) + "\n")
        saved = {
            "spans": [vars(s) for s in tr.spans],
            "ops": [vars(s) for s in tr.ops],
            "sizes": wl.sizes,
            "write_stats": getattr(wl, "write_stats", []),
            "result_rows": getattr(wl, "result_rows", {}),
            "kinds": {s.op: wl.query(s.op).kind for s in tr.ops} if name == "query_mix" else {},
        }
        (DATA / f"{name}_spans.json").write_text(json.dumps(saved, indent=1))
    run.stop_jvm()
    shutil.rmtree(HERE.parent / ".perfbench_run", ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["--record"]:
        record()
    else:
        sys.exit(pytest.main([__file__, "-q"]))
