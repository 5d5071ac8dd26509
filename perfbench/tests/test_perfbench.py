"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# -- the percentile rule ----------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (10, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = harness.tail_percentile(n)
    assert p == want
    if p is not None:
        values = list(range(n))
        beyond = sum(v > harness.percentile(values, p) for v in values)
        assert beyond >= 10


def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert harness.percentile(values, 50) == 50
    assert harness.percentile(values, 90) == 90
    assert harness.percentile(values, 99.9) == 100
    assert harness.percentile([7.0], 90) == 7.0


# -- span self-time arithmetic ----------------------------------------------


def _span(sid, start, end, parent=None):
    return harness.Span(sid, f"s{sid}", start, end, parent, None)


def test_self_time_subtracts_union_of_clipped_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # children cover [1, 5] and [8, 10] inside the parent: 6 of 10 seconds
    assert harness.self_time(parent, kids) == pytest.approx(4.0)
    assert harness.self_time(parent, []) == pytest.approx(10.0)
    assert harness.self_time(parent, [_span(4, 11.0, 12.0, 0)]) == pytest.approx(10.0)


def test_tracer_nests_spans_and_measures_coverage():
    t = harness.Tracer(enabled=True)
    with t.request("r1"), t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.sid and inner.req == "r1"
    assert t.children(outer.sid) == [inner]
    assert t.coverage(outer.start, outer.end) == pytest.approx(1.0)
    off = harness.Tracer(enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


# -- job-group attribution past the status store's retention cap --------------


class _Store:
    """A status store that keeps only the newest ``cap`` stages."""

    def __init__(self, cap: int) -> None:
        self.cap = cap
        self.stages: dict[int, harness.StageRec] = {}
        self.jobs: dict[str, list[harness.JobRec]] = {}
        self._next_stage = 0
        self._next_job = 0

    def run_call(self, group: str, n_jobs: int, stages_per_job: int) -> None:
        for _ in range(n_jobs):
            sids = []
            for _ in range(stages_per_job):
                self.stages[self._next_stage] = harness.StageRec(1.0, 0.5, 1_000_000, 0, 0)
                sids.append(self._next_stage)
                self._next_stage += 1
            while len(self.stages) > self.cap:
                del self.stages[min(self.stages)]
            self.jobs.setdefault(group, []).append(
                harness.JobRec(self._next_job, sids, 0.0, 1.0, stages_per_job))
            self._next_job += 1

    def total_run_s(self) -> float:
        return sum(s.run_s for s in self.stages.values())


def test_attribution_by_group_stays_exact_past_retention():
    store = _Store(cap=1000)
    before_after, by_group = [], []
    for call in range(4):  # 4 x 400 stages: the store wraps during call 3
        before = store.total_run_s()
        store.run_call(f"g{call}", n_jobs=40, stages_per_job=10)
        before_after.append(store.total_run_s() - before)
        c = harness.attribute(store.jobs[f"g{call}"], store.stages)
        by_group.append(c)
    # the before/after total misreads once the store wraps ...
    assert before_after[3] <= 0.0
    # ... while reading the call's own group right after it is exact
    for c in by_group:
        assert c.jobs == 40 and c.tasks == 400
        assert c.executor_run_s == pytest.approx(400.0)
        assert c.shuffle_write_mb == pytest.approx(400.0)


def test_attribution_counts_shared_stage_once_and_skips_evicted():
    stages = {1: harness.StageRec(2.0, 1.0, 0, 0, 0)}
    jobs = [harness.JobRec(0, [1, 2], 0.0, 1.0, 3), harness.JobRec(1, [1], 1.0, 2.0, 1)]
    c = harness.attribute(jobs, stages)
    assert c.jobs == 2 and c.tasks == 4
    assert c.executor_run_s == pytest.approx(2.0)
    assert c.job_intervals == [(0.0, 1.0), (1.0, 2.0)]


def test_parse_duration_reads_the_total():
    assert harness.parse_duration(
        "total (min, med, max (stageId: taskId))\n1.2 s (10 ms, 20 ms, 1.1 s (stage 3.0: task 9))"
    ) == pytest.approx(1.2)
    assert harness.parse_duration("35 ms") == pytest.approx(0.035)
    assert harness.parse_duration("total (min, med, max)\n2.5 m (1 s, 1 s, 1 s)") == pytest.approx(150.0)
    assert harness.parse_duration("") == 0.0


# -- fail_ratio counting ----------------------------------------------------


def test_outcomes_count_every_attempt_and_keep_going():
    out = harness.Outcomes()
    for i in range(4):
        with out.op(f"op{i}"):
            if i % 2:
                raise ValueError("boom")
    out.record("check", False, "mismatch")
    out.record("check", True)
    assert (out.attempted, out.failed) == (6, 3)
    assert out.fail_ratio == pytest.approx(0.5)
    assert out.failures[0].startswith("op1: ValueError")
    assert harness.Outcomes().fail_ratio == 0.0


# -- metric names -----------------------------------------------------------


def test_metric_names_follow_the_grammar():
    names = [n for n, _ in run.END_TO_END] + [n for n, _ in run.PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert harness.METRIC_NAME.fullmatch(n) and len(n) <= 64, n
    assert not harness.METRIC_NAME.fullmatch("bad name")
    assert not harness.METRIC_NAME.fullmatch("a/b")


def test_printed_names_match_benchmark_json():
    bench = _bench()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_layer_metrics_cover_every_per_layer_name():
    class _SC:
        def setJobGroup(self, *a):
            pass

        def setLocalProperty(self, *a):
            pass

    class _Spark:
        sparkContext = _SC()

    tracer = harness.Tracer(enabled=True)
    layers = harness.Layers(tracer, harness.SparkProbe(_Spark(), read=False))
    layers.timed("pipeline.serve", lambda: None)
    ctx = wl.Ctx(None, 1, layers, harness.Outcomes(), tracer, {})
    got = run._layer_metrics(ctx, (0.0, 1.0), 4, {"start_s": 0.5, "warmup_s": 0.2}, 0, 100.0)
    assert list(got) == [n for n, _ in run.PER_LAYER]
    assert got["session.start_s"] == 0.5 and got["pipeline.serve_ms"] >= 0.0


def test_every_query_module_has_operator_metrics():
    for queries in (wl.LLM_QUERIES, wl.SQL_QUERIES):
        for module in queries.values():
            assert f"operators.{module}.build_s" in dict(run.PER_LAYER)


def test_workload_queries_are_registered_with_oracles():
    sys.path.insert(0, REPO)
    from weather_data_pipeline_spark.registry import oracle_sql, queries

    fns, sql = queries(), oracle_sql()
    for name in [*wl.LLM_QUERIES, *wl.SQL_QUERIES]:
        assert name in fns and name in sql, name


# -- inputs and the entry point ------------------------------------------------


def test_datagen_matches_engine_schemas():
    sys.path.insert(0, REPO)
    from weather_data_pipeline_spark.schemas import TESTDATA

    tables = datagen.generate(3, 0.001)
    assert list(tables) == list(TESTDATA)
    for name, t in tables.items():
        assert t.column_names == TESTDATA[name].fieldNames(), name


def test_datagen_is_deterministic_per_seed():
    a, b, c = datagen.generate(3, 0.001), datagen.generate(3, 0.001), datagen.generate(4, 0.001)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["documents"].num_rows == 500 and a["lineitem"].num_rows == 6000


def test_datagen_cli_writes_row_groups_a_scan_can_split(tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "t")
    assert datagen.spawn(5, 0.03, out, ["lineitem", "region"]).wait() == 0
    assert sorted(os.listdir(out)) == ["lineitem.parquet", "region.parquet"]
    meta = pq.ParquetFile(os.path.join(out, "lineitem.parquet")).metadata
    assert meta.num_rows == 180_000
    assert meta.num_row_groups == -(-180_000 // datagen.ROW_GROUP_ROWS)


def test_run_fails_without_the_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "batch_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
