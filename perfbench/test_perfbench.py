"""Tests of the benchmark itself.

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload end to end on small inputs in a child
process (about a minute each); the other tests need no Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from decimal import Decimal

import pytest

import corpus
import run
import workloads
from probes import ProcessTree, host_steal_s
from spans import Span, Tracer, self_times, union_length

HERE = os.path.dirname(os.path.abspath(__file__))

# metric names each workload's traced run reports beyond the shared set
WORKLOAD_LAYERS = {
    "posdb": [
        "importer.create_ms", "importer.parse_s", "importer.replay_s",
        "importer.aggregate_s", "importer.games_write_s",
        "importer.entries_write_s", "importer.report_s",
        "importer.shuffle_write_bytes", "importer.spill_bytes",
        "importer.tasks", "importer.entries_per_position",
        "layout.bytes_written", "layout.files_written", "layout.bytes_per_entry",
        "server.handle_ms", "server.wire_ms", "query.build_probes_ms",
        "query.grid_ms", "query.headers_ms", "query.jobs_per_request",
        "query.tasks_per_request", "query.probes_per_request",
        "query.rows_read_per_probe", "query.bytes_read_per_request",
        "tree.ms_per_level",
    ],
    "analytics": ["spark.plan_s", "spark.exec_s", "spark.eager_jobs",
                  "suite.headline_slot_use", "suite.heavy_slot_use"]
    + [f"q.{q}.s" for q in workloads.HEADLINE + workloads.HEAVY]
    + [f"q.{q}.slot_use" for q in workloads.HEADLINE + workloads.HEAVY]
    + [f"q.{q}.cpu_s" for q in workloads.HEAVY],
}
WORKLOAD_SUMMARY = {
    "posdb": ["positions_per_s", "db_bytes_per_position", "request_p50_ms",
              "request_p90_ms"],
    "analytics": ["suite_s", "headline_s", "heavy_s"],
}

# runs one traced workload on small inputs and prints its two last lines
SMOKE = textwrap.dedent("""
    import sys
    sys.path.insert(0, {here!r})
    import corpus, run, workloads
    workloads.CORPUS = corpus.CorpusShape(distinct_games=48, replication=2)
    workloads.TABLE_ROWS = 2000
    sys.exit(run.main(["--workload", {workload!r}, "--seed", "7",
                       "--seconds", "1", "--trace", "1"]))
""")


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def smoke(request):
    workload = request.param
    proc = subprocess.run(
        [sys.executable, "-c", SMOKE.format(here=HERE, workload=workload)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return workload, json.loads(lines[-1]), json.loads(lines[-2])["perfbench_detail"]


def test_smoke_emits_every_metric_with_no_errors(smoke):
    workload, result, detail = smoke
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["error_rate"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.LAYER_UNITS
    assert set(detail["e2e"]) == set(run.E2E_UNITS)
    assert all(v > 0 for v in detail["e2e"].values())
    missing = [k for k in WORKLOAD_LAYERS[workload] if k not in detail["layers"]]
    assert not missing
    assert all(k in detail["workload"] for k in WORKLOAD_SUMMARY[workload])
    for key in ("nproc", "load_before", "load_after", "spark", "python",
                "SPARK_GRAFT_CPUS", "default_parallelism", "driver_memory",
                "commit", "seed"):
        assert key in detail["run"]


def test_smoke_self_times_cover_the_timed_phase(smoke):
    _workload, result, detail = smoke
    assert detail["self_s_total"] == pytest.approx(detail["timed_phase_s"], rel=1e-6)
    assert 0.5 < result["metrics"]["trace.coverage"]["value"] <= 1.0


def test_self_times_subtract_children_once():
    spans = [
        Span(1, "root", 0.0, None, 1, end=10.0),
        Span(2, "a", 1.0, 1, 1, end=4.0),
        Span(3, "b", 3.0, 1, 1, end=6.0),   # overlaps a
        Span(4, "a.child", 2.0, 2, 1, end=3.0),
    ]
    own = self_times(spans)
    assert own == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}
    assert sum(own.values()) == pytest.approx(10.0 + 1.0)  # b overlaps a by 1
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_wrapped_attribute_records_span_and_is_restored():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tracer = Tracer(enabled=True)
    tracer.wrap(Owner, "f", "owner.f",
                after=lambda span, result: span.attrs.update(result=result))
    with tracer.span("op", new_trace=True) as op:
        assert Owner.f(1) == 2
    tracer.unwrap_all()
    assert Owner.f(1) == 2 and not hasattr(Owner.f, "__wrapped__")
    (inner,) = [s for s in tracer.spans if s.name == "owner.f"]
    assert inner.parent == op.id and inner.trace == op.trace
    assert inner.attrs["result"] == 2


def _ctx():
    class Ctx:
        seed = 1

    return Ctx()


def test_tampered_explorer_answer_is_a_failure():
    wl = workloads.PosDbWorkload(_ctx())
    wl.corpus = {"games": 10, "positions": 200}
    stats = {"all": {"human": {"W": {"count": 3}, "D": {"count": 2}},
                     "engine": {"B": {"count": 1}}}}
    answer = {"ok": True, "response": {"positions": [{"stats": stats}]}}
    good = workloads.Op("query", 0.1, answer=answer, expect=[6])
    tampered = workloads.Op("query", 0.1, answer=answer, expect=[7])
    refused = workloads.Op("query", 0.1, answer={"ok": False, "error": "x"},
                           expect=[6])
    assert wl.check([good]) == []
    assert len(wl.check([good, tampered, refused])) == 2


def test_tampered_import_report_is_a_failure():
    wl = workloads.PosDbWorkload(_ctx())
    wl.corpus = {"games": 10, "positions": 200}
    report = {"games": 10, "skipped": 0, "dropped_invalid": 0, "positions": 200}
    good = workloads.Op("create", 1.0, answer={"ok": True, "import": report})
    bad = workloads.Op("create", 1.0, answer={
        "ok": True, "import": {**report, "positions": 199}})
    assert wl.check([good]) == []
    assert len(wl.check([good, bad])) == 1


def test_tampered_oracle_answer_is_a_failure():
    wl = workloads.AnalyticsWorkload(_ctx())
    cols, rows = ["k", "v"], [(1, "a"), (2, "b")]
    wl.expected = {"q": workloads.canonical_digest(cols, list(reversed(rows)))}
    assert wl.check([workloads.Op("query", 0.1, answer=(cols, rows), expect="q")]) == []
    wl.expected["q"][2] = "0" * 64
    assert len(wl.check([workloads.Op("query", 0.1, answer=(cols, rows), expect="q")])) == 1
    wl.expected["q"][0] = ["k", "w"]
    assert len(wl.check([workloads.Op("query", 0.1, answer=(cols, rows), expect="q")])) == 1
    failed = workloads.Op("query", 0.1, answer=None, expect="q", error="boom")
    assert len(wl.check([failed])) == 1


def test_oracle_digest_matches_the_oracle_tests_comparison():
    # columns by name, NaN as NULL, numbers by value, arrays as tuples
    a = workloads.canonical_digest(["x", "y"], [(-0.0, float("nan")), (1.5, [1, 2])])
    b = workloads.canonical_digest(["y", "x"], [((1, 2), Decimal("1.50")), (None, 0)])
    assert a == b
    assert a != workloads.canonical_digest(["x", "y"], [(0.0, "None"), (1.5, [1, 2])])


def test_corpus_is_seeded(tmp_path):
    shape = corpus.CorpusShape(distinct_games=40, replication=2)
    one = corpus.cached(3, shape, str(tmp_path / "one"))
    again = corpus.cached(3, shape, str(tmp_path / "again"))
    other = corpus.cached(4, shape, str(tmp_path / "one"))
    strip = lambda m: {k: v for k, v in m.items() if k != "files"}  # noqa: E731
    assert strip(one) == strip(again) != strip(other)
    for lvl, paths in one["files"].items():
        for a, b in zip(paths, again["files"][lvl]):
            assert open(a).read() == open(b).read()
    assert one["games"] == 80 and one["positions"] > one["distinct_positions"]
    assert one["probe_hot"] and one["probe_deep"]


def test_process_tree_cpu_delta_counts_new_processes_from_zero():
    before = {1: ("driver", 1.0), 2: ("jvm", 5.0)}
    after = {1: ("driver", 1.5), 2: ("jvm", 7.0), 3: ("pyworker", 0.25)}
    delta = ProcessTree.cpu_delta(before, after)
    assert delta["driver"] == 0.5 and delta["jvm"] == 2.0
    assert delta["pyworker"] == 0.25 and delta["total"] == 2.75
    assert ProcessTree().snapshot()[os.getpid()][0] == "driver"
    assert host_steal_s() >= 0
