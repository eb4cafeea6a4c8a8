import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import workloads

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)


def _traced(wall, jobs, rounds, busy, py, jvm, exec_cpu, hubs=0):
    return {
        "wall_s": wall,
        "spark": {"jobs": jobs, "stages": jobs, "tasks": 4 * jobs,
                  "busy_s": busy, "executor_run_s": 2.0,
                  "executor_cpu_s": exec_cpu, "gc_s": 0.1,
                  "shuffle_read_bytes": 100, "shuffle_write_bytes": 90,
                  "spill_bytes": 0},
        "trace": {"pregel.loop": wall * 0.8, "pregel.step": 0.1,
                  "pregel.vote": 0.2, "pregel.materialize": 0.5,
                  "pregel.checkpoint": 0.0, "csr.pack": 0.1,
                  "skew.sensor": 0.01, "csr.pack_calls": 1, "rounds": rounds,
                  "blocks": 2, "spill_bytes": 1000, "hubs": hubs,
                  "bookkeeping_s": 0.001},
        "cpu": {"jvm_s": jvm, "pyworker_s": py},
        "checkpoint_bytes": 0,
        "collect_s": 0.05,
    }


def test_layer_metrics_derivations():
    m = run.layer_metrics(_traced(4.0, 20, 5, 3.0, 3.0, 6.0, 1.5), nproc=4)
    assert m["spark.jobs_per_round"] == 4.0
    assert m["spark.job_gap_s"] == pytest.approx(1.0)
    assert m["spark.driver_cpu_s"] == pytest.approx(4.5)
    assert m["pyworker.cpu_share"] == pytest.approx(1 / 3)
    assert m["spark.core_util"] == pytest.approx(2.0 / 16)
    assert m["algorithms.outside_loop_s"] == pytest.approx(4.0 - 3.2 - 0.1)
    assert m["trace.bookkeeping_s"] == 0.001
    names = {n for n, _ in run.PER_LAYER}
    assert set(m) <= names


def test_sum_traced_adds_fields_and_keeps_largest_hub_set():
    tot = run.sum_traced([_traced(1.0, 10, 2, 1.0, 1.0, 1.0, 0.5, hubs=3),
                          _traced(2.0, 5, 1, 1.5, 0.0, 2.0, 0.5, hubs=1)])
    assert tot["wall_s"] == 3.0
    assert tot["spark"]["jobs"] == 15
    assert tot["trace"]["rounds"] == 3
    assert tot["trace"]["hubs"] == 3
    m = run.layer_metrics(tot, nproc=2)
    assert m["spark.jobs_per_round"] == 5.0
    assert m["pyworker.cpu_share"] == pytest.approx(1 / 4)


def test_end_to_end_uses_call_medians():
    recs = [{"call": "pagerank", "wall_s": w, "rounds": 4}
            for w in (5.0, 7.0, 6.0)] + [
        {"call": "wcc", "wall_s": w, "rounds": 6} for w in (2.0, 4.0, 3.0)]
    res = {"records": recs,
           "setup": {"setup_s": 40.0, "graph.edges": 1000},
           "peak": {"total": 3e9}}
    e = run.end_to_end(res)
    assert e["calls"]["pagerank"]["n"] == 3
    assert e["calls"]["pagerank"]["median"] == 6.0
    assert e["calls"]["pagerank"]["eups"] == pytest.approx(1000 * 4 / 6.0)
    assert e["metrics"] == {"setup_s": 40.0, "suite_s": 9.0}
    assert e["peak_mem_gb"] == 3.0
    assert set(e["metrics"]) == {n for n, _ in run.END_TO_END}


def test_trace_overhead_compares_traced_with_untraced_passes():
    def rec(call, wall, pass_idx):
        r = {"call": call, "wall_s": wall, "rounds": 2, "pass": pass_idx}
        if pass_idx % 2:
            r["traced"] = _traced(wall, 10, 2, wall, 0.0, 1.0, 0.5)
        return r

    # untraced passes on both sides of the traced one: their medians
    # (here, means) stand for the untraced cost at the traced pass
    recs = [rec("pagerank", 7.0, 0), rec("wcc", 6.0, 0),
            rec("pagerank", 6.0, 1), rec("wcc", 5.0, 1),
            rec("pagerank", 5.0, 2), rec("wcc", 4.0, 2)]
    res = {"records": recs,
           "setup": {"session.start_s": 1.0, "session.warmup_s": 2.0,
                     "graph.load_s": 3.0, "graph.edges": 10,
                     "graph.vertices": 5},
           "peak": {"jvm": 1e9, "pyworker": 0.0, "scratch": 0.0}}
    total, per_call = run.per_layer(res, run.boxmod.Box(4, 16 * 2**30, 4096))
    assert total["trace.overhead"] == pytest.approx(11.0 / 11.0 - 1)
    assert total["spark.jobs"] == 20  # the traced pass only
    assert set(per_call) == {"pagerank", "wcc"}
    assert set(total) == {n for n, _ in run.PER_LAYER}


def test_warm_up_runs_each_call_once_and_survives_a_failure():
    released, tags = [], []

    def ok(name):
        out = workloads.Outcome(df=None, rounds=1,
                                    release=lambda: released.append(name))
        return workloads.Call(name, lambda: out, "v", None)

    def broken():
        raise RuntimeError("engine failed")

    class Workload:
        def calls(self, g, dirs, tag):
            tags.append(tag)
            return [ok("a"), workloads.Call("b", broken, "v", None),
                    ok("c")]

    sunk = []
    orig = run.sink
    run.sink = sunk.append
    try:
        run.warm_up(Workload(), g=None, dirs=None)
    finally:
        run.sink = orig
    assert tags == ["warmup"]
    assert released == ["a", "c"]
    assert sunk == [None, None]


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == [
        n for n, _ in run.END_TO_END]
    assert [m["name"] for m in spec["per_layer"]] == [
        n for n, _ in run.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == dict(run.END_TO_END + run.PER_LAYER)[m["name"]]


def test_fails_without_the_program(tmp_path):
    """Run from a directory holding only the benchmark: exit non-zero and
    print no result."""
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "copurchase-defaults", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_stop_children_ends_what_the_run_started():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(60)"])
    run.stop_children()
    assert child.wait(timeout=5) is not None


def test_tracer_install_and_uninstall_restore_the_program():
    pytest.importorskip("pyspark")
    from graphscope_spark import csr, graph, pregel

    import layers

    before = (pregel.SuperstepRunner.run, pregel.materialized_checkpoint,
              pregel.SuperstepRunner._checkpoint,
              csr.spill_csr_blocks_from_edges, graph.Graph.measured_hubs)
    t = layers.Tracer()
    t.install()
    try:
        assert pregel.SuperstepRunner.run is not before[0]
        assert csr.spill_csr_blocks_from_edges is not before[3]
    finally:
        t.uninstall()
    after = (pregel.SuperstepRunner.run, pregel.materialized_checkpoint,
             pregel.SuperstepRunner._checkpoint,
             csr.spill_csr_blocks_from_edges, graph.Graph.measured_hubs)
    assert after == before


def test_timed_wrapper_records_spans_only_inside_a_call():
    import layers

    t = layers.Tracer()
    seen = []
    f = t._timed("x", lambda a: a + 1, lambda ct, out: seen.append(out))
    assert f(1) == 2  # no current call: nothing recorded
    assert seen == []
    ct = t.begin()
    assert f(2) == 3 and f(3) == 4
    assert t.end() is ct
    assert ct.counts["x"] == 2 and ct.total("x") >= 0
    assert seen == [3, 4]
    assert ct.bookkeeping_s >= 0
