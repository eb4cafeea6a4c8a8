#!/usr/bin/env python3
"""graphscope_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload copurchase-defaults --seed 1 \\
        --seconds 10 --trace 0

Untraced (``--trace 0``) prints the end-to-end metrics. Traced
(``--trace 1``) runs the same calls with spans around the program's
layers, Spark stage metrics per call and Python-worker CPU from /proc, and
prints the per-layer metrics. Either way the last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; a summary
goes to stderr and the full per-call record to
``.perfbench_run/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import box as boxmod  # noqa: E402
import procfs  # noqa: E402
import summary  # noqa: E402
from sparkstats import StageCollector  # noqa: E402
from workloads import JOB_FLOOR, WORKLOADS, sink  # noqa: E402

GB = 1e9
RUN_BASE = os.path.join(ROOT, ".perfbench_run")

# (name, unit) of the end-to-end metrics (--trace 0)
END_TO_END = (("setup_s", "s"), ("suite_s", "s"))
# (name, unit) of the per-layer metrics (--trace 1), summed over the calls
PER_LAYER = (
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("graph.load_s", "s"), ("graph.edges", "count"),
    ("graph.vertices", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.jobs_per_round", "count"),
    ("spark.job_gap_s", "s"), ("spark.driver_cpu_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"),
    ("spark.core_util", "fraction"),
    ("pregel.rounds", "count"), ("pregel.step_s", "s"),
    ("pregel.vote_s", "s"), ("pregel.materialize_s", "s"),
    ("pregel.checkpoint_s", "s"), ("pregel.checkpoint_bytes", "bytes"),
    ("algorithms.outside_loop_s", "s"),
    ("csr.pack_s", "s"), ("csr.pack_calls", "count"),
    ("csr.blocks", "count"), ("csr.spill_bytes", "bytes"),
    ("pyworker.cpu_s", "s"), ("pyworker.cpu_share", "fraction"),
    ("skew.sensor_s", "s"), ("skew.hubs", "count"),
    ("mem.jvm_peak_gb", "GB"), ("mem.pyworker_peak_gb", "GB"),
    ("mem.scratch_peak_gb", "GB"),
    ("trace.overhead", "fraction"), ("trace.bookkeeping_s", "s"),
    ("trace.collect_s", "s"),
)


# ---------------------------------------------------------------------- #
# process plumbing
# ---------------------------------------------------------------------- #

def redirect_spill(spill_root: str) -> None:
    """The block engines spill CSR blocks to ``csr.default_spill_dir()``,
    which is /dev/shm when present; keep them inside the run directory."""
    from graphscope_spark import csr

    csr.default_spill_dir = lambda: tempfile.mkdtemp(prefix="gs_csr_",
                                                     dir=spill_root)


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, end the gateway JVM and wait until it and its
    Python workers have exited."""
    workers = procfs.descendants(jvm_pid, procfs.process_table())
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        for pid in workers:
            if not procfs.wait_gone(pid, 30):
                os.kill(pid, 9)
                procfs.wait_gone(pid, 10)


def stop_children() -> None:
    """End every process this one started that still runs. A run stopped
    during session start leaves a gateway JVM that no session owns yet,
    and that JVM outlives the driver once its start-up files are gone."""
    left = procfs.descendants(os.getpid(), procfs.process_table())
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    for pid in left:
        if not procfs.wait_gone(pid, 30):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            procfs.wait_gone(pid, 10)


# ---------------------------------------------------------------------- #
# warm-up and one timed call
# ---------------------------------------------------------------------- #

def warm_up(workload, g, dirs) -> None:
    """One untimed pass of the workload's own calls on its own input. The
    timed passes then run plans that Spark has generated code for and
    that the JIT has compiled; a warm-up on another graph left the first
    timed pass up to 1.5x as long as the next (README.md). Each result is
    released, and the job floor still catches a timed call that a cache
    serves. A failure here is reported; the timed call will count it."""
    for call in workload.calls(g, dirs, "warmup"):
        try:
            out = call.run()
            sink(out.df)
            out.release()
        except Exception:  # noqa: BLE001 - the timed calls count failures
            traceback.print_exc(file=sys.stderr)


TRACE_SPANS = ("pregel.loop", "pregel.step", "pregel.vote",
               "pregel.materialize", "pregel.checkpoint", "csr.pack",
               "skew.sensor")


def timed_call(ctx, call, pass_idx: int, tracer) -> dict:
    """Run one call under its own job group, time it through the noop
    sink, then (outside the timed region) collect its result for the
    output check, release it, and count its Spark jobs. With a tracer,
    also record the call's layer metrics."""
    sc = ctx["sc"]
    label = f"perfbench:{ctx['workload'].name}:p{pass_idx}:{call.name}"
    rec = {"call": call.name, "pass": pass_idx,
           "error": None, "rounds": 0, "table": None}
    sc.setJobGroup(label, label)
    if tracer:
        ckpt0 = procfs.dir_bytes(ctx["dirs"].checkpoints)
        cpu0 = procfs.cpu_snapshot(ctx["jvm_pid"])
        tracer.begin()
    w0 = time.time()
    t0 = time.perf_counter()
    out = None
    try:
        out = call.run()
        sink(out.df)
    except Exception as e:  # noqa: BLE001 - a failed call is counted
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
        traceback.print_exc(file=sys.stderr)
    rec["wall_s"] = time.perf_counter() - t0
    w1 = time.time()
    ct = tracer.end() if tracer else None
    if tracer:
        cpu1 = procfs.cpu_snapshot(ctx["jvm_pid"])
    rec["jobs"] = len(ctx["collector"].job_ids(label))

    if out is not None:
        rec["rounds"] = out.rounds
        sc.setJobGroup("perfbench:verify", "collect result")
        try:
            pdf = out.df.select("id", call.value_col).toPandas()
            rec["table"] = (pdf["id"].to_numpy(),
                            pdf[call.value_col].to_numpy())
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"collecting the result failed: {e}"[:500]
        out.release()
        if rec["error"] is None and rec["jobs"] < JOB_FLOOR:
            rec["error"] = (f"ran {rec['jobs']} Spark jobs, below the floor "
                            f"of {JOB_FLOOR}: a cached result was reused")

    if tracer:
        tc = time.perf_counter()
        sp = ctx["collector"].collect(label)
        rec["traced"] = {
            "wall_s": rec["wall_s"],
            "spark": {
                "jobs": sp.jobs, "stages": sp.stages, "tasks": sp.tasks,
                "busy_s": summary.union_length(sp.job_intervals, w0, w1),
                "executor_run_s": sp.executor_run_s,
                "executor_cpu_s": sp.executor_cpu_s, "gc_s": sp.gc_s,
                "shuffle_read_bytes": sp.shuffle_read_bytes,
                "shuffle_write_bytes": sp.shuffle_write_bytes,
                "spill_bytes": sp.spill_bytes,
            },
            "trace": {
                **{n: ct.total(n) for n in TRACE_SPANS},
                "csr.pack_calls": ct.counts.get("csr.pack", 0),
                "rounds": ct.rounds, "blocks": ct.blocks,
                "spill_bytes": ct.spill_bytes, "hubs": ct.hubs,
                "bookkeeping_s": ct.bookkeeping_s,
            },
            "cpu": {"jvm_s": cpu1.jvm_s - cpu0.jvm_s,
                    "pyworker_s": cpu1.pyworker_s - cpu0.pyworker_s},
            "checkpoint_bytes":
                procfs.dir_bytes(ctx["dirs"].checkpoints) - ckpt0,
        }
        rec["traced"]["collect_s"] = time.perf_counter() - tc
        rec["layers"] = layer_metrics(rec["traced"], ctx["box"].nproc)
    return rec


def layer_metrics(t: dict, nproc: int) -> dict:
    """Per-layer metrics of one traced call, or of several summed with
    ``sum_traced``."""
    wall = t["wall_s"]
    sp, tr, cpu = t["spark"], t["trace"], t["cpu"]
    rounds = tr["rounds"]
    py, jvm = cpu["pyworker_s"], cpu["jvm_s"]
    return {
        "spark.jobs": sp["jobs"],
        "spark.stages": sp["stages"],
        "spark.tasks": sp["tasks"],
        "spark.jobs_per_round": sp["jobs"] / rounds if rounds else 0.0,
        "spark.job_gap_s": wall - sp["busy_s"],
        "spark.driver_cpu_s": jvm - sp["executor_cpu_s"],
        "spark.shuffle_read_bytes": sp["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"],
        "spark.executor_run_s": sp["executor_run_s"],
        "spark.executor_cpu_s": sp["executor_cpu_s"],
        "spark.gc_s": sp["gc_s"],
        "spark.spill_bytes": sp["spill_bytes"],
        "spark.core_util": sp["executor_run_s"] / (wall * nproc),
        "pregel.rounds": rounds,
        "pregel.step_s": tr["pregel.step"],
        "pregel.vote_s": tr["pregel.vote"],
        "pregel.materialize_s": tr["pregel.materialize"],
        "pregel.checkpoint_s": tr["pregel.checkpoint"],
        "pregel.checkpoint_bytes": t["checkpoint_bytes"],
        "algorithms.outside_loop_s":
            wall - tr["pregel.loop"] - tr["csr.pack"],
        "csr.pack_s": tr["csr.pack"],
        "csr.pack_calls": tr["csr.pack_calls"],
        "csr.blocks": tr["blocks"],
        "csr.spill_bytes": tr["spill_bytes"],
        "pyworker.cpu_s": py,
        "pyworker.cpu_share": py / (py + jvm) if py + jvm > 0 else 0.0,
        "skew.sensor_s": tr["skew.sensor"],
        "skew.hubs": tr["hubs"],
        "trace.bookkeeping_s": tr["bookkeeping_s"],
        "trace.collect_s": t["collect_s"],
    }


def sum_traced(ts: list[dict]) -> dict:
    """Field-by-field sum of traced call records; the hub count is the
    largest hub set any call measured."""
    def add(a, b):
        if isinstance(a, dict):
            return {k: add(a[k], b[k]) for k in a}
        return a + b
    tot = ts[0]
    for t in ts[1:]:
        tot = add(tot, t)
    tot["trace"]["hubs"] = max(t["trace"]["hubs"] for t in ts)
    return tot


# ---------------------------------------------------------------------- #
# a run
# ---------------------------------------------------------------------- #

def run(workload, args, box, dirs) -> dict:
    t_start = time.monotonic() - procfs.age_s(os.getpid())
    # generating the seeded inputs is the benchmark's work, not the
    # program's set-up: it is timed apart and left out of setup_s
    ti = time.monotonic()
    workload.make_inputs(args.seed, dirs)
    inputs_s = time.monotonic() - ti

    from graphscope_spark import csr
    from graphscope_spark.session import get_spark

    redirect_spill(dirs.spill)
    tracer = None
    if args.trace:
        from layers import Tracer
        tracer = Tracer()
        tracer.install()

    t0 = time.monotonic()
    spark = get_spark("perfbench", cpus=box.nproc,
                      extra_conf=boxmod.spark_conf(box, dirs))
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    session_start_s = time.monotonic() - t0
    sampler = procfs.MemorySampler(
        jvm_pid, [dirs.spark_local, dirs.spill, dirs.checkpoints, dirs.tmp])
    sampler.start()
    try:
        ctx = {"sc": sc, "workload": workload,
               "dirs": dirs, "jvm_pid": jvm_pid, "box": box,
               "collector": StageCollector(sc)}
        sc.setJobGroup("perfbench:setup", "load and warm-up")
        t1 = time.monotonic()
        g = workload.load(spark)
        t2 = time.monotonic()
        warm_up(workload, g, dirs)
        t3 = time.monotonic()
        setup = {
            "setup_s": t3 - t_start - inputs_s,
            "inputs_s": inputs_s,
            "session.start_s": session_start_s,
            "session.warmup_s": t3 - t2,
            "graph.load_s": t2 - t1,
            "graph.edges": g.num_edges,
            "graph.vertices": g.num_vertices,
            "num_blocks": csr.default_num_blocks(g),
        }

        records = []
        measure_start = time.monotonic()
        passes = 0
        # a traced run alternates untraced and traced passes, starting and
        # ending with an untraced one. The calls still speed up from pass
        # to pass, so trace.overhead compares each traced pass with the
        # untraced passes on both sides of it
        min_passes = max(3, workload.min_passes) if tracer \
            else workload.min_passes
        while (passes < min_passes
               or time.monotonic() - measure_start < args.seconds
               or (tracer and passes % 2 == 0)):
            pass_tracer = tracer if passes % 2 == 1 else None
            for call in workload.calls(g, dirs, f"pass{passes}"):
                records.append(timed_call(ctx, call, passes, pass_tracer))
            passes += 1
        measure_s = time.monotonic() - measure_start

        # output checks, outside every timed region
        t4 = time.monotonic()
        expected = workload.expected()
        checks = {c.name: c.check for c in workload.calls(g, dirs, "check")}
        for rec in records:
            table = rec.pop("table")
            if rec["error"] is None:
                rec["error"] = checks[rec["call"]](expected, table)
        oracle_s = time.monotonic() - t4
    finally:
        sampler.stop()
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark, jvm_pid)
    return {"setup": setup, "records": records, "passes": passes,
            "measure_s": measure_s, "oracle_s": oracle_s,
            "peak": dict(sampler.peak)}


def by_call(recs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in recs:
        out.setdefault(r["call"], []).append(r)
    return out


def suite_s(recs: list[dict]) -> float:
    """Sum over the calls of each call's median wall time."""
    return sum(statistics.median(r["wall_s"] for r in rs)
               for rs in by_call(recs).values())


def end_to_end(res: dict) -> dict:
    """Per-call medians (with sample counts and edge updates per second)
    and the end-to-end metrics built from them."""
    recs, setup = res["records"], res["setup"]
    calls = {}
    for name, rs in by_call(recs).items():
        c = summary.timing_summary([r["wall_s"] for r in rs])
        rounds = statistics.median(r["rounds"] for r in rs)
        c["eups"] = setup["graph.edges"] * rounds / c["median"]
        calls[name] = c
    return {
        "calls": calls,
        "peak_mem_gb": res["peak"]["total"] / GB,
        "metrics": {
            "setup_s": setup["setup_s"],
            "suite_s": suite_s(recs),
        },
    }


def per_layer(res: dict, box) -> tuple[dict, dict]:
    recs = [r for r in res["records"] if "traced" in r]
    untraced = [r for r in res["records"] if "traced" not in r]
    per_call: dict[str, dict] = {}
    for name in dict.fromkeys(r["call"] for r in recs):
        per_call[name] = layer_metrics(
            sum_traced([r["traced"] for r in recs if r["call"] == name]),
            box.nproc)
    total = layer_metrics(sum_traced([r["traced"] for r in recs]), box.nproc)
    setup, peak = res["setup"], res["peak"]
    total.update({
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "graph.load_s": setup["graph.load_s"],
        "graph.edges": setup["graph.edges"],
        "graph.vertices": setup["graph.vertices"],
        "mem.jvm_peak_gb": peak["jvm"] / GB,
        "mem.pyworker_peak_gb": peak["pyworker"] / GB,
        "mem.scratch_peak_gb": peak["scratch"] / GB,
        # traced against untraced passes of the same run, as a fraction
        "trace.overhead": suite_s(recs) / suite_s(untraced) - 1,
    })
    return total, per_call


def report(workload, args, box, res: dict) -> dict:
    e2e = end_to_end(res)
    recs = res["records"]
    failed = sum(1 for r in recs if r["error"] is not None)
    detail = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": res["passes"],
        "provenance": {**boxmod.provenance(box, ROOT),
                       "seed": args.seed,
                       "edges": res["setup"]["graph.edges"],
                       "vertices": res["setup"]["graph.vertices"],
                       "num_blocks": res["setup"]["num_blocks"]},
        "setup": res["setup"], "measure_s": res["measure_s"],
        "oracle_s": res["oracle_s"], "peak_bytes": res["peak"],
        "calls": e2e["calls"], "peak_mem_gb": e2e["peak_mem_gb"],
        "end_to_end": e2e["metrics"],
        "error_rate": failed / len(recs),
        "records": recs,
    }
    if args.trace:
        total, per_call = per_layer(res, box)
        detail["per_layer"] = total
        detail["per_layer_by_call"] = per_call
        metrics = {n: {"value": total[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e["metrics"][n], "unit": u}
                   for n, u in END_TO_END}
    detail["result"] = {"correct": failed == 0, "attempted": len(recs),
                        "failed": failed, "metrics": metrics}
    return detail


def print_summary(detail: dict) -> None:
    p = detail["provenance"]
    out = sys.stderr
    print(f"perfbench {detail['workload']} seed={detail['seed']} "
          f"trace={detail['trace']} passes={detail['passes']} "
          f"nproc={p['nproc']} mem={p['mem_total_bytes'] / GB:.1f}GB "
          f"heap={p['heap_mb']}m E={p['edges']} V={p['vertices']} "
          f"B={p['num_blocks']}", file=out)
    for r in detail["records"]:
        status = "ok" if r["error"] is None else f"FAIL {r['error']}"
        print(f"  p{r['pass']} {r['call']:<16} {r['wall_s']:8.3f} s "
              f"jobs={r['jobs']:<5} rounds={r['rounds']:<3} {status}",
              file=out)
    for name, c in detail["calls"].items():
        tail = (f" p{c['tail_p']:g}={c['tail']:.3f}" if c["tail_p"] else "")
        print(f"  {name:<16} median {c['median']:.3f} s (n={c['n']}){tail} "
              f"eups {c['eups']:.4g}", file=out)
    for name, m in detail["result"]["metrics"].items():
        print(f"  {name:<28} {m['value']:.6g} {m['unit']}", file=out)
    print(f"  peak_mem_gb {detail['peak_mem_gb']:.3f} GB  "
          f"error_rate {detail['error_rate']:.3f}", file=out)
    if "per_layer_by_call" in detail:
        for call, lm in detail["per_layer_by_call"].items():
            print(f"  [{call}] " + " ".join(
                f"{k}={v:.4g}" for k, v in lm.items()), file=out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure for this long; at least one full pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "graphscope_spark",
                                       "__init__.py")):
        print(f"perfbench: no graphscope_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    workload = WORKLOADS[args.workload]
    box = boxmod.Box.detect()
    dirs = boxmod.RunDirs(os.path.join(
        RUN_BASE, f"{workload.name}-s{args.seed}-p{os.getpid()}"))
    dirs.create()
    boxmod.prepare_env(ROOT, dirs)
    try:
        res = run(workload, args, box, dirs)
    finally:
        stop_children()
        shutil.rmtree(dirs.root, ignore_errors=True)
    detail = report(workload, args, box, res)

    results = os.path.join(RUN_BASE, "results")
    os.makedirs(results, exist_ok=True)
    name = (f"{workload.name}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(os.path.join(results, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print_summary(detail)
    print(json.dumps(detail["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
