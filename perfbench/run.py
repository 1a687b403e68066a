"""semlink benchmark.

    python3 perfbench/run.py --workload er_pipeline|contract_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Every run starts a fresh local[4] Spark
JVM, writes its seeded inputs under ``.perfbench_work/`` and runs:

1. set-up: session start, then the input build three times;
   ``setup_s`` is the session start plus the median build;
2. the first op in the fresh JVM (``first_op_cpu_s``);
3. a closed loop with one client: warm ops until ``--seconds`` have
   passed since the first op started, and at least the workload's
   ``warm_ops``; ``op_cpu_s_p50`` is their median. At the configured
   ``--seconds`` (5) the first op alone outlasts it, so
   ``contract_mix`` runs exactly its four warm ops; a larger
   ``--seconds`` adds warm passes. ``er_pipeline`` measures one-shot
   ops (``warm_ops`` 0, no warm loop), so there ``op_cpu_s_p50`` is
   the first op's figure again, printed because every workload prints
   every gated metric. ``clearCache()`` and a fresh checkpoint dir
   precede every op.

The gated times are CPU seconds of this process, the JVM and its Python
workers, scaled to a reference host speed by a ``SpeedProbe`` that
samples the host's speed while each timed region runs; the raw CPU
seconds and the wall times (``first_op_s``, ``op_s_p50``, ...) are in
the report line.

Every op's output is checked after its timed region; a failed check
or a job/task count below the first op's marks the op failed. The last
stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the full report (host, heap, input sizes, every op). With
``--trace 1`` the run is the traced run of ``trace.py`` instead. The
exit code is 1 when a correctness check failed and 2 when the engine
cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(args, work: str) -> tuple[dict, dict]:
    from perfbench.harness import (CORES, SHUFFLE_PARTITIONS, Session,
                                   SpeedProbe, heap_mb)
    from perfbench.workloads import WORKLOADS

    sess = Session(work)
    wl = WORKLOADS[args.workload](sess, work, args.seed)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    ops = []
    try:
        with SpeedProbe() as setup_probe:
            sess.start()
            builds, build_cpu = [], []
            for i in range(3):
                cpu0 = sess.cpu_s()
                builds.append(wl.build(i))
                build_cpu.append(sess.cpu_s() - cpu0)
        t_loop = time.perf_counter()
        first = sess.run_op("first", wl.first_op, wl.check_first)
        ops.append(("first", first))
        warm = []
        while len(warm) < wl.warm_ops or (
                warm and time.perf_counter() - t_loop < args.seconds):
            r = sess.run_op(f"op{len(warm)}", wl.op, wl.check, baseline=first)
            ops.append((f"op{len(warm)}", r))
            warm.append(r)
        rss = sess.peak_rss_mb()
    finally:
        sess.stop()

    attempted = len(ops)
    failed = sum(not r.ok for _, r in ops)
    measured = warm or [first]          # one-shot workloads: the first op
    times = [r.wall_s for r in measured]
    setup_cpu = sess.start_cpu_s + statistics.median(build_cpu)
    metrics = {
        "setup_s": _metric(setup_cpu / setup_probe.slowdown, "s"),
        "first_op_cpu_s": _metric(first.ref_cpu_s, "s"),
        "op_cpu_s_p50": _metric(
            statistics.median(r.ref_cpu_s for r in measured), "s"),
    }
    extra = {
        "setup_raw_cpu_s": _metric(setup_cpu, "s"),
        "first_op_raw_cpu_s": _metric(first.cpu_s, "s"),
        "setup_wall_s": _metric(
            sess.start_s + statistics.median(builds), "s"),
        "first_op_s": _metric(first.wall_s, "s"),
        "op_s_p50": _metric(statistics.median(times), "s"),
        "op_s_max": _metric(max(times), "s"),
        "peak_rss_mb": _metric(rss, "MB"),
        "ops_failed_frac": _metric(failed / attempted, "1"),
        "warm_ops": _metric(len(warm), "count"),
    }
    sizes = wl.input_sizes()
    if args.workload == "er_pipeline":
        extra["turns_per_s"] = _metric(
            sizes["turns"] / statistics.median(times), "1/s")
        extra["pairwise_f1"] = _metric(wl.last_f1, "1")
    if args.workload == "contract_mix":
        extra["query_s_p50"] = {q: statistics.median(v)
                                for q, v in wl.query_s.items() if v}
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": 0,
        "host": _host(), "heap_mb": heap_mb(), "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "inputs": sizes, "prepare_s": prepare_s, "session_s": sess.start_s,
        "build_s": builds, "setup_slowdown": setup_probe.slowdown,
        "extra_metrics": extra,
        "ops": [{"op": n, "wall_s": r.wall_s, "cpu_s": r.cpu_s,
                 "slowdown": r.slowdown, "ok": r.ok, "jobs": r.jobs,
                 "tasks": r.tasks, "note": r.note} for n, r in ops],
    }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return report, result


def _host() -> dict:
    from perfbench.harness import host_ram_gb
    return {"node": platform.node(), "nproc": os.cpu_count(),
            "ram_gb": round(host_ram_gb(), 1),
            "python": platform.python_version()}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["er_pipeline", "contract_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "semlink", "__init__.py")):
        print(f"error: the semlink package is not under {ROOT}; run the "
              "benchmark from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import semlink too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # SIGTERM (a timeout's kill) unwinds through the finally blocks,
    # which stop the JVM and its Python workers and delete the work dir
    signal.signal(signal.SIGTERM, _terminate)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.trace:
            from perfbench.trace import run_traced
            report, result = run_traced(args, work, os.path.join(
                ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}"))
        else:
            report, result = run_untraced(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
