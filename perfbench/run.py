"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the workload's inputs from the seed and runs its DuckDB oracles in a
child process, starts a local[nproc] Spark session, runs the workload's
untimed warm-up passes (checked like every pass; the first is the only one
whose extraction and relations are scored), then timed passes until
``--seconds`` have elapsed.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it stamps the run
(host, load, versions) and names the workload's own throughputs.

Run from any directory; everything the run writes goes under
``.bench_work/`` at the repository root and is removed at exit. Every process
the run starts has ended before it exits, on every path out of it: the run
is a child subreaper, so Spark's Python workers, which outlive the JVM by a
moment, are handed to it and waited for.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Point every temporary file at the work dir and ship the package to
    the Python workers (they inherit PYTHONPATH through the JVM)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # a fixed heap keeps peak RSS steady run to run: under the 8g default
    # the heap grew to 3.2-4.2 GB on identical passes; 2g cost the round
    # trip 30% in GC
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # every JVM the run starts (spark-submit's launcher too) keeps its temp
    # files in the work dir and writes no /tmp/hsperfdata_* file
    jvm = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (jvm, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}") if x
    )


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _stop_jvm() -> None:
    """Stop the Py4J gateway and wait for the JVM it launched to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # a connection broken by a signal mid-call
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _prepare(workload: str, work: str, seed: int) -> dict:
    from perfbench.workloads import WORKLOADS

    return WORKLOADS[workload].prepare(work, seed)


def _prepare_in_child(workload: str, work: str, seed: int) -> dict:
    """Write the inputs and run the oracles in a child process that has
    ended before this function returns: the driver process's peak RSS then
    holds none of their memory. A plain subprocess, not a multiprocessing
    pool, whose resource tracker would outlive the run."""
    out = os.path.join(work, "prepared.pkl")
    code = (
        "import pickle, sys\n"
        "from perfbench.run import _prepare\n"
        "with open(sys.argv[4], 'wb') as f:\n"
        "    pickle.dump(_prepare(sys.argv[1], sys.argv[2], int(sys.argv[3])), f)\n"
    )
    subprocess.run(
        [sys.executable, "-c", code, workload, work, str(seed), out],
        check=True, timeout=150,
    )
    with open(out, "rb") as f:
        return pickle.load(f)


def _become_subreaper() -> None:
    """Have orphaned descendants handed to this process instead of init,
    so _reap_children can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(name))
    return pids


def _reap_children(grace: float = 20.0) -> None:
    """Wait until no child is left, reaping each as it ends (orphaned
    grandchildren become children as their parents end). Terminate those
    still running after ``grace`` seconds, kill them 5 s later."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = _children()
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def _pass(wl, tracer, traced: bool):
    tracer.enabled = traced
    t0 = time.perf_counter()
    with tracer.span("pass"):
        ops = wl.run_pass()
    wall = time.perf_counter() - t0
    tracer.enabled = False
    tracer.release()
    return ops, wall


def bench(args, work: str, cpus: int) -> tuple[dict, dict]:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    log_dir = os.path.join(work, "eventlog")
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    tracer = trace.Tracer(run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace))

    t0 = time.perf_counter()
    prepared = _prepare_in_child(args.workload, work, args.seed)
    parts = {"prepare_s": time.perf_counter() - t0}
    with tracer.span("session"):
        from rdf2hk_spark.session import get_spark

        spark = get_spark(app=f"perfbench-{args.workload}", cpus=cpus, extra=extra)
    tracer.enabled = False
    parts["session_s"] = time.perf_counter() - t0 - parts["prepare_s"]
    try:
        tracer.spark = spark
        wl = WORKLOADS[args.workload](Run(spark, args.seed, work, cpus, tracer, prepared))
        parts["load_s"] = time.perf_counter() - t0 - sum(parts.values())
        warm = wl.run_pass(warmup=True)
        for _ in range(wl.WARMUP_PASSES - 1):
            warm += wl.run_pass()
        setup_s = time.perf_counter() - t0
        parts["warmup_s"] = setup_s - sum(parts.values())

        # a traced run brackets its traced passes with untraced ones: passes
        # still speed up after the warm-up, so one reference pass before
        # them alone would understate the tracing overhead
        untraced, ops = [], []

        def reference_pass():
            more, wall = _pass(wl, tracer, traced=False)
            ops.extend(more)
            untraced.append(wall)

        if args.trace:
            reference_pass()
        walls, lat, rss = [], {}, None
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < args.seconds:
            more, wall = _pass(wl, tracer, traced=bool(args.trace))
            ops += more
            walls.append(wall)
            for o in more:
                lat.setdefault(o.name, []).append(o.seconds)
            if rss is None:  # after one timed pass, whatever the pass count
                rss = trace.peak_rss_mb(os.getpid())
        if args.trace:
            reference_pass()
        stamp = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        try:
            spark.stop()
        finally:
            _stop_jvm()

    import pyarrow

    failed = sum(1 for o in ops if not o.ok)
    correct = failed == 0 and all(o.ok for o in warm)
    # one median per operation kind, then their geometric mean: a median
    # pooled over all operations falls between two kinds' latency clusters
    # and moved by 20% between runs as they shifted
    kind_ms = {k: statistics.median(v) * 1e3 for k, v in lat.items()}
    if args.trace:
        passes = len(walls)
        metrics = trace.layer_metrics(tracer.spans, trace.fold_event_log(log_dir), passes)
        metrics.update({
            k: statistics.median(wl.run.ratios[k]) if k in wl.run.ratios else 0.0
            for k, _ in trace.RATIOS
        })
        busy = sum(metrics[f"{layer}.busy_s"] for layer in trace.LAYERS[1:]) * passes
        pass_s, untraced_s = statistics.median(walls), statistics.mean(untraced)
        metrics.update({
            "trace.pass_s": pass_s,
            "trace.untraced_pass_s": untraced_s,
            "trace.overhead": pass_s / untraced_s - 1.0,
            "trace.coverage": busy / sum(walls),
        })
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
        units = dict(trace.per_layer_names())
    else:
        metrics = {
            "items_per_s": wl.items / statistics.median(walls),
            "op_gm_median_ms": statistics.geometric_mean(kind_ms.values()),
            "peak_rss_mb": rss,
            "setup_s": setup_s,
        }
        units = {"items_per_s": "1/s", "op_gm_median_ms": "ms",
                 "peak_rss_mb": "MB", "setup_s": "s"}
    stamp.update({
        "workload": args.workload, "seed": args.seed, "nproc": cpus,
        "setup": parts, "passes": len(walls), "pass_s": walls,
        "ops": [[o.name, round(o.seconds, 3), o.ok] for o in warm + ops],
        "op_median_ms": kind_ms,
        "pyarrow": pyarrow.__version__, "git_commit": _git_commit(),
        "throughput": wl.units(ops),
        "failed_ratio": failed / len(ops) if ops else 0.0,
    })
    result = {
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, stamp


def main(argv=None) -> int:
    args = _args(argv)
    signal.signal(signal.SIGTERM, _terminated)
    _become_subreaper()
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", str(cpus * 0.5)))
    load_before = os.getloadavg()[0]
    if load_before > load_max:
        print(
            f"WARNING: host 1-min loadavg {load_before:.1f} > {load_max:.1f} at "
            "start; the measurement is likely contended (SPARK_GRAFT_LOAD_MAX "
            "overrides the threshold).", file=sys.stderr,
        )
    try:
        result, stamp = bench(args, work, cpus)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    stamp["load"] = {
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg()[0],
        "threshold": load_max,
        "contended_at_start": load_before > load_max,
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
