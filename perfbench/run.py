"""The repository's benchmark: seeded graph workloads, time to a verified result.

    python3 perfbench/run.py --workload pagerank_dense --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all      # every workload, untraced and traced
    python3 perfbench/run.py --selftest          # small inputs; checks the benchmark itself

One run starts the library's Spark session on ``local[nproc]``, builds
and materializes the workload's seeded inputs, and warms up the
workload's calls; ``setup_s`` is that time, counted from process start.  Then, untimed, it computes the reference
answers.  It times iterations of the workload's algorithm calls for
``--seconds`` (at least one), and checks every call's result against the
reference.  Calls still running ``--timeout`` seconds into an iteration
are cancelled and count as failed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones: spans around the library's entry points, each with its Spark job
group's counters read from the status store.  The tracing overhead is
traced minus untraced ``wall_s``, which ``--workload all`` prints.
Spans and counters go to ``.perfbench/results/`` in the checkout.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The library must be importable from the checkout; without it the run
# fails here, before any result is printed.
import pregel_golang_implementation_spark  # noqa: E402,F401

# The inputs need far less; the rest of the machine is shared.
DRIVER_MEM_GB = 2
# Calls still running this long into an iteration are cancelled and fail;
# set-up, one iteration and the cancel then stay well inside 180 s.
ITERATION_TIMEOUT_S = 90.0
STATE_DIR = os.path.join(ROOT, ".perfbench")
UNITS = {
    "wall_s": "s",
    "setup_s": "s",
    "edge_steps_per_s": "edges/s",
    "peak_rss_mb": "MB",
    "verified_frac": "ratio",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem_gb() -> int:
    """DRIVER_MEM_GB, or half of RAM if that is less."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(DRIVER_MEM_GB, total_kb // (2 * 1024 * 1024)))


def _configure_env(run_dir: str) -> dict:
    """Keep every file Spark and Python write inside the checkout, and let
    Python workers import the library."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    mem = _driver_mem_gb()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}g"
    return {
        "spill_dir": local,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "java_opts": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def _jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        line = next(line for line in f if line.startswith("VmHWM:"))
    return int(line.split()[1]) / 1024.0


def _reset_peak_rss(sc) -> bool:
    """Restart the JVM's VmHWM from its current RSS (Linux clear_refs 5)."""
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


@contextlib.contextmanager
def _deadline(sc, seconds: float):
    """Once ``seconds`` have passed, cancel every Spark job, again every
    half second, until the block ends.  Yields a dict whose ``expired`` is
    the monotonic time the deadline passed, or None."""
    state = {"expired": None}
    done = threading.Event()

    def watch():
        if done.wait(seconds):
            return
        state["expired"] = time.monotonic()
        while True:
            sc.cancelAllJobs()
            if done.wait(0.5):
                return

    watcher = threading.Thread(target=watch, name="perfbench-deadline", daemon=True)
    watcher.start()
    try:
        yield state
    finally:
        done.set()
        watcher.join()


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ one workload


def run_workload(args) -> int:
    from pregel_golang_implementation_spark import session
    from perfbench import trace as tr_mod
    from perfbench.workloads import SIZES, WORKLOADS, Call

    nproc = _nproc()
    run_dir = os.path.join(STATE_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = _configure_env(run_dir)
    wl = WORKLOADS[args.workload](SIZES[args.size], args.seed, run_dir, nproc)
    tracer = tr_mod.Tracer(nproc) if args.trace else tr_mod.NullTracer()
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_before": os.getloadavg(),
        **env,
    }
    if args.trace:
        tracer.install()
    spark = None
    try:
        with tracer.span(f"workload.{args.workload}", "bench") as root:
            with tracer.span("setup", "bench"):
                with tracer.span("session.get_spark", "session"):
                    spark = session.get_spark(
                        app_name="perfbench",
                        cores=nproc,
                        extra_conf={"spark.driver.extraJavaOptions": env["java_opts"]},
                    )
                wl.setup(spark, tracer)
                wl.warm_up(spark, tracer)
            setup_s = time.monotonic() - PROCESS_START
            stamp["spark_version"] = spark.version
            wl.reference()

            calls: list[Call] = []
            outcomes: list[tuple[Call, str | None]] = []
            iters: list[dict] = []
            rss_reset = _reset_peak_rss(spark.sparkContext)
            t_measure = time.monotonic()
            while not iters or time.monotonic() - t_measure < args.seconds:
                first = len(calls)
                t0 = time.monotonic()
                error = None
                with _deadline(spark.sparkContext, args.timeout) as deadline:
                    try:
                        with tracer.span("iteration", "bench") as span:
                            wl.iteration(spark, tracer, calls)
                    except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
                        error = traceback.format_exc(limit=3)
                wall = time.monotonic() - t0
                for k, call in enumerate(calls[first:]):
                    if deadline["expired"] and call.end >= deadline["expired"]:
                        why = f"timed out: still running {args.timeout:g} s into the iteration"
                    elif error is not None and k == len(calls) - first - 1:
                        why = "raised: " + error.strip().splitlines()[-1]
                    else:
                        if args.corrupt:
                            wl.corrupt(call)
                        why = wl.check(call)
                    outcomes.append((call, why))
                iters.append(
                    {
                        "calls": {c.name: c.seconds for c in calls[first:]},
                        "wall_s": wall,
                        "edge_steps": sum(c.edge_steps for c in calls[first:]),
                        "span": span.get("id"),
                    }
                )
            peak_rss = _jvm_peak_rss_mb(spark.sparkContext)
    finally:
        tracer.uninstall()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(outcomes)
    failures = [f"{c.name}: {why}" for c, why in outcomes if why]
    metrics = {
        "wall_s": statistics.median(d["wall_s"] for d in iters),
        "setup_s": setup_s,
        "edge_steps_per_s": statistics.median(d["edge_steps"] / d["wall_s"] for d in iters),
        "peak_rss_mb": peak_rss,
        "verified_frac": 1.0 - len(failures) / attempted,
    }
    stamp["loadavg_after"] = os.getloadavg()
    record = {
        **stamp,
        "iterations": iters,
        "attempted": attempted,
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        "rss_peak_reset": rss_reset,
        "end_to_end": metrics,
    }
    if args.trace:
        from perfbench.layers import layer_metrics

        layers = layer_metrics(tracer, iters, root["id"], nproc)
        record["per_layer"] = layers
        out = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        os.makedirs(os.path.join(STATE_DIR, "results"), exist_ok=True)
        tracer.dump(
            os.path.join(STATE_DIR, "results", f"trace-{args.workload}-seed{args.seed}.json"),
            record,
        )
    else:
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": out,
            }
        )
    )
    return 0


# ------------------------------------------------------------- all / self-test


def _child(workload: str, seed: int, seconds: float, trace: int, size: str, *extra: str):
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
        "--size", size,
        *extra,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd=ROOT)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def run_all(args) -> int:
    """Each workload in its own process (own JVM), untraced then traced."""
    from perfbench.workloads import WORKLOADS

    summary = {}
    for name in WORKLOADS:
        _, plain = _child(name, args.seed, args.seconds, 0, args.size)
        record, traced = _child(name, args.seed, args.seconds, 1, args.size)
        summary[name] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end": plain["metrics"],
            "per_layer": traced["metrics"],
            "failed_frac": record["failed_frac"],
            # separate processes: traced wall_s minus the untraced run's
            "trace_overhead_s": record["end_to_end"]["wall_s"] - plain["metrics"]["wall_s"]["value"],
        }
        e2e = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in plain["metrics"].items())
        print(f"{name}: correct={summary[name]['correct']} {e2e}", flush=True)
    print(json.dumps(summary))
    return 0 if all(s["correct"] for s in summary.values()) else 1


def selftest(args) -> int:
    """Small inputs: every declared metric is printed with its unit, every
    check passes, and a corrupted result or a call past its time-out is
    counted as a failed call."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for name in WORKLOADS:
        for trace in (0, 1):
            _, out = _child(name, args.seed, 1, trace, "smoke")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{name} trace={trace}: metrics/units differ: {got} vs {want[trace]}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{name} trace={trace}: clean run not correct: {out}")
        _, bad = _child(name, args.seed, 1, 0, "smoke", "--corrupt")
        if bad["correct"] or bad["failed"] != bad["attempted"]:
            problems.append(f"{name}: corrupted results passed the checks: {bad}")
        _, late = _child(name, args.seed, 1, 0, "smoke", "--timeout", "0.01")
        if late["correct"] or late["failed"] != late["attempted"]:
            problems.append(f"{name}: calls past the time-out passed: {late}")
        print(f"{name}: {'ok' if not problems else 'FAILED'}", flush=True)
    for p in problems:
        print(p)
    print(json.dumps({"selftest_ok": not problems, "problems": len(problems)}))
    return 1 if problems else 0


def main() -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=[*WORKLOADS, "all"], default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--timeout", type=float, default=ITERATION_TIMEOUT_S,
                   help="cancel calls still running this many seconds into an iteration")
    p.add_argument("--corrupt", action="store_true", help="damage every result before its check")
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()
    if args.selftest:
        return selftest(args)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
