"""Benchmark for realestate_engine.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Paths resolve from this file, so any working directory will do. Each
run is one process with its own local Spark session (``local[<cores>]``,
shuffle partitions = cores), seeded inputs written under ``.bench_work/``
in the checkout, and one client thread. The last line of standard
output is the result: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones (E2E_UNITS); with ``--trace 1``
they are the per-layer ones, read from spans the benchmark records
around its calls into the engine and from Spark's REST API. The line
before it is a detail record: environment stamp, failures, sample
counts and per-query figures.

Set-up time is measured from the top of this file to a ready session
with every query module loaded, once in the run itself and once in each
of PROBES child processes started after the workload; ``setup_s`` is the
median.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up starts before any heavy import

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "request_p50_ms": "ms",
    "jvm_peak_rss_mb": "MB",
}
LAYER_UNITS = {"session.jvm_start_s": "s", "session.load_all_s": "s"}
WORKLOADS = ("queries", "predict")
PROBES = 2
DEADLINE_S = 170


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str) -> dict[str, str]:
    """Everything Spark writes stays under ``work``; the status store
    keeps every job, stage and SQL execution of the run."""
    return {
        "spark.driver.memory": "2g",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(work: str):
    """(spark, jvm_start_s, load_all_s). Python workers import the engine
    from this checkout whatever the working directory."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from realestate_engine.session import create_session

    t = time.perf_counter()
    n = cores()
    spark = create_session(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=session_conf(work)
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_jvm = time.perf_counter()
    from realestate_engine.registry import load_all

    load_all()
    return spark, t_jvm - t, time.perf_counter() - t_jvm


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def probe_setup(work: str, timeout: float) -> dict[str, float]:
    """One set-up in a fresh process; returns its timings."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe", "--work", work],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def source_digest() -> str:
    """Digest of the engine's sources: the checkout is not always a git
    repository, so this identifies the code measured."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "realestate_engine")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    for need in ("realestate_engine/registry.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2

    if args.setup_probe:
        spark, jvm_s, load_s = start_session(args.work)
        setup_s = time.perf_counter() - T0
        stop_session(spark)
        print(json.dumps({"setup_s": setup_s, "jvm_start_s": jvm_s, "load_all_s": load_s}))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    host_start = os.getloadavg(), cpu_jiffies()
    try:
        return _run(args, work, host_start)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, host_start) -> int:
    loadavg_start, (steal0, total0) = host_start
    spark, jvm_s, load_s = start_session(work)
    setups = [{"setup_s": time.perf_counter() - T0, "jvm_start_s": jvm_s, "load_all_s": load_s}]
    sys.path.insert(0, HERE)
    import stats
    import workloads
    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    try:
        import duckdb
        import pyspark

        env = {
            "nproc": cores(),
            "loadavg_start": [round(x, 2) for x in loadavg_start],
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "git_commit": git_commit(),
            "source_digest": source_digest(),
            "seed": args.seed,
            "workload": args.workload,
            "trace": args.trace,
        }
        ctx = workloads.Ctx(
            spark=spark, root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), cores=cores(), tracer=tracer,
        )
        run = workloads.run_queries if args.workload == "queries" else workloads.run_predict
        res = run(ctx)
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    for k in range(PROBES):
        setups.append(probe_setup(os.path.join(work, f"probe{k}"), timeout=60))
    env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    steal1, total1 = cpu_jiffies()
    # CPU time the hypervisor gave to other guests while this run waited
    env["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)

    med = lambda key: statistics.median([s[key] for s in setups])  # noqa: E731
    if args.trace:
        metrics = {"session.jvm_start_s": med("jvm_start_s"), "session.load_all_s": med("load_all_s")}
        metrics.update(res.layers)
        units = {**LAYER_UNITS, **workloads.LAYER_UNITS}
        trace_path = os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(trace_path)
    else:
        metrics = {
            "setup_s": med("setup_s"),
            "cold_s": res.cold_s,
            "warm_s": res.warm_s,
            "request_p50_ms": statistics.median(res.requests_ms),
            "jvm_peak_rss_mb": rss_mb,
        }
        units = E2E_UNITS
    n_req = len(res.requests_ms)
    tail = stats.tail_percentile(n_req)
    detail = {
        "env": env,
        "failed_share": res.failed / res.attempted,
        "failures": res.failures,
        "setups_s": [round(s["setup_s"], 4) for s in setups],
        "warm_s_samples": [round(v, 4) for v in res.warm_samples],
        "requests": n_req,
        "request_tail": {"p": tail, "ms": stats.percentile(res.requests_ms, tail)} if tail else None,
        "request_ms_samples": [round(v, 2) for v in res.requests_ms],
        **res.detail,
    }
    if args.trace:
        detail["self_s"] = tracer.self_times()
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res.failed == 0 and not res.failures,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            stats.check_metric_name(k): {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
