"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.WORKLOADS``) against the engine in
this checkout at ``local[<nproc>]``, from one process with one client
thread, and prints one JSON line as the last line of stdout::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` installs the
span tracer and Spark's event log and reports the per-layer metrics
instead. Everything the run writes lives under ``.perfbench/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

T_PROCESS_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "1g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_head() -> str:
    # Only a checkout that is itself a git work tree has a HEAD; git must
    # not look for one in the directories above it.
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def isolate(run_root: str, trace: bool) -> None:
    """Point every temp, local-dir and warehouse path of this process, its
    JVM and its Python workers into ``run_root``. Must run before
    pyspark starts the JVM."""
    dirs = {d: os.path.join(run_root, d) for d in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = "file://" + dirs["eventlog"]
        conf["spark.eventLog.compress"] = "false"
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": submit + " pyspark-shell",
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        }
    )
    import tempfile

    tempfile.tempdir = dirs["tmp"]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import workloads  # the engine is imported only after isolate()

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    load_before = _loadavg()
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{int(T_PROCESS_START)}")
    spark = None
    try:
        isolate(run_root, bool(args.trace))
        spec = workloads.WORKLOADS[args.workload]
        ctx = workloads.Context(
            root=ROOT,
            work=os.path.join(run_root, "work"),
            seed=args.seed,
            sf=args.sf if args.sf is not None else spec.sf,
            seconds=args.seconds,
            trace=bool(args.trace),
            eventlog_dir=os.path.join(run_root, "eventlog"),
            t_process_start=T_PROCESS_START,
        )
        result = spec.cls(ctx)
        spark = result.start()
        t_loop = time.time()
        result.measure()
        t_check = time.time()
        result.check()
        print(
            f"phases: setup {t_loop - T_PROCESS_START:.1f} s, loop {t_check - t_loop:.1f} s, "
            f"check {time.time() - t_check:.1f} s",
            file=sys.stderr,
        )
        jvm_hwm = _vm_hwm_mb(result.jvm_pid())
        py_hwm = _vm_hwm_mb("self")
        stop_spark(spark)
        spark = None
        report = result.report(
            peak_rss_mb=jvm_hwm + py_hwm,
            load_before=load_before,
            load_after=_loadavg(),
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass
    report["record"] = {
        "workload": args.workload,
        "sf": ctx.sf,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEM,
        "nproc": _cpus(),
        "git_head": _git_head(),
        "loadavg_before": load_before,
    }
    print("record:", json.dumps(report["record"]))
    print(
        json.dumps(
            {k: report[k] for k in ("correct", "attempted", "failed", "metrics")}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
