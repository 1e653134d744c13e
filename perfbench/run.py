"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 10 --trace 0

Runs one workload (``spec.WORKLOADS``) against the engine in the checkout
this file sits in, from inputs generated from ``--seed``, and prints one
JSON line last on stdout: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
that ``BENCHMARK.json`` declares. A run in which an operation failed or
whose output check failed prints ``"correct": false`` with no metrics and
exits 1.
Everything the run writes stays under ``.bench_work/`` in the checkout and
is removed at exit; the Spark JVM and its Python workers are stopped and
waited for.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "pantasia_db_sync_spark")


def isolate(work: str) -> dict[str, str]:
    """Point every temp and scratch location of Python, Spark and the JVM
    into ``work``; returns the Spark confs that do so."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a 2 GiB heap ceiling (instead of the engine's 8g default) bounds the
    # JVM's footprint on a host whose memory other processes share
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
    }


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    workers = _children(jvm_pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure: kill and reap
            proc.kill()
            proc.wait()
    _wait_gone([jvm_pid, *workers], timeout=30)


def metrics(out, trace: bool) -> dict[str, dict]:
    import spec

    if trace:
        values = {
            name: statistics.median(layer[name] for layer in out.layers)
            for name in out.layers[0]
        }
        values["op.wall_s"] = statistics.median(out.walls)
        values["trace.overhead_ratio"] = (
            statistics.median(out.traced_walls) / statistics.median(out.walls)
        )
        names = spec.PER_LAYER
    else:
        values = {
            "setup_s": out.setup_s,
            "op_cpu_s": statistics.median(out.cpus),
            "jvm_live_mb": out.live_mb,
        }
        names = spec.END_TO_END
    return {n: {"value": values[n], "unit": spec.UNITS[n]} for n in names}


def main() -> int:
    sys.path.insert(0, HERE)
    import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE_DIR):
        print(f"engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    conf = isolate(work)
    sys.path.insert(0, ROOT)
    try:
        from pantasia_db_sync_spark.session import get_spark

        import workloads

        spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            ctx = workloads.Context(
                spark, work, args.seed, args.seconds, bool(args.trace), STARTED
            )
            out = workloads.WORKLOADS[args.workload](ctx)
        finally:
            stop_spark(spark)
    finally:
        cleanup(work)

    if out.spans:  # the traced operations' spans, kept in memory until now
        print(json.dumps({"spans": out.spans}), file=sys.stderr)
    ok = out.correct and not out.failed
    print(json.dumps({
        "correct": ok,
        "attempted": out.attempted,
        "failed": out.failed,
        # a run with a failed operation or a wrong output reports no figures
        "metrics": metrics(out, bool(args.trace)) if ok else {},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
