#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl-routes --seed 1 --seconds 15 --trace 0

Run from the repository root. The program under test (``transit_scrape_spark``)
is imported from there; inputs are generated from ``--seed`` into a scratch
directory under ``.perfbench-work/`` and removed afterwards. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Lines before it (prefixed ``perfbench-``) record the environment and the
workload's own figures; a traced run also writes its spans to
``.perfbench-out/``. The exit code is 0 only when every operation validated.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["etl-routes", "analytics-mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measurement window")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_runtime(work: str) -> dict:
    """Size the session to this machine from outside the program: all
    usable cores, a fixed driver heap of a quarter of RAM (at most 2 GiB,
    initial = maximum, so peak RSS does not depend on when the heap
    grew), no console progress bars, and every scratch file inside
    ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kib = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    mem_mib = max(1024, min(2048, total_kib // 4 // 1024))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mib}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{mem_mib}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _vm_hwm_mib(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _jvm():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then any Python worker that outlived it,
    and wait until every one of them has ended."""
    from pyspark import SparkContext

    proc = _jvm()
    procs = _descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for sig, grace in ((None, 5.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
            alive = [p for p in procs if _running(p)]
            if sig and alive:
                print(f"perfbench: {len(alive)} processes outlived Spark, sending "
                      f"{sig.name}", file=sys.stderr)
            for p in alive if sig else []:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.time() + grace
            while alive and time.time() < deadline:
                time.sleep(0.05)
                alive = [p for p in alive if _running(p)]
            if not alive:
                break


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def environment(spark, args) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def end_to_end(out, setup_s: float, rss_mib: float) -> dict:
    from workloads import geomean, median

    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mib, "MB"),
        "batch_s": (out.batch_s, "s"),
        "op_geomean_ms": (geomean([median(v) for v in out.ops_ms.values()]), "ms"),
        "queries_per_s": (out.queries_per_s, "1/s"),
    }


def per_layer(run, out) -> dict:
    from workloads import median, spark_per_unit

    spans = run.tracer.spans
    layer = {
        "session.start_s": (run.session_start_s, "s"),
        "session.warmup_s": (out.warmup_s, "s"),
        # staging + instrumentation cost: traced unit minus untraced unit
        "trace.overhead_ms": (median(out.traced_ms) - median(out.batch_ms), "ms"),
    }
    units = {"spark.spill_bytes": "bytes", "spark.shuffle_bytes": "bytes",
             "spark.input_bytes": "bytes", "spark.failed_tasks": "count",
             "spark.tasks": "count", "spark.jobs": "count"}
    for k, v in spark_per_unit(spans, out.roots, len(out.traced_ms)).items():
        layer[k] = (v, units.get(k, "s"))
    return layer


def write_trace(args, run, out, layer: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
    t0 = min((s["start"] for s in run.tracer.spans), default=0.0)
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
             for s in run.tracer.spans]
    with open(path, "w") as fh:
        json.dump({"layers": {**{k: v for k, (v, _) in layer.items()}, **out.layers},
                   "spans": spans}, fh)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "transit_scrape_spark", "__init__.py")):
        print(f"perfbench: program package transit_scrape_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra_conf = pin_runtime(work)
    try:
        import transit_scrape_spark  # noqa: F401
        from transit_scrape_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from workloads import WORKLOADS, Run

    def start():
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    run = Run(args, work, start)
    t_start = time.perf_counter()
    try:
        out = WORKLOADS[args.workload](run)
        print(f"perfbench: workload done after {time.perf_counter() - t_start:.1f}s",
              file=sys.stderr)
        rss = _vm_hwm_mib(os.getpid())
        if _jvm() is not None:
            rss += _vm_hwm_mib(_jvm().pid)
        env = environment(run.spark, args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            t = time.perf_counter()
            stop_spark(run.spark)
            print(f"perfbench: Spark stopped in {time.perf_counter() - t:.1f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run.session_start_s + out.warmup_s
    error_rate = run.failed / max(run.attempted, 1)
    report = {"setup_s": setup_s, "session_start_s": run.session_start_s,
              "warmup_s": out.warmup_s, "error_rate": error_rate, "peak_rss_mb": rss,
              **out.report, "batch_units": len(out.batch_ms), "traced_units": len(out.traced_ms)}
    print("perfbench-env " + json.dumps(env))
    print("perfbench-report " + json.dumps(report))
    for p in run.problems[:20]:
        print(f"perfbench-invalid {p}")
    if args.trace:
        metrics = per_layer(run, out)
        path = write_trace(args, run, out, metrics)
        print("perfbench-layers " + json.dumps(out.layers))
        print(f"perfbench-trace {os.path.relpath(path, ROOT)}")
    else:
        metrics = end_to_end(out, setup_s, rss)
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    correct = run.failed == 0 and run.attempted > 0 and not bad
    if bad:
        print(f"perfbench-invalid metrics not measured: {bad}")
    result = {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
