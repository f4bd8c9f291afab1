"""Benchmark of the bikes warehouse engine.

Two workloads, each a closed loop from one client in one process on
``local[$(nproc)]``:

* ``daily_refresh`` — the paper's daily refresh: a seeded day-1 extract
  loaded into an empty warehouse, then the day-2 re-extract merged in.
* ``query_mix``     — a frozen subset of ``plans.QUERIES`` over seeded
  star-schema tables, each query forced with the ``noop`` sink, and
  the windowed-count stream replaying seeded event files, one per
  micro-batch.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

A run prints a ``{"summary": ...}`` line (host facts, pinned
environment, the workload's named end-to-end metrics with units and
sample counts, error rate) and, last, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. ``--workload all`` runs every workload untraced and
traced and prints all of them, with the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "bikes_data_warehouse_etl_spark"
PLANS = f"{PKG}.plans"
WORKLOADS = ("daily_refresh", "query_mix")


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def pin_environment(cfg: dict, work: str) -> dict[str, str]:
    """Set the pinned environment of ``config.json`` before Spark
    starts; returns the Spark conf to start the session with."""
    subst = {
        "<nproc>": str(len(os.sched_getaffinity(0))),
        "<work>": work,
        "<checkout>": ROOT,
    }

    def sub(v: str) -> str:
        for k, x in subst.items():
            v = v.replace(k, x)
        return v

    for k, v in cfg["env"].items():
        os.environ[k] = sub(v)
    conf = {k: sub(v) for k, v in cfg["spark_conf"].items()}
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return conf


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Program:
    """The engine under test: its set-up (session start, registry
    import, warm-up), memory and shutdown."""

    def __init__(self, conf: dict[str, str]) -> None:
        self.conf = conf
        self.spark = None
        self.plans = None
        self.jvm_pid = None

    def setup(self) -> dict[str, float]:
        """The whole set-up the workload depends on, done once: JVM
        launch and session start (``session.get_spark``), the query
        registry import, and one small shuffle job as the warm-up."""
        t0 = time.perf_counter()
        get_spark = importlib.import_module(f"{PKG}.session").get_spark
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        self.plans = importlib.import_module(PLANS)
        t2 = time.perf_counter()
        self.spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t3 = time.perf_counter()
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return {"session.start_s": t1 - t0, "plans.import_s": t2 - t1,
                "warmup_s": t3 - t2, "setup_s": t3 - t0}

    def peak_rss_mb(self) -> float:
        """High-water resident memory of the driver JVM plus this
        Python driver."""
        return _vm_hwm_mb(self.jvm_pid) + _vm_hwm_mb("self")

    def host_facts(self) -> dict:
        import pyspark

        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1),
            "spark": self.spark.version,
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def close(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            proc.wait(timeout=60)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    cfg = load_config()
    run_id = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "runs", run_id)
    conf = pin_environment(cfg, work)
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer

    program = Program(conf)
    try:
        setup = program.setup()
        tracer = Tracer(program.spark, run_id, enabled=trace)
        res = workloads.WORKLOADS[workload](
            program.spark, program.plans, cfg, seed, seconds, tracer, work)
        rss = program.peak_rss_mb()
        facts = program.host_facts()
    finally:
        program.close()
        shutil.rmtree(work, ignore_errors=True)

    geomean_ms = statistics.geometric_mean(res.latencies_s) * 1e3 if res.latencies_s else 0.0
    if trace:
        trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.jsonl")
        tracer.write(trace_path)
        layers = {name: res.layers.get(name, 0.0) for name, _ in workloads.LAYER_METRICS}
        units = dict(workloads.LAYER_METRICS)
        metrics = {
            "session.start_s": _metric(setup["session.start_s"], "s"),
            "plans.import_s": _metric(setup["plans.import_s"], "s"),
            **{k: _metric(v, units[k]) for k, v in layers.items()},
            "trace.op_geomean_ms": _metric(geomean_ms, "ms"),
            "driver.peak_rss_mb": _metric(rss, "MB"),
        }
    else:
        metrics = {
            "setup_s": _metric(setup["setup_s"], "s"),
            "op_geomean_ms": _metric(geomean_ms, "ms"),
            "throughput_per_s": _metric(res.work / res.busy_s if res.busy_s else 0.0, "1/s"),
        }
    attempted = max(res.attempted, 1)
    summary = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "host": facts,
        "env": {k: os.environ[k] for k in cfg["env"]},
        "setup": setup,
        "metrics": {
            "setup_s": ("s", setup["setup_s"]),
            **res.summary,
            "peak_rss_mb": ("MB", rss),
            "error_rate": ("ratio", res.failed / attempted, attempted),
        },
        "samples_ms": [[k, round(v * 1e3, 1)] for k, v in zip(res.labels, res.latencies_s)],
        "errors": res.errors[:10],
    }
    if trace:
        summary["trace_file"] = os.path.relpath(trace_path, ROOT)
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _child(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["summary"], json.loads(out[-1])


def report(seed: int, seconds: int) -> int:
    """Every workload untraced, then traced: the named end-to-end
    metrics of each, the per-layer metrics it exercises, and the
    tracing overhead (traced minus untraced mean operation time,
    geometric)."""
    rows, ok = [], True
    for workload in WORKLOADS:
        summary, plain = _child(workload, seed, seconds, 0)
        _, traced = _child(workload, seed, seconds, 1)
        ok &= plain["correct"] and traced["correct"]
        base = plain["metrics"]["op_geomean_ms"]["value"]
        over = traced["metrics"]["trace.op_geomean_ms"]["value"] - base
        print(f"== {workload} (seed {seed}, {seconds} s, host {summary['host']})")
        for name, m in summary["metrics"].items():
            unit, value, *n = m
            extra = ""
            if len(n) == 2:
                extra = f"  (n={n[0]}, {n[1]} beyond p90{'' if n[1] >= 10 else '; fewer than 10'})"
            elif n:
                extra = f"  (n={n[0]})"
            print(f"  {name:<22} {value:>14.4f} {unit}{extra}")
        print(f"  {'tracing overhead':<22} {over:>14.4f} ms per operation"
              f" ({100 * over / base if base else 0:.1f} % of {base:.1f} ms)")
        for name, m in traced["metrics"].items():
            if m["value"]:
                print(f"    {name:<44} {m['value']:>16.4f} {m['unit']}")
        rows.append({"workload": workload, "summary": summary["metrics"],
                     "tracing_overhead_ms": over, "layers": traced["metrics"]})
    print(json.dumps({"correct": ok, "report": rows}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        return report(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
