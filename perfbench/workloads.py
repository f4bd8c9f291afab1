"""The benchmark workloads, ``daily_refresh`` and ``query_mix``.

Each is a closed loop from one client: the next refresh day, query or
stream round starts only when the previous one has finished. Each
returns a ``Result``: the latency of every operation, the work done,
the operations attempted and failed, and (when traced) per-layer
metrics. Outputs are checked outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import gen_bikes
import gen_tables
from spans import Tracer

# daily_refresh extract: fact dates over 30 days (90 date partitions per
# day-1 DW write), about 11 000 order items
BIKES_SIZES = gen_bikes.Sizes(orders=2000, customers=300, products=60, partners=40,
                              addresses=52, stores=20, span_days=30)
# query_mix stream round: seeded events over STREAM_DAYS, split by
# arrival time into one file per micro-batch. LATE_SHARE of events
# arrive up to MAX_DELAY_MINUTES after their event time: out of order,
# but inside the stream's 2-hour watermark, so none is dropped.
STREAM_FILES, ROWS_PER_FILE, STREAM_DAYS = 5, 500, 2
LATE_SHARE, MAX_DELAY_MINUTES = 0.1, 60

# spark.* per-layer counters, in the order they are reported
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes")
DAY_METRICS = (
    "refresh_s", "sources.csv.input_rows", "sources.csv.input_bytes",
    "plans.bikes_ods.exec_s", "operators.merge.shuffle_bytes",
    "sources.snapshot.commit_s", "sources.snapshot.commits",
    "plans.bikes_dw.exec_s", "plans.bikes_dw.input_rows",
    "plans.bikes_dw.output_rows", "plans.bikes_dw.files_written",
    "plans.bikes_dw.partitions_written", "plans.bikes_pipeline.read_jobs",
)
STREAM_METRICS = (
    "batches", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
    "commit_offsets_ms", "latest_offset_ms", "state_rows",
    "state_memory_bytes", "state_commit_ms", "jobs_per_batch",
)


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


# every per-layer metric a traced run reports, with its unit
LAYER_METRICS = tuple((name, _unit(name)) for name in (
    "plans.construct_s", "plans.construct_jobs", "spark.plan_s", "spark.exec_s",
    *(f"spark.{c}" for c in SPARK_COUNTERS),
    *(f"day{d}.{m}" for d in (1, 2) for m in DAY_METRICS),
    *(f"streaming.{m}" for m in STREAM_METRICS),
))


@dataclass
class Result:
    latencies_s: list[float] = field(default_factory=list)
    labels: list[str] = field(default_factory=list)  # what each latency timed
    work: float = 0.0  # queries, rows or events processed
    busy_s: float = 0.0  # wall time the work took
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    summary: dict[str, object] = field(default_factory=dict)

    def fail(self, n: int, msgs) -> None:
        self.failed += n
        self.errors.extend(msgs)


def _per_op(counter: Counter, ops: int) -> dict[str, float]:
    return {f"spark.{c}": counter[c] / max(ops, 1) for c in SPARK_COUNTERS}


def fits_another(start: float, done: int, seconds: float) -> bool:
    """Whether one more unit of work (a refresh cycle, a pass over the
    query mix), at the mean pace of the ``done`` so far, ends within
    ``seconds`` of ``start``. Runs measure whole units, at least one."""
    return (time.perf_counter() - start) * (done + 1) / done <= seconds


def _report_error(where: str) -> str:
    traceback.print_exc(file=sys.stderr)
    return f"{where}: {sys.exc_info()[1]!r}"[:300]


# ===================================================================== query
STREAM_OP = "stream:windowed_counts"


class ReadMix:
    """The ``query_mix`` operations: every frozen registry query, built
    and forced with the ``noop`` sink, and the windowed-count stream
    replaying one round of seeded event files (one file per
    micro-batch). Keeps what the checks and per-layer metrics need."""

    def __init__(self, spark, plans, seed, tracer: Tracer, work_dir) -> None:
        self.spark, self.plans, self.tracer = spark, plans, tracer
        self.seed, self.work_dir = seed, work_dir
        self.sf_dir = os.path.join(work_dir, "tables")
        gen_tables.write(gen_tables.tables(seed), self.sf_dir)
        self.res = Result()
        self.done: Counter = Counter()  # successful executions per operation
        self.built: dict = {}  # first DataFrame built per query, re-run by the check
        self.query_s: list[float] = []
        self.stream_s: list[float] = []
        self.stream_rows = 0
        self.batch_s: list[float] = []
        self.layer: Counter = Counter()
        self.per_batch: dict[str, list[float]] = {}
        self.rounds = 0
        self.listener = BatchListener()

    def run(self, name: str) -> None:
        self.res.attempted += 1
        try:
            elapsed = self._stream() if name == STREAM_OP else self._query(name)
        except Exception:
            self.tracer.clear_group()
            self.res.fail(1, [_report_error(name)])
            return
        self.done[name] += 1
        self.res.latencies_s.append(elapsed)
        self.res.labels.append(name)
        (self.stream_s if name == STREAM_OP else self.query_s).append(elapsed)

    def _query(self, name: str) -> float:
        tracer = self.tracer
        t0 = time.perf_counter()
        g_construct = tracer.group(f"construct:{name}")
        df = self.plans.QUERIES[name].spark(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        tracer.group(f"plan:{name}")
        if tracer.enabled:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        g_exec = tracer.group(f"exec:{name}")
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        tracer.clear_group()
        self.built.setdefault(name, df)
        if tracer.enabled:
            w0 = time.time() - (t3 - t0)
            q = tracer.record("query", w0, w0 + t3 - t0, query=name)
            for label, a, b in (("construct", t0, t1), ("plan", t1, t2), ("exec", t2, t3)):
                tracer.record(label, w0 + a - t0, w0 + b - t0, parent=q)
            self.layer["construct_s"] += t1 - t0
            self.layer["plan_s"] += t2 - t1
            self.layer["exec_s"] += t3 - t2
            self.layer["construct_jobs"] += tracer.job_stats([g_construct])["jobs"]
            self.layer.update(tracer.job_stats([g_exec]))
        return t3 - t0

    def _stream(self) -> float:
        from bikes_data_warehouse_etl_spark.streaming import pipeline

        tracer = self.tracer
        name = f"windows_{self.rounds}"
        round_dir = os.path.join(self.work_dir, name)
        _event_files(self.seed, self.rounds, round_dir)
        self.rounds += 1
        span = tracer.open("stream", stream=name) if tracer.enabled else None
        t0 = time.perf_counter()
        pipeline.run_windowed_counts_to_memory(self.spark, round_dir, name)
        elapsed = time.perf_counter() - t0
        if span:
            tracer.close(span)
        batches = self.listener.wait(name)
        table = self.spark.table(name)
        bad = checks.check_windows(table.collect(), table.columns, round_dir)
        if len(batches) != len(os.listdir(round_dir)):
            bad.append(f"{name}: {len(batches)} batches for {len(os.listdir(round_dir))} files")
        if bad:
            self.res.fail(1, bad)
        self.stream_rows += sum(p.numInputRows for p in batches)
        self.batch_s.extend(p.durationMs["triggerExecution"] / 1e3 for p in batches)
        if tracer.enabled:
            _record_batches(tracer, span, batches, self.per_batch)
            self.layer["stream_jobs"] += tracer.job_stats([self.listener.run_ids[name]])["jobs"]
        return elapsed

    def check_queries(self) -> None:
        import duckdb
        from bikes_data_warehouse_etl_spark.sources.parquet import TABLES

        con = duckdb.connect()
        checks.duck_views(con, self.sf_dir, TABLES)
        for name in sorted(set(self.done) - {STREAM_OP}):
            df = self.built[name]
            try:
                bad = checks.check_query(name, df.columns, df.collect(),
                                         self.plans.QUERIES[name].oracle, con)
            except Exception:
                bad = [_report_error(f"check {name}")]
            if bad:
                self.res.fail(self.done[name], bad)
        con.close()

    def layers(self) -> dict[str, float]:
        n, b = len(self.query_s), len(self.batch_s)
        med = {k: statistics.median(v) for k, v in self.per_batch.items() if v}
        return {
            "plans.construct_s": self.layer["construct_s"] / max(n, 1),
            "plans.construct_jobs": self.layer["construct_jobs"] / max(n, 1),
            "spark.plan_s": self.layer["plan_s"] / max(n, 1),
            "spark.exec_s": self.layer["exec_s"] / max(n, 1),
            **_per_op(self.layer, n),
            **{f"streaming.{k}": med.get(k, 0.0) for k in STREAM_METRICS},
            "streaming.batches": b,
            "streaming.jobs_per_batch": self.layer["stream_jobs"] / max(b, 1),
        }


def query_mix(spark, plans, cfg, seed, seconds, tracer: Tracer, work_dir) -> Result:
    """Passes over every operation in a fixed order, while the next fits
    in ``seconds``; at least one. No warm-up: the first pass is cold
    and every run repeats the same sequence, so the JIT warms up the
    same way each time (a seeded order moved the first-operation JIT
    cost between operations). Each stream round is checked as it ends;
    each query's first-built DataFrame is re-run and hash-checked
    against its DuckDB oracle at the end."""
    mix = ReadMix(spark, plans, seed, tracer, work_dir)
    ops = [*cfg["queries"], STREAM_OP]
    spark.streams.addListener(mix.listener.listener)
    try:
        start, passes = time.perf_counter(), 0
        while passes == 0 or fits_another(start, passes, seconds):
            for name in ops:
                mix.run(name)
            passes += 1
    finally:
        spark.streams.removeListener(mix.listener.listener)
    mix.check_queries()
    res = mix.res
    res.busy_s = sum(res.latencies_s)
    res.work = len(res.latencies_s)
    if tracer.enabled:
        res.layers = mix.layers()
    res.summary = {
        "queries_per_s": ("1/s", len(mix.query_s) / sum(mix.query_s) if mix.query_s else 0.0),
        **_percentiles("query", "s", mix.query_s, 1.0),
        "stream_rows_per_s": ("1/s", mix.stream_rows / sum(mix.stream_s) if mix.stream_s else 0.0),
        **_percentiles("batch", "ms", mix.batch_s, 1e3),
    }
    return res


def _percentiles(prefix: str, unit: str, lat_s: list[float], scale: float) -> dict:
    """p50 and p90 with the sample count and how many samples lie
    beyond the p90 value (a tail needs at least 10)."""
    if len(lat_s) < 2:
        return {}
    p90 = statistics.quantiles(lat_s, n=10, method="inclusive")[-1]
    return {
        f"{prefix}_p50_{unit}": (unit, statistics.median(lat_s) * scale, len(lat_s)),
        f"{prefix}_p90_{unit}": (unit, p90 * scale, len(lat_s),
                                 sum(1 for x in lat_s if x > p90)),
    }


# ===================================================================== daily
class PipelineProbe:
    """Spans and job groups for one refresh day, set by wrapping the
    module attributes ``BikesPipeline`` calls: the CSV reader, the date
    spine, the SCD merges, the seven DW builders and the snapshot
    commit. Parquet reads are seen through a session proxy handed to
    the pipeline. One span per stage: a stage starts when the pipeline
    reads a table's CSV (ODS) or calls a DW builder, and ends when the
    next one starts."""

    def __init__(self, tracer: Tracer, day: int, parent: dict) -> None:
        self.tracer, self.day, self.parent = tracer, day, parent
        self.stage: dict | None = None
        self.stages: list[dict] = []
        self.reads: list[str] = []
        self.commits: list[dict] = []
        self.csv_rows = self.csv_bytes = 0
        self._restore: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> None:
        self.end()
        self.stage = self.tracer.open(name, parent=self.parent, merged=False)
        self.stage["group"] = self.tracer.group(f"d{self.day}:{name}")
        self.stages.append(self.stage)

    def end(self) -> None:
        if self.stage is not None:
            self.tracer.close(self.stage)
            self.stage = None
        self.tracer.clear_group()

    def _patch(self, module, attr: str, wrapper) -> None:
        orig = getattr(module, attr)
        self._restore.append((module, attr, orig))
        setattr(module, attr, wrapper(orig))

    def install(self) -> None:
        from bikes_data_warehouse_etl_spark.plans import bikes_dw, bikes_pipeline
        from bikes_data_warehouse_etl_spark.sources import snapshot

        def csv_reader(orig):
            def read_source_csv(spark, path, table):
                self.begin(f"ods:{table.lower()}")
                self.csv_bytes += os.path.getsize(path)
                with open(path, "rb") as f:
                    self.csv_rows += sum(1 for _ in f) - 1
                return orig(spark, path, table)
            return read_source_csv

        def stage_start(name):
            def wrap(orig):
                def call(*a, **k):
                    self.begin(name)
                    return orig(*a, **k)
                return call
            return wrap

        def merge(orig):
            def call(*a, **k):
                self.stage["merged"] = True
                return orig(*a, **k)
            return call

        def commit(orig):
            def commit_snapshot(*a, **k):
                span = self.tracer.open("commit", parent=self.stage)
                try:
                    return orig(*a, **k)
                finally:
                    self.commits.append(self.tracer.close(span))
            return commit_snapshot

        self._patch(bikes_pipeline, "read_source_csv", csv_reader)
        self._patch(bikes_pipeline, "build_date_dim", stage_start("ods:datetab"))
        self._patch(bikes_pipeline, "scd1_merge", merge)
        self._patch(bikes_pipeline, "scd2_merge", merge)
        for attr in dir(bikes_dw):
            if attr.startswith("build_"):
                self._patch(bikes_dw, attr, stage_start(f"dw:{attr[len('build_'):]}"))
        self._patch(snapshot, "commit_snapshot", commit)

    def uninstall(self) -> None:
        self.end()
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def session(self, spark):
        """A proxy of ``spark`` whose ``read.parquet`` runs in its own
        span and job group, so read jobs (schema inference) are counted
        apart from the stage's write jobs."""
        probe = self

        class Reader:
            def __init__(self, reader):
                self._reader = reader

            def parquet(self, *paths, **opts):
                span = probe.tracer.open("read", parent=probe.stage, path=paths[0])
                gid = probe.tracer.group(f"d{probe.day}:read")
                probe.reads.append(gid)
                try:
                    return self._reader.parquet(*paths, **opts)
                finally:
                    probe.tracer.close(span)
                    if probe.stage is not None:
                        probe.tracer.set_group(probe.stage["group"])

            def __getattr__(self, name):
                return getattr(self._reader, name)

        class Session:
            @property
            def read(self):
                return Reader(spark.read)

            def __getattr__(self, name):
                return getattr(spark, name)

        return Session()

    def metrics(self, dw_files_before: set[str], dw_dir: str) -> tuple[dict, Counter]:
        t = self.tracer
        ods = [s for s in self.stages if s["name"].startswith("ods:")]
        dw = [s for s in self.stages if s["name"].startswith("dw:")]
        ods_stats = {id(s): t.job_stats([s["group"]]) for s in ods}
        dw_stats = t.job_stats([s["group"] for s in dw])
        new_files = _parquet_files(dw_dir) - dw_files_before
        total = t.job_stats([s["group"] for s in self.stages] + self.reads)
        day = {
            "sources.csv.input_rows": self.csv_rows,
            "sources.csv.input_bytes": self.csv_bytes,
            "plans.bikes_ods.exec_s": sum(t.self_time(s) for s in ods),
            "operators.merge.shuffle_bytes": sum(
                ods_stats[id(s)]["shuffle_write_bytes"] for s in ods if s["merged"]),
            "sources.snapshot.commit_s": sum(c["end"] - c["start"] for c in self.commits),
            "sources.snapshot.commits": len(self.commits),
            "plans.bikes_dw.exec_s": sum(t.self_time(s) for s in dw),
            "plans.bikes_dw.input_rows": dw_stats["input_rows"],
            "plans.bikes_dw.output_rows": dw_stats["output_rows"],
            "plans.bikes_dw.files_written": len(new_files),
            "plans.bikes_dw.partitions_written": len(
                {os.path.dirname(f) for f in new_files if "=" in os.path.basename(os.path.dirname(f))}),
            "plans.bikes_pipeline.read_jobs": t.job_stats(self.reads)["jobs"],
        }
        return day, total


def _parquet_files(root: str) -> set[str]:
    out = set()
    for dirpath, _, files in os.walk(root):
        out.update(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def daily_refresh(spark, plans, cfg, seed, seconds, tracer: Tracer, work_dir) -> Result:
    """Day 1 loads the seeded extract into an empty warehouse; day 2
    refreshes it from the day-2 re-extract. Cycles repeat, each into a
    fresh warehouse, while the next one fits in ``seconds``. No
    warm-up: a daily job starts a fresh JVM, so day 1 pays its JIT
    warm-up as a real refresh would."""
    from bikes_data_warehouse_etl_spark.plans.bikes_pipeline import BikesPipeline

    extracts = []
    for day in (1, 2):
        ext = gen_bikes.generate(seed, day, BIKES_SIZES)
        src = os.path.join(work_dir, f"extract_day{day}")
        gen_bikes.write(ext, src)
        extracts.append((ext, src))
    res = Result()
    days: dict[int, list[float]] = {1: [], 2: []}
    layers: dict[str, list[float]] = {}
    spark_total: Counter = Counter()
    start = time.perf_counter()
    cycle = 0
    while cycle == 0 or fits_another(start, cycle, seconds):
        wh = os.path.join(work_dir, f"warehouse{cycle}")
        for day, (ext, src) in enumerate(extracts, start=1):
            res.attempted += 1
            probe = None
            root = tracer.open(f"day{day}", cycle=cycle) if tracer.enabled else None
            session = spark
            if tracer.enabled:
                probe = PipelineProbe(tracer, day, root)
                probe.install()
                session = probe.session(spark)
            before = _parquet_files(os.path.join(wh, "dw")) if probe else set()
            try:
                pipe = BikesPipeline(session, src, wh, ext.as_of_date, ext.run_ts)
                t0 = time.perf_counter()
                pipe.load_ods()
                if probe:
                    probe.begin("dw:inputs")
                pipe.refresh_dw()
                elapsed = time.perf_counter() - t0
            except Exception:
                res.fail(1, [_report_error(f"cycle {cycle} day {day}")])
                continue
            finally:
                if probe:
                    probe.uninstall()
                    tracer.close(root)
            days[day].append(elapsed)
            res.latencies_s.append(elapsed)
            res.labels.append(f"day{day}")
            res.busy_s += elapsed
            res.work += sum(len(r) for r in ext.rows.values())
            if probe:
                day_layers, total = probe.metrics(before, os.path.join(wh, "dw"))
                day_layers["refresh_s"] = elapsed
                for k, v in day_layers.items():
                    layers.setdefault(f"day{day}.{k}", []).append(v)
                spark_total.update(total)
            bad = checks.check_refresh([s for _, s in extracts[:day]], wh)
            if bad:
                res.fail(1, bad)
        shutil.rmtree(wh, ignore_errors=True)
        cycle += 1
    if tracer.enabled:
        res.layers = {k: statistics.mean(v) for k, v in layers.items()}
        res.layers.update(_per_op(spark_total, len(res.latencies_s)))
        res.layers["spark.exec_s"] = statistics.mean(
            res.layers.get(f"day{d}.plans.bikes_ods.exec_s", 0)
            + res.layers.get(f"day{d}.plans.bikes_dw.exec_s", 0) for d in (1, 2))
    res.summary = {
        f"refresh_day{d}_s": ("s", statistics.median(v), len(v)) for d, v in days.items() if v
    }
    return res


# ==================================================================== stream
class BatchListener:
    """Collects every micro-batch's progress through PySpark's Python
    ``StreamingQueryListener``, keyed by query name."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: dict[str, list] = {}
        self.ids: dict[str, str] = {}
        self.run_ids: dict[str, str] = {}
        self.done: set[str] = set()
        self.cv = threading.Condition()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.cv:
                    outer.ids[event.name] = str(event.id)
                    outer.run_ids[event.name] = str(event.runId)

            def onQueryProgress(self, event):
                p = event.progress
                with outer.cv:
                    outer.progress.setdefault(p.name, []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cv:
                    outer.done.add(str(event.id))
                    outer.cv.notify_all()

        self.listener = Listener()

    def wait(self, name: str, timeout: float = 60.0) -> list:
        with self.cv:
            ok = self.cv.wait_for(lambda: self.ids.get(name) in self.done, timeout)
            if not ok:
                raise TimeoutError(f"no termination event for stream {name}")
            return [p for p in self.progress.get(name, []) if "addBatch" in p.durationMs]


def _event_files(seed: int, round_: int, out_dir: str) -> None:
    """The seeded events of one stream round, split into
    ``STREAM_FILES`` parquet files by arrival order."""
    rng = np.random.default_rng([seed, round_])
    n = STREAM_FILES * ROWS_PER_FILE
    ev = gen_tables.events(rng, n, STREAM_DAYS)
    ts = ev.column("ts").cast("int64").to_numpy()
    late = rng.random(n) < LATE_SHARE
    delay = np.where(late, rng.integers(0, MAX_DELAY_MINUTES * 60 * 10**6, n), 0)
    ev = ev.take(np.argsort(ts + delay, kind="stable"))
    os.makedirs(out_dir)
    for i in range(STREAM_FILES):
        pq.write_table(ev.slice(i * ROWS_PER_FILE, ROWS_PER_FILE),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _record_batches(tracer: Tracer, parent: dict, batches, per_batch) -> None:
    keys = {"addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
            "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
            "latestOffset": "latest_offset_ms"}
    for p in batches:
        d = p.durationMs
        for src, dst in keys.items():
            per_batch.setdefault(dst, []).append(d.get(src, 0))
        ops = p.stateOperators
        per_batch.setdefault("state_rows", []).append(sum(o.numRowsTotal for o in ops))
        per_batch.setdefault("state_memory_bytes", []).append(sum(o.memoryUsedBytes for o in ops))
        per_batch.setdefault("state_commit_ms", []).append(sum(o.commitTimeMs for o in ops))
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        tracer.record("batch", start, start + d["triggerExecution"] / 1e3, parent=parent,
                      batch=p.batchId, rows=p.numInputRows)


WORKLOADS = {
    "daily_refresh": daily_refresh,
    "query_mix": query_mix,
}
