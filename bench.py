"""Headline benchmark and the one suite timing loop: run the declared
queries at $SPARK_GRAFT_SF_DIR.

Usage:
  python bench.py [QUERY ...]                  # all queries, or a subset
  python bench.py --ab KEY=A,B [QUERY ...]     # same-JVM config A/B

Prints the full JSON line
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "failed": {name: message, ...}, "sf": <sf>}
followed by ONE final COMPACT JSON line (same metric/value, no
per-query map) sized to survive the driver's ~2000-char stdout tail
capture — so the driver's recorded ``parsed`` is non-null again.

Each query is forced with the noop sink (full compute, no driver-side
collect cost). Every query is timed SPARK_GRAFT_BENCH_RUNS times
(default 3) in interleaved passes and the reported time is the
per-query MEDIAN: single-shot timings at sub-second scale jitter ±1.8×
with JVM/GC/host noise (the r03 bench showed symmetric ±1.8× swings on
untouched code), which a median absorbs while a lone sample cannot.
Pass 1 still absorbs JVM/codegen warmup — honest for a batch engine —
but the median discards that pass unless the query is genuinely slow.

A query that raises is recorded under ``failed`` and the queries after
it still run; the process then exits 1 after printing both lines. An
unknown query name exits 2.

``--ab KEY=A,B`` times every selected query under both values of the
runtime SQL conf KEY inside one JVM, A-then-B on even passes and
B-then-A on odd ones (ABBA), restores KEY afterwards and reports
per-arm medians under ``ab``; ``queries``/``value`` are arm A's. The
regression gates below compare against baselines recorded under the
session defaults, so they are skipped in this mode.

Two regression lists ship in the JSON line:
  * ``regressions_vs_r1``   — vs the round-1 floor (BENCH_r01.json),
    the driver's long-horizon gate.
  * ``regressions_vs_prev`` — vs the LATEST ``BENCH_r{N}.json`` in the
    repo, so a round-over-round slide (r03: heavy_hitter_tokens
    2.44 s → 6.00 s, invisible to the r1 gate) is flagged the round it
    happens.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bikes_data_warehouse_etl_spark.session import (  # noqa: E402
    get_spark,
    unpersist_all,
)
from bikes_data_warehouse_etl_spark.plans import QUERIES  # noqa: E402

REPO = os.path.dirname(os.path.abspath(__file__))


# --- host-speed calibration (round-6) ---------------------------------------
# The r4→r5 committed baselines differed by a UNIFORM 1.21× (host drift,
# not plan regressions), which poisons cross-round gating. Each bench run
# therefore times one fixed pure-CPU, data-independent Spark job — a
# range scan hashed and summed across all cores, zero input, zero
# shuffle — and records its median as ``calibration_s``. When a baseline
# json also carries one, the gates scale that baseline's per-query times
# by (cal_now / cal_base) before comparing, so only drift RELATIVE to
# the host's measured speed is flagged. The clamp keeps a pathological
# calibration sample (GC pause in the cal cell itself) from silently
# widening the gate by more than 2× either way.
_CAL_ROWS = 1_000_000_000


def run_calibration(spark) -> float:
    from pyspark.sql import functions as F

    # pmod keeps the running sum < 2e8 * 1e6 « 2^63 (ANSI overflow-safe)
    df = spark.range(0, _CAL_ROWS, 1, 32).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000003))).alias("h")
    )
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _cal_ratio(cal_now: float | None, parsed: dict) -> float:
    cal_base = parsed.get("calibration_s")
    if not cal_now or not cal_base:
        return 1.0
    return min(2.0, max(0.5, cal_now / cal_base))


def regressions_vs(
    timings: dict[str, float],
    baseline_path: str,
    threshold: float = 1.5,
    sf: float | None = None,
    cal_now: float | None = None,
) -> list[str]:
    """Per-query regression gate vs a prior round's BENCH json.

    A query regresses when it is > ``threshold``× its baseline time AND
    the absolute delta exceeds 0.5 s (sub-second queries jitter with JVM
    warmup order; a 0.2 s → 0.4 s flip is noise, 5 s → 9 s is not).
    New queries (absent from baseline) never count, nor do queries whose
    definition changed since the baseline round (the old floor measures
    different work). When ``sf`` is given and the baseline records a
    DIFFERENT scale factor, the whole comparison is skipped — an sf1
    run gated against sf0.1 medians would flag the entire suite.
    Baselines carrying ``calibration_s`` are rescaled to this host's
    measured speed first (see ``run_calibration``).
    """
    shape_changed = {
        # r2 reshaped this query for the bounded-error oracle: it now
        # also computes the exact COUNT(DISTINCT) alongside the HLL
        # estimate, so the r1 floor (estimate only) is obsolete.
        "approx_distinct_parts",
    }
    if not baseline_path or not os.path.exists(baseline_path):
        return []
    with open(baseline_path) as f:
        doc = json.load(f)
    # driver's BENCH_r{N}.json wraps the bench line under "parsed" —
    # which can be null when the driver's own capture truncated (r03),
    # so fall through to {} rather than crash on a None
    parsed = (doc.get("parsed") or doc)
    base_sf = parsed.get("sf", doc.get("sf"))
    if sf is not None and base_sf is not None and float(base_sf) != float(sf):
        return []
    base = parsed.get("queries") or {}
    ratio = _cal_ratio(cal_now, parsed)
    return sorted(
        name
        for name, t in timings.items()
        if name in base
        and name not in shape_changed
        and t > base[name] * ratio * threshold
        and t - base[name] * ratio > 0.5
    )


# --- absolute per-query latency budget (round-5 gate) ----------------------
# Both regression gates are RELATIVE: a query born slow never trips them.
# This budget flags any query whose sf0.1 median exceeds LATENCY_BUDGET_S.
# The exception list is the documented density-bound family — queries whose
# cost is the honest price of their algorithm (each carries the analysis in
# its docstring), with a per-query ceiling so even the exceptions can't
# silently double. The budget only applies at sf ≈ 0.1 (the driver's scale);
# at other sfs the absolute numbers mean different work.
LATENCY_BUDGET_S = 5.0
LATENCY_EXCEPTIONS: dict[str, float] = {
    # (poisson_bootstrap_ci left this list in round 6: replicate
    # uniforms from ONE md5 via affine families — well under budget.
    # theil_sen_trend left in round 7: histogram-bisection rewrite,
    # 6.7 s → 4.4 s.
    # dup_span_fraction left in round 11: its ~5 s floor was Spark's
    # InferFiltersFromGenerate duplicating the tokenize+8-gram build
    # into a single-split pushed filter; with the rule excluded
    # (session.py) the warm median is ~1.5-2.2 s — comfortably inside
    # the standard 5 s budget, so the 6.0 s ceiling is deleted.)
}


def budget_cal_base() -> float | None:
    """Calibration of the HOST the latency ceilings were measured on:
    the checked-in ``BENCH_local.json`` (the same file whose medians
    justified each ceiling). The absolute budget is only meaningful in
    that host's time units — see ``over_latency_budget``."""
    try:
        with open(os.path.join(REPO, "BENCH_local.json")) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    return (doc.get("parsed") or doc).get("calibration_s")


def over_latency_budget(
    timings: dict[str, float],
    sf: float | None,
    cal_now: float | None = None,
    cal_base: float | None = None,
) -> list[str]:
    """Queries whose median exceeds the absolute budget at sf0.1.

    The ceilings were measured on the ``BENCH_local.json`` host; a raw
    comparison on a slower host flags queries that are actually flat
    (judge r9: the driver host measured calibration 1.078 s vs the
    local 0.922 s and raw-flagged ``dup_span_fraction`` at 6.414 s —
    calibrated ~5.5 s, inside its 6.0 s ceiling). When both
    calibrations are known, each ceiling is rescaled by
    ``cal_now / cal_base`` — the same host-drift normalization the
    relative regression gates apply to their baselines — clamped to
    [0.5, 2] so a pathological calibration sample can't stretch the
    budget arbitrarily. Without either calibration the compare stays
    raw (the pre-r10 behavior)."""
    if sf is None or abs(sf - 0.1) > 1e-9:
        return []
    scale = 1.0
    if cal_now and cal_base:
        scale = min(2.0, max(0.5, cal_now / cal_base))
    return sorted(
        name
        for name, t in timings.items()
        if t > LATENCY_EXCEPTIONS.get(name, LATENCY_BUDGET_S) * scale
    )


def latest_bench_json() -> str | None:
    """The newest USABLE per-query baseline.

    Preference order: the checked-in ``BENCH_local.json`` (the previous
    round's locally-run median-of-3, committed explicitly), then the
    highest-numbered driver ``BENCH_r{N}.json`` that actually carries
    per-query timings — rounds whose driver-side capture truncated
    have ``parsed: null`` (r02 and r03 both do) and are skipped."""
    candidates = [(10**6, os.path.join(REPO, "BENCH_local.json"))]
    for p in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            candidates.append((int(m.group(1)), p))
    for _, p in sorted(candidates, reverse=True):
        try:
            with open(p) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if ((doc.get("parsed") or doc).get("queries")) or {}:
            return p
    return None


def perf_vs_prev(
    timings: dict[str, float],
    cal_now: float | None,
    sf: float | None = None,
) -> dict:
    """Bench-side round-over-round comparison (VERDICT r10 item 2).

    The driver's stdout tail capture (~2000 chars) cannot carry the
    315-entry per-query map, so its own per-query/geomean machinery
    records nothing (PERF_r10: n_common 0, geomean null). Compute the
    comparison HERE against the newest usable per-query baseline
    (``latest_bench_json`` — the committed ``BENCH_local.json``, i.e.
    the previous round's medians) and ship the aggregate fields in the
    compact final line: geomean speedup, regressed/improved counts at
    ±10%, and the top-5 regressed queries with before/after seconds.
    The baseline is rescaled by the calibration ratio first, same as
    the regression gates, so host drift does not masquerade as a
    per-query slide."""
    import math

    path = latest_bench_json()
    if not path:
        return {}
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    parsed = doc.get("parsed") or doc
    base_sf = parsed.get("sf", doc.get("sf"))
    if sf is not None and base_sf is not None and float(base_sf) != float(sf):
        # an sf1 run compared against sf0.1 medians would report the
        # whole suite regressed — same guard as regressions_vs
        return {}
    base = parsed.get("queries") or {}
    ratio = _cal_ratio(cal_now, parsed)
    speedups = {
        q: (base[q] * ratio) / t
        for q, t in timings.items()
        if q in base and t > 0 and base[q] > 0
    }
    if not speedups:
        return {"prev_per_query_baseline": os.path.basename(path)}
    geomean = math.exp(
        sum(math.log(s) for s in speedups.values()) / len(speedups)
    )
    regressed = sorted(
        (q for q, s in speedups.items() if s < 1 / 1.1),
        key=lambda q: speedups[q],
    )
    improved = [q for q, s in speedups.items() if s > 1.1]
    return {
        "prev_per_query_baseline": os.path.basename(path),
        "geomean_speedup_vs_prev": round(geomean, 3),
        "n_common_vs_prev": len(speedups),
        "n_regressed_gt10pct": len(regressed),
        "n_improved_gt10pct": len(improved),
        "top_regressed": [
            {
                "q": q,
                "prev": round(base[q] * ratio, 3),
                "now": timings[q],
            }
            for q in regressed[:5]
        ],
    }


def compact_summary(payload: dict) -> dict:
    """The final stdout line's content: every gate field, NO per-query
    map, so the driver's ~2000-char tail capture ends with one
    complete parseable JSON object (BENCH_r02..r08 all recorded
    parsed: null off the single giant line). Regression lists are the
    one unbounded field; a pathological all-regressed run is truncated
    by count — the gate booleans a reader needs survive either way."""
    s = {
        k: payload[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "runs_per_query",
            "calibration_s",
            "regressions_vs_r1",
            "regressions_vs_prev",
            "latency_budget_s",
            "latency_cal_base",
            "over_latency_budget",
            "prev_per_query_baseline",
            "geomean_speedup_vs_prev",
            "n_common_vs_prev",
            "n_regressed_gt10pct",
            "n_improved_gt10pct",
            "top_regressed",
        )
        if k in payload
    }
    for k in ("regressions_vs_r1", "regressions_vs_prev",
              "over_latency_budget"):
        if len(s.get(k, [])) > 20:
            s[k] = s[k][:20] + [f"...+{len(s[k]) - 20} more"]
    if "ab" in payload:
        # per-arm totals only: the per-arm per-query maps are unbounded
        s["ab"] = {k: payload["ab"][k] for k in ("conf", "total")}
    s["queries_n"] = len(payload.get("queries", {}))
    s["failed_n"] = len(payload.get("failed", {}))
    s["per_query_in"] = "BENCH_latest_full.json"
    return s


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Query subset and ``--ab``; argparse exits 2 on a bad argument,
    an unknown query name included."""
    p = argparse.ArgumentParser(
        description="Time the declared queries at $SPARK_GRAFT_SF_DIR."
    )
    p.add_argument(
        "queries", nargs="*", metavar="QUERY",
        help="run only these queries, in this order (default: all)",
    )
    p.add_argument(
        "--ab", metavar="KEY=A,B",
        help="time each query under both values of runtime SQL conf KEY, "
        "arm order alternating per pass; skips the regression gates",
    )
    args = p.parse_args(argv)
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        p.error(f"unknown queries: {unknown}")
    if args.ab is not None:
        key, _, values = args.ab.partition("=")
        arms = values.split(",")
        if not key or len(arms) != 2 or not all(arms) or arms[0] == arms[1]:
            p.error("--ab wants KEY=A,B with two different values")
        args.ab = (key, arms)
    return args


def run_passes(spark, specs: dict, sf_dir: str, n_runs: int, ab=None):
    """Time every spec ``n_runs`` times through the noop sink, one
    interleaved pass at a time, each pass led by a calibration cell.

    Returns ``(samples, failed, cal_samples)``: ``samples[arm][name]``
    lists seconds (the only arm is ``None`` without ``ab``); ``failed``
    maps a query that raised to the first line of its error. A failed
    query is not retried and never stops the queries after it. With
    ``ab=(key, [a, b])`` each query runs under both values of the
    runtime conf ``key`` back to back, a-then-b on even passes and
    b-then-a on odd ones, and ``key`` is restored afterwards.
    """
    key, arms = ab or (None, [None])
    samples = {arm: {name: [] for name in specs} for arm in arms}
    failed: dict[str, str] = {}
    cal_samples: list[float] = []
    prior = spark.conf.get(key, None) if key else None
    try:
        for p in range(n_runs):
            # calibration first in each pass: same JVM state the queries see
            cal_samples.append(run_calibration(spark))
            order = arms if p % 2 == 0 else arms[::-1]
            for name, spec in specs.items():
                if name in failed:
                    continue
                for arm in order:
                    if key:
                        spark.conf.set(key, arm)
                    t0 = time.perf_counter()
                    try:
                        spec.spark(spark, sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        samples[arm][name].append(time.perf_counter() - t0)
                    except Exception as e:  # noqa: BLE001 — keep timing the rest
                        traceback.print_exc()
                        lines = str(e).strip().splitlines() or [repr(e)]
                        failed[name] = lines[0][:300]
                        break
                    finally:
                        # release localCheckpoint blocks between queries:
                        # suite memory stays flat in query count
                        unpersist_all(spark)
    finally:
        if key and prior is None:
            spark.conf.unset(key)
        elif key:
            spark.conf.set(key, prior)
    return samples, failed, cal_samples


def main() -> None:
    args = parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    specs = {name: QUERIES[name] for name in args.queries} or QUERIES
    spark = get_spark("bench")

    samples, failed, cal_samples = run_passes(
        spark, specs, sf_dir, n_runs, args.ab
    )
    medians = {
        arm: {
            name: round(statistics.median(ts), 3)
            for name, ts in by_name.items()
            if name not in failed
        }
        for arm, by_name in samples.items()
    }
    timings = next(iter(medians.values()))  # arm A under --ab
    total = sum(timings.values())
    cal_s = round(statistics.median(cal_samples), 3)
    cur_sf = float(sf) if sf else None

    payload = {
        "metric": "synthetic_query_suite_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "sf": cur_sf,
        "runs_per_query": n_runs,
        "calibration_s": cal_s,
    }
    if args.ab:
        payload["ab"] = {
            "conf": args.ab[0],
            "total": {
                arm: round(sum(m.values()), 3) for arm, m in medians.items()
            },
            "queries": medians,
        }
    else:
        r1_baseline = os.environ.get(
            "SPARK_GRAFT_BENCH_BASELINE", os.path.join(REPO, "BENCH_r01.json")
        )
        cal_base = budget_cal_base()
        payload.update(
            {
                "regressions_vs_r1": regressions_vs(
                    timings, r1_baseline, sf=cur_sf, cal_now=cal_s
                ),
                "regressions_vs_prev": regressions_vs(
                    timings, latest_bench_json(), sf=cur_sf, cal_now=cal_s
                ),
                "latency_budget_s": LATENCY_BUDGET_S,
                "latency_exceptions": LATENCY_EXCEPTIONS,
                # the ceilings' home-host calibration: over_latency_budget
                # rescales by cal_s/latency_cal_base before comparing, so a
                # slow driver host no longer raises false budget flags
                "latency_cal_base": cal_base,
                "over_latency_budget": over_latency_budget(
                    timings, cur_sf, cal_now=cal_s, cal_base=cal_base
                ),
            }
        )
        payload.update(perf_vs_prev(timings, cal_s, sf=cur_sf))
    # The driver's stdout capture keeps only the LAST ~2000 chars of the
    # line; at 300+ queries the per-query map alone exceeds that, so
    # BENCH_r02..r05 all carry "parsed": null. The printed line stays the
    # contract (summary fields deliberately LAST in the object so a tail
    # capture still shows them); the full machine-readable payload is
    # additionally written to BENCH_latest_full.json for the record.
    # NOT named BENCH_r*.json / BENCH_local.json on purpose: it must
    # never be picked up as a regression baseline (a file overwritten by
    # every run would gate each run against itself).
    try:
        with open(os.path.join(REPO, "BENCH_latest_full.json"), "w") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the printed line is still the contract
    print(json.dumps(payload))
    # The driver keeps only the last ~2000 chars of stdout, so the full
    # line above never parses on its side (BENCH_r02..r08 all record
    # "parsed": null). Emit ONE final COMPACT line — same metric/value
    # contract, no per-query map (< 1 KB) — so a tail capture ends with
    # a complete, parseable JSON object. Local tooling keeps using the
    # full line / BENCH_latest_full.json; the two lines never disagree
    # (the compact one is a field-subset of the same payload).
    print(json.dumps(compact_summary(payload)))
    if failed:
        sys.exit(1)
    # strict mode (local/CI use): non-zero exit on any per-query regression
    # or absolute-budget breach
    if os.environ.get("SPARK_GRAFT_BENCH_STRICT") and any(
        payload.get(k)
        for k in ("regressions_vs_r1", "regressions_vs_prev",
                  "over_latency_budget")
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()
