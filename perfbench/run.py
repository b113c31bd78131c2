"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client runs the workload's catalog queries one at a time on
local[<cores>]. Each query is built with ``queries[name](spark, sf_dir)``
and forced with the ``noop`` sink; the cache is cleared and the JVM
collects garbage between queries, outside the timed region. The run
times one cold pass, then warm passes until S seconds have passed (at
least one), then checks every query's output against its DuckDB oracle.
Set-up is everything before the first warm pass: session start, query
catalog, warm-up and the cold pass.

--trace 0 prints the end-to-end metrics. --trace 1 runs with Spark's
event log on and spans around the library's entry points, and prints
the per-layer metrics and a per-query table. Its tracing overhead is
measured against the untraced runs recorded for the same program and
machine, or against one untraced run in a child process if none are.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, oracle, provision, stats, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_orders  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "warm_pass_s": "s",
    "query_geomean_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.build_s": "s",
    "session.cold_pass_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.exec_s": "s",
    "query.exec_jobs": "count",
    "search.fit_calls": "count",
    "search.jobs": "count",
    "solvers.calls": "count",
    "solvers.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.task_overhead_s": "s",
    "spark.driver_gap_s": "s",
    "spark.task_failures": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.core_util": "fraction",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.result_mb": "MB",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
    "trace.tagged_job_share": "fraction",
}

# Printed in the report but not in the JSON metrics: each is zero on
# some workload (no search, solver or Python worker on data_bound_sf1,
# no fetch wait in local mode, Python workers all started during
# warm-up), and a time that reads the same on every run says nothing.
REPORT_ONLY = {
    "search.fit_s": "s",
    "solvers.fit_s": "s",
    "exec.fetch_wait_s": "s",
    "python.run_s": "s",
    "python.start_s": "s",
}

# event-log totals behind the spark./exec./python. metrics
_LOG_METRICS = {
    "spark.jobs": "jobs", "spark.stages": "stages",
    "spark.stages_skipped": "stages_skipped", "spark.tasks": "tasks",
    "spark.task_overhead_s": "task_overhead_s", "spark.task_failures": "task_failures",
    "exec.run_s": "run_s", "exec.cpu_s": "cpu_s", "exec.gc_s": "gc_s",
    "exec.input_mb": "input_mb", "exec.shuffle_write_mb": "shuffle_write_mb",
    "exec.shuffle_read_mb": "shuffle_read_mb", "exec.fetch_wait_s": "fetch_wait_s",
    "exec.spill_mb": "spill_mb", "exec.result_mb": "result_mb",
    "python.run_s": "python_run_s", "python.start_s": "python_start_s",
    "python.sent_mb": "python_sent_mb", "python.recv_mb": "python_recv_mb",
}


def _identity(s):
    return s


def start_session(event_log_dir: str | None):
    """(spark, queries, oracles, setup phase seconds)."""
    t0 = time.perf_counter()
    from dask_ml_spark import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # temp files inside the checkout; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="dask_ml_spark-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from dask_ml_spark.plans.queries import build_catalog

    queries, oracles = build_catalog()
    t2 = time.perf_counter()
    return spark, queries, oracles, {"session.start_s": t1 - t0, "catalog.build_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up: parquet footers, then one Arrow UDF task per
    core so every Python worker has started before the first query."""
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    udf = F.pandas_udf(_identity, "long")
    spark.range(100_000).repartition(provision.cpus()).select(udf("id")).write.mode(
        "overwrite").format("noop").save()


def run_query(spark, fn, name: str, sf_dir: str, tracer) -> dict:
    rec = {"query": name, "start": time.time()}
    if tracer is not None:
        spark.sparkContext.setJobDescription(name)
        tracer.query = name
    try:
        df = fn(spark, sf_dir)
        rec["built"] = time.time()
        df.write.mode("overwrite").format("noop").save()
        rec["ok"] = True
    except Exception as ex:  # counted as a failed run; the workload goes on
        rec["ok"] = False
        rec["error"] = oracle.first_line(ex)
    finally:
        rec["end"] = time.time()
        rec.setdefault("built", rec["end"])
        if tracer is not None:
            spark.sparkContext.setJobDescription(None)
            tracer.query = None
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    return rec


def run_passes(spark, queries, workload, seed: int, seconds: float, sf_dir: str, tracer) -> list[dict]:
    """Pass 0 is cold; warm passes follow until ``seconds`` have passed."""
    records: list[dict] = []
    orders = pass_orders(workload, seed)
    t0 = time.perf_counter()
    p = 0
    while p < 2 or time.perf_counter() - t0 < seconds:
        for name in next(orders):
            rec = run_query(spark, queries[name], name, sf_dir, tracer)
            rec["pass"] = p
            records.append(rec)
        p += 1
    return records


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def pass_times(records) -> dict[int, float]:
    out: dict[int, float] = {}
    for r in records:
        out[r["pass"]] = out.get(r["pass"], 0.0) + _dur(r)
    return out


def latency_samples(records) -> list[dict]:
    """Warm runs that succeeded (all warm runs if none did)."""
    warm = [r for r in records if r["pass"] > 0]
    return [r for r in warm if r["ok"]] or warm


def end_to_end(setup: dict[str, float], records) -> dict[str, float]:
    passes = pass_times(records)
    samples = latency_samples(records)
    per_query: dict[str, list[float]] = {}
    for r in samples:
        per_query.setdefault(r["query"], []).append(_dur(r))
    return {
        "setup_s": sum(setup.values()),
        "warm_pass_s": statistics.median(v for p, v in passes.items() if p > 0),
        "query_geomean_s": stats.geomean(statistics.median(v) for v in per_query.values()),
    }


def count_failures(records, check: dict[str, str] | None) -> int:
    bad = {q for q, res in (check or {}).items() if res != "ok"}
    return sum(1 for r in records if not r["ok"] or r["query"] in bad)


def per_layer(log, records, spans, cores: int) -> tuple[dict[str, float], list[dict]]:
    """Warm-pass per-layer metrics (per pass) and per-query rows."""
    windows = []
    for i, r in enumerate(records):
        windows.append((("build", i), r["start"] * 1e3, r["built"] * 1e3))
        windows.append((("exec", i), r["built"] * 1e3, r["end"] * 1e3))
    owned = eventlog.attribute(log.jobs.values(), windows)
    warm = [(i, r) for i, r in enumerate(records) if r["pass"] > 0]
    n_pass = len({r["pass"] for _, r in warm})
    sums: dict[str, float] = {name: 0.0 for name in {**PER_LAYER, **REPORT_ONLY}}
    tagged = jobs_total = 0
    rows = []
    for i, r in warm:
        build_jobs, exec_jobs = owned[("build", i)], owned[("exec", i)]
        jobs = build_jobs + exec_jobs
        tot = eventlog.totals(log, jobs, label=r["query"])
        gap_s = (_dur(r) * 1e3 - eventlog.covered_ms(
            eventlog.job_intervals(log, jobs), r["start"] * 1e3, r["end"] * 1e3)) / 1e3
        for metric, key in _LOG_METRICS.items():
            sums[metric] += tot[key]
        sums["spark.driver_gap_s"] += gap_s
        sums["query.build_s"] += r["built"] - r["start"]
        sums["query.exec_s"] += r["end"] - r["built"]
        sums["query.build_jobs"] += len(build_jobs)
        sums["query.exec_jobs"] += len(exec_jobs)
        tagged += tot["tagged_jobs"]
        jobs_total += tot["jobs"]
        for layer, calls, busy, njobs in (
                ("sources", "sources.load_calls", "sources.load_s", None),
                ("search", "search.fit_calls", "search.fit_s", "search.jobs"),
                ("solvers", "solvers.calls", "solvers.fit_s", "solvers.jobs")):
            top = tracing.outermost(spans, layer, r["start"], r["end"])
            ivals = [(s.start * 1e3, s.end * 1e3) for s in top]
            sums[calls] += len(top)
            sums[busy] += eventlog.covered_ms(ivals, r["start"] * 1e3, r["end"] * 1e3) / 1e3
            if njobs:
                sums[njobs] += sum(1 for j in jobs if any(
                    a <= log.jobs[j].submit_ms <= b for a, b in ivals))
        rows.append({"query": r["query"], "build_s": r["built"] - r["start"],
                     "exec_s": r["end"] - r["built"], "jobs": tot["jobs"],
                     "stages": tot["stages"], "tasks": tot["tasks"], "driver_gap_s": gap_s,
                     "exec.cpu_s": tot["cpu_s"],
                     "shuffle_mb": tot["shuffle_write_mb"] + tot["shuffle_read_mb"],
                     "spill_mb": tot["spill_mb"], "python.run_s": tot["python_run_s"]})
    out = {name: v / n_pass for name, v in sums.items()}
    # workers start in the cold pass; warm passes reuse them
    out["python.start_s"] = sum(
        eventlog.totals(log, owned[("build", i)] + owned[("exec", i)])["python_start_s"]
        for i, r in enumerate(records) if r["pass"] == 0)
    wall = sum(_dur(r) for _, r in warm)
    out["exec.core_util"] = sums["exec.run_s"] / (wall * cores) if wall else 0.0
    out["trace.tagged_job_share"] = tagged / jobs_total if jobs_total else 0.0
    return out, rows


def per_query_table(rows: list[dict]) -> list[dict]:
    """Rows averaged per query over the warm passes, slowest first."""
    by_q: dict[str, list[dict]] = {}
    for row in rows:
        by_q.setdefault(row["query"], []).append(row)
    table = []
    for q, rs in by_q.items():
        avg = {k: statistics.fmean(r[k] for r in rs) for k in rs[0] if k != "query"}
        table.append({"query": q, **avg})
    return sorted(table, key=lambda r: -(r["build_s"] + r["exec_s"]))


def untraced_warm_pass(args, sources: str, fingerprint: dict) -> tuple[float, int]:
    """(median warm_pass_s, runs) of the untraced runs of this workload
    recorded for the same program and machine; when there are none, one
    untraced run in a child process provides it."""
    vals = []
    for path in glob.glob(os.path.join(provision.WORK, "results", f"{args.workload}_seed*_trace0.json")):
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if (rec.get("sources"), rec.get("fingerprint"), rec.get("queries")) == (
                sources, fingerprint, list(WORKLOADS[args.workload].queries)):
            vals.append(rec["metrics"]["warm_pass_s"]["value"])
    if not vals:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                              timeout=170, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"untraced run exited with {proc.returncode}")
        vals = [json.loads(lines[-1])["metrics"]["warm_pass_s"]["value"]]
    return statistics.median(vals), len(vals)


def print_report(workload, args, result: dict) -> None:
    print(f"workload {workload.name}  seed {args.seed}  trace {args.trace}  "
          f"queries {len(workload.queries)}  passes {result['passes']}")
    print(f"fingerprint {json.dumps(result['fingerprint'], sort_keys=True)}")
    print(f"program commit {result['commit']}  sources {result['sources']}  "
          f"host.steal_pct {result['steal_pct']:.3f}")
    print("setup phases " + "  ".join(f"{k} {v:.3f} s" for k, v in result["setup"].items())
          + f"  (data generation {result['generate_s']:.1f} s, not in setup_s)")
    for name, m in {**result["metrics"], **result.get("report_only", {})}.items():
        print(f"  {name:<24} {m['value']:>12.4f} {m['unit']}")
    if "latency" in result:
        print(f"  {result['latency']}")
    if "overhead_base" in result:
        print(f"  trace.overhead_pct: {result['overhead_base']}")
    print(f"  error_rate {result['failed']}/{result['attempted']}")
    for q, res in (result.get("check") or {}).items():
        print(f"  check {q}: {res}")
    for r in result["records"]:
        if not r["ok"]:
            print(f"  FAILED {r['query']} (pass {r['pass']}): {r['error']}")
    if result.get("table"):
        cols = ["build_s", "exec_s", "jobs", "stages", "tasks", "driver_gap_s",
                "exec.cpu_s", "shuffle_mb", "spill_mb", "python.run_s"]
        print(f"  {'query':<26}" + "".join(f"{c:>13}" for c in cols))
        for row in result["table"]:
            print(f"  {row['query']:<26}" + "".join(f"{row[c]:>13.3f}" for c in cols))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = provision.missing_program()
    if missing:
        print(f"perfbench: the program to benchmark is missing ({missing}); "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    provision.configure_environment()
    sf_dir, generate_s = provision.dataset(workload.scale)
    cpu0 = provision.cpu_times()

    log_dir = None
    if args.trace:
        log_dir = os.path.join(provision.WORK, "eventlog", workload.name)
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    spark, queries, oracles, setup = start_session(log_dir)
    tracer = None
    try:
        t0 = time.perf_counter()
        warm_up(spark, sf_dir)
        setup["session.warmup_s"] = time.perf_counter() - t0

        if args.trace:
            tracer = tracing.Tracer()
            tracer.install()
        try:
            records = run_passes(spark, queries, workload, args.seed, args.seconds, sf_dir, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        check = oracle.check(spark, queries, oracles, workload.queries, sf_dir,
                             os.environ["TMPDIR"])
        jvm = provision.jvm_stats(spark)
        fingerprint = provision.fingerprint(spark)
    finally:
        stop_session(spark)
    steal = provision.steal_pct(cpu0, provision.cpu_times())

    sources = provision.source_digest()
    result = {
        "workload": workload.name, "queries": list(workload.queries),
        "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fingerprint": fingerprint, "commit": provision.commit(),
        "sources": sources, "steal_pct": steal,
        "setup": setup, "generate_s": generate_s, "records": records, "check": check,
        "passes": len(pass_times(records)),
    }
    # the cold pass is the last set-up phase: one fresh-process pass per
    # run is a single sample, too few to bound on its own
    setup["session.cold_pass_s"] = pass_times(records)[0]
    failed = count_failures(records, check)
    attempted = len(records)
    correct = failed == 0 and all(v == "ok" for v in check.values())
    e2e = end_to_end(setup, records)
    if args.trace:
        log = eventlog.parse(eventlog.find_log(log_dir))
        values, rows = per_layer(log, records, tracer.spans, provision.cpus())
        base, n_base = untraced_warm_pass(args, sources, fingerprint)
        values.update(setup)
        values["jvm.peak_rss_mb"] = jvm["jvm_peak_rss_mb"]
        values["jvm.gc_s"] = jvm["jvm_gc_s"]
        values["host.steal_pct"] = steal
        values["trace.overhead_pct"] = 100.0 * (e2e["warm_pass_s"] - base) / base
        result["overhead_base"] = f"traced warm_pass_s {e2e['warm_pass_s']:.4f} s vs untraced " \
                                  f"median {base:.4f} s over {n_base} run(s)"
        result["table"] = per_query_table(rows)
        result["report_only"] = {k: {"value": values[k], "unit": u} for k, u in REPORT_ONLY.items()}
        units = PER_LAYER
        spans_path = os.path.join(provision.WORK, "trace", f"{workload.name}_seed{args.seed}_spans.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path)
    else:
        values, units = e2e, END_TO_END
        lat = [_dur(r) for r in latency_samples(records)]
        tail = stats.tail(lat)
        result["latency"] = (
            f"query_p50_s {statistics.median(lat):.4f} s over {len(lat)} warm samples; "
            + (f"query_tail_s p{tail[0]:g} = {tail[1]:.4f} s ({tail[2]} beyond)" if tail else
               f"query_tail_s n/a (the tail rule needs {2 * stats.MIN_BEYOND} samples)"))
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    result.update(correct=correct, attempted=attempted, failed=failed)

    out_dir = os.path.join(provision.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload.name}_seed{args.seed}_trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1)
    print_report(workload, args, result)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
