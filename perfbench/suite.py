"""Run every workload several times and summarise, or compare two summaries.

    python3 perfbench/suite.py [--runs 10] [--trace 0|1] [--workloads NAME ...]
                               [--first-seed 1] [--save NAME]
    python3 perfbench/suite.py --compare BASE.json CHANGE.json

Each run is a fresh ``run.py`` process with its own seed. The summary
prints, per workload and metric, the sample count, median, quartiles
and the quartile spread as a share of the median next to the metric's
bound from BENCHMARK.json, plus the output-check result, the failure
count and the wall time per run. ``--save`` writes the summary to
``.benchdata/suite/NAME.json``.

``--compare`` refuses summaries whose machine fingerprints differ. For
each metric it reports the change's median against the base's: worse
than the bound, unresolved (a spread wider than the bound), or within
the bound. It claims no gain; a gain needs paired runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import provision, stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN = os.path.join(ROOT, "perfbench", "run.py")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600, check=False)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "error": f"exit {proc.returncode}"}
    if trace:
        print("\n".join(lines[:-1]))
    out = json.loads(lines[-1])
    path = os.path.join(provision.WORK, "results", f"{workload}_seed{seed}_trace{trace}.json")
    with open(path, encoding="utf-8") as fh:
        detail = json.load(fh)
    return {"seed": seed, "wall_s": wall, **out, "fingerprint": detail["fingerprint"],
            "check": detail.get("check"), "sources": detail["sources"]}


def summarise(runs_by_workload: dict) -> dict:
    """workload -> n, wall time, failures, check result and, per metric,
    (n, median, q1, q3, spread)."""
    out = {}
    for workload, runs in runs_by_workload.items():
        ok = [r for r in runs if "metrics" in r]
        walls = [r["wall_s"] for r in runs]
        entry = out[workload] = {
            "runs": len(runs), "completed": len(ok),
            "wall_s_median": stats.quartiles(walls)[1], "wall_s_max": max(walls),
            "attempted": sum(r["attempted"] for r in ok),
            "failed": sum(r["failed"] for r in ok),
            "correct_runs": sum(1 for r in ok if r["correct"]),
            "checked": sorted({q for r in ok for q in (r["check"] or {})}),
            "check_failures": sorted({f"{q}: {res}" for r in ok
                                      for q, res in (r["check"] or {}).items() if res != "ok"}),
            "metrics": {},
        }
        for name, m in (ok[0]["metrics"] if ok else {}).items():
            vals = [r["metrics"][name]["value"] for r in ok]
            q1, med, q3 = stats.quartiles(vals)
            entry["metrics"][name] = {"unit": m["unit"], "n": len(vals), "median": med,
                                      "q1": q1, "q3": q3, "spread": stats.relative_iqr(vals)}
    return out


def print_summary(summary: dict, bounds: dict) -> None:
    for workload, e in summary.items():
        print(f"\n{workload}: {e['completed']}/{e['runs']} runs completed; wall per run "
              f"median {e['wall_s_median']:.1f} s, max {e['wall_s_max']:.1f} s")
        print(f"  {'metric':<26}{'unit':>9}{'n':>4}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}")
        for name, m in e["metrics"].items():
            bound = bounds.get(name)
            flag = "" if bound is None or m["spread"] < bound / 3 else "  > bound/3"
            print(f"  {name:<26}{m['unit']:>9}{m['n']:>4}{m['median']:>12.4f}{m['q1']:>12.4f}"
                  f"{m['q3']:>12.4f}{m['spread']:>9.3f}{'' if bound is None else bound:>7}{flag}")
        print(f"  error_rate {e['failed']}/{e['attempted']}; correct in {e['correct_runs']}"
              f"/{e['completed']} runs")
        print(f"  output check: {len(e['checked'])} queries, "
              + ("all ok" if not e["check_failures"] else "FAILED " + "; ".join(e["check_failures"])))


def compare(base_path: str, change_path: str, bounds: dict, better: dict) -> int:
    with open(base_path, encoding="utf-8") as fh:
        base = json.load(fh)
    with open(change_path, encoding="utf-8") as fh:
        change = json.load(fh)
    if base["fingerprint"] != change["fingerprint"]:
        print("refusing to compare: machine fingerprints differ\n"
              f"  base   {base['fingerprint']}\n  change {change['fingerprint']}")
        return 1
    for workload in base["runs"]:
        if workload not in change["runs"]:
            continue
        print(f"\n{workload}")
        for name, bound in bounds.items():
            a = [r["metrics"][name]["value"] for r in base["runs"][workload] if "metrics" in r]
            b = [r["metrics"][name]["value"] for r in change["runs"][workload] if "metrics" in r]
            if not a or not b:
                continue
            (a1, am, a3), (b1, bm, b3) = stats.quartiles(a), stats.quartiles(b)
            worse = (bm - am) / am if better[name] == "lower" else (am - bm) / am
            if max(stats.relative_iqr(a), stats.relative_iqr(b)) > bound:
                verdict = "unresolved: spread wider than the bound"
            elif worse > bound:
                verdict = "WORSE than the bound"
            else:
                verdict = "within the bound"
            print(f"  {name:<20} base {am:.4f} [{a1:.4f}, {a3:.4f}]  change {bm:.4f} "
                  f"[{b1:.4f}, {b3:.4f}]  ({bm / am:.3f}x of base)  {verdict}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="+", choices=sorted(WORKLOADS), default=list(WORKLOADS))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "CHANGE"))
    args = ap.parse_args(argv)

    spec = load_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if args.compare:
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        return compare(*args.compare, bounds, better)

    runs_by_workload: dict[str, list[dict]] = {}
    for workload in args.workloads:
        runs = runs_by_workload[workload] = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(workload, seed, spec["run_seconds"], args.trace)
            runs.append(r)
            print(f"{workload} seed {seed}: {r['wall_s']:.1f} s "
                  + (r.get("error") or json.dumps({k: round(v["value"], 4)
                                                    for k, v in r["metrics"].items()})),
                  flush=True)
    prints = {json.dumps(r["fingerprint"], sort_keys=True)
              for runs in runs_by_workload.values() for r in runs if "fingerprint" in r}
    if len(prints) > 1:
        print(f"refusing to summarise: runs have {len(prints)} different fingerprints")
        return 1
    summary = summarise(runs_by_workload)
    print_summary(summary, bounds if not args.trace else {})
    if args.save:
        out_dir = os.path.join(provision.WORK, "suite")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.save}.json"), "w", encoding="utf-8") as fh:
            json.dump({"fingerprint": json.loads(prints.pop()) if prints else None,
                       "commit": provision.commit(), "sources": provision.source_digest(),
                       "run_seconds": spec["run_seconds"], "trace": args.trace,
                       "summary": summary, "runs": runs_by_workload}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
