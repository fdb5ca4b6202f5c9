"""Steadiness command: run each workload several times, each in a fresh
process with its own seed, and print every end-to-end metric's median,
quartiles and quartile spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --runs 10 --seconds 18 [--workloads image_etl,corpus_dedup] [--out set1.json]
    python3 perfbench/steady.py --compare set1.json set2.json

Runs are sequential. ``--compare`` reads two saved sets and prints, per
metric, how far the second set's median moved from the first's in the
worse direction, next to the metric's bound in BENCHMARK.json. The
figures in README.md and the bounds in BENCHMARK.json come from this
command's output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
#: the workloads BENCHMARK.json lists
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    for line in proc.stderr.splitlines():
        if line.startswith("timed op seconds"):
            print(f"  {workload} seed {seed} {line}", file=sys.stderr)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict[str, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def compare(first: dict, second: dict) -> bool:
    """Print each metric's median move from ``first`` to ``second`` in its
    worse direction; True when every move and every spread other than
    ``setup_s``'s stays within its bound."""
    ok = True
    for m in SPEC["end_to_end"]:
        name, bound = m["name"], m["bound"]
        for wl in first:
            if wl not in second or name not in first[wl]:
                continue
            a, b = first[wl][name], second[wl][name]
            move = (b["median"] - a["median"]) / a["median"]
            worse = move if m["better"] == "lower" else -move
            spreads = (a["spread"], b["spread"])
            fine = worse <= bound and (name == "setup_s" or max(spreads) <= bound)
            ok &= fine
            print(f"{wl:13s} {name:12s} median {a['median']:9.4f} -> {b['median']:9.4f}  "
                  f"worse by {worse:+.3f}  spreads {spreads[0]:.3f} {spreads[1]:.3f}  "
                  f"bound {bound}  {'ok' if fine else 'OUT'}")
    for wl in first:
        if wl in second and first[wl]["failed_share"] != second[wl]["failed_share"]:
            ok = False
            print(f"{wl}: failed share {first[wl]['failed_share']} -> {second[wl]['failed_share']}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--out", help="also write the report to this JSON file")
    ap.add_argument("--compare", nargs=2, metavar="SET", help="compare two saved reports and exit")
    args = ap.parse_args()
    if args.compare:
        sets = [json.load(open(p)) for p in args.compare]
        return 0 if compare(*sets) else 1
    report = {}
    t_all = time.perf_counter()
    for wl in args.workloads.split(","):
        t_wl = time.perf_counter()
        runs = []
        for k in range(args.runs):
            res = one_run(wl, args.first_seed + k, args.seconds)
            runs.append(res)
            print(f"{wl} seed {args.first_seed + k}: " + " ".join(
                f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()
            ) + f" attempted={res['attempted']} failed={res['failed']} correct={res['correct']}",
                file=sys.stderr, flush=True)
        metrics = runs[0]["metrics"]
        report[wl] = {
            m: summarize([r["metrics"][m]["value"] for r in runs]) | {"unit": metrics[m]["unit"]}
            for m in metrics
        }
        report[wl]["failed_share"] = sorted({r["failed"] / r["attempted"] for r in runs})
        report[wl]["elapsed_s"] = time.perf_counter() - t_wl
        for m, s in report[wl].items():
            if isinstance(s, dict):
                print(f"{wl:13s} {m:12s} median {s['median']:9.4f} {s['unit']:8s} "
                      f"q1 {s['q1']:9.4f}  q3 {s['q3']:9.4f}  spread {s['spread']:.3f}")
    print(f"elapsed: {time.perf_counter() - t_all:.0f} s for {args.runs} runs of each workload")
    print(json.dumps(report))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
