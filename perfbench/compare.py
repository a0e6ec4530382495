r"""Collect and compare sets of benchmark runs.

Collect one set (one fresh process per run, one seed per run)::

    python3 perfbench/compare.py run --out .perfbench/sets/a.jsonl \
        --seeds 1-10
    python3 perfbench/compare.py run --out .perfbench/sets/a.jsonl \
        --seeds 1-10 --workloads corpus

Summarise one set, or compare a base set with a new one::

    python3 perfbench/compare.py show .perfbench/sets/a.jsonl
    python3 perfbench/compare.py show .perfbench/sets/a.jsonl \
        .perfbench/sets/b.jsonl

``show`` prints, per workload and end-to-end metric, the median and
quartiles of each set and the spread (quartile distance over median).
It flags ``SPREAD`` where a set's spread exceeds the metric's bound
(the comparison is then unresolved) and ``WORSE`` where the new median
is worse than the base median by more than the bound. A run whose
correctness check failed or that printed no result is listed as such.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args) -> int:
    b = bench()
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in b["workloads"]])
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    for w in names:
        for s in seeds(args.seeds):
            cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(b["run_seconds"]),
                                  "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1]) if p.returncode == 0 else None
            except (IndexError, json.JSONDecodeError):
                result = None
            rec = {"workload": w, "seed": s, "rc": p.returncode,
                   "wall_s": time.monotonic() - t0, "result": result}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            ok = result["correct"] if result else "no result"
            print(f"{w} seed={s} rc={p.returncode} correct={ok} "
                  f"wall={rec['wall_s']:.1f}s", flush=True)
    return 0


def load(path: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                runs.setdefault(rec["workload"], []).append(rec)
    return runs


def stats(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def show(args) -> int:
    b = bench()
    sets = [load(p) for p in args.sets]
    print(f"{'workload':<13} {'metric':<20} "
          + "  ".join(f"{'set ' + str(i + 1) + ' median [q1, q3] spread':<40}"
                      for i in range(len(sets))) + "  change   flags")
    flagged = 0
    for w in [x["name"] for x in b["workloads"]]:
        for i, runs in enumerate(sets):
            bad = [r["seed"] for r in runs.get(w, [])
                   if not (r["result"] and r["result"]["correct"])]
            if bad:
                print(f"{w:<13} set {i + 1}: failed or incorrect runs, "
                      f"seeds {bad}")
                flagged += 1
        for m in b["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, meds, flags = [], [], []
            for runs in sets:
                vals = [r["result"]["metrics"][name]["value"]
                        for r in runs.get(w, [])
                        if r["result"] and r["result"]["correct"]]
                med, q1, q3 = stats(vals)
                spread = (q3 - q1) / med if med else float("nan")
                cols.append(f"{med:>12.5g} [{q1:.5g}, {q3:.5g}] "
                            f"{spread:6.1%} n={len(vals)}")
                meds.append(med)
                if spread > bound:
                    flags.append("SPREAD")
            change = ""
            if len(meds) == 2 and meds[0]:
                rel = (meds[1] - meds[0]) / meds[0]
                change = f"{rel:+7.1%}"
                worse = rel if m["better"] == "lower" else -rel
                if worse > bound:
                    flags.append("WORSE")
            flagged += bool(flags)
            print(f"{w:<13} {name:<20} " + "  ".join(f"{c:<40}" for c in cols)
                  + f"  {change:>7}  {' '.join(sorted(set(flags)))}")
    return 1 if flagged else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect a set of runs")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    s = sub.add_parser("show", help="summarise or compare sets")
    s.add_argument("sets", nargs="+")
    args = ap.parse_args(argv)
    if args.cmd == "show" and len(args.sets) > 2:
        ap.error("show takes one or two sets")
    return collect(args) if args.cmd == "run" else show(args)


if __name__ == "__main__":
    sys.exit(main())
