#!/usr/bin/env python3
"""Interleaved parent/change pairs of the BENCHMARK.json benchmark.

Usage:
    git archive <parent-rev> | tar -x -C /tmp/parent
    git archive <change-rev> | tar -x -C /tmp/change
    python3 tools/bench_pairs.py /tmp/parent /tmp/change \\
        --workload trickle --workload analyst_mix --seeds 3001-3010 \\
        [--out runs.jsonl]

Runs `python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`
in each checkout, S being the parent's `BENCHMARK.json` run_seconds, one
run at a time: for every workload and seed of the range one pair, the
parent first on even pair indexes and the change first on odd ones.
Each run's result line is printed as it lands (and appended to `--out`
as JSON, one line per run). A checkout builds itself on its first run;
the build is outside the timed JVM.

Then, per workload and end-to-end metric of the parent's BENCHMARK.json,
it prints both medians, the parent's q1-q3, the change's wins/ties over
every pair run (a pair whose change run failed counts as a loss; by the
metric's `better` direction), the relative change of the medians and a
verdict against the metric's bound:
  worse       the change's median is worse than the parent's by more
              than the bound;
  better      the change wins at least 9/10 of the pairs, the medians
              differ by more than the parent's q3 - q1 and the change
              fails no more operations than the parent;
  unresolved  the parent's q3 - q1 is wider than the bound (relative to
              its median) and not every change run beats every parent
              run;
  within      otherwise.
Failed-operation counts (`failed` / `attempted`) and incorrect runs are
summed per side. A run that exits non-zero is reported and left out of
the medians.

The tool only invokes the benchmark; it reads BENCHMARK.json and
changes nothing under either checkout but the benchmark's own
`.bench_build/`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seed_list(spec):
    """`3001-3010` -> [3001, ..., 3010]."""
    lo, hi = spec.split("-")
    return list(range(int(lo), int(hi) + 1))


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def value(metric):
    """A result metric: `{"value": v, "unit": u}` or a bare number."""
    return metric["value"] if isinstance(metric, dict) else metric


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(metric, pairs, more_failed):
    """One metric's summary line over every pair run: `pairs` holds
    (parent, change) values, None where that side's run failed."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    parent = [p for p, _ in pairs if p is not None]
    change = [c for _, c in pairs if c is not None]
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    both = [(p, c) for p, c in pairs if p is not None and c is not None]
    wins = sum(1 for p, c in both if (c < p if lower else c > p))
    ties = sum(1 for p, c in both if c == p)
    rel = (cm - pm) / pm if pm else 0.0
    worse_by = rel if lower else -rel
    if worse_by > bound:
        v = "worse"
    elif (wins >= 0.9 * len(pairs) and abs(cm - pm) > q3 - q1
          and not more_failed):
        v = "better"
    elif pm and (q3 - q1) / abs(pm) > bound and not (
            max(change) < min(parent) if lower else min(change) > max(parent)):
        v = "unresolved"
    else:
        v = "within"
    return (f"  {metric['name']:<28} parent {pm:10.4g} (q1-q3 {q1:.4g}-{q3:.4g})"
            f"  change {cm:10.4g}  {rel:+7.2%}  wins {wins}/{len(pairs)}"
            f" ties {ties}  bound {bound:.0%}: {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, type=seed_list)
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    bench = json.loads((a.parent / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    runs = []
    for w in a.workload:
        for i, seed in enumerate(a.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_one(sides[side], w, seed, seconds)
                run = {"workload": w, "seed": seed, "pair": i, "side": side,
                       "first": side == order[0], "result": res}
                runs.append(run)
                print(json.dumps(run), flush=True)
                if a.out:
                    with a.out.open("a") as f:
                        f.write(json.dumps(run) + "\n")
    print()
    for w in a.workload:
        print(f"{w} ({len(a.seeds)} seeds, {seconds:g} s runs)")
        got = {(r["seed"], r["side"]): r["result"] for r in runs
               if r["workload"] == w}
        failed = {}
        for side in sides:
            rs = [got[(s, side)] for s in a.seeds]
            ok = [r for r in rs if r]
            failed[side] = sum(r["failed"] for r in ok)
            print(f"  {side}: {len(ok)}/{len(rs)} runs completed,"
                  f" {sum(1 for r in ok if not r['correct'])} incorrect,"
                  f" failed operations {failed[side]}"
                  f"/{sum(r['attempted'] for r in ok)}")
        if not any(got[(s, "parent")] for s in a.seeds) or not any(
                got[(s, "change")] for s in a.seeds):
            continue

        def metric_of(s, side, n):
            r = got[(s, side)]
            return value(r["metrics"][n]) if r and n in r["metrics"] else None

        for m in bench["end_to_end"]:
            pairs = [(metric_of(s, "parent", m["name"]),
                      metric_of(s, "change", m["name"])) for s in a.seeds]
            if all(p is None for p, _ in pairs) or all(c is None for _, c in pairs):
                continue
            print(verdict(m, pairs, failed["change"] > failed["parent"]))


if __name__ == "__main__":
    main()
