#!/usr/bin/env python3
"""Attribute JFR execution samples to the benchmark's trace spans.

    jfr print --json --stack-depth 300 --events jdk.ExecutionSample rec.jfr > samples.json
    python3 tools/jfr_spans.py samples.json .bench_build/traces/trickle-7-t1-<pid>.json

Keeps the samples of the driver threads (`main` and `stream execution
thread ...`) whose time falls inside a `layout.merge_once` or `stream.run`
span, and prints, per span name, the sample count and the methods found
most often anywhere on those samples' stacks (each method counted once per
sample), so a caller is charged for the time spent below it.
Options: --spans a,b (span names), --top N (methods per span, 25),
--match S (only methods whose qualified name contains S, e.g. graft.).
"""
import argparse
import collections
import datetime
import json

THREADS = ("main", "stream execution thread")


def epoch_ms(ts: str) -> float:
    """JFR's ISO-8601 time (nanosecond digits allowed) as epoch ms."""
    ts = ts.rstrip("Z")
    base, _, frac = ts.partition(".")
    t = datetime.datetime.fromisoformat(base).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() * 1000 + (float("0." + frac) * 1000 if frac else 0.0)


def method(frame: dict) -> str:
    m = frame["method"]
    return f'{m["type"]["name"].replace("/", ".")}.{m["name"]}'


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("samples")
    ap.add_argument("trace")
    ap.add_argument("--spans", default="layout.merge_once,stream.run")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--match", default="")
    a = ap.parse_args()
    names = a.spans.split(",")
    spans = [s for s in json.load(open(a.trace))["spans"] if s["name"] in names]
    events = json.load(open(a.samples))["recording"]["events"]
    count = collections.Counter()
    methods = {n: collections.Counter() for n in names}
    truncated = 0
    for e in events:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if not thread.startswith(THREADS):
            continue
        t = epoch_ms(v["startTime"])
        span = next((s for s in spans if s["start_ms"] <= t <= s["end_ms"]), None)
        if span is None or not v.get("stackTrace"):
            continue
        count[span["name"]] += 1
        truncated += bool(v["stackTrace"].get("truncated"))
        seen = {method(f) for f in v["stackTrace"]["frames"]}
        methods[span["name"]].update(m for m in seen if a.match in m)
    for n in names:
        print(f"== {n}: {count[n]} samples")
        for m, c in methods[n].most_common(a.top):
            print(f"{c:6d} {100.0 * c / max(1, count[n]):5.1f}%  {m}")
    if truncated:
        print(f"({truncated} stacks truncated: raise --stack-depth and stackdepth)")


if __name__ == "__main__":
    main()
