"""Summarize a benchmark trace, or diff two.

    python3 perfbench/summarize.py TRACE.jsonl
    python3 perfbench/summarize.py CHANGE.jsonl --against PARENT.jsonl

A trace is the span file a `--trace 1` run leaves in
.bench_work/traces/<workload>-<seed>.jsonl. The summary prints, per span
name and per layer (the name's first component), the self time (duration
minus child spans) and the Spark counters, each per traced operation. The
diff prints the change against the parent trace, largest self-time change
first, so a performance change can show in which layer its saving sits.
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import report  # noqa: E402

COUNTERS = ("jobs", "tasks", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


def summarize(path):
    """{row name: {"self_ms", "calls", counters...}} per traced operation,
    for every span name and every layer."""
    spans, _ = report.read_trace(path)
    n = max(len({s["op"] for s in spans}), 1)
    own = report.self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = {}
    for s in spans:
        # counters of the span itself, net of its children, like self time
        net = {c: s["c"].get(c, 0) - sum(k["c"].get(c, 0) for k in kids.get(s["id"], []))
               for c in COUNTERS}
        for key in (s["name"], "layer:" + s["name"].split(".")[0]):
            r = rows.setdefault(key, {"self_ms": 0.0, "calls": 0, **{c: 0.0 for c in COUNTERS}})
            r["self_ms"] += own[s["id"]] / n
            r["calls"] += 1 / n
            for c in COUNTERS:
                r[c] += net[c] / n
    return rows


def fmt(v):
    return f"{v:12.1f}" if abs(v) < 1e7 else f"{v:12.3g}"


def print_table(rows, title):
    print(title)
    print(f"{'span / layer':40s}{'self_ms':>12s}{'calls':>12s}" + "".join(f"{c:>20s}" for c in COUNTERS))
    for name, r in sorted(rows.items(), key=lambda kv: -abs(kv[1]["self_ms"])):
        print(f"{name:40s}{fmt(r['self_ms'])}{fmt(r['calls'])}" + "".join(f"{fmt(r[c]):>20s}" for c in COUNTERS))


def diff(change, parent):
    keys = set(change) | set(parent)
    zero = {"self_ms": 0.0, "calls": 0.0, **{c: 0.0 for c in COUNTERS}}
    return {k: {f: change.get(k, zero)[f] - parent.get(k, zero)[f] for f in zero} for k in keys}


def main():
    ap = argparse.ArgumentParser(description="Summarize or diff benchmark traces.")
    ap.add_argument("trace")
    ap.add_argument("--against", help="parent trace to diff against")
    a = ap.parse_args()
    rows = summarize(a.trace)
    if a.against:
        print_table(diff(rows, summarize(a.against)),
                    f"change - parent, per traced operation ({a.trace} vs {a.against})")
    else:
        print_table(rows, f"per traced operation ({a.trace})")


if __name__ == "__main__":
    main()
