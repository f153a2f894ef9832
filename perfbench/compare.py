#!/usr/bin/env python3
"""Compares two sets of benchmark results, e.g. a parent commit and a change.

    python3 perfbench/compare.py <base.jsonl> <new.jsonl>

Each file holds run summaries, one JSON object a line, as
`perfbench/run.py` appends them to $CARGO_TARGET_DIR/results.jsonl.

It refuses (exit 2) to compare results whose environment stamps differ
(nproc, JVM heap, Spark version): numbers from another machine shape
are not comparable. For every workload and metric it prints each side's
median and quartiles, the change of the median as a share of the base
median, and a verdict against the metric's bound in BENCHMARK.json:
  worse       the new median is worse by more than the bound;
  unresolved  the base runs' own quartile spread exceeds the bound;
  ok          otherwise.
Per-layer counts (traced runs) are marked "moved" when their medians
differ at all, which separates a code change (counts moved) from an
environment swing (only times moved). Exit code 1 when any metric is
worse.
"""
import json
import os
import statistics
import sys

STAMP_KEYS = ("nproc", "heap_max_mb", "spark_version")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def stamps(runs):
    return {tuple((k, r["stamp"][k]) for k in STAMP_KEYS) for r in runs}


def main(base_path, new_path):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(base_path), load(new_path)
    s = stamps(base) | stamps(new)
    if len(s) != 1:
        print("refusing to compare: the runs' environment stamps differ:", file=sys.stderr)
        for st in sorted(s):
            print("  " + ", ".join(f"{k}={v}" for k, v in st), file=sys.stderr)
        return 2
    worse = False
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        for trace in (0, 1):
            b = [r for r in base if r["workload"] == wl and r["trace"] == trace]
            n = [r for r in new if r["workload"] == wl and r["trace"] == trace]
            if not b or not n:
                continue
            print(f"== {wl} ({'traced' if trace else 'end to end'}; {len(b)} base runs, {len(n)} new runs)")
            for name in sorted(set(b[0]["metrics"]) & set(n[0]["metrics"])):
                m = metrics.get(name, {"better": "lower"})
                bv = [r["metrics"][name] for r in b]
                nv = [r["metrics"][name] for r in n]
                bm, nm = statistics.median(bv), statistics.median(nv)
                (b1, b3), (n1, n3) = quartiles(bv), quartiles(nv)
                change = (nm - bm) / bm if bm else 0.0
                if "bound" in m:
                    spread = (b3 - b1) / bm if bm else 0.0
                    bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
                    verdict = "worse" if bad else "unresolved" if spread > m["bound"] else "ok"
                    worse |= bad
                else:
                    verdict = "moved" if bm != nm else "flat"
                print(f"  {name:28s} base {bm:12.4f} [{b1:.4f}, {b3:.4f}]  new {nm:12.4f} "
                      f"[{n1:.4f}, {n3:.4f}]  {change:+8.1%}  {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
