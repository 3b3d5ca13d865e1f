"""Compare two sets of benchmark records (``.perfbench/results/*.json``).

    python3 perfbench/compare.py --base A1.json A2.json --new B1.json B2.json

Prints, per workload and metric, each side's median and the change.  It
refuses (exit code 2) to compare records whose host stamps differ in
cores, MemTotal, Java, pyspark or Python version, and records with no
host stamp at all -- such as the 32-core ``BENCH_r0*.json`` trajectory,
which is never a baseline for this benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        if not isinstance(rec, dict) or "host" not in rec:
            raise ValueError(f"{p}: no host stamp; not a perfbench record")
        out.append(rec)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        base, new = load(args.base), load(args.new)
    except (ValueError, OSError) as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    ref = base[0]["host"]
    for rec in base + new:
        diff = host.comparable(ref, rec["host"])
        if diff:
            print(f"refusing to compare: host stamps differ in {diff}", file=sys.stderr)
            return 2
    keys = sorted({(r["workload"], r["trace"]) for r in base + new})
    for wl, tr in keys:
        b = [r for r in base if (r["workload"], r["trace"]) == (wl, tr)]
        n = [r for r in new if (r["workload"], r["trace"]) == (wl, tr)]
        if not b or not n:
            continue
        print(f"{wl} trace={tr}: base {len(b)} runs, new {len(n)} runs")
        for m in b[0]["metrics"]:
            mb = statistics.median(r["metrics"][m]["value"] for r in b)
            mn = statistics.median(r["metrics"][m]["value"] for r in n if m in r["metrics"])
            ratio = f"{mn / mb:8.3f}x" if mb else "      n/a"
            print(f"  {m:40s} {mb:14.6g} -> {mn:14.6g} {ratio} "
                  f"{b[0]['metrics'][m]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
