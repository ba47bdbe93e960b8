"""Summarize benchmark runs: per workload and metric, the median, the
quartiles and the spread (interquartile distance over the median).

    python3 perfbench/summarize.py <runs.jsonl> [--json]

Each input line is one run: {"workload", "seed", "result"}, where result is
the JSON object run.py prints as its last line.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(lines: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for rec in lines:
        w = out.setdefault(rec["workload"], {"runs": 0, "failed": 0,
                                             "metrics": {}})
        w["runs"] += 1
        w["failed"] += rec["result"]["failed"]
        for name, m in rec["result"]["metrics"].items():
            w["metrics"].setdefault(name, {"unit": m["unit"],
                                           "values": []})
            w["metrics"][name]["values"].append(m["value"])
    for w in out.values():
        for m in w["metrics"].values():
            v = m.pop("values")
            med = statistics.median(v)
            q1, _, q3 = (statistics.quantiles(v, n=4) if len(v) > 1
                         else (v[0], v[0], v[0]))
            m.update(n=len(v), median=med, q1=q1, q3=q3,
                     spread=(q3 - q1) / med if med else 0.0)
    return out


def main(argv: list[str]) -> int:
    with open(argv[0]) as f:
        lines = [json.loads(x) for x in f if x.strip()]
    s = summarize(lines)
    if "--json" in argv:
        print(json.dumps(s, indent=1))
        return 0
    for wl, w in s.items():
        print(f"{wl}: {w['runs']} runs, {w['failed']} failed operations")
        for name, m in w["metrics"].items():
            print(f"  {name:34s} {m['median']:12.4f} {m['unit']:6s} "
                  f"q1 {m['q1']:10.4f} q3 {m['q3']:10.4f} "
                  f"spread {m['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
