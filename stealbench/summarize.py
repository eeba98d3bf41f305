#!/usr/bin/env python3
"""Medians and quartile spreads of archived benchmark runs.

  python3 stealbench/summarize.py <runs.jsonl>...

Each input line is one run: {"workload", "seed", "run_s", "result": <the
run's last stdout line>, ...}. Prints, per file, workload and metric, the
median and the spread (third minus first quartile, as
`statistics.quantiles(values, n=4)` gives them, over the median) as JSON.
"""
import json
import statistics
import sys


def summarize(path):
    by = {}
    for line in open(path):
        if line.strip():
            rec = json.loads(line)
            by.setdefault(rec["workload"], []).append(rec)
    out = {}
    for w, recs in sorted(by.items()):
        res = [r["result"] for r in recs if "result" in r]
        row = {"runs": len(recs), "correct": all(r["correct"] for r in res),
               "failed": sum(r["failed"] for r in res),
               "run_s_median": statistics.median(r["run_s"] for r in recs)}
        for m, v in res[0]["metrics"].items():
            vals = [r["metrics"][m]["value"] for r in res]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            row[m] = {"unit": v["unit"], "median": med,
                      "spread": (q[2] - q[0]) / med if med else 0.0}
        out[w] = row
    return out


if __name__ == "__main__":
    print(json.dumps({p: summarize(p) for p in sys.argv[1:]}, indent=1))
