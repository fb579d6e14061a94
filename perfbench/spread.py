"""Summarise benchmark results: median and quartile spread per metric.

    python3 perfbench/spread.py RESULT.json... [--out SUMMARY.json]

Each RESULT.json is one run's record as ``run.py`` saves it under
``.perfbench_work/results/``. Runs are grouped by workload and trace mode;
for every metric the summary gives the values, their median and the
spread, the distance between the first and third quartile as a share of
the median (``statistics.quantiles(values, n=4)``).

A set is flagged ``drifted`` when the host's speed moved under it: when the
spread of the contention probe's single-thread rate (``burn_rate``, taken
before and after every run) exceeds the smallest end-to-end bound of
``BENCHMARK.json``. Such a set cannot tell a change from host drift.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else 0.0


def host_drift(runs: list[dict]) -> float:
    """Spread of the single-thread probe rate over a set's runs."""
    return spread([r["env"][k]["burn_rate"] for r in runs
                   for k in ("contention_before", "contention_after")])


def summarise(records: list[dict], drift_bound: float) -> dict:
    groups: dict[str, list[dict]] = {}
    for r in records:
        groups.setdefault(f"{r['workload']}/trace{r['trace']}", []).append(r)
    out = {}
    for key, runs in sorted(groups.items()):
        metrics: dict[str, list[float]] = {}
        for r in runs:
            vals = dict(r["layers"] if r["trace"] else r["e2e"])
            vals["error_rate"] = r["error_rate"]
            if r.get("out_bytes_per_doc") is not None:
                vals["out_bytes_per_doc"] = r["out_bytes_per_doc"]
            for part, v in r["part_docs_per_s"].items():
                vals[f"{part}.docs_per_s"] = v
            for k, v in vals.items():
                metrics.setdefault(k, []).append(v)
        out[key] = {
            "seeds": [r["seed"] for r in runs],
            "contended": sum(r["env"]["contended"] for r in runs),
            "host_drift": host_drift(runs),
            "drifted": host_drift(runs) > drift_bound,
            "env": runs[0]["env"],
            "metrics": {
                k: {"median": statistics.median(v), "spread": spread(v),
                    "values": v}
                for k, v in metrics.items()
            },
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("results", nargs="+")
    ap.add_argument("--out")
    a = ap.parse_args()
    records = []
    for p in a.results:
        with open(p) as f:
            records.append(json.load(f))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bound = min(m["bound"] for m in json.load(f)["end_to_end"])
    summary = summarise(records, bound)
    for key, g in summary.items():
        print(f"{key}: {len(g['seeds'])} runs, {g['contended']} contended, "
              f"host drift {g['host_drift']:.3f}"
              f"{' DRIFTED' if g['drifted'] else ''}")
        for k, m in g["metrics"].items():
            print(f"  {k:32s} median={m['median']:.6g} spread={m['spread']:.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
