"""Summarise archived runs: medians, spreads and the tracing overhead.

    python3 perfbench/report.py [FILE ...] [--since 20261017T000000] [--json]

Reads run records (perfbench/results/*.json by default, or the given
result and archive files) and groups them by (source hash, workload).  For each metric it prints the median over runs and the
spread, taken as the distance between the first and third quartile of
the runs' values (statistics.quantiles, n=4) as a share of the median.
The tracing overhead is the median, over seeds run both ways, of the
traced run's pass_s over the untraced run's pass_s, minus one.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def load(paths: list[str], since: str = "") -> list[dict]:
    """Run records from result files (one record each) or archive files
    (a list of records); smoke runs are left out."""
    out = []
    for path in paths:
        with open(path) as f:
            data = json.load(f)
        for r in data if isinstance(data, list) else [data]:
            stamp = r["run_id"].split("-")[-2]
            if stamp >= since and not r["sizes"].get("smoke"):
                out.append(r)
    return out


def summarise(runs: list[dict]) -> dict:
    groups: dict[tuple, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for r in runs:
        groups[(r["source_hash"], r["workload"])][r["trace"]].append(r)
    out = {}
    for (src, workload), by_trace in sorted(groups.items()):
        untraced, traced = by_trace.get(0, []), by_trace.get(1, [])
        metrics = {}
        for r in untraced:
            for name, m in r["metrics"].items():
                metrics.setdefault(name, []).append(m["value"])
        row = {
            "runs": len(untraced), "traced_runs": len(traced),
            "seeds": sorted({r["seed"] for r in untraced}),
            "correct": all(r["failed"] == 0 for r in untraced + traced),
            "metrics": {n: {"median": statistics.median(v), "spread": spread(v)}
                        for n, v in metrics.items()},
        }
        # pair traced and untraced runs of the same seed, so that drift in
        # the host's speed between runs cancels as far as it can
        base = {r["seed"]: r["e2e"]["pass_s"] for r in untraced}
        ratios = [r["e2e"]["pass_s"] / base[r["seed"]] for r in traced
                  if r["seed"] in base]
        if ratios:
            row["tracing_overhead"] = statistics.median(ratios) - 1
            row["tracing_pairs"] = len(ratios)
        if traced:
            row["span_coverage_min"] = min(
                r["metrics"]["trace.span_coverage"]["value"] for r in traced)
        out[f"{workload} @ {src}"] = row
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="*", help="result or archive files "
                    "(default: perfbench/results/*.json)")
    ap.add_argument("--since", default="", help="UTC stamp, e.g. 20261017T0300")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()
    files = args.files or sorted(glob.glob(os.path.join(HERE, "results", "*.json")))
    summary = summarise(load(files, args.since))
    if args.json:
        print(json.dumps(summary, indent=1))
        return
    for key, row in summary.items():
        print(f"{key}: {row['runs']} runs, {row['traced_runs']} traced, "
              f"correct={row['correct']}, seeds={row['seeds']}")
        for name, m in row["metrics"].items():
            print(f"  {name:16s} median {m['median']:12.4f}  spread {m['spread']:.4f}")
        if "tracing_overhead" in row:
            print(f"  tracing overhead {row['tracing_overhead']:+.3f} "
                  f"(median of {row['tracing_pairs']} same-seed pairs)")
        if "span_coverage_min" in row:
            print(f"  span coverage (min over traced runs) {row['span_coverage_min']:.3f}")


if __name__ == "__main__":
    main()
