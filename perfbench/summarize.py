"""Median, quartiles and spread of the end-to-end metrics over result files.

    python3 perfbench/summarize.py perfbench/results/*.json
    python3 perfbench/summarize.py --json perfbench/results/*.json

Groups untraced results by workload, engine source digest and core count,
and prints for each metric the sample count, median, first and third
quartile (``statistics.quantiles(values, n=4)``) and the spread: the
distance between the quartiles as a share of the median. Runs whose CPU
steal exceeded the benchmark's limit are counted and listed, not dropped.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict


def summarize(paths: list[str]) -> dict:
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            st = r["stamp"]
            groups[(r["workload"], st["source_sha256"], st["nproc"])].append(r)
    out = {}
    for (wl, sha, nproc), runs in sorted(groups.items()):
        metrics = {}
        for k in runs[0]["end_to_end"]:
            vals = [r["end_to_end"][k] for r in runs if k in r["end_to_end"]]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            metrics[k] = {
                "n": len(vals),
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
            }
        out[f"{wl} c{nproc} {sha}"] = {
            "workload": wl,
            "nproc": nproc,
            "source_sha256": sha,
            "runs": len(runs),
            "failed_runs": sum(1 for r in runs if not r["correct"]),
            "steal_flagged": sorted(r["stamp"]["seed"] for r in runs if not r["stamp"]["clean_run"]),
            "steal_pct": sorted(round(r["stamp"]["steal_pct"], 2) for r in runs),
            "seeds": sorted(r["stamp"]["seed"] for r in runs),
            "metrics": metrics,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args()
    out = summarize(args.paths)
    if args.json:
        print(json.dumps(out, indent=1))
        return
    for key, g in out.items():
        print(
            f"{key}: {g['runs']} runs, {g['failed_runs']} failed, "
            f"steal-flagged seeds {g['steal_flagged'] or 'none'}, steal % {g['steal_pct']}"
        )
        for k, m in g["metrics"].items():
            print(
                f"  {k:<18} n={m['n']:<3} median={m['median']:<12.4f} "
                f"q1={m['q1']:<12.4f} q3={m['q3']:<12.4f} spread={m['spread']:.4f}"
            )


if __name__ == "__main__":
    main()
