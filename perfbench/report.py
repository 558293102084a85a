#!/usr/bin/env python3
"""Traced-run report: per-layer numbers, unattributed share and tracing
overhead of every workload, at one seed.

Usage (from the repository root):
  python3 perfbench/report.py --seed <n> [--seconds <s>] [--out <json>]

For each workload it runs the benchmark untraced, then traced, on the
same seed. The traced run's per-layer metrics and span self times are
recorded; the tracing overhead is each end-to-end metric of the traced
run minus the untraced one (one pair per workload: a single pair is
within run-to-run noise, so read it as a bound, not a measurement).
"""
import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def span_self_seconds(path: Path):
    """Self time per span name: duration minus what its children cover."""
    spans = json.loads(path.read_text())
    child = defaultdict(float)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end_ms"] - s["start_ms"]
    self_s = defaultdict(float)
    for s in spans:
        self_s[s["name"]] += (s["end_ms"] - s["start_ms"] - child[s["id"]]) / 1e3
    return dict(sorted(self_s.items(), key=lambda kv: -kv[1]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", default=str(HERE / "results" / "traced.json"))
    args = ap.parse_args()
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    report = {"seed": args.seed, "seconds": seconds, "workloads": {}}
    for w in run.WORKLOADS:
        plain = run.run_once(w, args.seed, seconds, 0)
        traced = run.run_once(w, args.seed, seconds, 1)
        report["workloads"][w] = {
            "correct": plain["failed"] == 0 and traced["failed"] == 0,
            "end_to_end_untraced": plain["e2e"],
            "end_to_end_traced": traced["e2e"],
            "tracing_overhead": {k: traced["e2e"][k] - v for k, v in plain["e2e"].items()},
            "unattributed_share": traced["layer"].get("layer.unattributed.share"),
            "per_layer": traced["layer"],
            "span_self_s": span_self_seconds(traced["spans"]),
            "stamps_untraced": plain["res"]["stamps"],
            "stamps_traced": traced["res"]["stamps"],
        }
        print(f"{w}: done", file=sys.stderr)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
