#!/usr/bin/env python3
"""Core-scaling artifact (VERDICT r21 #2): the driver's sf0.1 scaling
probe returned low/high ratios ~1 for every row because at sf0.1
nothing is parallelism-bound (0.2-7 s rows, per-query System.gc(),
micro-batch cadence floors). This tool measures the SAME contract
(graft.Bench, $SPARK_GRAFT_CPUS, noop sink, canary stamps) at a data
size where the data-dominated rows are compute-bound: the 30x
replicated corpus (tools/ScaleCurve - the protocol of the scale curves
in COVERAGE.md at ff8d9ba), low vs high core count.

Writes bench_scaling.json at the repo root:

    {"scale": 30, "queries": [...], "cpus": {"8": {...}, "32": {...}},
     "ratio_8_over_32": {name: r, ...}}

Only batch data-dominated rows are included - streaming rows sit on
micro-batch cadence floors and write-lifecycle rows on fsync floors at
every core count, which is exactly the vacuity being fixed.

Usage: tools/bench_scaling.py [scaleRoot] [reps]
Run from the repo root; nothing heavy concurrent.
"""
import json
import os
import statistics
import subprocess
import sys
import time

QUERIES = [
    "graph_triangles", "graph_pagerank", "dedup_fuzzy", "dedup_ppjoin",
    "copurchase_pairs", "bpe_encode", "text_perplexity",
    "text_collocations", "lm_kn_counts",
]
CPUS = ["32", "8"]


def run_bench(sf_dir: str, cpus: str):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = cpus
    env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(QUERIES)
    p = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                       capture_output=True, text=True, env=env)
    if p.returncode != 0:
        raise RuntimeError(f"bench failed (exit {p.returncode}):\n"
                           + p.stdout[-2000:] + p.stderr[-2000:])
    for line in p.stdout.splitlines():
        if '"metric"' in line:
            return json.loads(line[line.index("{"):])
    raise RuntimeError("no bench JSON line:\n" + p.stdout[-2000:])


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft-scale"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.path.join(root, "x30")
    if not os.path.isdir(sf_dir):
        subprocess.run(["sbt", "-batch",
                        "Test/runMain graft.tools.EnsureScale"],
                       check=True,
                       env={**os.environ, "GRAFT_SCALE_FACTORS": "30",
                            "GRAFT_SCALE_ROOT": root})
    out = {"scale": 30, "sf_dir": sf_dir, "queries": QUERIES,
           "generated_unix": int(time.time()), "reps": reps, "cpus": {}}
    # alternate cpu counts per rep so a host phase cannot bias one side
    runs = {c: [] for c in CPUS}
    for r in range(reps):
        for c in CPUS:
            art = run_bench(sf_dir, c)
            runs[c].append(art)
            print(f"rep {r} cpus {c}: total {art['value']:.1f}s "
                  f"host {art['host_factor']:.2f} fs {art['fs_factor']:.2f}",
                  flush=True)
    for c in CPUS:
        med = {q: statistics.median(a["queries"][q] for a in runs[c])
               for q in QUERIES}
        out["cpus"][c] = {
            "per_query_median_sec": med,
            "totals": [a["value"] for a in runs[c]],
            "host_factor": [a["host_factor"] for a in runs[c]],
            "fs_factor": [a["fs_factor"] for a in runs[c]],
            "degraded": [a["degraded"] for a in runs[c]],
        }
    out["ratio_8_over_32"] = {
        q: round(out["cpus"]["8"]["per_query_median_sec"][q]
                 / out["cpus"]["32"]["per_query_median_sec"][q], 2)
        for q in QUERIES}
    with open("bench_scaling.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["ratio_8_over_32"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
