#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  medallion_arrivals  scheduled ticks of graft.pipeline.Medallion.run
  query_sweep         one declared query per pack of graft.SparkEntry.queries

The program is compiled from `src/main/scala` together with the
benchmark's own sources (`perfbench/build.py`), then run in one JVM at
local[<cores>]. Every file the run writes lives under one scratch root
in `.bench_build/runs/`, deleted at the end. The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Earlier stdout lines carry the seed and
the host canaries taken before and after the workload.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion_arrivals", "query_sweep")
# the operation the op_* metrics describe, per workload; geometric means
# rather than medians: the sweep's eleven queries differ in kind, and
# their median jumps between clusters of query times. The end-to-end
# op metrics are the JVM's CPU time per operation; its wall time is
# per-layer, since CPU contention from other tenants of a shared host
# moves it by a third from one run to the next (see README.md)
PRIMARY = {"medallion_arrivals": "arrival", "query_sweep": "query"}
# per-layer metric families only one workload produces
FAMILIES = {"medallion_arrivals": ("medallion.",),
            "query_sweep": ("sweep.", "streaming.")}
# scale factor of the generated tables (medallion uses sf 0.1 events)
SCALE = {"query_sweep": 0.01}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def java_cmd(jar: Path, scratch: Path, args):
    """The benchmark JVM: every file it writes goes under `scratch`
    (java.io.tmpdir, spark.local.dir, the warehouse, stream scratch,
    persisted root); no hsperfdata file is written to the system tmp."""
    for d in ("tmp", "local", "stream", "persisted"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ,
               GRAFT_STREAM_SCRATCH=str(scratch / "stream"),
               SPARK_GRAFT_PERSISTED_ROOT=str(scratch / "persisted"),
               SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dspark.local.dir={scratch / 'local'}",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([str(jar), str(build.spark_jars() / "*")]),
            "graftbench.Main", *args, "--root", str(scratch)]
    return cmd, env


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(jar, workload, seed, seconds, trace, scratch, out):
    cmd, env = java_cmd(
        jar, scratch,
        ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--out", str(out)])
    # set-up, checks and the JVM's own start take up to about two minutes
    timeout_s = 120 + 2 * seconds
    log_path = scratch.parent / f"{scratch.name}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {timeout_s:.0f}s")
    if proc.returncode != 0:
        raise SystemExit(f"benchmark JVM failed ({proc.returncode}):\n"
                         f"{log_path.read_text()[-4000:]}")
    return json.loads(out.read_text())


def check_outputs(res, data_dir):
    """Oracle-check every recorded output; returns the failure messages."""
    if not res["checks"]:
        return []
    from oracle import Oracle
    oracle = Oracle(str(data_dir))
    bad = []
    for c in res["checks"]:
        why = oracle.check(c["name"], c["sql"], c["dir"])
        if why:
            bad.append(f"{Path(c['dir']).name}: {why}")
    return bad


def metrics(workload, res, wrong):
    ops = res["ops"]
    done = [o for o in ops if o["kind"] == PRIMARY[workload] and o["ok"]]
    lat = [o["ms"] for o in done]
    cpu = [o["cpu_ms"] for o in done]
    if not lat:
        raise SystemExit("no successful operation was measured")
    attempted = len(ops)
    # an operation that threw, or whose output failed its check
    failed = sum(1 for o in ops if not o["ok"]) + \
        len(res["wrong"]) + len(wrong)
    def kind_p50(k):
        xs = [o["ms"] for o in ops if o["kind"] == k and o["ok"]]
        return quantile(xs, 0.5) if xs else 0.0
    m = {
        "setup_s": res["setup_s"],
        "op_cpu_geomean_ms": statistics.geometric_mean(cpu),
        "op_cpu_mean_ms": statistics.fmean(cpu),
        "heap_after_gc_mb": res["heap_after_gc_mb"],
        "disk_left_mb": res["disk_left_mb"],
    }
    layer = dict(res["layer"])
    layer.update({
        "op_geomean_ms": statistics.geometric_mean(lat),
        "op_mean_ms": statistics.fmean(lat),
        "op_p50_ms": quantile(lat, 0.5),
        "op_p75_ms": quantile(lat, 0.75),
        "op_p90_ms": quantile(lat, 0.9),
        "ops": len(lat),
        "failed_share": failed / max(1, attempted),
        "medallion.empty_tick_p50_ms": kind_p50("empty_tick"),
    })
    return m, layer, attempted, failed


def run_once(workload, seed, seconds, trace):
    """One benchmark run; returns its raw result, metrics and counts."""
    jar = build.build(ROOT)  # exits non-zero when the program is absent
    work = ROOT / ".bench_build"
    runs, results = work / "runs", work / "results"
    runs.mkdir(parents=True, exist_ok=True)
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}"
    scratch = runs / f"{tag}-{os.getpid()}"
    out = results / f"{tag}.json"
    gen_start = time.perf_counter()
    if workload == "medallion_arrivals":
        gen.write_arrivals(scratch / "data", seed)
    else:
        gen.write_tables(scratch / "data", seed, SCALE[workload])
    gen_s = time.perf_counter() - gen_start
    try:
        res = run_jvm(jar, workload, seed, seconds, trace, scratch, out)
        wrong = check_outputs(res, scratch / "data")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    e2e, layer, attempted, failed = metrics(workload, res, wrong)
    return {"res": res, "e2e": e2e, "layer": layer, "attempted": attempted,
            "failed": failed, "generate_s": gen_s,
            "failures": res["failures"] + res["wrong"] + wrong,
            "spans": out.with_name(out.name + ".spans.json")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    r = run_once(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps({"seed": args.seed, "workload": args.workload,
                      "generate_s": r["generate_s"], "stamps": r["res"]["stamps"],
                      "failures": r["failures"]}))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    values = r["e2e"]
    if args.trace:
        # another workload's family reads 0: nothing of it ran here
        others = sum((f for w, f in FAMILIES.items() if w != args.workload), ())
        values = {w["name"]: 0.0 for w in wanted if w["name"].startswith(others)}
        values.update(r["layer"])
    missing = [w["name"] for w in wanted if w["name"] not in values]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": r["failed"] == 0, "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {w["name"]: {"value": values[w["name"]], "unit": w["unit"]}
                    for w in wanted}}))


if __name__ == "__main__":
    main()
