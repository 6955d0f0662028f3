#!/usr/bin/env python3
"""Benchmark of the swell pipeline (ingest → stg → int → pres + checks).

Usage (from the repository root):

    python3 perfbench/run.py --workload swell_rebuild --seed 1 \\
        --seconds 15 --trace 0

Workloads (one client, closed loop, `local[<cpus>]`, a fresh JVM and an
empty warehouse per run):

  swell_rebuild  each operation appends one nightly batch, then runs
                 `SwellPipeline.runAll` and `Checks.runAll`: JSON parse and
                 explode, the one (dt, location) window shuffle, the full
                 table write.
  swell_refresh  each operation appends one nightly batch, then runs
                 `SwellPipeline.runIncremental`: per-operation fixed costs
                 (jobs, planning, catalog commands, small appends, the
                 dynamic partition overwrite) dominate.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
from a run with listeners attached. Every metric is printed with its unit,
then the last line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. Outputs are checked
untimed against a DuckDB oracle of the reference's dbt models; a wrong
result exits 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 170

SPEC = json.loads((build.ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
# per-layer metrics, each a median over the traced operations of one run
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]

# Layers whose self times add up to one operation's wall time.
SELF_TIMES = ["ingest.fetch_batch_s", "ingest.append_s", "pipeline.stage_s",
              "pipeline.daily_max_s", "pipeline.write_s", "pipeline.checks_s",
              "pipeline.catalog_s", "pipeline.unattributed_s"]


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, work):
    (work / "tmp").mkdir(parents=True)
    # a fixed heap keeps peak_rss_mb and GC behaviour alike across runs
    cmd = (["java", *build.ADD_OPENS, "-Xms2g", "-Xmx2g", "-Xmn1g",
            "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds),
            str(args.trace), str(work), str(cpus())])
    with open(work / "jvm.log", "w") as log:
        done = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                              timeout=JVM_TIMEOUT_S)
    if done.returncode != 0 or not (work / "jvm.json").exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {done.returncode}:\n{tail}")
    return json.loads((work / "jvm.json").read_text())


def show(name, value, unit, note=""):
    print(f"{name:<44} {value:>14.6g} {unit:<6} {note}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build: {e}")

    work = build.BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        try:
            r = run_jvm(classpath, args, work)
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            sys.exit(str(e))
        jvm_s = time.time() - t0
        checks = dict(r["checks"])
        checks.update(oracle.check_presentation(
            work / "raw.tsv", r["pres_dir"], r["partitioned"], work / "tmp"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = checks["ok"] and all(
        v == 0 for k, v in checks.items()
        if k in ("refresh_minus_rebuild", "rebuild_minus_refresh"))
    ops, passes = r["op_s"], r["pass_s"]
    attempted, failed = r["attempted"], r["failed"]
    if not passes:
        sys.exit("no pass completed without a failure:\n" +
                 "\n".join(r["errors"]))

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cpus()} measured={r['measured_s']:.1f}s "
          f"jvm={jvm_s:.1f}s steal_s={r['steal_s']:.2f}")
    if args.trace == 0:
        metrics = {
            "setup_s": statistics.median(r["setup_s"]),
            # mean, not median: the nightly wall time includes every pause
            "wall_s": statistics.fmean(passes),
            "op_p50_s": statistics.median(ops),
            "peak_rss_mb": r["peak_rss_mb"],
        }
        notes = {
            "setup_s": f"median of {len(r['setup_s'])} set-ups",
            "wall_s": f"mean of {len(passes)} passes",
            "op_p50_s": f"median of {len(ops)} operations",
            "peak_rss_mb": "VmHWM of the JVM",
        }
        units = dict(END_TO_END)
    else:
        metrics = dict(r["layers"])
        metrics["trace.op_p50_s"] = metrics.pop("trace.op_s")
        notes = {k: f"median of {r['traced_ops']} traced operations"
                 for k in metrics}
        units = dict(PER_LAYER)
    for name, unit in units.items():
        show(name, metrics[name], unit, notes.get(name, ""))
    show("failed_share", failed / max(attempted, 1), "share",
         f"{failed} of {attempted} operations threw")
    for e in r["errors"]:
        print(f"# failed: {e}")
    if args.trace == 1:
        selfs = {k: metrics[k] for k in SELF_TIMES}
        top = max(selfs, key=selfs.get)
        print(f"# self times sum to {sum(selfs.values()):.3f} s of a "
              f"{metrics['trace.op_p50_s']:.3f} s traced operation "
              f"(medians); dominant layer: {top}; unattributed: "
              f"{metrics['pipeline.unattributed_s']:.4f} s")
        print(f"# bases: raw_scans_per_op = stages scanning the raw table "
              f"per operation; refresh_useful_row_share = staged rows in "
              f"the touched dates / {metrics['pipeline.stage_rows_out']:.0f} "
              f"staged rows parsed per scan")
    print("# checks: " + ", ".join(f"{k}={v}" for k, v in checks.items()))

    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
