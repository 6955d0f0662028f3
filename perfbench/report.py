#!/usr/bin/env python3
"""Self-agreement and parent/change comparison for `perfbench/run.py`.

  record   run the benchmark in one checkout over seeds and workloads,
           appending one JSON line per run (with its hypervisor steal)
  pairs    run a parent and a change checkout seed by seed, alternating
           which side goes first, into two record files
  agree    medians and quartiles of one record file, per workload and
           metric, with the spread (q3 - q1) / median against the bound
           in BENCHMARK.json, and the tracing overhead when traced runs
           are present
  compare  two record files (parent, change): each side's median and
           quartiles, the share of seed-matched pairs the change won, and
           a verdict per metric: unresolved when either side's spread is
           wider than the bound (unless every change run beats every
           parent run), regressed when the change's median is worse than
           the parent's by more than the bound

Examples:
  python3 perfbench/report.py record --checkout . --seeds 1-10 --out a.jsonl
  python3 perfbench/report.py agree a.jsonl
  python3 perfbench/report.py pairs --parent ../p --change . --seeds 1-10 \\
      --out-parent p.jsonl --out-change c.jsonl
  python3 perfbench/report.py compare p.jsonl c.jsonl
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

SPEC = json.loads(
    (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout, workload, seed, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(SPEC["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.time()
    done = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = done.stdout.strip().splitlines()
    steal = re.search(r"steal_s=([0-9.]+)", done.stdout)
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "exit": done.returncode, "elapsed_s": round(time.time() - t0, 1),
           "steal_s": float(steal.group(1)) if steal else None}
    try:
        rec.update(json.loads(lines[-1]))
    except (IndexError, ValueError):
        rec["error"] = (done.stdout + done.stderr)[-2000:]
    return rec


def append(path, rec):
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"{rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"exit={rec['exit']} steal_s={rec['steal_s']}", file=sys.stderr)


def load(path):
    runs = defaultdict(lambda: defaultdict(dict))  # workload → metric → seed
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        if rec.get("error") or not rec.get("correct"):
            print(f"# {path}: {rec['workload']} seed {rec['seed']} "
                  f"failed or incorrect", file=sys.stderr)
            continue
        for name, m in rec["metrics"].items():
            runs[rec["workload"]][name][rec["seed"]] = m["value"]
        if rec.get("steal_s") is not None:
            runs[rec["workload"]]["steal_s"][rec["seed"]] = rec["steal_s"]
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def agree(path):
    runs = load(path)
    print(f"{'workload':<15} {'metric':<18} {'n':>3} {'q1':>10} "
          f"{'median':>10} {'q3':>10} {'spread':>7} {'bound':>6}  verdict")
    for wl, metrics in sorted(runs.items()):
        for name, by_seed in sorted(metrics.items()):
            vals = list(by_seed.values())
            q1, med, q3 = quartiles(vals)
            s = spread(vals)
            bound = BOUNDS.get(name, {}).get("bound")
            verdict = ("" if bound is None else
                       "steady" if s < bound / 3 else
                       "within bound" if s <= bound else "too wide")
            print(f"{wl:<15} {name:<18} {len(vals):>3} {q1:>10.4g} "
                  f"{med:>10.4g} {q3:>10.4g} {s:>7.3f} "
                  f"{'' if bound is None else bound:>6}  {verdict}")
        traced = metrics.get("trace.op_p50_s")
        plain = metrics.get("op_p50_s")
        if traced and plain:
            over = (statistics.median(traced.values()) /
                    statistics.median(plain.values()) - 1)
            print(f"{wl:<15} tracing overhead on op_p50_s: {over:+.1%}")


def compare(parent_path, change_path):
    parent, change = load(parent_path), load(change_path)
    print(f"{'workload':<15} {'metric':<12} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'won':>6}  verdict")
    for wl in sorted(set(parent) & set(change)):
        for name, meta in BOUNDS.items():
            p, c = parent[wl].get(name, {}), change[wl].get(name, {})
            if not p or not c:
                continue
            pq, cq = quartiles(list(p.values())), quartiles(list(c.values()))
            lower = meta["better"] == "lower"
            common = sorted(set(p) & set(c))
            wins = sum((c[s] < p[s]) if lower else (c[s] > p[s])
                       for s in common)
            worse = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1)
            better_everywhere = (max(c.values()) < min(p.values()) if lower
                                 else min(c.values()) > max(p.values()))
            if max(spread(list(p.values())), spread(list(c.values()))) > \
                    meta["bound"] and not better_everywhere:
                verdict = "unresolved (spread wider than bound)"
            elif worse > meta["bound"]:
                verdict = f"regressed {worse:+.1%}"
            else:
                verdict = f"within bound ({-worse:+.1%} better)"
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{wl:<15} {name:<12} {fmt.format(*pq):>28} "
                  f"{fmt.format(*cq):>28} "
                  f"{wins}/{len(common):<4}  {verdict}")


def main():
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)
    rec = sub.add_parser("record")
    rec.add_argument("--checkout", default=".")
    rec.add_argument("--out", required=True)
    pairs = sub.add_parser("pairs")
    pairs.add_argument("--parent", required=True)
    pairs.add_argument("--change", required=True)
    pairs.add_argument("--out-parent", required=True)
    pairs.add_argument("--out-change", required=True)
    for s in (rec, pairs):
        s.add_argument("--seeds", type=seeds, default=seeds("1-10"))
        s.add_argument("--workloads", nargs="*",
                       default=[w["name"] for w in SPEC["workloads"]])
        s.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sub.add_parser("agree").add_argument("file")
    cmp_ = sub.add_parser("compare")
    cmp_.add_argument("parent")
    cmp_.add_argument("change")
    a = p.parse_args()

    if a.cmd == "record":
        for wl in a.workloads:
            for s in a.seeds:
                append(a.out, run_once(a.checkout, wl, s, a.trace))
    elif a.cmd == "pairs":
        for wl in a.workloads:
            for i, s in enumerate(a.seeds):
                sides = [(a.parent, a.out_parent), (a.change, a.out_change)]
                for checkout, out in (sides if i % 2 == 0 else sides[::-1]):
                    append(out, run_once(checkout, wl, s, a.trace))
    elif a.cmd == "agree":
        agree(a.file)
    else:
        compare(a.parent, a.change)


if __name__ == "__main__":
    main()
