#!/usr/bin/env python3
"""Check that the deterministic counters repeat exactly for one seed.

    python3 perfbench/selfcheck.py [--seed 7] [--other-seed 8] [workload ...]

For each workload (default: all four) this runs the traced benchmark
twice on `--seed` and once on `--other-seed`. The first two runs must
print identical counters: per warm-up op the listener's jobs, stages,
tasks, input bytes and records and shuffle read and write bytes, plus
stored_over_raw, write_amp and the chunk counts by scheme. Every run must
pass its oracle checks. Exits non-zero on any difference or failure.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("scan", "lookup", "ingest", "pipeline")


def counters(workload, seed):
    run = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "4", "--trace", "1"],
                         cwd=os.path.dirname(HERE), capture_output=True, text=True)
    if run.returncode != 0:
        sys.stderr.write(run.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {run.returncode})")
    line = next(l for l in run.stdout.splitlines() if l.startswith("# counters "))
    return json.loads(line[len("# counters "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--other-seed", type=int, default=8)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()
    bad = False
    for w in a.workloads:
        first, second = counters(w, a.seed), counters(w, a.seed)
        other = counters(w, a.other_seed)
        diff = sorted(k for k in set(first) | set(second) if first.get(k) != second.get(k))
        ops = first["ops"]
        same_ops = [k for k in ops if first["ops"][k] == second["ops"].get(k)]
        print(f"{w}: {len(same_ops)}/{len(ops)} ops repeat, "
              f"stored_over_raw {first['stored_over_raw']:.6f}, write_amp {first['write_amp']:.6f}; "
              f"seed {a.other_seed}: {len(other['ops'])} ops, stored_over_raw {other['stored_over_raw']:.6f}")
        if diff:
            bad = True
            for k in diff:
                if k == "ops":
                    for op in sorted(set(ops) | set(second["ops"])):
                        if ops.get(op) != second["ops"].get(op):
                            print(f"  {w} op {op}: {ops.get(op)} then {second['ops'].get(op)}")
                else:
                    print(f"  {w} {k}: {first[k]} then {second[k]}")
    if bad:
        sys.exit("deterministic counters differ between two runs of one seed")
    print("deterministic counters repeat exactly")


if __name__ == "__main__":
    main()
