#!/usr/bin/env python3
"""Self-test of the benchmark itself:

- the same seed reproduces a workload's inputs (query orders, batch sizes)
  and another seed changes them;
- a throwing query, a perturbed answer and a dropped ingest batch each
  raise `failed` and make `correct` false.

    python3 perfbench/selftest.py

Takes about three minutes: the fault runs are short real runs.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "results")


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run.py {' '.join(args)} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def inputs(workload, seed):
    return run("--workload", workload, "--seed", str(seed), "--seconds", "1",
               "--inputs-only", "1")


def fault(workload, kind, seconds):
    summary = run("--workload", workload, "--seed", "1", "--seconds", str(seconds),
                  "--inject", kind)
    with open(os.path.join(RESULTS, f"{workload}-seed1-trace0-{kind}.json")) as f:
        return summary, json.load(f)


def main():
    checks = []
    for w in ("query", "ingest"):
        a, b, c = inputs(w, 1), inputs(w, 1), inputs(w, 2)
        checks.append((f"{w}: the same seed reproduces its inputs", a == b))
        checks.append((f"{w}: another seed changes them", a != c))

    s, _ = fault("query", "throw", 2)
    checks.append(("query: a throwing query raises failed", s["failed"] > 0 and not s["correct"]))
    s, r = fault("query", "perturb", 2)
    checks.append(("query: a perturbed answer raises failed",
                   s["failed"] > 0 and not s["correct"] and len(r["wrong_answers"]) == 1))
    # The fourth batch of the window is dropped: 10 s send four of them.
    s, r = fault("ingest", "drop", 10)
    # The dropped batch never commits, and the read round after it misses it.
    checks.append(("ingest: a dropped batch raises failed",
                   s["failed"] > 0 and not s["correct"]
                   and r["uncommitted_batches"] == 1 and not r["final_state_ok"]))

    for name, ok in checks:
        print(("ok    " if ok else "FAIL  ") + name)
    sys.exit(0 if all(ok for _, ok in checks) else 1)


if __name__ == "__main__":
    main()
