#!/usr/bin/env python3
"""graft benchmark: one command for the `query` and `ingest` workloads
(see perfbench/README.md).

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM (local[4]), checks every answer, and prints as its
last stdout line one JSON object: `correct`, `attempted`, `failed` and
`metrics`, holding every end-to-end metric of BENCHMARK.json with `--trace 0`
and every per-layer metric with `--trace 1`.

`--inject throw|perturb|drop` plants a fault (self-test); `--inputs-only 1`
prints the seeded inputs without running the engine.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
DATA_DIR = os.path.join(ROOT, "perfbench", "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ("query", "ingest")
# The whole run must end within 180 s; the build may take the rest of the
# first run's 900 s.
RUN_DEADLINE_S = 170
# Traced requests reconcile when what their layers account for (see
# reconcile) adds up to their latency within this share, as a median over
# the workload's queries.
RECONCILE_TOLERANCE = 0.10

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + [
    "-Xmx3g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


# Column types must match, as in tools/compare.py: machine-width integers
# form one class, and these (answer, oracle) pairs render alike.
INT_CLASS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
ALLOWED_TYPE_PAIRS = {
    ("TIMESTAMP WITH TIME ZONE", "TIMESTAMP"),
    ("TIMESTAMP", "TIMESTAMP WITH TIME ZONE"),
    ("TIMESTAMP_NS", "TIMESTAMP"),
}


def norm_type(t):
    t = str(t).upper().strip()
    return "INT-CLASS" if t in INT_CLASS else t


def types_match(gcols, gtypes, wcols, wtypes):
    got = {c: norm_type(t) for c, t in zip(gcols, gtypes)}
    return all(got[c] == norm_type(t) or (got[c], norm_type(t)) in ALLOWED_TYPE_PAIRS
               for c, t in zip(wcols, wtypes))


def canon(rows, cols):
    """Column-name-sorted, row-sorted string form, as tools/compare.py
    builds it. This and the type check are copies, so the benchmark's check
    stays fixed when the tools change."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(round(v, 9))
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def check_answers(checks):
    """Compares each dumped answer with its DuckDB oracle (column names and
    types, row count, canonicalised values); queries without an oracle
    (approximate operators) must return rows. Returns the names that failed;
    answers the JVM could not produce are counted there already."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    bad = []
    for c in checks:
        if not c["ok"]:
            continue
        got = con.sql(f"SELECT * FROM '{c['dir']}/*.parquet'")
        gcols, grows = [x.lower() for x in got.columns], got.fetchall()
        if c["oracle"] is None:
            ok = len(grows) > 0
        else:
            want = con.sql(c["oracle"])
            wcols, wrows = [x.lower() for x in want.columns], want.fetchall()
            ok = (sorted(gcols) == sorted(wcols)
                  and types_match(gcols, got.types, wcols, want.types)
                  and len(grows) == len(wrows)
                  and canon(grows, gcols) == canon(wrows, wcols))
        if not ok:
            bad.append(c["name"])
    return bad


def reconcile(untraced, traced):
    """Pools the untraced and traced runs of one workload at one build, over
    all seeds, since one pair of runs differs by more than the machine's
    run-to-run noise.

    Reconciliation, per query of the traced runs: the median accounted time
    (the request's build span, plus what the plan and job spans cover of its
    execute span, plus on `query` the code it compiled while executing)
    against the median latency of the same requests. Driver time outside
    those is the gap; it reconciles when the median gap over the queries is
    within the tolerance. The accounted time is also set against the
    untraced latency, which adds the tracing overhead and run-to-run noise.

    Overhead: per query, the traced against the untraced latency; per
    end-to-end metric, (traced - untraced) / untraced of the medians."""
    def pooled(runs, key, field=None):
        vals = {}
        for r in runs:
            for k, v in r[key].items():
                x = v.get(field) if field else v
                if isinstance(x, (int, float)):
                    vals.setdefault(k, []).append(x)
        return {k: statistics.median(v) for k, v in vals.items()}

    def rel(a, b):
        e = [a[q] / u - 1 for q, u in b.items() if q in a and u > 0]
        return statistics.median(e) if e else None

    uq = pooled(untraced, "per_query", "ms")
    acc, tq = pooled(traced, "per_query", "accounted_ms"), pooled(traced, "per_query", "ms")
    gap = rel(acc, tq)
    um, tm = pooled(untraced, "metrics"), pooled(traced, "metrics")
    return {"untraced_runs": len(untraced), "traced_runs": len(traced),
            "accounted_vs_traced": gap, "tolerance": RECONCILE_TOLERANCE,
            "reconciled": gap is not None and abs(gap) <= RECONCILE_TOLERANCE,
            "accounted_vs_untraced": rel(acc, uq),
            "overhead_per_query": rel(tq, uq),
            "overhead": {k: (tm[k] - v) / v for k, v in um.items() if v and k in tm}}


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of busy CPU time the hypervisor gave to other guests while the
    run ran: runs with a high share read slower on every timing metric."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[7]
    return d[7] / busy if busy else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "throw", "perturb", "drop"), default="none")
    ap.add_argument("--inputs-only", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    e2e, per_layer = metric_spec()
    classes = build.build()
    # Results pool (see reconcile) only with runs of the same engine and
    # benchmark sources and the same harness (this file: JVM options, checks).
    with open(classes + ".stamp") as f, open(os.path.abspath(__file__), "rb") as g:
        stamp = f.read() + "-" + hashlib.sha256(g.read()).hexdigest()[:16]
    started = time.monotonic()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.inject != "none":
        tag += f"-{args.inject}"
    work = os.path.join(build.BUILD_DIR, "run", f"{tag}-{os.getpid()}")
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(build.BUILD_DIR, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp",
           os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA_DIR, "--work", work, "--out", out,
           "--spans", os.path.join(results, f"{tag}.spans.jsonl"),
           "--inject", args.inject, "--inputs-only", str(args.inputs_only)])
    # Spark prefers these over spark.local.dir; the run's scratch stays in
    # its work directory.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    cpu_before = cpu_times()
    try:
        with open(log, "w") as lf:
            proc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env,
                                  timeout=RUN_DEADLINE_S - (time.monotonic() - started))
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-3000:])
            raise SystemExit(f"benchmark JVM failed (exit {proc.returncode}); log: {log}")
        with open(out) as f:
            res = json.load(f)
        if args.inputs_only:
            print(json.dumps(res["inputs"]))
            return
        wrong = check_answers(res["checks"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"] + len(wrong)
    res["wrong_answers"] = wrong
    res["cpu_steal_share"] = steal_share(cpu_before, cpu_times())
    res["build"] = stamp
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(res, f)
    if wrong:
        print(f"wrong answers: {', '.join(wrong)}")
    print(f"{args.workload}: attempted={res['attempted']} failed={failed} "
          f"samples={res.get('warm_samples', res.get('freshness_samples'))} "
          f"p90_ms={res['p90_ms']} cpu steal share={res['cpu_steal_share']}")
    if args.trace:
        runs = {0: [], 1: []}
        for name in sorted(os.listdir(results)):
            for t in (0, 1):
                if name.startswith(f"{args.workload}-seed") and name.endswith(f"-trace{t}.json"):
                    with open(os.path.join(results, name)) as f:
                        r = json.load(f)
                    if r.get("build") == stamp:
                        runs[t].append(r)
        print("reconciliation: " + json.dumps(reconcile(runs[0], runs[1])))
    source = res["layers"] if args.trace else res["metrics"]
    wanted = per_layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
