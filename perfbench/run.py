#!/usr/bin/env python3
"""Repo benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), generates the seeded fixture (perfbench/gen.py),
runs one JVM (perfbench/scala/PerfBench.scala) that sets up, warms up
and then loops the workload for `--seconds`, checks every output against
the DuckDB oracle (perfbench/oracle.py), and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json, with `--trace 1` the per-layer ones, and the span trace
is left in `.perfbench/runs/<workload>-s<seed>-t1/trace.jsonl`.
Everything the run writes stays under `.perfbench/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = ".perfbench"
WORKLOADS = ("drop_to_dashboard", "query_mix")
# fixture scale of both workloads: row counts as in the repo's sf0.01
SF = 0.01
DEADLINE_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm_cmd(cp, tmp, trace, args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if trace:
        # deep enough call stacks for the job → layer attribution
        cmd.append("-Dspark.callstack.depth=40")
    return cmd + ["-cp", cp, "perfbench.PerfBench"] + args


def run_jvm(cmd, log, budget):
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"benchmark JVM exceeded {budget:.0f} s (log: {log})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    cp = build.build()
    # a run stays under DEADLINE_S; only the first run in a checkout builds
    t_start = time.time()
    fixture, manifest = gen.fixture(os.path.join(WORK, "fixtures"), a.seed, SF)
    fixture = os.path.abspath(fixture)

    # fresh engine scratch space per run: staged zones, ledger tables and
    # caches of an earlier run must not leak into this one
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.abspath(os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    cmd = jvm_cmd(cp, tmp, a.trace, [a.workload, out, str(a.seconds), str(a.trace), fixture])
    budget = DEADLINE_S - (time.time() - t_start)
    rc = run_jvm(cmd, os.path.join(out, "jvm.log"), budget)
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with {rc} (log: {out}/jvm.log)")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)

    verdicts = oracle.check(res, fixture, out)
    units = res["units"]
    failed = [u for u in units if not u["ok"] or not verdicts.get(u["name"], False)]
    for name, ok in sorted(verdicts.items()):
        if not ok:
            print(f"oracle mismatch: {name}")
    for u in failed[:5]:
        print(f"failed unit: {u['name']} iter {u['iter']}: {u['err'] or 'oracle mismatch'}")
    correct = bool(units) and not failed and not res["warm_errors"] and all(verdicts.values())

    record = {k: res[k] for k in ("workload", "cpus", "window_s", "session_s",
                                  "stage_s", "warm_s", "warm_steps_s", "sentinel", "jvm",
                                  "conf", "pass")}
    lats = [u["lat_s"] for u in units if u["ok"] and not u["traced"]]
    record.update(seed=a.seed, sf=SF, fixture_tables=manifest["tables"],
                  corpus=manifest["corpus"], units=len(units),
                  latency_quartiles_s=statistics.quantiles(lats, n=4) if len(lats) > 1 else lats)
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"run record: {json.dumps(record['sentinel'])} cpus={record['cpus']} "
          f"seed={a.seed} window_s={record['window_s']:.1f}")

    kind = "per_layer" if a.trace else "end_to_end"
    values = res["per_layer"] if a.trace else res["metrics"]
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<36} {v!r:>24} {m['unit']}")
    if a.trace:
        print(f"trace: {os.path.join(out, 'trace.jsonl')}")
    print(json.dumps({"correct": correct, "attempted": len(units),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
