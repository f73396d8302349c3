#!/usr/bin/env python3
"""The benchmark's own test: checks the span trace of a traced run.

    python3 perfbench/test_trace.py [run_dir ...]

With no argument it first runs `perfbench/run.py --trace 1` on both
workloads (seed 42, 20 s) and checks their run directories
(.perfbench/runs/<workload>-s42-t1). It checks that

  - every span nests inside its parent, and the parents form one tree
    under the run span;
  - build + plan + execute add up to each unit span's wall within
    TOLERANCE_MS + TOLERANCE_SHARE of it (spans are whole milliseconds,
    and the gap is the harness's own bookkeeping between the spans);
  - a unit span's job count is the sum of its children's own jobs;

and it prints the share of jobs no layer claimed (`unattributed_share`)
and the tracing overhead (median traced unit wall minus median untraced
unit wall, `trace_overhead_s`). Exits non-zero on a failed check.
"""
import json
import math
import os
import subprocess
import sys

TOLERANCE_MS = 10
TOLERANCE_SHARE = 0.02
WORKLOADS = ("drop_to_dashboard", "query_mix")


def check(run_dir):
    spans = [json.loads(line) for line in open(os.path.join(run_dir, "trace.jsonl"))]
    with open(os.path.join(run_dir, "result.json")) as f:
        layers = json.load(f)["per_layer"]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] == 0]
    assert len(roots) == 1 and roots[0]["kind"] == "run", "one run span at the root"
    assert len({s["run"] for s in spans}) == 1, "one run id"
    for s in spans:
        assert s["start"] <= s["end"], f"span {s['id']} ends before it starts"
        if s["parent"]:
            p = by_id.get(s["parent"])
            assert p is not None, f"span {s['id']} has no parent {s['parent']}"
            assert p["start"] <= s["start"] and s["end"] <= p["end"], \
                f"span {s['id']} ({s['kind']}) does not nest in {p['id']} ({p['kind']})"

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    units = [s for s in spans if s["kind"] == "unit"]
    assert units, "no unit spans"
    worst = 0.0
    for u in units:
        parts = {c["kind"]: c for c in children.get(u["id"], [])}
        assert set(parts) == {"build", "plan", "execute"}, \
            f"unit {u['id']} has parts {sorted(parts)}"
        wall = u["end"] - u["start"]
        total = sum(p["end"] - p["start"] for p in parts.values())
        gap = abs(wall - total)
        assert gap <= TOLERANCE_MS + TOLERANCE_SHARE * wall, \
            f"unit {u['id']} {u['name']}: parts {total} ms vs wall {wall} ms"
        worst = max(worst, gap)
        assert u["jobs"] == sum(p["own_jobs"] for p in parts.values()) + u["own_jobs"], \
            f"unit {u['id']} job count differs from its parts"

    share, overhead = layers["unattributed_share"], layers["trace_overhead_s"]
    assert math.isfinite(share) and math.isfinite(overhead)
    traced = [u for u in units if u["traced"]]
    assert traced and all(u["jobs"] > 0 for u in traced), "traced units carry jobs"
    print(f"{run_dir}: {len(spans)} spans nest; {len(units)} units, "
          f"parts within {worst} ms of the wall; "
          f"unattributed_share={share:.3f} trace_overhead_s={overhead:+.3f}")


def main():
    dirs = sys.argv[1:]
    if not dirs:
        for w in WORKLOADS:
            subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", "42",
                            "--seconds", "20", "--trace", "1"], check=True,
                           stdout=subprocess.DEVNULL)
            dirs.append(os.path.join(".perfbench", "runs", f"{w}-s42-t1"))
    for d in dirs:
        check(d)


if __name__ == "__main__":
    main()
