#!/usr/bin/env python3
"""Smoke self-test of the session benchmark on the sf0.001 fixtures.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced, with a tiny fm tree,
and asserts that
  - the last stdout line is the result object, correct, with every
    metric BENCHMARK.json names for that mode, each with its unit;
  - the record line before it prints every end-to-end metric of the
    workload by name with its unit;
  - in the traced run, construct.s + plan.s + exec.s account for each
    call's wall time; the uncovered remainder is reported.
Exits 0 when every check passes.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# Every end-to-end metric, and the workloads it applies to.
E2E = {"setup_s": None, "stage_build_s": None, "query_p50_s": None,
       "query_p90_s": None, "session_s": None, "fail_ratio": None,
       "tmp_disk_mb": None, "retained_heap_mb": None,
       "fm_put_s": "fm", "fm_run_s": "fm", "fm_rerun_s": "fm",
       "fm_get_s": "fm"}
# A call's layer spans may leave this much of its wall time uncovered
# (the span bookkeeping between them).
MAX_UNCOVERED = 0.02


def run(workload, trace, spans):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--data", "sf0.001", "--fm-lines", "40"]
    if spans:
        cmd += ["--spans", spans]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       timeout=900)
    assert p.returncode == 0, "%s trace %d exited %d" % (
        workload, trace, p.returncode)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def coverage(spans):
    """Per call: (wall seconds, uncovered seconds)."""
    recs = [json.loads(l) for l in open(spans)]
    byid = {r["id"]: r for r in recs if "id" in r}
    out = []
    for c in byid.values():
        if c["name"] != "call":
            continue
        wall = c["end_ms"] - c["start_ms"]
        kids = sum(k["end_ms"] - k["start_ms"] for k in byid.values()
                   if k["parent"] == c["id"] and
                   k["name"] in ("construct", "plan", "exec"))
        out.append((wall / 1e3, (wall - kids) / 1e3))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            spans = None
            if trace:
                spans = os.path.join(ROOT, ".bench_build",
                                     "smoke-spans-%s.jsonl" % w)
            rec, res = run(w, trace, spans)
            tag = "%s trace=%d" % (w, trace)
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append("%s: result keys %s" % (tag, sorted(res)))
            if res["correct"] is not True or res["failed"] != 0:
                problems.append("%s: not correct: %s" % (tag, rec["failures"]))
            want = bench["per_layer" if trace else "end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if not got or got.get("unit") != m["unit"]:
                    problems.append("%s: metric %s missing or unit %r" %
                                    (tag, m["name"], got))
            for name, only in E2E.items():
                if only and only != w:
                    continue
                got = rec["end_to_end"].get(name)
                if not got or not got.get("unit"):
                    problems.append("%s: record lacks %s" % (tag, name))
            if trace:
                cov = coverage(spans)
                os.remove(spans)
                worst = max(cov, key=lambda c: c[1] / max(c[0], 1e-9))
                print("%s: %d traced calls, uncovered remainder total "
                      "%.4f s of %.3f s, worst call %.4f s of %.3f s" %
                      (tag, len(cov), sum(c[1] for c in cov),
                       sum(c[0] for c in cov), worst[1], worst[0]))
                for wall, unc in cov:
                    if unc > MAX_UNCOVERED * wall + 0.002:
                        problems.append("%s: a call's layers leave %.4f s "
                                        "of %.3f s uncovered" % (tag, unc, wall))
            print("%s: ok=%s calls=%d" % (tag, res["correct"], rec["calls"]))
    for p in problems:
        print("FAIL " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
