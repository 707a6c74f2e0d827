#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about two minutes).

Checks that
  1. every metric named in BENCHMARK.json (and the informational ones) is
     printed with its unit, and the last line is the result object;
  2. the correctness gate rejects a deliberately perturbed expected output,
     and counts a one-unit-in-the-last-place difference only where allowed;
  3. every traced child span lies inside its parent span.

Usage: python3 perfbench/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate  # noqa: E402

TINY = "0.02"
INFO = {"failed_ratio": "ratio", "retained_mb": "MB", "allowance_rows": "count",
        "setup_cold_s": "s"}
TESTPILOT_INFO = {"out_bytes_per_in_byte": "ratio", "out_files": "count"}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size-factor", TINY, "--keep"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{p.returncode}:\n{p.stdout}\n{p.stderr}")
    lines = p.stdout.strip().splitlines()
    kept = next(ln.split(": ", 1)[1] for ln in lines if ln.startswith("kept: "))
    return lines, json.loads(lines[-1]), kept


def printed(lines, name, unit):
    return any(ln.split()[:1] == [name] and ln.split()[-1] == unit
               for ln in lines)


def workload_jobs(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"][workload]


def check_metrics(spec, workload, trace, lines, result):
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, result
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, set(got) ^ {
        m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m
        assert printed(lines, m["name"], m["unit"]), f"{m['name']} not shown"
    shown = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    shown.update(INFO)
    if "testpilot_daily" in workload_jobs(workload):
        shown.update(TESTPILOT_INFO)
    for name, unit in shown.items():
        assert printed(lines, name, unit), f"{name} [{unit}] not shown"


def check_gate(job, kept):
    with open(os.path.join(kept, "oracle.json")) as f:
        sql = json.load(f)[job]
    expected = gate.oracle_frame(os.path.join(kept, "in", job), sql)
    actual = gate.actual_frame(job, kept)
    ok, msg, _ = gate.compare(expected, actual, gate.ALLOWANCE.get(job))
    assert ok, msg
    # a changed value, a dropped row and a changed key must each be rejected
    col = next((c for c in expected.columns if expected[c].dtype.kind == "f"),
               expected.columns[-1])
    bad = expected.copy()
    bad.loc[0, col] = (bad.loc[0, col] + 1 if expected[col].dtype.kind == "f"
                       else str(bad.loc[0, col]) + "1")
    assert not gate.compare(bad, actual)[0], "perturbed value accepted"
    assert not gate.compare(expected.iloc[1:], actual)[0], "dropped row accepted"
    key = next(c for c in expected.columns if expected[c].dtype == object)
    bad = expected.copy()
    bad.loc[0, key] = str(bad.loc[0, key]) + "x"
    assert not gate.compare(bad, actual)[0], "perturbed key accepted"
    if job == "corpus_pipeline":
        near = expected.copy()
        near.loc[0, "quality"] = round(near.loc[0, "quality"] + 1e-4, 4)
        ok, _, allowed = gate.compare(near, actual, gate.ALLOWANCE[job])
        assert ok and allowed >= 1, "last-place allowance not counted"
        assert not gate.compare(near, actual)[0], "allowance applied unasked"
        far = expected.copy()
        far.loc[0, "quality"] = far.loc[0, "quality"] + 2e-4
        assert not gate.compare(far, actual, gate.ALLOWANCE[job])[0], \
            "two units in the last place accepted"


def check_spans(kept, names):
    with open(os.path.join(kept, "spans.json")) as f:
        spans = {s["id"]: s for s in json.load(f)}
    assert spans, "no spans recorded"
    for s in spans.values():
        assert s["end_ms"] >= s["start_ms"], s
        if s["parent"] >= 0:
            p = spans[s["parent"]]
            assert p["start_ms"] <= s["start_ms"] and s["end_ms"] <= p["end_ms"], \
                f"span {s} outside parent {p}"
            assert p["iter"] == s["iter"], (s, p)
    missing = names - {s["name"] for s in spans.values()}
    assert not missing, f"spans never recorded: {missing}"


# spans each job's iterations must record
SPANS = {
    "testpilot_daily": {"io.scan", "etl.apply", "io.write", "jobs.testpilot"},
    "profile_daily": {"io.scan", "queries.profile.plan",
                      "queries.profile.exec"},
    "corpus_pipeline": {"io.scan", "llm.exact", "functions.minhash",
                        "llm.lsh", "llm.cc", "jobs.corpus"},
}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kept = []
    try:
        for workload in (w["name"] for w in spec["workloads"]):
            jobs = workload_jobs(workload)
            for trace in ((0, 1) if workload == "paper_daily" else (1,)):
                lines, result, work = run(workload, trace)
                kept.append(work)
                check_metrics(spec, workload, trace, lines, result)
                if trace:
                    check_spans(work, set().union(*(SPANS[j] for j in jobs)))
                for job in jobs:
                    check_gate(job, work)
                print(f"ok  {workload} trace={trace}")
    finally:
        for k in kept:
            shutil.rmtree(k, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
