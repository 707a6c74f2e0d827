#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh JVM.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1> [--keep] [--size-factor <f>]

Builds the program from source (cached, see build.py), generates the
inputs of the workload's jobs from the seed (gen.py), runs the program's
public jobs on them in a closed loop for `--seconds` (perfbench.Main),
checks each job's output against the registry's DuckDB oracle (gate.py),
and prints the metrics.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. Everything is written under perfbench/.work and removed at exit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# one run must end within 180 s; leave room for generation and the gate
JVM_TIMEOUT_S = 150


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (percentile, value), or None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(xs)[n - 11]


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_jobs(workload):
    """The jobs a workload runs back to back in each iteration."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"][workload]


def start_oracle(in_dir, work, proc):
    """Run the DuckDB oracles in a thread once the JVM has written their
    SQL, which it does after the cold set-up, and write `oracle.done` when
    they end: the JVM runs only its untimed warm-up meanwhile and prolongs
    it until that file appears. Returns a function giving the expected
    frame of each job."""
    path = os.path.join(work, "oracle.json")
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
        time.sleep(0.05)
    with open(path) as f:
        sqls = json.load(f)
    box = {}

    def target():
        t0 = time.time()
        try:
            box["frames"] = {job: gate.oracle_frame(os.path.join(in_dir, job),
                                                    sql)
                             for job, sql in sqls.items()}
        except Exception as e:  # reported by the gate
            box["error"] = e
        box["seconds"] = time.time() - t0
        with open(os.path.join(work, "oracle.done"), "w"):
            pass

    t = threading.Thread(target=target)
    t.start()

    def result():
        t.join()
        if "error" in box:
            raise box["error"]
        return box["frames"], box["seconds"]
    return result


def run_jvm(classes, jobs, in_dir, work, seconds, trace, cpus):
    cp = classes + ":" + os.path.join(build.SPARK_JARS, "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Xmx3g", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties")]
    if trace:
        cmd.append(f"-javaagent:{build.AGENT}")
    cmd += ["-cp", cp, "perfbench.Main", ",".join(jobs), in_dir, work,
            str(seconds), "1" if trace else "0", str(cpus)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            oracle = start_oracle(in_dir, work, proc)
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), oracle


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep perfbench/.work/<run> (spans, logs, capture)")
    ap.add_argument("--size-factor", type=float, default=None,
                    help="override workloads.json's size_factor (self-test)")
    a = ap.parse_args()

    spec = benchmark_spec()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    jobs = workload_jobs(a.workload)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        classes = build.build()
        in_dir = os.path.join(work, "in")
        t0 = time.time()
        rows, in_bytes = 0, 0
        for job in jobs:
            n, files = gen.generate(job, a.seed, os.path.join(in_dir, job),
                                    a.size_factor)
            rows += n
            if job == "testpilot_daily":  # out_bytes_per_in_byte
                in_bytes = sum(os.path.getsize(f) for f in files)
        gen_s = time.time() - t0
        t_jvm = time.time()
        r, oracle = run_jvm(classes, jobs, in_dir, work, a.seconds,
                            a.trace, cpus)
        t1 = time.time()
        expected, oracle_s = oracle()
        ok, msgs, allowed = True, [], 0
        for job in jobs:
            j_ok, j_msg, j_allowed, fails = gate.check(job, expected[job], work)
            ok &= j_ok
            msgs.append(f"{job}: {j_msg}")
            allowed += j_allowed
            r["failures"] += fails
        msg = "; ".join(msgs)
        timeline = (f"generate {gen_s:.1f} s, JVM {t1 - t_jvm:.1f} s "
                    f"(oracle {oracle_s:.1f} s of it, during the warm-up), "
                    f"gate {time.time() - t1:.1f} s")
        report(a, spec, jobs, r, rows, in_bytes, timeline, ok, msg, allowed,
               cpus, work)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


def report(a, spec, jobs, r, rows, in_bytes, timeline, ok, msg, allowed,
           cpus, work):
    attempted = r["attempted"]
    failed = attempted if not ok else min(attempted, len(r["failures"]))
    for f in r["failures"]:
        print(f"failure: {f}")
    print(f"gate: {'ok' if ok else 'MISMATCH'} vs DuckDB oracle — {msg}; "
          f"rows needing the one-unit-in-last-place allowance: {allowed}")
    print(f"workload {a.workload} ({' then '.join(jobs)}), seed {a.seed}, "
          f"{rows} input rows, "
          f"local[{cpus}], closed loop 1 client, "
          f"1 cold set-up, {r['warmups']} warm-up + {len(r['job_s'])} "
          f"untraced + {len(r['traced_job_s'])} traced iterations, "
          f"{len(r['setup_s'])} warm re-setups; "
          f"{timeline}")
    print(f"cold set-up s: {r['setup_cold_s']:.3f}; warm set-ups s: "
          + " ".join(f"{x:.3f}" for x in r["setup_s"])
          + "; iterations s: " + " ".join(f"{x:.3f}" for x in r["job_s"])
          + ("; traced s: " + " ".join(f"{x:.3f}" for x in r["traced_job_s"])
             if r["traced_job_s"] else ""))
    p50 = median(r["job_s"])
    e2e = {
        "job_s.p50": (p50, "s"),
        "rows_per_s": (rows / p50 if p50 > 0 else 0.0, "1/s"),
        "setup_s": (median(r["setup_s"]), "s"),
    }
    info = {
        "failed_ratio": (failed / attempted if attempted else 1.0, "ratio"),
        "retained_mb": (median(r["retained_mb"]), "MB"),
        "setup_cold_s": (r["setup_cold_s"], "s"),
        "allowance_rows": (allowed, "count"),
    }
    t = tail(r["job_s"])
    if t is not None:
        info["job_s.tail"] = (t[1], "s")
        print(f"job_s.tail is p{t[0]:.1f} of {len(r['job_s'])} samples")
    else:
        print(f"job_s.tail: n/a ({len(r['job_s'])} samples, needs 11)")
    if "testpilot_daily" in jobs:
        info["out_bytes_per_in_byte"] = (median(r["out_bytes"]) / in_bytes,
                                         "ratio")
        info["out_files"] = (median(r["out_files"]), "count")
    for k, (v, u) in {**e2e, **info}.items():
        print(f"  {k:<24} {v:>14.6g} {u}")

    if a.trace:
        layers = r["layers"]
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": layers.get(n, 0.0), "unit": units[n]}
                   for n in names}
        for n in names:
            shown = f"{layers[n]:.6g}" if n in layers else "n/a (0)"
            print(f"  {n:<32} {shown:>14} {units[n]}")
        print(f"spans: {os.path.join(work, 'spans.json')}"
              + ("" if a.keep else " (removed; pass --keep)"))
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": e2e[n][0], "unit": units[n]} for n in units}
    if a.keep:
        print(f"kept: {work}")
    print(json.dumps({"correct": ok and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
