#!/usr/bin/env python3
"""End-to-end benchmark of the engine (see perfbench/README.md).

  python3 perfbench/run.py --workload chat_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine plus harness on first use
(perfbench/build.py), runs one workload in a fresh JVM and prints the
result object as the last line of stdout. Exits non-zero when a pass or
check failed, or when the engine sources are missing.

  python3 perfbench/run.py --self-test     tiny inputs: every workload runs,
                                           a dropped output row and a
                                           throwing pass are both caught
  ... --record                             store this run's output digests
                                           as the expected values for its seed
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["chat_pipeline", "dedup_families"]
EXPECTED = os.path.join(HERE, "expected.json")
JVM_TIMEOUT_S = 170
SELF_TEST_SCALE = 0.02


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except OSError:
        return None


def expected(workload, seed, scale):
    if scale != 1.0 or not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f).get(workload, {}).get(str(seed), {})


def run_once(workload, seed, seconds, trace, scale=1.0, inject="none",
             record=False, echo=True):
    """One JVM run. Returns (exit code, result dict or None)."""
    out = build.build()
    work = os.path.abspath(
        os.path.join(".bench_work", f"{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    exp = expected(workload, seed, scale)
    cmd = build.java_cmd(out, "use", work) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", work, "--cores", str(build.cores()), "--scale", str(scale),
        "--inject", inject,
        "--expect", ",".join(f"{k}={v}" for k, v in exp.items())]
    load0, cpu0 = os.getloadavg()[0], cpu_times()
    result = None
    try:
        # Spark's scratch space stays inside the work directory
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                env=env)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            print(f"[run] JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        if echo:
            sys.stdout.write(out)
        res_path = os.path.join(work, "result.json")
        if proc.returncode == 0 and os.path.exists(res_path):
            with open(res_path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    diag = {"load1_start": load0, "load1_end": os.getloadavg()[0]}
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        diag["steal_share"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    if result is None:
        return 1, None
    digests = result.pop("digests")
    if record and scale == 1.0 and result["correct"]:
        rec = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                rec = json.load(f)
        rec.setdefault(workload, {})[str(seed)] = digests
        with open(EXPECTED, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
    if echo:
        print("[diag] " + json.dumps(diag))
        print(json.dumps(result))
    ok = result["correct"] and result["failed"] == 0
    return (0 if ok else 1), result


def self_test():
    """Tiny inputs: every workload passes traced; a dropped output row and
    a throwing pass each fail the run."""
    problems = []
    for w in WORKLOADS:
        rc, res = run_once(w, 1, 1, 1, scale=SELF_TEST_SCALE, echo=False)
        if rc != 0 or not res or not res["correct"]:
            problems.append(f"{w}: expected a clean run, got rc={rc} {res}")
        elif "trace.coverage" not in res["metrics"]:
            problems.append(f"{w}: traced run reported no coverage")
        else:
            print(f"[self-test] {w} ok, coverage "
                  f"{res['metrics']['trace.coverage']['value']:.3f}")
    for inject, w in (("drop_row", "dedup_families"),
                      ("throw", "chat_pipeline")):
        rc, res = run_once(w, 1, 1, 0, scale=SELF_TEST_SCALE, inject=inject,
                           echo=False)
        if rc == 0 or not res or res["failed"] < 1 or res["correct"]:
            problems.append(f"{inject}: expected a failed pass and a "
                            f"non-zero exit, got rc={rc} {res}")
        else:
            print(f"[self-test] {inject} caught: {res['failed']} failed pass,"
                  f" exit {rc}")
    for p in problems:
        print(f"[self-test] FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        build.sources()  # fail fast outside a full checkout
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        return run_once(a.workload, a.seed, a.seconds, a.trace,
                        record=a.record)[0]
    except build.BuildError as e:
        print(f"[run] {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
