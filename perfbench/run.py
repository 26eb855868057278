#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (build.py), makes the
workload's inputs from the seed (gen_edgar.py), runs the workload in one
JVM, checks its outputs, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1` its
per-layer metrics. Everything it writes stays under `perfbench/.build` and
`perfbench/.work`; `perfbench/.work/results.jsonl` keeps every run's record
with the machine's facts, `perfbench/.work/traces/` the spans of traced runs.

Workloads: edgar_quarter, serve_browse, operator_gates (see README.md).

Other modes:
    python3 perfbench/run.py --selfcheck      unit checks of the extractors
    python3 perfbench/run.py --record-gates   rewrite gates_expected.json
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_edgar  # noqa: E402

WORKLOADS = ("edgar_quarter", "serve_browse", "operator_gates")
# serve_browse reads one warehouse per engine build, made from this quarter
SERVE_QUARTER_SEED = 7
RUN_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_cmd(main, work, extra_props=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap keeps the JVM's footprint out of the timings
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + list(extra_props) + ["-cp", build.classpath(), main])


def run_jvm(cmd, work, timeout):
    """Runs the JVM to completion; returns (stdout lines, exit code, peak
    RSS in MB). A run past `timeout` seconds is killed."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    out_path = os.path.join(work, "stdout.log")
    with open(out_path, "w") as out, open(os.path.join(work, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=ROOT)
    killed = threading.Event()

    def kill():
        killed.set()
        proc.kill()
    timer = threading.Timer(timeout, kill)
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    if killed.is_set():
        fail(f"run exceeded {timeout} s")
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    return lines, proc.returncode, usage.ru_maxrss / 1024.0  # KiB -> MiB


def tail(path, n=40):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def serve_warehouse(stamp):
    """The warehouse serve_browse reads, built once per engine build by a
    separate JVM (so every measured JVM starts alike)."""
    wh = os.path.join(build.BUILD, f"serve-{stamp[:12]}")
    if os.path.exists(os.path.join(wh, "READY")):
        return wh
    shutil.rmtree(wh, ignore_errors=True)
    quarter = os.path.join(wh, "quarter")
    tables, expected = gen_edgar.generate(SERVE_QUARTER_SEED)
    gen_edgar.write(quarter, tables, expected)
    _, code, _ = run_jvm(java_cmd("perfbench.PrepareWarehouse", wh) + [quarter, wh],
                         wh, PREPARE_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(tail(os.path.join(wh, "stderr.log")))
        fail("building the serve warehouse failed")
    shutil.rmtree(os.path.join(wh, "tmp"), ignore_errors=True)
    open(os.path.join(wh, "READY"), "w").close()
    return wh


def overhead_from_history(work_root, workload, stamp, seconds, result):
    """Tracing overhead of a run with no untraced round of its own: its
    traced round time against the median round time of the untraced runs of
    the same workload, build and window recorded in this checkout (0 when
    there are none)."""
    rounds = []
    try:
        with open(os.path.join(work_root, "results.jsonl")) as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"] == workload and not r["trace"]
                        and r.get("stamp") == stamp and r.get("seconds") == seconds):
                    rounds.append(r["result"]["metrics"]["round_s"]["value"])
    except (OSError, ValueError, KeyError):
        pass
    if not rounds:
        return 0.0
    return result["metrics"]["trace.round_s"]["value"] / statistics.median(rounds) - 1


def machine():
    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2 ** 20, 1),
            "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser(description="sec-spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record-gates", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    try:
        stamp = build.ensure()
    except build.CompileError as e:
        fail(f"build failed: {e}")

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    if a.selfcheck:
        done = subprocess.run(java_cmd("perfbench.SelfCheck", work) + [work], cwd=ROOT)
        sys.exit(done.returncode)

    workload = "operator_gates" if a.record_gates else a.workload
    if workload is None:
        fail("--workload is required")
    if workload == "operator_gates":
        data = os.path.join(HERE, "data", "sf0.001")
    elif workload == "serve_browse":
        data = serve_warehouse(stamp)
    else:
        data = os.path.join(work, "quarter")
        tables, expected = gen_edgar.generate(a.seed)
        gen_edgar.write(data, tables, expected)

    props = ["-Dperfbench.record=true"] if a.record_gates else []
    cmd = java_cmd("perfbench.Main", work, props) + [
        "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work]
    t0 = time.time()
    lines, code, rss_mb = run_jvm(cmd, work, RUN_TIMEOUT_S)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(tail(os.path.join(work, "stderr.log")))
        fail(f"{workload} run failed (exit {code})")
    result = json.loads(lines[-1])
    if a.trace and "trace.overhead_ratio" not in result["metrics"]:
        result["metrics"]["trace.overhead_ratio"] = {
            "value": overhead_from_history(work_root, workload, stamp, a.seconds, result),
            "unit": "ratio"}
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(want) != sorted(result["metrics"]):
        fail("printed metrics differ from BENCHMARK.json: "
             f"{sorted(set(want) ^ set(result['metrics']))}")
    result["metrics"] = {n: result["metrics"][n] for n in want}

    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    for f in os.listdir(work):
        if f.startswith("trace-"):
            shutil.move(os.path.join(work, f), os.path.join(work_root, "traces", f))
    record = {"workload": workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "stamp": stamp, "wall_s": round(time.time() - t0, 3),
              "rss_mb": round(rss_mb, 1),
              "machine": machine(), "run": lines[-2] if len(lines) > 1 else "",
              "result": result}
    with open(os.path.join(work_root, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
