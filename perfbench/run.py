"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark
(`perfbench/build.py`), runs one workload in a fresh JVM on a
`local[nproc]` Spark session, checks its outputs and prints, as the
last line of stdout, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A human-readable summary goes to stderr, and the full
record of the run to `.bench_build/last_<workload>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s, set-up included
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap():
    """JVM heap from MemTotal, as the project's test command sizes it:
    half the RAM in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(classes, args, work, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = (["java", f"-Xmx{heap()}", "-Xss8m", "-XX:-UsePerfData", "--add-modules", "jdk.incubator.vector",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(why):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run: {why}")

    # a run that is itself stopped stops the JVM and waits for it first
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: stop("stopped by a signal"))
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop("the benchmark process exceeded its deadline")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    start = time.time()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec:
        raise SystemExit(f"run: unknown workload {a.workload}; known: {sorted(spec)}")
    classes = os.path.abspath(build.build())

    root = os.path.abspath(build.BUILD_DIR)
    work = os.path.join(root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    params = [f"{k}={v}" for k, v in spec[a.workload]["params"].items()]
    try:
        code = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--out", out, "--work", work] + params,
                       work, start + DEADLINE_S)
        if code != 0 or not os.path.isfile(out):
            raise SystemExit(f"run: the benchmark process exited {code} without a record")
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = raw["checks"] + stats.hash_checks(raw)
    e2e, detail = stats.end_to_end(raw)
    # the untraced end-to-end numbers of the same workload and seed, if
    # that run was made in this checkout, give the tracing overhead
    untraced_path = os.path.join(root, f"e2e-{a.workload}-{a.seed}.json")
    if a.trace:
        units = {n: u for n, u, _ in stats.per_layer_spec()}
        values = stats.per_layer(raw)
        if os.path.isfile(untraced_path):
            with open(untraced_path) as f:
                untraced = json.load(f)
            if e2e["items_per_s"] > 0:
                values["trace.overhead_frac"] = untraced["items_per_s"] / e2e["items_per_s"] - 1.0
    else:
        units = dict(stats.END_TO_END)
        values = e2e
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
    ops = raw["ops"]
    result = {
        "correct": all(c["ok"] for c in checks) and raw["failure"] is None,
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    raw.pop("spans", None)
    with open(os.path.join(root, f"last_{a.workload}.json"), "w") as f:
        json.dump({"result": result, "end_to_end": e2e, "detail": detail, "checks": checks,
                   "record": raw}, f, indent=1)
    for c in checks:
        if not c["ok"]:
            print(f"[perfbench] CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    for o in ops:
        if not o["ok"]:
            print(f"[perfbench] call failed {o['layer']}.{o['fn']} ({o['phase']}): {o['err']}",
                  file=sys.stderr)
    print(f"[perfbench] {a.workload} seed={a.seed} env={json.dumps(raw['env'])} "
          f"samples={json.dumps(detail)} end_to_end={json.dumps(e2e)}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
