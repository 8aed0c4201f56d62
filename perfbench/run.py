#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload ward_live|registry_mix \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the repository and
the benchmark (perfbench/build.sh) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. Every file a run writes (tables, checkpoints, Spark scratch,
traces) stays under that directory.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The line before it carries each workload's own named metrics
with units, the failures (each naming its window or query) and, for a
traced run, the span summary and the path of the span file.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen_tables  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ward_live", "registry_mix")
# Registry tables: small enough that a warm pass of the mix fits one run.
REGISTRY_SF = 0.002
TABLE_REPS = 3
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def source_digest(root):
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def ensure_built(root, build_dir):
    """Compile when the sources changed since the last build."""
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    digest = source_digest(root)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    t0 = time.time()
    rc = run_group(["bash", os.path.join(HERE, "build.sh"), classes], root, sys.stderr)
    if rc != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def run_group(cmd, cwd, out, timeout=None):
    """Run `cmd` in its own process group and return its exit code, or None
    on timeout. On a timeout or an interruption the whole group is killed
    and reaped, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(classes, work, main_args, log_path, deadline):
    """Run a benchmark main class; its output goes to `log_path`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size keeps the collector's heap sizing decisions out of
    # the timings; memory is measured as the live heap after collections
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p)]
           + ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*")]
           + main_args)
    with open(log_path, "w") as log:
        return run_group(cmd, work, log, max(1.0, deadline - time.time()))


def cpu_ticks():
    """(steal, total) CPU ticks of the host from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def log_tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run(args, root, build_dir):
    classes = ensure_built(root, build_dir)
    # the build (first run in a checkout) is not part of the run's time limit
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, root, build_dir, classes, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, root, build_dir, classes, work, deadline):
    ticks0 = cpu_ticks()
    pre_setup_s = 0.0
    extra = []
    if args.workload == "registry_mix":
        tables = os.path.join(work, "tables")
        dump = os.path.join(work, "dump")
        os.makedirs(dump)
        reps = []
        for _ in range(TABLE_REPS):
            t0 = time.perf_counter()
            gen_tables.generate(tables, args.seed, REGISTRY_SF)
            reps.append(time.perf_counter() - t0)
        pre_setup_s = statistics.median(reps)
        extra = ["--tables", tables, "--dump", dump]
    out = os.path.join(work, "result.json")
    log = os.path.join(build_dir, f"last-{args.workload}.log")
    launch_ms = time.time() * 1000.0
    rc = run_jvm(classes, work, ["perfbench.Main", "--workload", args.workload,
                                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                                 "--trace", str(args.trace), "--work-dir", work,
                                 "--out", out, "--launch-ms", repr(launch_ms)] + extra,
                 log, deadline)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(log_tail(log))
        fail("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"), 3)
    with open(out) as f:
        res = json.load(f)
    ticks1 = cpu_ticks()
    # the share of CPU time the hypervisor gave to other guests during the
    # run: timings from a run with a high share are not comparable
    steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
             if ticks0 and ticks1 else None)

    failures = list(res["failures"])
    failed = res["failed"]
    if args.workload == "registry_mix":
        wrong = oracle.check(root, tables, dump, res["info"]["check_queries"])
        failures += [f"query {q}: oracle mismatch: {m}" for q, m in sorted(wrong.items())]
        failed += len(wrong)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = res["layer"]
        trace_dir = os.path.join(build_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        span_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), span_file)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = dict(res["e2e"])
        values["setup_s"] = pre_setup_s + res["jvm_setup_s"]
        if res["invalid"]:
            # an overloaded open loop has no meaningful latency
            values = {k: v for k, v in values.items() if not k.startswith("latency")}
    missing = sorted(set(units) - set(values)) if not res["invalid"] else []
    if missing:
        fail(f"metrics not produced: {missing}", 4)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units if k in values}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in res["named"]},
        "failures": failures[:50],
        "setup": {"tables_s": pre_setup_s, **res["setup_parts"]},
        "info": res["info"],
        "e2e": res["e2e"],
        "host_steal_share": steal,
    }
    if args.trace:
        detail["spans"] = res["spans"]
        detail["span_file"] = os.path.relpath(span_file, root)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0 and not res["invalid"],
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0


def selftest(root, build_dir):
    classes = ensure_built(root, build_dir)
    work = os.path.join(build_dir, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        log = os.path.join(build_dir, "last-selftest.log")
        rc = run_jvm(classes, work, ["perfbench.SelfTest", work], log,
                     time.time() + JVM_TIMEOUT_S)
        with open(log, errors="replace") as f:
            print("".join(l for l in f if l.startswith(("ok  ", "FAIL", "scala self-tests"))), end="")
        import selftest as py_selftest
        ok = py_selftest.main(root, work)
        return 0 if rc == 0 and ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    if not os.path.isdir(spark_jars()) or shutil.which("java") is None:
        fail("java and the Spark jars are required")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    if args.selftest:
        return selftest(root, build_dir)
    if args.workload is None:
        ap.error("--workload is required")
    return run(args, root, build_dir)


if __name__ == "__main__":
    sys.exit(main())
