#!/usr/bin/env python3
"""Repo benchmark: builds the engine together with this benchmark, then runs one
workload in a single JVM and prints its metrics.

    python3 perfbench/run.py --workload score --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload
    python3 perfbench/run.py --selftest                     # tiny-size self-test

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). Everything the run writes
stays inside the checkout: the build under `perfbench/target`, scratch data in
a temporary directory under `perfbench/.work` removed on exit, and span
traces under `perfbench/out`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["score", "sink", "curate", "hostile"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench-classpath.json")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1]
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    mem_mb = mem_kb // 1024
    # a fifth of the host's memory, between 1 and 3 GiB: enough for the
    # corpora here while leaving the host room
    heap_mb = max(1024, min(3072, mem_mb // 5))
    return cores, mem_mb, heap_mb


def run_jvm(classpath, workload, seed, seconds, trace, scale=1.0, corrupt=""):
    """Run one workload; returns (exit code, result dict or None)."""
    cores, mem_mb, heap_mb = host()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(HERE, ".work"))
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # fixed heap and a young generation small enough that every repetition
    # collects, so GC time and heap-after-collection are measured each time
    cmd += [f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", f"-Xmn{heap_mb // 16}m",
            "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--mem-total-mb", str(mem_mb),
            "--work", work, "--result", result,
            "--trace-dir", os.path.join(HERE, "out"),
            "--scale", str(scale), "--corrupt", corrupt,
            "--launched-ns", str(time.time_ns())]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    relay = threading.Thread(
        target=lambda: [print(l, end="", flush=True) for l in proc.stdout], daemon=True)
    relay.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        relay.join()
        res = None
        if os.path.exists(result):
            with open(result) as fh:
                res = json.load(fh)
        return code, res
    except subprocess.TimeoutExpired:
        log(f"{workload}: no result within {RUN_TIMEOUT_S} s")
        return 124, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def selftest(classpath):
    """Tiny-size runs: every declared metric comes out with its unit, clean
    runs pass their checks and each planted corruption fails them."""
    spec = benchmark_spec()
    problems = []
    for w in WORKLOADS:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            code, res = run_jvm(classpath, w, 7, 1, trace, scale=0.05)
            if code != 0 or res is None or not res["correct"]:
                problems.append(f"{w} trace={int(trace)}: clean run failed (exit {code})")
                continue
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={int(trace)}: {m['name']} missing or wrong unit")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{w} trace={int(trace)}: undeclared metrics {sorted(extra)}")
    for w, corrupt in (("score", "flip_keep"), ("sink", "lost_bucket"),
                       ("hostile", "alter_scrub")):
        code, res = run_jvm(classpath, w, 7, 1, False, scale=0.05, corrupt=corrupt)
        if code == 0 or res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: planted {corrupt} was not caught")
        else:
            log(f"{w}: planted {corrupt} caught")
    for p in problems:
        log(f"SELFTEST FAILED {p}")
    print(json.dumps({"selftest": "fail" if problems else "pass",
                      "problems": problems}))
    return 1 if problems else 0


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
            "run from a full checkout")
        return 2
    classpath = build()
    if a.selftest:
        return selftest(classpath)
    if a.workload != "all":
        code, res = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace == 1)
        if res is None:
            return code or 1
        print(json.dumps(res))
        return code
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for w in WORKLOADS:
        c, res = run_jvm(classpath, w, a.seed, a.seconds, a.trace == 1)
        code = code or c or (0 if res else 1)
        if res is None:
            merged["correct"] = False
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return code


if __name__ == "__main__":
    sys.exit(main())
