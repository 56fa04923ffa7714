#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke [--workload W]

The first run in a checkout builds the program and the benchmark with sbt
(perfbench/build.sbt, which loads the repository's build unchanged) and
generates the DataGen tables the workloads read; later runs reuse both.
Every run then starts one fresh JVM. Its last line of standard output is
the result JSON. `--smoke` runs each workload once on tiny inputs and
exits non-zero unless every result is correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORKLOADS = ("snapshot_cycle", "query_mix", "llm_pipeline")
# DataGen scale each workload reads (None: it generates its own cells)
SCALES = {"snapshot_cycle": None, "query_mix": "sf0.001", "llm_pipeline": "sf0.001"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# a fixed-size heap, so resident memory does not follow heap resizing
HEAP = "2g"
# what spark-submit adds for Spark on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the last build; return the
    benchmark's runtime classpath."""
    out = build_dir()
    stamp, cp_file = out / "stamp", out / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    log("building (sbt) ...")
    t0 = time.time()
    # sbt's own temp files (server socket, file watcher, JVM perf data)
    # stay in the build dir
    (out / "tmp").mkdir(exist_ok=True)
    env = {**os.environ, "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData", "TMPDIR": str(out / "tmp")}
    with open(out / "build.log", "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={out / 'tmp'}", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=lf, text=True, env=env,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lf.write(proc.stdout)
    if proc.returncode != 0:
        sys.exit(f"build failed, see {out / 'build.log'}")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(want)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def java_cmd(cp, scratch, *args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch / 'tmp'}",
            *opens, "-cp", cp, "perfbench.Main", *args]


def run_jvm(cmd, scratch, timeout):
    """Run a benchmark JVM with its own scratch root, which must not
    exist yet (a stale one is refused) and is always removed after."""
    if scratch.exists():
        sys.exit(f"stale scratch root {scratch}: a previous run did not finish; remove it")
    (scratch / "tmp").mkdir(parents=True)
    # Spark would put its scratch dirs there instead of the run's root
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        sys.exit(f"JVM did not finish within {timeout}s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


def ensure_data(cp, scale):
    data = build_dir() / "data"
    if scale is None or (data / scale).exists():
        return data
    data.mkdir(parents=True, exist_ok=True)
    log(f"generating DataGen tables at {scale} ...")
    code, _ = run_jvm(java_cmd(cp, build_dir() / "scratch" / "prepare", "prepare",
                               "--data", str(data), "--scale", scale),
                      build_dir() / "scratch" / "prepare", BUILD_TIMEOUT_S)
    if code != 0:
        sys.exit(f"data generation at {scale} failed")
    return data


def measure(workload, seed, seconds, trace, smoke):
    """One run; returns the result dict, or exits non-zero."""
    cp = classpath()
    data = ensure_data(cp, SCALES[workload])
    out = build_dir()
    scratch = out / "scratch" / f"{workload}-{seed}"
    args = ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", str(data), "--scratch", str(scratch),
            "--spans", str(out / "traces" / f"{workload}-{seed}.jsonl")]
    if smoke:
        args.append("--smoke")
    code, stdout = run_jvm(java_cmd(cp, scratch, *args), scratch, JVM_TIMEOUT_S)
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if code != 0 or result is None:
        sys.stderr.write(stdout)
        sys.exit(f"run failed (exit {code})")
    for l in lines[:-1]:
        print(l)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    # on SIGTERM, unwind so the running JVM is stopped and its scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"{ROOT} holds no graft sources to benchmark")
    if a.smoke:
        ok = True
        for w in [a.workload] if a.workload else WORKLOADS:
            for trace in (0, 1):
                r = measure(w, a.seed, 1, trace, smoke=True)
                log(f"smoke {w} trace={trace}: {json.dumps(r)}")
                ok = ok and r["correct"]
        sys.exit(0 if ok else 1)
    if a.workload is None:
        ap.error("--workload is required")
    print(json.dumps(measure(a.workload, a.seed, a.seconds, a.trace, smoke=False)))


if __name__ == "__main__":
    main()
