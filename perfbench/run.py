#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload contract --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository. The first call
compiles the engine and the benchmark (perfbench/build.sbt) and caches
the classpath under .bench_build/perfbench; later calls reuse it while
the sources are unchanged. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
The line before it ("record ...") carries every figure of the run,
failures by name, and the context (seed, cores, memory, JVM, Spark,
source version). Traced runs write their spans and per-op figures to
.bench_build/perfbench/trace/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["contract", "curation", "vector", "index-write"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir():
    """GRAFT_BENCH_DATA, else the sf0.1 directory TESTDATA.md lists."""
    if "GRAFT_BENCH_DATA" in os.environ:
        return os.environ["GRAFT_BENCH_DATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*/sf0\.1)/?`", f.read())
    except OSError:
        m = None
    if not m:
        fail("no test data: set GRAFT_BENCH_DATA or run from a checkout with TESTDATA.md")
    return m.group(1)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def run_bounded(cmd, cwd, env, timeout, **kw):
    """Run a command in its own process group and wait for it; kill the
    group on timeout, or when this script is terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return p.returncode, out, err


def classpath(stamp):
    """Compile once per source version; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    t0 = time.time()
    code, out, _ = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        HERE, sbt_env(), BUILD_TIMEOUT_S,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def heap():
    """Half the machine's memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(6, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def overhead(results, traced, stamp):
    """Tracing overhead: this traced run's pass_s over the median pass_s
    of the untraced runs of the same workload and sources recorded in
    this checkout, minus 1 (0 when there are none yet)."""
    base = []
    if os.path.exists(results):
        with open(results) as f:
            for line in f:
                r = json.loads(line)
                if (r["workload"] == traced["workload"] and not r["trace"]
                        and r["context"]["source"].endswith(stamp)):
                    base.append(r["pass_s"]["value"])
    if not base:
        return 0.0
    base.sort()
    mid = len(base) // 2
    med = base[mid] if len(base) % 2 else (base[mid - 1] + base[mid]) / 2
    return traced["pass_s"]["value"] / med - 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--only", help="comma-separated op names (a partial pass, for debugging)")
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests on sf0.01 and sf0.001")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    data = data_dir()
    if not os.path.isdir(data):
        fail(f"test data not found at {data}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    if a.selftest:
        env = sbt_env()
        env["GRAFT_BENCH_TESTDATA"] = os.path.dirname(data)
        code, _, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "test"],
                                 HERE, env, BUILD_TIMEOUT_S)
        sys.exit(code)

    stamp = source_hash()
    cp = classpath(stamp)
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(OUT, "tmp")  # stamped engine artifacts, reused across runs
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            f"-Dperfbench.source={git_commit()} src-sha256:{stamp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work,
              "--trace-dir", os.path.join(OUT, "trace"),
              "--expected", os.path.join(HERE, "expected")])
    if a.only:
        cmd += ["--only", a.only]
    try:
        code, out, _ = run_bounded(cmd, work, os.environ, RUN_TIMEOUT_S,
                                   stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or len(lines) < 2 or not lines[-2].startswith("record "):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])
    record = json.loads(lines[-2][len("record "):])
    results = os.path.join(OUT, "results.jsonl")
    if a.trace:
        result["metrics"]["trace.overhead_ratio"] = {
            "value": overhead(results, record, stamp), "unit": "ratio"}
    with open(results, "a") as f:
        f.write(json.dumps(record) + "\n")
    print("record " + json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
