#!/usr/bin/env python3
"""CDC benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the library. The first run builds the
library and the benchmark from source (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs reuse it until a source changes.
Each run starts one JVM (Spark local[k], k = half the cores, at most 2), which sets the workload up,
measures it for --seconds, checks its outputs and writes its result. This
script prints the run record on one line and the result as the last line.

--scale (input size factor, default 1) shrinks the inputs for quick checks.
A traced run (--trace 1) also writes its spans to .bench_build/perfbench/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("binlog_merge", "dynamo_staged_load", "warehouse_queries")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))
                      or "META-INF" in base]
    return sorted(f for f in files if os.path.isfile(f))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, cache):
    """Compile library + benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail(f"no library sources under {root}/src/main/scala; run from the root of a checkout")
    key = digest(source_files(root))
    cp_file = os.path.join(cache, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("digest") == key:
            return cached["classpath"], key
    os.makedirs(cache, exist_ok=True)
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                                 "export Runtime/fullClasspath"],
                                cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
        out.write(stdout)
    lines = [l.strip() for l in stdout.splitlines() if l.strip().startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    classpath = lines[-1]
    with open(cp_file, "w") as fh:
        json.dump({"digest": key, "classpath": classpath}, fh)
    return classpath, key


def git_head(root):
    try:
        # the checkout itself only: never an enclosing repository's HEAD
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    root = os.getcwd()
    cache = os.path.join(root, ".bench_build", "perfbench")
    classpath, src_digest = build(root, cache)

    work = os.path.join(cache, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(cache, f"last-{a.workload}.log")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--result", result,
              "--scale", str(a.scale)]
           + (["--spans", os.path.join(cache, f"spans-{a.workload}.jsonl")] if a.trace else []))
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "SPARK_CONF"))}
    t0 = time.time()
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"{a.workload} run timed out after {RUN_TIMEOUT_S}s (log: {log})")
        if code != 0 or not os.path.isfile(result):
            with open(log) as fh:
                text = fh.read()
            first = next((l for l in text.splitlines() if "Exception" in l), "")
            fail(f"{a.workload} run failed (exit {code}): {first[:600]}\nlog: {log}\n{text[-1500:]}")
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = res["record"]
    record["wall_s"] = round(time.time() - t0, 3)
    record["git_head"] = git_head(root)
    record["source_digest"] = src_digest
    print(json.dumps({"run_record": record}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
