#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. The first run in a
checkout compiles the program and the benchmark from source with sbt
(`perfbench/build.sbt`) and keeps the runtime classpath in
`.bench_build/`; later runs reuse it while no source file has changed.
Each run then starts one JVM straight from that classpath, with a fixed
heap and core count and with every SPARK_GRAFT_* variable pinned, and
relays the JVM's last output line: {"correct", "attempted", "failed",
"metrics"}. Everything the run writes stays under `.bench_build/`.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
HEAP = "3g"
CORES = "2"  # must match perfbench.Main.Cores
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Run a child in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep)):
            return cp
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists() and "sbt.repository.config" not in sbt_opts:
        sbt_opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = sbt_opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", "compile", "export Runtime/fullClasspath"]
    code, out = run(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("run from the root of a checkout: the program's sources are not here")
    cp = classpath()
    for d in ("tmp", "run"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and not k.startswith("_JAVA_") and k != "JAVA_TOOL_OPTIONS"}
    env["SPARK_GRAFT_CPUS"] = CORES
    # Bytecode verification of the classpath's classes (Spark's and the
    # program's, loaded once per JVM) is skipped: it lengthens the cold
    # warm-up by several seconds and no timed operation depends on it.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote",
           f"-Djava.io.tmpdir={BUILD / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(BUILD)]
    try:
        code, out = run(cmd, RUN_TIMEOUT_S, cwd=BUILD / "run", env=env,
                        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        raise SystemExit(f"the benchmark JVM exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("the benchmark JVM printed no result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
