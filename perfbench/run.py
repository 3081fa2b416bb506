#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of the repository. The first run builds the harness and
the repository's main sources with sbt (offline) into git-ignored
directories; later runs reuse the build while the files it reads and the
classes it left are unchanged.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run. A full record of the run (its
configuration, input sizes, per-class latencies, first error per op kind,
check details) is written to perfbench/.runs/. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")

sys.path.insert(0, HERE)
import benchstats  # noqa: E402

WORKLOADS = ("read_history", "write_index")
# Set-ups per run; the reported setup_s is their median.
SETUPS = 3
# Spark task slots: at most 4, and one CPU fewer than the run may use, so
# the driver thread, the JIT and the GC do not queue behind tasks. On a
# 4-CPU host, local[3] cut the run-to-run spread (IQR / median) of
# read_history's median latency from 0.16 to 0.10 against local[4].
CORES = 4
# Wall limits of one invocation: a run that also builds gets the longer one.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest(root, harness=HARNESS):
    """SHA-1 over every file the build reads: main sources and resources of
    the repository and the harness, and both builds' definitions."""
    h = hashlib.sha1()
    files = []
    for base in (root, harness):
        files += [f for f in glob.glob(os.path.join(base, "src", "main", "**"), recursive=True)
                  if os.path.isfile(f)]
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
        files += [os.path.join(base, "build.sbt"),
                  os.path.join(base, "project", "build.properties")]
    for f in sorted(set(f for f in files if os.path.isfile(f))):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def classes_fingerprint(classpath):
    """SHA-1 over the names, sizes and modification times of the files in
    the classpath's directories: changes whenever anything rewrites the
    compiled classes."""
    h = hashlib.sha1()
    for entry in classpath.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for dirpath, dirnames, filenames in os.walk(entry):
            dirnames.sort()
            for name in sorted(filenames):
                st = os.stat(os.path.join(dirpath, name))
                h.update(f"{dirpath}/{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def stamped_classpath(build_dir, digest):
    """The classpath of the last build if its classes are still those of
    this source digest; otherwise None, and the stale stamp is removed.

    The stamp holds the source digest the target directories were built
    from, a fingerprint of the classes that build left there, and the
    classpath. It is written only after a build succeeds. A checkout that
    alternates between revisions therefore rebuilds on every switch, and so
    does one whose classes anything else has rewritten since."""
    stamp = os.path.join(build_dir, "built-digest")
    if not os.path.exists(stamp):
        return None
    with open(stamp) as fh:
        built_digest, fingerprint, classpath = (fh.read().split("\n", 2) + ["", ""])[:3]
    if built_digest == digest and classpath and fingerprint == classes_fingerprint(classpath):
        return classpath
    os.remove(stamp)
    return None


def write_stamp(build_dir, digest, classpath):
    with open(os.path.join(build_dir, "built-digest"), "w") as fh:
        fh.write("\n".join((digest, classes_fingerprint(classpath), classpath)))


def build(root, digest, deadline):
    """Compile with sbt unless the classes in the build's target directories
    are those of this source digest. Returns (runtime classpath, whether it
    built)."""
    classpath = stamped_classpath(BUILD_DIR, digest)
    if classpath:
        return classpath, False
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        code, stdout = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            HARNESS, env, out, deadline - time.time())
    with open(log, "a") as out:
        out.write(stdout)
    lines = [l for l in stdout.splitlines()
             if not l.startswith("[") and os.pathsep in l and "scala-2.13" in l]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    classpath = lines[-1].strip()
    # the sources may have changed while sbt ran: stamp what it compiled
    # only if they did not
    if source_digest(root) == digest:
        write_stamp(BUILD_DIR, digest, classpath)
    # flush the build's writes now rather than during the measured run
    os.sync()
    return classpath, True


def run_group(cmd, cwd, env, stderr, timeout):
    """Run `cmd` in its own process group; on timeout kill the group. Waits
    until the process has ended. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        return -1, out or ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out or ""


def cpu_times():
    """Jiffies of the host CPU line of /proc/stat: (total, iowait, steal)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[4], f[7] if len(f) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def revision(root, digest):
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode == 0 and os.path.isdir(os.path.join(root, ".git")):
            return rev.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha1:" + digest


def main():
    start = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the program's sources are not here")
    digest = source_digest(root)
    classpath, built = build(root, digest, start + BUILD_RUN_LIMIT_S - 60)
    build_done = time.time()
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(RUNS_DIR, f"{tag}-work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cores = max(1, min(CORES, len(os.sched_getaffinity(0)) - 1))
    cmd = [java]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--setups", str(SETUPS),
            "--work", work, "--out", raw_path, "--revision", revision(root, digest)]
    env = dict(os.environ, LC_ALL="C.utf8")
    log_path = os.path.join(RUNS_DIR, f"{tag}.log")
    cpu0 = cpu_times()
    with open(log_path, "w") as log:
        code, _ = run_group(cmd, work, env, log, deadline - time.time())
    cpu1 = cpu_times()
    elapsed = cpu1[0] - cpu0[0]
    raw = None
    if code == 0 and os.path.exists(raw_path):
        with open(raw_path) as fh:
            raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        fail(f"harness failed (exit {code}); see {log_path}")

    e2e, extra, (attempted, failed) = benchstats.end_to_end(raw)
    checks_ok = all(c["ok"] for c in raw["checks"]) and bool(raw["checks"])
    metrics = benchstats.per_layer(raw) if args.trace else e2e
    result = {
        "correct": checks_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    artifact = {
        "result": result,
        "config": raw["config"],
        "inputs": raw["inputs"],
        "checks": raw["checks"],
        "setup": raw["setup"],
        "rounds": raw["rounds"],
        "loop_s": raw["loop_s"],
        "space": raw["space"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        **extra,
        "ops": [{"kind": o["kind"], "round": o["round"], "traced": o["traced"],
                 "s": o["t1"] - o["t0"], "commits": o["commits"], "error": o.get("error")}
                for o in raw["ops"]],
        # host CPU time lost to other guests (steal) and to I/O waits while
        # the harness ran: a noisy host shows here
        "host_steal_share": (cpu1[2] - cpu0[2]) / elapsed if elapsed else 0.0,
        "host_iowait_share": (cpu1[1] - cpu0[1]) / elapsed if elapsed else 0.0,
        "build_s": build_done - start,
        "wall_s": time.time() - start,
    }
    with open(os.path.join(RUNS_DIR, f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
