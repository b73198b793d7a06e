#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from the
checkout's sources, runs one seeded workload in a fresh JVM and prints its
result as the last line of standard output.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ivf_serve --seed 1 --seconds 22 --trace 0
    python3 perfbench/run.py --smoke       # every workload, a quarter size, both modes
    python3 perfbench/run.py --overhead --workload curate --seed 1 --seconds 22

See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.json")
WORKLOADS = ["ivf_serve", "curate"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
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


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def class_stamp(cp):
    """Hash of the name, size and mtime of every file in the class
    directories on `cp`. The engine's classes live in the root build's
    target, which a root `sbt compile` also writes; a changed stamp means
    they may no longer match the sources."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for d, dirs, names in os.walk(entry):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(d, n)
                st = os.stat(f)
                h.update(f"{f} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed or
    the classes on it were rewritten since the last build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the engine "
             "(build.sbt and src/main/scala not found)")
    stamp = source_stamp()
    try:
        with open(CLASSPATH_FILE) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp and cached["classes"] == class_stamp(cached["classpath"]):
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and benchmark", file=sys.stderr)
    t0 = time.time()
    p = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp, "classes": class_stamp(cp)}, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_once(workload, seed, seconds, trace, scale=None):
    """Runs one workload in its own JVM. Returns (exit code, facts, result)."""
    cp = classpath()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # two GC threads, as many as Spark task threads (see Main.MaxThreads)
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:ParallelGCThreads=2",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", OUT]
    if scale is not None:
        cmd += ["--scale", str(scale)]
    log = os.path.join(OUT, f"{workload}-{seed}-trace{trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out, code = "", -1
        else:
            code = proc.returncode
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    lines = [l for l in out.splitlines() if l.strip()]
    facts = result = None
    for l in lines:
        if l.startswith("{"):
            try:
                obj = json.loads(l)
            except ValueError:
                continue
            if "perfbench_facts" in obj:
                facts = obj["perfbench_facts"]
            elif "metrics" in obj:
                result = obj
    if result is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return code, facts, result


def smoke():
    """Each workload at a quarter of its size, untraced and traced: every
    metric of BENCHMARK.json is present with its unit and every output
    check passes."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            code, _, res = run_once(w, 1, 1, trace, scale=0.25)
            got = {} if res is None else {k: v["unit"] for k, v in res["metrics"].items()}
            ok = code == 0 and res is not None and res["correct"] and got == want[trace]
            if not ok:
                bad += 1
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                print(f"FAIL {w} trace={trace} exit={code} missing={missing} "
                      f"extra={extra} wrong_unit={wrong}")
            else:
                print(f"ok   {w} trace={trace} ({len(got)} metrics)")
    sys.exit(1 if bad else 0)


def overhead(workload, seed, seconds):
    """Tracing overhead: the traced run's end-to-end values minus the
    untraced run's, same seed, as a share of the untraced value."""
    code0, facts0, _ = run_once(workload, seed, seconds, 0)
    code1, facts1, _ = run_once(workload, seed, seconds, 1)
    if code0 != 0 or code1 != 0 or not facts0 or not facts1:
        fail("overhead runs failed")
    e0, e1 = facts0["end_to_end"], facts1["end_to_end"]
    print(json.dumps({"workload": workload, "seed": seed, "tracing_overhead": {
        k: {"untraced": e0[k], "traced": e1[k], "share": (e1[k] - e0[k]) / e0[k]}
        for k in e0 if e0[k]}}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=22)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, help="input size factor (default 1)")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        smoke()
    if a.workload is None:
        fail("--workload is required")
    if a.overhead:
        overhead(a.workload, a.seed, a.seconds)
        return
    code, facts, res = run_once(a.workload, a.seed, a.seconds, a.trace, a.scale)
    if res is None:
        fail(f"{a.workload} produced no result (exit {code})")
    print(json.dumps({"perfbench_facts": facts}))
    print(json.dumps(res))
    sys.exit(code)


if __name__ == "__main__":
    main()
