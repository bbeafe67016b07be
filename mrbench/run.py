#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

    python3 mrbench/run.py --workload mr_wordcount --seed 1 --seconds 15 --trace 0

Run it from the repository root. The first call builds the engine and the
benchmark with sbt (offline) into directories git ignores; later calls
rebuild only when a source or build file changed. The benchmark itself
runs in one JVM (see src/main/scala/graft/bench/Main.scala). This script
keeps every file it writes under mrbench/out, stops the JVM if it runs past
its time limit, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"} where metrics holds the
BENCHMARK.json end_to_end metrics (--trace 0) or per_layer ones (--trace 1).
Everything else the run measured goes to mrbench/out/result-*.json and, for
traced runs, the spans to mrbench/out/work-*/trace-*.json.
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("mr_wordcount", "suite_floor")
RUN_LIMIT_S = 170  # the whole call, build excluded
BUILD_LIMIT_S = 840
HEAP = "3g"
SOURCE_SUFFIXES = (".scala", ".java", ".sbt", ".properties")

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"mrbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change needs a rebuild: sources and build files of
    the engine and of the benchmark, outside any build output."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
              os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names if n.endswith(SOURCE_SUFFIXES)]
    return sorted(f for f in files if os.path.isfile(f))


def wait_or_kill(proc, timeout, msg):
    """Wait for `proc`; past `timeout` kill its whole process group, wait
    for it and fail. Returns the exit code, or stdout when it was piped."""
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(msg, 1)
    return proc.returncode if out is None else out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    return env


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=lf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, BUILD_LIMIT_S, f"build timed out; see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1] or " " in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def run_jvm(cp, a, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM runs in `work`, so Spark's relative defaults (warehouse,
    # metastore) land there too
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", a.data, "--work", work,
            "--expected", os.path.join(HERE, "expected_rows.tsv")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=lf, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        out = wait_or_kill(proc, max(1.0, deadline - time.monotonic()),
                           f"run exceeded {RUN_LIMIT_S} s; see {log}")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"JVM exited {proc.returncode} without a result; see {log}", 1)
    return proc.returncode, json.loads(lines[-1])


def mark_repeats(res, previous_file):
    """Mark each counter that differs from the previous traced run with the
    same seed as not deterministic; counters the run could not compare
    within itself become deterministic when they match."""
    if not os.path.exists(previous_file):
        return
    with open(previous_file) as f:
        prev = json.load(f).get("per_layer", {})
    for name, v in res["per_layer"].items():
        if v.get("deterministic") is not False and name in prev:
            v["deterministic"] = v["value"] == prev[name]["value"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.path.join(HERE, "testdata"),
                    help="directory holding the sf0.01 test tables")
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not next to mrbench/")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json is missing")
    if a.workload == "suite_floor" and not os.path.isdir(os.path.join(a.data, "sf0.01")):
        fail(f"test data {a.data}/sf0.01 not found")
    with open(bench_file) as f:
        spec = json.load(f)

    cp = build()
    t0 = time.monotonic()
    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc, res = run_jvm(cp, a, work, t0 + RUN_LIMIT_S)

    result_file = os.path.join(OUT, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if a.trace:
        mark_repeats(res, result_file)
    with open(result_file, "w") as f:
        json.dump(res, f, indent=1)

    shown = res["per_layer"] if a.trace else res["metrics"]
    for name, v in shown.items():
        det = v.get("deterministic")
        tag = {None: "", True: "  (repeats)", False: "  (varies)"}[det] if a.trace else ""
        print(f"{a.workload} {name} = {v['value']:.6g} {v['unit']}{tag}")
    if res["failures"]:
        print(f"{a.workload} failed ops: {json.dumps(res['failures'])}")
    print(f"{a.workload} samples={res['samples']} passes={len(res['passes'])} "
          f"steal_s={res['host']['steal_s']:.2f} seed={a.seed} session={json.dumps(res['session'])}")
    metrics = {}
    for m in spec["per_layer"] if a.trace else spec["end_to_end"]:
        if m["name"] not in shown:
            fail(f"the run did not measure {m['name']}", 1)
        metrics[m["name"]] = {"value": shown[m["name"]]["value"], "unit": shown[m["name"]]["unit"]}
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
