#!/usr/bin/env python3
"""Benchmark of the vfsindex engine: index build, point and scan queries,
refresh beside reads.

    python3 perfbench/run.py --workload point_queries --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds: it compiles the
engine sources (src/main/scala) together with the harness (perfbench/src)
with sbt, offline, against the Spark jars the root build uses, then records a
JVM class-data-sharing archive from one small training run, which takes
JVM and Spark start-up out of every later run. Later runs start the JVM
directly. Everything a run writes stays under perfbench/target and
perfbench/.work.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). A failed build or setup exits non-zero
without printing it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("point_queries", "refresh_mixed")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), ENGINE_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(cp, archive_opt):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # JVM log lines go to stderr: stdout carries the result
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr", archive_opt]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def build():
    """Compiles with sbt and records the class-data-sharing archive when a
    source changed; returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "sources.sha256")
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if r.returncode != 0:
        die(f"build failed: sbt exited with {r.returncode}")
    with open(cp_file) as fh:
        cp = fh.read().strip()
    # training run: every op shape, refresh and compaction, at tiny scale
    run_once(cp, "refresh_mixed", 1, 1, False, ("--scale", "train"),
             archive_opt=f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    if not os.path.exists(ARCHIVE):
        die("build failed: the training run wrote no class-data-sharing archive")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_once(cp, workload, seed, seconds, trace, extra=(), archive_opt=None):
    """One JVM run; returns its result object (with an `info` member)."""
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = java_cmd(cp, archive_opt or f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd.insert(1, f"-Djava.io.tmpdir={work}/tmp")
    cmd += ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--out", out, *extra]
    try:
        r = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr if archive_opt else sys.stdout,
                           stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
        sys.stdout.flush()
        if r.returncode != 0 or not os.path.exists(out):
            die(f"{workload} run failed (exit {r.returncode})")
        with open(out) as fh:
            result = json.load(fh)
        if trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(out + ".spans.jsonl",
                        os.path.join(WORK, "traces", f"{workload}-seed{seed}.spans.jsonl"))
        return result
    except subprocess.TimeoutExpired:
        die(f"{workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_names(result, trace):
    want = expected_metrics(trace)
    got = result["metrics"]
    if set(got) != set(want):
        die(f"metric names differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}")
    for k, u in want.items():
        if got[k]["unit"] != u:
            die(f"metric {k} has unit {got[k]['unit']}, BENCHMARK.json says {u}")


def selftest(cp):
    """Tiny-size checks: every metric name is reported, a clean run fails
    nothing, every Spark job lands in a span, and deliberately corrupted
    reference answers are counted as failed ops."""
    for workload, trace in (("point_queries", False), ("refresh_mixed", True)):
        r = run_once(cp, workload, 1, 2, trace, ("--scale", "tiny"))
        check_names(r, trace)
        for k in sorted(r["metrics"]):
            m = r["metrics"][k]
            print(f"selftest: {workload} trace={int(trace)} {k} = {m['value']} {m['unit']}")
        if r["failed"] != 0 or not r["correct"]:
            die(f"selftest: a clean {workload} run failed {r['failed']} ops")
        if trace and r["metrics"]["trace.unattributed_jobs"]["value"] != 0:
            die("selftest: some Spark jobs were not attributed to a span")
    corrupt = 3
    r = run_once(cp, "point_queries", 1, 2, False, ("--scale", "tiny", "--corrupt", str(corrupt)))
    if r["failed"] != corrupt or r["correct"]:
        die(f"selftest: {corrupt} corrupted references gave failed={r['failed']} correct={r['correct']}")
    print(f"selftest: ok ({corrupt} corrupted references counted as {r['failed']} failed ops)")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}: run from the root of a full checkout", 2)
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    cp = build()
    if a.selftest:
        selftest(cp)
        return
    r = run_once(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    check_names(r, bool(a.trace))
    for k, v in r["info"].items():
        print(f"# {k}: {v}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
