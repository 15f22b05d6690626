#!/usr/bin/env python3
"""Benchmark for graft: builds the library and the benchmark from source,
runs one workload in a single local[4] Spark driver JVM, and prints its
result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run it from the root of the repository. Build outputs, per-run scratch
directories and result files go under `.bench_build/` (or
$CARGO_TARGET_DIR when set, taken relative to the root). Workloads,
metrics and bounds are listed in BENCHMARK.json at the root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("knn_serve", "ann_lifecycle")
# corrupted results a self-check run plants, each of which must fail one
# op: knn_serve swaps a top-k index and drops a kept doc from a dedup op
CORRUPTIONS = {"knn_serve": 2, "ann_lifecycle": 1}
ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 240
# a run may take this long beyond its measured --seconds: JVM start,
# three set-ups, warm-up, the untimed checks and the host controls
RUN_MARGIN_S = 150
SELFCHECK_TIMEOUT_S = 600

JVM_FLAGS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    # netlib BLAS picks its SIMD backend when the vector module is present
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compile graft and the benchmark with sbt once per source state;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if all(map(os.path.isfile, (cp_file, stamp_file, ARCHIVE))) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    for f in (stamp_file, cp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.forcestart=false -Dsbt.server.autostart=false").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspathAsJars"],
                             BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log)
    lines = open(log).read().splitlines()
    cps = [l.strip() for l in lines if l.strip().startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed; see " + log)
    cp = cps[-1]
    record_archive(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def record_archive(cp):
    """Record a class-data archive from one tiny knn_serve run; the
    Spark classes it loads are most of what every workload loads.
    Loading them is most of a cold JVM's start, and the archive cuts it
    severalfold. Every run maps it with -Xshare:on, so a run never falls
    back to a cold start: if the archive cannot be recorded or mapped,
    the build fails."""
    work = os.path.join(BUILD, "work", "archive-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(BUILD, "archive.log")
    try:
        with open(log, "w") as fh:
            rc = run_bounded(java_cmd(cp, work, "perfbench.SelfCheck", [
                "--work-dir", os.path.join(work, "data"), "--out-dir", os.path.join(work, "results"),
                "--train"], archive=["-XX:ArchiveClassesAtExit=" + ARCHIVE]),
                ARCHIVE_TIMEOUT_S, cwd=work, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(ARCHIVE) or subprocess.run(
            ["java"] + archive_flags() + JVM_FLAGS[:3] + ["-cp", cp, "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode != 0:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        fail("could not record a class-data archive the JVM maps (exit %s); see %s" % (rc, log))


def archive_flags():
    return ["-Xshare:on", "-XX:SharedArchiveFile=" + ARCHIVE]


def java_cmd(cp, work, main, args, archive=None):
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return ["java"] + JVM_FLAGS + (archive or archive_flags()) + [
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, main] + args


def run_workload(a):
    cp = build()
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    out = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    try:
        proc_out = os.path.join(work, "stdout")
        os.makedirs(work, exist_ok=True)
        timeout = a.seconds + RUN_MARGIN_S
        with open(proc_out, "w") as fh:
            try:
                rc = run_bounded(java_cmd(cp, work, "perfbench.Main", [
                    "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work-dir", os.path.join(work, "data"),
                    "--out-dir", out]), timeout, cwd=work, stdout=fh, stdin=subprocess.DEVNULL)
            except subprocess.TimeoutExpired:
                fail("run timed out after %d s" % timeout)
        lines = [l for l in open(proc_out).read().splitlines() if l.strip()]
        if rc != 0 or not lines:
            fail("benchmark process exited with %d" % rc)
        result = json.loads(lines[-1])
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selfcheck():
    """Tiny runs of every workload: each must emit every metric of
    BENCHMARK.json with its unit and pass its checks, and a corrupted
    result must trip the correctness check."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    cp = build()
    work = os.path.join(BUILD, "work", "selfcheck-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    problems = []
    try:
        proc = subprocess.run(java_cmd(cp, work, "perfbench.SelfCheck", [
            "--work-dir", os.path.join(work, "data"), "--out-dir", os.path.join(work, "results")]),
            cwd=work, stdout=subprocess.PIPE, text=True, timeout=SELFCHECK_TIMEOUT_S,
            stdin=subprocess.DEVNULL)
        seen = set()
        for line in proc.stdout.splitlines():
            parts = line.split(" ", 2)
            if len(parts) != 3 or parts[0] not in WORKLOADS:
                continue
            w, mode, res = parts[0], parts[1], json.loads(parts[2])
            seen.add((w, mode))
            if mode == "corrupt":
                ok = res["failed"] >= CORRUPTIONS[w] and not res["correct"]
                why = "%d of %d corrupted results passed the correctness checks" % (
                    max(0, CORRUPTIONS[w] - res["failed"]), CORRUPTIONS[w])
            else:
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                exp = want[0 if mode == "clean0" else 1]
                ok = res["correct"] and res["failed"] == 0 and got == exp
                why = "correct=%s failed=%s missing=%s extra/unit=%s" % (
                    res["correct"], res["failed"], sorted(set(exp) - set(got)),
                    sorted(k for k in got if exp.get(k) != got[k]))
            print("%-14s %-8s %s" % (w, mode, "ok" if ok else "FAIL: " + why))
            if not ok:
                problems.append((w, mode))
        for w in WORKLOADS:
            for mode in ("clean0", "clean1", "corrupt"):
                if (w, mode) not in seen:
                    problems.append((w, mode))
                    print("%-14s %-8s FAIL: no result" % (w, mode))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selfcheck " + ("passed" if not problems else "FAILED"))
    sys.exit(0 if not problems else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        selfcheck()
    elif a.workload is None or a.seed is None or a.seconds is None or a.seconds < 1:
        ap.error("--workload, --seed and --seconds (>= 1) are required")
    else:
        run_workload(a)


if __name__ == "__main__":
    main()
