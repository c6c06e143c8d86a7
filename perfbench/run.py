#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <api-sync|api-async|roster-slice> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first call builds the engine and the
harness from source with sbt (offline): the engine's classes go to the root
build's `target/`, the harness's to `perfbench/harness/target/`, and the
recorded classpath to `.bench_build/`. Later calls reuse the build while the
sources and the compiled classes are unchanged. Each run gets a private
directory under `.bench_build/runs/`, removed when it ends.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is the run's context record (machine load, CPU steal,
JVM flags, source revision, workload-specific figures).
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

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import oracle  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
STAGE = os.path.join(BUILD, "stage")
WORKLOADS = ["api-sync", "api-async", "roster-slice"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module openings Spark needs outside spark-submit (the same list the
# engine's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Files the build depends on: the engine's and the harness's."""
    out = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return [p for p in out if os.path.isfile(p)]


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classes_fingerprint(classpath):
    """Path, size and mtime of every file in the classpath's directories:
    the compiled engine and harness. The engine compiles into the root
    build's own `target/`, which an sbt run at the root may have rewritten
    from other sources since the last benchmark build."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for d, dirs, files in os.walk(entry):
            dirs.sort()
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                h.update(f"{os.path.relpath(os.path.join(d, f), entry)}\0{st.st_size}\0{st.st_mtime_ns}\n"
                         .encode())
    return h.hexdigest()


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def build():
    """Compile engine + harness; returns the runtime classpath. The build is
    reused only while both the sources and the compiled classes are the
    ones it left."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        cp = saved["classpath"]
        if (saved.get("digest") == digest
                and all(os.path.exists(e) for e in cp.split(os.pathsep))
                and saved.get("classes") == classes_fingerprint(cp)):
            return cp, digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export harness/Runtime/fullClasspath"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(3, f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines:
        die(3, f"build failed; see {log}")
    classpath = lines[-1]
    if "perfbench" not in classpath or ":" not in classpath:
        die(3, f"no classpath in build output; see {log}")
    with open(cp_file, "w") as f:
        json.dump({"digest": digest, "classpath": classpath,
                   "classes": classes_fingerprint(classpath)}, f)
    return classpath, digest


def java_cmd(classpath, tmpdir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmpdir}",
             f"-Dgraft.fixture.dir={os.path.join(STAGE, 'fixtures')}",
             "-cp", classpath, "perfbench.Main"] + args)


def run_java(cmd, cwd, timeout):
    """Run the harness JVM in its own process group; returns (code, stdout)."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; drop it so scratch
    # space stays in the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(4, f"harness timed out after {timeout}s")
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
    return p.returncode, out


def stage_tables():
    """Copy the fixture tables into the checkout once; returns their dir."""
    src = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    dst = os.path.join(STAGE, os.path.basename(os.path.normpath(src)))
    marker = dst + ".copied"
    if not os.path.exists(marker):
        if not all(os.path.exists(os.path.join(src, f"{t}.parquet")) for t in oracle.TABLES):
            die(5, f"fixture tables not found under {src} (set PERFBENCH_SF_DIR)")
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        for t in oracle.TABLES:
            s = os.path.join(src, f"{t}.parquet")
            d = os.path.join(dst, f"{t}.parquet")
            (shutil.copytree if os.path.isdir(s) else shutil.copy2)(s, d)
        open(marker, "w").close()
    return dst


def stage_roster(classpath, digest, sf_dir):
    """Run every roster query once so the fixtures they stage on first use
    exist before any measured run."""
    marker = os.path.join(STAGE, "roster.staged")
    if os.path.exists(marker) and open(marker).read() == digest:
        return 0.0
    t0 = time.time()
    tmp = os.path.join(STAGE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    run_dir = os.path.join(BUILD, "runs", f"stage-{os.getpid()}")
    cmd = java_cmd(classpath, tmp, ["--stage", "--workload", "roster-slice", "--run-dir", run_dir,
                                    "--sf-dir", sf_dir])
    code, _ = run_java(cmd, ROOT, 600)
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        die(6, "roster staging failed")
    with open(marker, "w") as f:
        f.write(digest)
    return time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        die(2, "--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(HARNESS, "build.sbt"))):
        die(2, "run from the repository root: engine sources not found")

    classpath, digest = build()
    run_id = f"{a.workload or 'selftest'}-{os.getpid()}-{int(time.time() * 1000)}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir)
    try:
        if a.selftest:
            code, out = run_java(java_cmd(classpath, run_dir, ["--selftest"]), run_dir, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)

        staging_s = 0.0
        sf_dir = ""
        tmp = os.path.join(run_dir, "tmp")
        if a.workload == "roster-slice":
            t0 = time.time()
            sf_dir = stage_tables()
            staging_s = time.time() - t0 + stage_roster(classpath, digest, sf_dir)
            # staged kernel corpora live in the shared stage tmpdir; entries a
            # run adds there are removed when it ends
            tmp = os.path.join(STAGE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        tmp_before = set(os.listdir(tmp))
        cmd = java_cmd(classpath, tmp, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir, "--sf-dir", sf_dir])
        try:
            code, out = run_java(cmd, run_dir, RUN_TIMEOUT_S)
        finally:
            for name in set(os.listdir(tmp)) - tmp_before:
                p = os.path.join(tmp, name)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH_RESULT ")), None)
        if code != 0 or line is None:
            die(7, f"harness exited with {code} and no result")
        res = json.loads(line[len("PERFBENCH_RESULT "):])
        ctx = res.pop("context")
        if a.workload == "roster-slice":
            fails = oracle.check(sf_dir, os.path.join(run_dir, "results"))
            if fails:
                res["failed"] += len(fails)
                res["correct"] = False
                ctx["errors"] = ctx.get("errors", []) + fails
                ctx["failed_ratio"] = res["failed"] / res["attempted"]
        if a.trace:
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
                keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
                shutil.copy2(spans, keep)
                ctx["spans_file"] = os.path.relpath(keep, ROOT)
        ctx["staging_s"] = ctx.get("staging_s", 0.0) + staging_s
        ctx["revision"] = revision()
        ctx["source_sha256"] = digest
        print(json.dumps({"context": ctx}))
        print(json.dumps(res))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
