#!/usr/bin/env python3
"""graft pipeline benchmark.

Runs one workload with one seed and prints its metrics, one per line
with units, then one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

    python3 perfbench/run.py --workload strain_backfill --seed 1 \
        --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the benchmark runner from source with sbt (offline) into .bench_build/;
later runs reuse that build while the sources are unchanged. Each run
works in .bench_work/ and removes its own files when it ends.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
A traced run compares its timed region with that of an untraced run of
the same workload and seconds (and seed, if this build has one on
record); it makes that run first, in a JVM of its own, if there is none.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)
import harness  # noqa: E402

WORKLOADS = ["strain_backfill", "strain_serve", "curation_batch",
             "curation_stream"]
# the first run in a checkout builds: 500 + 200 + 175 s stays under 900
BUILD_TIMEOUT_S = 500
ARCHIVE_TIMEOUT_S = 200
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs the add-opens, as in the
# main build; class-data sharing messages are not the benchmark's output.
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xlog:cds=off",
     "-Xlog:cds+dynamic=off"]
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
# timed regions of correct untraced runs of this build, by workload, seed
# and seconds: the baseline of trace.overhead_frac
UNTRACED = os.path.join(BUILD, "untraced")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group (sbt and Spark start children) and wait for it. Returns the
    exit code, or None on timeout."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    fp_file = os.path.join(BUILD, "fingerprint")
    cp_file = os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read()
    shutil.rmtree(UNTRACED, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    # sbt's own state and temporary files stay in the checkout, too
    env["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                f"-Djna.tmpdir={tmp}")
    log("building graft and the benchmark runner (sbt)")
    t0 = time.time()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as out:
        rc = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={BUILD}/sbt-global",
             f"-Dsbt.boot.directory={BUILD}/sbt-boot",
             f"-Dsbt.ivy.home={BUILD}/ivy2", "-Dsbt.boot.lock=false",
             "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspathAsJars"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(log_path, errors="replace") as f:
        lines = [ln.strip() for ln in f]
    # `export` prints the classpath as a bare line
    cps = [ln for ln in lines if ".bench_build" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {rc}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    archive_classes(cps[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


def archive_classes(cp):
    """Write the JVM class-data archive of the classes a run loads first
    (session, SQL, I/O); measured runs map it instead of loading them."""
    work = os.path.join(WORK, "classes")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_group(["java", *JVM_OPTS, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}",
                        f"-Djava.io.tmpdir={work}", "-cp", cp,
                        "graftbench.Classes", work],
                       ARCHIVE_TIMEOUT_S, cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"class archive run failed (exit {rc})")


def untraced_wall_s(args):
    """`wall_s` of this build's correct untraced runs of the workload and
    seconds: the run with the same seed if there is one, else the median
    of all of them; None if there are none."""
    prefix = f"{args.workload}-{args.seconds}-"
    names = ([n for n in os.listdir(UNTRACED) if n.startswith(prefix)]
             if os.path.isdir(UNTRACED) else [])

    def read(name):
        with open(os.path.join(UNTRACED, name)) as f:
            return float(f.read())
    if prefix + str(args.seed) in names:
        return read(prefix + str(args.seed))
    return statistics.median(map(read, names)) if names else None


def run_jvm(cp, args, trace, root, deadline):
    """One runner JVM in a work dir of its own; returns its raw record."""
    work = os.path.join(root, f"trace{trace}")
    raw_path = os.path.join(work, "raw.json")
    cmd = (["java", *JVM_OPTS, f"-XX:SharedArchiveFile={CDS_ARCHIVE}",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--out", raw_path])
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "runner.log")
    with open(log_path, "w") as out:
        rc = run_group(cmd, deadline - time.time(), cwd=ROOT, stdout=out,
                       stderr=subprocess.STDOUT)
    with open(log_path, errors="replace") as f:
        text = f.read()
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(text[-6000:])
        raise SystemExit("runner timed out" if rc is None else f"runner exited {rc}")
    for ln in text.splitlines():
        if ln.startswith("[bench]"):
            log(ln)
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no graft sources under {ROOT}/src/main/scala; "
                         "run from the root of a graft checkout")
    cp = build()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + RUN_TIMEOUT_S
    plain_wall_s = untraced_wall_s(args) if args.trace else None
    try:
        raws = []
        # a traced run compares its timed region with an untraced run's;
        # it makes one first if this build has none on record
        if plain_wall_s is None:
            raws.append(run_jvm(cp, args, 0, work, deadline))
            plain_wall_s = raws[0]["wall_s"]
            if harness.outcome(raws[0])[0]:
                os.makedirs(UNTRACED, exist_ok=True)
                name = f"{args.workload}-{args.seconds}-{args.seed}"
                with open(os.path.join(UNTRACED, name), "w") as f:
                    f.write(repr(plain_wall_s))
        if args.trace:
            raws.append(run_jvm(cp, args, 1, work, deadline))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    result = harness.summarize(raws[-1], plain_wall_s if args.trace else None)
    for raw in raws[:-1]:
        ok, attempted, failed = harness.outcome(raw)
        result["correct"] &= ok
        result["attempted"] += attempted
        result["failed"] += failed
    for raw in raws:
        for c in raw["checks"]:
            if not c["ok"]:
                log(f"check failed: {c['name']}: {c['detail']}")
    for name, m in result["metrics"].items():
        print(f"{name:52s} {m['value']:14.6g} {m['unit']}")
    print(f"{'failed_frac':52s} {harness.failed_frac(result):14.6g} "
          f"({result['failed']}/{result['attempted']})")
    log(f"{args.workload} seed {args.seed}: {time.time() - t_start:.1f}s total")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
