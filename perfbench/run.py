#!/usr/bin/env python3
"""Changelog-Q3 benchmark for graft.

Builds graft and the harness from source and trains a class-data archive
for them (once per source tree), runs one workload in a single JVM and
prints the result JSON as the last line of standard output:

    python3 perfbench/run.py --workload cycle_fold --seed 1 --seconds 15 --trace 0

Run it from the root of a graft checkout. Build outputs, records, traces
and logs go to `.bench_build/perfbench/` there. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the spans as
JSONL next to the run's record.

Exit code: 0 when every correctness gate held, 1 when a gate failed (the
result line then says `"correct": false`), anything else when the run
could not produce a result.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cycle_fold", "replay_live", "cdc_backfill")
RUN_LIMIT_S = 175       # a normal run
FIRST_RUN_LIMIT_S = 880  # a run that also builds
TRAIN_LIMIT_S = 240      # the class-data training run

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        fail("no graft sources under src/main/scala; run from the root of a graft checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not harness:
        fail("no harness sources under perfbench/src")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_HOME)")
    return graft, harness


def source_key(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(files, key):
    """Compile graft + harness with the Scala compiler that ships with Spark."""
    classes = os.path.join(OUT, "classes-" + key)
    if os.path.isdir(classes):
        return classes, False
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    print(f"perfbench: building {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=FIRST_RUN_LIMIT_S - 60)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed", 3)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if old != tmp:
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)
    os.rename(tmp, classes)
    return classes, True


def java_cmd(classpath, heap, work, flags):
    """The harness JVM: the tier-1 heap, Spark's module opens, every temporary file under `work`."""
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData"] + flags
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", classpath + os.pathsep + os.path.join(SPARK_JARS, "*"),
               "perfbench.Harness"])


def run_jvm(cmd, work, log, limit):
    """Run one harness JVM in its own process group with `work` as its scratch
    directory. Kills the group on timeout or signal, always waits for it, and
    removes `work`. Returns (exit code, stdout); a JVM killed on timeout has
    no stdout.
    """
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=ROOT, start_new_session=True)

        def terminate(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, terminate)
        signal.signal(signal.SIGINT, terminate)
        try:
            out, _ = proc.communicate(timeout=max(10.0, limit))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: JVM exceeded its time limit; log: {log}", file=sys.stderr)
            out = ""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def class_archive(classes, heap, limit):
    """The compiled classes as a jar, plus a dynamic class-data-sharing archive
    of what a short training run loads, made once per build. Runs map the
    archive instead of loading and verifying those classes again: about 5 s
    off each run's JVM start and first set-up on a 4-vCPU VM. Returns the
    classpath entry, the JVM flags and whether this call trained. If the
    training fails, no run of this build uses an archive.
    """
    jar, jsa, failed = classes + ".jar", classes + ".jsa", classes + ".jsa-failed"
    if not os.path.exists(jar):
        tmp = f"{jar}.tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
            for d, _, names in sorted(os.walk(classes)):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
        os.rename(tmp, jar)
    trained = not os.path.exists(jsa) and not os.path.exists(failed)
    if trained:
        print("perfbench: training the class-data archive", file=sys.stderr)
        tmp = f"{jsa}.tmp{os.getpid()}"
        work = os.path.join(OUT, "work", f"train-{os.getpid()}")
        log = os.path.join(OUT, "logs", "train.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        code, _ = run_jvm(java_cmd(jar, heap, work, [f"-XX:ArchiveClassesAtExit={tmp}"])
                          + ["--workload", "train", "--seed", "1", "--seconds", "1",
                             "--trace", "0", "--work", work, "--record", work],
                          work, log, limit)
        if code == 0 and os.path.exists(tmp):
            os.rename(tmp, jsa)
        else:
            open(failed, "w").close()
            if os.path.exists(tmp):
                os.remove(tmp)
    return jar, ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []), trained


def heap_size():
    """SPARK_DRIVER_MEM, or as the repository's test command derives it: half of RAM, clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_commit():
    """HEAD of the checkout, or "unknown" when the checkout is not its own repository."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + ["", ""])[:2]
        same = r.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT)
        return head if same else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--fault", choices=("skip-batch",),
                    help="inject a fault the correctness gates must catch")
    args = ap.parse_args()

    graft, harness = sources()
    files = graft + harness
    key = source_key(files)
    classes, built = build(files, key)
    heap = heap_size()
    classpath, cds, trained = class_archive(classes, heap, TRAIN_LIMIT_S)
    limit = (FIRST_RUN_LIMIT_S if built or trained else RUN_LIMIT_S) - (time.monotonic() - t0)

    name = f"{args.workload}-s{args.seed}-t{args.trace}" + ("-fault" if args.fault else "")
    work = os.path.join(OUT, "work", f"{name}-{os.getpid()}")
    record = os.path.join(OUT, "records", name + ".json")
    log = os.path.join(OUT, "logs", name + ".log")
    for d in (os.path.dirname(record), os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    cmd = (java_cmd(classpath, heap, work, cds + (["-Dgraft.phase.log=true"] if args.trace else []))
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--record", record,
              "--stamp.git_commit", git_commit(), "--stamp.source_key", key,
              "--stamp.heap", heap, "--stamp.built_this_run", str(built).lower(),
              "--stamp.class_archive", str(bool(cds)).lower()]
           + (["--sf", str(args.sf)] if args.sf else [])
           + (["--fault", args.fault] if args.fault else []))
    code, out = run_jvm(cmd, work, log, limit)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if not lines:
        sys.stdout.write(out)
        fail(f"no result (exit {code}); log: {log}", code or 3)
    print(lines[-1])
    sys.exit(code)


if __name__ == "__main__":
    main()
