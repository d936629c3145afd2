"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 15 --trace 0

Builds graft and the benchmark from source on first use (see build.py), then
runs one fresh benchmark JVM. The first run in a checkout also records a
class-data-sharing archive of the classes it loaded, which later JVMs map to
start faster. Its standard output carries each metric
by name and unit, a host line, and as the last line the result object
{"correct", "attempted", "failed", "metrics"}. The exit code is non-zero
when the build fails, an answer check fails, or the run overruns.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # leave nothing beside the sources
import build  # noqa: E402

WORKLOADS = ("point_serve", "ingest")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run (build excluded) must end well inside 180 s
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_build", "work", "%s-%d-%s" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the archive is dumped at exit, after the result is printed
    cds = "-XX:%s=%s" % ("SharedArchiveFile" if os.path.exists(build.ARCHIVE) else "ArchiveClassesAtExit",
                         build.ARCHIVE)
    # unified JVM logging goes to stderr: stdout carries results only
    cmd = ["java", *ADD_OPENS, "-Xmx" + HEAP, cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp), "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", repr(a.seconds),
           "--trace", a.trace, "--cores", str(len(os.sched_getaffinity(0))), "--work", work]
    # Spark in local mode needs no network, but without these it resolves
    # the host's name at start-up and fails where that name does not resolve
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)
    overran = threading.Event()

    def stop(signum, _frame):
        # the JVM runs in its own session: take it down with this process
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)

    def watchdog():
        try:
            proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            overran.set()
            os.killpg(proc.pid, 9)
    threading.Thread(target=watchdog, daemon=True).start()
    for line in proc.stdout:
        if not overran.is_set():
            sys.stdout.write(line)
            sys.stdout.flush()
    rc = proc.wait()
    # keep the spans and nothing else of the run's scratch data
    for name in os.listdir(work):
        if not name.endswith(".jsonl"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    if not os.listdir(work):
        os.rmdir(work)
    if overran.is_set():
        print("run overran %d s and was stopped" % RUN_LIMIT_S, file=sys.stderr)
        return 3
    return rc


if __name__ == "__main__":
    sys.exit(main())
