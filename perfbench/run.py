"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program with the benchmark
(see build.py), then runs one benchmark JVM (perfbench.Main) on a single
closed-loop client against a local Spark session, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. A human-readable report (every metric
with unit and sample count) goes to standard error; with --trace 1 the
recorded spans are written under .bench_build/trace/.

Workloads: bq2bq_backfill, corpus_dedup, stream_gates.

stream_gates checks each gate's result against stream_fingerprints.tsv.
A gate whose result differs fails the run, and standard error names the
fingerprint it observed ("gate <name> fingerprint <rows:hash>, recorded
..."). After a deliberate change to the streaming inputs or the gate mix,
update the file from those lines.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bq2bq_backfill", "corpus_dedup", "stream_gates")
RESULT_PREFIX = "PERFBENCH_RESULT "
# a run must end within 180 s; leave room for JVM teardown and cleanup
JVM_TIMEOUT_S = 170

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
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


def java(cp, tmp):
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             "-Djava.io.tmpdir=" + tmp]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", cp])


def metastore_template(cp):
    """The checkout's empty Hive metastore, created once like the build;
    each bq2bq_backfill run starts from a copy of it."""
    tpl = os.path.join(build.build_dir(), "metastore")
    done = os.path.join(build.build_dir(), "metastore.complete")
    if not os.path.isfile(done):
        shutil.rmtree(tpl, ignore_errors=True)
        tmp = os.path.join(build.build_dir(), "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(java(cp, tmp) + ["perfbench.Main", "--init-metastore", tpl],
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, timeout=300)
        if r.returncode != 0:
            sys.stderr.write(r.stderr.decode(errors="replace")[-4000:])
            raise subprocess.CalledProcessError(r.returncode, r.args)
        open(done, "w").close()
    return tpl


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
        cp = build.classpath(classes)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)

    try:
        metastore = metastore_template(cp)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        fail("metastore set-up failed: %s" % e)

    work = os.path.join(build.build_dir(), "run-%d" % os.getpid())
    trace_dir = os.path.join(build.build_dir(), "trace")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    if a.workload == "bq2bq_backfill":
        shutil.copytree(metastore, os.path.join(work, "metastore"))
    cores = min(4, os.cpu_count() or 1)
    cmd = (java(cp, os.path.join(work, "tmp")) + ["perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", work,
              "--trace-dir", trace_dir,
              "--bench-dir", build.BENCH_DIR])
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True)
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        buf = b""
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise subprocess.TimeoutExpired(cmd, JVM_TIMEOUT_S)
            if not sel.select(timeout=min(left, 1.0)):
                if proc.poll() is not None:
                    break
                continue
            chunk = os.read(proc.stdout.fileno(), 65536)
            if not chunk:
                break
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                text = line.decode(errors="replace")
                if text.startswith(RESULT_PREFIX):
                    result = text[len(RESULT_PREFIX):]
                else:
                    sys.stderr.write(text + "\n")
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded %d s" % JVM_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail("benchmark JVM exited with code %s" % proc.returncode)
    out = json.loads(result)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
