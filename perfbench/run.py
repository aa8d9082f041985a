#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from
`src/main/scala` together with the harness in `perfbench/src` (scalac
from the Spark distribution's jars) into `perfbench/.build`; later runs
reuse that build while the sources are unchanged. Each run works in its
own directory under `perfbench/.run`, which it deletes at the end. The
Spark session gets one thread per CPU this process may use, so
`taskset -c 0 python3 perfbench/run.py ...` gives a `local[1]` run.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
"""
import time

T_START = time.time()

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from workloads import STREAM, WORKLOADS  # noqa: E402

SPARK_JARS = os.environ.get("SPARK_HOME", "/opt/spark") + "/jars"
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170  # the whole run must end within 180 s
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def die_with_parent():
    """Child-side: get SIGKILL when run.py ends, however it ends."""
    ctypes.CDLL(None).prctl(1, int(signal.SIGKILL))  # PR_SET_PDEATHSIG


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(prog, "graft", "SparkEntry.scala")):
        die(f"program sources not found under {prog}; run from the repository root")
    out = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program + harness unless the stamp matches. Returns the
    classes directory and whether a build ran."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp, classes = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, False
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = SPARK_JARS + "/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       capture_output=True, text=True, timeout=800,
                       preexec_fn=die_with_parent)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        shutil.rmtree(BUILD, ignore_errors=True)
        die("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes, True


def harness(classes, run, args, t0_ms, extra):
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    # every file the JVM writes stays in the run directory
    cmd = (["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
            f"-Dspark.sql.warehouse.dir={run}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{SPARK_JARS}/*", "graftbench.Main",
              f"workload={args.workload}", f"inputs={run}/inputs", f"run={run}",
              f"seconds={args.seconds}", f"trace={args.trace}", f"cpus={cpus}",
              f"t0={t0_ms}"] + extra)
    log = open(os.path.join(run, "harness.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run,
                         preexec_fn=die_with_parent)
    try:
        p.wait(timeout=max(10, DEADLINE_S - (time.time() - T_START)))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # also on SIGTERM/SIGINT: the JVM never outlives the run
        if p.poll() is None:
            p.kill()
        p.wait()
        log.close()
    if p.returncode != 0:
        with open(os.path.join(run, "harness.log")) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        die(f"harness exited with {p.returncode}")
    with open(os.path.join(run, "harness.json")) as f:
        return json.load(f)


def corrupt(workload, run, ops):
    """Self-test: damage one output so the checks must report it."""
    import pyarrow.parquet as pq
    if workload == "stream_ods_dws":
        path = os.path.join(run, "out", "r0", "check", "dws")
    else:
        path = os.path.join(run, "out", "r0", ops[len(ops) // 2][0])
    f = sorted(x for x in os.listdir(path) if x.endswith(".parquet")
               and pq.read_metadata(os.path.join(path, x)).num_rows > 0)[0]
    t = pq.read_table(os.path.join(path, f))
    pq.write_table(t.slice(1), os.path.join(path, f))
    return os.path.relpath(path, run)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage one output before the checks")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run
    # directory deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, built = build()
    t0 = time.time() if built else T_START  # set-up excludes compilation
    runs = os.path.join(HERE, ".run")
    # directories of runs that were killed outright
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        if not os.path.exists(f"/proc/{d.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    run = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    try:
        wl = WORKLOADS[args.workload]
        inputs = os.path.join(run, "inputs")
        extra = []
        if args.workload == "stream_ods_dws":
            exp = gen.gen_stream(inputs, args.seed, **STREAM)
            with open(os.path.join(inputs, "config.tsv"), "w") as f:
                f.write("\n".join("\t".join(c) for c in exp["config"]) + "\n")
        else:
            gen.gen_tables(os.path.join(inputs, "tables"), args.seed, wl["sf"])
            with open(os.path.join(run, "ops.tsv"), "w") as f:
                f.write("\n".join(f"{n}\t{m}" for n, m in wl["ops"]) + "\n")
            extra = [f"ops={run}/ops.tsv", "warm=" + ",".join(wl["warm"])]
        h = harness(classes, run, args, int(t0 * 1000), extra)
        rounds = int(h["rounds"])
        damaged = corrupt(args.workload, run, wl.get("ops")) if args.corrupt else None
        if args.workload == "stream_ods_dws":
            problems, failed = check.check_stream(run, exp, rounds, h)
            per_round = 2 * STREAM["log_files"] + STREAM["cdc_files"]
            if int(h["data_batches"]) != rounds * per_round:
                problems.append(f"{h['data_batches']} data micro-batches, "
                                f"expected {rounds * per_round}")
            ties = 2 * STREAM["tie_pairs"]
            attempted = rounds * (per_round + ties)
            failed = sum(failed)
        else:
            problems = check.check_batch(ROOT, run, os.path.join(inputs, "tables"),
                                         wl["ops"], rounds)
            attempted, failed = int(h["attempted"]), int(h["failed"])
            problems = [p for p in problems
                        if not any(p.startswith(f"{o}: no output") for o in h["failed_ops"])]
        for p in problems:
            print("check:", p, file=sys.stderr)
        if damaged:
            print(f"self-test: damaged {damaged}; checks "
                  f"{'caught it' if problems else 'MISSED it'}", file=sys.stderr)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        metrics = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
        names = [m["name"] for m in metrics]
        units = {m["name"]: m["unit"] for m in metrics}
        missing = [n for n in names if n not in h]
        if missing:
            die(f"harness did not report {missing}")
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed,
                          "metrics": {n: {"value": h[n], "unit": units[n]}
                                      for n in names}}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
