#!/usr/bin/env python3
"""Fixed-work benchmark of the ingestion engine's job-queue workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads:

* `api_ingest`: a queue of SNP and APPEND jobs of nested order JSON
  through `Control.runWithRetries` -> `Pipelines.apiIngest`, two callers.
* `inc_merge`: INC batches (half inserts, half updates) upserted into a
  seeded target between `Watermarks.load` and `Watermarks.save`, one
  caller.

`--seconds` sizes the work: each workload turns it into a fixed op count
at a fixed rate, never by watching the clock, so every run of one setting
does the same work. The first run builds the program and the fixtures
into `.bench_build/perfbench`. Each run works in a fresh directory under
`.bench_work` (the JVM's working dir and `java.io.tmpdir`) and removes it
at the end. The last stdout line is the JSON result; with `--trace 1` it
holds the per-layer metrics of a traced pass over the same work.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("api_ingest", "inc_merge")
JVM_TIMEOUT_S = 160

# Timed ops per second of --seconds, the fixed size of one op, and the
# untimed warm-up ops run first: the JIT needs ~10 ops to settle.
API_JOBS_PER_S, API_ORDERS_PER_JOB, API_WARM = 1.0, 2000, 8
INC_BATCHES_PER_S, INC_ORDERS_PER_BATCH, INC_WARM = 0.8, 500, 5
# inc_merge works on the orders below this key: ~28k seeded orders
# (~112k target rows) and ~9k held out for inserts.
INC_KEY_LIMIT = 37500

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, 4)


def op_count(rate, seconds, minimum):
    return max(minimum, int(round(rate * seconds)))


def make_inputs(con, args, work):
    """Writes the run's inputs; returns the timed op count."""
    dest = os.path.join(work, "inputs")
    os.makedirs(dest)
    if args.workload == "api_ingest":
        n = op_count(API_JOBS_PER_S, args.seconds, 21)
        inputs.make_api_ingest(con, dest, args.seed, n, API_ORDERS_PER_JOB, API_WARM)
    else:
        n = op_count(INC_BATCHES_PER_S, args.seconds, 21)
        inputs.make_inc_merge(con, dest, args.seed, n, INC_ORDERS_PER_BATCH, INC_KEY_LIMIT,
                              INC_WARM)
    return n


def jvm(args, work, classes, sf):
    """Runs the benchmark JVM; returns its set-up time, from process start
    to the first timed op."""
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = ["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", "-XX:+AlwaysPreTouch",
           "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", f"workload={args.workload}", f"work={work}",
            f"data={sf}", f"cpus={cpus()}", f"trace={args.trace}"]
    log = open(os.path.join(work, "jvm.log"), "w")
    start_ns = time.time_ns()
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    first = int(stats.read_props(os.path.join(work, "out", "setup.props"))["first_op_epoch_ns"])
    return (first - start_ns) / 1e9


def check(con, args, work, phases, n_ops):
    """Output checks of every phase; returns the failures."""
    errors = []
    for phase in phases:
        target = os.path.join(work, phase)
        if args.workload == "api_ingest":
            errors += inputs.check_api_ingest(con, os.path.join(work, "inputs"), target)
        else:
            errors += inputs.check_inc_merge(con, os.path.join(work, "inputs"), target,
                                             n_ops + INC_WARM)
    return errors


def run(args):
    classes = build.classes()
    sf = build.fixtures()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    con = inputs.connect(sf)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        n_ops = make_inputs(con, args, work)
        setup_s = jvm(args, work, classes, sf)
        phases = ["plain"] + (["traced"] if args.trace else [])
        out = os.path.join(work, "out")
        ops = {p: stats.read_ops(os.path.join(out, f"ops_{p}.tsv")) for p in phases}
        props = {p: stats.read_props(os.path.join(out, f"phase_{p}.props")) for p in phases}
        errors = check(con, args, work, phases, n_ops)
        errors += [f"{p}: {len(ops[p])} ops, expected {n_ops}"
                   for p in phases if len(ops[p]) != n_ops]
        plain = ops["plain"]
        failed = sum(o["status"] != "S" for o in plain)
        ok = [o for o in plain if o["status"] == "S"]
        if args.trace:
            jobs = stats.read_jobs(os.path.join(out, "jobs_traced.tsv"))
            metrics = stats.per_layer(ops["traced"], jobs, props["traced"], props["plain"])
        else:
            metrics = stats.end_to_end(ok, props["plain"], sum(o["rows"] for o in ok))
            metrics["setup_s"] = (setup_s, "s")
        t = stats.tail([o["dur_s"] for o in ok]) or (0, 0.0, len(ok))
        print(f"{args.workload}: seed {args.seed}, {len(plain)} ops, {failed} failed, "
              f"op_tail_s is p{t[1]:.1f} of {t[2]} ops")
        for e in errors:
            sys.stderr.write(f"[perfbench] check failed: {e}\n")
        return {
            "correct": not errors,
            "attempted": len(plain),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }
    finally:
        con.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="2g",
                    help="JVM heap, pinned (-Xms = -Xmx) and pre-touched")
    args = ap.parse_args()
    # a terminated run still stops and waits for its JVM (see `jvm`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except Exception as e:  # no result line: the run is void
        sys.stderr.write(f"[perfbench] {type(e).__name__}: {e}\n")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
