"""Turns the JVM's raw op and job records into the reported metrics.

Op records come from `ops_<phase>.tsv` (one line per op), job records
from `jobs_<phase>.tsv` (traced phase only, one line per Spark job with
its long call site). A job is attributed to a layer by the `graft`
method in its call site, never by line number.
"""
import re
import statistics

TAIL_BEYOND = 10

# "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1520)"
_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.([\w$<>]+)\(([^)]*)\)\s*$")


def median(values):
    return statistics.median(values)


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that still has `beyond` samples above it:
    the (n - beyond)-th smallest of n values. Returns (value, percentile,
    n), or None when fewer than beyond + 1 samples exist."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond
    return sorted(values)[k - 1], 100.0 * k / n, n


_SYNTHETIC = {"anonfun", "adapted", "lzycompute"}


def _names(jvm_name):
    """The source names in a JVM class or method name, without Scala's
    synthetic parts: `Control$RunLog` -> [Control, RunLog],
    `$anonfun$apiIngest$1` -> [apiIngest]."""
    return [p for p in jvm_name.split("$")
            if p and not p.isdigit() and p not in _SYNTHETIC]


def frames(callsite):
    """(class, method) of each stack frame in a long call site."""
    out = []
    for line in callsite.split("\n"):
        m = _FRAME.match(line)
        if m:
            out.append((m.group(1), m.group(2)))
    return out


def graft_method(callsite):
    """`graft.<package>.<Object>.<method>` of the innermost `graft` frame
    of a job's long call site, or None when no `graft` code started it."""
    for cls, meth in frames(callsite):
        if cls.startswith("graft."):
            pkg, _, obj = cls.rpartition(".")
            return ".".join([pkg] + _names(obj) + (_names(meth) or [meth])[:1])
    return None


INGEST = "graft.run.Pipelines.apiIngest"
WRITE = "graft.run.Pipelines.writeByLoadType"
JSON_INFER = "graft.sources.Sources.jsonStrings"


def ingest_phases(op_jobs):
    """Splits one ingest op's jobs (job-id order) into the layers of
    `Pipelines.apiIngest`: the schema-inference jobs, the count pass
    (apiIngest's own jobs before the first write job), the write, and
    the read-back (apiIngest's own jobs after it)."""
    out = {"json_infer": [], "count_pass": [], "write": [], "readback": [], "other": []}
    wrote = False
    for j in op_jobs:
        m = j["method"]
        if m == JSON_INFER:
            out["json_infer"].append(j)
        elif m == WRITE:
            wrote = True
            out["write"].append(j)
        elif m == INGEST:
            out["readback" if wrote else "count_pass"].append(j)
        else:
            out["other"].append(j)
    return out


def busy_s(jobs):
    return sum(j["end_ms"] - j["start_ms"] for j in jobs) / 1e3


def covered_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_ops(path):
    ops = []
    with open(path) as f:
        for line in f:
            c = line.rstrip("\n").split("\t")
            ops.append(dict(id=c[0], name=c[1], start_ms=int(c[2]), end_ms=int(c[3]),
                            dur_s=int(c[4]) / 1e9, status=c[5], rows=int(c[6]),
                            wait_s=int(c[7]) / 1e9, detail=c[8]))
    return ops


def read_jobs(path):
    jobs = []
    with open(path) as f:
        header = f.readline().rstrip("\n").split("\t")
        for line in f:
            c = dict(zip(header, line.rstrip("\n").split("\t")))
            cs = c["callsite"].replace("\\n", "\n").replace("\\\\", "\\")
            j = {k: int(v) for k, v in c.items() if k not in ("op", "callsite")}
            j.update(op=c["op"], method=graft_method(cs))
            jobs.append(j)
    return jobs


def read_props(path):
    with open(path) as f:
        return dict(line.rstrip("\n").split("=", 1) for line in f if "=" in line)


def end_to_end(ops, props, rows_total):
    """The end-to-end metrics of one untraced phase, but set-up time."""
    lat = [o["dur_s"] for o in ops]
    wall = int(props["wall_ns"]) / 1e9
    return {
        "wall_s": (wall, "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail(lat)[0], "s"),
        "rows_per_s": (rows_total / wall, "1/s"),
        "cpu_s": (int(props["cpu_ns"]) / 1e9, "s"),
        "peak_rss_mb": (int(props["peak_rss_kb"]) / 1024.0, "MB"),
    }


PER_LAYER = [
    ("control.queue_wait_s", "s"), ("control.runlog_append_s", "s"),
    ("control.runlog_files", "count"), ("control.watermark_load_s", "s"),
    ("control.watermark_save_s", "s"), ("sources.json_infer_s", "s"),
    ("run.count_pass_s", "s"), ("run.write_s", "s"), ("run.readback_s", "s"),
    ("operators.merge_shuffle_bytes", "B"), ("sinks.bytes_written_per_row", "B"),
    ("sinks.files_written", "count"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.driver_s", "s"),
    ("spark.executor_cpu_s", "s"), ("jvm.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("trace.overhead_s", "s"),
]


def per_layer(ops, jobs, props, plain_props):
    """The per-layer metrics of the traced phase. Times are medians over
    ops, or means where only a phase total exists; a layer the workload
    never calls reads 0."""
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append(j)
    n = len(ops)
    m = {name: 0.0 for name, _ in PER_LAYER}

    def med(xs):
        return median(xs) if xs else 0.0

    split = {o["id"]: ingest_phases(by_op.get(o["id"], [])) for o in ops}
    m["control.queue_wait_s"] = med([o["wait_s"] for o in ops])
    m["control.runlog_append_s"] = int(props["runlog_append_ns"]) / 1e9 / n
    m["control.runlog_files"] = int(props["runlog_files"])
    for layer, key in (("sources.json_infer_s", "json_infer"),
                       ("run.count_pass_s", "count_pass"),
                       ("run.write_s", "write"), ("run.readback_s", "readback")):
        m[layer] = med([busy_s(split[o["id"]][key]) for o in ops])
    writes = [j for s in split.values() for j in s["write"]]
    merges = [j for o in ops if o["name"] == "INC" for j in split[o["id"]]["write"]]
    m["operators.merge_shuffle_bytes"] = sum(j["shuffle_write"] for j in merges) / n
    rows = sum(j["out_records"] for j in writes)
    m["sinks.bytes_written_per_row"] = sum(j["out_bytes"] for j in writes) / max(rows, 1)
    m["sinks.files_written"] = int(props["files_written"]) / n
    wm = [o["detail"].split(",") for o in ops if o["name"] == "INC" and o["detail"]]
    if wm:
        m["control.watermark_load_s"] = med([int(a) / 1e9 for a, _ in wm])
        m["control.watermark_save_s"] = med([int(b) / 1e9 for _, b in wm])
    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.stages_per_op"] = sum(j["stages"] for j in jobs) / n
    m["spark.tasks_per_op"] = sum(j["tasks"] for j in jobs) / n
    m["spark.driver_s"] = med([
        (o["end_ms"] - o["start_ms"]
         - covered_ms([(j["start_ms"], j["end_ms"]) for j in by_op.get(o["id"], [])])) / 1e3
        for o in ops])
    m["spark.executor_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9
    m["jvm.gc_s"] = int(props["gc_ms"]) / 1e3
    m["spark.shuffle_write_bytes"] = float(sum(j["shuffle_write"] for j in jobs))
    m["spark.spill_bytes"] = float(sum(j["spill"] for j in jobs))
    m["trace.overhead_s"] = (int(props["wall_ns"]) - int(plain_props["wall_ns"])) / 1e9
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}
