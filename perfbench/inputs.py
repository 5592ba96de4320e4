"""Per-run inputs made from the seed, and the output checks.

The program only ever sees the generated inputs: JSON documents (one
order with its lineitems nested as an array per line, one directory per
queue job) and the op lists under `<work>/inputs`. The expected outputs
are computed here with DuckDB straight from the fixture tables, without
the program's flatten code.
"""
import os
import random

import duckdb

FIXTURE_TABLES = ["orders", "lineitem"]

# One target row as DuckDB sees it, with every column at one fixed type.
ROW_HASH = """sum(hash(o_orderkey::BIGINT, o_custkey::BIGINT, o_orderstatus::VARCHAR,
    o_totalprice::DOUBLE, epoch_us(o_orderdate::TIMESTAMP), o_orderpriority::VARCHAR,
    l_linenumber::BIGINT, l_partkey::BIGINT, l_suppkey::BIGINT, l_quantity::DOUBLE,
    l_extendedprice::DOUBLE, l_discount::DOUBLE, l_tax::DOUBLE, l_returnflag::VARCHAR,
    l_linestatus::VARCHAR, epoch_us(l_shipdate::TIMESTAMP))::HUGEINT)"""

TARGET_COLUMNS = sorted([
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate"])

# A document: the order row plus its lineitems as a nested array.
DOC_SELECT = """SELECT {extra} o.o_orderkey, o.o_custkey, {status} AS o_orderstatus,
    {price} AS o_totalprice, o.o_orderdate, o.o_orderpriority,
    list(struct_pack(l_linenumber := l.l_linenumber, l_partkey := l.l_partkey,
        l_suppkey := l.l_suppkey, l_quantity := {qty},
        l_extendedprice := l.l_extendedprice, l_discount := l.l_discount,
        l_tax := l.l_tax, l_returnflag := l.l_returnflag,
        l_linestatus := l.l_linestatus, l_shipdate := l.l_shipdate)
        ORDER BY l.l_linenumber) AS lineitems
    FROM plan p JOIN orders o USING (o_orderkey)
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY ALL"""

# An INC update rewrites these three fields as a function of the batch.
UPDATED = dict(status="CASE WHEN p.upd THEN 'U' ELSE o.o_orderstatus END",
               price="CASE WHEN p.upd THEN o.o_totalprice + p.batch ELSE o.o_totalprice END",
               qty="CASE WHEN p.upd THEN l.l_quantity + p.batch ELSE l.l_quantity END")
PLAIN = dict(status="o.o_orderstatus", price="o.o_totalprice", qty="l.l_quantity")


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _write_jobs(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(c) for c in r) + "\n")


def _write_docs(con, inputs, select, jobs):
    """One JSON-lines directory per job id of the `docs` table."""
    con.execute(f"CREATE TABLE docs AS {select}")
    dirs = {}
    for job in jobs:
        d = os.path.join(inputs, "docs", f"job{job}")
        os.makedirs(d)
        con.execute(f"COPY (SELECT * EXCLUDE (job) FROM docs WHERE job = {job} "
                    f"ORDER BY o_orderkey) TO '{d}/part-0.json' (FORMAT JSON)")
        dirs[job] = d
    return dirs


def make_api_ingest(con, inputs, seed, n_jobs, per_job, n_warm):
    """`n_warm` untimed jobs of `per_job` / 4 orders, then `n_jobs` timed
    ones of `per_job` orders. A third of the jobs APPEND onto one shared
    target (seed-chosen among the timed ones, every third warm-up job),
    the rest are SNP loads to their own. Orders are dealt to jobs in a
    seed-keyed hash order."""
    warm_orders = n_warm * (per_job // 4)
    total = warm_orders + n_jobs * per_job
    con.execute(f"""CREATE TABLE plan AS SELECT o_orderkey,
        CASE WHEN rn < {warm_orders} THEN rn // {per_job // 4}
            ELSE {n_warm} + (rn - {warm_orders}) // {per_job} END AS job
        FROM (SELECT o_orderkey, row_number() OVER (
                ORDER BY hash(o_orderkey, {seed}), o_orderkey) - 1 AS rn FROM orders)
        WHERE rn < {total}""")
    rnd = random.Random(seed)
    timed = list(range(n_warm, n_warm + n_jobs))
    appends = set(rnd.sample(timed, n_jobs // 3))
    dirs = _write_docs(con, inputs, DOC_SELECT.format(extra="p.job,", **PLAIN),
                       range(n_warm + n_jobs))
    rows = []
    for job in range(n_warm + n_jobs):
        warm = job < n_warm
        append = job in appends or (warm and job % 3 == 2)
        rows.append((job, "APPEND" if append else "SNP", dirs[job],
                     "append_shared" if append else f"snp_{job}",
                     "warm" if warm else "timed"))
    _write_jobs(os.path.join(inputs, "jobs.tsv"), rows)
    con.execute("CREATE TABLE targets (job BIGINT, target VARCHAR)")
    con.executemany("INSERT INTO targets VALUES (?, ?)",
                    [(r[0], r[3]) for r in rows if r[4] == "timed"])
    con.execute(f"COPY (SELECT o_orderkey, target FROM plan JOIN targets USING (job)) "
                f"TO '{inputs}/expected_targets.parquet'")


def make_inc_merge(con, inputs, seed, n_batches, per_batch, key_limit, n_warm):
    """The orders with key < `key_limit` take part. Job 0 is an SNP seed
    load of those with key % 4 != 0. Then come `n_warm` untimed and
    `n_batches` timed INC batches of `per_batch` orders: half held-out
    inserts (key % 4 == 0), half updates of seeded orders, each order used
    once. Batch b carries watermark `upd_ts` = b."""
    half = per_batch // 2
    last = n_warm + n_batches
    con.execute(f"""CREATE TABLE plan AS
        WITH part AS (SELECT o_orderkey FROM orders WHERE o_orderkey < {key_limit})
        SELECT o_orderkey, 0 AS batch, false AS upd FROM part WHERE o_orderkey % 4 != 0
        UNION ALL
        SELECT o_orderkey, batch, upd FROM (
            SELECT o_orderkey, (row_number() OVER (PARTITION BY o_orderkey % 4 = 0
                    ORDER BY hash(o_orderkey, {seed}), o_orderkey) - 1) // {half} + 1 AS batch,
                o_orderkey % 4 != 0 AS upd
            FROM part) WHERE batch <= {last}""")
    held_out = con.execute("SELECT count(*) FROM plan WHERE batch > 0 AND NOT upd").fetchone()[0]
    assert held_out == half * last, "not enough held-out orders for the batches"
    dirs = _write_docs(con, inputs, DOC_SELECT.format(
        extra="p.batch AS job, p.batch AS upd_ts,", **UPDATED), range(last + 1))
    rows = [(0, "SNP", dirs[0], "inc", "seed", 0)]
    rows += [(b, "INC", dirs[b], "inc", "warm" if b <= n_warm else "timed", b)
             for b in range(1, last + 1)]
    _write_jobs(os.path.join(inputs, "jobs.tsv"), rows)
    con.execute(f"COPY plan TO '{inputs}/plan.parquet'")


# ---- checks ---------------------------------------------------------------

def _target_glob(phase_dir, name="*"):
    return os.path.join(phase_dir, "targets", name, "*.parquet")


def _columns(con, pattern):
    return sorted(r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{pattern}')").fetchall())


def check_api_ingest(con, inputs, phase_dir):
    """Each target's row count and row hash against orders ⋈ lineitem."""
    errors = []
    cols = _columns(con, _target_glob(phase_dir))
    if cols != TARGET_COLUMNS:
        return [f"target columns {cols}"]
    got = dict((t, (n, h)) for t, n, h in con.execute(f"""
        SELECT regexp_extract(filename, '/targets/([^/]+)/', 1), count(*), {ROW_HASH}
        FROM read_parquet('{_target_glob(phase_dir)}', filename = true)
        GROUP BY 1""").fetchall())
    want = dict((t, (n, h)) for t, n, h in con.execute(f"""
        SELECT e.target, count(*), {ROW_HASH}
        FROM read_parquet('{inputs}/expected_targets.parquet') e
        JOIN orders o USING (o_orderkey) JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1""").fetchall())
    if set(got) != set(want):
        errors.append(f"targets {sorted(set(got) ^ set(want))} missing or extra")
    errors += [f"{t}: got {got[t]} want {want[t]}" for t in want
               if t in got and got[t] != want[t]]
    return errors


def check_inc_merge(con, inputs, phase_dir, last_batch):
    """The final target against an independent latest-per-key result, and
    the stored watermark against the last batch."""
    errors = []
    target = _target_glob(phase_dir, "inc")
    if _columns(con, target) != sorted(TARGET_COLUMNS + ["upd_ts"]):
        return [f"inc target columns {_columns(con, target)}"]
    dup = con.execute(f"""SELECT count(*) - count(DISTINCT (o_orderkey, l_linenumber))
        FROM read_parquet('{target}')""").fetchone()[0]
    if dup:
        errors.append(f"{dup} duplicate keys in the inc target")
    got = con.execute(f"SELECT count(*), {ROW_HASH}, max(upd_ts) "
                      f"FROM read_parquet('{target}')").fetchone()
    want = con.execute(f"""WITH versions AS (
            SELECT o.o_orderkey, o.o_custkey, {UPDATED['status']} AS o_orderstatus,
                {UPDATED['price']} AS o_totalprice, o.o_orderdate, o.o_orderpriority,
                l.l_linenumber, l.l_partkey, l.l_suppkey, {UPDATED['qty']} AS l_quantity,
                l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag,
                l.l_linestatus, l.l_shipdate, p.batch AS upd_ts
            FROM read_parquet('{inputs}/plan.parquet') p
            JOIN orders o USING (o_orderkey) JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        latest AS (SELECT * FROM versions QUALIFY row_number() OVER (
            PARTITION BY o_orderkey, l_linenumber ORDER BY upd_ts DESC) = 1)
        SELECT count(*), {ROW_HASH}, max(upd_ts) FROM latest""").fetchone()
    if got != want:
        errors.append(f"inc target: got {got} want {want}")
    wm = con.execute(f"SELECT max(wm) FROM read_parquet("
                     f"'{phase_dir}/watermarks/*.parquet') WHERE jobId = 1").fetchone()[0]
    if wm != last_batch:
        errors.append(f"stored watermark {wm}, last batch {last_batch}")
    return errors
