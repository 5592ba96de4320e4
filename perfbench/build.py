"""Builds what every run shares: the program's classes and the fixture
tables. Both are cached under `.bench_build/perfbench` in the checkout
and rebuilt when their inputs change.

* Classes: the repository's `src/main/scala` plus `perfbench/scala`,
  compiled with the Scala compiler that ships in Spark's `jars/` dir.
* Fixtures: TPC-H `orders` and `lineitem` from DuckDB's `dbgen` at
  sf0.1, reshaped to the columns and types of the repository's test
  corpus (TESTDATA.md): BIGINT keys, DOUBLE money, TIMESTAMP dates, and
  dense 0-based order keys. dbgen is deterministic, so the tables are the
  same for every seed; the seed only shapes the per-run inputs.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Bump when the fixture SQL below changes.
FIXTURE_VERSION = "tpch-dense-v2"

# dbgen order keys fill 8 of every 32 slots; this maps them onto 0..n-1.
DENSE = "(((k - 1) // 32) * 8 + (k - 1) % 32)"

TABLES = {
    "orders": f"""SELECT {DENSE.replace('k', 'o_orderkey')}::BIGINT AS o_orderkey,
        o_custkey::BIGINT AS o_custkey, o_orderstatus,
        o_totalprice::DOUBLE AS o_totalprice,
        o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority
        FROM orders ORDER BY 1""",
    "lineitem": f"""SELECT {DENSE.replace('k', 'l_orderkey')}::BIGINT AS l_orderkey,
        l_partkey::BIGINT AS l_partkey, l_suppkey::BIGINT AS l_suppkey,
        l_linenumber::INTEGER AS l_linenumber,
        l_quantity::DOUBLE AS l_quantity,
        l_extendedprice::DOUBLE AS l_extendedprice,
        l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax,
        l_returnflag, l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate
        FROM lineitem ORDER BY 1, l_linenumber""",
}


class BuildError(Exception):
    pass


def spark_jars():
    """`jars/` of the Spark distribution at SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must name a Spark distribution that ships "
                         "scala-compiler in jars/")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return main + own


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stamped(dest, stamp):
    try:
        with open(dest + ".stamp") as f:
            return f.read() == stamp and os.path.isdir(dest)
    except OSError:
        return False


def _publish(tmp, dest, stamp):
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    with open(dest + ".stamp", "w") as f:
        f.write(stamp)


def classes():
    """Compiled classes dir, rebuilt when any source changes."""
    srcs = sources()
    jars = spark_jars()
    dest = os.path.join(BUILD, "classes")
    stamp = _digest(srcs, jars)
    if _stamped(dest, stamp):
        return dest
    os.makedirs(BUILD, exist_ok=True)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise BuildError("scalac failed")
    _publish(tmp, dest, stamp)
    return dest


def fixtures():
    """Dir holding one `<table>.parquet` per fixture table."""
    import duckdb

    dest = os.path.join(BUILD, "tpch-sf0.1")
    stamp = FIXTURE_VERSION + duckdb.__version__
    if _stamped(dest, stamp):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("LOAD tpch")
    con.execute("CALL dbgen(sf=0.1)")
    for name, sql in TABLES.items():
        con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    _publish(tmp, dest, stamp)
    return dest
