#!/usr/bin/env python3
"""PySpark binding smoke test — run via spark-submit or plain python3:

    PYTHONPATH=python python3 python/smoke_test.py [sf_dir]

Exercises the binding end-to-end: registration, path-as-table sugar (the
s04 shape), compat scalar functions (the q69 shape), a TVF, a sketch
aggregate, a decimal kernel in a child session (the session extension),
the fixture-table reader and the ``file:`` filesystem graft installs.
"""
import os
import sys

# plain `python3 python/smoke_test.py` (no spark-submit): put the graft
# classes on the driver classpath before the JVM starts. Under spark-submit
# pass --jars/--driver-class-path yourself and this is a no-op.
classes = os.environ.get(
    "GRAFT_CLASSES",
    os.path.join(os.path.dirname(__file__), "..", "target/scala-2.13/classes"))
if "PYSPARK_SUBMIT_ARGS" not in os.environ and os.path.isdir(classes):
    os.environ["PYSPARK_SUBMIT_ARGS"] = \
        f"--driver-class-path {os.path.abspath(classes)} pyspark-shell"

from pyspark.sql import SparkSession

import graft

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

builder = (SparkSession.builder.master("local[4]")
           .appName("graft-python-smoke")
           .config("spark.sql.extensions", "graft.GraftExtensions")
           .config("spark.sql.shuffle.partitions", "4")
           .config("spark.ui.enabled", "false"))
for key, value in graft.FILE_SYSTEM_CONFS:
    builder = builder.config(key, value)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
graft.register(spark)

failures = []


def check(name, got, pred):
    ok = pred(got)
    print(f"{'PASS' if ok else 'FAIL'} {name}: {got}")
    if not ok:
        failures.append(name)


# file: resolves to graft's in-process local filesystem
jvm = spark._jvm
hconf = spark._jsc.hadoopConfiguration()
fs = jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(hconf)
check("file_fs_conf", hconf.get("fs.file.impl"),
      lambda c: c == "graft.NioLocalFileSystem")
check("file_fs_class", fs.getClass().getName(),
      lambda c: c == "graft.NioLocalFileSystem")

# s04 shape: path-as-table sugar
rows = graft.sql(
    spark, f"SELECT count(*) AS n FROM '{sf_dir}/lineitem.parquet'").collect()
check("path_as_table", rows[0]["n"], lambda n: n > 0)

# read_parquet TVF sugar
rows = graft.sql(
    spark,
    f"SELECT count(*) AS n FROM read_parquet('{sf_dir}/orders.parquet')"
).collect()
check("read_parquet_tvf", rows[0]["n"], lambda n: n > 0)

# q69 shape: GlareDB-compat scalar functions + native vector expression
row = spark.sql(
    "SELECT strpos('graftspark', 'spark') AS p, gcd(54, 24) AS g, "
    "l2_distance(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS d").collect()[0]
check("compat_strpos", row["p"], lambda p: p == 6)
check("compat_gcd", row["g"], lambda g: g == 6)
check("native_l2_distance", row["d"], lambda d: abs(d - 5.0) < 1e-12)

# tpch_gen generator TVF
rows = graft.sql(
    spark, "SELECT count(*) AS n FROM tpch_gen.nation(0.01)").collect()
check("tpch_gen_tvf", rows[0]["n"], lambda n: n == 25)

# sketch aggregate through SQL registration
graft.table(spark, sf_dir, "events")
rows = spark.sql(
    "SELECT size(topk_sketch(user_id, 5, 64)) AS k FROM events").collect()
check("topk_sketch_agg", rows[0]["k"], lambda k: k == 5)

# the extension reaches a child session that registers nothing itself
child = spark.newSession()
row = child.sql("SELECT to_unscaled64(1.25D, 12, 4) AS u").collect()[0]
check("child_to_unscaled64", row["u"], lambda u: u == 12500)

# fixture-table reader returns a usable DataFrame
n = graft.table(spark, sf_dir, "nation").count()
check("engine_table", n, lambda x: x == 25)

spark.stop()
if failures:
    sys.exit(f"FAILED: {failures}")
print("all python-binding smoke checks passed")
