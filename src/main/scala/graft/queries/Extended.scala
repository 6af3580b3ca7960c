package graft.queries

import graft.QueryDsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second-wave relational parity (SURVEY.md §2.1/2.3 leftovers):
  * LATERAL joins (GlareDB plans laterals via dependent-join pushdown,
  * `logical/planner/plan_subquery.rs:48-87`), mark-join semantics (LeftMark,
  * `logical_join.rs:27-34` — EXISTS as a projected boolean), SELECT *
  * EXCLUDE/REPLACE (`slt/standard/select/exclude_except.slt`, `replace.slt`),
  * COPY TO (`bind_copy.rs` — parse-only in the reference; real here), DDL
  * (CTAS/INSERT/temp tables, `bind_create_table.rs`), and DESCRIBE.
  */
object Extended {

  val queries: Map[String, Q] = Map(
    // LATERAL: per-nation top-2 suppliers by balance (correlated derived
    // table). Spark supports LATERAL since 3.2; Catalyst decorrelates.
    "q62_lateral_join" -> { (s, dir) =>
      t(s, dir, "nation"); t(s, dir, "supplier")
      s.sql("""
        SELECT n_nationkey, n_name, top.s_name, top.s_acctbal
        FROM nation,
        LATERAL (
          SELECT s_name, s_acctbal FROM supplier
          WHERE s_nationkey = n_nationkey
          ORDER BY s_acctbal DESC, s_suppkey ASC
          LIMIT 2) top
        ORDER BY n_nationkey, top.s_acctbal DESC, top.s_name
      """)
    },

    // Mark join: EXISTS surfaced as a boolean column (DuckDB-style LeftMark
    // used for decorrelated EXISTS/IN). Spark expresses it as a left join
    // against the distinct key set + null-flag.
    "q63_mark_exists" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey")).distinct()
        .withColumn("mark", lit(true))
      c.join(big, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("mark"), lit(false)).as("has_big_order"))
        .filter(col("c_custkey") <= 300)
        .orderBy("c_custkey")
    },

    // SELECT * EXCLUDE (cols) -> df.drop
    "q64_select_exclude" -> { (s, dir) =>
      t(s, dir, "nation")
        .drop("n_regionkey")
        .filter(col("n_nationkey") <= 10)
        .orderBy("n_nationkey")
    },

    // SELECT * REPLACE (expr AS col) -> withColumn
    "q65_select_replace" -> { (s, dir) =>
      t(s, dir, "region")
        .withColumn("r_name", lower(col("r_name")))
        .orderBy("r_regionkey")
    },

    // COPY TO: write the aggregate to parquet, read it back (round-trip
    // through the sink — df.write is the real COPY TO).
    "q66_copy_to" -> { (s, dir) =>
      val out = "target/tmp_sources/copy_to_parquet"
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumd(dbig(col("o_totalprice"))).as("total"))
        .coalesce(1)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("o_orderstatus")
    },

    // DDL: CTAS + INSERT INTO + SELECT, against the session catalog.
    "q67_ddl_ctas_insert" -> { (s, dir) =>
      t(s, dir, "region")
      // unique name: the warehouse dir outlives the (in-memory) catalog, so
      // a fixed name would collide with a stale location from a prior run
      val tbl = "graft_ddl_t_" + java.util.UUID.randomUUID.toString.take(8)
      s.sql(s"CREATE TABLE $tbl USING parquet AS SELECT r_regionkey, r_name FROM region")
      s.sql(s"INSERT INTO $tbl VALUES (99, 'NOWHERE')")
      val out = s.sql(
        s"SELECT COUNT(*) AS n, CAST(MAX(r_regionkey) AS INT) AS max_key FROM $tbl")
      // materialize before dropping the backing table, then clean up
      val rows = out.collect()
      s.sql(s"DROP TABLE $tbl")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },

    // GlareDB-name function surface through the compat layer: the SQL text
    // below uses the reference's names (strpos, list_extract, epoch,
    // isfinite, csc, gcd, lcm, to_int32) yet runs on Spark unchanged. csc
    // is also a Spark name; the dialect switch gives it the reference's
    // definition.
    "q69_compat_functions" -> { (s, dir) =>
      graft.GraftExtensions.glareDialect(s)
      t(s, dir, "part"); t(s, dir, "embeddings")
      s.sql("""
        SELECT p_partkey,
          CAST(strpos(p_name, 'a') AS INT) AS pos_a,
          byte_length(p_brand) AS blen,
          gcd(p_size, 24) AS g,
          lcm(p_size, 4) AS l,
          isfinite(p_retailprice) AS fin,
          isinf(p_retailprice) AS inf_check,
          isinf(CAST('Infinity' AS DOUBLE)) AS inf_lit,
          ROUND(csc(p_size), 6) AS csc_sz,
          to_int32(p_size * 2) AS i32,
          to_string(p_size) AS s_sz,
          CAST(epoch(CAST(p_partkey * 1000 AS BIGINT)) AS TIMESTAMP_NTZ) AS ep
        FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
      """)
    },

    // Parameterized query — the reference's extended-protocol
    // prepare/bind surface (engine/session.rs:192,206). Spark 4 binds
    // named parameters server-side.
    "q70_parameterized" -> { (s, dir) =>
      t(s, dir, "orders")
      s.sql(
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders " +
          "WHERE o_totalprice > :minPrice AND o_orderstatus = :status " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        Map("minPrice" -> 200000, "status" -> "F"))
    },

    // SQL session variables (reference `slt/standard/vars/`): DECLARE /
    // SET VAR / reference in a query.
    "q71_sql_variables" -> { (s, dir) =>
      t(s, dir, "customer")
      s.sql("DECLARE OR REPLACE VARIABLE graft_min_bal DOUBLE DEFAULT 0.0")
      s.sql("SET VAR graft_min_bal = 9500.0")
      s.sql("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer WHERE c_acctbal > graft_min_bal
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """)
    },

    // Views: named SQL re-bound at use (catalog/entry.rs View;
    // slt/standard/views/).
    "q72_view_ddl" -> { (s, dir) =>
      t(s, dir, "orders")
      s.sql("""
        CREATE OR REPLACE TEMP VIEW graft_big_orders AS
        SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 300000
      """)
      s.sql("""
        SELECT o_custkey, COUNT(*) AS n
        FROM graft_big_orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 2
        ORDER BY o_custkey
      """)
    },

    // Partitioned COPY TO + partition-pruned read-back: the hive-style
    // layout that turns a 100 TB scan into a single-partition read when
    // the filter hits the partition column (PartitionFilters in the plan,
    // spec-asserted).
    "q73_partitioned_write" -> { (s, dir) =>
      val out = s"target/tmp_sources/lineitem_by_flag_${Integer.toHexString(dir.hashCode)}"
      if (!new java.io.File(out, "_SUCCESS").exists()) {
        t(s, dir, "lineitem")
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      }
      s.read.parquet(out)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumd(drate(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_linestatus")
    },

    // DESCRIBE: schema surfaced as rows (reference: plan_describe.rs).
    "q68_describe" -> { (s, dir) =>
      t(s, dir, "lineitem")
      s.sql("DESCRIBE lineitem")
        .select(col("col_name"), col("data_type"))
        .orderBy("col_name")
    })

  val oracles: Map[String, String] = Map(
    "q62_lateral_join" -> """
      SELECT n_nationkey, n_name, top.s_name, top.s_acctbal
      FROM nation,
      LATERAL (
        SELECT s_name, s_acctbal FROM supplier
        WHERE s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey ASC
        LIMIT 2) top
      ORDER BY n_nationkey, top.s_acctbal DESC, top.s_name""",

    "q63_mark_exists" -> """
      SELECT c_custkey,
             EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 350000)
               AS has_big_order
      FROM customer
      WHERE c_custkey <= 300
      ORDER BY c_custkey""",

    "q64_select_exclude" -> """
      SELECT * EXCLUDE (n_regionkey) FROM nation
      WHERE n_nationkey <= 10 ORDER BY n_nationkey""",

    "q65_select_replace" -> """
      SELECT * REPLACE (LOWER(r_name) AS r_name) FROM region
      ORDER BY r_regionkey""",

    "q66_copy_to" -> s"""
      SELECT o_orderstatus, COUNT(*) AS n,
             ${sql.sumd(sql.dbig("o_totalprice"))} AS total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q67_ddl_ctas_insert" -> """
      SELECT COUNT(*) + 1 AS n, CAST(99 AS INT) AS max_key FROM region""",

    "q69_compat_functions" -> """
      SELECT p_partkey,
        CAST(STRPOS(p_name, 'a') AS INT) AS pos_a,
        CAST(STRLEN(p_brand) AS INT) AS blen,
        CAST(GCD(p_size, 24) AS BIGINT) AS g,
        CAST(LCM(p_size, 4) AS BIGINT) AS l,
        ISFINITE(p_retailprice) AS fin,
        ISINF(p_retailprice) AS inf_check,
        ISINF(CAST('Infinity' AS DOUBLE)) AS inf_lit,
        ROUND(1.0 / SIN(p_size), 6) AS csc_sz,
        CAST(p_size * 2 AS INT) AS i32,
        CAST(p_size AS VARCHAR) AS s_sz,
        MAKE_TIMESTAMP(p_partkey * 1000 * 1000000) AS ep
      FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""",

    "q70_parameterized" -> """
      SELECT o_orderpriority, COUNT(*) AS n FROM orders
      WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q71_sql_variables" -> """
      SELECT c_mktsegment, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 9500.0
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q72_view_ddl" -> """
      SELECT o_custkey, COUNT(*) AS n
      FROM (SELECT o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 300000) graft_big_orders
      GROUP BY o_custkey
      HAVING COUNT(*) >= 2
      ORDER BY o_custkey""",

    "q73_partitioned_write" -> s"""
      SELECT l_linestatus, COUNT(*) AS n,
             ${sql.sumd(sql.drate("l_quantity"))} AS sum_qty
      FROM lineitem WHERE l_returnflag = 'R'
      GROUP BY l_linestatus ORDER BY l_linestatus""",

    "q68_describe" -> """
      SELECT col_name, data_type FROM (VALUES
        ('l_orderkey', 'bigint'), ('l_partkey', 'bigint'),
        ('l_suppkey', 'bigint'), ('l_linenumber', 'int'),
        ('l_quantity', 'double'), ('l_extendedprice', 'double'),
        ('l_discount', 'double'), ('l_tax', 'double'),
        ('l_returnflag', 'string'), ('l_linestatus', 'string'),
        ('l_shipdate', 'timestamp_ntz')) t(col_name, data_type)
      ORDER BY col_name""")
}
