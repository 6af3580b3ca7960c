package graft.queries

import graft.QueryDsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator coverage (SURVEY.md §2.1, §2.3):
  * scan/filter/project/limit/offset, hash + nested-loop joins of every type,
  * grouped/ungrouped/distinct aggregation, cube/rollup/grouping sets, set
  * operations, subqueries (scalar/IN/EXISTS/correlated), CTEs, VALUES,
  * ORDER BY NULLS FIRST/LAST, top-k.
  *
  * Reference semantics: GlareDB `execution/operators/` (e.g. hash_join/mod.rs:126,
  * hash_aggregate/mod.rs:147, union.rs:51, limit.rs:32); all re-expressed as
  * declarative Spark plans so Catalyst picks broadcast/SMJ/AQE strategies.
  */
object Relational {

  // -- revenue expression used by several TPC-H-ish queries ------------------
  private def discPrice = dmoney(col("l_extendedprice")) * (one - drate(col("l_discount")))
  private val sqlDiscPrice =
    s"${sql.dmoney("l_extendedprice")} * (${sql.one} - ${sql.drate("l_discount")})"

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd(drate(col("l_quantity"))).as("sum_qty"),
          sumd(dmoney(col("l_extendedprice"))).as("sum_base_price"),
          sumd(discPrice).as("sum_disc_price"),
          sumd(discPrice * (one + drate(col("l_tax")))).as("sum_charge"),
          (sumd(drate(col("l_quantity"))) / count(lit(1))).as("avg_qty"),
          (sumd(dmoney(col("l_extendedprice"))) / count(lit(1))).as("avg_price"),
          (sumd(drate(col("l_discount"))) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q02_filter_project" -> { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_size").between(10, 20))
        .select(
          col("p_partkey"),
          col("p_name"),
          upper(col("p_brand")).as("brand_uc"),
          floor(col("p_retailprice") / 100).as("bucket"))
        .orderBy("p_partkey")
    },

    "q03_topk_revenue" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-06-30 00:00:00"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-06-30 00:00:00"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sumd(discPrice).as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    },

    "q04_order_priority" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-01-01 00:00:00"))
      val l = t(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    "q05_nation_revenue" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sumd(discPrice).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    },

    "q06_revenue_flat" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(sumd(dmoney(col("l_extendedprice")) * drate(col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
    },

    "q07_cust_order_dist" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    "q08_full_outer_nation" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },

    "q09_right_join" -> { (s, dir) =>
      val n = t(s, dir, "nation").filter(col("n_regionkey") <= 1)
      val su = t(s, dir, "supplier")
      n.join(su, col("n_nationkey") === col("s_nationkey"), "right")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    },

    "q10_cross_join" -> { (s, dir) =>
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      r.crossJoin(n)
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")
    },

    "q11_anti_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    "q12_union_all" -> { (s, dir) =>
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), lit("c").as("src"))
      val su = t(s, dir, "supplier")
        .select(col("s_suppkey").as("key"), lit("s").as("src"))
      c.union(su).groupBy(col("src"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
        .orderBy("src")
    },

    "q13_union_distinct" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(su).distinct().orderBy("nationkey")
    },

    "q14_intersect" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9500)
        .select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(su).orderBy("nationkey")
    },

    "q15_except" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .select(col("s_nationkey").as("nationkey"))
      c.except(su).orderBy("nationkey")
    },

    "q16_distinct" -> { (s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .orderBy("c_mktsegment")
    },

    "q17_agg_distinct" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      c.agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        sum_distinct(col("c_nationkey")).as("sum_distinct_nk"),
        count(lit(1)).as("n"))
    },

    "q18_cube" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sumd(drate(col("l_quantity"))).as("sum_qty"),
          grouping(col("l_returnflag")).cast(IntegerType).as("g_rf"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    "q19_rollup" -> { (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sumd(dbig(col("o_totalprice"))).as("total"),
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_st"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_pr"))
        .orderBy(col("g_st"), col("g_pr"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    "q20_grouping_sets" -> { (s, dir) =>
      t(s, dir, "lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
      """)
    },

    "q21_having" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sumd(dbig(col("o_totalprice"))).as("total"))
        .filter(col("n") >= 15)
        .orderBy("o_custkey")
    },

    "q22_scalar_subquery" -> { (s, dir) =>
      t(s, dir, "part")
      s.sql("""
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_retailprice > (
          SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) + 5 FROM part)
        ORDER BY p_partkey
      """)
    },

    "q23_in_subquery" -> { (s, dir) =>
      t(s, dir, "customer"); t(s, dir, "nation")
      s.sql("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)
    },

    "q24_correlated_exists" -> { (s, dir) =>
      t(s, dir, "customer"); t(s, dir, "orders")
      s.sql("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_acctbal > 9900 AND EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 20)
        ORDER BY c_custkey
      """)
    },

    "q25_correlated_scalar" -> { (s, dir) =>
      t(s, dir, "customer"); t(s, dir, "orders")
      s.sql("""
        SELECT c_custkey,
               (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        FROM customer
        WHERE c_custkey <= 200
        ORDER BY c_custkey
      """)
    },

    "q26_all_subquery" -> { (s, dir) =>
      t(s, dir, "part")
      // Spark lacks quantified ALL; express via max (equivalent: non-empty,
      // non-null subquery). Oracle keeps the > ALL form.
      s.sql("""
        SELECT p_partkey, p_size
        FROM part
        WHERE p_size > (SELECT MAX(p_size) - 5 FROM part WHERE p_brand = 'Brand#1')
        ORDER BY p_partkey
      """)
    },

    "q27_cte" -> { (s, dir) =>
      t(s, dir, "orders"); t(s, dir, "customer")
      s.sql("""
        WITH big AS (
          SELECT o_custkey, COUNT(*) AS n_big
          FROM orders WHERE o_totalprice > 300000
          GROUP BY o_custkey)
        SELECT c_mktsegment, CAST(SUM(n_big) AS BIGINT) AS total_big, COUNT(*) AS n_cust
        FROM big JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)
    },

    "q28_cte_shared" -> { (s, dir) =>
      // Materialized-CTE analogue (GlareDB operators/materialize.rs:69):
      // the shared subplan is computed once and checkpointed, then consumed
      // twice; unlike a cache entry, it leaves no JVM-wide state behind.
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sumd(dbig(col("o_totalprice"))).as("total"))
        .localCheckpoint()
      val hi = perCust.filter(col("n") >= 15)
        .select(lit("hi").as("bucket"), col("o_custkey"), col("n"), col("total"))
      val lo = perCust.filter(col("n") <= 5)
        .select(lit("lo").as("bucket"), col("o_custkey"), col("n"), col("total"))
      hi.union(lo).orderBy("bucket", "o_custkey")
    },

    "q29_order_nulls" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("P")).as("st"))
        .filter(col("o_orderkey") <= 500)
        .orderBy(col("st").asc_nulls_first, col("o_orderkey").asc)
    },

    "q30_limit_offset" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
        .offset(5)
        .limit(20)
    },

    "q31_values" -> { (s, dir) =>
      s.sql("""
        SELECT id, name, id * 2 AS twice
        FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(id, name)
        ORDER BY id
      """)
    })

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> s"""
      SELECT l_returnflag, l_linestatus,
        ${sql.sumd(sql.drate("l_quantity"))} AS sum_qty,
        ${sql.sumd(sql.dmoney("l_extendedprice"))} AS sum_base_price,
        ${sql.sumd(sqlDiscPrice)} AS sum_disc_price,
        ${sql.sumd(s"$sqlDiscPrice * (${sql.one} + ${sql.drate("l_tax")})")} AS sum_charge,
        ${sql.sumd(sql.drate("l_quantity"))} / COUNT(*) AS avg_qty,
        ${sql.sumd(sql.dmoney("l_extendedprice"))} / COUNT(*) AS avg_price,
        ${sql.sumd(sql.drate("l_discount"))} / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_filter_project" -> """
      SELECT p_partkey, p_name, UPPER(p_brand) AS brand_uc,
             CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS bucket
      FROM part WHERE p_size BETWEEN 10 AND 20
      ORDER BY p_partkey""",

    "q03_topk_revenue" -> s"""
      SELECT l_orderkey, o_orderdate, ${sql.sumd(sqlDiscPrice)} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey ASC
      LIMIT 10""",

    "q04_order_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q05_nation_revenue" -> s"""
      SELECT n_name, ${sql.sumd(sqlDiscPrice)} AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name ASC""",

    "q06_revenue_flat" -> s"""
      SELECT ${sql.sumd(s"${sql.dmoney("l_extendedprice")} * ${sql.drate("l_discount")}")} AS revenue,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",

    "q07_cust_order_dist" -> """
      SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 150000
            GROUP BY c_custkey) cc
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",

    "q08_full_outer_nation" -> """
      SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
             COALESCE(c.n_cust, 0) AS n_cust,
             COALESCE(s.n_supp, 0) AS n_supp
      FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
            WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
      FULL OUTER JOIN
           (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
            WHERE s_acctbal > 9000 GROUP BY s_nationkey) s
        ON c.c_nationkey = s.s_nationkey
      ORDER BY nationkey""",

    "q09_right_join" -> """
      SELECT s_suppkey, s_name, n_name
      FROM (SELECT * FROM nation WHERE n_regionkey <= 1) n
      RIGHT JOIN supplier ON n_nationkey = s_nationkey
      ORDER BY s_suppkey""",

    "q10_cross_join" -> """
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name""",

    "q11_anti_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q12_union_all" -> """
      SELECT src, COUNT(*) AS n, CAST(SUM(key) AS BIGINT) AS key_sum
      FROM (SELECT c_custkey AS key, 'c' AS src FROM customer
            UNION ALL
            SELECT s_suppkey AS key, 's' AS src FROM supplier) u
      GROUP BY src ORDER BY src""",

    "q13_union_distinct" -> """
      SELECT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier) u
      ORDER BY nationkey""",

    "q14_intersect" -> """
      SELECT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
        INTERSECT
        SELECT s_nationkey FROM supplier) u
      ORDER BY nationkey""",

    "q15_except" -> """
      SELECT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000) u
      ORDER BY nationkey""",

    "q16_distinct" -> """
      SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment""",

    "q17_agg_distinct" -> """
      SELECT COUNT(DISTINCT c_nationkey) AS n_nations,
             COUNT(DISTINCT c_mktsegment) AS n_segments,
             CAST(SUM(DISTINCT c_nationkey) AS BIGINT) AS sum_distinct_nk,
             COUNT(*) AS n
      FROM customer""",

    "q18_cube" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             ${sql.sumd(sql.drate("l_quantity"))} AS sum_qty,
             CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q19_rollup" -> s"""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             ${sql.sumd(sql.dbig("o_totalprice"))} AS total,
             CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
             CAST(GROUPING(o_orderpriority) AS INT) AS g_pr
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY g_st, g_pr, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",

    "q20_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q21_having" -> s"""
      SELECT o_custkey, COUNT(*) AS n, ${sql.sumd(sql.dbig("o_totalprice"))} AS total
      FROM orders
      GROUP BY o_custkey
      HAVING COUNT(*) >= 15
      ORDER BY o_custkey""",

    "q22_scalar_subquery" -> """
      SELECT p_partkey, p_name, p_retailprice
      FROM part
      WHERE p_retailprice > (
        SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) + 5 FROM part)
      ORDER BY p_partkey""",

    "q23_in_subquery" -> """
      SELECT c_mktsegment, COUNT(*) AS n
      FROM customer
      WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q24_correlated_exists" -> """
      SELECT c_custkey, c_name
      FROM customer
      WHERE c_acctbal > 9900 AND EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 20)
      ORDER BY c_custkey""",

    "q25_correlated_scalar" -> """
      SELECT c_custkey,
             (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      FROM customer
      WHERE c_custkey <= 200
      ORDER BY c_custkey""",

    "q26_all_subquery" -> """
      SELECT p_partkey, p_size
      FROM part
      WHERE p_size > ALL (SELECT p_size - 5 FROM part WHERE p_brand = 'Brand#1')
      ORDER BY p_partkey""",

    "q27_cte" -> """
      WITH big AS (
        SELECT o_custkey, COUNT(*) AS n_big
        FROM orders WHERE o_totalprice > 300000
        GROUP BY o_custkey)
      SELECT c_mktsegment, CAST(SUM(n_big) AS BIGINT) AS total_big, COUNT(*) AS n_cust
      FROM big JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q28_cte_shared" -> s"""
      WITH per_cust AS MATERIALIZED (
        SELECT o_custkey, COUNT(*) AS n, ${sql.sumd(sql.dbig("o_totalprice"))} AS total
        FROM orders GROUP BY o_custkey)
      SELECT 'hi' AS bucket, o_custkey, n, total FROM per_cust WHERE n >= 15
      UNION ALL
      SELECT 'lo' AS bucket, o_custkey, n, total FROM per_cust WHERE n <= 5
      ORDER BY bucket, o_custkey""",

    "q29_order_nulls" -> """
      SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS st
      FROM orders WHERE o_orderkey <= 500
      ORDER BY st ASC NULLS FIRST, o_orderkey ASC""",

    "q30_limit_offset" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_orderkey LIMIT 20 OFFSET 5""",

    "q31_values" -> """
      SELECT id, name, id * 2 AS twice
      FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(id, name)
      ORDER BY id""")
}
