package graft.queries

import graft.QueryDsl._
import graft.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}

/** TPC-H q01–q22, matching the reference's own golden suite
  * (reference: `slt/tpchbench/q01.slt` … `q22.slt`, `bench/tpch/1/`).
  *
  * The driver fixtures carry a *reduced* TPC-H schema (no `partsupp`; no
  * `l_commitdate`/`l_receiptdate`/`l_shipmode`/`l_shipinstruct`,
  * `o_clerk`/`o_shippriority`/`o_comment`, `c_address`/`c_phone`/
  * `c_comment`, `s_address`/`s_phone`/`s_comment`, `p_mfgr`/`p_container`).
  * A schema-completion CTE layer derives every missing column and the
  * `partsupp` table with pure integer arithmetic from the existing keys, so
  * both engines see the identical completed schema. `partsupp` follows the
  * TPC-H spec shape (4 suppliers per part, spread across the supplier
  * keyspace in quarters — duplicate-free for any supplier count ≥ 4).
  *
  * Every query is DIALECT-COMMON SQL: the same text runs through
  * `spark.sql` (full Catalyst binder/optimizer path — decorrelation,
  * subquery rewrites, join reordering) and through DuckDB as its own
  * oracle. Deviations from the verbatim TPC-H text, applied identically on
  * both sides:
  *  - filter constants adapted to the fixture vocabulary/date range
  *    (p_type is one word, p_name is "color noun", nations are NATION_k,
  *    dates span 1995–2001);
  *  - money/rate aggregates use the exact-decimal-sum policy
  *    (QueryDsl.sumd) so doubles are bit-identical across engines;
  *  - LIMIT queries append a unique tiebreak column to ORDER BY (the spec
  *    order alone does not give a total order, and a boundary tie would
  *    make the kept rowset engine-dependent).
  */
object Tpch {

  // ---- exact-decimal fragments (see QueryDsl.sql) --------------------------
  private val disc = s"${sql.dmoney("l_extendedprice")} * (${sql.one} - ${sql.drate("l_discount")})"
  private def sumd(e: String) = sql.sumd(e)

  /** Schema-completion CTEs — dialect-common SQL, prepended to a query when
    * referenced (selective inclusion keeps per-query binder work small).
    */
  private val cteDefs: Seq[(String, String)] = Seq(
    "partsupp" -> """partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey - 1 + i * CAST(FLOOR(s_count / 4) AS BIGINT)) % s_count + 1
               AS ps_suppkey,
             CAST((p_partkey * 7 + i * 13) % 9999 + 1 AS INT) AS ps_availqty,
             ROUND(CAST((p_partkey * 31 + i * 17) % 100000 AS DOUBLE) / 100.0 + 1.0, 2)
               AS ps_supplycost
      FROM part
      CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2
                  UNION ALL SELECT 3) ps_seq
      CROSS JOIN (SELECT COUNT(*) AS s_count FROM supplier) s_cnt)""",
    "part_x" -> """part_x AS (
      SELECT part.*,
             'Manufacturer#' || CAST(p_partkey % 5 + 1 AS STRING) AS p_mfgr,
             (CASE p_partkey % 5 WHEN 0 THEN 'SM' WHEN 1 THEN 'LG' WHEN 2 THEN 'MED'
                                 WHEN 3 THEN 'JUMBO' ELSE 'WRAP' END)
             || ' ' ||
             (CASE p_partkey % 8 WHEN 0 THEN 'CASE' WHEN 1 THEN 'BOX' WHEN 2 THEN 'BAG'
                                 WHEN 3 THEN 'JAR' WHEN 4 THEN 'PKG' WHEN 5 THEN 'PACK'
                                 WHEN 6 THEN 'CAN' ELSE 'DRUM' END) AS p_container
      FROM part)""",
    "supplier_x" -> """supplier_x AS (
      SELECT supplier.*,
             'Address_' || CAST(s_suppkey AS STRING) AS s_address,
             CAST(10 + s_nationkey AS STRING) || '-' ||
               LPAD(CAST(s_suppkey % 10000000 AS STRING), 7, '0') AS s_phone,
             CASE WHEN s_suppkey % 13 = 0
                  THEN 'slow Customer service Complaints logged'
                  ELSE 'dependable supplier' END AS s_comment
      FROM supplier)""",
    "customer_x" -> """customer_x AS (
      SELECT customer.*,
             'Address_' || CAST(c_custkey AS STRING) AS c_address,
             CAST(10 + c_nationkey AS STRING) || '-' ||
               LPAD(CAST(c_custkey % 10000000 AS STRING), 7, '0') AS c_phone,
             'customer profile ' || CAST(c_custkey % 7 AS STRING) AS c_comment
      FROM customer)""",
    "orders_x" -> """orders_x AS (
      SELECT orders.*, 0 AS o_shippriority,
             'Clerk#' || LPAD(CAST(o_orderkey % 1000 + 1 AS STRING), 9, '0') AS o_clerk,
             CASE WHEN o_orderkey % 11 = 0
                  THEN 'pending special packages requests'
                  ELSE 'routine order' END AS o_comment
      FROM orders)""",
    "lineitem_x" -> """lineitem_x AS (
      SELECT lineitem.*,
             l_shipdate + INTERVAL 1 DAY * ((l_orderkey * 3 + l_linenumber * 7) % 61 - 30)
               AS l_commitdate,
             l_shipdate + INTERVAL 1 DAY * ((l_orderkey * 5 + l_linenumber * 11) % 30 + 1)
               AS l_receiptdate,
             CASE (l_orderkey + l_linenumber) % 7
               WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
               WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
               ELSE 'FOB' END AS l_shipmode,
             CASE (l_orderkey + l_linenumber) % 4
               WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
               WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct
      FROM lineitem)""")

  /** The partsupp schema-completion SQL as a standalone SELECT, for staging
    * the synthesized table once at ingest (operators/Skew.writeStagedTpch)
    * instead of re-expanding the cross join inside every query. */
  private[graft] val partsuppSelect: String = {
    val cte = cteDefs.toMap.apply("partsupp")
    s"WITH $cte SELECT * FROM partsupp"
  }

  /** Prepend the schema CTEs the query references; merges with a query's
    * own WITH clause. */
  private def wrap(q: String): String = {
    val t = q.trim
    val needed = cteDefs.filter { case (name, _) => t.contains(name) }
    if (needed.isEmpty) return t
    val block = needed.map(_._2).mkString(",\n    ")
    if (t.toUpperCase.startsWith("WITH "))
      s"WITH $block,\n${t.drop(5)}"
    else
      s"WITH $block\n$t"
  }

  private val texts: Map[String, String] = Map(
    // Q1: pricing summary report (verbatim; decimal-exact sums/avgs).
    "tpch_q01" -> s"""
      SELECT l_returnflag, l_linestatus,
        ${sumd(sql.drate("l_quantity"))} AS sum_qty,
        ${sumd(sql.dmoney("l_extendedprice"))} AS sum_base_price,
        ${sumd(disc)} AS sum_disc_price,
        ${sumd(s"$disc * (${sql.one} + ${sql.drate("l_tax")})")} AS sum_charge,
        ${sumd(sql.drate("l_quantity"))} / COUNT(*) AS avg_qty,
        ${sumd(sql.dmoney("l_extendedprice"))} / COUNT(*) AS avg_price,
        ${sumd(sql.drate("l_discount"))} / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    // Q2: minimum-cost supplier (correlated min over a 4-way join).
    "tpch_q02" -> """
      SELECT s_acctbal, s_name, n_name, p_partkey, p_mfgr, s_address, s_phone,
             s_comment
      FROM part_x, supplier_x, partsupp, nation, region
      WHERE p_partkey = ps_partkey
        AND s_suppkey = ps_suppkey
        AND p_size = 15
        AND p_type LIKE '%ECONOMY'
        AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT MIN(ps_supplycost)
          FROM partsupp, supplier_x, nation, region
          WHERE p_partkey = ps_partkey
            AND s_suppkey = ps_suppkey
            AND s_nationkey = n_nationkey
            AND n_regionkey = r_regionkey
            AND r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""",

    // Q3: shipping-priority top-10 (tiebreak l_orderkey appended).
    "tpch_q03" -> s"""
      SELECT l_orderkey, ${sumd(disc)} AS revenue, o_orderdate, o_shippriority
      FROM customer_x, orders_x, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_shippriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""",

    // Q4: order-priority checking (EXISTS semi join).
    "tpch_q04" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders_x
      WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        AND EXISTS (
          SELECT 1 FROM lineitem_x
          WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Q5: local-supplier volume (6-way join).
    "tpch_q05" -> s"""
      SELECT n_name, ${sumd(disc)} AS revenue
      FROM customer_x, orders_x, lineitem, supplier_x, nation, region
      WHERE c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC""",

    // Q6: forecasting revenue change (flat scan + filter).
    "tpch_q06" -> s"""
      SELECT ${sumd(s"${sql.dmoney("l_extendedprice")} * ${sql.drate("l_discount")}")}
               AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""",

    // Q7: volume shipping between two nations.
    "tpch_q07" -> s"""
      SELECT supp_nation, cust_nation, l_year, ${sumd("volume")} AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
               $disc AS volume
        FROM supplier_x, lineitem, orders_x, customer_x, nation n1, nation n2
        WHERE s_suppkey = l_suppkey
          AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey
          AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_10')
            OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_5'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
      ) shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""",

    // Q8: national market share (ratio of conditional to total volume).
    "tpch_q08" -> s"""
      SELECT o_year,
        ROUND(${sumd("CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(12,4)) END")}
              / ${sumd("volume")}, 6) AS mkt_share
      FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               $disc AS volume, n2.n_name AS nation
        FROM part_x, supplier_x, lineitem, orders_x, customer_x,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey
          AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r_regionkey
          AND r_name = 'AMERICA'
          AND s_nationkey = n2.n_nationkey
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
          AND p_type = 'STANDARD'
      ) all_nations
      GROUP BY o_year
      ORDER BY o_year""",

    // Q9: product-type profit measure.
    "tpch_q09" -> s"""
      SELECT nation, o_year, ${sumd("amount")} AS sum_profit
      FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               $disc - ${sql.dmoney("ps_supplycost")} * ${sql.drate("l_quantity")}
                 AS amount
        FROM part_x, supplier_x, lineitem, partsupp, orders_x, nation
        WHERE s_suppkey = l_suppkey
          AND ps_suppkey = l_suppkey
          AND ps_partkey = l_partkey
          AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey
          AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%'
      ) profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC""",

    // Q10: returned-item reporting top-20 (tiebreak c_custkey appended).
    "tpch_q10" -> s"""
      SELECT c_custkey, c_name, ${sumd(disc)} AS revenue, c_acctbal,
             n_name, c_address, c_phone, c_comment
      FROM customer_x, orders_x, lineitem, nation
      WHERE c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND l_returnflag = 'R'
        AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, c_phone, n_name, c_address,
               c_comment
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",

    // Q11: important stock identification (group HAVING vs global scalar).
    "tpch_q11" -> s"""
      SELECT ps_partkey,
        ${sumd(s"${sql.dmoney("ps_supplycost")} * ps_availqty")} AS value
      FROM partsupp, supplier_x, nation
      WHERE ps_suppkey = s_suppkey
        AND s_nationkey = n_nationkey
        AND n_name = 'NATION_7'
      GROUP BY ps_partkey
      HAVING ${sumd(s"${sql.dmoney("ps_supplycost")} * ps_availqty")} > (
        SELECT ${sumd(s"${sql.dmoney("ps_supplycost")} * ps_availqty")} * 0.001
        FROM partsupp, supplier_x, nation
        WHERE ps_suppkey = s_suppkey
          AND s_nationkey = n_nationkey
          AND n_name = 'NATION_7')
      ORDER BY value DESC""",

    // Q12: shipping mode and order priority.
    "tpch_q12" -> """
      SELECT l_shipmode,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders_x, lineitem_x
      WHERE o_orderkey = l_orderkey
        AND l_shipmode IN ('MAIL', 'SHIP')
        AND l_commitdate < l_receiptdate
        AND l_shipdate < l_commitdate
        AND l_receiptdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_receiptdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_shipmode
      ORDER BY l_shipmode""",

    // Q13: customer distribution (outer join with ON-clause filter).
    "tpch_q13" -> """
      SELECT c_count, COUNT(*) AS custdist
      FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer_x LEFT OUTER JOIN orders_x
          ON c_custkey = o_custkey
         AND o_comment NOT LIKE '%special%requests%'
        GROUP BY c_custkey
      ) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",

    // Q14: promotion effect (conditional / total ratio).
    "tpch_q14" -> s"""
      SELECT ROUND(100.00 *
        ${sumd(s"CASE WHEN p_type LIKE 'PROMO%' THEN $disc ELSE CAST(0 AS DECIMAL(12,4)) END")}
        / ${sumd(disc)}, 6) AS promo_revenue
      FROM lineitem, part_x
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""",

    // Q15: top supplier (CTE referenced twice: group + global max).
    "tpch_q15" -> s"""
      WITH revenue0 AS (
        SELECT l_suppkey AS supplier_no, ${sumd(disc)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, s_address, s_phone, total_revenue
      FROM supplier_x, revenue0
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
      ORDER BY s_suppkey""",

    // Q16: parts/supplier relationship (NOT IN + count distinct).
    "tpch_q16" -> """
      SELECT p_brand, p_type, p_size,
             COUNT(DISTINCT ps_suppkey) AS supplier_cnt
      FROM partsupp, part_x
      WHERE p_partkey = ps_partkey
        AND p_brand <> 'Brand#45'
        AND p_type NOT LIKE 'MEDIUM%'
        AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier_x
          WHERE s_comment LIKE '%Customer%Complaints%')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    // Q17: small-quantity-order revenue (correlated avg threshold).
    "tpch_q17" -> s"""
      SELECT ${sumd(sql.dmoney("l_extendedprice"))} / 7.0 AS avg_yearly
      FROM lineitem, part_x
      WHERE p_partkey = l_partkey
        AND p_brand = 'Brand#23'
        AND p_container = 'MED BOX'
        AND l_quantity < (
          SELECT 0.2 * (${sumd(sql.drate("l_quantity"))} / COUNT(*))
          FROM lineitem
          WHERE l_partkey = p_partkey)""",

    // Q18: large-volume customers (HAVING over grouped join; tiebreak
    // o_orderkey is already in the spec ORDER BY via unique grouping).
    "tpch_q18" -> s"""
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             ${sumd(sql.drate("l_quantity"))} AS sum_qty
      FROM customer_x, orders_x, lineitem
      WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING ${sumd(sql.drate("l_quantity"))} > 250)
        AND c_custkey = o_custkey
        AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      LIMIT 100""",

    // Q19: discounted revenue (disjunctive multi-predicate join).
    "tpch_q19" -> s"""
      SELECT ${sumd(disc)} AS revenue
      FROM lineitem_x, part_x
      WHERE (p_partkey = l_partkey
          AND p_brand = 'Brand#12'
          AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
          AND l_quantity >= 1 AND l_quantity <= 11
          AND p_size BETWEEN 1 AND 5
          AND l_shipmode IN ('AIR', 'REG AIR')
          AND l_shipinstruct = 'DELIVER IN PERSON')
        OR (p_partkey = l_partkey
          AND p_brand = 'Brand#23'
          AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
          AND l_quantity >= 10 AND l_quantity <= 20
          AND p_size BETWEEN 1 AND 10
          AND l_shipmode IN ('AIR', 'REG AIR')
          AND l_shipinstruct = 'DELIVER IN PERSON')
        OR (p_partkey = l_partkey
          AND p_brand = 'Brand#34'
          AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
          AND l_quantity >= 20 AND l_quantity <= 30
          AND p_size BETWEEN 1 AND 15
          AND l_shipmode IN ('AIR', 'REG AIR')
          AND l_shipinstruct = 'DELIVER IN PERSON')""",

    // Q20: potential part promotion (nested IN + correlated half-sum).
    "tpch_q20" -> s"""
      SELECT s_name, s_address
      FROM supplier_x, nation
      WHERE s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          WHERE ps_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND ps_availqty > (
              SELECT 0.5 * ${sumd(sql.drate("l_quantity"))}
              FROM lineitem
              WHERE l_partkey = ps_partkey
                AND l_suppkey = ps_suppkey
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
        AND s_nationkey = n_nationkey
        AND n_name = 'NATION_4'
      ORDER BY s_name""",

    // Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS).
    "tpch_q21" -> """
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier_x, lineitem_x l1, orders_x, nation
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_receiptdate > l1.l_commitdate
        AND EXISTS (
          SELECT 1 FROM lineitem_x l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem_x l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_receiptdate > l3.l_commitdate)
        AND s_nationkey = n_nationkey
        AND n_name = 'NATION_2'
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""",

    // Q22: global sales opportunity (anti join + scalar avg filter). The
    // fixture gives every customer ~10 orders, so the spec's "has no
    // orders" predicate is vacuous here; scoped to large orders to keep
    // the anti join non-trivial.
    "tpch_q22" -> s"""
      SELECT cntrycode, COUNT(*) AS numcust,
             ${sumd(sql.dmoney("c_acctbal"))} AS totacctbal
      FROM (
        SELECT SUBSTRING(c_phone, 1, 2) AS cntrycode, c_acctbal
        FROM customer_x
        WHERE SUBSTRING(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17')
          AND c_acctbal > (
            SELECT ${sumd(sql.dmoney("c_acctbal"))} / COUNT(*)
            FROM customer_x
            WHERE c_acctbal > 0.00
              AND SUBSTRING(c_phone, 1, 2)
                  IN ('13', '31', '23', '29', '30', '18', '17'))
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ) custsale
      GROUP BY cntrycode
      ORDER BY cntrycode""")

  /** Bind only the base tables the wrapped text names (`part_x` and
    * `partsupp` are not `part`), found once when the query is built. */
  private def run(text: String): Q = {
    val q = wrap(text)
    val reads = Engine.tableNames.filter(t => s"\\b$t\\b".r.findFirstIn(q).nonEmpty)
    (s: SparkSession, dir: String) => {
      reads.foreach(Engine.table(s, dir, _))
      s.sql(q)
    }
  }

  /** Fused Spark-side implementations for the queries where the SQL text's
    * plan pays for the same data twice (oracles stay the SQL text — values
    * are bit-identical, asserted by the driver gate and GraftSpec). These
    * are exposed as strategy twins, NEVER as the tpch_q* defaults. */
  private object Fused {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._

    /** q17: the SQL plan computes the per-part avg over ALL of lineitem
      * (a full shuffle by partkey) and scans lineitem twice; only ~1/40 of
      * parts survive the brand+container filter, and restricting to them
      * does not change any surviving part's per-part rows. Fused: filter
      * lineitem ONCE through a broadcast of the filtered part keys,
      * localCheckpoint the small survivor set, and compute both the
      * per-part threshold and the final sum from it. */
    val q17: Q = { (s, dir) =>
      import graft.QueryDsl.{dmoney, drate}
      // part_x's p_container, derived exactly like the CTE
      val container = concat(
        when(col("p_partkey") % 5 === 0, "SM")
          .when(col("p_partkey") % 5 === 1, "LG")
          .when(col("p_partkey") % 5 === 2, "MED")
          .when(col("p_partkey") % 5 === 3, "JUMBO").otherwise("WRAP"),
        lit(" "),
        when(col("p_partkey") % 8 === 0, "CASE")
          .when(col("p_partkey") % 8 === 1, "BOX")
          .when(col("p_partkey") % 8 === 2, "BAG")
          .when(col("p_partkey") % 8 === 3, "JAR")
          .when(col("p_partkey") % 8 === 4, "PKG")
          .when(col("p_partkey") % 8 === 5, "PACK")
          .when(col("p_partkey") % 8 === 6, "CAN").otherwise("DRUM"))
      val ptKeys = Engine.table(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && container === "MED BOX")
        .select(col("p_partkey"))
      val liF = Engine.table(s, dir, "lineitem")
        .join(broadcast(ptKeys), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .localCheckpoint()
      val thr = liF.groupBy(col("l_partkey").as("tk"))
        .agg((lit(0.2) * (graft.QueryDsl.sumd(drate(col("l_quantity"))) /
          count(lit(1)))).as("qty_thr"))
      liF.join(broadcast(thr), col("l_partkey") === col("tk"))
        .filter(col("l_quantity") < col("qty_thr"))
        .agg((graft.QueryDsl.sumd(dmoney(col("l_extendedprice"))) / 7.0).as("avg_yearly"))
    }

    /** q20: the SQL plan synthesizes the FULL partsupp and shuffles the
      * whole lineitem by (partkey, suppkey) for the correlated half-sum;
      * only red parts and one shipdate year matter. Fused: the half-sums
      * aggregate the red+year slice of lineitem (broadcast-filtered), and
      * partsupp is synthesized from red parts only (ps_partkey = p_partkey
      * is injective). A group with no lineitem rows yields SUM = NULL in
      * the subquery, which fails `availqty > NULL` — the inner join
      * reproduces that drop exactly. */
    val q20: Q = { (s, dir) =>
      import graft.QueryDsl.drate
      val redKeys = Engine.table(s, dir, "part")
        .filter(col("p_name").like("red%")).select(col("p_partkey"))
      val halfSums = Engine.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .join(broadcast(redKeys), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((lit(0.5) * graft.QueryDsl.sumd(drate(col("l_quantity"))))
          .as("half_qty"))
      val sCnt = Engine.table(s, dir, "supplier").agg(count(lit(1)).as("s_count"))
      val psRed = Engine.table(s, dir, "part")
        .filter(col("p_name").like("red%")).select(col("p_partkey"))
        .crossJoin(broadcast(sCnt))
        .select(col("p_partkey").as("ps_partkey"), col("s_count"),
          explode(array((0 to 3).map(i => lit(i.toLong)): _*)).as("i"))
        .select(col("ps_partkey"),
          (pmod(col("ps_partkey") - 1 +
            col("i") * floor(col("s_count") / lit(4)).cast(LongType),
            col("s_count")) + 1).as("ps_suppkey"),
          (((col("ps_partkey") * 7 + col("i") * 13) % 9999) + 1)
            .cast(IntegerType).as("ps_availqty"))
      val suppkeys = psRed
        .join(halfSums, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > col("half_qty"))
        .select(col("ps_suppkey")).distinct()
      Engine.table(s, dir, "supplier")
        .join(Engine.table(s, dir, "nation")
          .filter(col("n_name") === "NATION_4"),
          col("s_nationkey") === col("n_nationkey"))
        .join(suppkeys, col("s_suppkey") === col("ps_suppkey"), "leftsemi")
        .withColumn("s_address", concat(lit("Address_"), col("s_suppkey")))
        .select(col("s_name"), col("s_address"))
        .orderBy(asc("s_name"))
    }
  }

  /** The tpch_q* defaults are ALWAYS the Catalyst-planned SQL texts.
    * Round-9 verdict: the fused DataFrame programs used to silently
    * replace their tpch_q* defaults, blurring the default/twin boundary —
    * they now live as explicit strategy twins (`twins`). */
  val queries: Map[String, Q] =
    texts.map { case (name, text) => name -> run(text) }

  /** Manual plan-rewrite twins, reported under k-names like the layout
    * twins. Values are bit-identical to the SQL texts (GraftSpec twin-rows
    * assertion + the shared DuckDB oracle). */
  val twins: Seq[Twin] = Seq(
    Twin("k30_fused_q17", "tpch_q17", Fused.q17),
    Twin("k31_fused_q20", "tpch_q20", Fused.q20))

  val oracles: Map[String, String] = texts.map { case (n, t) => n -> wrap(t) }
}
