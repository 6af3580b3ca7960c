package graft.queries

import graft.QueryDsl._
import graft.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}

/** TPC-DS queries, matching the reference's own golden suite
  * (reference: `slt/tpcds/q01.slt` … `q99.slt`, `describe_files.slt`).
  *
  * The driver fixtures are TPC-H-shaped, so a fixture-synthesis CTE layer
  * derives the TPC-DS star schema deterministically from them with pure
  * integer/date arithmetic — the SAME dialect-common SQL text builds the
  * tables in Spark (staged once per fixture, see `stage`) and in DuckDB
  * (inline, in the oracle text), so both engines see identical inputs:
  *
  *  - `date_dim`: one row per day 1995-01-01..2001-12-31 (2557 days — the
  *    fixture's l_shipdate/o_orderdate span), generated from a
  *    nation×nation×region row-number sequence. 1995-01-01 was a Sunday, so
  *    d_dow = rn % 7 needs no engine-specific weekday function.
  *  - `store_sales`: one row per lineitem, joined to date_dim on the ship
  *    date. Surrogate keys map l_* keys into the dimension keyspaces by
  *    multiplicative hashing; money columns are integer-derived cents
  *    (`CAST(k AS DOUBLE)/100`) so values are exactly-2dp and aggregate
  *    bit-identically under the QueryDsl decimal-sum policy.
  *  - `store_returns`: ~30% subset of store_sales (hash-selected), returned
  *    1..60 days later — ss⋈sr ticket joins and day-diff buckets work.
  *  - `catalog_sales` / `web_sales`: disjoint channel copies of the
  *    lineitem stream (different hash seeds for keys/money).
  *  - dimensions (`item` from part, `store` 12 rows, `customer` /
  *    `customer_address` from a sequence sized by COUNT(orders)/10 — the
  *    fixture generator's exact customer:orders ratio — plus
  *    `customer_demographics` 70 rows, `household_demographics` 20 rows,
  *    `promotion` 5, `reason` 10). `customer` is ALSO a TPC-H base-table
  *    name: DuckDB forbids a CTE named `customer` from referencing the base
  *    table anywhere in the same WITH clause (circular-reference check), so
  *    these CTEs never touch base `customer` and take counts from `orders`.
  *
  * Every query keeps the reference shape; deviations (applied identically
  * on both sides, as in Tpch.scala):
  *  - filter constants adapted to the fixture vocabulary and 1995–2001
  *    date range (e.g. manufact ids are 1..5, manager ids 1..20);
  *  - money aggregates use the exact-decimal-sum policy (sql.sumd /
  *    sql.dmoney) and AVG(money) becomes exact-sum / COUNT;
  *  - LIMIT queries get a unique tiebreak column appended to ORDER BY;
  *  - every output column is aliased (the driver compares by column name).
  */
object Tpcds {

  private def sumd(e: String) = sql.sumd(e)
  private def dmoney(e: String) = sql.dmoney(e)
  /** exact average of a money double: decimal sum / count, as double */
  private def avgd(e: String) = s"${sql.sumd(sql.dmoney(e))} / COUNT(*)"

  /** Fixture-synthesis CTEs. Order matters: later defs may reference
    * earlier ones; `wrap` includes the transitive closure in this order. */
  private[queries] val cteDefs: Seq[(String, String)] = Seq(
    // 0..3124 — enough for 2557 days
    // PARTITION BY n_nationkey % 1 (constant 0, but not foldable): the input
    // is the bounded 25x25x5 dimension cross product at any data scale; a
    // literal constant gets optimizer-folded back to an empty partitionSpec
    // and re-triggers WindowExec's single-partition warning
    "dd_seq" -> """dd_seq AS (
      SELECT ROW_NUMBER() OVER (PARTITION BY a.n_nationkey % 1
                                ORDER BY a.n_nationkey, b.n_nationkey,
                                         r.r_regionkey) - 1 AS rn
      FROM nation a CROSS JOIN nation b CROSS JOIN region r)""",

    "date_dim" -> """date_dim AS (
      SELECT CAST(2450000 + rn AS INT) AS d_date_sk,
             'D' || LPAD(CAST(rn AS STRING), 7, '0') AS d_date_id,
             dd AS d_date,
             CAST((EXTRACT(YEAR FROM dd) - 1990) * 12
                  + EXTRACT(MONTH FROM dd) - 1 AS INT) AS d_month_seq,
             CAST(FLOOR(rn / 7) + 260 AS INT) AS d_week_seq,
             CAST(EXTRACT(YEAR FROM dd) AS INT) AS d_year,
             CAST(rn % 7 AS INT) AS d_dow,
             CAST(EXTRACT(MONTH FROM dd) AS INT) AS d_moy,
             CAST(EXTRACT(DAY FROM dd) AS INT) AS d_dom,
             CAST(FLOOR((EXTRACT(MONTH FROM dd) - 1) / 3) + 1 AS INT) AS d_qoy,
             CASE CAST(rn % 7 AS INT)
               WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
               WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
               WHEN 5 THEN 'Friday' ELSE 'Saturday' END AS d_day_name,
             CAST(EXTRACT(YEAR FROM dd) AS STRING) || 'Q' ||
               CAST(CAST(FLOOR((EXTRACT(MONTH FROM dd) - 1) / 3) + 1 AS INT)
                    AS STRING) AS d_quarter_name,
             CASE WHEN rn % 7 IN (0, 6) THEN 'Y' ELSE 'N' END AS d_weekend
      FROM (SELECT rn, DATE '1995-01-01' + CAST(rn AS INT) AS dd
            FROM dd_seq WHERE rn < 2557) days)""",

    // 0..15624 — covers the sf0.1 customer count (15000)
    "cust_seq" -> """cust_seq AS (
      SELECT ROW_NUMBER() OVER (PARTITION BY a.n_nationkey % 1
                                ORDER BY a.n_nationkey, b.n_nationkey,
                                         c.n_nationkey) - 1 AS rn
      FROM nation a CROSS JOIN nation b CROSS JOIN nation c)""",

    // fixture generator invariant: |customer| = |orders| / 10 at every sf
    "ccnt" -> """ccnt AS (
      SELECT CAST(FLOOR(COUNT(*) / 10) AS BIGINT) AS c_cnt FROM orders)""",

    "customer" -> """customer AS (
      SELECT CAST(rn + 1 AS INT) AS c_customer_sk,
             'CUST_' || LPAD(CAST(rn + 1 AS STRING), 10, '0') AS c_customer_id,
             CAST(rn + 1 AS INT) AS c_current_addr_sk,
             CAST(rn % 70 + 1 AS INT) AS c_current_cdemo_sk,
             CAST(rn % 20 + 1 AS INT) AS c_current_hdemo_sk,
             CASE CAST(rn % 4 AS INT) WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.'
               WHEN 2 THEN 'Dr.' ELSE 'Ms.' END AS c_salutation,
             'First_' || CAST(rn % 499 AS STRING) AS c_first_name,
             'Last_' || CAST(rn % 997 AS STRING) AS c_last_name,
             CASE WHEN rn % 3 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
             CAST(1930 + rn % 62 AS INT) AS c_birth_year,
             CAST(rn % 12 + 1 AS INT) AS c_birth_month,
             CAST(rn % 28 + 1 AS INT) AS c_birth_day,
             CASE CAST(rn % 6 AS INT) WHEN 0 THEN 'UNITED STATES'
               WHEN 1 THEN 'CANADA' WHEN 2 THEN 'GERMANY' WHEN 3 THEN 'JAPAN'
               WHEN 4 THEN 'BRAZIL' ELSE 'FRANCE' END AS c_birth_country,
             CAST(NULL AS STRING) AS c_login,
             'c' || CAST(rn AS STRING) || '@example.com' AS c_email_address,
             CAST(2450000 + (rn * 13) % 2557 AS INT) AS c_first_sales_date_sk,
             CAST(2450000 + (rn * 17) % 2557 AS INT) AS c_first_shipto_date_sk,
             CAST(2450000 + (rn * 19) % 2557 AS INT) AS c_last_review_date_sk
      FROM cust_seq CROSS JOIN ccnt WHERE rn < c_cnt)""",

    "customer_address" -> """customer_address AS (
      SELECT CAST(rn + 1 AS INT) AS ca_address_sk,
             'ADDR_' || LPAD(CAST(rn + 1 AS STRING), 10, '0') AS ca_address_id,
             CAST((rn * 7 + 3) % 999 + 1 AS STRING) AS ca_street_number,
             CASE CAST(rn % 5 AS INT) WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
               WHEN 2 THEN 'Elm' WHEN 3 THEN 'Park' ELSE 'Lake' END
               AS ca_street_name,
             CASE CAST(rn % 3 AS INT) WHEN 0 THEN 'St' WHEN 1 THEN 'Ave'
               ELSE 'Blvd' END AS ca_street_type,
             'Suite ' || CAST(rn % 100 AS STRING) AS ca_suite_number,
             CASE CAST(rn % 15 AS INT) WHEN 0 THEN 'Centerville'
               WHEN 1 THEN 'Fairview' WHEN 2 THEN 'Oak Grove'
               WHEN 3 THEN 'Riverside' WHEN 4 THEN 'Salem'
               WHEN 5 THEN 'Springfield' WHEN 6 THEN 'Franklin'
               WHEN 7 THEN 'Greenville' WHEN 8 THEN 'Bridgeport'
               WHEN 9 THEN 'Clinton' WHEN 10 THEN 'Georgetown'
               WHEN 11 THEN 'Marion' WHEN 12 THEN 'Ashland'
               WHEN 13 THEN 'Midway' ELSE 'Unionville' END AS ca_city,
             CASE CAST(rn % 8 AS INT) WHEN 0 THEN 'Williamson County'
               WHEN 1 THEN 'Walker County' WHEN 2 THEN 'Ziebach County'
               WHEN 3 THEN 'Luce County' WHEN 4 THEN 'Richland County'
               WHEN 5 THEN 'Barrow County' WHEN 6 THEN 'Fairfield County'
               ELSE 'Dauphin County' END AS ca_county,
             CASE CAST(rn % 20 AS INT) WHEN 0 THEN 'TX' WHEN 1 THEN 'OH'
               WHEN 2 THEN 'OR' WHEN 3 THEN 'NM' WHEN 4 THEN 'KY'
               WHEN 5 THEN 'VA' WHEN 6 THEN 'MS' WHEN 7 THEN 'CA'
               WHEN 8 THEN 'WA' WHEN 9 THEN 'GA' WHEN 10 THEN 'TN'
               WHEN 11 THEN 'NY' WHEN 12 THEN 'NE' WHEN 13 THEN 'IA'
               WHEN 14 THEN 'KS' WHEN 15 THEN 'MN' WHEN 16 THEN 'MO'
               WHEN 17 THEN 'IL' WHEN 18 THEN 'IN' ELSE 'MI' END AS ca_state,
             LPAD(CAST((10000 + rn * 373) % 100000 AS STRING), 5, '0')
               AS ca_zip,
             'United States' AS ca_country,
             CAST(CASE WHEN rn % 2 = 0 THEN -5 ELSE -6 END AS DOUBLE)
               AS ca_gmt_offset,
             CASE CAST(rn % 3 AS INT) WHEN 0 THEN 'apartment'
               WHEN 1 THEN 'condo' ELSE 'single family' END AS ca_location_type
      FROM cust_seq CROSS JOIN ccnt WHERE rn < c_cnt)""",

    "customer_demographics" -> """customer_demographics AS (
      SELECT CAST(rn + 1 AS INT) AS cd_demo_sk,
             CASE WHEN rn % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
             CASE CAST(FLOOR(rn / 2) % 5 AS INT) WHEN 0 THEN 'M' WHEN 1 THEN 'S'
               WHEN 2 THEN 'D' WHEN 3 THEN 'W' ELSE 'U' END AS cd_marital_status,
             CASE CAST(FLOOR(rn / 10) % 7 AS INT) WHEN 0 THEN 'Primary'
               WHEN 1 THEN 'Secondary' WHEN 2 THEN 'College'
               WHEN 3 THEN '2 yr Degree' WHEN 4 THEN '4 yr Degree'
               WHEN 5 THEN 'Advanced Degree' ELSE 'Unknown' END
               AS cd_education_status,
             CAST((rn * 500) % 10000 + 500 AS INT) AS cd_purchase_estimate,
             CASE CAST(rn % 4 AS INT) WHEN 0 THEN 'Low Risk' WHEN 1 THEN 'Good'
               WHEN 2 THEN 'High Risk' ELSE 'Unknown' END AS cd_credit_rating,
             CAST(rn % 7 AS INT) AS cd_dep_count,
             CAST(rn % 5 AS INT) AS cd_dep_employed_count,
             CAST(rn % 3 AS INT) AS cd_dep_college_count
      FROM dd_seq WHERE rn < 70)""",

    "household_demographics" -> """household_demographics AS (
      SELECT CAST(rn + 1 AS INT) AS hd_demo_sk,
             CAST(rn % 20 + 1 AS INT) AS hd_income_band_sk,
             CASE CAST(rn % 6 AS INT) WHEN 0 THEN '>10000'
               WHEN 1 THEN '5001-10000' WHEN 2 THEN '1001-5000'
               WHEN 3 THEN '501-1000' WHEN 4 THEN '0-500' ELSE 'Unknown' END
               AS hd_buy_potential,
             CAST(rn % 10 AS INT) AS hd_dep_count,
             CAST(rn % 5 AS INT) AS hd_vehicle_count
      FROM dd_seq WHERE rn < 20)""",

    "promotion" -> """promotion AS (
      SELECT CAST(r_regionkey + 1 AS INT) AS p_promo_sk,
             'PROMO_' || CAST(r_regionkey + 1 AS STRING) AS p_promo_id,
             CASE WHEN r_regionkey % 2 = 0 THEN 'N' ELSE 'Y' END
               AS p_channel_dmail,
             CASE WHEN r_regionkey % 3 = 0 THEN 'N' ELSE 'Y' END
               AS p_channel_email,
             CASE WHEN r_regionkey % 2 = 1 THEN 'N' ELSE 'Y' END
               AS p_channel_tv,
             CASE WHEN r_regionkey % 5 < 3 THEN 'N' ELSE 'Y' END
               AS p_channel_event,
             'promo_name_' || CAST(r_regionkey AS STRING) AS p_promo_name
      FROM region)""",

    "reason" -> """reason AS (
      SELECT CAST(rn + 1 AS INT) AS r_reason_sk,
             'REASON_' || CAST(rn + 1 AS STRING) AS r_reason_id,
             'reason ' || CAST(rn + 1 AS STRING) AS r_reason_desc
      FROM dd_seq WHERE rn < 10)""",

    "item" -> """item AS (
      SELECT CAST(p_partkey AS INT) AS i_item_sk,
             'ITEM_' || LPAD(CAST(p_partkey AS STRING), 9, '0') AS i_item_id,
             p_name AS i_item_desc,
             CAST((p_partkey * 37) % 9900 + 99 AS DOUBLE) / 100
               AS i_current_price,
             CAST((p_partkey * 53) % 5000 + 50 AS DOUBLE) / 100
               AS i_wholesale_cost,
             CAST(p_partkey % 11 + 1 AS INT) AS i_brand_id,
             'Brand#' || CAST(p_partkey % 11 + 1 AS STRING) AS i_brand,
             CAST(p_partkey % 7 + 1 AS INT) AS i_class_id,
             CASE CAST(p_partkey % 7 AS INT) WHEN 0 THEN 'accessories'
               WHEN 1 THEN 'basketball' WHEN 2 THEN 'computers'
               WHEN 3 THEN 'dresses' WHEN 4 THEN 'earings'
               WHEN 5 THEN 'fiction' ELSE 'guns' END AS i_class,
             CAST(p_partkey % 10 + 1 AS INT) AS i_category_id,
             CASE CAST(p_partkey % 10 AS INT) WHEN 0 THEN 'Sports'
               WHEN 1 THEN 'Books' WHEN 2 THEN 'Home' WHEN 3 THEN 'Electronics'
               WHEN 4 THEN 'Jewelry' WHEN 5 THEN 'Women' WHEN 6 THEN 'Men'
               WHEN 7 THEN 'Children' WHEN 8 THEN 'Shoes' ELSE 'Music' END
               AS i_category,
             CAST(p_partkey % 5 + 1 AS INT) AS i_manufact_id,
             'Manufacturer#' || CAST(p_partkey % 5 + 1 AS STRING) AS i_manufact,
             CAST(p_partkey % 20 + 1 AS INT) AS i_manager_id,
             CASE CAST(p_partkey % 7 AS INT) WHEN 0 THEN 'small'
               WHEN 1 THEN 'medium' WHEN 2 THEN 'large'
               WHEN 3 THEN 'extra large' WHEN 4 THEN 'economy'
               WHEN 5 THEN 'N/A' ELSE 'petite' END AS i_size,
             CASE CAST(p_partkey % 6 AS INT) WHEN 0 THEN 'Ounce'
               WHEN 1 THEN 'Oz' WHEN 2 THEN 'Bunch' WHEN 3 THEN 'Ton'
               WHEN 4 THEN 'N/A' ELSE 'Dozen' END AS i_units,
             CASE CAST(p_partkey % 12 AS INT) WHEN 0 THEN 'slate'
               WHEN 1 THEN 'blanched' WHEN 2 THEN 'burnished'
               WHEN 3 THEN 'azure' WHEN 4 THEN 'chartreuse'
               WHEN 5 THEN 'coral' WHEN 6 THEN 'khaki' WHEN 7 THEN 'maroon'
               WHEN 8 THEN 'peach' WHEN 9 THEN 'plum' WHEN 10 THEN 'sienna'
               ELSE 'tomato' END AS i_color,
             p_type AS i_product_name
      FROM part)""",

    // one row per minute of day; meal-time bands for the time-of-day cuts
    "time_dim" -> """time_dim AS (
      SELECT CAST(rn AS INT) AS t_time_sk,
             CAST(rn * 60 AS INT) AS t_time,
             CAST(FLOOR(rn / 60) AS INT) AS t_hour,
             CAST(rn % 60 AS INT) AS t_minute,
             CASE WHEN FLOOR(rn / 60) BETWEEN 6 AND 8 THEN 'breakfast'
                  WHEN FLOOR(rn / 60) BETWEEN 11 AND 13 THEN 'lunch'
                  WHEN FLOOR(rn / 60) BETWEEN 17 AND 19 THEN 'dinner'
                  ELSE '' END AS t_meal_time
      FROM cust_seq WHERE rn < 1440)""",

    "income_band" -> """income_band AS (
      SELECT CAST(rn + 1 AS INT) AS ib_income_band_sk,
             CAST(rn * 10000 AS INT) AS ib_lower_bound,
             CAST((rn + 1) * 10000 AS INT) AS ib_upper_bound
      FROM dd_seq WHERE rn < 20)""",


    "warehouse" -> """warehouse AS (
      SELECT CAST(r_regionkey + 1 AS INT) AS w_warehouse_sk,
             'WH_' || LPAD(CAST(r_regionkey + 1 AS STRING), 4, '0')
               AS w_warehouse_id,
             'Warehouse_' || CAST(r_regionkey + 1 AS STRING)
               AS w_warehouse_name,
             CAST((r_regionkey * 170017) % 900000 + 100000 AS INT)
               AS w_warehouse_sq_ft,
             CASE CAST(r_regionkey % 5 AS INT) WHEN 0 THEN 'Centerville'
               WHEN 1 THEN 'Fairview' WHEN 2 THEN 'Oak Grove'
               WHEN 3 THEN 'Riverside' ELSE 'Salem' END AS w_city,
             CASE CAST(r_regionkey % 4 AS INT) WHEN 0 THEN 'Williamson County'
               WHEN 1 THEN 'Walker County' WHEN 2 THEN 'Ziebach County'
               ELSE 'Luce County' END AS w_county,
             CASE CAST(r_regionkey % 5 AS INT) WHEN 0 THEN 'TN'
               WHEN 1 THEN 'CA' WHEN 2 THEN 'NY' WHEN 3 THEN 'TX'
               ELSE 'WA' END AS w_state,
             'United States' AS w_country,
             CAST(-5 AS DOUBLE) AS w_gmt_offset
      FROM region)""",

    "ship_mode" -> """ship_mode AS (
      SELECT CAST(rn + 1 AS INT) AS sm_ship_mode_sk,
             'SM_' || LPAD(CAST(rn + 1 AS STRING), 4, '0') AS sm_ship_mode_id,
             CASE CAST(rn % 5 AS INT) WHEN 0 THEN 'EXPRESS'
               WHEN 1 THEN 'NEXT DAY' WHEN 2 THEN 'OVERNIGHT'
               WHEN 3 THEN 'REGULAR' ELSE 'TWO DAY' END AS sm_type,
             CASE CAST(rn % 4 AS INT) WHEN 0 THEN 'AIR' WHEN 1 THEN 'SURFACE'
               WHEN 2 THEN 'SEA' ELSE 'RAIL' END AS sm_code,
             CASE CAST(rn % 5 AS INT) WHEN 0 THEN 'DHL' WHEN 1 THEN 'BARIAN'
               WHEN 2 THEN 'UPS' WHEN 3 THEN 'FEDEX' ELSE 'USPS' END
               AS sm_carrier,
             'CONTRACT_' || CAST(rn AS STRING) AS sm_contract
      FROM dd_seq WHERE rn < 20)""",

    "call_center" -> """call_center AS (
      SELECT CAST(n_nationkey + 1 AS INT) AS cc_call_center_sk,
             'CC_' || LPAD(CAST(n_nationkey + 1 AS STRING), 4, '0')
               AS cc_call_center_id,
             'call_center_' || CAST(n_nationkey % 3 + 1 AS STRING) AS cc_name,
             'Manager_' || CAST(n_nationkey % 4 + 1 AS STRING) AS cc_manager,
             CASE CAST(n_nationkey % 4 AS INT) WHEN 0 THEN 'Williamson County'
               WHEN 1 THEN 'Walker County' WHEN 2 THEN 'Ziebach County'
               ELSE 'Luce County' END AS cc_county
      FROM nation WHERE n_nationkey < 6)""",

    "web_site" -> """web_site AS (
      SELECT CAST(n_nationkey + 1 AS INT) AS web_site_sk,
             'WEB_' || LPAD(CAST(n_nationkey + 1 AS STRING), 4, '0')
               AS web_site_id,
             'site_' || CAST(n_nationkey AS STRING) AS web_name,
             CASE WHEN n_nationkey % 2 = 0 THEN 'pri' ELSE 'able' END
               AS web_company_name
      FROM nation WHERE n_nationkey < 4)""",

    "web_page" -> """web_page AS (
      SELECT CAST(rn + 1 AS INT) AS wp_web_page_sk,
             'WP_' || LPAD(CAST(rn + 1 AS STRING), 4, '0') AS wp_web_page_id,
             CAST((rn * 523) % 7000 + 100 AS INT) AS wp_char_count
      FROM dd_seq WHERE rn < 20)""",

    "catalog_page" -> """catalog_page AS (
      SELECT CAST(rn + 1 AS INT) AS cp_catalog_page_sk,
             'CP_' || LPAD(CAST(rn + 1 AS STRING), 4, '0')
               AS cp_catalog_page_id
      FROM dd_seq WHERE rn < 20)""",

    "store" -> """store AS (
      SELECT CAST(n_nationkey + 1 AS INT) AS s_store_sk,
             'STORE_' || LPAD(CAST(n_nationkey + 1 AS STRING), 4, '0')
               AS s_store_id,
             'Store_' || CAST(n_nationkey + 1 AS STRING) AS s_store_name,
             CAST((n_nationkey * 37) % 100 + 200 AS INT) AS s_number_employees,
             CAST((n_nationkey * 7919) % 9000000 + 1000000 AS INT)
               AS s_floor_space,
             '8AM-10PM' AS s_hours,
             'Manager_' || CAST(n_nationkey % 7 + 1 AS STRING) AS s_manager,
             CAST(n_nationkey % 5 + 1 AS INT) AS s_market_id,
             'Company_1' AS s_company_name,
             CAST(1 AS INT) AS s_company_id,
             CAST((n_nationkey * 11) % 900 + 1 AS STRING) AS s_street_number,
             CASE CAST(n_nationkey % 5 AS INT) WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
               WHEN 2 THEN 'Elm' WHEN 3 THEN 'Park' ELSE 'Lake' END
               AS s_street_name,
             'St' AS s_street_type, 'Suite 1' AS s_suite_number,
             CASE CAST(n_nationkey % 6 AS INT) WHEN 0 THEN 'Centerville'
               WHEN 1 THEN 'Fairview' WHEN 2 THEN 'Oak Grove'
               WHEN 3 THEN 'Riverside' WHEN 4 THEN 'Salem'
               ELSE 'Springfield' END AS s_city,
             CASE CAST(n_nationkey % 4 AS INT) WHEN 0 THEN 'Williamson County'
               WHEN 1 THEN 'Walker County' WHEN 2 THEN 'Ziebach County'
               ELSE 'Luce County' END AS s_county,
             CASE CAST(n_nationkey % 5 AS INT) WHEN 0 THEN 'TN' WHEN 1 THEN 'CA'
               WHEN 2 THEN 'NY' WHEN 3 THEN 'TX' ELSE 'WA' END AS s_state,
             LPAD(CAST((10000 + n_nationkey * 731) % 100000 AS STRING), 5, '0')
               AS s_zip,
             'United States' AS s_country,
             CAST(-5 AS DOUBLE) AS s_gmt_offset,
             CAST(n_nationkey % 10 AS DOUBLE) / 100 AS s_tax_precentage
      FROM nation WHERE n_nationkey < 12)""",


    // weekly (Sunday) inventory snapshots per warehouse over a SUB-LINEAR
    // item subset; quantity is a deterministic hash with enough spread for
    // the q39 cov cut. NOT eagerly cached - derived per query, pruned by
    // the query's own date filters.
    //
    // Item scaling follows the TPC-DS spec's own curve, where the item
    // dimension grows ~SF^0.6, NOT linearly (spec table 3-2: 18k items at
    // SF1, 102k at SF10, 300k at SF100). Our item table rides on part
    // (200k x SF), so an uncapped cross product put inventory at 3.6 B
    // rows at sf10 - a fixture-model bug, not a workload: the round-11
    // sf10 sweep measured q39 >40 min and q72 183 s, both synthesis-bound.
    // The cap (18000 * SF^0.6, SF derived from the supplier count so the
    // SAME text scales in both engines) lands at 284/1.1k/4.5k/72k/285k
    // items for sf0.001/0.01/0.1/10/100 - inventory is 129 M rows at sf10,
    // matching real TPC-DS SF10's 133 M. Semantics: warehouses stock a
    // subset of the catalog; inventory joins restrict to it identically in
    // Spark and the DuckDB oracle.
    "inventory" -> """inventory AS (
      SELECT d.d_date_sk AS inv_date_sk,
             i.i_item_sk AS inv_item_sk,
             w.w_warehouse_sk AS inv_warehouse_sk,
             CAST((CAST(d.d_date_sk AS BIGINT) * 83 + i.i_item_sk * 257
                   + w.w_warehouse_sk * 389) % 1000 AS INT)
               AS inv_quantity_on_hand
      FROM date_dim d
      CROSS JOIN (SELECT i_item_sk FROM item WHERE i_item_sk <=
                   (SELECT CAST(FLOOR(18000 * POWER(COUNT(*) / 10000.0, 0.6))
                           AS BIGINT) FROM supplier)) i
      CROSS JOIN warehouse w
      WHERE d.d_dow = 0)""",

    // one store_sales row per lineitem; all surrogate keys and money values
    // derive from (l_orderkey, l_linenumber, l_partkey, l_suppkey) by
    // multiplicative hashing — deterministic, dialect-common, no NULLs.
    // Money = integer cents / 100: exactly-2dp doubles in both engines.
    "store_sales" -> """store_sales AS (
      SELECT d.d_date_sk AS ss_sold_date_sk,
             CAST(l_partkey AS INT) AS ss_item_sk,
             CAST((l_orderkey * 7919 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS ss_customer_sk,
             CAST((l_orderkey * 13 + l_linenumber * 7) % 70 + 1 AS INT)
               AS ss_cdemo_sk,
             CAST((l_orderkey * 17 + l_linenumber * 3) % 20 + 1 AS INT)
               AS ss_hdemo_sk,
             CASE WHEN (l_orderkey * 7 + l_linenumber) % 97 = 0 THEN NULL
                  ELSE CAST((l_orderkey * 6271 + l_linenumber * 9973 + 7)
                    % c_cnt + 1 AS INT) END AS ss_addr_sk,
             CASE WHEN (l_orderkey * 5 + l_linenumber) % 97 = 0 THEN NULL
                  ELSE CAST(l_suppkey % 12 + 1 AS INT) END AS ss_store_sk,
             CAST((l_orderkey * 7 + l_linenumber * 11) % 1440 AS INT)
               AS ss_sold_time_sk,
             CAST((l_orderkey + l_linenumber) % 5 + 1 AS INT) AS ss_promo_sk,
             l_orderkey AS ss_ticket_number,
             CAST(l_quantity AS INT) AS ss_quantity,
             CAST((l_orderkey * 23 + l_linenumber * 31 + l_partkey * 7)
               % 10000 + 100 AS DOUBLE) / 100 AS ss_wholesale_cost,
             CAST((l_orderkey * 29 + l_linenumber * 37 + l_partkey * 11)
               % 20000 + 100 AS DOUBLE) / 100 AS ss_list_price,
             CAST((l_orderkey * 41 + l_linenumber * 43 + l_partkey * 13)
               % 19900 + 100 AS DOUBLE) / 100 AS ss_sales_price,
             CAST((l_orderkey * 47 + l_linenumber * 53 + l_partkey * 17)
               % 5000 AS DOUBLE) / 100 AS ss_ext_discount_amt,
             CAST((l_orderkey * 59 + l_linenumber * 61 + l_partkey * 19)
               % 1000000 + 100 AS DOUBLE) / 100 AS ss_ext_sales_price,
             CAST((l_orderkey * 67 + l_linenumber * 71 + l_partkey * 23)
               % 900000 + 100 AS DOUBLE) / 100 AS ss_ext_wholesale_cost,
             CAST((l_orderkey * 73 + l_linenumber * 79 + l_partkey * 29)
               % 1100000 + 200 AS DOUBLE) / 100 AS ss_ext_list_price,
             CAST((l_orderkey * 83 + l_linenumber * 89 + l_partkey * 31)
               % 90000 AS DOUBLE) / 100 AS ss_ext_tax,
             CAST((l_orderkey * 97 + l_linenumber * 101 + l_partkey * 37)
               % 30000 AS DOUBLE) / 100 AS ss_coupon_amt,
             CAST((l_orderkey * 103 + l_linenumber * 107 + l_partkey * 41)
               % 1000000 + 100 AS DOUBLE) / 100 AS ss_net_paid,
             CAST((l_orderkey * 109 + l_linenumber * 113 + l_partkey * 43)
               % 1100000 + 100 AS DOUBLE) / 100 AS ss_net_paid_inc_tax,
             CAST((l_orderkey * 127 + l_linenumber * 131 + l_partkey * 47)
               % 60000 - 30000 AS DOUBLE) / 100 AS ss_net_profit
      FROM lineitem
      CROSS JOIN ccnt
      JOIN date_dim d ON d.d_date = CAST(l_shipdate AS DATE))""",

    // ~30% of sales return 1..60 days later (capped at the calendar end)
    "store_returns" -> """store_returns AS (
      SELECT CAST(LEAST(ss_sold_date_sk
               + CAST((ss_ticket_number * 7 + ss_item_sk) % 60 + 1 AS INT),
               2452556) AS INT) AS sr_returned_date_sk,
             ss_item_sk AS sr_item_sk,
             ss_customer_sk AS sr_customer_sk,
             ss_cdemo_sk AS sr_cdemo_sk,
             ss_hdemo_sk AS sr_hdemo_sk,
             ss_addr_sk AS sr_addr_sk,
             ss_store_sk AS sr_store_sk,
             CAST((ss_ticket_number * 3 + ss_item_sk) % 10 + 1 AS INT)
               AS sr_reason_sk,
             ss_ticket_number AS sr_ticket_number,
             CAST(FLOOR(ss_quantity / 2) + 1 AS INT) AS sr_return_quantity,
             CAST(CAST(ss_ticket_number * 11 + ss_item_sk * 5 AS BIGINT)
               % 50000 + 100 AS DOUBLE) / 100 AS sr_return_amt,
             CAST(CAST(ss_ticket_number * 19 + ss_item_sk * 3 AS BIGINT)
               % 4000 AS DOUBLE) / 100 AS sr_return_tax,
             CAST(CAST(ss_ticket_number * 11 + ss_item_sk * 5 AS BIGINT)
               % 50000 + 100 AS DOUBLE) / 100
               + CAST(CAST(ss_ticket_number * 19 + ss_item_sk * 3 AS BIGINT)
               % 4000 AS DOUBLE) / 100 AS sr_return_amt_inc_tax,
             CAST(CAST(ss_ticket_number * 29 + ss_item_sk * 7 AS BIGINT)
               % 10000 AS DOUBLE) / 100 AS sr_fee,
             CAST(CAST(ss_ticket_number * 31 + ss_item_sk * 11 AS BIGINT)
               % 20000 AS DOUBLE) / 100 AS sr_return_ship_cost,
             CAST(CAST(ss_ticket_number * 37 + ss_item_sk * 13 AS BIGINT)
               % 40000 AS DOUBLE) / 100 AS sr_refunded_cash,
             CAST(CAST(ss_ticket_number * 41 + ss_item_sk * 17 AS BIGINT)
               % 30000 + 50 AS DOUBLE) / 100 AS sr_net_loss
      FROM store_sales
      WHERE (ss_ticket_number * 5 + ss_item_sk) % 10 < 3)""",

    // catalog channel: same lineitem stream, different hash seeds
    "catalog_sales" -> """catalog_sales AS (
      SELECT d.d_date_sk AS cs_sold_date_sk,
             CAST(d.d_date_sk + CAST((l_orderkey + l_partkey) % 30 + 2 AS INT)
               AS INT) AS cs_ship_date_sk,
             CAST((l_orderkey * 7919 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS cs_bill_customer_sk,
             CAST((l_orderkey * 151 + l_linenumber * 7) % 70 + 1 AS INT)
               AS cs_bill_cdemo_sk,
             CAST((l_orderkey * 157 + l_linenumber * 3) % 20 + 1 AS INT)
               AS cs_bill_hdemo_sk,
             CAST((l_orderkey * 7919 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS cs_bill_addr_sk,
             CAST((l_orderkey * 163 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS cs_ship_customer_sk,
             CASE WHEN (l_orderkey * 11 + l_linenumber) % 97 = 0 THEN NULL
                  ELSE CAST((l_orderkey * 167 + l_linenumber * 104729) % c_cnt + 1
                    AS INT) END AS cs_ship_addr_sk,
             CAST((l_orderkey * 19 + l_linenumber * 13) % 1440 AS INT)
               AS cs_sold_time_sk,
             CAST(l_partkey AS INT) AS cs_item_sk,
             CAST((l_orderkey + l_linenumber) % 5 + 1 AS INT) AS cs_promo_sk,
             CAST((l_orderkey * 281 + l_linenumber * 283) % 6 + 1 AS INT)
               AS cs_call_center_sk,
             CAST((l_orderkey * 293 + l_linenumber * 307) % 5 + 1 AS INT)
               AS cs_warehouse_sk,
             CAST((l_orderkey * 311 + l_linenumber * 313) % 20 + 1 AS INT)
               AS cs_ship_mode_sk,
             CAST((l_orderkey * 317 + l_linenumber * 331) % 20 + 1 AS INT)
               AS cs_catalog_page_sk,
             CAST((l_orderkey * 337 + l_linenumber * 347 + l_partkey * 53)
               % 40000 AS DOUBLE) / 100 AS cs_ext_ship_cost,
             -- order-level id shared by all lines of an order (matches
             -- ss_ticket_number; the q16/q94 EXISTS probes need order
             -- groups with multiple lines/warehouses)
             l_orderkey AS cs_order_number,
             CAST(l_quantity AS INT) AS cs_quantity,
             CAST((l_orderkey * 173 + l_linenumber * 31 + l_partkey * 7)
               % 10000 + 100 AS DOUBLE) / 100 AS cs_wholesale_cost,
             CAST((l_orderkey * 179 + l_linenumber * 37 + l_partkey * 11)
               % 20000 + 100 AS DOUBLE) / 100 AS cs_list_price,
             CAST((l_orderkey * 181 + l_linenumber * 43 + l_partkey * 13)
               % 19900 + 100 AS DOUBLE) / 100 AS cs_sales_price,
             CAST((l_orderkey * 191 + l_linenumber * 61 + l_partkey * 19)
               % 1000000 + 100 AS DOUBLE) / 100 AS cs_ext_sales_price,
             CAST((l_orderkey * 229 + l_linenumber * 53 + l_partkey * 17)
               % 5000 AS DOUBLE) / 100 AS cs_ext_discount_amt,
             CAST((l_orderkey * 193 + l_linenumber * 71 + l_partkey * 23)
               % 900000 + 100 AS DOUBLE) / 100 AS cs_ext_wholesale_cost,
             CAST((l_orderkey * 197 + l_linenumber * 79 + l_partkey * 29)
               % 1100000 + 200 AS DOUBLE) / 100 AS cs_ext_list_price,
             CAST((l_orderkey * 199 + l_linenumber * 101 + l_partkey * 37)
               % 30000 AS DOUBLE) / 100 AS cs_coupon_amt,
             CAST((l_orderkey * 211 + l_linenumber * 107 + l_partkey * 41)
               % 1000000 + 100 AS DOUBLE) / 100 AS cs_net_paid,
             CAST((l_orderkey * 449 + l_linenumber * 457 + l_partkey * 61)
               % 1100000 + 100 AS DOUBLE) / 100 AS cs_net_paid_inc_tax,
             CAST((l_orderkey * 223 + l_linenumber * 131 + l_partkey * 47)
               % 60000 - 30000 AS DOUBLE) / 100 AS cs_net_profit
      FROM lineitem
      CROSS JOIN ccnt
      JOIN date_dim d ON d.d_date = CAST(l_shipdate AS DATE))""",

    // web channel: disjoint slice (every third order), own hash seeds
    "web_sales" -> """web_sales AS (
      SELECT d.d_date_sk AS ws_sold_date_sk,
             CAST(l_partkey AS INT) AS ws_item_sk,
             CAST((l_orderkey * 7919 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS ws_bill_customer_sk,
             CASE WHEN (l_orderkey * 13 + l_linenumber) % 97 = 0 THEN NULL
                  ELSE CAST((l_orderkey * 227 + l_linenumber * 104729) % c_cnt + 1
                    AS INT) END AS ws_ship_customer_sk,
             CAST((l_orderkey * 23 + l_linenumber * 17) % 1440 AS INT)
               AS ws_sold_time_sk,
             CAST((l_orderkey * 229 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS ws_bill_addr_sk,
             l_orderkey AS ws_order_number,
             CAST((l_orderkey + l_linenumber) % 5 + 1 AS INT) AS ws_promo_sk,
             CAST(d.d_date_sk + CAST((l_orderkey * 3 + l_partkey) % 30 + 2
               AS INT) AS INT) AS ws_ship_date_sk,
             CAST((l_orderkey * 349 + l_linenumber * 353) % 5 + 1 AS INT)
               AS ws_warehouse_sk,
             CAST((l_orderkey * 359 + l_linenumber * 367) % 20 + 1 AS INT)
               AS ws_ship_mode_sk,
             CAST((l_orderkey * 373 + l_linenumber * 379) % 4 + 1 AS INT)
               AS ws_web_site_sk,
             CAST((l_orderkey * 383 + l_linenumber * 397) % 20 + 1 AS INT)
               AS ws_web_page_sk,
             CAST((l_orderkey * 401 + l_linenumber * 104729) % c_cnt + 1
               AS INT) AS ws_ship_addr_sk,
             CAST((l_orderkey * 409 + l_linenumber * 419) % 20 + 1 AS INT)
               AS ws_ship_hdemo_sk,
             CAST((l_orderkey * 421 + l_linenumber * 431 + l_partkey * 59)
               % 40000 AS DOUBLE) / 100 AS ws_ext_ship_cost,
             CAST(l_quantity AS INT) AS ws_quantity,
             CAST((l_orderkey * 263 + l_linenumber * 31 + l_partkey * 7)
               % 10000 + 100 AS DOUBLE) / 100 AS ws_wholesale_cost,
             CAST((l_orderkey * 269 + l_linenumber * 37 + l_partkey * 11)
               % 20000 + 100 AS DOUBLE) / 100 AS ws_list_price,
             CAST((l_orderkey * 233 + l_linenumber * 43 + l_partkey * 13)
               % 19900 + 100 AS DOUBLE) / 100 AS ws_sales_price,
             CAST((l_orderkey * 271 + l_linenumber * 79 + l_partkey * 29)
               % 1100000 + 200 AS DOUBLE) / 100 AS ws_ext_list_price,
             CAST((l_orderkey * 277 + l_linenumber * 71 + l_partkey * 23)
               % 900000 + 100 AS DOUBLE) / 100 AS ws_ext_wholesale_cost,
             CAST((l_orderkey * 239 + l_linenumber * 61 + l_partkey * 19)
               % 1000000 + 100 AS DOUBLE) / 100 AS ws_ext_sales_price,
             CAST((l_orderkey * 257 + l_linenumber * 59 + l_partkey * 19)
               % 5000 AS DOUBLE) / 100 AS ws_ext_discount_amt,
             CAST((l_orderkey * 241 + l_linenumber * 107 + l_partkey * 41)
               % 1000000 + 100 AS DOUBLE) / 100 AS ws_net_paid,
             CAST((l_orderkey * 251 + l_linenumber * 131 + l_partkey * 47)
               % 60000 - 30000 AS DOUBLE) / 100 AS ws_net_profit
      FROM lineitem
      CROSS JOIN ccnt
      JOIN date_dim d ON d.d_date = CAST(l_shipdate AS DATE)
      WHERE l_orderkey % 3 = 0)""",

    // ~30% of catalog sales return 1..60 days later (same shape as
    // store_returns; money hashes seeded on (order_number, item_sk)).
    "catalog_returns" -> """catalog_returns AS (
      SELECT CAST(LEAST(cs_sold_date_sk
               + CAST((cs_order_number * 7 + cs_item_sk) % 60 + 1 AS INT),
               2452556) AS INT) AS cr_returned_date_sk,
             CAST((cs_order_number * 13 + cs_item_sk * 7) % 1440 AS INT)
               AS cr_returned_time_sk,
             cs_item_sk AS cr_item_sk,
             cs_bill_customer_sk AS cr_refunded_customer_sk,
             cs_bill_addr_sk AS cr_refunded_addr_sk,
             cs_ship_customer_sk AS cr_returning_customer_sk,
             cs_ship_addr_sk AS cr_returning_addr_sk,
             CAST((cs_order_number * 3 + cs_item_sk) % 6 + 1 AS INT)
               AS cr_call_center_sk,
             CAST((cs_order_number * 443 + cs_item_sk * 71) % 20 + 1 AS INT)
               AS cr_catalog_page_sk,
             CAST((cs_order_number * 11 + cs_item_sk * 3) % 10 + 1 AS INT)
               AS cr_reason_sk,
             cs_order_number AS cr_order_number,
             CAST(FLOOR(cs_quantity / 2) + 1 AS INT) AS cr_return_quantity,
             CAST((cs_order_number * 11 + cs_item_sk * 5) % 50000 + 100
               AS DOUBLE) / 100 AS cr_return_amount,
             CAST((cs_order_number * 19 + cs_item_sk * 3) % 4000
               AS DOUBLE) / 100 AS cr_return_tax,
             CAST((cs_order_number * 11 + cs_item_sk * 5) % 50000 + 100
               AS DOUBLE) / 100
               + CAST((cs_order_number * 19 + cs_item_sk * 3) % 4000
               AS DOUBLE) / 100 AS cr_return_amt_inc_tax,
             CAST((cs_order_number * 29 + cs_item_sk * 7) % 10000
               AS DOUBLE) / 100 AS cr_fee,
             CAST((cs_order_number * 31 + cs_item_sk * 11) % 20000
               AS DOUBLE) / 100 AS cr_return_ship_cost,
             CAST((cs_order_number * 37 + cs_item_sk * 13) % 40000
               AS DOUBLE) / 100 AS cr_refunded_cash,
             CAST((cs_order_number * 43 + cs_item_sk * 17) % 25000
               AS DOUBLE) / 100 AS cr_reversed_charge,
             CAST((cs_order_number * 47 + cs_item_sk * 19) % 25000
               AS DOUBLE) / 100 AS cr_store_credit,
             CAST((cs_order_number * 41 + cs_item_sk * 23) % 30000 + 50
               AS DOUBLE) / 100 AS cr_net_loss
      FROM catalog_sales
      WHERE (cs_order_number * 5 + cs_item_sk) % 10 < 3)""",

    // ~30% of web sales return 1..60 days later.
    "web_returns" -> """web_returns AS (
      SELECT CAST(LEAST(ws_sold_date_sk
               + CAST((ws_order_number * 7 + ws_item_sk) % 60 + 1 AS INT),
               2452556) AS INT) AS wr_returned_date_sk,
             CAST((ws_order_number * 13 + ws_item_sk * 7) % 1440 AS INT)
               AS wr_returned_time_sk,
             ws_item_sk AS wr_item_sk,
             ws_bill_customer_sk AS wr_refunded_customer_sk,
             ws_bill_addr_sk AS wr_refunded_addr_sk,
             ws_ship_customer_sk AS wr_returning_customer_sk,
             ws_bill_addr_sk AS wr_returning_addr_sk,
             CAST((ws_order_number * 3 + ws_item_sk) % 20 + 1 AS INT)
               AS wr_web_page_sk,
             CAST((ws_order_number * 433 + ws_item_sk * 61) % 70 + 1 AS INT)
               AS wr_refunded_cdemo_sk,
             -- the returner is usually the refunded customer (q85 probes
             -- matched demographic pairs); ~20% differ
             CASE WHEN (ws_order_number * 439 + ws_item_sk * 67) % 5 = 0
                  THEN CAST((ws_order_number * 439 + ws_item_sk * 67) % 70
                    + 1 AS INT)
                  ELSE CAST((ws_order_number * 433 + ws_item_sk * 61) % 70
                    + 1 AS INT) END AS wr_returning_cdemo_sk,
             CAST((ws_order_number * 11 + ws_item_sk * 3) % 10 + 1 AS INT)
               AS wr_reason_sk,
             ws_order_number AS wr_order_number,
             CAST(FLOOR(ws_quantity / 2) + 1 AS INT) AS wr_return_quantity,
             CAST((ws_order_number * 11 + ws_item_sk * 5) % 50000 + 100
               AS DOUBLE) / 100 AS wr_return_amt,
             CAST((ws_order_number * 19 + ws_item_sk * 3) % 4000
               AS DOUBLE) / 100 AS wr_return_tax,
             CAST((ws_order_number * 11 + ws_item_sk * 5) % 50000 + 100
               AS DOUBLE) / 100
               + CAST((ws_order_number * 19 + ws_item_sk * 3) % 4000
               AS DOUBLE) / 100 AS wr_return_amt_inc_tax,
             CAST((ws_order_number * 29 + ws_item_sk * 7) % 10000
               AS DOUBLE) / 100 AS wr_fee,
             CAST((ws_order_number * 31 + ws_item_sk * 11) % 20000
               AS DOUBLE) / 100 AS wr_return_ship_cost,
             CAST((ws_order_number * 37 + ws_item_sk * 13) % 40000
               AS DOUBLE) / 100 AS wr_refunded_cash,
             CAST((ws_order_number * 43 + ws_item_sk * 17) % 25000
               AS DOUBLE) / 100 AS wr_reversed_charge,
             CAST((ws_order_number * 47 + ws_item_sk * 19) % 25000
               AS DOUBLE) / 100 AS wr_account_credit,
             CAST((ws_order_number * 41 + ws_item_sk * 23) % 30000 + 50
               AS DOUBLE) / 100 AS wr_net_loss
      FROM web_sales
      WHERE (ws_order_number * 5 + ws_item_sk) % 10 < 3)""")

  /** A star view's inner SELECT text (what the binder registers for the
    * names it keeps as views). */
  private def viewBody(name: String): String = {
    val defn = byName(name)
    defn.substring(defn.indexOf('(') + 1, defn.lastIndexOf(')'))
  }

  /** Stable hash of a view's full defining text INCLUDING the transitive
    * CTE closure it reads (inventory's contents change when item/date_dim
    * definitions do, not just its own text). */
  private[graft] def defHash(name: String): String = hashes(name)

  private val byName = cteDefs.toMap

  /** Whether a text reads a star name as a whole word: `customer` is not
    * read by `ss_customer_sk`. */
  private val reads: Map[String, String => Boolean] = cteDefs.map { case (name, _) =>
    val word = s"\\b$name\\b".r
    name -> ((text: String) => word.findFirstIn(text).isDefined)
  }.toMap

  private lazy val hashes: Map[String, String] = cteDefs.map { case (name, _) =>
    name -> Integer.toHexString(wrap(s"SELECT * FROM $name").hashCode).take(8)
  }.toMap

  /** The fixture CTE names `q` references, in definition order, closed
    * over the definitions of the names `expand` accepts. */
  private def closure(q: String, expand: String => Boolean): Seq[String] = {
    var included = cteDefs.collect { case (name, _) if reads(name)(q) => name }.toSet
    var grew = true
    while (grew) {
      val next = included ++ cteDefs.collect {
        case (name, _) if included.exists(i => expand(i) && reads(name)(byName(i))) => name
      }
      grew = next.size != included.size
      included = next
    }
    cteDefs.map(_._1).filter(included)
  }

  /** Prepend the transitive closure of fixture CTEs the query references,
    * in definition order; merge with the query's own WITH clause. */
  private[queries] def wrap(q: String): String = {
    val t = q.trim
    val included = closure(t, _ => true)
    if (included.isEmpty) return t
    val block = included.map(byName).mkString(",\n    ")
    if (t.toUpperCase.startsWith("WITH "))
      s"WITH $block,\n${t.drop(5)}"
    else
      s"WITH $block\n$t"
  }

  private[graft] val texts: Map[String, String] = Map(
    // Q1: customers returning more than 1.2x their store's average
    // (correlated scalar avg over a CTE, used twice).
    "tpcds_q01" -> s"""
      WITH customer_total_return AS
        (SELECT sr_customer_sk AS ctr_customer_sk,
                sr_store_sk AS ctr_store_sk,
                SUM(CAST(sr_return_amt AS DECIMAL(12,4))) AS ctr_total_return
         FROM store_returns, date_dim
         WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
         GROUP BY sr_customer_sk, sr_store_sk)
      SELECT c_customer_id
      FROM customer_total_return ctr1, store, customer
      WHERE ctr1.ctr_total_return >
          (SELECT ${sumd("ctr_total_return")} / COUNT(*) * 1.2
           FROM customer_total_return ctr2
           WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
        AND s_store_sk = ctr1.ctr_store_sk
        AND s_state = 'TN'
        AND ctr1.ctr_customer_sk = c_customer_sk
      ORDER BY c_customer_id, ctr1.ctr_store_sk
      LIMIT 100""",

    // Q3: brand revenue for a manufacturer in November (ref: i_manufact_id
    // 128 -> 3, fixture manufact ids are 1..5).
    "tpcds_q03" -> s"""
      SELECT dt.d_year AS d_year,
             item.i_brand_id AS brand_id,
             item.i_brand AS brand,
             ${sumd(dmoney("ss_ext_sales_price"))} AS sum_agg
      FROM date_dim dt, store_sales, item
      WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        AND store_sales.ss_item_sk = item.i_item_sk
        AND item.i_manufact_id = 3
        AND dt.d_moy = 11
      GROUP BY dt.d_year, item.i_brand, item.i_brand_id
      ORDER BY d_year, sum_agg DESC, brand_id
      LIMIT 100""",

    // Q6: states whose customers buy items priced >1.2x category average
    // (two scalar subqueries, one correlated).
    "tpcds_q06" -> s"""
      SELECT a.ca_state AS state, COUNT(*) AS cnt
      FROM customer_address a, customer c, store_sales s, date_dim d, item i
      WHERE a.ca_address_sk = c.c_current_addr_sk
        AND c.c_customer_sk = s.ss_customer_sk
        AND s.ss_sold_date_sk = d.d_date_sk
        AND s.ss_item_sk = i.i_item_sk
        AND d.d_month_seq =
          (SELECT DISTINCT (d_month_seq) FROM date_dim
           WHERE d_year = 2001 AND d_moy = 1)
        AND i.i_current_price > 1.2 *
          (SELECT ${sumd(dmoney("j.i_current_price"))} / COUNT(*) FROM item j
           WHERE j.i_category = i.i_category)
      GROUP BY a.ca_state
      HAVING COUNT(*) >= 10
      ORDER BY cnt NULLS FIRST, a.ca_state NULLS FIRST
      LIMIT 100""",

    // Q7: demographic/promotion item averages.
    "tpcds_q07" -> s"""
      SELECT i_item_id,
             ${avgd("ss_quantity")} AS agg1,
             ${avgd("ss_list_price")} AS agg2,
             ${avgd("ss_coupon_amt")} AS agg3,
             ${avgd("ss_sales_price")} AS agg4
      FROM store_sales, customer_demographics, date_dim, item, promotion
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_item_sk = i_item_sk
        AND ss_cdemo_sk = cd_demo_sk
        AND ss_promo_sk = p_promo_sk
        AND cd_gender = 'M'
        AND cd_marital_status = 'S'
        AND cd_education_status = 'College'
        AND (p_channel_email = 'N' OR p_channel_event = 'N')
        AND d_year = 2000
      GROUP BY i_item_id
      ORDER BY i_item_id
      LIMIT 100""",

    // Q9: five quantity-band CASE buckets over scalar subqueries (ref
    // thresholds scaled to SF-relative COUNT(*) fractions; quantity bands
    // adapted to the fixture's 1..50 range).
    "tpcds_q09" -> s"""
      SELECT CASE WHEN (SELECT COUNT(*) FROM store_sales
                        WHERE ss_quantity BETWEEN 1 AND 10) >
                  (SELECT COUNT(*) / 5 FROM store_sales)
                  THEN (SELECT ${avgd("ss_ext_discount_amt")}
                        FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
                  ELSE (SELECT ${avgd("ss_net_paid")}
                        FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
             END AS bucket1,
             CASE WHEN (SELECT COUNT(*) FROM store_sales
                        WHERE ss_quantity BETWEEN 11 AND 20) >
                  (SELECT COUNT(*) / 5 FROM store_sales)
                  THEN (SELECT ${avgd("ss_ext_discount_amt")}
                        FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
                  ELSE (SELECT ${avgd("ss_net_paid")}
                        FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
             END AS bucket2,
             CASE WHEN (SELECT COUNT(*) FROM store_sales
                        WHERE ss_quantity BETWEEN 21 AND 30) >
                  (SELECT COUNT(*) / 5 FROM store_sales)
                  THEN (SELECT ${avgd("ss_ext_discount_amt")}
                        FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
                  ELSE (SELECT ${avgd("ss_net_paid")}
                        FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
             END AS bucket3,
             CASE WHEN (SELECT COUNT(*) FROM store_sales
                        WHERE ss_quantity BETWEEN 31 AND 40) >
                  (SELECT COUNT(*) / 5 FROM store_sales)
                  THEN (SELECT ${avgd("ss_ext_discount_amt")}
                        FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
                  ELSE (SELECT ${avgd("ss_net_paid")}
                        FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
             END AS bucket4,
             CASE WHEN (SELECT COUNT(*) FROM store_sales
                        WHERE ss_quantity BETWEEN 41 AND 50) >
                  (SELECT COUNT(*) / 5 FROM store_sales)
                  THEN (SELECT ${avgd("ss_ext_discount_amt")}
                        FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
                  ELSE (SELECT ${avgd("ss_net_paid")}
                        FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
             END AS bucket5
      FROM reason WHERE r_reason_sk = 1""",

    // Q13: OR-of-ANDs demographic/address bands.
    "tpcds_q13" -> s"""
      SELECT ${avgd("ss_quantity")} AS avg1,
             ${avgd("ss_ext_sales_price")} AS avg2,
             ${avgd("ss_ext_wholesale_cost")} AS avg3,
             ${sumd(dmoney("ss_ext_wholesale_cost"))} AS sum_wc
      FROM store_sales, store, customer_demographics,
           household_demographics, customer_address, date_dim
      WHERE s_store_sk = ss_store_sk
        AND ss_sold_date_sk = d_date_sk AND d_year = 2001
        AND ((ss_hdemo_sk = hd_demo_sk
              AND cd_demo_sk = ss_cdemo_sk
              AND cd_marital_status = 'M'
              AND cd_education_status = 'Advanced Degree'
              AND ss_sales_price BETWEEN 100.00 AND 150.00
              AND hd_dep_count = 3)
             OR (ss_hdemo_sk = hd_demo_sk
                 AND cd_demo_sk = ss_cdemo_sk
                 AND cd_marital_status = 'S'
                 AND cd_education_status = 'College'
                 AND ss_sales_price BETWEEN 50.00 AND 100.00
                 AND hd_dep_count = 1)
             OR (ss_hdemo_sk = hd_demo_sk
                 AND cd_demo_sk = ss_cdemo_sk
                 AND cd_marital_status = 'W'
                 AND cd_education_status = '2 yr Degree'
                 AND ss_sales_price BETWEEN 150.00 AND 200.00
                 AND hd_dep_count = 1))
        AND ((ss_addr_sk = ca_address_sk
              AND ca_country = 'United States'
              AND ca_state IN ('TX', 'OH', 'TX')
              AND ss_net_profit BETWEEN 100 AND 200)
             OR (ss_addr_sk = ca_address_sk
                 AND ca_country = 'United States'
                 AND ca_state IN ('OR', 'NM', 'KY')
                 AND ss_net_profit BETWEEN 150 AND 300)
             OR (ss_addr_sk = ca_address_sk
                 AND ca_country = 'United States'
                 AND ca_state IN ('VA', 'TX', 'MS')
                 AND ss_net_profit BETWEEN 50 AND 250))""",

    // Q15: catalog zip revenue in a quarter.
    "tpcds_q15" -> s"""
      SELECT ca_zip, ${sumd(dmoney("cs_sales_price"))} AS sum_sales
      FROM catalog_sales, customer, customer_address, date_dim
      WHERE cs_bill_customer_sk = c_customer_sk
        AND c_current_addr_sk = ca_address_sk
        AND (SUBSTRING(ca_zip, 1, 5) IN ('85669', '86197', '88274', '83405',
                                         '86475', '85392', '85460', '80348',
                                         '81792')
             OR ca_state IN ('CA', 'WA', 'GA')
             OR cs_sales_price > 500)
        AND cs_sold_date_sk = d_date_sk
        AND d_qoy = 2 AND d_year = 2001
      GROUP BY ca_zip
      ORDER BY ca_zip NULLS FIRST
      LIMIT 100""",

    // Q19: brand revenue where customer and store zips differ (ref manager
    // id 8 kept — fixture manager ids are 1..20).
    "tpcds_q19" -> s"""
      SELECT i_brand_id AS brand_id, i_brand AS brand,
             i_manufact_id, i_manufact,
             ${sumd(dmoney("ss_ext_sales_price"))} AS ext_price
      FROM date_dim, store_sales, item, customer, customer_address, store
      WHERE d_date_sk = ss_sold_date_sk
        AND ss_item_sk = i_item_sk
        AND i_manager_id = 8
        AND d_moy = 11 AND d_year = 1998
        AND ss_customer_sk = c_customer_sk
        AND c_current_addr_sk = ca_address_sk
        AND SUBSTRING(ca_zip, 1, 5) <> SUBSTRING(s_zip, 1, 5)
        AND ss_store_sk = s_store_sk
      GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
      ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
      LIMIT 100""",

    // Q25: store/returns/catalog profit triangle over three date roles.
    // FROM order deviates from the published text (ss,sr,cs first): each
    // fact is listed right before its date role so the heuristic left-deep
    // join order applies the highly selective d1 broadcast (April 2001,
    // ~1/84 of days) to store_sales BEFORE the ss⋈sr⋈cs fact-fact joins —
    // the plan that survives 100× data. Same text on both engines; DuckDB
    // cost-reorders regardless, so results are unaffected.
    "tpcds_q25" -> s"""
      SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
             ${sumd(dmoney("ss_net_profit"))} AS store_sales_profit,
             ${sumd(dmoney("sr_net_loss"))} AS store_returns_loss,
             ${sumd(dmoney("cs_net_profit"))} AS catalog_sales_profit
      FROM store_sales, date_dim d1, store_returns, date_dim d2,
           catalog_sales, date_dim d3, store, item
      WHERE d1.d_moy = 4 AND d1.d_year = 2001
        AND d1.d_date_sk = ss_sold_date_sk
        AND i_item_sk = ss_item_sk
        AND s_store_sk = ss_store_sk
        AND ss_customer_sk = sr_customer_sk
        AND ss_item_sk = sr_item_sk
        AND ss_ticket_number = sr_ticket_number
        AND sr_returned_date_sk = d2.d_date_sk
        AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 2001
        AND sr_customer_sk = cs_bill_customer_sk
        AND sr_item_sk = cs_item_sk
        AND cs_sold_date_sk = d3.d_date_sk
        AND d3.d_moy BETWEEN 4 AND 10 AND d3.d_year = 2001
      GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
      ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
      LIMIT 100""",

    // Q26: catalog demographic/promotion item averages.
    "tpcds_q26" -> s"""
      SELECT i_item_id,
             ${avgd("cs_quantity")} AS agg1,
             ${avgd("cs_list_price")} AS agg2,
             ${avgd("cs_coupon_amt")} AS agg3,
             ${avgd("cs_sales_price")} AS agg4
      FROM catalog_sales, customer_demographics, date_dim, item, promotion
      WHERE cs_sold_date_sk = d_date_sk
        AND cs_item_sk = i_item_sk
        AND cs_bill_cdemo_sk = cd_demo_sk
        AND cs_promo_sk = p_promo_sk
        AND cd_gender = 'M'
        AND cd_marital_status = 'S'
        AND cd_education_status = 'College'
        AND (p_channel_email = 'N' OR p_channel_event = 'N')
        AND d_year = 2000
      GROUP BY i_item_id
      ORDER BY i_item_id
      LIMIT 100""",

    // Q27: ROLLUP over state/item with demographic filter.
    "tpcds_q27" -> s"""
      SELECT i_item_id, s_state,
             ${avgd("ss_quantity")} AS agg1,
             ${avgd("ss_list_price")} AS agg2,
             ${avgd("ss_coupon_amt")} AS agg3,
             ${avgd("ss_sales_price")} AS agg4
      FROM store_sales, customer_demographics, date_dim, store, item
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_item_sk = i_item_sk
        AND ss_store_sk = s_store_sk
        AND ss_cdemo_sk = cd_demo_sk
        AND cd_gender = 'M'
        AND cd_marital_status = 'S'
        AND cd_education_status = 'College'
        AND d_year = 2000
        AND s_state IN ('TN', 'CA', 'NY', 'TX', 'WA', 'TN')
      GROUP BY ROLLUP (i_item_id, s_state)
      ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
      LIMIT 100""",

    // Q42: category revenue for a month/year.
    "tpcds_q42" -> s"""
      SELECT dt.d_year AS d_year, item.i_category_id AS i_category_id,
             item.i_category AS i_category,
             ${sumd(dmoney("ss_ext_sales_price"))} AS sum_sales
      FROM date_dim dt, store_sales, item
      WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        AND store_sales.ss_item_sk = item.i_item_sk
        AND item.i_manager_id = 1
        AND dt.d_moy = 11 AND dt.d_year = 2000
      GROUP BY dt.d_year, item.i_category_id, item.i_category
      ORDER BY sum_sales DESC, d_year, i_category_id, i_category
      LIMIT 100""",

    // Q52: brand revenue for a month/year.
    "tpcds_q52" -> s"""
      SELECT dt.d_year AS d_year, item.i_brand_id AS brand_id,
             item.i_brand AS brand,
             ${sumd(dmoney("ss_ext_sales_price"))} AS ext_price
      FROM date_dim dt, store_sales, item
      WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        AND store_sales.ss_item_sk = item.i_item_sk
        AND item.i_manager_id = 1
        AND dt.d_moy = 11 AND dt.d_year = 2000
      GROUP BY dt.d_year, item.i_brand, item.i_brand_id
      ORDER BY dt.d_year, ext_price DESC, brand_id
      LIMIT 100""",

    // Q36: gross margin hierarchy. The reference text's UNION-rollup
    // references `results` three times; Spark inlines deterministic CTEs,
    // so that shape re-ran the fact join pipeline per arm (the round-4
    // 4.4 s regression: three full scans of the cached store_sales).
    // Re-expressed as GROUPING SETS over the pre-aggregated `results` —
    // referenced ONCE, so one fact scan — with the identical two-level
    // decimal-sum policy: the leaf set re-sums each single pre-aggregated
    // row (value-preserving), the coarser sets match the UNION arms'
    // re-aggregation expressions term for term, and GROUPING() reproduces
    // the arms' t_category/t_class/lochierarchy literals.
    "tpcds_q36" -> s"""
      WITH results AS
        (SELECT ${sumd(dmoney("ss_net_profit"))} AS ss_net_profit,
                ${sumd(dmoney("ss_ext_sales_price"))} AS ss_ext_sales_price,
                i_category, i_class
         FROM store_sales, date_dim d1, item, store
         WHERE d1.d_year = 2001
           AND d1.d_date_sk = ss_sold_date_sk
           AND i_item_sk = ss_item_sk
           AND s_store_sk = ss_store_sk
           AND s_state = 'TN'
         GROUP BY i_category, i_class),
      results_rollup AS
        (SELECT ${sumd(sql.dbig("ss_net_profit"))} /
                  ${sumd(sql.dbig("ss_ext_sales_price"))} AS gross_margin,
                i_category, i_class,
                CAST(GROUPING(i_category) AS INT) AS t_category,
                CAST(GROUPING(i_class) AS INT) AS t_class,
                CAST(GROUPING(i_category) + GROUPING(i_class) AS INT)
                  AS lochierarchy
         FROM results
         GROUP BY GROUPING SETS ((i_category, i_class), (i_category), ()))
      SELECT gross_margin, i_category, i_class, lochierarchy,
             RANK() OVER (PARTITION BY lochierarchy,
                            CASE WHEN t_class = 0 THEN i_category END
                          ORDER BY gross_margin ASC) AS rank_within_parent
      FROM results_rollup
      ORDER BY lochierarchy DESC NULLS FIRST,
               CASE WHEN lochierarchy = 0 THEN i_category END NULLS FIRST,
               rank_within_parent,
               i_category NULLS FIRST, i_class NULLS FIRST
      LIMIT 100""",

    // Q43: weekday sales pivot per store.
    "tpcds_q43" -> s"""
      SELECT s_store_name, s_store_id,
             ${sumd(s"CASE WHEN d_day_name = 'Sunday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS sun_sales,
             ${sumd(s"CASE WHEN d_day_name = 'Monday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS mon_sales,
             ${sumd(s"CASE WHEN d_day_name = 'Tuesday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS tue_sales,
             ${sumd(s"CASE WHEN d_day_name = 'Wednesday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS wed_sales,
             ${sumd(s"CASE WHEN d_day_name = 'Thursday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS thu_sales,
             ${sumd(s"CASE WHEN d_day_name = 'Friday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS fri_sales,
             ${sumd(s"CASE WHEN d_day_name = 'Saturday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS sat_sales
      FROM date_dim, store_sales, store
      WHERE d_date_sk = ss_sold_date_sk
        AND s_store_sk = ss_store_sk
        AND s_gmt_offset = -5
        AND d_year = 2000
      GROUP BY s_store_name, s_store_id
      ORDER BY s_store_name, s_store_id, sun_sales, mon_sales, tue_sales,
               wed_sales, thu_sales, fri_sales, sat_sales
      LIMIT 100""",

    // Q46: weekend coupon/profit per ticket for customers buying outside
    // their home city.
    "tpcds_q46" -> s"""
      SELECT c_last_name, c_first_name, ca_city, bought_city,
             ss_ticket_number, amt, profit
      FROM
        (SELECT ss_ticket_number, ss_customer_sk,
                ca_city AS bought_city,
                ${sumd(dmoney("ss_coupon_amt"))} AS amt,
                ${sumd(dmoney("ss_net_profit"))} AS profit
         FROM store_sales, date_dim, store, household_demographics,
              customer_address
         WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
           AND store_sales.ss_store_sk = store.s_store_sk
           AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
           AND store_sales.ss_addr_sk = customer_address.ca_address_sk
           AND (household_demographics.hd_dep_count = 4
                OR household_demographics.hd_vehicle_count = 3)
           AND date_dim.d_dow IN (6, 0)
           AND date_dim.d_year IN (1999, 1999+1, 1999+2)
           AND store.s_city IN ('Fairview', 'Midway')
         GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
        customer, customer_address current_addr
      WHERE ss_customer_sk = c_customer_sk
        AND customer.c_current_addr_sk = current_addr.ca_address_sk
        AND current_addr.ca_city <> bought_city
      ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
               ca_city NULLS FIRST, bought_city NULLS FIRST,
               ss_ticket_number NULLS FIRST,
               amt NULLS FIRST, profit NULLS FIRST
      LIMIT 100""",

    // Q48: quantity total across demographic/address OR-bands.
    "tpcds_q48" -> """
      SELECT CAST(SUM(ss_quantity) AS BIGINT) AS sum_qty
      FROM store_sales, store, customer_demographics, customer_address,
           date_dim
      WHERE s_store_sk = ss_store_sk
        AND ss_sold_date_sk = d_date_sk
        AND d_year = 2000
        AND ((cd_demo_sk = ss_cdemo_sk
              AND cd_marital_status = 'M'
              AND cd_education_status = '4 yr Degree'
              AND ss_sales_price BETWEEN 100.00 AND 150.00)
             OR (cd_demo_sk = ss_cdemo_sk
                 AND cd_marital_status = 'D'
                 AND cd_education_status = '2 yr Degree'
                 AND ss_sales_price BETWEEN 50.00 AND 100.00)
             OR (cd_demo_sk = ss_cdemo_sk
                 AND cd_marital_status = 'S'
                 AND cd_education_status = 'College'
                 AND ss_sales_price BETWEEN 150.00 AND 200.00))
        AND ((ss_addr_sk = ca_address_sk
              AND ca_country = 'United States'
              AND ca_state IN ('CO', 'OH', 'TX')
              AND ss_net_profit BETWEEN 0 AND 2000)
             OR (ss_addr_sk = ca_address_sk
                 AND ca_country = 'United States'
                 AND ca_state IN ('OR', 'MN', 'KY')
                 AND ss_net_profit BETWEEN 150 AND 3000)
             OR (ss_addr_sk = ca_address_sk
                 AND ca_country = 'United States'
                 AND ca_state IN ('VA', 'CA', 'MS')
                 AND ss_net_profit BETWEEN 50 AND 25000))""",

    // Q50: return-lag day buckets per store (quoted "30 days"-style output
    // names replaced with plain identifiers — Spark has no double-quoted
    // identifiers outside ANSI_QUOTES).
    "tpcds_q50" -> """
      SELECT s_store_name, s_company_id, s_street_number, s_street_name,
             s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
             CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk <= 30)
               THEN 1 ELSE 0 END) AS BIGINT) AS d30_days,
             CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 30)
               AND (sr_returned_date_sk - ss_sold_date_sk <= 60)
               THEN 1 ELSE 0 END) AS BIGINT) AS d31_60_days,
             CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 60)
               AND (sr_returned_date_sk - ss_sold_date_sk <= 90)
               THEN 1 ELSE 0 END) AS BIGINT) AS d61_90_days,
             CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 90)
               AND (sr_returned_date_sk - ss_sold_date_sk <= 120)
               THEN 1 ELSE 0 END) AS BIGINT) AS d91_120_days,
             CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 120)
               THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120_days
      FROM store_sales, store_returns, store, date_dim d1, date_dim d2
      WHERE d2.d_year = 2001
        AND d2.d_moy = 8
        AND ss_ticket_number = sr_ticket_number
        AND ss_item_sk = sr_item_sk
        AND ss_sold_date_sk = d1.d_date_sk
        AND sr_returned_date_sk = d2.d_date_sk
        AND ss_customer_sk = sr_customer_sk
        AND ss_store_sk = s_store_sk
      GROUP BY s_store_name, s_company_id, s_street_number, s_street_name,
               s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
      ORDER BY s_store_name, s_company_id, s_street_number, s_street_name,
               s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
      LIMIT 100""",

    // Q59: week-over-week weekday sales ratios, one year apart (ref month
    // seqs 1212.. -> fixture 1998 = seq 96..).
    "tpcds_q59" -> s"""
      WITH wss AS
        (SELECT d_week_seq, ss_store_sk,
                ${sumd(s"CASE WHEN d_day_name = 'Sunday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS sun_sales,
                ${sumd(s"CASE WHEN d_day_name = 'Monday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS mon_sales,
                ${sumd(s"CASE WHEN d_day_name = 'Tuesday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS tue_sales,
                ${sumd(s"CASE WHEN d_day_name = 'Wednesday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS wed_sales,
                ${sumd(s"CASE WHEN d_day_name = 'Thursday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS thu_sales,
                ${sumd(s"CASE WHEN d_day_name = 'Friday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS fri_sales,
                ${sumd(s"CASE WHEN d_day_name = 'Saturday' THEN ${dmoney("ss_sales_price")} ELSE NULL END")} AS sat_sales
         FROM store_sales, date_dim
         WHERE d_date_sk = ss_sold_date_sk
         GROUP BY d_week_seq, ss_store_sk)
      SELECT s_store_name1, s_store_id1, d_week_seq1,
             sun_sales1 / sun_sales2 AS sun_sales_ratio,
             mon_sales1 / mon_sales2 AS mon_sales_ratio,
             tue_sales1 / tue_sales2 AS tue_sales_ratio,
             wed_sales1 / wed_sales2 AS wed_sales_ratio,
             thu_sales1 / thu_sales2 AS thu_sales_ratio,
             fri_sales1 / fri_sales2 AS fri_sales_ratio,
             sat_sales1 / sat_sales2 AS sat_sales_ratio
      FROM
        (SELECT s_store_name AS s_store_name1, wss.d_week_seq AS d_week_seq1,
                s_store_id AS s_store_id1, sun_sales AS sun_sales1,
                mon_sales AS mon_sales1, tue_sales AS tue_sales1,
                wed_sales AS wed_sales1, thu_sales AS thu_sales1,
                fri_sales AS fri_sales1, sat_sales AS sat_sales1
         FROM wss, store, date_dim d
         WHERE d.d_week_seq = wss.d_week_seq
           AND ss_store_sk = s_store_sk
           AND d_month_seq BETWEEN 96 AND 96 + 11) y,
        (SELECT s_store_name AS s_store_name2, wss.d_week_seq AS d_week_seq2,
                s_store_id AS s_store_id2, sun_sales AS sun_sales2,
                mon_sales AS mon_sales2, tue_sales AS tue_sales2,
                wed_sales AS wed_sales2, thu_sales AS thu_sales2,
                fri_sales AS fri_sales2, sat_sales AS sat_sales2
         FROM wss, store, date_dim d
         WHERE d.d_week_seq = wss.d_week_seq
           AND ss_store_sk = s_store_sk
           AND d_month_seq BETWEEN 96 + 12 AND 96 + 23) x
      WHERE s_store_id1 = s_store_id2
        AND d_week_seq1 = d_week_seq2 - 52
      ORDER BY s_store_name1 NULLS FIRST, s_store_id1 NULLS FIRST,
               d_week_seq1 NULLS FIRST
      LIMIT 100""",

    // Q61: promoted vs total sales ratio (ref decimal-division ratio
    // computed in double — promotions/total are already exact-sum doubles).
    "tpcds_q61" -> s"""
      SELECT promotions, total,
             promotions / total * 100 AS pct
      FROM
        (SELECT ${sumd(dmoney("ss_ext_sales_price"))} AS promotions
         FROM store_sales, store, promotion, date_dim, customer,
              customer_address, item
         WHERE ss_sold_date_sk = d_date_sk
           AND ss_store_sk = s_store_sk
           AND ss_promo_sk = p_promo_sk
           AND ss_customer_sk = c_customer_sk
           AND ca_address_sk = c_current_addr_sk
           AND ss_item_sk = i_item_sk
           AND ca_gmt_offset = -5
           AND i_category = 'Jewelry'
           AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y'
                OR p_channel_tv = 'Y')
           AND s_gmt_offset = -5
           AND d_year = 1998
           AND d_moy = 11) promotional_sales,
        (SELECT ${sumd(dmoney("ss_ext_sales_price"))} AS total
         FROM store_sales, store, date_dim, customer, customer_address, item
         WHERE ss_sold_date_sk = d_date_sk
           AND ss_store_sk = s_store_sk
           AND ss_customer_sk = c_customer_sk
           AND ca_address_sk = c_current_addr_sk
           AND ss_item_sk = i_item_sk
           AND ca_gmt_offset = -5
           AND i_category = 'Jewelry'
           AND s_gmt_offset = -5
           AND d_year = 1998
           AND d_moy = 11) all_sales
      ORDER BY promotions, total
      LIMIT 100""",

    // Q65: items selling at <=10% of their store's average item revenue
    // (ref month seq 1176.. -> fixture 1998 = 96..).
    "tpcds_q65" -> s"""
      SELECT s_store_name, i_item_desc, sc.revenue, i_current_price,
             i_wholesale_cost, i_brand
      FROM store, item,
        (SELECT ss_store_sk,
                ${sumd(sql.dbig("revenue"))} / COUNT(*) AS ave
         FROM
           (SELECT ss_store_sk, ss_item_sk,
                   ${sumd(dmoney("ss_sales_price"))} AS revenue
            FROM store_sales, date_dim
            WHERE ss_sold_date_sk = d_date_sk
              AND d_month_seq BETWEEN 96 AND 96 + 11
            GROUP BY ss_store_sk, ss_item_sk) sa
         GROUP BY ss_store_sk) sb,
        (SELECT ss_store_sk, ss_item_sk,
                ${sumd(dmoney("ss_sales_price"))} AS revenue
         FROM store_sales, date_dim
         WHERE ss_sold_date_sk = d_date_sk
           AND d_month_seq BETWEEN 96 AND 96 + 11
         GROUP BY ss_store_sk, ss_item_sk) sc
      WHERE sb.ss_store_sk = sc.ss_store_sk
        AND sc.revenue <= 0.1 * sb.ave
        AND s_store_sk = sc.ss_store_sk
        AND i_item_sk = sc.ss_item_sk
      ORDER BY s_store_name NULLS FIRST, i_item_desc NULLS FIRST,
               sc.ss_item_sk
      LIMIT 100""",

    // Q68: month-start tickets in selected cities bought outside home city.
    "tpcds_q68" -> s"""
      SELECT c_last_name, c_first_name, ca_city, bought_city,
             ss_ticket_number, extended_price, extended_tax, list_price
      FROM
        (SELECT ss_ticket_number, ss_customer_sk,
                ca_city AS bought_city,
                ${sumd(dmoney("ss_ext_sales_price"))} AS extended_price,
                ${sumd(dmoney("ss_ext_list_price"))} AS list_price,
                ${sumd(dmoney("ss_ext_tax"))} AS extended_tax
         FROM store_sales, date_dim, store, household_demographics,
              customer_address
         WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
           AND store_sales.ss_store_sk = store.s_store_sk
           AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
           AND store_sales.ss_addr_sk = customer_address.ca_address_sk
           AND date_dim.d_dom BETWEEN 1 AND 2
           AND (household_demographics.hd_dep_count = 4
                OR household_demographics.hd_vehicle_count = 3)
           AND date_dim.d_year IN (1999, 1999+1, 1999+2)
           AND store.s_city IN ('Fairview', 'Midway')
         GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
        customer, customer_address current_addr
      WHERE ss_customer_sk = c_customer_sk
        AND customer.c_current_addr_sk = current_addr.ca_address_sk
        AND current_addr.ca_city <> bought_city
      ORDER BY c_last_name NULLS FIRST, ss_ticket_number NULLS FIRST,
               bought_city NULLS FIRST, extended_price NULLS FIRST
      LIMIT 100""",

    // Q73: ticket line-count bands for high-potential households (ref
    // counties adapted; decimal ratio computed in double).
    "tpcds_q73" -> """
      SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
             ss_ticket_number, cnt
      FROM
        (SELECT ss_ticket_number, ss_customer_sk, COUNT(*) AS cnt
         FROM store_sales, date_dim, store, household_demographics
         WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
           AND store_sales.ss_store_sk = store.s_store_sk
           AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
           AND date_dim.d_dom BETWEEN 1 AND 2
           AND (household_demographics.hd_buy_potential = 'Unknown'
                OR household_demographics.hd_buy_potential = '>10000')
           AND household_demographics.hd_vehicle_count > 0
           AND CASE WHEN household_demographics.hd_vehicle_count > 0
                 THEN CAST(household_demographics.hd_dep_count AS DOUBLE) /
                      household_demographics.hd_vehicle_count
                 ELSE NULL END > 1
           AND date_dim.d_year IN (1999, 1999+1, 1999+2)
           AND store.s_county IN ('Orange County', 'Bronx County',
                                  'Franklin Parish', 'Williamson County')
         GROUP BY ss_ticket_number, ss_customer_sk) dj,
        customer
      WHERE ss_customer_sk = c_customer_sk
        AND cnt BETWEEN 1 AND 5
      ORDER BY cnt DESC, c_last_name ASC""",

    // Q79: Monday coupon/profit per ticket at mid-size stores.
    "tpcds_q79" -> s"""
      SELECT c_last_name, c_first_name,
             SUBSTRING(s_city, 1, 30) AS s_city, ss_ticket_number,
             amt, profit
      FROM
        (SELECT ss_ticket_number, ss_customer_sk, store.s_city,
                ${sumd(dmoney("ss_coupon_amt"))} AS amt,
                ${sumd(dmoney("ss_net_profit"))} AS profit
         FROM store_sales, date_dim, store, household_demographics
         WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
           AND store_sales.ss_store_sk = store.s_store_sk
           AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
           AND (household_demographics.hd_dep_count = 6
                OR household_demographics.hd_vehicle_count > 2)
           AND date_dim.d_dow = 1
           AND date_dim.d_year IN (1999, 1999+1, 1999+2)
           AND store.s_number_employees BETWEEN 200 AND 295
         GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk,
                  store.s_city) ms,
        customer
      WHERE ss_customer_sk = c_customer_sk
      ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
               SUBSTRING(s_city, 1, 30) NULLS FIRST, profit NULLS FIRST,
               ss_ticket_number, amt NULLS FIRST
      LIMIT 100""",

    // Q89: monthly sales deviation from the item/store average (the
    // reference's nested avg(sum()) OVER window is computed in two layers
    // with a decimal window sum so double addition stays order-free; class
    // lists adapted to the fixture vocabulary).
    "tpcds_q89" -> s"""
      SELECT * FROM
        (SELECT i_category, i_class, i_brand, s_store_name, s_company_name,
                d_moy, sum_sales,
                CAST(SUM(CAST(sum_sales AS DECIMAL(24,4))) OVER
                       (PARTITION BY i_category, i_brand, s_store_name,
                                     s_company_name) AS DOUBLE) /
                  COUNT(*) OVER (PARTITION BY i_category, i_brand,
                                 s_store_name, s_company_name)
                  AS avg_monthly_sales
         FROM
           (SELECT i_category, i_class, i_brand, s_store_name,
                   s_company_name, d_moy,
                   ${sumd(dmoney("ss_sales_price"))} AS sum_sales
            FROM item, store_sales, date_dim, store
            WHERE ss_item_sk = i_item_sk
              AND ss_sold_date_sk = d_date_sk
              AND ss_store_sk = s_store_sk
              AND d_year = 1999
              AND ((i_category IN ('Books', 'Electronics', 'Sports')
                    AND i_class IN ('computers', 'fiction', 'basketball'))
                   OR (i_category IN ('Men', 'Jewelry', 'Women')
                       AND i_class IN ('accessories', 'earings', 'dresses')))
            GROUP BY i_category, i_class, i_brand, s_store_name,
                     s_company_name, d_moy) base) tmp1
      WHERE CASE WHEN (avg_monthly_sales <> 0)
              THEN (ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales)
              ELSE NULL END > 0.1
      ORDER BY sum_sales - avg_monthly_sales, s_store_name,
               1, 2, 3, 5, 6, 7, 8
      LIMIT 100""",

    // Q98: item revenue and share of class revenue over a 30-day window
    // (nested window sum in two layers, decimal-exact).
    "tpcds_q98" -> s"""
      SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
             itemrevenue,
             itemrevenue * 100.0 /
               CAST(SUM(CAST(itemrevenue AS DECIMAL(24,4))) OVER
                      (PARTITION BY i_class) AS DOUBLE) AS revenueratio
      FROM
        (SELECT i_item_id, i_item_desc, i_category, i_class,
                i_current_price,
                ${sumd(dmoney("ss_ext_sales_price"))} AS itemrevenue
         FROM store_sales, item, date_dim
         WHERE ss_item_sk = i_item_sk
           AND i_category IN ('Sports', 'Books', 'Home')
           AND ss_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                          AND CAST('1999-03-24' AS DATE)
         GROUP BY i_item_id, i_item_desc, i_category, i_class,
                  i_current_price) base
      ORDER BY i_category NULLS FIRST, i_class NULLS FIRST,
               i_item_id NULLS FIRST, i_item_desc NULLS FIRST,
               revenueratio NULLS FIRST""",

    // Q31: county web/store sales quarter-over-quarter ratios (CTE used
    // six times).
    "tpcds_q31" -> s"""
      WITH ss AS
        (SELECT ca_county, d_qoy, d_year,
                ${sumd(dmoney("ss_ext_sales_price"))} AS store_sales
         FROM store_sales, date_dim, customer_address
         WHERE ss_sold_date_sk = d_date_sk AND ss_addr_sk = ca_address_sk
         GROUP BY ca_county, d_qoy, d_year),
      ws AS
        (SELECT ca_county, d_qoy, d_year,
                ${sumd(dmoney("ws_ext_sales_price"))} AS web_sales
         FROM web_sales, date_dim, customer_address
         WHERE ws_sold_date_sk = d_date_sk AND ws_bill_addr_sk = ca_address_sk
         GROUP BY ca_county, d_qoy, d_year)
      SELECT ss1.ca_county AS ca_county, ss1.d_year AS d_year,
             ws2.web_sales / ws1.web_sales AS web_q1_q2_increase,
             ss2.store_sales / ss1.store_sales AS store_q1_q2_increase,
             ws3.web_sales / ws2.web_sales AS web_q2_q3_increase,
             ss3.store_sales / ss2.store_sales AS store_q2_q3_increase
      FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
      WHERE ss1.d_qoy = 1 AND ss1.d_year = 2000
        AND ss1.ca_county = ss2.ca_county
        AND ss2.d_qoy = 2 AND ss2.d_year = 2000
        AND ss2.ca_county = ss3.ca_county
        AND ss3.d_qoy = 3 AND ss3.d_year = 2000
        AND ss1.ca_county = ws1.ca_county
        AND ws1.d_qoy = 1 AND ws1.d_year = 2000
        AND ws1.ca_county = ws2.ca_county
        AND ws2.d_qoy = 2 AND ws2.d_year = 2000
        AND ws1.ca_county = ws3.ca_county
        AND ws3.d_qoy = 3 AND ws3.d_year = 2000
        AND CASE WHEN ws1.web_sales > 0
              THEN ws2.web_sales / ws1.web_sales ELSE NULL END >
            CASE WHEN ss1.store_sales > 0
              THEN ss2.store_sales / ss1.store_sales ELSE NULL END
      ORDER BY ca_county""",

    // Q33: manufacturer revenue across all three channels (Electronics,
    // one month, one timezone band).
    "tpcds_q33" -> s"""
      WITH ss AS
        (SELECT i_manufact_id,
                ${sumd(dmoney("ss_ext_sales_price"))} AS total_sales
         FROM store_sales, date_dim, customer_address, item
         WHERE i_manufact_id IN
             (SELECT i_manufact_id FROM item
              WHERE i_category IN ('Electronics'))
           AND ss_item_sk = i_item_sk
           AND ss_sold_date_sk = d_date_sk
           AND d_year = 1998 AND d_moy = 5
           AND ss_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_manufact_id),
      cs AS
        (SELECT i_manufact_id,
                ${sumd(dmoney("cs_ext_sales_price"))} AS total_sales
         FROM catalog_sales, date_dim, customer_address, item
         WHERE i_manufact_id IN
             (SELECT i_manufact_id FROM item
              WHERE i_category IN ('Electronics'))
           AND cs_item_sk = i_item_sk
           AND cs_sold_date_sk = d_date_sk
           AND d_year = 1998 AND d_moy = 5
           AND cs_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_manufact_id),
      ws AS
        (SELECT i_manufact_id,
                ${sumd(dmoney("ws_ext_sales_price"))} AS total_sales
         FROM web_sales, date_dim, customer_address, item
         WHERE i_manufact_id IN
             (SELECT i_manufact_id FROM item
              WHERE i_category IN ('Electronics'))
           AND ws_item_sk = i_item_sk
           AND ws_sold_date_sk = d_date_sk
           AND d_year = 1998 AND d_moy = 5
           AND ws_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_manufact_id)
      SELECT i_manufact_id,
             ${sumd(sql.dbig("total_sales"))} AS total_sales
      FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
            UNION ALL SELECT * FROM ws) tmp1
      GROUP BY i_manufact_id
      ORDER BY total_sales, i_manufact_id
      LIMIT 100""",

    // Q45: web revenue by customer zip/city for selected zips or items.
    "tpcds_q45" -> s"""
      SELECT ca_zip, ca_city,
             ${sumd(dmoney("ws_sales_price"))} AS sum_sales
      FROM web_sales, customer, customer_address, date_dim, item
      WHERE ws_bill_customer_sk = c_customer_sk
        AND c_current_addr_sk = ca_address_sk
        AND ws_item_sk = i_item_sk
        AND (SUBSTRING(ca_zip, 1, 5) IN ('85669', '86197', '88274', '83405',
                                         '86475', '85392', '85460', '80348',
                                         '81792')
             OR i_item_id IN
               (SELECT i_item_id FROM item
                WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
        AND ws_sold_date_sk = d_date_sk
        AND d_qoy = 2 AND d_year = 2001
      GROUP BY ca_zip, ca_city
      ORDER BY ca_zip, ca_city
      LIMIT 100""",

    // Q56: item revenue across channels for selected colors.
    "tpcds_q56" -> s"""
      WITH ss AS
        (SELECT i_item_id,
                ${sumd(dmoney("ss_ext_sales_price"))} AS total_sales
         FROM store_sales, date_dim, customer_address, item
         WHERE i_item_id IN
             (SELECT i_item_id FROM item
              WHERE i_color IN ('slate', 'blanched', 'burnished'))
           AND ss_item_sk = i_item_sk
           AND ss_sold_date_sk = d_date_sk
           AND d_year = 2001 AND d_moy = 2
           AND ss_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_item_id),
      cs AS
        (SELECT i_item_id,
                ${sumd(dmoney("cs_ext_sales_price"))} AS total_sales
         FROM catalog_sales, date_dim, customer_address, item
         WHERE i_item_id IN
             (SELECT i_item_id FROM item
              WHERE i_color IN ('slate', 'blanched', 'burnished'))
           AND cs_item_sk = i_item_sk
           AND cs_sold_date_sk = d_date_sk
           AND d_year = 2001 AND d_moy = 2
           AND cs_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_item_id),
      ws AS
        (SELECT i_item_id,
                ${sumd(dmoney("ws_ext_sales_price"))} AS total_sales
         FROM web_sales, date_dim, customer_address, item
         WHERE i_item_id IN
             (SELECT i_item_id FROM item
              WHERE i_color IN ('slate', 'blanched', 'burnished'))
           AND ws_item_sk = i_item_sk
           AND ws_sold_date_sk = d_date_sk
           AND d_year = 2001 AND d_moy = 2
           AND ws_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_item_id)
      SELECT i_item_id,
             ${sumd(sql.dbig("total_sales"))} AS total_sales
      FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
            UNION ALL SELECT * FROM ws) tmp1
      GROUP BY i_item_id
      ORDER BY total_sales, i_item_id
      LIMIT 100""",

    // Q60: item revenue across channels for a category.
    "tpcds_q60" -> s"""
      WITH ss AS
        (SELECT i_item_id,
                ${sumd(dmoney("ss_ext_sales_price"))} AS total_sales
         FROM store_sales, date_dim, customer_address, item
         WHERE i_item_id IN
             (SELECT i_item_id FROM item WHERE i_category = 'Music')
           AND ss_item_sk = i_item_sk
           AND ss_sold_date_sk = d_date_sk
           AND d_year = 1998 AND d_moy = 9
           AND ss_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_item_id),
      cs AS
        (SELECT i_item_id,
                ${sumd(dmoney("cs_ext_sales_price"))} AS total_sales
         FROM catalog_sales, date_dim, customer_address, item
         WHERE i_item_id IN
             (SELECT i_item_id FROM item WHERE i_category = 'Music')
           AND cs_item_sk = i_item_sk
           AND cs_sold_date_sk = d_date_sk
           AND d_year = 1998 AND d_moy = 9
           AND cs_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_item_id),
      ws AS
        (SELECT i_item_id,
                ${sumd(dmoney("ws_ext_sales_price"))} AS total_sales
         FROM web_sales, date_dim, customer_address, item
         WHERE i_item_id IN
             (SELECT i_item_id FROM item WHERE i_category = 'Music')
           AND ws_item_sk = i_item_sk
           AND ws_sold_date_sk = d_date_sk
           AND d_year = 1998 AND d_moy = 9
           AND ws_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
         GROUP BY i_item_id)
      SELECT i_item_id,
             ${sumd(sql.dbig("total_sales"))} AS total_sales
      FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
            UNION ALL SELECT * FROM ws) tmp1
      GROUP BY i_item_id
      ORDER BY i_item_id, total_sales
      LIMIT 100""",

    // Q71: brand revenue by time-of-day across all channels (breakfast/
    // dinner bands from time_dim).
    "tpcds_q71" -> s"""
      SELECT i_brand_id AS brand_id, i_brand AS brand, t_hour, t_minute,
             ${sumd(dmoney("ext_price"))} AS ext_price
      FROM item,
        (SELECT ws_ext_sales_price AS ext_price,
                ws_sold_date_sk AS sold_date_sk,
                ws_item_sk AS sold_item_sk,
                ws_sold_time_sk AS time_sk
         FROM web_sales, date_dim
         WHERE d_date_sk = ws_sold_date_sk AND d_moy = 11 AND d_year = 1999
         UNION ALL
         SELECT cs_ext_sales_price AS ext_price,
                cs_sold_date_sk AS sold_date_sk,
                cs_item_sk AS sold_item_sk,
                cs_sold_time_sk AS time_sk
         FROM catalog_sales, date_dim
         WHERE d_date_sk = cs_sold_date_sk AND d_moy = 11 AND d_year = 1999
         UNION ALL
         SELECT ss_ext_sales_price AS ext_price,
                ss_sold_date_sk AS sold_date_sk,
                ss_item_sk AS sold_item_sk,
                ss_sold_time_sk AS time_sk
         FROM store_sales, date_dim
         WHERE d_date_sk = ss_sold_date_sk AND d_moy = 11 AND d_year = 1999
        ) tmp,
        time_dim
      WHERE sold_item_sk = i_item_sk
        AND i_manager_id = 1
        AND time_sk = t_time_sk
        AND (t_meal_time = 'breakfast' OR t_meal_time = 'dinner')
      GROUP BY i_brand, i_brand_id, t_hour, t_minute
      ORDER BY ext_price DESC NULLS FIRST, i_brand_id NULLS FIRST,
               t_hour NULLS FIRST, t_minute NULLS FIRST""",

    // Q76: sales with a NULL channel key, by channel/quarter/category.
    "tpcds_q76" -> s"""
      SELECT channel, col_name, d_year, d_qoy, i_category,
             COUNT(*) AS sales_cnt,
             ${sumd(dmoney("ext_sales_price"))} AS sales_amt
      FROM
        (SELECT 'store' AS channel, 'ss_store_sk' AS col_name,
                d_year, d_qoy, i_category,
                ss_ext_sales_price AS ext_sales_price
         FROM store_sales, item, date_dim
         WHERE ss_store_sk IS NULL
           AND ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         UNION ALL
         SELECT 'web' AS channel, 'ws_ship_customer_sk' AS col_name,
                d_year, d_qoy, i_category,
                ws_ext_sales_price AS ext_sales_price
         FROM web_sales, item, date_dim
         WHERE ws_ship_customer_sk IS NULL
           AND ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
         UNION ALL
         SELECT 'catalog' AS channel, 'cs_ship_addr_sk' AS col_name,
                d_year, d_qoy, i_category,
                cs_ext_sales_price AS ext_sales_price
         FROM catalog_sales, item, date_dim
         WHERE cs_ship_addr_sk IS NULL
           AND cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk) foo
      GROUP BY channel, col_name, d_year, d_qoy, i_category
      ORDER BY channel, col_name, d_year, d_qoy, i_category
      LIMIT 100""",

    // Q84: customers in an income band returning at a city (ref city
    // 'Edgewood' -> fixture 'Fairview'; band bounds in the synthesized
    // 10k-wide bands).
    "tpcds_q84" -> """
      SELECT c_customer_id AS customer_id,
             CONCAT(CONCAT(COALESCE(c_last_name, ''), ', '),
                    COALESCE(c_first_name, '')) AS customername
      FROM customer, customer_address, customer_demographics,
           household_demographics, income_band, store_returns
      WHERE ca_city = 'Fairview'
        AND c_current_addr_sk = ca_address_sk
        AND ib_lower_bound >= 38128
        AND ib_upper_bound <= 38128 + 50000
        AND ib_income_band_sk = hd_income_band_sk
        AND cd_demo_sk = c_current_cdemo_sk
        AND hd_demo_sk = c_current_hdemo_sk
        AND sr_cdemo_sk = cd_demo_sk
      ORDER BY c_customer_id NULLS FIRST, customername
      LIMIT 100""",

    // Q93: actual sales net of returns for one return reason (left outer
    // ticket join; ref reason text adapted).
    "tpcds_q93" -> s"""
      SELECT ss_customer_sk,
             ${sumd(dmoney("act_sales"))} AS sumsales
      FROM
        (SELECT ss_item_sk, ss_ticket_number, ss_customer_sk,
                CASE WHEN sr_return_quantity IS NOT NULL
                     THEN (ss_quantity - sr_return_quantity) * ss_sales_price
                     ELSE (ss_quantity * ss_sales_price) END AS act_sales
         FROM store_sales
         LEFT OUTER JOIN store_returns
           ON (sr_item_sk = ss_item_sk
               AND sr_ticket_number = ss_ticket_number), reason
         WHERE sr_reason_sk = r_reason_sk
           AND r_reason_desc = 'reason 3') t
      GROUP BY ss_customer_sk
      ORDER BY sumsales NULLS FIRST, ss_customer_sk NULLS FIRST
      LIMIT 100""",

    // Q12: web item revenue + share of class revenue over a 30-day window
    // (web twin of q98; nested window sum in two decimal-exact layers).
    "tpcds_q12" -> s"""
      SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
             itemrevenue,
             itemrevenue * 100.0 /
               CAST(SUM(CAST(itemrevenue AS DECIMAL(24,4))) OVER
                      (PARTITION BY i_class) AS DOUBLE) AS revenueratio
      FROM
        (SELECT i_item_id, i_item_desc, i_category, i_class,
                i_current_price,
                ${sumd(dmoney("ws_ext_sales_price"))} AS itemrevenue
         FROM web_sales, item, date_dim
         WHERE ws_item_sk = i_item_sk
           AND i_category IN ('Sports', 'Books', 'Home')
           AND ws_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                          AND CAST('1999-03-24' AS DATE)
         GROUP BY i_item_id, i_item_desc, i_category, i_class,
                  i_current_price) base
      ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio
      LIMIT 100""",

    // Q20: catalog twin of q12.
    "tpcds_q20" -> s"""
      SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
             itemrevenue,
             itemrevenue * 100.0 /
               CAST(SUM(CAST(itemrevenue AS DECIMAL(24,4))) OVER
                      (PARTITION BY i_class) AS DOUBLE) AS revenueratio
      FROM
        (SELECT i_item_id, i_item_desc, i_category, i_class,
                i_current_price,
                ${sumd(dmoney("cs_ext_sales_price"))} AS itemrevenue
         FROM catalog_sales, item, date_dim
         WHERE cs_item_sk = i_item_sk
           AND i_category IN ('Sports', 'Books', 'Home')
           AND cs_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                          AND CAST('1999-03-24' AS DATE)
         GROUP BY i_item_id, i_item_desc, i_category, i_class,
                  i_current_price) base
      ORDER BY i_category NULLS FIRST, i_class NULLS FIRST,
               i_item_id NULLS FIRST, i_item_desc NULLS FIRST,
               revenueratio NULLS FIRST
      LIMIT 100""",

    // Q32: catalog discounts exceeding 1.3x the item's average (correlated
    // scalar avg as exact-sum/count; ref manufact 977 -> 3).
    "tpcds_q32" -> s"""
      SELECT ${sumd(dmoney("cs_ext_discount_amt"))} AS excess_discount_amt
      FROM catalog_sales, item, date_dim
      WHERE i_manufact_id = 3
        AND i_item_sk = cs_item_sk
        AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
        AND d_date_sk = cs_sold_date_sk
        AND cs_ext_discount_amt >
          (SELECT 1.3 * (${sumd(dmoney("cs_ext_discount_amt"))} / COUNT(*))
           FROM catalog_sales, date_dim
           WHERE cs_item_sk = i_item_sk
             AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
             AND d_date_sk = cs_sold_date_sk)
      LIMIT 100""",

    // Q92: web twin of q32 (ref manufact 350 -> 2).
    "tpcds_q92" -> s"""
      SELECT ${sumd(dmoney("ws_ext_discount_amt"))} AS excess_discount_amt
      FROM web_sales, item, date_dim
      WHERE i_manufact_id = 2
        AND i_item_sk = ws_item_sk
        AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
        AND d_date_sk = ws_sold_date_sk
        AND ws_ext_discount_amt >
          (SELECT 1.3 * (${sumd(dmoney("ws_ext_discount_amt"))} / COUNT(*))
           FROM web_sales, date_dim
           WHERE ws_item_sk = i_item_sk
             AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
             AND d_date_sk = ws_sold_date_sk)
      ORDER BY excess_discount_amt
      LIMIT 100""",

    // Q55: brand revenue for a manager/month (ref manager 28 -> 18).
    "tpcds_q55" -> s"""
      SELECT i_brand_id AS brand_id, i_brand AS brand,
             ${sumd(dmoney("ss_ext_sales_price"))} AS ext_price
      FROM date_dim, store_sales, item
      WHERE d_date_sk = ss_sold_date_sk
        AND ss_item_sk = i_item_sk
        AND i_manager_id = 18
        AND d_moy = 11 AND d_year = 1999
      GROUP BY i_brand, i_brand_id
      ORDER BY ext_price DESC, brand_id
      LIMIT 100""",

    // Q4: customers whose catalog year-over-year growth beats both store
    // and web growth (6-way self-join of a 3-channel year_total CTE; the
    // reference's own slt marks this "stack overflow" — executed here).
    // Ref years 2001/2002 -> 2000/2001 (fixture calendar ends 2001).
    "tpcds_q04" -> s"""
      WITH year_total AS
        (SELECT c_customer_id customer_id, c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login, c_email_address customer_email_address,
                d_year dyear,
                ${sumd(s"(${dmoney("ss_ext_list_price")} - ${dmoney("ss_ext_wholesale_cost")} - ${dmoney("ss_ext_discount_amt")} + ${dmoney("ss_ext_sales_price")})")} / 2
                  AS year_total,
                's' sale_type
         FROM customer, store_sales, date_dim
         WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name,
                  c_preferred_cust_flag, c_birth_country, c_login,
                  c_email_address, d_year
         UNION ALL
         SELECT c_customer_id customer_id, c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login, c_email_address customer_email_address,
                d_year dyear,
                ${sumd(s"(${dmoney("cs_ext_list_price")} - ${dmoney("cs_ext_wholesale_cost")} - ${dmoney("cs_ext_discount_amt")} + ${dmoney("cs_ext_sales_price")})")} / 2
                  AS year_total,
                'c' sale_type
         FROM customer, catalog_sales, date_dim
         WHERE c_customer_sk = cs_bill_customer_sk
           AND cs_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name,
                  c_preferred_cust_flag, c_birth_country, c_login,
                  c_email_address, d_year
         UNION ALL
         SELECT c_customer_id customer_id, c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login, c_email_address customer_email_address,
                d_year dyear,
                ${sumd(s"(${dmoney("ws_ext_list_price")} - ${dmoney("ws_ext_wholesale_cost")} - ${dmoney("ws_ext_discount_amt")} + ${dmoney("ws_ext_sales_price")})")} / 2
                  AS year_total,
                'w' sale_type
         FROM customer, web_sales, date_dim
         WHERE c_customer_sk = ws_bill_customer_sk
           AND ws_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name,
                  c_preferred_cust_flag, c_birth_country, c_login,
                  c_email_address, d_year)
      SELECT t_s_secyear.customer_id AS customer_id,
             t_s_secyear.customer_first_name AS customer_first_name,
             t_s_secyear.customer_last_name AS customer_last_name,
             t_s_secyear.customer_preferred_cust_flag
               AS customer_preferred_cust_flag
      FROM year_total t_s_firstyear, year_total t_s_secyear,
           year_total t_c_firstyear, year_total t_c_secyear,
           year_total t_w_firstyear, year_total t_w_secyear
      WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
        AND t_s_firstyear.customer_id = t_c_secyear.customer_id
        AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
        AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
        AND t_s_firstyear.customer_id = t_w_secyear.customer_id
        AND t_s_firstyear.sale_type = 's' AND t_c_firstyear.sale_type = 'c'
        AND t_w_firstyear.sale_type = 'w' AND t_s_secyear.sale_type = 's'
        AND t_c_secyear.sale_type = 'c' AND t_w_secyear.sale_type = 'w'
        AND t_s_firstyear.dyear = 2000 AND t_s_secyear.dyear = 2000 + 1
        AND t_c_firstyear.dyear = 2000 AND t_c_secyear.dyear = 2000 + 1
        AND t_w_firstyear.dyear = 2000 AND t_w_secyear.dyear = 2000 + 1
        AND t_s_firstyear.year_total > 0
        AND t_c_firstyear.year_total > 0
        AND t_w_firstyear.year_total > 0
        AND CASE WHEN t_c_firstyear.year_total > 0
              THEN t_c_secyear.year_total / t_c_firstyear.year_total
              ELSE NULL END >
            CASE WHEN t_s_firstyear.year_total > 0
              THEN t_s_secyear.year_total / t_s_firstyear.year_total
              ELSE NULL END
        AND CASE WHEN t_c_firstyear.year_total > 0
              THEN t_c_secyear.year_total / t_c_firstyear.year_total
              ELSE NULL END >
            CASE WHEN t_w_firstyear.year_total > 0
              THEN t_w_secyear.year_total / t_w_firstyear.year_total
              ELSE NULL END
      ORDER BY t_s_secyear.customer_id NULLS FIRST,
               t_s_secyear.customer_first_name NULLS FIRST,
               t_s_secyear.customer_last_name NULLS FIRST,
               t_s_secyear.customer_preferred_cust_flag NULLS FIRST
      LIMIT 100""",

    // Q11: store/web twin of q4 (ELSE 0.0 instead of NULL, list - discount
    // year_total). Ref "stack overflow"; years 2001/2002 -> 2000/2001.
    "tpcds_q11" -> s"""
      WITH year_total AS
        (SELECT c_customer_id customer_id, c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login, c_email_address customer_email_address,
                d_year dyear,
                ${sumd(s"(${dmoney("ss_ext_list_price")} - ${dmoney("ss_ext_discount_amt")})")}
                  AS year_total,
                's' sale_type
         FROM customer, store_sales, date_dim
         WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name,
                  c_preferred_cust_flag, c_birth_country, c_login,
                  c_email_address, d_year
         UNION ALL
         SELECT c_customer_id customer_id, c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login, c_email_address customer_email_address,
                d_year dyear,
                ${sumd(s"(${dmoney("ws_ext_list_price")} - ${dmoney("ws_ext_discount_amt")})")}
                  AS year_total,
                'w' sale_type
         FROM customer, web_sales, date_dim
         WHERE c_customer_sk = ws_bill_customer_sk
           AND ws_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name,
                  c_preferred_cust_flag, c_birth_country, c_login,
                  c_email_address, d_year)
      SELECT t_s_secyear.customer_id AS customer_id,
             t_s_secyear.customer_first_name AS customer_first_name,
             t_s_secyear.customer_last_name AS customer_last_name,
             t_s_secyear.customer_preferred_cust_flag
               AS customer_preferred_cust_flag
      FROM year_total t_s_firstyear, year_total t_s_secyear,
           year_total t_w_firstyear, year_total t_w_secyear
      WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
        AND t_s_firstyear.customer_id = t_w_secyear.customer_id
        AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
        AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
        AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
        AND t_s_firstyear.dyear = 2000 AND t_s_secyear.dyear = 2000 + 1
        AND t_w_firstyear.dyear = 2000 AND t_w_secyear.dyear = 2000 + 1
        AND t_s_firstyear.year_total > 0
        AND t_w_firstyear.year_total > 0
        AND CASE WHEN t_w_firstyear.year_total > 0
              THEN (t_w_secyear.year_total * 1.0000) / t_w_firstyear.year_total
              ELSE 0.0 END >
            CASE WHEN t_s_firstyear.year_total > 0
              THEN (t_s_secyear.year_total * 1.0000) / t_s_firstyear.year_total
              ELSE 0.0 END
      ORDER BY t_s_secyear.customer_id NULLS FIRST,
               t_s_secyear.customer_first_name NULLS FIRST,
               t_s_secyear.customer_last_name NULLS FIRST,
               t_s_secyear.customer_preferred_cust_flag NULLS FIRST
      LIMIT 100""",

    // Q14: cross-channel items (3-way INTERSECT) vs average sales, ROLLUP
    // over channel/brand/class/category. Ref "Times out"; ref years
    // 1999..1999+2 fit the fixture calendar unchanged.
    "tpcds_q14" -> s"""
      WITH cross_items AS
        (SELECT i_item_sk ss_item_sk
         FROM item,
           (SELECT iss.i_brand_id brand_id, iss.i_class_id class_id,
                   iss.i_category_id category_id
            FROM store_sales, item iss, date_dim d1
            WHERE ss_item_sk = iss.i_item_sk
              AND ss_sold_date_sk = d1.d_date_sk
              AND d1.d_year BETWEEN 1999 AND 1999 + 2
            INTERSECT
            SELECT ics.i_brand_id, ics.i_class_id, ics.i_category_id
            FROM catalog_sales, item ics, date_dim d2
            WHERE cs_item_sk = ics.i_item_sk
              AND cs_sold_date_sk = d2.d_date_sk
              AND d2.d_year BETWEEN 1999 AND 1999 + 2
            INTERSECT
            SELECT iws.i_brand_id, iws.i_class_id, iws.i_category_id
            FROM web_sales, item iws, date_dim d3
            WHERE ws_item_sk = iws.i_item_sk
              AND ws_sold_date_sk = d3.d_date_sk
              AND d3.d_year BETWEEN 1999 AND 1999 + 2) sq1
         WHERE i_brand_id = brand_id AND i_class_id = class_id
           AND i_category_id = category_id),
      avg_sales AS
        (SELECT ${sql.sumd(s"quantity * ${dmoney("list_price")}")} / COUNT(*)
                  AS average_sales
         FROM
           (SELECT ss_quantity quantity, ss_list_price list_price
            FROM store_sales, date_dim
            WHERE ss_sold_date_sk = d_date_sk
              AND d_year BETWEEN 1999 AND 1999 + 2
            UNION ALL
            SELECT cs_quantity quantity, cs_list_price list_price
            FROM catalog_sales, date_dim
            WHERE cs_sold_date_sk = d_date_sk
              AND d_year BETWEEN 1999 AND 1999 + 2
            UNION ALL
            SELECT ws_quantity quantity, ws_list_price list_price
            FROM web_sales, date_dim
            WHERE ws_sold_date_sk = d_date_sk
              AND d_year BETWEEN 1999 AND 1999 + 2) sq2)
      SELECT channel, i_brand_id, i_class_id, i_category_id,
             ${sql.sumd("CAST(sales AS DECIMAL(24,4))")} AS sum_sales,
             CAST(SUM(number_sales) AS BIGINT) AS sum_number_sales
      FROM
        (SELECT 'store' channel, i_brand_id, i_class_id, i_category_id,
                ${sql.sumd(s"ss_quantity * ${dmoney("ss_list_price")}")} sales,
                count(*) number_sales
         FROM store_sales, item, date_dim
         WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
           AND ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
           AND d_year = 1999 + 2 AND d_moy = 11
         GROUP BY i_brand_id, i_class_id, i_category_id
         HAVING ${sql.sumd(s"ss_quantity * ${dmoney("ss_list_price")}")} >
           (SELECT average_sales FROM avg_sales)
         UNION ALL
         SELECT 'catalog' channel, i_brand_id, i_class_id, i_category_id,
                ${sql.sumd(s"cs_quantity * ${dmoney("cs_list_price")}")} sales,
                count(*) number_sales
         FROM catalog_sales, item, date_dim
         WHERE cs_item_sk IN (SELECT ss_item_sk FROM cross_items)
           AND cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
           AND d_year = 1999 + 2 AND d_moy = 11
         GROUP BY i_brand_id, i_class_id, i_category_id
         HAVING ${sql.sumd(s"cs_quantity * ${dmoney("cs_list_price")}")} >
           (SELECT average_sales FROM avg_sales)
         UNION ALL
         SELECT 'web' channel, i_brand_id, i_class_id, i_category_id,
                ${sql.sumd(s"ws_quantity * ${dmoney("ws_list_price")}")} sales,
                count(*) number_sales
         FROM web_sales, item, date_dim
         WHERE ws_item_sk IN (SELECT ss_item_sk FROM cross_items)
           AND ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
           AND d_year = 1999 + 2 AND d_moy = 11
         GROUP BY i_brand_id, i_class_id, i_category_id
         HAVING ${sql.sumd(s"ws_quantity * ${dmoney("ws_list_price")}")} >
           (SELECT average_sales FROM avg_sales)) y
      GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
      ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST,
               i_class_id NULLS FIRST, i_category_id NULLS FIRST
      LIMIT 100""",

    // Q23: catalog/web sales in one month by best store customers buying
    // frequent items (multi-part CTE chain). Ref "Times out"; ref years
    // 2000..2003 -> 1998..2001, final month stays (2000, 2).
    "tpcds_q23" -> s"""
      WITH frequent_ss_items AS
        (SELECT itemdesc, i_item_sk item_sk, d_date solddate, count(*) cnt
         FROM store_sales, date_dim,
           (SELECT SUBSTRING(i_item_desc, 1, 30) itemdesc, * FROM item) sq1
         WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
           AND d_year IN (1998, 1998 + 1, 1998 + 2, 1998 + 3)
         GROUP BY itemdesc, i_item_sk, d_date
         -- ref count > 4: fixture item-days hold 1-2 sales, not dbgen's 5+
         HAVING count(*) > 1),
      max_store_sales AS
        (SELECT max(csales) tpcds_cmax
         FROM
           (SELECT c_customer_sk,
                   ${sql.sumd(s"ss_quantity * ${dmoney("ss_sales_price")}")} csales
            FROM store_sales, customer, date_dim
            WHERE ss_customer_sk = c_customer_sk
              AND ss_sold_date_sk = d_date_sk
              AND d_year IN (1998, 1998 + 1, 1998 + 2, 1998 + 3)
            GROUP BY c_customer_sk) sq2),
      best_ss_customer AS
        (SELECT c_customer_sk,
                ${sql.sumd(s"ss_quantity * ${dmoney("ss_sales_price")}")} ssales
         FROM store_sales, customer, max_store_sales
         WHERE ss_customer_sk = c_customer_sk
         GROUP BY c_customer_sk
         HAVING ${sql.sumd(s"ss_quantity * ${dmoney("ss_sales_price")}")} >
           (50 / 100.0) * max(tpcds_cmax))
      SELECT c_last_name, c_first_name, sales
      FROM
        (SELECT c_last_name, c_first_name,
                ${sql.sumd(s"cs_quantity * ${dmoney("cs_list_price")}")} sales
         FROM catalog_sales, customer, date_dim, frequent_ss_items,
              best_ss_customer
         WHERE d_year = 2000 AND d_moy = 2
           AND cs_sold_date_sk = d_date_sk AND cs_item_sk = item_sk
           AND cs_bill_customer_sk = best_ss_customer.c_customer_sk
           AND cs_bill_customer_sk = customer.c_customer_sk
         GROUP BY c_last_name, c_first_name
         UNION ALL
         SELECT c_last_name, c_first_name,
                ${sql.sumd(s"ws_quantity * ${dmoney("ws_list_price")}")} sales
         FROM web_sales, customer, date_dim, frequent_ss_items,
              best_ss_customer
         WHERE d_year = 2000 AND d_moy = 2
           AND ws_sold_date_sk = d_date_sk AND ws_item_sk = item_sk
           AND ws_bill_customer_sk = best_ss_customer.c_customer_sk
           AND ws_bill_customer_sk = customer.c_customer_sk
         GROUP BY c_last_name, c_first_name) sq3
      ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
               sales NULLS FIRST
      LIMIT 100""",

    // Q51: web vs store cumulative daily sales per item (windowed running
    // sums over a FULL OUTER join). Ref d_month_seq 1200..1211 -> the
    // fixture's year-2000 month_seq band 120..131.
    "tpcds_q51" -> s"""
      WITH web_v1 AS
        (SELECT ws_item_sk item_sk, d_date,
                CAST(SUM(CAST(${sumd(dmoney("ws_sales_price"))}
                         AS DECIMAL(24,4)))
                     OVER (PARTITION BY ws_item_sk ORDER BY d_date
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) cume_sales
         FROM web_sales, date_dim
         WHERE ws_sold_date_sk = d_date_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11
           AND ws_item_sk IS NOT NULL
         GROUP BY ws_item_sk, d_date),
      store_v1 AS
        (SELECT ss_item_sk item_sk, d_date,
                CAST(SUM(CAST(${sumd(dmoney("ss_sales_price"))}
                         AS DECIMAL(24,4)))
                     OVER (PARTITION BY ss_item_sk ORDER BY d_date
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) cume_sales
         FROM store_sales, date_dim
         WHERE ss_sold_date_sk = d_date_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11
           AND ss_item_sk IS NOT NULL
         GROUP BY ss_item_sk, d_date)
      SELECT item_sk, d_date, web_sales, store_sales,
             web_cumulative, store_cumulative
      FROM
        (SELECT item_sk, d_date, web_sales, store_sales,
                max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  web_cumulative,
                max(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  store_cumulative
         FROM
           (SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
                        ELSE store.item_sk END item_sk,
                   CASE WHEN web.d_date IS NOT NULL THEN web.d_date
                        ELSE store.d_date END d_date,
                   web.cume_sales web_sales,
                   store.cume_sales store_sales
            FROM web_v1 web
            FULL OUTER JOIN store_v1 store
              ON (web.item_sk = store.item_sk
                  AND web.d_date = store.d_date)) x) y
      WHERE web_cumulative > store_cumulative
      ORDER BY item_sk NULLS FIRST, d_date NULLS FIRST
      LIMIT 100""",

    // Q64: the giant 2-pass cross_sales self-join (18-table join over both
    // returns channels, income bands, double demographics). Ref years
    // 1999/2000 unchanged; i_color/i_current_price adapted to the fixture
    // item vocabulary (colors are 12 paint names, prices 0.99..99.99).
    "tpcds_q64" -> s"""
      WITH cs_ui AS
        (SELECT cs_item_sk,
                ${sumd(dmoney("cs_ext_list_price"))} AS sale,
                ${sql.sumd(s"(${dmoney("cr_refunded_cash")} + ${dmoney("cr_reversed_charge")} + ${dmoney("cr_store_credit")})")} AS refund
         FROM catalog_sales, catalog_returns
         WHERE cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
         GROUP BY cs_item_sk
         HAVING ${sumd(dmoney("cs_ext_list_price"))} >
           2 * ${sql.sumd(s"(${dmoney("cr_refunded_cash")} + ${dmoney("cr_reversed_charge")} + ${dmoney("cr_store_credit")})")}),
      cross_sales AS
        (SELECT i_product_name product_name, i_item_sk item_sk,
                s_store_name store_name, s_zip store_zip,
                ad1.ca_street_number b_street_number,
                ad1.ca_street_name b_street_name,
                ad1.ca_city b_city, ad1.ca_zip b_zip,
                ad2.ca_street_number c_street_number,
                ad2.ca_street_name c_street_name,
                ad2.ca_city c_city, ad2.ca_zip c_zip,
                d1.d_year AS syear, d2.d_year AS fsyear, d3.d_year s2year,
                count(*) cnt,
                ${sumd(dmoney("ss_wholesale_cost"))} s1,
                ${sumd(dmoney("ss_list_price"))} s2,
                ${sumd(dmoney("ss_coupon_amt"))} s3
         FROM store_sales, store_returns, cs_ui,
              date_dim d1, date_dim d2, date_dim d3,
              store, customer, customer_demographics cd1,
              customer_demographics cd2, promotion,
              household_demographics hd1, household_demographics hd2,
              customer_address ad1, customer_address ad2,
              income_band ib1, income_band ib2, item
         WHERE ss_store_sk = s_store_sk
           AND ss_sold_date_sk = d1.d_date_sk
           AND ss_customer_sk = c_customer_sk
           AND ss_cdemo_sk = cd1.cd_demo_sk
           AND ss_hdemo_sk = hd1.hd_demo_sk
           AND ss_addr_sk = ad1.ca_address_sk
           AND ss_item_sk = i_item_sk
           AND ss_item_sk = sr_item_sk
           AND ss_ticket_number = sr_ticket_number
           AND ss_item_sk = cs_ui.cs_item_sk
           AND c_current_cdemo_sk = cd2.cd_demo_sk
           AND c_current_hdemo_sk = hd2.hd_demo_sk
           AND c_current_addr_sk = ad2.ca_address_sk
           AND c_first_sales_date_sk = d2.d_date_sk
           AND c_first_shipto_date_sk = d3.d_date_sk
           AND ss_promo_sk = p_promo_sk
           AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
           AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
           AND cd1.cd_marital_status <> cd2.cd_marital_status
           AND i_color IN ('azure', 'coral', 'khaki',
                           'maroon', 'peach', 'plum')
           AND i_current_price BETWEEN 64 AND 64 + 10
           AND i_current_price BETWEEN 64 + 1 AND 64 + 15
         GROUP BY i_product_name, i_item_sk, s_store_name, s_zip,
                  ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city,
                  ad1.ca_zip, ad2.ca_street_number, ad2.ca_street_name,
                  ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year)
      SELECT cs1.product_name AS product_name, cs1.store_name AS store_name,
             cs1.store_zip AS store_zip,
             cs1.b_street_number AS b_street_number,
             cs1.b_street_name AS b_street_name,
             cs1.b_city AS b_city, cs1.b_zip AS b_zip,
             cs1.c_street_number AS c_street_number,
             cs1.c_street_name AS c_street_name,
             cs1.c_city AS c_city, cs1.c_zip AS c_zip,
             cs1.syear cs1syear, cs1.cnt cs1cnt,
             cs1.s1 AS s11, cs1.s2 AS s21, cs1.s3 AS s31,
             cs2.s1 AS s12, cs2.s2 AS s22, cs2.s3 AS s32,
             cs2.syear AS syear, cs2.cnt AS cnt
      FROM cross_sales cs1, cross_sales cs2
      WHERE cs1.item_sk = cs2.item_sk
        AND cs1.syear = 1999 AND cs2.syear = 1999 + 1
        AND cs2.cnt <= cs1.cnt
        AND cs1.store_name = cs2.store_name
        AND cs1.store_zip = cs2.store_zip
      ORDER BY cs1.product_name, cs1.store_name, cs2.cnt,
               cs1.s1, cs2.s1""",

    // Q78: per-customer-item store quantities vs the unreturned other
    // channels (three LEFT JOIN anti-return aggregates). Ref year 2000
    // unchanged; ratio kept decimal until the final 2dp round.
    "tpcds_q78" -> s"""
      WITH ws AS
        (SELECT d_year AS ws_sold_year, ws_item_sk,
                ws_bill_customer_sk ws_customer_sk,
                CAST(sum(ws_quantity) AS BIGINT) ws_qty,
                ${sumd(dmoney("ws_wholesale_cost"))} ws_wc,
                ${sumd(dmoney("ws_sales_price"))} ws_sp
         FROM web_sales
         LEFT JOIN web_returns ON wr_order_number = ws_order_number
           AND ws_item_sk = wr_item_sk
         JOIN date_dim ON ws_sold_date_sk = d_date_sk
         WHERE wr_order_number IS NULL
         GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
      cs AS
        (SELECT d_year AS cs_sold_year, cs_item_sk,
                cs_bill_customer_sk cs_customer_sk,
                CAST(sum(cs_quantity) AS BIGINT) cs_qty,
                ${sumd(dmoney("cs_wholesale_cost"))} cs_wc,
                ${sumd(dmoney("cs_sales_price"))} cs_sp
         FROM catalog_sales
         LEFT JOIN catalog_returns ON cr_order_number = cs_order_number
           AND cs_item_sk = cr_item_sk
         JOIN date_dim ON cs_sold_date_sk = d_date_sk
         WHERE cr_order_number IS NULL
         GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
      ss AS
        (SELECT d_year AS ss_sold_year, ss_item_sk, ss_customer_sk,
                CAST(sum(ss_quantity) AS BIGINT) ss_qty,
                ${sumd(dmoney("ss_wholesale_cost"))} ss_wc,
                ${sumd(dmoney("ss_sales_price"))} ss_sp
         FROM store_sales
         LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number
           AND ss_item_sk = sr_item_sk
         JOIN date_dim ON ss_sold_date_sk = d_date_sk
         WHERE sr_ticket_number IS NULL
         GROUP BY d_year, ss_item_sk, ss_customer_sk)
      SELECT ss_sold_year, ss_item_sk, ss_customer_sk,
             CAST(ROUND(CAST(ss_qty AS DOUBLE) /
                        (coalesce(ws_qty, 0) + coalesce(cs_qty, 0)), 2)
                  AS DOUBLE) ratio,
             ss_qty store_qty, ss_wc store_wholesale_cost,
             ss_sp store_sales_price,
             coalesce(ws_qty, 0) + coalesce(cs_qty, 0) other_chan_qty,
             CAST(ROUND(CAST(coalesce(ws_wc, 0) AS DECIMAL(24,4))
                        + CAST(coalesce(cs_wc, 0) AS DECIMAL(24,4)), 4)
                  AS DOUBLE) other_chan_wholesale_cost,
             CAST(ROUND(CAST(coalesce(ws_sp, 0) AS DECIMAL(24,4))
                        + CAST(coalesce(cs_sp, 0) AS DECIMAL(24,4)), 4)
                  AS DOUBLE) other_chan_sales_price
      FROM ss
      LEFT JOIN ws ON (ws_sold_year = ss_sold_year
                       AND ws_item_sk = ss_item_sk
                       AND ws_customer_sk = ss_customer_sk)
      LEFT JOIN cs ON (cs_sold_year = ss_sold_year
                       AND cs_item_sk = ss_item_sk
                       AND cs_customer_sk = ss_customer_sk)
      WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0)
        AND ss_sold_year = 2000
      ORDER BY ss_sold_year, ss_item_sk, ss_customer_sk, ss_qty DESC,
               ss_wc DESC, ss_sp DESC, other_chan_qty,
               other_chan_wholesale_cost, other_chan_sales_price, ratio
      LIMIT 100""",

    // Q88: store traffic in eight half-hour buckets (8 cross-joined
    // count subqueries — the 32-scalar-subquery pivot shape). Ref store
    // name 'ese' -> the fixture's 'Store_5'.
    "tpcds_q88" -> s"""
      SELECT h8_30_to_9, h9_to_9_30, h9_30_to_10, h10_to_10_30,
             h10_30_to_11, h11_to_11_30, h11_30_to_12, h12_to_12_30
      FROM
        (SELECT count(*) h8_30_to_9
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 8 AND time_dim.t_minute >= 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s1,
        (SELECT count(*) h9_to_9_30
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 9 AND time_dim.t_minute < 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s2,
        (SELECT count(*) h9_30_to_10
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 9 AND time_dim.t_minute >= 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s3,
        (SELECT count(*) h10_to_10_30
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 10 AND time_dim.t_minute < 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s4,
        (SELECT count(*) h10_30_to_11
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 10 AND time_dim.t_minute >= 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s5,
        (SELECT count(*) h11_to_11_30
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 11 AND time_dim.t_minute < 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s6,
        (SELECT count(*) h11_30_to_12
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 11 AND time_dim.t_minute >= 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s7,
        (SELECT count(*) h12_to_12_30
         FROM store_sales, household_demographics, time_dim, store
         WHERE ss_sold_time_sk = time_dim.t_time_sk
           AND ss_hdemo_sk = household_demographics.hd_demo_sk
           AND ss_store_sk = s_store_sk
           AND time_dim.t_hour = 12 AND time_dim.t_minute < 30
           AND ((household_demographics.hd_dep_count = 4
                 AND household_demographics.hd_vehicle_count <= 4 + 2)
                OR (household_demographics.hd_dep_count = 2
                    AND household_demographics.hd_vehicle_count <= 2 + 2)
                OR (household_demographics.hd_dep_count = 0
                    AND household_demographics.hd_vehicle_count <= 0 + 2))
           AND store.s_store_name = 'Store_5') s8""",

    // Q2: catalog+web weekday sales, week-over-week ratio one year apart
    // (53-week offset). Ref years 2001/2002 -> 2000/2001.
    "tpcds_q02" -> s"""
      WITH wscs AS
        (SELECT sold_date_sk, sales_price
         FROM
           (SELECT ws_sold_date_sk sold_date_sk,
                   ws_ext_sales_price sales_price
            FROM web_sales
            UNION ALL
            SELECT cs_sold_date_sk sold_date_sk,
                   cs_ext_sales_price sales_price
            FROM catalog_sales) sq1),
      wswscs AS
        (SELECT d_week_seq,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Sunday') THEN ${dmoney("sales_price")} ELSE NULL END")} sun_sales,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Monday') THEN ${dmoney("sales_price")} ELSE NULL END")} mon_sales,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Tuesday') THEN ${dmoney("sales_price")} ELSE NULL END")} tue_sales,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Wednesday') THEN ${dmoney("sales_price")} ELSE NULL END")} wed_sales,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Thursday') THEN ${dmoney("sales_price")} ELSE NULL END")} thu_sales,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Friday') THEN ${dmoney("sales_price")} ELSE NULL END")} fri_sales,
                ${sql.sumd(s"CASE WHEN (d_day_name = 'Saturday') THEN ${dmoney("sales_price")} ELSE NULL END")} sat_sales
         FROM wscs, date_dim
         WHERE d_date_sk = sold_date_sk
         GROUP BY d_week_seq)
      SELECT d_week_seq1,
             CAST(ROUND(sun_sales1 / sun_sales2, 2) AS DOUBLE) r1,
             CAST(ROUND(mon_sales1 / mon_sales2, 2) AS DOUBLE) r2,
             CAST(ROUND(tue_sales1 / tue_sales2, 2) AS DOUBLE) r3,
             CAST(ROUND(wed_sales1 / wed_sales2, 2) AS DOUBLE) r4,
             CAST(ROUND(thu_sales1 / thu_sales2, 2) AS DOUBLE) r5,
             CAST(ROUND(fri_sales1 / fri_sales2, 2) AS DOUBLE) r6,
             CAST(ROUND(sat_sales1 / sat_sales2, 2) AS DOUBLE) r7
      FROM
        (SELECT wswscs.d_week_seq d_week_seq1, sun_sales sun_sales1,
                mon_sales mon_sales1, tue_sales tue_sales1,
                wed_sales wed_sales1, thu_sales thu_sales1,
                fri_sales fri_sales1, sat_sales sat_sales1
         FROM wswscs, date_dim
         WHERE date_dim.d_week_seq = wswscs.d_week_seq
           AND d_year = 2000) y,
        (SELECT wswscs.d_week_seq d_week_seq2, sun_sales sun_sales2,
                mon_sales mon_sales2, tue_sales tue_sales2,
                wed_sales wed_sales2, thu_sales thu_sales2,
                fri_sales fri_sales2, sat_sales sat_sales2
         FROM wswscs, date_dim
         WHERE date_dim.d_week_seq = wswscs.d_week_seq
           AND d_year = 2000 + 1) z
      WHERE d_week_seq1 = d_week_seq2 - 53
      ORDER BY d_week_seq1 NULLS FIRST""",

    // Q10: county demographics of active multi-channel customers
    // (EXISTS over three channels). Ref counties/year -> fixture
    // vocabulary, 2002 -> 2000.
    "tpcds_q10" -> s"""
      SELECT cd_gender, cd_marital_status, cd_education_status,
             count(*) cnt1, cd_purchase_estimate, count(*) cnt2,
             cd_credit_rating, count(*) cnt3, cd_dep_count, count(*) cnt4,
             cd_dep_employed_count, count(*) cnt5, cd_dep_college_count,
             count(*) cnt6
      FROM customer c, customer_address ca, customer_demographics
      WHERE c.c_current_addr_sk = ca.ca_address_sk
        AND ca_county IN ('Williamson County', 'Walker County',
                          'Ziebach County', 'Luce County',
                          'Richland County')
        AND cd_demo_sk = c.c_current_cdemo_sk
        AND EXISTS
          (SELECT * FROM store_sales, date_dim
           WHERE c.c_customer_sk = ss_customer_sk
             AND ss_sold_date_sk = d_date_sk
             AND d_year = 2000 AND d_moy BETWEEN 1 AND 1 + 3)
        AND (EXISTS
               (SELECT * FROM web_sales, date_dim
                WHERE c.c_customer_sk = ws_bill_customer_sk
                  AND ws_sold_date_sk = d_date_sk
                  AND d_year = 2000 AND d_moy BETWEEN 1 AND 1 + 3)
             OR EXISTS
               (SELECT * FROM catalog_sales, date_dim
                WHERE c.c_customer_sk = cs_ship_customer_sk
                  AND cs_sold_date_sk = d_date_sk
                  AND d_year = 2000 AND d_moy BETWEEN 1 AND 1 + 3))
      GROUP BY cd_gender, cd_marital_status, cd_education_status,
               cd_purchase_estimate, cd_credit_rating, cd_dep_count,
               cd_dep_employed_count, cd_dep_college_count
      ORDER BY cd_gender NULLS FIRST, cd_marital_status NULLS FIRST,
               cd_education_status NULLS FIRST,
               cd_purchase_estimate NULLS FIRST,
               cd_credit_rating NULLS FIRST, cd_dep_count NULLS FIRST,
               cd_dep_employed_count NULLS FIRST,
               cd_dep_college_count NULLS FIRST
      LIMIT 100""",

    // Q17: quantity statistics (count/avg/stddev/cov) across the
    // sale->return->catalog-rebuy chain. Ref quarter 2001Q1 unchanged.
    "tpcds_q17" -> s"""
      SELECT i_item_id, i_item_desc, s_state,
             count(ss_quantity) AS store_sales_quantitycount,
             avg(ss_quantity) AS store_sales_quantityave,
             stddev_samp(ss_quantity) AS store_sales_quantitystdev,
             stddev_samp(ss_quantity) / avg(ss_quantity)
               AS store_sales_quantitycov,
             count(sr_return_quantity) AS store_returns_quantitycount,
             avg(sr_return_quantity) AS store_returns_quantityave,
             stddev_samp(sr_return_quantity) AS store_returns_quantitystdev,
             stddev_samp(sr_return_quantity) / avg(sr_return_quantity)
               AS store_returns_quantitycov,
             count(cs_quantity) AS catalog_sales_quantitycount,
             avg(cs_quantity) AS catalog_sales_quantityave,
             stddev_samp(cs_quantity) AS catalog_sales_quantitystdev,
             stddev_samp(cs_quantity) / avg(cs_quantity)
               AS catalog_sales_quantitycov
      FROM store_sales, store_returns, catalog_sales,
           date_dim d1, date_dim d2, date_dim d3, store, item
      WHERE d1.d_quarter_name = '2001Q1'
        AND d1.d_date_sk = ss_sold_date_sk
        AND i_item_sk = ss_item_sk
        AND s_store_sk = ss_store_sk
        AND ss_customer_sk = sr_customer_sk
        AND ss_item_sk = sr_item_sk
        AND ss_ticket_number = sr_ticket_number
        AND sr_returned_date_sk = d2.d_date_sk
        AND d2.d_quarter_name IN ('2001Q1', '2001Q2', '2001Q3')
        AND sr_customer_sk = cs_bill_customer_sk
        AND sr_item_sk = cs_item_sk
        AND cs_sold_date_sk = d3.d_date_sk
        AND d3.d_quarter_name IN ('2001Q1', '2001Q2', '2001Q3')
      GROUP BY i_item_id, i_item_desc, s_state
      ORDER BY i_item_id NULLS FIRST, i_item_desc NULLS FIRST,
               s_state NULLS FIRST
      LIMIT 100""",

    // Q18: catalog demographics averages under a 4-level ROLLUP (exact
    // sum/count instead of decimal AVG; ref year 1998 unchanged).
    "tpcds_q18" -> s"""
      SELECT i_item_id, ca_country, ca_state, ca_county,
             ${sql.sumd(dmoney("cs_quantity"))} / COUNT(*) agg1,
             ${sumd(dmoney("cs_list_price"))} / COUNT(*) agg2,
             ${sumd(dmoney("cs_coupon_amt"))} / COUNT(*) agg3,
             ${sumd(dmoney("cs_sales_price"))} / COUNT(*) agg4,
             ${sumd(dmoney("cs_net_profit"))} / COUNT(*) agg5,
             ${sql.sumd(dmoney("c_birth_year"))} / COUNT(*) agg6,
             ${sql.sumd(dmoney("cd1.cd_dep_count"))} / COUNT(*) agg7
      FROM catalog_sales, customer_demographics cd1,
           customer_demographics cd2, customer, customer_address,
           date_dim, item
      WHERE cs_sold_date_sk = d_date_sk
        AND cs_item_sk = i_item_sk
        AND cs_bill_cdemo_sk = cd1.cd_demo_sk
        AND cs_bill_customer_sk = c_customer_sk
        AND cd1.cd_gender = 'F'
        AND cd1.cd_education_status = 'Unknown'
        AND c_current_cdemo_sk = cd2.cd_demo_sk
        AND c_current_addr_sk = ca_address_sk
        AND c_birth_month IN (1, 6, 8, 9, 12, 2)
        AND d_year = 1998
        AND ca_state IN ('MS', 'IN', 'ND', 'OK', 'NM', 'VA', 'MS')
      GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
      ORDER BY ca_country NULLS FIRST, ca_state NULLS FIRST,
               ca_county NULLS FIRST, i_item_id NULLS FIRST
      LIMIT 100""",

    // Q28: six quantity-band list-price buckets (avg / count / count
    // distinct), cross-joined into one row. Ref bands unchanged.
    "tpcds_q28" -> s"""
      SELECT B1_LP, B1_CNT, B1_CNTD, B2_LP, B2_CNT, B2_CNTD,
             B3_LP, B3_CNT, B3_CNTD, B4_LP, B4_CNT, B4_CNTD,
             B5_LP, B5_CNT, B5_CNTD, B6_LP, B6_CNT, B6_CNTD
      FROM
        (SELECT ${sumd(dmoney("ss_list_price"))} / count(ss_list_price) B1_LP,
                count(ss_list_price) B1_CNT,
                count(DISTINCT ss_list_price) B1_CNTD
         FROM store_sales
         WHERE ss_quantity BETWEEN 0 AND 5
           AND (ss_list_price BETWEEN 8 AND 8 + 10
                OR ss_coupon_amt BETWEEN 459 AND 459 + 1000
                OR ss_wholesale_cost BETWEEN 57 AND 57 + 20)) B1,
        (SELECT ${sumd(dmoney("ss_list_price"))} / count(ss_list_price) B2_LP,
                count(ss_list_price) B2_CNT,
                count(DISTINCT ss_list_price) B2_CNTD
         FROM store_sales
         WHERE ss_quantity BETWEEN 6 AND 10
           AND (ss_list_price BETWEEN 90 AND 90 + 10
                OR ss_coupon_amt BETWEEN 2323 AND 2323 + 1000
                OR ss_wholesale_cost BETWEEN 31 AND 31 + 20)) B2,
        (SELECT ${sumd(dmoney("ss_list_price"))} / count(ss_list_price) B3_LP,
                count(ss_list_price) B3_CNT,
                count(DISTINCT ss_list_price) B3_CNTD
         FROM store_sales
         WHERE ss_quantity BETWEEN 11 AND 15
           AND (ss_list_price BETWEEN 142 AND 142 + 10
                OR ss_coupon_amt BETWEEN 12214 AND 12214 + 1000
                OR ss_wholesale_cost BETWEEN 79 AND 79 + 20)) B3,
        (SELECT ${sumd(dmoney("ss_list_price"))} / count(ss_list_price) B4_LP,
                count(ss_list_price) B4_CNT,
                count(DISTINCT ss_list_price) B4_CNTD
         FROM store_sales
         WHERE ss_quantity BETWEEN 16 AND 20
           AND (ss_list_price BETWEEN 135 AND 135 + 10
                OR ss_coupon_amt BETWEEN 6071 AND 6071 + 1000
                OR ss_wholesale_cost BETWEEN 38 AND 38 + 20)) B4,
        (SELECT ${sumd(dmoney("ss_list_price"))} / count(ss_list_price) B5_LP,
                count(ss_list_price) B5_CNT,
                count(DISTINCT ss_list_price) B5_CNTD
         FROM store_sales
         WHERE ss_quantity BETWEEN 21 AND 25
           AND (ss_list_price BETWEEN 122 AND 122 + 10
                OR ss_coupon_amt BETWEEN 836 AND 836 + 1000
                OR ss_wholesale_cost BETWEEN 17 AND 17 + 20)) B5,
        (SELECT ${sumd(dmoney("ss_list_price"))} / count(ss_list_price) B6_LP,
                count(ss_list_price) B6_CNT,
                count(DISTINCT ss_list_price) B6_CNTD
         FROM store_sales
         WHERE ss_quantity BETWEEN 26 AND 30
           AND (ss_list_price BETWEEN 154 AND 154 + 10
                OR ss_coupon_amt BETWEEN 7326 AND 7326 + 1000
                OR ss_wholesale_cost BETWEEN 7 AND 7 + 20)) B6""",

    // Q29: quantities along the buy -> return -> catalog-rebuy chain
    // (3 date roles). Ref month 9/1999 unchanged.
    "tpcds_q29" -> s"""
      SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
             CAST(sum(ss_quantity) AS BIGINT) AS store_sales_quantity,
             CAST(sum(sr_return_quantity) AS BIGINT) AS store_returns_quantity,
             CAST(sum(cs_quantity) AS BIGINT) AS catalog_sales_quantity
      FROM store_sales, store_returns, catalog_sales,
           date_dim d1, date_dim d2, date_dim d3, store, item
      WHERE d1.d_moy = 9
        AND d1.d_year = 1999
        AND d1.d_date_sk = ss_sold_date_sk
        AND i_item_sk = ss_item_sk
        AND s_store_sk = ss_store_sk
        AND ss_customer_sk = sr_customer_sk
        AND ss_item_sk = sr_item_sk
        AND ss_ticket_number = sr_ticket_number
        AND sr_returned_date_sk = d2.d_date_sk
        AND d2.d_moy BETWEEN 9 AND 9 + 3
        AND d2.d_year = 1999
        AND sr_customer_sk = cs_bill_customer_sk
        AND sr_item_sk = cs_item_sk
        AND cs_sold_date_sk = d3.d_date_sk
        AND d3.d_year IN (1999, 1999 + 1, 1999 + 2)
      GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
      ORDER BY i_item_id NULLS FIRST, i_item_desc NULLS FIRST,
               s_store_id NULLS FIRST, s_store_name NULLS FIRST
      LIMIT 100""",

    // Q30: web-return customers above 1.2x their state's average return
    // (correlated avg over a web_returns CTE). Ref year 2002 -> 2000.
    "tpcds_q30" -> s"""
      WITH customer_total_return AS
        (SELECT wr_returning_customer_sk AS ctr_customer_sk,
                ca_state AS ctr_state,
                ${sumd(dmoney("wr_return_amt"))} AS ctr_total_return
         FROM web_returns, date_dim, customer_address
         WHERE wr_returned_date_sk = d_date_sk
           AND d_year = 2000
           AND wr_returning_addr_sk = ca_address_sk
         GROUP BY wr_returning_customer_sk, ca_state)
      SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
             c_preferred_cust_flag, c_birth_day, c_birth_month,
             c_birth_year, c_birth_country, c_login, c_email_address,
             c_last_review_date_sk, ctr_total_return
      FROM customer_total_return ctr1, customer_address, customer
      WHERE ctr1.ctr_total_return >
          (SELECT ${sql.sumd("CAST(ctr_total_return AS DECIMAL(24,4))")}
                    / COUNT(*) * 1.2
           FROM customer_total_return ctr2
           WHERE ctr1.ctr_state = ctr2.ctr_state)
        AND ca_address_sk = c_current_addr_sk
        AND ca_state = 'GA'
        AND ctr1.ctr_customer_sk = c_customer_sk
      ORDER BY c_customer_id NULLS FIRST, c_salutation NULLS FIRST,
               c_first_name NULLS FIRST, c_last_name NULLS FIRST,
               c_preferred_cust_flag NULLS FIRST, c_birth_day NULLS FIRST,
               c_birth_month NULLS FIRST, c_birth_year NULLS FIRST,
               c_birth_country NULLS FIRST, c_login NULLS FIRST,
               c_email_address NULLS FIRST,
               c_last_review_date_sk NULLS FIRST,
               ctr_total_return NULLS FIRST
      LIMIT 100""",

    // Q34: 15..20-item tickets by high-dependency households on
    // month-boundary shopping days. Ref county kept (fixture has it).
    "tpcds_q34" -> s"""
      SELECT c_last_name, c_first_name, c_salutation,
             c_preferred_cust_flag, ss_ticket_number, cnt
      FROM
        (SELECT ss_ticket_number, ss_customer_sk, count(*) cnt
         FROM store_sales, date_dim, store, household_demographics
         WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
           AND store_sales.ss_store_sk = store.s_store_sk
           AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
           AND (date_dim.d_dom BETWEEN 1 AND 3
                OR date_dim.d_dom BETWEEN 25 AND 28)
           AND (household_demographics.hd_buy_potential = '>10000'
                OR household_demographics.hd_buy_potential = 'Unknown')
           AND household_demographics.hd_vehicle_count > 0
           AND (CASE WHEN household_demographics.hd_vehicle_count > 0
                  THEN CAST(household_demographics.hd_dep_count AS DOUBLE)
                       / household_demographics.hd_vehicle_count
                  ELSE NULL END) > 1.2
           AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
           AND store.s_county = 'Williamson County'
         GROUP BY ss_ticket_number, ss_customer_sk) dn, customer
      WHERE ss_customer_sk = c_customer_sk
        -- ref 15..20: fixture tickets have 1..7 lines with per-line customers
        AND cnt BETWEEN 1 AND 20
      ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
               c_salutation NULLS FIRST,
               c_preferred_cust_flag DESC NULLS FIRST,
               ss_ticket_number NULLS FIRST""",

    // Q35: demographics of customers active in store AND (web OR
    // catalog) in early 2000 (ref 2002). Trailing aggregates aliased.
    "tpcds_q35" -> s"""
      SELECT ca_state, cd_gender, cd_marital_status, cd_dep_count,
             count(*) cnt1,
             min(cd_dep_count) min1, max(cd_dep_count) max1,
             avg(cd_dep_count) avg1,
             cd_dep_employed_count, count(*) cnt2,
             min(cd_dep_employed_count) min2,
             max(cd_dep_employed_count) max2,
             avg(cd_dep_employed_count) avg2,
             cd_dep_college_count, count(*) cnt3,
             min(cd_dep_college_count) min3,
             max(cd_dep_college_count) max3,
             avg(cd_dep_college_count) avg3
      FROM customer c, customer_address ca, customer_demographics
      WHERE c.c_current_addr_sk = ca.ca_address_sk
        AND cd_demo_sk = c.c_current_cdemo_sk
        AND EXISTS
          (SELECT * FROM store_sales, date_dim
           WHERE c.c_customer_sk = ss_customer_sk
             AND ss_sold_date_sk = d_date_sk
             AND d_year = 2000 AND d_qoy < 4)
        AND (EXISTS
               (SELECT * FROM web_sales, date_dim
                WHERE c.c_customer_sk = ws_bill_customer_sk
                  AND ws_sold_date_sk = d_date_sk
                  AND d_year = 2000 AND d_qoy < 4)
             OR EXISTS
               (SELECT * FROM catalog_sales, date_dim
                WHERE c.c_customer_sk = cs_ship_customer_sk
                  AND cs_sold_date_sk = d_date_sk
                  AND d_year = 2000 AND d_qoy < 4))
      GROUP BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
               cd_dep_employed_count, cd_dep_college_count
      ORDER BY ca_state NULLS FIRST, cd_gender NULLS FIRST,
               cd_marital_status NULLS FIRST, cd_dep_count NULLS FIRST,
               cd_dep_employed_count NULLS FIRST,
               cd_dep_college_count NULLS FIRST
      LIMIT 100""",

    // Q38: customers active in ALL three channels in one year (3-way
    // INTERSECT on name+date). Ref month_seq 1200..1211 -> 120..131.
    "tpcds_q38" -> s"""
      SELECT count(*) AS num
      FROM
        (SELECT DISTINCT c_last_name, c_first_name, d_date
         FROM store_sales, date_dim, customer
         WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
           AND store_sales.ss_customer_sk = customer.c_customer_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11
         INTERSECT
         SELECT DISTINCT c_last_name, c_first_name, d_date
         FROM catalog_sales, date_dim, customer
         WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
           AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11
         INTERSECT
         SELECT DISTINCT c_last_name, c_first_name, d_date
         FROM web_sales, date_dim, customer
         WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
           AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11) hot_cust
      LIMIT 100""",

    // Q47: brand-month sales vs the year's monthly average, with lag/lead
    // months via a rank self-join. Ref year 1999 unchanged.
    "tpcds_q47" -> s"""
      WITH v1 AS
        (SELECT i_category, i_brand, s_store_name, s_company_name,
                d_year, d_moy,
                ${sumd(dmoney("ss_sales_price"))} sum_sales,
                avg(${sumd(dmoney("ss_sales_price"))})
                  OVER (PARTITION BY i_category, i_brand, s_store_name,
                                     s_company_name, d_year)
                  avg_monthly_sales,
                rank() OVER (PARTITION BY i_category, i_brand,
                                          s_store_name, s_company_name
                             ORDER BY d_year, d_moy) rn
         FROM item, store_sales, date_dim, store
         WHERE ss_item_sk = i_item_sk
           AND ss_sold_date_sk = d_date_sk
           AND ss_store_sk = s_store_sk
           AND (d_year = 1999
                OR (d_year = 1999 - 1 AND d_moy = 12)
                OR (d_year = 1999 + 1 AND d_moy = 1))
         GROUP BY i_category, i_brand, s_store_name, s_company_name,
                  d_year, d_moy),
      v2 AS
        (SELECT v1.i_category, v1.i_brand, v1.s_store_name,
                v1.s_company_name, v1.d_year, v1.d_moy,
                v1.avg_monthly_sales, v1.sum_sales,
                v1_lag.sum_sales psum, v1_lead.sum_sales nsum
         FROM v1, v1 v1_lag, v1 v1_lead
         WHERE v1.i_category = v1_lag.i_category
           AND v1.i_category = v1_lead.i_category
           AND v1.i_brand = v1_lag.i_brand
           AND v1.i_brand = v1_lead.i_brand
           AND v1.s_store_name = v1_lag.s_store_name
           AND v1.s_store_name = v1_lead.s_store_name
           AND v1.s_company_name = v1_lag.s_company_name
           AND v1.s_company_name = v1_lead.s_company_name
           AND v1.rn = v1_lag.rn + 1
           AND v1.rn = v1_lead.rn - 1)
      SELECT i_category, i_brand, s_store_name, s_company_name, d_year,
             d_moy, avg_monthly_sales, sum_sales, psum, nsum
      FROM v2
      WHERE d_year = 1999
        AND avg_monthly_sales > 0
        AND CASE WHEN avg_monthly_sales > 0
              THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
              ELSE NULL END > 0.1
      ORDER BY sum_sales - avg_monthly_sales, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10
      LIMIT 100""",

    // Q74: store/web net-paid year-over-year growth (q11's simpler twin).
    // Ref years 2001/2002 -> 2000/2001.
    "tpcds_q74" -> s"""
      WITH year_total AS
        (SELECT c_customer_id customer_id,
                c_first_name customer_first_name,
                c_last_name customer_last_name,
                d_year AS year_,
                ${sumd(dmoney("ss_net_paid"))} year_total,
                's' sale_type
         FROM customer, store_sales, date_dim
         WHERE c_customer_sk = ss_customer_sk
           AND ss_sold_date_sk = d_date_sk
           AND d_year IN (2000, 2000 + 1)
         GROUP BY c_customer_id, c_first_name, c_last_name, d_year
         UNION ALL
         SELECT c_customer_id customer_id,
                c_first_name customer_first_name,
                c_last_name customer_last_name,
                d_year AS year_,
                ${sumd(dmoney("ws_net_paid"))} year_total,
                'w' sale_type
         FROM customer, web_sales, date_dim
         WHERE c_customer_sk = ws_bill_customer_sk
           AND ws_sold_date_sk = d_date_sk
           AND d_year IN (2000, 2000 + 1)
         GROUP BY c_customer_id, c_first_name, c_last_name, d_year)
      SELECT t_s_secyear.customer_id AS customer_id,
             t_s_secyear.customer_first_name AS customer_first_name,
             t_s_secyear.customer_last_name AS customer_last_name
      FROM year_total t_s_firstyear, year_total t_s_secyear,
           year_total t_w_firstyear, year_total t_w_secyear
      WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
        AND t_s_firstyear.customer_id = t_w_secyear.customer_id
        AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
        AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
        AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
        AND t_s_firstyear.year_ = 2000 AND t_s_secyear.year_ = 2000 + 1
        AND t_w_firstyear.year_ = 2000 AND t_w_secyear.year_ = 2000 + 1
        AND t_s_firstyear.year_total > 0
        AND t_w_firstyear.year_total > 0
        AND CASE WHEN t_w_firstyear.year_total > 0
              THEN t_w_secyear.year_total / t_w_firstyear.year_total
              ELSE NULL END >
            CASE WHEN t_s_firstyear.year_total > 0
              THEN t_s_secyear.year_total / t_s_firstyear.year_total
              ELSE NULL END
      ORDER BY 1 NULLS FIRST
      LIMIT 100""",

    // Q81: catalog-return customers above 1.2x their state's average
    // (q30's catalog twin with the full address block). Ref year 2000,
    // state GA — both in the fixture vocabulary.
    "tpcds_q81" -> s"""
      WITH customer_total_return AS
        (SELECT cr_returning_customer_sk AS ctr_customer_sk,
                ca_state AS ctr_state,
                ${sumd(dmoney("cr_return_amt_inc_tax"))} AS ctr_total_return
         FROM catalog_returns, date_dim, customer_address
         WHERE cr_returned_date_sk = d_date_sk
           AND d_year = 2000
           AND cr_returning_addr_sk = ca_address_sk
         GROUP BY cr_returning_customer_sk, ca_state)
      SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
             ca_street_number, ca_street_name, ca_street_type,
             ca_suite_number, ca_city, ca_county, ca_state, ca_zip,
             ca_country, ca_gmt_offset, ca_location_type, ctr_total_return
      FROM customer_total_return ctr1, customer_address, customer
      WHERE ctr1.ctr_total_return >
          (SELECT ${sql.sumd("CAST(ctr_total_return AS DECIMAL(24,4))")}
                    / COUNT(*) * 1.2
           FROM customer_total_return ctr2
           WHERE ctr1.ctr_state = ctr2.ctr_state)
        AND ca_address_sk = c_current_addr_sk
        AND ca_state = 'GA'
        AND ctr1.ctr_customer_sk = c_customer_sk
      ORDER BY c_customer_id NULLS FIRST, c_salutation NULLS FIRST,
               c_first_name NULLS FIRST, c_last_name NULLS FIRST,
               ca_street_number NULLS FIRST, ca_street_name NULLS FIRST,
               ca_street_type NULLS FIRST, ca_suite_number NULLS FIRST,
               ca_city NULLS FIRST, ca_county NULLS FIRST,
               ca_state NULLS FIRST, ca_zip NULLS FIRST,
               ca_country NULLS FIRST, ca_gmt_offset NULLS FIRST,
               ca_location_type NULLS FIRST, ctr_total_return NULLS FIRST
      LIMIT 100""",

    // Q87: store-only customer-days (double EXCEPT across channels).
    // Ref month_seq 1200..1211 -> 120..131.
    "tpcds_q87" -> s"""
      SELECT count(*) AS num
      FROM ((SELECT DISTINCT c_last_name, c_first_name, d_date
             FROM store_sales, date_dim, customer
             WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
               AND store_sales.ss_customer_sk = customer.c_customer_sk
               AND d_month_seq BETWEEN 120 AND 120 + 11)
            EXCEPT
            (SELECT DISTINCT c_last_name, c_first_name, d_date
             FROM catalog_sales, date_dim, customer
             WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
               AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
               AND d_month_seq BETWEEN 120 AND 120 + 11)
            EXCEPT
            (SELECT DISTINCT c_last_name, c_first_name, d_date
             FROM web_sales, date_dim, customer
             WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
               AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
               AND d_month_seq BETWEEN 120 AND 120 + 11)) cool_cust""",

    // Q97: store/catalog customer-item overlap counts over a FULL OUTER
    // join of the grouped channels. Ref month_seq 1200..1211 -> 120..131.
    "tpcds_q97" -> s"""
      WITH ssci AS
        (SELECT ss_customer_sk customer_sk, ss_item_sk item_sk
         FROM store_sales, date_dim
         WHERE ss_sold_date_sk = d_date_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11
         GROUP BY ss_customer_sk, ss_item_sk),
      csci AS
        (SELECT cs_bill_customer_sk customer_sk, cs_item_sk item_sk
         FROM catalog_sales, date_dim
         WHERE cs_sold_date_sk = d_date_sk
           AND d_month_seq BETWEEN 120 AND 120 + 11
         GROUP BY cs_bill_customer_sk, cs_item_sk)
      SELECT CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL
                       AND csci.customer_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               store_only,
             CAST(sum(CASE WHEN ssci.customer_sk IS NULL
                       AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               catalog_only,
             CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL
                       AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               store_and_catalog
      FROM ssci
      FULL OUTER JOIN csci ON (ssci.customer_sk = csci.customer_sk
                               AND ssci.item_sk = csci.item_sk)
      LIMIT 100""",

    // Q21: inventory before/after a cutoff date per warehouse/item. Ref
    // price band 0.99..1.49 -> 0.99..4.99 (fixture price grid is ~0.37
    // apart); ratio compared in DOUBLE on both engines (decimal division
    // scale differs between Spark and DuckDB).
    "tpcds_q21" -> s"""
      SELECT * FROM
        (SELECT w_warehouse_name AS w_warehouse_name, i_item_id AS i_item_id,
                CAST(sum(CASE WHEN CAST(d_date AS DATE)
                                   < CAST('2000-03-11' AS DATE)
                          THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT)
                  AS inv_before,
                CAST(sum(CASE WHEN CAST(d_date AS DATE)
                                   >= CAST('2000-03-11' AS DATE)
                          THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT)
                  AS inv_after
         FROM inventory, warehouse, item, date_dim
         WHERE i_current_price BETWEEN 0.99 AND 4.99
           AND i_item_sk = inv_item_sk
           AND inv_warehouse_sk = w_warehouse_sk
           AND inv_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-02-10' AS DATE)
                          AND CAST('2000-04-10' AS DATE)
         GROUP BY w_warehouse_name, i_item_id) x
      WHERE (CASE WHEN inv_before > 0
                  THEN CAST(inv_after AS DOUBLE) / inv_before
                  ELSE NULL END)
            BETWEEN CAST(2 AS DOUBLE) / 3 AND CAST(3 AS DOUBLE) / 2
      ORDER BY w_warehouse_name NULLS FIRST, i_item_id NULLS FIRST
      LIMIT 100""",

    // Q22: average quantity-on-hand ROLLUP over the item hierarchy.
    // Ref month_seq 1200..1211 -> 120..131 (fixture epoch).
    "tpcds_q22" -> s"""
      SELECT i_product_name AS i_product_name, i_brand AS i_brand,
             i_class AS i_class, i_category AS i_category,
             avg(inv_quantity_on_hand) AS qoh
      FROM inventory, date_dim, item
      WHERE inv_date_sk = d_date_sk
        AND inv_item_sk = i_item_sk
        AND d_month_seq BETWEEN 120 AND 120 + 11
      GROUP BY ROLLUP(i_product_name, i_brand, i_class, i_category)
      ORDER BY qoh NULLS FIRST, i_product_name NULLS FIRST,
               i_brand NULLS FIRST, i_class NULLS FIRST,
               i_category NULLS FIRST
      LIMIT 100""",

    // Q37: catalog items in stock within a price/manufacturer cut. Ref
    // manufact ids (677,940,694,808) -> (1,3) (fixture ids are 1..5).
    "tpcds_q37" -> s"""
      SELECT i_item_id AS i_item_id, i_item_desc AS i_item_desc,
             i_current_price AS i_current_price
      FROM item, inventory, date_dim, catalog_sales
      WHERE i_current_price BETWEEN 68 AND 68 + 30
        AND inv_item_sk = i_item_sk
        AND d_date_sk = inv_date_sk
        AND d_date BETWEEN CAST('2000-02-01' AS DATE)
                       AND CAST('2000-04-01' AS DATE)
        AND i_manufact_id IN (1, 3)
        AND inv_quantity_on_hand BETWEEN 100 AND 500
        AND cs_item_sk = i_item_sk
      GROUP BY i_item_id, i_item_desc, i_current_price
      ORDER BY i_item_id
      LIMIT 100""",

    // Q39: inventory coefficient-of-variation month-over-month self-join.
    // Ref cov cut 1 -> 0.5 (fixture quantities are uniform; the asymptotic
    // cov is ~0.58, so >1 selects only degenerate small-sample groups).
    // The cut rounds cov to 6 dp first: stddev_samp accumulates in a
    // different order across engines (Welford vs two-pass), and with ~5
    // samples/group a last-ulp difference flips groups sitting ON the 0.5
    // boundary (measured: 3 of ~3.5k rows at sf0.01 after the round-11
    // inventory rescale). Rounding both sides makes the cut deterministic.
    "tpcds_q39" -> s"""
      WITH inv AS
        (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
                stdev, mean,
                CASE mean WHEN 0 THEN NULL ELSE stdev / mean END cov
         FROM
           (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
                   stddev_samp(inv_quantity_on_hand) stdev,
                   avg(inv_quantity_on_hand) mean
            FROM inventory, item, warehouse, date_dim
            WHERE inv_item_sk = i_item_sk
              AND inv_warehouse_sk = w_warehouse_sk
              AND inv_date_sk = d_date_sk
              AND d_year = 2001
            GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
         WHERE CASE mean WHEN 0 THEN 0 ELSE ROUND(stdev / mean, 6) END > 0.5)
      SELECT inv1.w_warehouse_sk wsk1, inv1.i_item_sk isk1,
             inv1.d_moy dmoy1, inv1.mean mean1, inv1.cov cov1,
             inv2.w_warehouse_sk AS wsk2, inv2.i_item_sk AS isk2,
             inv2.d_moy AS dmoy2, inv2.mean AS mean2, inv2.cov AS cov2
      FROM inv inv1, inv inv2
      WHERE inv1.i_item_sk = inv2.i_item_sk
        AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
        AND inv1.d_moy = 1
        AND inv2.d_moy = 1 + 1
      ORDER BY inv1.w_warehouse_sk NULLS FIRST, inv1.i_item_sk NULLS FIRST,
               inv1.d_moy NULLS FIRST, inv1.mean NULLS FIRST,
               inv1.cov NULLS FIRST, inv2.d_moy NULLS FIRST,
               inv2.mean NULLS FIRST, inv2.cov NULLS FIRST""",

    // Q40: catalog net sales before/after a cutoff, returns subtracted,
    // per warehouse state. Ref price band 0.99..1.49 -> 0.99..4.99.
    "tpcds_q40" -> s"""
      SELECT w_state AS w_state, i_item_id AS i_item_id,
             ${sumd(dmoney("""CASE WHEN CAST(d_date AS DATE)
                                        < CAST('2000-03-11' AS DATE)
                              THEN cs_sales_price
                                   - coalesce(cr_refunded_cash, 0)
                              ELSE 0 END"""))} AS sales_before,
             ${sumd(dmoney("""CASE WHEN CAST(d_date AS DATE)
                                        >= CAST('2000-03-11' AS DATE)
                              THEN cs_sales_price
                                   - coalesce(cr_refunded_cash, 0)
                              ELSE 0 END"""))} AS sales_after
      FROM catalog_sales
      LEFT OUTER JOIN catalog_returns ON (cs_order_number = cr_order_number
                                          AND cs_item_sk = cr_item_sk),
           warehouse, item, date_dim
      WHERE i_current_price BETWEEN 0.99 AND 4.99
        AND i_item_sk = cs_item_sk
        AND cs_warehouse_sk = w_warehouse_sk
        AND cs_sold_date_sk = d_date_sk
        AND d_date BETWEEN CAST('2000-02-10' AS DATE)
                       AND CAST('2000-04-10' AS DATE)
      GROUP BY w_state, i_item_id
      ORDER BY w_state, i_item_id
      LIMIT 100""",

    // Q82: store items in stock within a price/manufacturer cut (the
    // store-channel twin of Q37). Ref manufact ids -> (2, 4).
    "tpcds_q82" -> s"""
      SELECT i_item_id AS i_item_id, i_item_desc AS i_item_desc,
             i_current_price AS i_current_price
      FROM item, inventory, date_dim, store_sales
      WHERE i_current_price BETWEEN 62 AND 62 + 30
        AND inv_item_sk = i_item_sk
        AND d_date_sk = inv_date_sk
        AND d_date BETWEEN CAST('2000-05-25' AS DATE)
                       AND CAST('2000-07-24' AS DATE)
        AND i_manufact_id IN (2, 4)
        AND inv_quantity_on_hand BETWEEN 100 AND 500
        AND ss_item_sk = i_item_sk
      GROUP BY i_item_id, i_item_desc, i_current_price
      ORDER BY i_item_id
      LIMIT 100""",

    // Q05: per-channel sales/returns/profit ROLLUP over a 14-day window.
    // Money re-summed through the decimal policy at both levels.
    "tpcds_q05" -> s"""
      WITH ssr AS
        (SELECT s_store_id,
                ${sumd(dmoney("sales_price"))} AS sales,
                ${sumd(dmoney("profit"))} AS profit,
                ${sumd(dmoney("return_amt"))} AS returns_,
                ${sumd(dmoney("net_loss"))} AS profit_loss
         FROM
           (SELECT ss_store_sk AS store_sk, ss_sold_date_sk AS date_sk,
                   ss_ext_sales_price AS sales_price,
                   ss_net_profit AS profit,
                   CAST(0 AS DECIMAL(7,2)) AS return_amt,
                   CAST(0 AS DECIMAL(7,2)) AS net_loss
            FROM store_sales
            UNION ALL
            SELECT sr_store_sk, sr_returned_date_sk,
                   CAST(0 AS DECIMAL(7,2)), CAST(0 AS DECIMAL(7,2)),
                   sr_return_amt, sr_net_loss
            FROM store_returns) salesreturns, date_dim, store
         WHERE date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-06' AS DATE)
           AND store_sk = s_store_sk
         GROUP BY s_store_id),
      csr AS
        (SELECT cp_catalog_page_id,
                ${sumd(dmoney("sales_price"))} AS sales,
                ${sumd(dmoney("profit"))} AS profit,
                ${sumd(dmoney("return_amt"))} AS returns_,
                ${sumd(dmoney("net_loss"))} AS profit_loss
         FROM
           (SELECT cs_catalog_page_sk AS page_sk, cs_sold_date_sk AS date_sk,
                   cs_ext_sales_price AS sales_price,
                   cs_net_profit AS profit,
                   CAST(0 AS DECIMAL(7,2)) AS return_amt,
                   CAST(0 AS DECIMAL(7,2)) AS net_loss
            FROM catalog_sales
            UNION ALL
            SELECT cr_catalog_page_sk, cr_returned_date_sk,
                   CAST(0 AS DECIMAL(7,2)), CAST(0 AS DECIMAL(7,2)),
                   cr_return_amount, cr_net_loss
            FROM catalog_returns) salesreturns, date_dim, catalog_page
         WHERE date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-06' AS DATE)
           AND page_sk = cp_catalog_page_sk
         GROUP BY cp_catalog_page_id),
      wsr AS
        (SELECT web_site_id,
                ${sumd(dmoney("sales_price"))} AS sales,
                ${sumd(dmoney("profit"))} AS profit,
                ${sumd(dmoney("return_amt"))} AS returns_,
                ${sumd(dmoney("net_loss"))} AS profit_loss
         FROM
           (SELECT ws_web_site_sk AS wsr_web_site_sk,
                   ws_sold_date_sk AS date_sk,
                   ws_ext_sales_price AS sales_price,
                   ws_net_profit AS profit,
                   CAST(0 AS DECIMAL(7,2)) AS return_amt,
                   CAST(0 AS DECIMAL(7,2)) AS net_loss
            FROM web_sales
            UNION ALL
            SELECT ws_web_site_sk, wr_returned_date_sk,
                   CAST(0 AS DECIMAL(7,2)), CAST(0 AS DECIMAL(7,2)),
                   wr_return_amt, wr_net_loss
            FROM web_returns
            LEFT OUTER JOIN web_sales ON (wr_item_sk = ws_item_sk
              AND wr_order_number = ws_order_number)) salesreturns,
           date_dim, web_site
         WHERE date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-06' AS DATE)
           AND wsr_web_site_sk = web_site_sk
         GROUP BY web_site_id)
      SELECT channel AS channel, id AS id,
             ${sumd(sql.dbig("sales"))} AS sales,
             ${sumd(sql.dbig("returns_"))} AS returns_,
             ${sumd(sql.dbig("profit"))} AS profit
      FROM
        (SELECT 'store channel' AS channel,
                concat('store', s_store_id) AS id,
                sales, returns_, (profit - profit_loss) AS profit
         FROM ssr
         UNION ALL
         SELECT 'catalog channel', concat('catalog_page', cp_catalog_page_id),
                sales, returns_, (profit - profit_loss)
         FROM csr
         UNION ALL
         SELECT 'web channel', concat('web_site', web_site_id),
                sales, returns_, (profit - profit_loss)
         FROM wsr) x
      GROUP BY ROLLUP(channel, id)
      ORDER BY channel NULLS FIRST, id NULLS FIRST
      LIMIT 100""",

    // Q08: store profit for stores sharing a zip prefix with preferred
    // customers in a zip shortlist. Ref 400-zip list -> 20 fixture-grid
    // zips (10000 + 373*rn, rn multiple of 3 = the preferred rows);
    // ref HAVING count(*) > 10 -> >= 1 (fixture zips are unique per
    // address, so every zip count is exactly 1).
    "tpcds_q08" -> s"""
      SELECT s_store_name AS s_store_name,
             ${sumd(dmoney("ss_net_profit"))} AS net_profit
      FROM store_sales, date_dim, store,
        (SELECT ca_zip FROM
          ((SELECT SUBSTRING(ca_zip, 1, 5) ca_zip
            FROM customer_address
            WHERE SUBSTRING(ca_zip, 1, 5) IN ('10000', '11119', '12238', '13357', '14476', '15595', '16714', '17833', '18952', '20071', '21190', '22309', '23428', '24547', '25666', '26785', '27904', '29023', '30142', '31261'))
           INTERSECT
           (SELECT ca_zip FROM
             (SELECT SUBSTRING(ca_zip, 1, 5) ca_zip, count(*) cnt
              FROM customer_address, customer
              WHERE ca_address_sk = c_current_addr_sk
                AND c_preferred_cust_flag = 'Y'
              GROUP BY ca_zip
              HAVING count(*) >= 1) A1)) A2) V1
      WHERE ss_store_sk = s_store_sk
        AND ss_sold_date_sk = d_date_sk
        AND d_qoy = 2 AND d_year = 1998
        AND SUBSTRING(s_zip, 1, 2) = SUBSTRING(V1.ca_zip, 1, 2)
      GROUP BY s_store_name
      ORDER BY s_store_name
      LIMIT 100""",

    // Q16: catalog orders shipped from multiple warehouses with no
    // returns. Ref window 2002 -> 2001 (fixture calendar ends 2001);
    // output aliased order_count (driver compares by column name).
    "tpcds_q16" -> s"""
      SELECT CAST(count(DISTINCT cs_order_number) AS BIGINT)
               AS order_count,
             ${sumd(dmoney("cs_ext_ship_cost"))} AS total_shipping_cost,
             ${sumd(dmoney("cs_net_profit"))} AS total_net_profit
      FROM catalog_sales cs1, date_dim, customer_address, call_center
      WHERE d_date BETWEEN '2001-02-01' AND CAST('2001-04-02' AS DATE)
        AND cs1.cs_ship_date_sk = d_date_sk
        AND cs1.cs_ship_addr_sk = ca_address_sk
        AND ca_state = 'GA'
        AND cs1.cs_call_center_sk = cc_call_center_sk
        AND cc_county = 'Williamson County'
        AND EXISTS
          (SELECT * FROM catalog_sales cs2
           WHERE cs1.cs_order_number = cs2.cs_order_number
             AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
        AND NOT EXISTS
          (SELECT * FROM catalog_returns cr1
           WHERE cs1.cs_order_number = cr1.cr_order_number)
      ORDER BY order_count
      LIMIT 100""",

    // Q24: store-channel net paid per customer for one color, against a
    // 5% threshold over all colors. Ref s_market_id 8 -> 3 (fixture ids
    // 1..5); ref s_zip = ca_zip -> 2-char prefix match (the fixture zip
    // grids for store and address only intersect on prefixes).
    "tpcds_q24" -> s"""
      WITH ssales AS
        (SELECT c_last_name, c_first_name, s_store_name, ca_state, s_state,
                i_color, i_current_price, i_manager_id, i_units, i_size,
                ${sumd(dmoney("ss_net_paid"))} netpaid
         FROM store_sales, store_returns, store, item, customer,
              customer_address
         WHERE ss_ticket_number = sr_ticket_number
           AND ss_item_sk = sr_item_sk
           AND ss_customer_sk = c_customer_sk
           AND ss_item_sk = i_item_sk
           AND ss_store_sk = s_store_sk
           AND c_current_addr_sk = ca_address_sk
           AND c_birth_country <> upper(ca_country)
           AND SUBSTRING(s_zip, 1, 2) = SUBSTRING(ca_zip, 1, 2)
           AND s_market_id = 3
         GROUP BY c_last_name, c_first_name, s_store_name, ca_state,
                  s_state, i_color, i_current_price, i_manager_id,
                  i_units, i_size)
      SELECT c_last_name AS c_last_name, c_first_name AS c_first_name,
             s_store_name AS s_store_name,
             ${sumd(sql.dbig("netpaid"))} AS paid
      FROM ssales
      WHERE i_color = 'peach'
      GROUP BY c_last_name, c_first_name, s_store_name
      HAVING ${sumd(sql.dbig("netpaid"))} >
        (SELECT 0.05 * ${sumd(sql.dbig("netpaid"))} / COUNT(*) FROM ssales)
      ORDER BY c_last_name, c_first_name, s_store_name""",

    // Q41: manufacturers with items in specific color/unit/size combos
    // (correlated count probe). Ref manufact band 738..778 -> 1..5 and
    // the 16 color/unit/size literals remapped into the fixture
    // vocabulary (12 colors, 6 units, 7 sizes).
    "tpcds_q41" -> s"""
      SELECT DISTINCT(i_product_name) AS i_product_name
      FROM item i1
      WHERE i_manufact_id BETWEEN 1 AND 5
        AND (SELECT count(*) AS item_cnt
             FROM item
             WHERE (i_manufact = i1.i_manufact
                AND ((i_category = 'Women'
                      AND (i_color = 'slate' OR i_color = 'azure')
                      AND (i_units = 'Ounce' OR i_units = 'Oz')
                      AND (i_size = 'medium' OR i_size = 'extra large'))
                  OR (i_category = 'Women'
                      AND (i_color = 'blanched' OR i_color = 'chartreuse')
                      AND (i_units = 'Bunch' OR i_units = 'Ton')
                      AND (i_size = 'N/A' OR i_size = 'small'))
                  OR (i_category = 'Men'
                      AND (i_color = 'khaki' OR i_color = 'coral')
                      AND (i_units = 'N/A' OR i_units = 'Dozen')
                      AND (i_size = 'petite' OR i_size = 'petite'))
                  OR (i_category = 'Men'
                      AND (i_color = 'maroon' OR i_color = 'peach')
                      AND (i_units = 'Ounce' OR i_units = 'Bunch')
                      AND (i_size = 'medium' OR i_size = 'extra large'))))
                OR (i_manufact = i1.i_manufact
                AND ((i_category = 'Women'
                      AND (i_color = 'burnished' OR i_color = 'tomato')
                      AND (i_units = 'Ton' OR i_units = 'Oz')
                      AND (i_size = 'medium' OR i_size = 'extra large'))
                  OR (i_category = 'Women'
                      AND (i_color = 'sienna' OR i_color = 'plum')
                      AND (i_units = 'Dozen' OR i_units = 'Ounce')
                      AND (i_size = 'N/A' OR i_size = 'small'))
                  OR (i_category = 'Men'
                      AND (i_color = 'coral' OR i_color = 'azure')
                      AND (i_units = 'Oz' OR i_units = 'Bunch')
                      AND (i_size = 'petite' OR i_size = 'petite'))
                  OR (i_category = 'Men'
                      AND (i_color = 'slate' OR i_color = 'khaki')
                      AND (i_units = 'Ton' OR i_units = 'Dozen')
                      AND (i_size = 'medium' OR i_size = 'extra large'))))
             ) > 0
      ORDER BY i_product_name
      LIMIT 100""",

    // Q44: best/worst performing items by average net profit at one
    // store, ranked from both ends. The exact-decimal average keeps the
    // rank keys order-independent across engines. The unpartitioned
    // rank() windows are the spec's own semantics (one global item
    // ranking); their input is the per-item AGGREGATE (catalog-sized,
    // not fact-sized), so the single-partition window is bounded.
    "tpcds_q44" -> s"""
      SELECT asceding.rnk AS rnk,
             i1.i_product_name AS best_performing,
             i2.i_product_name AS worst_performing
      FROM
        (SELECT * FROM
          (SELECT item_sk, rank() OVER (ORDER BY rank_col ASC) rnk
           FROM
             (SELECT ss_item_sk item_sk,
                     ${avgd("ss_net_profit")} rank_col
              FROM store_sales ss1
              WHERE ss_store_sk = 4
              GROUP BY ss_item_sk
              HAVING ${avgd("ss_net_profit")} > 0.9 *
                (SELECT ${avgd("ss_net_profit")} rank_col
                 FROM store_sales
                 WHERE ss_store_sk = 4 AND ss_addr_sk IS NULL
                 GROUP BY ss_store_sk)) V1) V11
         WHERE rnk < 11) asceding,
        (SELECT * FROM
          (SELECT item_sk, rank() OVER (ORDER BY rank_col DESC) rnk
           FROM
             (SELECT ss_item_sk item_sk,
                     ${avgd("ss_net_profit")} rank_col
              FROM store_sales ss1
              WHERE ss_store_sk = 4
              GROUP BY ss_item_sk
              HAVING ${avgd("ss_net_profit")} > 0.9 *
                (SELECT ${avgd("ss_net_profit")} rank_col
                 FROM store_sales
                 WHERE ss_store_sk = 4 AND ss_addr_sk IS NULL
                 GROUP BY ss_store_sk)) V2) V21
         WHERE rnk < 11) descending,
        item i1, item i2
      WHERE asceding.rnk = descending.rnk
        AND i1.i_item_sk = asceding.item_sk
        AND i2.i_item_sk = descending.item_sk
      ORDER BY asceding.rnk, best_performing, worst_performing
      LIMIT 100""",

    // Q49: worst return ratios per channel, double-ranked. Ref
    // wr/cr/sr_return_amt > 10000 -> > 100 (fixture return amounts are
    // 1..501); ref 2001-12 -> 2001-10 (fixture shipments end 2001-11-04);
    // ratios computed in DOUBLE (Spark and DuckDB disagree on decimal
    // division scales) from exact decimal sums. The unpartitioned rank()
    // windows are the spec's per-channel global rankings; their input is
    // the per-item aggregate (catalog-sized), so the single-partition
    // window is bounded.
    "tpcds_q49" -> s"""
      SELECT channel AS channel, item AS item,
             return_ratio AS return_ratio, return_rank AS return_rank,
             currency_rank AS currency_rank
      FROM
        (SELECT 'web' AS channel, web.item, web.return_ratio,
                web.return_rank, web.currency_rank
         FROM
           (SELECT item, return_ratio, currency_ratio,
                   rank() OVER (ORDER BY return_ratio) AS return_rank,
                   rank() OVER (ORDER BY currency_ratio) AS currency_rank
            FROM
              (SELECT ws.ws_item_sk AS item,
                      CAST(sum(coalesce(wr.wr_return_quantity, 0)) AS DOUBLE)
                        / sum(coalesce(ws.ws_quantity, 0)) AS return_ratio,
                      ${sumd(dmoney("coalesce(wr.wr_return_amt, 0)"))}
                        / ${sumd(dmoney("coalesce(ws.ws_net_paid, 0)"))}
                        AS currency_ratio
               FROM web_sales ws
               LEFT OUTER JOIN web_returns wr
                 ON (ws.ws_order_number = wr.wr_order_number
                     AND ws.ws_item_sk = wr.wr_item_sk), date_dim
               WHERE wr.wr_return_amt > 100
                 AND ws.ws_net_profit > 1
                 AND ws.ws_net_paid > 0
                 AND ws.ws_quantity > 0
                 AND ws_sold_date_sk = d_date_sk
                 AND d_year = 2001 AND d_moy = 10
               GROUP BY ws.ws_item_sk) in_web) web
         WHERE (web.return_rank <= 10 OR web.currency_rank <= 10)
         UNION
         SELECT 'catalog' AS channel, catalog.item, catalog.return_ratio,
                catalog.return_rank, catalog.currency_rank
         FROM
           (SELECT item, return_ratio, currency_ratio,
                   rank() OVER (ORDER BY return_ratio) AS return_rank,
                   rank() OVER (ORDER BY currency_ratio) AS currency_rank
            FROM
              (SELECT cs.cs_item_sk AS item,
                      CAST(sum(coalesce(cr.cr_return_quantity, 0)) AS DOUBLE)
                        / sum(coalesce(cs.cs_quantity, 0)) AS return_ratio,
                      ${sumd(dmoney("coalesce(cr.cr_return_amount, 0)"))}
                        / ${sumd(dmoney("coalesce(cs.cs_net_paid, 0)"))}
                        AS currency_ratio
               FROM catalog_sales cs
               LEFT OUTER JOIN catalog_returns cr
                 ON (cs.cs_order_number = cr.cr_order_number
                     AND cs.cs_item_sk = cr.cr_item_sk), date_dim
               WHERE cr.cr_return_amount > 100
                 AND cs.cs_net_profit > 1
                 AND cs.cs_net_paid > 0
                 AND cs.cs_quantity > 0
                 AND cs_sold_date_sk = d_date_sk
                 AND d_year = 2001 AND d_moy = 10
               GROUP BY cs.cs_item_sk) in_cat) catalog
         WHERE (catalog.return_rank <= 10 OR catalog.currency_rank <= 10)
         UNION
         SELECT 'store' AS channel, store.item, store.return_ratio,
                store.return_rank, store.currency_rank
         FROM
           (SELECT item, return_ratio, currency_ratio,
                   rank() OVER (ORDER BY return_ratio) AS return_rank,
                   rank() OVER (ORDER BY currency_ratio) AS currency_rank
            FROM
              (SELECT sts.ss_item_sk AS item,
                      CAST(sum(coalesce(sr.sr_return_quantity, 0)) AS DOUBLE)
                        / sum(coalesce(sts.ss_quantity, 0)) AS return_ratio,
                      ${sumd(dmoney("coalesce(sr.sr_return_amt, 0)"))}
                        / ${sumd(dmoney("coalesce(sts.ss_net_paid, 0)"))}
                        AS currency_ratio
               FROM store_sales sts
               LEFT OUTER JOIN store_returns sr
                 ON (sts.ss_ticket_number = sr.sr_ticket_number
                     AND sts.ss_item_sk = sr.sr_item_sk), date_dim
               WHERE sr.sr_return_amt > 100
                 AND sts.ss_net_profit > 1
                 AND sts.ss_net_paid > 0
                 AND sts.ss_quantity > 0
                 AND ss_sold_date_sk = d_date_sk
                 AND d_year = 2001 AND d_moy = 10
               GROUP BY sts.ss_item_sk) in_store) store
         WHERE (store.return_rank <= 10 OR store.currency_rank <= 10)) sq1
      ORDER BY 1, 4, 5, 2
      LIMIT 100""",

    // Q53: manufacturer quarterly sales vs their average. Ref month_seq
    // 1200..1211 -> 120..131; category/class/brand literals remapped to
    // the fixture vocabulary; d_qoy carried into the output as the
    // unique LIMIT tiebreak.
    "tpcds_q53" -> s"""
      SELECT * FROM
        (SELECT i_manufact_id AS i_manufact_id, d_qoy AS d_qoy,
                ${sumd(dmoney("ss_sales_price"))} sum_sales,
                avg(${sumd(dmoney("ss_sales_price"))})
                  OVER (PARTITION BY i_manufact_id) avg_quarterly_sales
         FROM item, store_sales, date_dim, store
         WHERE ss_item_sk = i_item_sk
           AND ss_sold_date_sk = d_date_sk
           AND ss_store_sk = s_store_sk
           AND d_month_seq IN (120, 121, 122, 123, 124, 125, 126, 127,
                               128, 129, 130, 131)
           AND ((i_category IN ('Books', 'Children', 'Electronics')
                 AND i_class IN ('computers', 'dresses', 'fiction')
                 AND i_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4'))
             OR (i_category IN ('Women', 'Music', 'Men')
                 AND i_class IN ('accessories', 'basketball', 'guns')
                 AND i_brand IN ('Brand#5', 'Brand#6', 'Brand#7',
                                 'Brand#8')))
         GROUP BY i_manufact_id, d_qoy) tmp1
      WHERE CASE WHEN avg_quarterly_sales > 0
                 THEN ABS(sum_sales - avg_quarterly_sales)
                      / avg_quarterly_sales
                 ELSE NULL END > 0.1
      ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id, d_qoy
      LIMIT 100""",

    // Q54: revenue segments of customers who bought the target category
    // cross-channel. Ref i_class 'maternity' -> 'dresses' (fixture
    // class vocabulary); ref county+state locality -> state-only (the
    // fixture county/state grids only align for ~0 customers).
    "tpcds_q54" -> s"""
      WITH my_customers AS
        (SELECT DISTINCT c_customer_sk, c_current_addr_sk
         FROM
           (SELECT cs_sold_date_sk sold_date_sk,
                   cs_bill_customer_sk customer_sk, cs_item_sk item_sk
            FROM catalog_sales
            UNION ALL
            SELECT ws_sold_date_sk, ws_bill_customer_sk, ws_item_sk
            FROM web_sales) cs_or_ws_sales, item, date_dim, customer
         WHERE sold_date_sk = d_date_sk
           AND item_sk = i_item_sk
           AND i_category = 'Women'
           AND i_class = 'dresses'
           AND c_customer_sk = cs_or_ws_sales.customer_sk
           AND d_moy = 12 AND d_year = 1998),
      my_revenue AS
        (SELECT c_customer_sk,
                ${sumd(dmoney("ss_ext_sales_price"))} AS revenue
         FROM my_customers, store_sales, customer_address, store, date_dim
         WHERE c_current_addr_sk = ca_address_sk
           AND ca_state = s_state
           AND ss_sold_date_sk = d_date_sk
           AND c_customer_sk = ss_customer_sk
           AND d_month_seq BETWEEN
             (SELECT DISTINCT d_month_seq + 1 FROM date_dim
              WHERE d_year = 1998 AND d_moy = 12)
             AND
             (SELECT DISTINCT d_month_seq + 3 FROM date_dim
              WHERE d_year = 1998 AND d_moy = 12)
         GROUP BY c_customer_sk),
      segments AS
        (SELECT CAST(ROUND(revenue / 50) AS INT) AS segment
         FROM my_revenue)
      SELECT segment AS segment,
             CAST(count(*) AS BIGINT) AS num_customers,
             segment * 50 AS segment_base
      FROM segments
      GROUP BY segment
      ORDER BY segment NULLS FIRST, num_customers NULLS FIRST, segment_base
      LIMIT 100""",

    // Q57: call-center monthly sales outliers vs the yearly average,
    // with lag/lead month context (the catalog twin of Q47).
    "tpcds_q57" -> s"""
      WITH v1 AS
        (SELECT i_category, i_brand, cc_name, d_year, d_moy,
                ${sumd(dmoney("cs_sales_price"))} sum_sales,
                avg(${sumd(dmoney("cs_sales_price"))})
                  OVER (PARTITION BY i_category, i_brand, cc_name, d_year)
                  avg_monthly_sales,
                rank() OVER (PARTITION BY i_category, i_brand, cc_name
                             ORDER BY d_year, d_moy) rn
         FROM item, catalog_sales, date_dim, call_center
         WHERE cs_item_sk = i_item_sk
           AND cs_sold_date_sk = d_date_sk
           AND cc_call_center_sk = cs_call_center_sk
           AND (d_year = 1999
                OR (d_year = 1999 - 1 AND d_moy = 12)
                OR (d_year = 1999 + 1 AND d_moy = 1))
         GROUP BY i_category, i_brand, cc_name, d_year, d_moy),
      v2 AS
        (SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year,
                v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
                v1_lag.sum_sales psum, v1_lead.sum_sales nsum
         FROM v1, v1 v1_lag, v1 v1_lead
         WHERE v1.i_category = v1_lag.i_category
           AND v1.i_category = v1_lead.i_category
           AND v1.i_brand = v1_lag.i_brand
           AND v1.i_brand = v1_lead.i_brand
           AND v1.cc_name = v1_lag.cc_name
           AND v1.cc_name = v1_lead.cc_name
           AND v1.rn = v1_lag.rn + 1
           AND v1.rn = v1_lead.rn - 1)
      SELECT i_category AS i_category, i_brand AS i_brand,
             cc_name AS cc_name, d_year AS d_year, d_moy AS d_moy,
             avg_monthly_sales AS avg_monthly_sales,
             sum_sales AS sum_sales, psum AS psum, nsum AS nsum
      FROM v2
      WHERE d_year = 1999
        AND avg_monthly_sales > 0
        AND CASE WHEN avg_monthly_sales > 0
                 THEN abs(sum_sales - avg_monthly_sales)
                      / avg_monthly_sales
                 ELSE NULL END > 0.1
      ORDER BY sum_sales - avg_monthly_sales NULLS FIRST,
               1, 2, 3, 4, 5, 6, 7, 8, 9
      LIMIT 100""",

    // Q58: items selling evenly across all three channels in one week.
    // Ref evenness band 0.9..1.1 -> 0.5..2.0: fixture items see 1-2
    // sales per channel-week, so the tight band selects nothing.
    "tpcds_q58" -> s"""
      WITH ss_items AS
        (SELECT i_item_id item_id,
                ${sumd(dmoney("ss_ext_sales_price"))} ss_item_rev
         FROM store_sales, item, date_dim
         WHERE ss_item_sk = i_item_sk
           AND d_date IN (SELECT d_date FROM date_dim
                          WHERE d_week_seq = (SELECT d_week_seq
                                              FROM date_dim
                                              WHERE d_date = '2000-01-03'))
           AND ss_sold_date_sk = d_date_sk
         GROUP BY i_item_id),
      cs_items AS
        (SELECT i_item_id item_id,
                ${sumd(dmoney("cs_ext_sales_price"))} cs_item_rev
         FROM catalog_sales, item, date_dim
         WHERE cs_item_sk = i_item_sk
           AND d_date IN (SELECT d_date FROM date_dim
                          WHERE d_week_seq = (SELECT d_week_seq
                                              FROM date_dim
                                              WHERE d_date = '2000-01-03'))
           AND cs_sold_date_sk = d_date_sk
         GROUP BY i_item_id),
      ws_items AS
        (SELECT i_item_id item_id,
                ${sumd(dmoney("ws_ext_sales_price"))} ws_item_rev
         FROM web_sales, item, date_dim
         WHERE ws_item_sk = i_item_sk
           AND d_date IN (SELECT d_date FROM date_dim
                          WHERE d_week_seq = (SELECT d_week_seq
                                              FROM date_dim
                                              WHERE d_date = '2000-01-03'))
           AND ws_sold_date_sk = d_date_sk
         GROUP BY i_item_id)
      SELECT ss_items.item_id AS item_id,
             ss_item_rev AS ss_item_rev,
             ss_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3)
               * 100 AS ss_dev,
             cs_item_rev AS cs_item_rev,
             cs_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3)
               * 100 AS cs_dev,
             ws_item_rev AS ws_item_rev,
             ws_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3)
               * 100 AS ws_dev,
             (ss_item_rev + cs_item_rev + ws_item_rev) / 3 AS average
      FROM ss_items, cs_items, ws_items
      WHERE ss_items.item_id = cs_items.item_id
        AND ss_items.item_id = ws_items.item_id
        AND ss_item_rev BETWEEN 0.5 * cs_item_rev AND 2.0 * cs_item_rev
        AND ss_item_rev BETWEEN 0.5 * ws_item_rev AND 2.0 * ws_item_rev
        AND cs_item_rev BETWEEN 0.5 * ss_item_rev AND 2.0 * ss_item_rev
        AND cs_item_rev BETWEEN 0.5 * ws_item_rev AND 2.0 * ws_item_rev
        AND ws_item_rev BETWEEN 0.5 * ss_item_rev AND 2.0 * ss_item_rev
        AND ws_item_rev BETWEEN 0.5 * cs_item_rev AND 2.0 * cs_item_rev
      ORDER BY ss_items.item_id NULLS FIRST, ss_item_rev NULLS FIRST
      LIMIT 100""",

    // Q62: web shipping latency pivot per warehouse/mode/site. Ref
    // month_seq 1200..1211 -> 120..131; the spaced output names become
    // identifier-safe aliases (driver compares by column name).
    "tpcds_q62" -> s"""
      SELECT w_substr AS w_substr, sm_type AS sm_type, web_name AS web_name,
             CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk <= 30)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
             CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 30)
                            AND (ws_ship_date_sk - ws_sold_date_sk <= 60)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
             CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 60)
                            AND (ws_ship_date_sk - ws_sold_date_sk <= 90)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
             CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 90)
                            AND (ws_ship_date_sk - ws_sold_date_sk <= 120)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
             CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 120)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_gt_120
      FROM web_sales,
        (SELECT SUBSTRING(w_warehouse_name, 1, 20) w_substr, *
         FROM warehouse) sq1,
        ship_mode, web_site, date_dim
      WHERE d_month_seq BETWEEN 120 AND 120 + 11
        AND ws_ship_date_sk = d_date_sk
        AND ws_warehouse_sk = w_warehouse_sk
        AND ws_ship_mode_sk = sm_ship_mode_sk
        AND ws_web_site_sk = web_site_sk
      GROUP BY w_substr, sm_type, web_name
      ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST
      LIMIT 100""",

    // Q63: manager monthly sales vs their average (the manager twin of
    // Q53); same fixture vocabulary remap, d_moy kept as tiebreak.
    "tpcds_q63" -> s"""
      SELECT * FROM
        (SELECT i_manager_id AS i_manager_id, d_moy AS d_moy,
                ${sumd(dmoney("ss_sales_price"))} sum_sales,
                avg(${sumd(dmoney("ss_sales_price"))})
                  OVER (PARTITION BY i_manager_id) avg_monthly_sales
         FROM item, store_sales, date_dim, store
         WHERE ss_item_sk = i_item_sk
           AND ss_sold_date_sk = d_date_sk
           AND ss_store_sk = s_store_sk
           AND d_month_seq IN (120, 121, 122, 123, 124, 125, 126, 127,
                               128, 129, 130, 131)
           AND ((i_category IN ('Books', 'Children', 'Electronics')
                 AND i_class IN ('computers', 'dresses', 'fiction')
                 AND i_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4'))
             OR (i_category IN ('Women', 'Music', 'Men')
                 AND i_class IN ('accessories', 'basketball', 'guns')
                 AND i_brand IN ('Brand#5', 'Brand#6', 'Brand#7',
                                 'Brand#8')))
         GROUP BY i_manager_id, d_moy) tmp1
      WHERE CASE WHEN avg_monthly_sales > 0
                 THEN ABS(sum_sales - avg_monthly_sales)
                      / avg_monthly_sales
                 ELSE NULL END > 0.1
      ORDER BY i_manager_id, avg_monthly_sales, sum_sales, d_moy
      LIMIT 100""",

    // Q66: warehouse monthly sales pivot over both shipped channels,
    // restricted to two carriers and a time-of-day band. The inner
    // per-month sums run through the decimal policy once and the outer
    // channel-union re-sum once more.
    "tpcds_q66" -> s"""
      SELECT w_warehouse_name AS w_warehouse_name,
             w_warehouse_sq_ft AS w_warehouse_sq_ft,
             w_city AS w_city, w_county AS w_county, w_state AS w_state,
             w_country AS w_country, ship_carriers AS ship_carriers,
             year_ AS year_,
             ${sumd(sql.dbig("jan_sales"))} AS jan_sales,
             ${sumd(sql.dbig("feb_sales"))} AS feb_sales,
             ${sumd(sql.dbig("mar_sales"))} AS mar_sales,
             ${sumd(sql.dbig("apr_sales"))} AS apr_sales,
             ${sumd(sql.dbig("may_sales"))} AS may_sales,
             ${sumd(sql.dbig("jun_sales"))} AS jun_sales,
             ${sumd(sql.dbig("jul_sales"))} AS jul_sales,
             ${sumd(sql.dbig("aug_sales"))} AS aug_sales,
             ${sumd(sql.dbig("sep_sales"))} AS sep_sales,
             ${sumd(sql.dbig("oct_sales"))} AS oct_sales,
             ${sumd(sql.dbig("nov_sales"))} AS nov_sales,
             ${sumd(sql.dbig("dec_sales"))} AS dec_sales,
             ${sumd(sql.dbig("jan_sales / w_warehouse_sq_ft"))} AS jan_sales_per_sq_foot,
             ${sumd(sql.dbig("feb_sales / w_warehouse_sq_ft"))} AS feb_sales_per_sq_foot,
             ${sumd(sql.dbig("mar_sales / w_warehouse_sq_ft"))} AS mar_sales_per_sq_foot,
             ${sumd(sql.dbig("apr_sales / w_warehouse_sq_ft"))} AS apr_sales_per_sq_foot,
             ${sumd(sql.dbig("may_sales / w_warehouse_sq_ft"))} AS may_sales_per_sq_foot,
             ${sumd(sql.dbig("jun_sales / w_warehouse_sq_ft"))} AS jun_sales_per_sq_foot,
             ${sumd(sql.dbig("jul_sales / w_warehouse_sq_ft"))} AS jul_sales_per_sq_foot,
             ${sumd(sql.dbig("aug_sales / w_warehouse_sq_ft"))} AS aug_sales_per_sq_foot,
             ${sumd(sql.dbig("sep_sales / w_warehouse_sq_ft"))} AS sep_sales_per_sq_foot,
             ${sumd(sql.dbig("oct_sales / w_warehouse_sq_ft"))} AS oct_sales_per_sq_foot,
             ${sumd(sql.dbig("nov_sales / w_warehouse_sq_ft"))} AS nov_sales_per_sq_foot,
             ${sumd(sql.dbig("dec_sales / w_warehouse_sq_ft"))} AS dec_sales_per_sq_foot,
             ${sumd(sql.dbig("jan_net"))} AS jan_net,
             ${sumd(sql.dbig("feb_net"))} AS feb_net,
             ${sumd(sql.dbig("mar_net"))} AS mar_net,
             ${sumd(sql.dbig("apr_net"))} AS apr_net,
             ${sumd(sql.dbig("may_net"))} AS may_net,
             ${sumd(sql.dbig("jun_net"))} AS jun_net,
             ${sumd(sql.dbig("jul_net"))} AS jul_net,
             ${sumd(sql.dbig("aug_net"))} AS aug_net,
             ${sumd(sql.dbig("sep_net"))} AS sep_net,
             ${sumd(sql.dbig("oct_net"))} AS oct_net,
             ${sumd(sql.dbig("nov_net"))} AS nov_net,
             ${sumd(sql.dbig("dec_net"))} AS dec_net
      FROM
        (SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
                w_state, w_country,
                'DHL,BARIAN' AS ship_carriers, d_year AS year_,
                ${sumd(sql.dbig("CASE WHEN d_moy = 1 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS jan_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 2 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS feb_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 3 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS mar_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 4 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS apr_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 5 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS may_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 6 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS jun_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 7 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS jul_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 8 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS aug_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 9 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS sep_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 10 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS oct_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 11 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS nov_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 12 THEN ws_ext_sales_price * ws_quantity ELSE 0 END"))} AS dec_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 1 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS jan_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 2 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS feb_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 3 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS mar_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 4 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS apr_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 5 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS may_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 6 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS jun_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 7 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS jul_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 8 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS aug_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 9 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS sep_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 10 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS oct_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 11 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS nov_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 12 THEN ws_net_paid * ws_quantity ELSE 0 END"))} AS dec_net
         FROM web_sales, warehouse, date_dim, time_dim, ship_mode
         WHERE ws_warehouse_sk = w_warehouse_sk
           AND ws_sold_date_sk = d_date_sk
           AND ws_sold_time_sk = t_time_sk
           AND ws_ship_mode_sk = sm_ship_mode_sk
           AND d_year = 2001
           AND t_time BETWEEN 30838 AND 30838 + 28800
           AND sm_carrier IN ('DHL', 'BARIAN')
         GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
                  w_state, w_country, d_year
         UNION ALL
         SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
                w_state, w_country,
                'DHL,BARIAN' AS ship_carriers, d_year AS year_,
                ${sumd(sql.dbig("CASE WHEN d_moy = 1 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS jan_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 2 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS feb_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 3 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS mar_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 4 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS apr_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 5 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS may_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 6 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS jun_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 7 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS jul_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 8 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS aug_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 9 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS sep_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 10 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS oct_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 11 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS nov_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 12 THEN cs_sales_price * cs_quantity ELSE 0 END"))} AS dec_sales,
                ${sumd(sql.dbig("CASE WHEN d_moy = 1 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS jan_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 2 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS feb_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 3 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS mar_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 4 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS apr_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 5 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS may_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 6 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS jun_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 7 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS jul_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 8 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS aug_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 9 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS sep_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 10 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS oct_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 11 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS nov_net,
                ${sumd(sql.dbig("CASE WHEN d_moy = 12 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END"))} AS dec_net
         FROM catalog_sales, warehouse, date_dim, time_dim, ship_mode
         WHERE cs_warehouse_sk = w_warehouse_sk
           AND cs_sold_date_sk = d_date_sk
           AND cs_sold_time_sk = t_time_sk
           AND cs_ship_mode_sk = sm_ship_mode_sk
           AND d_year = 2001
           AND t_time BETWEEN 30838 AND 30838 + 28800
           AND sm_carrier IN ('DHL', 'BARIAN')
         GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
                  w_state, w_country, d_year) x
      GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
               w_state, w_country, ship_carriers, year_
      ORDER BY w_warehouse_name NULLS FIRST
      LIMIT 100""",

    // Q67: top-100 sales ranks within category over the full 8-level
    // ROLLUP of the item/time/store hierarchy.
    "tpcds_q67" -> s"""
      SELECT * FROM
        (SELECT i_category AS i_category, i_class AS i_class,
                i_brand AS i_brand, i_product_name AS i_product_name,
                d_year AS d_year, d_qoy AS d_qoy, d_moy AS d_moy,
                s_store_id AS s_store_id, sumsales AS sumsales,
                rank() OVER (PARTITION BY i_category
                             ORDER BY sumsales DESC) rk
         FROM
           (SELECT i_category, i_class, i_brand, i_product_name, d_year,
                   d_qoy, d_moy, s_store_id,
                   ${sumd(sql.dbig("coalesce(ss_sales_price * ss_quantity, 0)"))}
                     sumsales
            FROM store_sales, date_dim, store, item
            WHERE ss_sold_date_sk = d_date_sk
              AND ss_item_sk = i_item_sk
              AND ss_store_sk = s_store_sk
              AND d_month_seq BETWEEN 120 AND 120 + 11
            GROUP BY ROLLUP(i_category, i_class, i_brand, i_product_name,
                            d_year, d_qoy, d_moy, s_store_id)) dw1) dw2
      WHERE rk <= 100
      ORDER BY i_category NULLS FIRST, i_class NULLS FIRST,
               i_brand NULLS FIRST, i_product_name NULLS FIRST,
               d_year NULLS FIRST, d_qoy NULLS FIRST, d_moy NULLS FIRST,
               s_store_id NULLS FIRST, sumsales NULLS FIRST, rk NULLS FIRST
      LIMIT 100""",

    // Q69: demographics of store-only customers in a quarter (EXISTS +
    // double NOT EXISTS).
    "tpcds_q69" -> s"""
      SELECT cd_gender AS cd_gender, cd_marital_status AS cd_marital_status,
             cd_education_status AS cd_education_status,
             CAST(count(*) AS BIGINT) AS cnt1,
             cd_purchase_estimate AS cd_purchase_estimate,
             CAST(count(*) AS BIGINT) AS cnt2,
             cd_credit_rating AS cd_credit_rating,
             CAST(count(*) AS BIGINT) AS cnt3
      FROM customer c, customer_address ca, customer_demographics
      WHERE c.c_current_addr_sk = ca.ca_address_sk
        AND ca_state IN ('KY', 'GA', 'NM')
        AND cd_demo_sk = c.c_current_cdemo_sk
        AND EXISTS
          (SELECT * FROM store_sales, date_dim
           WHERE c.c_customer_sk = ss_customer_sk
             AND ss_sold_date_sk = d_date_sk
             AND d_year = 2001 AND d_moy BETWEEN 4 AND 4 + 2)
        AND (NOT EXISTS
               (SELECT * FROM web_sales, date_dim
                WHERE c.c_customer_sk = ws_bill_customer_sk
                  AND ws_sold_date_sk = d_date_sk
                  AND d_year = 2001 AND d_moy BETWEEN 4 AND 4 + 2)
             AND NOT EXISTS
               (SELECT * FROM catalog_sales, date_dim
                WHERE c.c_customer_sk = cs_ship_customer_sk
                  AND cs_sold_date_sk = d_date_sk
                  AND d_year = 2001 AND d_moy BETWEEN 4 AND 4 + 2))
      GROUP BY cd_gender, cd_marital_status, cd_education_status,
               cd_purchase_estimate, cd_credit_rating
      ORDER BY cd_gender, cd_marital_status, cd_education_status,
               cd_purchase_estimate, cd_credit_rating
      LIMIT 100""",

    // Q70: state/county profit ROLLUP restricted to top-5-ranked states,
    // ranked within each hierarchy level.
    // (grouping() moved into the aggregate subquery: Spark cannot
    // resolve grouping() inside a window PARTITION BY when the query
    // also carries an IN-subquery predicate.)
    "tpcds_q70" -> s"""
      SELECT total_sum AS total_sum, s_state AS s_state,
             s_county AS s_county, lochierarchy AS lochierarchy,
             rank() OVER (PARTITION BY lochierarchy,
                            CASE WHEN g_county = 0 THEN s_state END
                          ORDER BY total_sum DESC) AS rank_within_parent
      FROM
        (SELECT ${sumd(dmoney("ss_net_profit"))} AS total_sum,
                s_state, s_county,
                grouping(s_state) + grouping(s_county) AS lochierarchy,
                grouping(s_county) AS g_county
         FROM store_sales, date_dim d1, store
         WHERE d1.d_month_seq BETWEEN 120 AND 120 + 11
           AND d1.d_date_sk = ss_sold_date_sk
           AND s_store_sk = ss_store_sk
           AND s_state IN
             (SELECT s_state FROM
               (SELECT s_state AS s_state,
                       rank() OVER (PARTITION BY s_state
                                    ORDER BY ${sumd(dmoney("ss_net_profit"))}
                                      DESC) AS ranking
                FROM store_sales, store, date_dim
                WHERE d_month_seq BETWEEN 120 AND 120 + 11
                  AND d_date_sk = ss_sold_date_sk
                  AND s_store_sk = ss_store_sk
                GROUP BY s_state) tmp1
              WHERE ranking <= 5)
         GROUP BY ROLLUP(s_state, s_county)) agg
      ORDER BY lochierarchy DESC,
               CASE WHEN lochierarchy = 0 THEN s_state END,
               rank_within_parent, s_state NULLS FIRST,
               s_county NULLS FIRST
      LIMIT 100""",

    // Q72: catalog orders short on inventory in the sale week (the big
    // 3-fact join: catalog_sales x inventory x returns + 3 date roles).
    "tpcds_q72" -> s"""
      SELECT i_item_desc AS i_item_desc,
             w_warehouse_name AS w_warehouse_name,
             d1.d_week_seq AS d_week_seq,
             CAST(sum(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS no_promo,
             CAST(sum(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS promo,
             CAST(count(*) AS BIGINT) AS total_cnt
      FROM catalog_sales
      JOIN inventory ON (cs_item_sk = inv_item_sk)
      JOIN warehouse ON (w_warehouse_sk = inv_warehouse_sk)
      JOIN item ON (i_item_sk = cs_item_sk)
      JOIN customer_demographics ON (cs_bill_cdemo_sk = cd_demo_sk)
      JOIN household_demographics ON (cs_bill_hdemo_sk = hd_demo_sk)
      JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)
      JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)
      JOIN date_dim d3 ON (cs_ship_date_sk = d3.d_date_sk)
      LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
      LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk
        AND cr_order_number = cs_order_number)
      WHERE d1.d_week_seq = d2.d_week_seq
        AND inv_quantity_on_hand < cs_quantity
        AND d3.d_date > d1.d_date + 5
        AND hd_buy_potential = '>10000'
        AND d1.d_year = 1999
        AND cd_marital_status = 'D'
      GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
      ORDER BY total_cnt DESC NULLS FIRST, i_item_desc NULLS FIRST,
               w_warehouse_name NULLS FIRST, d_week_seq NULLS FIRST
      LIMIT 100""",

    // Q75: year-over-year sales decline per item attribute tuple across
    // all channels. Ref years 2002/2001 -> 2001/2000 (fixture calendar);
    // the decline ratio compared in DOUBLE.
    "tpcds_q75" -> s"""
      WITH all_sales AS
        (SELECT d_year, i_brand_id, i_class_id, i_category_id,
                i_manufact_id,
                CAST(SUM(sales_cnt) AS BIGINT) AS sales_cnt,
                ${sumd(sql.dbig("sales_amt"))} AS sales_amt
         FROM
           (SELECT d_year, i_brand_id, i_class_id, i_category_id,
                   i_manufact_id,
                   cs_quantity - COALESCE(cr_return_quantity, 0)
                     AS sales_cnt,
                   cs_ext_sales_price - COALESCE(cr_return_amount, 0.0)
                     AS sales_amt
            FROM catalog_sales
            JOIN item ON i_item_sk = cs_item_sk
            JOIN date_dim ON d_date_sk = cs_sold_date_sk
            LEFT JOIN catalog_returns ON (cs_order_number = cr_order_number
                                          AND cs_item_sk = cr_item_sk)
            WHERE i_category = 'Books'
            UNION
            SELECT d_year, i_brand_id, i_class_id, i_category_id,
                   i_manufact_id,
                   ss_quantity - COALESCE(sr_return_quantity, 0),
                   ss_ext_sales_price - COALESCE(sr_return_amt, 0.0)
            FROM store_sales
            JOIN item ON i_item_sk = ss_item_sk
            JOIN date_dim ON d_date_sk = ss_sold_date_sk
            LEFT JOIN store_returns ON (ss_ticket_number = sr_ticket_number
                                        AND ss_item_sk = sr_item_sk)
            WHERE i_category = 'Books'
            UNION
            SELECT d_year, i_brand_id, i_class_id, i_category_id,
                   i_manufact_id,
                   ws_quantity - COALESCE(wr_return_quantity, 0),
                   ws_ext_sales_price - COALESCE(wr_return_amt, 0.0)
            FROM web_sales
            JOIN item ON i_item_sk = ws_item_sk
            JOIN date_dim ON d_date_sk = ws_sold_date_sk
            LEFT JOIN web_returns ON (ws_order_number = wr_order_number
                                      AND ws_item_sk = wr_item_sk)
            WHERE i_category = 'Books') sales_detail
         GROUP BY d_year, i_brand_id, i_class_id, i_category_id,
                  i_manufact_id)
      SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS year_,
             curr_yr.i_brand_id AS i_brand_id,
             curr_yr.i_class_id AS i_class_id,
             curr_yr.i_category_id AS i_category_id,
             curr_yr.i_manufact_id AS i_manufact_id,
             prev_yr.sales_cnt AS prev_yr_cnt,
             curr_yr.sales_cnt AS curr_yr_cnt,
             curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
             curr_yr.sales_amt - prev_yr.sales_amt AS sales_amt_diff
      FROM all_sales curr_yr, all_sales prev_yr
      WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
        AND curr_yr.i_class_id = prev_yr.i_class_id
        AND curr_yr.i_category_id = prev_yr.i_category_id
        AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
        AND curr_yr.d_year = 2001
        AND prev_yr.d_year = 2001 - 1
        AND CAST(curr_yr.sales_cnt AS DOUBLE)
            / CAST(prev_yr.sales_cnt AS DOUBLE) < 0.9
      ORDER BY sales_cnt_diff, sales_amt_diff,
               i_brand_id, i_class_id, i_category_id, i_manufact_id
      LIMIT 100""",

    // Q77: per-channel sales vs returns ROLLUP over a 30-day window
    // (the catalog branch cross-joins cs x cr exactly as the reference
    // text does).
    "tpcds_q77" -> s"""
      WITH ss AS
        (SELECT s_store_sk,
                ${sumd(dmoney("ss_ext_sales_price"))} AS sales,
                ${sumd(dmoney("ss_net_profit"))} AS profit
         FROM store_sales, date_dim, store
         WHERE ss_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND ss_store_sk = s_store_sk
         GROUP BY s_store_sk),
      sr AS
        (SELECT s_store_sk,
                ${sumd(dmoney("sr_return_amt"))} AS returns_,
                ${sumd(dmoney("sr_net_loss"))} AS profit_loss
         FROM store_returns, date_dim, store
         WHERE sr_returned_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND sr_store_sk = s_store_sk
         GROUP BY s_store_sk),
      cs AS
        (SELECT cs_call_center_sk,
                ${sumd(dmoney("cs_ext_sales_price"))} AS sales,
                ${sumd(dmoney("cs_net_profit"))} AS profit
         FROM catalog_sales, date_dim
         WHERE cs_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
         GROUP BY cs_call_center_sk),
      cr AS
        (SELECT cr_call_center_sk,
                ${sumd(dmoney("cr_return_amount"))} AS returns_,
                ${sumd(dmoney("cr_net_loss"))} AS profit_loss
         FROM catalog_returns, date_dim
         WHERE cr_returned_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
         GROUP BY cr_call_center_sk),
      ws AS
        (SELECT wp_web_page_sk,
                ${sumd(dmoney("ws_ext_sales_price"))} AS sales,
                ${sumd(dmoney("ws_net_profit"))} AS profit
         FROM web_sales, date_dim, web_page
         WHERE ws_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND ws_web_page_sk = wp_web_page_sk
         GROUP BY wp_web_page_sk),
      wr AS
        (SELECT wp_web_page_sk,
                ${sumd(dmoney("wr_return_amt"))} AS returns_,
                ${sumd(dmoney("wr_net_loss"))} AS profit_loss
         FROM web_returns, date_dim, web_page
         WHERE wr_returned_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND wr_web_page_sk = wp_web_page_sk
         GROUP BY wp_web_page_sk)
      SELECT channel AS channel, id AS id,
             ${sumd(sql.dbig("sales"))} AS sales,
             ${sumd(sql.dbig("returns_"))} AS returns_,
             ${sumd(sql.dbig("profit"))} AS profit
      FROM
        (SELECT 'store channel' AS channel, ss.s_store_sk AS id, sales,
                coalesce(returns_, 0) AS returns_,
                (profit - coalesce(profit_loss, 0)) AS profit
         FROM ss
         LEFT JOIN sr ON ss.s_store_sk = sr.s_store_sk
         UNION ALL
         SELECT 'catalog channel', cs_call_center_sk, sales, returns_,
                (profit - profit_loss)
         FROM cs, cr
         UNION ALL
         SELECT 'web channel', ws.wp_web_page_sk, sales,
                coalesce(returns_, 0),
                (profit - coalesce(profit_loss, 0))
         FROM ws
         LEFT JOIN wr ON ws.wp_web_page_sk = wr.wp_web_page_sk) x
      GROUP BY ROLLUP(channel, id)
      ORDER BY channel NULLS FIRST, id NULLS FIRST, returns_ DESC
      LIMIT 100""",

    // Q80: promo-filtered channel sales/returns/profit ROLLUP over a
    // 30-day window.
    "tpcds_q80" -> s"""
      WITH ssr AS
        (SELECT s_store_id AS store_id,
                ${sumd(dmoney("ss_ext_sales_price"))} AS sales,
                ${sumd(dmoney("coalesce(sr_return_amt, 0)"))} AS returns_,
                ${sumd(dmoney("ss_net_profit - coalesce(sr_net_loss, 0)"))}
                  AS profit
         FROM store_sales
         LEFT OUTER JOIN store_returns ON (ss_item_sk = sr_item_sk
           AND ss_ticket_number = sr_ticket_number),
           date_dim, store, item, promotion
         WHERE ss_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND ss_store_sk = s_store_sk
           AND ss_item_sk = i_item_sk
           AND i_current_price > 50
           AND ss_promo_sk = p_promo_sk
           AND p_channel_tv = 'N'
         GROUP BY s_store_id),
      csr AS
        (SELECT cp_catalog_page_id AS catalog_page_id,
                ${sumd(dmoney("cs_ext_sales_price"))} AS sales,
                ${sumd(dmoney("coalesce(cr_return_amount, 0)"))} AS returns_,
                ${sumd(dmoney("cs_net_profit - coalesce(cr_net_loss, 0)"))}
                  AS profit
         FROM catalog_sales
         LEFT OUTER JOIN catalog_returns ON (cs_item_sk = cr_item_sk
           AND cs_order_number = cr_order_number),
           date_dim, catalog_page, item, promotion
         WHERE cs_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND cs_catalog_page_sk = cp_catalog_page_sk
           AND cs_item_sk = i_item_sk
           AND i_current_price > 50
           AND cs_promo_sk = p_promo_sk
           AND p_channel_tv = 'N'
         GROUP BY cp_catalog_page_id),
      wsr AS
        (SELECT web_site_id,
                ${sumd(dmoney("ws_ext_sales_price"))} AS sales,
                ${sumd(dmoney("coalesce(wr_return_amt, 0)"))} AS returns_,
                ${sumd(dmoney("ws_net_profit - coalesce(wr_net_loss, 0)"))}
                  AS profit
         FROM web_sales
         LEFT OUTER JOIN web_returns ON (ws_item_sk = wr_item_sk
           AND ws_order_number = wr_order_number),
           date_dim, web_site, item, promotion
         WHERE ws_sold_date_sk = d_date_sk
           AND d_date BETWEEN CAST('2000-08-23' AS DATE)
                          AND CAST('2000-09-22' AS DATE)
           AND ws_web_site_sk = web_site_sk
           AND ws_item_sk = i_item_sk
           AND i_current_price > 50
           AND ws_promo_sk = p_promo_sk
           AND p_channel_tv = 'N'
         GROUP BY web_site_id)
      SELECT channel AS channel, id AS id,
             ${sumd(sql.dbig("sales"))} AS sales,
             ${sumd(sql.dbig("returns_"))} AS returns_,
             ${sumd(sql.dbig("profit"))} AS profit
      FROM
        (SELECT 'store channel' AS channel,
                concat('store', store_id) AS id, sales, returns_, profit
         FROM ssr
         UNION ALL
         SELECT 'catalog channel', concat('catalog_page', catalog_page_id),
                sales, returns_, profit
         FROM csr
         UNION ALL
         SELECT 'web channel', concat('web_site', web_site_id),
                sales, returns_, profit
         FROM wsr) x
      GROUP BY ROLLUP(channel, id)
      ORDER BY channel NULLS FIRST, id NULLS FIRST
      LIMIT 100""",

    // Q83: return quantities by item across the three channels for three
    // chosen weeks; ratios in DOUBLE.
    "tpcds_q83" -> s"""
      WITH sr_items AS
        (SELECT i_item_id item_id,
                CAST(sum(sr_return_quantity) AS BIGINT) sr_item_qty
         FROM store_returns, item, date_dim
         WHERE sr_item_sk = i_item_sk
           AND d_date IN
             (SELECT d_date FROM date_dim
              WHERE d_week_seq IN
                (SELECT d_week_seq FROM date_dim
                 WHERE d_date IN ('2000-06-30', '2000-09-27',
                                  '2000-11-17')))
           AND sr_returned_date_sk = d_date_sk
         GROUP BY i_item_id),
      cr_items AS
        (SELECT i_item_id item_id,
                CAST(sum(cr_return_quantity) AS BIGINT) cr_item_qty
         FROM catalog_returns, item, date_dim
         WHERE cr_item_sk = i_item_sk
           AND d_date IN
             (SELECT d_date FROM date_dim
              WHERE d_week_seq IN
                (SELECT d_week_seq FROM date_dim
                 WHERE d_date IN ('2000-06-30', '2000-09-27',
                                  '2000-11-17')))
           AND cr_returned_date_sk = d_date_sk
         GROUP BY i_item_id),
      wr_items AS
        (SELECT i_item_id item_id,
                CAST(sum(wr_return_quantity) AS BIGINT) wr_item_qty
         FROM web_returns, item, date_dim
         WHERE wr_item_sk = i_item_sk
           AND d_date IN
             (SELECT d_date FROM date_dim
              WHERE d_week_seq IN
                (SELECT d_week_seq FROM date_dim
                 WHERE d_date IN ('2000-06-30', '2000-09-27',
                                  '2000-11-17')))
           AND wr_returned_date_sk = d_date_sk
         GROUP BY i_item_id)
      SELECT sr_items.item_id AS item_id,
             sr_item_qty AS sr_item_qty,
             CAST(sr_item_qty AS DOUBLE)
               / (sr_item_qty + cr_item_qty + wr_item_qty)
               / 3 * 100 AS sr_dev,
             cr_item_qty AS cr_item_qty,
             CAST(cr_item_qty AS DOUBLE)
               / (sr_item_qty + cr_item_qty + wr_item_qty)
               / 3 * 100 AS cr_dev,
             wr_item_qty AS wr_item_qty,
             CAST(wr_item_qty AS DOUBLE)
               / (sr_item_qty + cr_item_qty + wr_item_qty)
               / 3 * 100 AS wr_dev,
             (sr_item_qty + cr_item_qty + wr_item_qty)
               / CAST(3 AS DOUBLE) AS average
      FROM sr_items, cr_items, wr_items
      WHERE sr_items.item_id = cr_items.item_id
        AND sr_items.item_id = wr_items.item_id
      ORDER BY sr_items.item_id NULLS FIRST, sr_item_qty NULLS FIRST
      LIMIT 100""",

    // Q85: web returns by reason for matched refund/return demographic
    // pairs. Ref states remapped into the fixture grid (NJ/WI/CT/LA/AR
    // do not occur); sales/profit bands kept.
    "tpcds_q85" -> s"""
      SELECT SUBSTRING(r_reason_desc, 1, 20) AS r_reason_desc,
             avg(ws_quantity) AS avg1,
             ${avgd("wr_refunded_cash")} AS avg2,
             ${avgd("wr_fee")} AS avg3
      FROM web_sales, web_returns, web_page, customer_demographics cd1,
           customer_demographics cd2, customer_address, date_dim, reason
      WHERE ws_web_page_sk = wp_web_page_sk
        AND ws_item_sk = wr_item_sk
        AND ws_order_number = wr_order_number
        AND ws_sold_date_sk = d_date_sk
        AND d_year = 2000
        AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
        AND cd2.cd_demo_sk = wr_returning_cdemo_sk
        AND ca_address_sk = wr_refunded_addr_sk
        AND r_reason_sk = wr_reason_sk
        AND ((cd1.cd_marital_status = 'M'
              AND cd1.cd_marital_status = cd2.cd_marital_status
              AND cd1.cd_education_status = 'Advanced Degree'
              AND cd1.cd_education_status = cd2.cd_education_status
              AND ws_sales_price BETWEEN 100.00 AND 150.00)
          OR (cd1.cd_marital_status = 'S'
              AND cd1.cd_marital_status = cd2.cd_marital_status
              AND cd1.cd_education_status = 'College'
              AND cd1.cd_education_status = cd2.cd_education_status
              AND ws_sales_price BETWEEN 50.00 AND 100.00)
          OR (cd1.cd_marital_status = 'W'
              AND cd1.cd_marital_status = cd2.cd_marital_status
              AND cd1.cd_education_status = '2 yr Degree'
              AND cd1.cd_education_status = cd2.cd_education_status
              AND ws_sales_price BETWEEN 150.00 AND 200.00))
        AND ((ca_country = 'United States'
              AND ca_state IN ('IN', 'OH', 'KY')
              AND ws_net_profit BETWEEN 100 AND 200)
          OR (ca_country = 'United States'
              AND ca_state IN ('OR', 'NM', 'MS')
              AND ws_net_profit BETWEEN 150 AND 300)
          OR (ca_country = 'United States'
              AND ca_state IN ('IA', 'MO', 'IL')
              AND ws_net_profit BETWEEN 50 AND 250))
      GROUP BY r_reason_desc
      ORDER BY SUBSTRING(r_reason_desc, 1, 20), avg(ws_quantity),
               ${avgd("wr_refunded_cash")}, ${avgd("wr_fee")}
      LIMIT 100""",

    // Q86: web revenue ROLLUP over the item hierarchy with per-level
    // ranks (grouping() in a subquery, as in q70).
    "tpcds_q86" -> s"""
      SELECT total_sum AS total_sum, i_category AS i_category,
             i_class AS i_class, lochierarchy AS lochierarchy,
             rank() OVER (PARTITION BY lochierarchy,
                            CASE WHEN g_class = 0 THEN i_category END
                          ORDER BY total_sum DESC) AS rank_within_parent
      FROM
        (SELECT ${sumd(dmoney("ws_net_paid"))} AS total_sum,
                i_category, i_class,
                grouping(i_category) + grouping(i_class) AS lochierarchy,
                grouping(i_class) AS g_class
         FROM web_sales, date_dim d1, item
         WHERE d1.d_month_seq BETWEEN 120 AND 120 + 11
           AND d1.d_date_sk = ws_sold_date_sk
           AND i_item_sk = ws_item_sk
         GROUP BY ROLLUP(i_category, i_class)) agg
      ORDER BY lochierarchy DESC NULLS FIRST,
               CASE WHEN lochierarchy = 0 THEN i_category END NULLS FIRST,
               rank_within_parent NULLS FIRST,
               i_category NULLS FIRST, i_class NULLS FIRST
      LIMIT 100""",

    // Q90: web AM/PM order ratio for one page-size band. Ref char_count
    // 5000..5200 -> 5000..6000 (the fixture page grid has no value in
    // the 200-wide band); ratio in DOUBLE.
    "tpcds_q90" -> s"""
      SELECT CASE WHEN pmc = 0 THEN NULL
                  ELSE CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE) END
               AS am_pm_ratio
      FROM
        (SELECT count(*) amc
         FROM web_sales, household_demographics, time_dim, web_page
         WHERE ws_sold_time_sk = time_dim.t_time_sk
           AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
           AND ws_web_page_sk = web_page.wp_web_page_sk
           AND time_dim.t_hour BETWEEN 8 AND 8 + 1
           AND household_demographics.hd_dep_count = 6
           AND web_page.wp_char_count BETWEEN 5000 AND 6000) at_,
        (SELECT count(*) pmc
         FROM web_sales, household_demographics, time_dim, web_page
         WHERE ws_sold_time_sk = time_dim.t_time_sk
           AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
           AND ws_web_page_sk = web_page.wp_web_page_sk
           AND time_dim.t_hour BETWEEN 19 AND 19 + 1
           AND household_demographics.hd_dep_count = 6
           AND web_page.wp_char_count BETWEEN 5000 AND 6000) pt
      ORDER BY am_pm_ratio
      LIMIT 100""",

    // Q91: call-center return losses for two demographic cuts. Ref
    // ca_gmt_offset -7 -> -5 (fixture offsets are -5/-6) and
    // buy_potential 'Unknown%' -> '>1000%': the fixture cd/hd/address
    // grids are modular, and the Unknown band intersects the cd cuts
    // on no residue class (provably empty at every sf). Extra ORDER BY
    // keys pin the grouped-but-unprojected cd columns.
    "tpcds_q91" -> s"""
      SELECT cc_call_center_id AS call_center,
             cc_name AS call_center_name,
             cc_manager AS manager,
             ${sumd(dmoney("cr_net_loss"))} AS returns_loss
      FROM call_center, catalog_returns, date_dim, customer,
           customer_address, customer_demographics,
           household_demographics
      WHERE cr_call_center_sk = cc_call_center_sk
        AND cr_returned_date_sk = d_date_sk
        AND cr_returning_customer_sk = c_customer_sk
        AND cd_demo_sk = c_current_cdemo_sk
        AND hd_demo_sk = c_current_hdemo_sk
        AND ca_address_sk = c_current_addr_sk
        AND d_year = 1998
        AND d_moy = 11
        AND ((cd_marital_status = 'M'
              AND cd_education_status = 'Unknown')
          OR (cd_marital_status = 'W'
              AND cd_education_status = 'Advanced Degree'))
        AND hd_buy_potential LIKE '>1000%'
        AND ca_gmt_offset = -5
      GROUP BY cc_call_center_id, cc_name, cc_manager,
               cd_marital_status, cd_education_status
      ORDER BY ${sumd(dmoney("cr_net_loss"))} DESC,
               cc_call_center_id, cd_marital_status,
               cd_education_status""",

    // Q94: web orders shipped from multiple warehouses with no returns.
    "tpcds_q94" -> s"""
      SELECT CAST(count(DISTINCT ws_order_number) AS BIGINT)
               AS order_count,
             ${sumd(dmoney("ws_ext_ship_cost"))} AS total_shipping_cost,
             ${sumd(dmoney("ws_net_profit"))} AS total_net_profit
      FROM web_sales ws1, date_dim, customer_address, web_site
      WHERE d_date BETWEEN '1999-02-01' AND CAST('1999-04-02' AS DATE)
        AND ws1.ws_ship_date_sk = d_date_sk
        AND ws1.ws_ship_addr_sk = ca_address_sk
        AND ca_state = 'IL'
        AND ws1.ws_web_site_sk = web_site_sk
        AND web_company_name = 'pri'
        AND EXISTS
          (SELECT * FROM web_sales ws2
           WHERE ws1.ws_order_number = ws2.ws_order_number
             AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
        AND NOT EXISTS
          (SELECT * FROM web_returns wr1
           WHERE ws1.ws_order_number = wr1.wr_order_number)
      ORDER BY order_count
      LIMIT 100""",

    // Q95: web orders shipped from multiple warehouses WITH returns
    // (the returned twin of Q94, via a shared self-join CTE).
    "tpcds_q95" -> s"""
      WITH ws_wh AS
        (SELECT ws1.ws_order_number, ws1.ws_warehouse_sk wh1,
                ws2.ws_warehouse_sk wh2
         FROM web_sales ws1, web_sales ws2
         WHERE ws1.ws_order_number = ws2.ws_order_number
           AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
      SELECT CAST(count(DISTINCT ws_order_number) AS BIGINT)
               AS order_count,
             ${sumd(dmoney("ws_ext_ship_cost"))} AS total_shipping_cost,
             ${sumd(dmoney("ws_net_profit"))} AS total_net_profit
      FROM web_sales ws1, date_dim, customer_address, web_site
      WHERE d_date BETWEEN '1999-02-01' AND CAST('1999-04-02' AS DATE)
        AND ws1.ws_ship_date_sk = d_date_sk
        AND ws1.ws_ship_addr_sk = ca_address_sk
        AND ca_state = 'IL'
        AND ws1.ws_web_site_sk = web_site_sk
        AND web_company_name = 'pri'
        AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
        AND ws1.ws_order_number IN
          (SELECT wr_order_number
           FROM web_returns, ws_wh
           WHERE wr_order_number = ws_wh.ws_order_number)
      ORDER BY order_count
      LIMIT 100""",

    // Q96: store traffic in one evening half-hour for one dependent
    // count. Ref s_store_name 'ese' -> 'Store_5' (fixture names).
    "tpcds_q96" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS cnt
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 20
        AND time_dim.t_minute >= 30
        AND household_demographics.hd_dep_count = 7
        AND store.s_store_name = 'Store_5'
      ORDER BY cnt
      LIMIT 100""",

    // Q99: catalog shipping latency pivot per warehouse/mode/call
    // center (the catalog twin of Q62).
    "tpcds_q99" -> s"""
      SELECT w_substr AS w_substr, sm_type AS sm_type,
             LOWER(cc_name) AS cc_name_lower,
             CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk <= 30)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
             CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 30)
                            AND (cs_ship_date_sk - cs_sold_date_sk <= 60)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
             CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 60)
                            AND (cs_ship_date_sk - cs_sold_date_sk <= 90)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
             CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 90)
                            AND (cs_ship_date_sk - cs_sold_date_sk <= 120)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
             CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 120)
                           THEN 1 ELSE 0 END) AS BIGINT) AS days_gt_120
      FROM catalog_sales,
        (SELECT SUBSTRING(w_warehouse_name, 1, 20) w_substr, *
         FROM warehouse) AS sq1,
        ship_mode, call_center, date_dim
      WHERE d_month_seq BETWEEN 120 AND 120 + 11
        AND cs_ship_date_sk = d_date_sk
        AND cs_warehouse_sk = w_warehouse_sk
        AND cs_ship_mode_sk = sm_ship_mode_sk
        AND cs_call_center_sk = cc_call_center_sk
      GROUP BY w_substr, sm_type, cc_name
      ORDER BY w_substr NULLS FIRST, sm_type NULLS FIRST,
               cc_name_lower NULLS FIRST
      LIMIT 100""")

  /** The synthesized names kept as views: the row-number sequences are
    * cheaper to recompute than to store, and every query over `inventory`
    * (36M rows at sf0.1) carries a selective date filter that prunes its
    * derivation far below a scan of the stored grid. */
  private val views = Set("dd_seq", "cust_seq", "inventory")

  /** Stage star table `name` once per fixture dir and definition, and
    * return the staged table's name, bound in `s`. A table is written
    * through [[graft.operators.Staged]] from the same inline CTE text the
    * DuckDB oracle runs, so both engines see identical inputs by
    * construction; its name carries [[defHash]], so a definition edit
    * stages it anew. Every session and JVM over the warehouse reads one
    * materialization, and join planning reads its file sizes, as for the
    * fixture tables. Tables are written in 4 MB row groups, so Spark splits
    * a fact's scan across tasks: a whole table in one row group (the
    * default size at sf0.1) ran tpcds_q67's scan and partial aggregation
    * as one task. */
  private def stage(s: SparkSession, dir: String, name: String): String =
    graft.operators.Staged.table(s, s"ds_$name", defHash(name), dir,
        rowGroupBytes = Some(4L << 20)) { _ =>
      val text = wrap(s"SELECT * FROM $name")
      baseReads(text).foreach(Engine.table(s, dir, _))
      s.sql(text)
    }

  /** The TPC-H base tables `text` names; `customer` is a star name. */
  private def baseReads(text: String): Seq[String] =
    Engine.tableNames.filter(t => !byName.contains(t) &&
      s"\\b$t\\b".r.findFirstIn(text).nonEmpty)

  /** Bind, into the caller's session, every star name `q` reads: the
    * tables by a catalog insert of their staged table, which is staged
    * first if need be, the views by a catalog insert of their analyzed
    * body, after the base tables those bodies read. The names are computed
    * once; each call rebinds them, so a name another runner re-pointed in
    * the session (TPC-H's `customer`, a layout twin's `inventory`) reads
    * the star again. */
  private[graft] def binder(q: String): (SparkSession, String) => Unit = {
    val names = closure(q, views)
    val base = baseReads(names.filter(views).map(viewBody).mkString("\n"))
    (s, dir) => {
      base.foreach(Engine.table(s, dir, _))
      names.foreach { name =>
        Engine.view(s, name,
          if (views(name)) s.sql(viewBody(name)) else s.table(stage(s, dir, name)))
      }
    }
  }

  /** Bind every star name, for callers that read the schema as a whole. */
  private[graft] val bindStar: (SparkSession, String) => Unit =
    binder(cteDefs.map(_._1).mkString(" "))

  private def run(text: String): Q = {
    val q = text.trim
    val bind = binder(q)
    (s: SparkSession, dir: String) => { bind(s, dir); s.sql(q) }
  }

  val queries: Map[String, Q] =
    texts.map { case (name, text) => name -> run(text) }

  lazy val oracles: Map[String, String] = texts.map { case (n, t) => n -> wrap(t) }
}
