package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Engine
import graft.QueryDsl.{Q, Twin}
import graft.queries.Tpcds

/** Staged TPC-DS inventory: the weekly (Sunday) item × warehouse snapshot
  * grid materialized ONCE at ingest as a sorted parquet table.
  *
  * In the fixture model `inventory` is a synthesized CTE (the driver
  * fixtures carry no star schema), so every query over it re-derives the
  * full grid — and q39 references the CTE twice (month-over-month
  * self-join), paying the derivation twice: measured 30.1 s at sf10
  * (7.6× the DuckDB proxy, the worst ratio in the round-11 TPC-DS sweep)
  * where a single derivation pass (q22 shape) costs ~15 s. A production
  * deployment stores inventory as a fact table; this writer is that
  * one-time `CREATE TABLE AS`. Effects:
  *   - the 4-int-column grid (129 M rows ≈ hundreds of MB zstd at sf10)
  *     reads back at parquet scan speed instead of cross-join synthesis;
  *   - files are range-partitioned by inv_date_sk and sorted by
  *     (inv_date_sk, inv_item_sk): the d_year/d_moy filters every
  *     inventory query carries prune snapshots via zone maps once the
  *     date_dim join key range is known (runtime bloom / DPP-class
  *     filters), and item-range probes (q37/q82 shape) prune row groups;
  *   - q39's two CTE references become two cheap scans of the same files.
  *
  * Twins run the IDENTICAL query texts with the `inventory` view
  * re-pointed at the stored table — same values, same DuckDB oracle as
  * their tpcds_q* originals.
  */
object TpcdsLayout {

  /** Materialize the staged inventory table for `dir`; returns the table
    * name. The defining text is a hash of the FULL inventory definition
    * (CTE + its transitive dims), so an edit to the synthesis SQL rebuilds
    * the stored table instead of silently attaching stale data that no
    * longer matches the oracle's inlined CTE (round-11 advice). */
  def writeStagedInventory(spark: SparkSession, dir: String): String =
    Staged.table(spark, "inventory", Tpcds.defHash("inventory"), dir) { _ =>
      Tpcds.bindStar(spark, dir)
      spark.table("inventory")
        .repartitionByRange(32, col("inv_date_sk"))
        .sortWithinPartitions(col("inv_date_sk"), col("inv_item_sk"))
    }

  /** Run a tpcds query text with `inventory` bound to the stored layout
    * (every other name as the default query binds it). The next default
    * query over `inventory` binds the synthesized view again. */
  private def staged(name: String): Q = {
    val text = Tpcds.texts(name).trim
    // the star names the text reads besides inventory
    val bind = Tpcds.binder(text.replaceAll("\\binventory\\b", ""))
    (s, dir) => {
      val tn = writeStagedInventory(s, dir)
      bind(s, dir)
      Engine.view(s, "inventory", s.table(tn))
      s.sql(text)
    }
  }

  private val bindDateDim = Tpcds.binder("date_dim")

  /** q39 as a fused single-derivation program over the staged fact.
    *
    * The staged-text twin of q39 measured NEGATIVE at sf10 (+48%, since
    * retired): the view path's synthesis is YEAR-PRUNED before the cross
    * product materializes (d_year=2001 pushes through the date_dim
    * equi-join into the generator), so each of q39's two CTE references derives only 1/5 of
    * the grid, while the stored table is scanned in FULL twice — layout
    * beat by predicate pushdown into a generator. The fused program keeps
    * the stored fact but removes BOTH structural costs: ONE scan
    * (d_moy ∈ {1,2} via the broadcast date join) feeds a per-(warehouse,
    * item, month) aggregate that is localCheckpointed (~|items|·2 rows)
    * and self-joined month-1 × month-2 — the classic shared-CTE
    * materialization Catalyst won't do itself (the moy filters push below
    * the agg and make the two legs' subtrees unequal, defeating
    * ReuseExchange).
    *
    * The item/warehouse inner joins of the text are provably no-ops on
    * the output: inventory is synthesized as date_dim × (item subset) ×
    * warehouse (every inv FK resolves), the output carries only the _sk
    * keys, and w_warehouse_name is functionally determined by
    * w_warehouse_sk — same group-elimination argument as k23's derived
    * partsupp. Values = tpcds_q39 (shared oracle; GraftSpec twin-rows). */
  private def fusedQ39: Q = { (s, dir) =>
    val tn = writeStagedInventory(s, dir)
    bindDateDim(s, dir)
    val dd = s.table("date_dim")
      .filter(col("d_year") === 2001 && col("d_moy").isin(1, 2))
      .select(col("d_date_sk"), col("d_moy"))
    val stats = s.table(tn)
      .join(broadcast(dd), col("inv_date_sk") === col("d_date_sk"))
      .groupBy(col("inv_warehouse_sk"), col("inv_item_sk"), col("d_moy"))
      .agg(stddev_samp(col("inv_quantity_on_hand")).as("stdev"),
        avg(col("inv_quantity_on_hand")).as("mean"))
      .filter(col("mean") =!= 0 &&
        round(col("stdev") / col("mean"), 6) > 0.5)
      .withColumn("cov", col("stdev") / col("mean"))
      .localCheckpoint()
    val inv1 = stats.filter(col("d_moy") === 1)
      .select(col("inv_warehouse_sk").as("wsk1"), col("inv_item_sk").as("isk1"),
        col("d_moy").as("dmoy1"), col("mean").as("mean1"), col("cov").as("cov1"))
    val inv2 = stats.filter(col("d_moy") === 2)
      .select(col("inv_warehouse_sk").as("wsk2"), col("inv_item_sk").as("isk2"),
        col("d_moy").as("dmoy2"), col("mean").as("mean2"), col("cov").as("cov2"))
    inv1.join(inv2, col("isk1") === col("isk2") && col("wsk1") === col("wsk2"))
      .select(col("wsk1"), col("isk1"), col("dmoy1"), col("mean1"), col("cov1"),
        col("wsk2"), col("isk2"), col("dmoy2"), col("mean2"), col("cov2"))
      .orderBy(asc_nulls_first("wsk1"), asc_nulls_first("isk1"),
        asc_nulls_first("dmoy1"), asc_nulls_first("mean1"),
        asc_nulls_first("cov1"), asc_nulls_first("dmoy2"),
        asc_nulls_first("mean2"), asc_nulls_first("cov2"))
  }

  /** Narrow per-channel sales pricing projections: (sold_date_sk, item_sk,
    * quantity, list_price) for store/catalog/web_sales, range-partitioned
    * and sorted by the date key — the C-Store-style column-subset
    * projection behind the q14/q23 cross-channel class. In the fixture
    * model each sales fact is a synthesized CTE over lineitem, and q14
    * references every channel THREE times (cross_items triple-set,
    * avg_sales, main leg) — nine synthesis passes per run, the round-12
    * verdict's confirmed-structural 3.88x. A production deployment stores
    * the facts once; these writers are that CREATE TABLE AS, kept narrow
    * because `fusedQ14` reads exactly these four columns (column pruning
    * would do the same on a full-width fact; narrow keeps the sandbox disk
    * budget honest). The defining text is the fact's `Tpcds.defHash` plus
    * the column list, so a synthesis edit or a changed projection rebuilds
    * instead of attaching stale rows. */
  def writeStagedSalesPricing(spark: SparkSession, dir: String)
      : (String, String, String) = {
    val suffixes = Seq("sold_date_sk", "item_sk", "quantity", "list_price")
    def channel(p: String, fact: String): String = {
      val cols = suffixes.map(c => s"${p}_$c")
      Staged.table(spark, s"${p}price",
          Tpcds.defHash(fact) + cols.mkString(","), dir) { _ =>
        Tpcds.bindStar(spark, dir)
        spark.table(fact)
          .select(cols.map(col): _*)
          .repartitionByRange(32, col(s"${p}_sold_date_sk"))
          .sortWithinPartitions(col(s"${p}_sold_date_sk"), col(s"${p}_item_sk"))
      }
    }
    (channel("ss", "store_sales"), channel("cs", "catalog_sales"),
      channel("ws", "web_sales"))
  }

  private val bindItemDates = Tpcds.binder("item date_dim")

  /** q14 as a fused program over the staged pricing projections — the
    * k48 pattern applied to the round-12 verdict's worst confirmed-
    * structural TPC-DS shape.
    *
    * Key fusion: ONE per-channel per-item aggregate over the 1999-2001
    * slice — `(item_sk, SUM(quantity * list_price::dec), COUNT(*))` —
    * serves BOTH of the query's shared CTEs at once. avg_sales is the
    * decimal-exact roll-up of the three grids' (sqlp, cnt) partials
    * (decimal sums are associative, so rounding once at the end replays
    * the text's sumd exactly), and each channel's triple set for
    * cross_items is the grid joined to the item dims (an item has a grid
    * row iff it sold in that channel in-window — the same membership the
    * text derives by scanning the fact). The grids and the INTERSECT
    * result are localCheckpointed at ~|items| rows, so the three main
    * legs (d_year=2001, d_moy=11 — zone-map-pruned scans of the
    * date-sorted projections) reuse them without re-derivation. Values =
    * tpcds_q14 (shared oracle; the ROLLUP tail is the text's own). */
  private def fusedQ14: Q = { (s, dir) =>
    val (ssT, csT, wsT) = writeStagedSalesPricing(s, dir)
    bindItemDates(s, dir)
    val sqlh = graft.QueryDsl.sql
    def grid(fact: String, p: String): Unit =
      s.sql(s"""
        SELECT ${p}_item_sk AS item_sk,
               SUM(${p}_quantity * ${sqlh.dmoney(s"${p}_list_price")}) AS sqlp,
               COUNT(*) AS cnt
        FROM $fact, date_dim
        WHERE ${p}_sold_date_sk = d_date_sk AND d_year BETWEEN 1999 AND 2001
        GROUP BY ${p}_item_sk""").localCheckpoint()
        .createOrReplaceTempView(s"g_${p}_m")
    grid(ssT, "ss"); grid(csT, "cs"); grid(wsT, "ws")
    s.sql("""
      SELECT CAST(ROUND(SUM(sqlp), 4) AS DOUBLE) / SUM(cnt) AS average_sales
      FROM (SELECT sqlp, cnt FROM g_ss_m UNION ALL
            SELECT sqlp, cnt FROM g_cs_m UNION ALL
            SELECT sqlp, cnt FROM g_ws_m)""").localCheckpoint()
      .createOrReplaceTempView("avg_sales_m")
    def triples(p: String): String = s"""
      SELECT i.i_brand_id brand_id, i.i_class_id class_id,
             i.i_category_id category_id
      FROM g_${p}_m g JOIN item i ON g.item_sk = i.i_item_sk"""
    s.sql(s"""
      SELECT i_item_sk AS ss_item_sk
      FROM item,
        (${triples("ss")} INTERSECT ${triples("cs")}
         INTERSECT ${triples("ws")}) sq1
      WHERE i_brand_id = brand_id AND i_class_id = class_id
        AND i_category_id = category_id""")
      .localCheckpoint()
      .createOrReplaceTempView("cross_items_m")
    def leg(fact: String, p: String, channel: String): String = s"""
      SELECT '$channel' channel, i_brand_id, i_class_id, i_category_id,
             ${sqlh.sumd(s"${p}_quantity * ${sqlh.dmoney(s"${p}_list_price")}")} sales,
             count(*) number_sales
      FROM $fact, item, date_dim
      WHERE ${p}_item_sk IN (SELECT ss_item_sk FROM cross_items_m)
        AND ${p}_item_sk = i_item_sk AND ${p}_sold_date_sk = d_date_sk
        AND d_year = 2001 AND d_moy = 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING ${sqlh.sumd(s"${p}_quantity * ${sqlh.dmoney(s"${p}_list_price")}")} >
        (SELECT average_sales FROM avg_sales_m)"""
    s.sql(s"""
      SELECT channel, i_brand_id, i_class_id, i_category_id,
             ${sqlh.sumd("CAST(sales AS DECIMAL(24,4))")} AS sum_sales,
             CAST(SUM(number_sales) AS BIGINT) AS sum_number_sales
      FROM (${leg(ssT, "ss", "store")}
            UNION ALL ${leg(csT, "cs", "catalog")}
            UNION ALL ${leg(wsT, "ws", "web")}) y
      GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
      ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST,
               i_class_id NULLS FIRST, i_category_id NULLS FIRST
      LIMIT 100""")
  }

  /** q64's cross_sales aggregate over both of the text's years. */
  private val crossSales: String = {
    val sqlh = graft.QueryDsl.sql
    val refund = s"(${sqlh.dmoney("cr_refunded_cash")} + " +
      s"${sqlh.dmoney("cr_reversed_charge")} + ${sqlh.dmoney("cr_store_credit")})"
    s"""
      WITH cs_ui AS
        (SELECT cs_item_sk,
                ${sqlh.sumd(sqlh.dmoney("cs_ext_list_price"))} AS sale,
                ${sqlh.sumd(refund)} AS refund
         FROM catalog_sales, catalog_returns
         WHERE cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
         GROUP BY cs_item_sk
         HAVING ${sqlh.sumd(sqlh.dmoney("cs_ext_list_price"))} >
           2 * ${sqlh.sumd(refund)})
      SELECT i_product_name product_name, i_item_sk item_sk,
             s_store_name store_name, s_zip store_zip,
             ad1.ca_street_number b_street_number,
             ad1.ca_street_name b_street_name,
             ad1.ca_city b_city, ad1.ca_zip b_zip,
             ad2.ca_street_number c_street_number,
             ad2.ca_street_name c_street_name,
             ad2.ca_city c_city, ad2.ca_zip c_zip,
             d1.d_year AS syear, d2.d_year AS fsyear, d3.d_year s2year,
             count(*) cnt,
             ${sqlh.sumd(sqlh.dmoney("ss_wholesale_cost"))} s1,
             ${sqlh.sumd(sqlh.dmoney("ss_list_price"))} s2,
             ${sqlh.sumd(sqlh.dmoney("ss_coupon_amt"))} s3
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
        AND d1.d_year IN (1999, 1999 + 1)
      GROUP BY i_product_name, i_item_sk, s_store_name, s_zip,
               ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city,
               ad1.ca_zip, ad2.ca_street_number, ad2.ca_street_name,
               ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year"""
  }
  private val bindCrossSales = Tpcds.binder(crossSales)

  /** q64 with the twice-referenced cross_sales CTE derived ONCE — the
    * round-13 verdict's only unadjudicated over-bar TPC-DS shape
    * (1.85-2.06x across two rounds, task 7).
    *
    * The text's final SELECT references cross_sales twice (cs1 year 1999,
    * cs2 year 2000); Catalyst inlines CTEs and pushes the DIFFERENT year
    * filters into each copy, so the two subtrees are unequal and
    * ReuseExchange cannot share them — the entire 17-way join (plus the
    * cs_ui catalog-returns aggregate it contains) runs twice per query.
    * A stage decomposition at sf10 confirms: the two join pipelines
    * are mirror images, each ~half the runtime (see OPTIMIZATION_r14.md).
    * The fused program computes cross_sales ONCE restricted to
    * d1.d_year IN (1999, 2000) — equivalent because syear IS d1.d_year,
    * so filtering the shared derivation to the union of both years and
    * re-filtering per leg is exactly the text's pushed-down pair —
    * localCheckpoints the grouped result (~|item x store x buyer-addr|
    * rows after the selective i_color/i_current_price item filter), and
    * self-joins the two year slices. Same decimal sumd expressions, same
    * ORDER BY: values = tpcds_q64 (shared oracle). This is the k15/k48
    * shared-CTE materialization pattern, not a new layout. */
  private def fusedQ64: Q = { (s, dir) =>
    bindCrossSales(s, dir)
    s.sql(crossSales).localCheckpoint().createOrReplaceTempView("cross_sales_m")
    s.sql("""
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
      FROM cross_sales_m cs1, cross_sales_m cs2
      WHERE cs1.item_sk = cs2.item_sk
        AND cs1.syear = 1999 AND cs2.syear = 1999 + 1
        AND cs2.cnt <= cs1.cnt
        AND cs1.store_name = cs2.store_name
        AND cs1.store_zip = cs2.store_zip
      ORDER BY cs1.product_name, cs1.store_name, cs2.cnt,
               cs1.s1, cs2.s1""")
  }

  val twins: Seq[Twin] = Seq(
    Twin("k45_staged_ds72", "tpcds_q72", staged("tpcds_q72")),
    Twin("k48_fused_ds39", "tpcds_q39", fusedQ39),
    Twin("k58_fused_ds14", "tpcds_q14", fusedQ14),
    Twin("k62_fused_ds64", "tpcds_q64", fusedQ64))
}
