package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Experimental query variants for A/B measurement (test scope only).
  * Usage: ExpMain <sfDir> <variant...> — times each named variant like
  * AdhocMain's `time` mode.
  */
object ExpMain {
  import graft.QueryDsl.Q

  private def t(s: SparkSession, dir: String, n: String) = Engine.table(s, dir, n)

  /** q11 in ONE DataFrame DAG: no localCheckpoint; the per-part aggregate
    * subtree appears twice (output + threshold) and the shuffle exchange
    * is expected to be reused by ReuseExchangeAndSubquery/AQE. */
  val q11OneDag: Q = { (s, dir) =>
    val (tps, _) = graft.operators.Skew.writeStagedPartsupp(s, dir, 32)
    val sup = t(s, dir, "supplier")
      .join(t(s, dir, "nation").filter(col("n_name") === "NATION_7"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    def byPart = s.table(tps)
      .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
      .withColumn("row_u",
        expr("to_unscaled64(ps_supplycost, 12, 4)") * col("ps_availqty"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("row_u")).as("gu"))
    val threshold = byPart
      .agg((expr("sum_unscaled128(gu, 4, 4)") * lit(0.001)).as("t"))
      .select(col("t"))
    byPart
      .withColumn("value",
        (col("gu").cast(DecimalType(38, 4)) / lit(10000))
          .cast(DecimalType(24, 4)).cast(DoubleType))
      .join(broadcast(threshold), col("value") > col("t"), "inner")
      .select(col("ps_partkey"), col("value"))
      .orderBy(desc("value"))
  }

  /** A catalog twin with AQE disabled for the session — probes how much of
    * the sub-second twins' cost is AQE per-stage re-planning (the plans are
    * layout-pinned: bucketed merges + static broadcasts, nothing for AQE
    * to improve). */
  private def noAqe(name: String): Q = { (s, dir) =>
    s.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries(name)(s, dir)
  }

  private def stagedCbx(name: String): Q = { (s, dir) =>
    val th = graft.operators.CbxLayout.writeStagedHits(s, dir)
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW hits AS SELECT * FROM $th")
    s.sql(graft.queries.ClickBench.text(name).trim)
  }

  val variants: Map[String, Q] = Map(
    "cbx09_staged" -> stagedCbx("cbx_q09"),
    "cbx18_staged" -> stagedCbx("cbx_q18"),
    "cbx10_staged" -> stagedCbx("cbx_q10"),
    "cbx08_staged" -> stagedCbx("cbx_q08"),
    "cbx13_staged" -> stagedCbx("cbx_q13"),
    "q11_onedag" -> q11OneDag,
    "q11_onedag_noaqe" -> { (s, dir) =>
      s.conf.set("spark.sql.adaptive.enabled", "false")
      q11OneDag(s, dir)
    },
    "k08_noaqe" -> noAqe("k08_staged_q11"),
    "k11_noaqe" -> noAqe("k11_staged_q02"),
    "k27_noaqe" -> noAqe("k27_bucketed_q22"),
    "k19_noaqe" -> noAqe("k19_denorm_q05"),
    "k10_noaqe" -> noAqe("k10_bucketed_q13"),
    "k12_noaqe" -> noAqe("k12_bucketed_q12"),
    "k16_noaqe" -> noAqe("k16_staged_q01"),
    "k22_noaqe" -> noAqe("k22_denorm_q06"),
    "k26_noaqe" -> noAqe("k26_denorm_q14"),
    "k04_noaqe" -> noAqe("k04_bucketed_q18"),
    "k03_noaqe" -> noAqe("k03_bucketed_q21"))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Engine.session(appName = "graft-exp")
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      val fn = variants(name)
      val s2 = spark.newSession()
      if (sys.env.contains("EXP_EXPLAIN")) {
        fn(s2, dir).explain("formatted")
        return
      }
      fn(s2, dir).write.format("noop").mode("overwrite").save() // warm
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        fn(s2, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-18s median=${ts.sorted.apply(2)}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      println(s"rows=${fn(s2, dir).count()}")
    }
    spark.stop()
  }
}
