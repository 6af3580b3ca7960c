package graft.functions

import graft.QueryDsl._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF extension surface (SURVEY.md §2.7: GlareDB
  * `UnaryAggregate`/`BinaryAggregate` traits with update/combine/finalize ≙
  * Spark `Aggregator[IN, BUF, OUT]`).
  *
  * RangeAgg is intentionally order-independent (min/max are associative
  * and commutative), so its result is exact and engine-portable — the
  * oracle is MAX(x) - MIN(x).
  */
object RangeAgg extends Aggregator[Double, (Double, Double), Double] {
  override def zero: (Double, Double) =
    (Double.PositiveInfinity, Double.NegativeInfinity)
  override def reduce(b: (Double, Double), a: Double): (Double, Double) =
    (math.min(b._1, a), math.max(b._2, a))
  override def merge(x: (Double, Double), y: (Double, Double)): (Double, Double) =
    (math.min(x._1, y._1), math.max(x._2, y._2))
  override def finish(b: (Double, Double)): Double =
    if (b._1 > b._2) 0.0 else b._2 - b._1
  override def bufferEncoder: Encoder[(Double, Double)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object Aggregators {
  // what `spark.udf.register("range_agg", udaf(RangeAgg))` builds
  val functions: Seq[Declare.Fn] = Seq(
    Declare.fn("range_agg")(es => ScalaAggregator(es, RangeAgg,
      encoderFor(Encoders.scalaDouble), encoderFor(RangeAgg.bufferEncoder),
      aggregatorName = Some("range_agg"))))

  val queries: Map[String, Q] = Map(
    // UDAF through the SQL registry: custom Aggregator usable by name.
    "a01_custom_aggregator" -> { (s, dir) =>
      t(s, dir, "customer")
      s.sql("""
        SELECT c_nationkey, range_agg(c_acctbal) AS bal_range, COUNT(*) AS n
        FROM customer
        GROUP BY c_nationkey
        ORDER BY c_nationkey
      """)
    },

    // SpaceSaving heavy hitters through the TypedImperativeAggregate
    // extension surface: top-10 users by event count from a
    // capacity-bounded mergeable sketch. capacity (4096) exceeds the key
    // cardinality at every fixture SF, so no partial summary ever evicts
    // and the sketch is exact (err 0) — the oracle is the exact top-10.
    // The undersized-capacity error contract is spec-checked in GraftSpec.
    "a02_topk_sketch" -> { (s, dir) =>
      t(s, dir, "events")
      s.sql("""
        SELECT key AS user_id, cnt AS n_events, err,
               -- PARTITION BY cnt % 1 (constant 0, not foldable): the input
               -- is the 10-row sketch output (bounded at any scale), but an
               -- empty/folded partitionSpec makes WindowExec warn about
               -- single-partition movement
               CAST(ROW_NUMBER() OVER (PARTITION BY cnt % 1 ORDER BY cnt DESC, key) AS INT) AS rnk
        FROM (
          SELECT t.key, t.count AS cnt, t.err
          FROM (SELECT inline(topk_sketch(user_id, 10, 4096)) FROM events) t)
        ORDER BY rnk
      """)
    },

    // Mergeable HLL sketch COLUMNS (DataSketches via Spark's
    // hll_sketch_agg / hll_union_agg): per-day sketches built once, then
    // unioned — the incremental distinct-count shape where a 100 TB
    // history is never rescanned: daily sketch partials persist and any
    // rollup (weekly, lifetime) is a union of sketch bytes. HLL register
    // maxes are commutative, so the estimate is deterministic under any
    // partitioning; the oracle pins the exact values and an all-TRUE 5%
    // tolerance bit (q47's pattern).
    "a03_hll_union" -> { (s, dir) =>
      t(s, dir, "events")
      s.sql("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, hll_sketch_agg(user_id) AS sk
          FROM events GROUP BY 1),
        merged AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est_total
          FROM daily),
        exact AS (SELECT COUNT(DISTINCT user_id) AS exact_total FROM events)
        SELECT (SELECT COUNT(*) FROM daily) AS n_days,
               exact.exact_total,
               ABS(merged.est_total - exact.exact_total) * 1.0
                 / exact.exact_total <= 0.05 AS union_ok
        FROM exact CROSS JOIN merged
      """)
    })

  val oracles: Map[String, String] = Map(
    "a03_hll_union" -> """
      SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_total,
             TRUE AS union_ok
      FROM events""",

    "a01_custom_aggregator" -> """
      SELECT c_nationkey, MAX(c_acctbal) - MIN(c_acctbal) AS bal_range,
             COUNT(*) AS n
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",

    "a02_topk_sketch" -> """
      SELECT user_id, COUNT(*) AS n_events, CAST(0 AS BIGINT) AS err,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS INT)
               AS rnk
      FROM events GROUP BY user_id
      ORDER BY n_events DESC, user_id LIMIT 10""")
}
