package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the query catalog.
  *
  * Numeric policy for oracle parity: money/rate doubles are cast to tightly
  * sized decimals before any aggregation (decimal sums are exact and
  * associative, so they are reproducible under any partitioning / merge
  * order), then cast back to double at the end. Widths are chosen so every
  * intermediate stays <= 38 digits in both Spark and DuckDB, which makes the
  * final double bit-identical across engines. See SURVEY.md §7.3.
  */
object QueryDsl {
  type Q = (SparkSession, String) => DataFrame

  /** A strategy twin: `build` returns exactly the rows of the default
    * query `of`, through another physical layout or plan. This one line is
    * the twin's whole registration — its catalog entry, its oracle (the
    * default's) and its same-run bench pair all derive from [[Twin.all]]. */
  final case class Twin(name: String, of: String, build: Q)

  object Twin {
    lazy val all: Seq[Twin] =
      graft.operators.Skew.twins ++ graft.operators.CbxLayout.twins ++
        graft.operators.TpcdsLayout.twins ++ graft.queries.Tpch.twins
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(spark, dir, name)

  /** exact decimal 1.0000 */
  val one: Column = lit(1).cast(DecimalType(5, 4))

  /** money-ish double -> exact decimal(12,4) (prices < 1e6, 2dp) */
  def dmoney(c: Column): Column = c.cast(DecimalType(12, 4))

  /** larger money (o_totalprice < 1e6 too, but headroom) */
  def dbig(c: Column): Column = c.cast(DecimalType(14, 4))

  /** small-magnitude double (qty<=50, rates<=1) -> decimal(6,4) */
  def drate(c: Column): Column = c.cast(DecimalType(6, 4))

  /** Exact sum of a decimal expression surfaced as double.
    *
    * The sum is re-rounded to scale 4 before the double cast: DuckDB's
    * decimal->double cast is not correctly rounded at high scales (it
    * double-rounds through the 10^scale divisor), while Spark's BigDecimal
    * path is. At scale 4 with unscaled values < 2^53 both engines produce
    * the nearest double, so results stay bit-identical.
    */
  def sumd(c: Column): Column =
    sum(c).cast(DecimalType(24, 4)).cast(DoubleType)

  def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  /** `events.ts` (TIMESTAMP_NTZ, microsecond precision in the fixtures) as
    * epoch microseconds. The session time zone is UTC, so the NTZ→TZ cast is
    * value-preserving and this agrees exactly with the DuckDB oracle's
    * `epoch_us(ts)`. All event-time arithmetic is integer microsecond math:
    * exact, portable, and immune to double precision loss. */
  def tsUs(c: Column = col("ts")): Column = unix_micros(c.cast(TimestampType))

  /** Oracle-side SQL fragments mirroring the Spark casts above. */
  object sql {
    def dmoney(c: String) = s"CAST($c AS DECIMAL(12,4))"
    def dbig(c: String) = s"CAST($c AS DECIMAL(14,4))"
    def drate(c: String) = s"CAST($c AS DECIMAL(6,4))"
    val one = "CAST(1 AS DECIMAL(5,4))"
    // ROUND (half away from zero) matches Spark's HALF_UP decimal cast;
    // DuckDB's own decimal->decimal downscale cast truncates instead.
    def sumd(c: String) = s"CAST(ROUND(SUM($c), 4) AS DOUBLE)"
  }
}
