package graft

import org.apache.spark.sql.functions._

/** Scratch: the round-12 verdict's at-scale d04 value check (task 5).
  *
  * Runs the full d04 pipeline at sf100 (5 M docs — the 3×19-bit adaptive
  * band regime, never value-checked before) and dumps the two artifacts
  * the DuckDB replay (`scripts/d04_at_scale.py`) consumes:
  *   - `target/d04_sf100/pairs` — the 200-row d04 output;
  *   - `target/d04_sf100/sigs`  — every doc's 64-bit simhash signature,
  *     so DuckDB can independently replay the ADAPTIVE LAYOUT + banding
  *     join + Hamming filter over all 5 M signatures (the full per-char
  *     FNV replay at 5 M docs is ~8 h of DuckDB lambda time — measured
  *     30 s at 5 k docs — so the kernel itself is re-derived in DuckDB on
  *     a deterministic 2 000-doc sample instead; it is already validated
  *     bit-exact on the full fixtures at sf0.01/sf0.1).
  * Bench feedback loop only; not part of the driver contract.
  */
object D04Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sf100")
    val spark = Engine.session(cpus = 32, appName = "d04-probe")
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    SparkEntry.queries("d04_simhash_pairs")(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet("target/d04_sf100/pairs")
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[d04] pairs written in $dt%.1f s")
    Engine.table(spark, dir, "documents")
      .select(col("doc_id"), expr(
        "simhash64(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '))")
        .as("sim"))
      .write.mode("overwrite").parquet("target/d04_sf100/sigs")
    println("[d04] sigs written")
    spark.stop()
  }
}
