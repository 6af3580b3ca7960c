package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch: the round-10/11 stretch on the q02/q11 sequential-job floor.
  *
  * The sub-second staged twins (k11_staged_q02, k08_staged_q11) are
  * adjudicated as bounded by 3–4 SEQUENTIAL driver jobs (attach, eager
  * localCheckpoint, broadcast builds, final). This probe (1) records the
  * actual job timeline — spans and the dead driver-side gaps between
  * consecutive jobs — so the floor is measured, not asserted; and (2)
  * times an alternative k08 strategy that drops the eager localCheckpoint
  * in favor of Catalyst's ReuseExchange (threshold branch and output
  * branch share one shuffle, removing a whole blocking job) to see
  * whether fewer sequential jobs actually buys wall time.
  * Bench feedback loop only; not part of the driver contract.
  */
object JobsProbe {

  private class JobAcc extends SparkListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      events.add((j.jobId, "start", j.time))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      events.add((j.jobId, "end", j.time))
    def timeline(tag: String): Unit = {
      Thread.sleep(400)
      val ev = Iterator.continually(events.poll()).takeWhile(_ != null).toSeq
      val jobs = ev.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (id, es) =>
        for {s <- es.find(_._2 == "start"); e <- es.find(_._2 == "end")}
          yield (id, s._3, e._3)
      }
      if (jobs.isEmpty) { println(s"[$tag] no jobs"); return }
      val t0 = jobs.map(_._2).min
      var lastEnd = t0
      jobs.foreach { case (id, s, e) =>
        val gap = s - lastEnd
        println(f"[$tag] job $id%3d  +${s - t0}%6d..+${e - t0}%6d ms  " +
          f"span ${e - s}%5d ms  gap-before ${gap}%5d ms")
        lastEnd = math.max(lastEnd, e)
      }
      val span = jobs.map(_._3).max - t0
      val busy = jobs.map(j => j._3 - j._2).sum
      println(f"[$tag] total span $span%d ms, sum-of-job-spans $busy%d ms " +
        f"(overlap/serialization visible in the difference)")
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sf10")
    val spark = Engine.session(cpus = 32, appName = "jobs-probe")
    spark.sparkContext.setLogLevel("WARN")
    val acc = new JobAcc
    spark.sparkContext.addSparkListener(acc)
    // stage the layouts outside any timed window
    graft.operators.Skew.writeStagedPartsupp(spark, dir,
      graft.operators.Skew.defaultBuckets)

    def med(tag: String, build: SparkSession => org.apache.spark.sql.DataFrame,
        n: Int = 5, timelineOnLast: Boolean = false): Double = {
      val s = spark.newSession()
      build(s).write.format("noop").mode("overwrite").save() // warm
      val runs = (1 to n).map { i =>
        System.gc()
        if (timelineOnLast && i == n) { Thread.sleep(400); acc.events.clear() }
        val t0 = System.nanoTime()
        build(s).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      if (timelineOnLast) acc.timeline(tag)
      val m = runs.sorted.apply(n / 2)
      println(f"[$tag] median $m%.3f s  runs ${runs.map(r => f"$r%.3f").mkString(" ")}")
      m
    }

    println(s"== job timelines + medians at $dir ==")
    val k11 = med("k11_staged_q02",
      s => SparkEntry.queries("k11_staged_q02")(s, dir), timelineOnLast = true)
    val k08 = med("k08_staged_q11",
      s => SparkEntry.queries("k08_staged_q11")(s, dir), timelineOnLast = true)

    // Variant: k08 WITHOUT the eager localCheckpoint — both consumers read
    // the same per-part aggregate subtree; ReuseExchange should share the
    // shuffle, turning checkpoint-job + threshold-job + final-job into
    // threshold-job (builds the shared shuffle) + final-job (reuses it).
    def k08NoCkpt(s: SparkSession): org.apache.spark.sql.DataFrame = {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val (tps, _) = graft.operators.Skew.writeStagedPartsupp(s, dir,
        graft.operators.Skew.defaultBuckets)
      val sup = Engine.table(s, dir, "supplier")
        .join(Engine.table(s, dir, "nation").filter(col("n_name") === "NATION_7"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val byPart = s.table(tps)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("row_u",
          expr("to_unscaled64(ps_supplycost, 12, 4)") * col("ps_availqty"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("row_u")).as("gu"))
      val threshold = byPart
        .agg((expr("sum_unscaled128(gu, 4, 4)") * lit(0.001)).as("t"))
      byPart
        .withColumn("value",
          (col("gu").cast(org.apache.spark.sql.types.DecimalType(38, 4)) / lit(10000))
            .cast(org.apache.spark.sql.types.DecimalType(24, 4))
            .cast(org.apache.spark.sql.types.DoubleType))
        .join(broadcast(threshold), col("value") > col("t"), "inner")
        .select(col("ps_partkey"), col("value"))
        .orderBy(desc("value"))
    }
    val noCkpt = med("k08_noCheckpoint", k08NoCkpt, timelineOnLast = true)
    println(f"k08 localCheckpoint $k08%.3f s vs ReuseExchange $noCkpt%.3f s " +
      f"(${100.0 * (noCkpt - k08) / k08}%+.1f%%)")
    println(f"k11 (timeline above) $k11%.3f s")
    spark.stop()
  }
}
