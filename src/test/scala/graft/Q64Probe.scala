package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Scratch: the round-13 verdict's q64 adjudication (task 7) — the only
  * over-bar TPC-DS shape (1.85-2.06x across two rounds) with neither a
  * twin nor a measured negative. Hypothesis: the cross_sales CTE is
  * referenced twice with different year filters, so Catalyst inlines it
  * and the 17-way join (plus the cs_ui aggregate inside it) runs twice —
  * the same shared-CTE defect k15 (tpch_q15) and k48 (tpcds_q39) fixed by
  * materializing once. Times the view path vs the fused k62 program with
  * a stage decomposition. Bench feedback loop only.
  */
object Q64Probe {

  private class StageAcc extends SparkListener {
    case class S(id: Int, name: String, ms: Long, tasks: Int, records: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[S]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val ms = (for { a <- i.completionTime; b <- i.submissionTime }
        yield a - b).getOrElse(-1L)
      stages.add(S(i.stageId, i.name.takeWhile(_ != '\n').take(50), ms,
        i.numTasks, i.taskMetrics.shuffleWriteMetrics.recordsWritten))
    }
    def drainPrint(tag: String): Unit = {
      Thread.sleep(500)
      var s = stages.poll()
      while (s != null) {
        if (s.ms > 100)
          println(f"[$tag] stage ${s.id}%4d ${s.ms}%7d ms ${s.tasks}%4d tasks " +
            f"recW ${s.records}%12d  ${s.name}")
        s = stages.poll()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sf10")
    val spark = Engine.session(cpus = 32, appName = "q64-probe")
    spark.sparkContext.setLogLevel("WARN")
    val acc = new StageAcc
    spark.sparkContext.addSparkListener(acc)

    def timeRuns(tag: String,
        build: () => org.apache.spark.sql.DataFrame, n: Int = 3): Double = {
      build().write.format("noop").mode("overwrite").save() // warm
      acc.stages.clear()
      val runs = (1 to n).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        build().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      acc.drainPrint(tag)
      val med = runs.sorted.apply(n / 2)
      println(f"[$tag] median $med%.3f s  runs ${runs.map(r => f"$r%.3f").mkString(" ")}")
      med
    }

    val sView = spark.newSession()
    timeRuns("tpcds_q64/view",
      () => graft.queries.Tpcds.queries("tpcds_q64")(sView, dir))
    System.gc()
    val sFused = spark.newSession()
    timeRuns("k62_fused_ds64",
      () => SparkEntry.queries("k62_fused_ds64")(sFused, dir))
    spark.stop()
  }
}
