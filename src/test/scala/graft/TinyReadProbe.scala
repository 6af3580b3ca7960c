package graft

import org.apache.spark.scheduler._

/** Scratch: decompose the 32-core overhead on the kilobyte staged/grid twin
  * reads (round-13 verdict item 6: k42 0.64 s at 32 cores vs 0.15 s at 8 —
  * all five PERF-regressed rows are this band). Runs a sample of the twin
  * band with a stage listener and prints, per query: wall, number of jobs,
  * and per-stage (task count, total task time, stage wall) so the cost can
  * be attributed to task-scheduling fan-out vs something else. Optional
  * second pass re-runs with candidate confs to A/B the fix. Bench feedback
  * loop only.
  */
object TinyReadProbe {

  private class StageAcc extends SparkListener {
    case class St(stageId: Int, nTasks: Int, wallMs: Long, name: String)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for {
        a <- si.submissionTime; b <- si.completionTime
      } yield b - a).getOrElse(-1L)
      stages.add(St(si.stageId, si.numTasks, wall, si.name.takeWhile(_ != '\n')))
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    def reset(): Unit = { stages.clear(); jobs.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = Seq("k37_staged_cbx37", "k38_staged_cbx38", "k39_staged_cbx39",
      "k40_staged_cbx40", "k41_staged_cbx41", "k42_staged_cbx42",
      "k43_staged_cbx05", "k49_grid_cbx08", "k50_grid_cbx09",
      "k57_grid_cbx18")
    val spark = Engine.session(appName = "tinyread-probe")
    spark.sparkContext.setLogLevel("WARN")
    val acc = new StageAcc
    spark.sparkContext.addSparkListener(acc)

    def run(label: String, conf: Map[String, String]): Unit = {
      qs.foreach { q =>
        val s = spark.newSession()
        conf.foreach { case (k, v) => s.conf.set(k, v) }
        // warmup (staging + JIT), then 5 timed runs (bench-like)
        SparkEntry.queries(q)(s, dir).write.format("noop").mode("overwrite").save()
        val times = (1 to 5).map { _ =>
          System.gc()
          acc.reset()
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(s, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // stage detail from the LAST run only
        Thread.sleep(300) // listener bus drain
        val det = acc.stages.toArray(Array.empty[acc.St]).sortBy(_.stageId)
          .map(st => s"#${st.stageId} n=${st.nTasks} wall=${st.wallMs}ms")
          .mkString(" | ")
        val med = times.sorted.apply(times.size / 2)
        println(f"[$label] $q med=$med%.3f runs=${times.map(t => f"$t%.3f").mkString(",")} " +
          s"jobs=${acc.jobs.get} stages: $det")
      }
    }

    run("asis", Map.empty)
    run("mp1", Map("spark.sql.files.minPartitionNum" -> "1"))
    run("asis2", Map.empty)
    spark.stop()
  }
}
