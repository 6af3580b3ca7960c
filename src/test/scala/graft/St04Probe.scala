package graft

/** Scratch: decompose st04_stream_stream_join's bench cost (round 13 —
  * the streaming entries' first perf signal made st04 the single largest
  * sf0.1 headline entry at ~7.4 s). Prints the StreamingQueryProgress
  * duration breakdown (triggerExecution / addBatch / state commit) and
  * the state-store operator metrics so the cost can be attributed to
  * compute vs per-partition state machinery. Bench feedback loop only.
  */
object St04Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session(cpus = 32, appName = "st04-probe")
    spark.sparkContext.setLogLevel("WARN")
    Seq("cold", "warm", "warm2").foreach { label =>
      Seq("st04_stream_stream_join", "st01_stream_hourly").foreach { qn =>
        val s = spark.newSession()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(qn)(s, dir)
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[$label] $qn end-to-end: $dt%.2f s")
      }
    }
    // re-run with progress capture: re-issue the core query inline so we
    // can read lastProgress (SparkEntry's closure stops the query)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val s = spark.newSession()
    val staged = graft.streaming.Streaming.stageDir(dir)
    val evSchema = s.read.parquet(staged).schema
    def side(kind: String, idAs: String, tsAs: String) =
      s.readStream.schema(evSchema).parquet(staged)
        .filter(col("event_type") === kind)
        .select(col("user_id"), col("event_id").as(idAs),
          col("ts").cast(TimestampType).as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val signups = side("signup", "signup_id", "signup_time")
    val purchases = side("purchase", "purchase_id", "purchase_time")
      .withColumnRenamed("user_id", "p_user_id")
    val q = signups.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_time") > col("signup_time") &&
          col("purchase_time") <= col("signup_time") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("st04probe").start()
    q.processAllAvailable()
    q.recentProgress.foreach { p =>
      println(s"[progress] batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${p.durationMs}")
      p.stateOperators.foreach { so =>
        println(s"  state: rows=${so.numRowsTotal} mem=${so.memoryUsedBytes} " +
          s"commitMs=${so.allUpdatesTimeMs}/${so.commitTimeMs} " +
          s"shufflePartitions=${so.numShufflePartitions}")
      }
    }
    q.stop()
    spark.stop()
  }
}
