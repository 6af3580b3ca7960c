package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{Engine, Graft, ScaleGen, SparkEntry}

/** The JVM side of the benchmark (`perfbench/run.py` drives it).
  *
  *   gen <sf> <outDir> <workDir>
  *       write every ScaleGen table at scale factor `sf` under `outDir` as
  *       one parquet file per table, the layout of the engine's reference
  *       fixtures (into a sibling temp dir first, renamed when complete)
  *   oracles <file> <op,op,...>
  *       write the DuckDB oracle SQL (`SparkEntry.oracleSql`) of the ops
  *   run key=value ...
  *       one benchmark run of a workload; writes result.json (and, traced,
  *       spans.json) into `out`
  *
  * A run: drift probe; `setups` x (session + Graft.install), median kept;
  * one cold pass, whose results are also written for the oracle compare;
  * `warm_passes` warm passes, and more until `seconds` of warm time; drift
  * probe. Each op runs in a fresh child session; warm results are forced
  * through the noop sink. The op order of every warm pass is a permutation
  * drawn from the seed. In a traced run the first warm pass settles the JIT
  * and the later ones are traced and untraced in ABBA order. */
object Harness {

  /** Ops that are not `SparkEntry.queries` entries. */
  val LayoutOp = "layout_bucketed_tpch"

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") => gen(args(1).toDouble, args(2), args(3))
    case Some("oracles") =>
      val ops = args(2).split(',').toSet
      Files.write(Paths.get(args(1)),
        js(SparkEntry.oracleSql.filter { case (k, _) => ops(k) }).getBytes(UTF_8))
    case Some("run") =>
      run(args.drop(1).map { a =>
        val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
      }.toMap)
    case _ =>
      System.err.println(
        "usage: Harness gen <sf> <outDir> <workDir> | oracles <file> <ops> | run k=v ...")
      sys.exit(2)
  }

  private def builder(cpus: Int, work: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.log.level", "WARN")

  def gen(sf: Double, out: String, work: String): Unit = {
    val cpus = Engine.defaultCpus
    val spark = Engine.configure(builder(cpus, work), cpus).getOrCreate()
    val tmp = new File(out + ".tmp")
    rm(tmp)
    try ScaleGen.tables.foreach { t =>
      val parts = new File(tmp, s"$t.parts")
      ScaleGen.gen(spark, t, sf).coalesce(1).write.mode("overwrite")
        .parquet(parts.getPath)
      val file = parts.listFiles().filter(_.getName.endsWith(".parquet"))
      require(file.length == 1, s"expected one parquet file in $parts")
      require(file(0).renameTo(new File(tmp, s"$t.parquet")), s"could not move $t")
      rm(parts)
    } finally spark.stop()
    require(tmp.renameTo(new File(out)), s"could not publish $out")
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def size(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat */
  private def jiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the CPU time between two `jiffies()` readings that the
    * hypervisor gave to other tenants, in percent. */
  private def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0

  /** The fixed-work single-thread probe of `graft.Bench.calibrate`, at a
    * tenth of its work (2e8 xorshift steps, about half a second), so that
    * running it at both ends of every run stays cheap. */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 200000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // keeps the loop live
    dt
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread, user + system), in ns, at
    * the clock tick's resolution (10 ms on Linux). On a kernel with
    * paravirtual steal accounting it leaves out the time the hypervisor
    * gave the CPUs to other tenants. */
  private def cpuNs(): Long = os.getProcessCpuTime

  /** Heap in use after full GCs, repeated until it stops falling: a GC
    * makes Spark's ContextCleaner release broadcast and shuffle blocks
    * asynchronously, and only a later GC frees them. */
  private def heapAfterGc(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = used()
    var cur = prev
    var i = 0
    while ({ Thread.sleep(200); cur = used(); i += 1
             cur < prev - (1L << 20) && i < 10 }) prev = cur
    cur / 1048576.0
  }

  private def js(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  final case class Span(id: Int, parent: Int, name: String, op: String,
      start_ns: Long, dur_ns: Long)

  def run(a: Map[String, String]): Unit = {
    val data = a("data")
    val ops = a("ops").split(',').toSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val setups = a("setups").toInt
    val warmPasses = a("warm_passes").toInt
    val out = new File(a("out"))
    val work = a("work")
    out.mkdirs()
    val t00 = System.nanoTime()
    val epoch00 = System.currentTimeMillis()
    def now(): Long = System.nanoTime() - t00
    /** a listener's wall-clock ms on the run's clock */
    def runNs(epochMs: Long): Long = (epochMs - epoch00) * 1000000L

    // drift guard, part one (before any Spark work)
    val loadPre = loadavg()
    val jPre = jiffies()
    val calPre = calibrate()

    // set-up: session + install, `setups` times; all but the last stopped
    val setupS = mutable.ArrayBuffer[Double]()
    val setupCpuS = mutable.ArrayBuffer[Double]()
    val sessionS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      spark = Engine.configure(builder(cpus, work), cpus).getOrCreate()
      val t1 = System.nanoTime()
      Graft.install(spark)
      val t2 = System.nanoTime()
      setupCpuS += (cpuNs() - c0) / 1e9
      sessionS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
    }
    val sc = spark.sparkContext

    val trace = new Trace
    if (traced) sc.addSparkListener(trace)
    val spans = mutable.ArrayBuffer[Span]()
    def span(parent: Int, name: String, op: String, s: Long, d: Long): Int = {
      spans += Span(spans.size + 1, parent, name, op, s, d); spans.size
    }
    val runSpan = span(0, "run", "", 0L, 0L)

    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    val layoutRows = mutable.Map[String, Any]()

    def fail(op: String, pass: Int, kind: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.take(3).mkString(" | ")
      System.err.println(s"[perfbench] $op ($kind pass $pass) FAILED: $msg")
      failures += Map("op" -> op, "pass" -> pass, "kind" -> kind,
        "error" -> msg.take(500))
    }

    /** Staged tables of the layout op, dropped after each op so the next
      * pass writes them again instead of attaching them by content tag. */
    def dropLayout(s: SparkSession, tables: (String, String)): Unit =
      Seq(tables._1, tables._2).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))

    def warehouseBytes(tables: (String, String)): Long =
      Seq(tables._1, tables._2).map(t => size(new File(s"$work/warehouse/$t"))).sum

    val checkDir = new File(out, "check")

    /** One op in a fresh child session; returns the op's record. The cold
      * pass writes each result to parquet for the oracle compare (and
      * counts the layout op's staged rows); warm passes use the noop sink. */
    def runOp(name: String, pass: Int, kind: String,
        traceOp: Boolean): Map[String, Any] = {
      val opStart = now()
      val s = spark.newSession()
      val opId = s"$kind-$pass-$name"
      sc.setJobGroup(opId, opId)
      val c = if (traceOp) trace.begin(opId) else null
      if (traceOp) {
        s.listenerManager.register(trace.queryListener(c))
        s.streams.addListener(trace.streamListener(c))
      }
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgT0 = CodeGenerator.compileTime
      val wall0 = System.currentTimeMillis()
      val cpu0 = cpuNs()
      val t0 = now()
      var t1 = t0
      var t2 = t0
      var buildAnalysisMs = 0L
      var ok = true
      var written = 0L
      var staged: Option[(String, String)] = None
      try {
        if (name == LayoutOp) {
          staged = Some(Graft.layouts.bucketedTpch(s, data))
          t1 = now(); t2 = t1
        } else {
          val df = SparkEntry.queries(name)(s, data)
          t1 = now()
          buildAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
          if (kind == "cold")
            df.write.mode("overwrite").parquet(new File(checkDir, name).getPath)
          else df.write.format("noop").mode("overwrite").save()
          t2 = now()
        }
      } catch { case e: Throwable => ok = false; t2 = now(); fail(name, pass, kind, e) }
      val cpu = cpuNs() - cpu0
      val wall1 = System.currentTimeMillis()
      val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
      val cgNs = CodeGenerator.compileTime - cgT0
      sc.clearJobGroup()
      System.err.println(f"[perfbench] $kind%s $pass%d $name%s ${(t2 - t0) / 1e9}%.3f s")
      // untimed: what the layout op wrote, its row counts (cold pass), and
      // the drop that makes the next pass write it again
      staged.foreach { tables =>
        try {
          written = warehouseBytes(tables)
          if (kind == "cold") {
            def n(t: String) = s.table(t).count()
            def src(t: String) = s.read.parquet(s"$data/$t.parquet").count()
            layoutRows(name) = Map(
              "lineitem" -> Seq(n(tables._1), src("lineitem")),
              "orders" -> Seq(n(tables._2), src("orders")))
          }
          dropLayout(s, tables)
          if (written <= 0)
            throw new IllegalStateException(s"$name wrote no bytes")
        } catch { case e: Throwable => ok = false; fail(name, pass, kind, e) }
      }
      val opEnd = now()
      val base = Map[String, Any]("op" -> name, "pass" -> pass,
        "kind" -> kind, "traced" -> traceOp, "ok" -> ok,
        "wall_s" -> (t2 - t0) / 1e9, "proc_cpu_s" -> cpu / 1e9,
        "codegen_compiles" -> cgN, "codegen_s" -> cgNs / 1e9,
        "written_bytes" -> written,
        "t0_ns" -> t0, "t1_ns" -> t1, "op_start_ns" -> opStart, "op_end_ns" -> opEnd,
        "wall0_ms" -> wall0, "wall1_ms" -> wall1)
      if (traceOp) base ++ Map("counters" -> c, "analysis_build_ms" -> buildAnalysisMs)
      else base
    }

    /** Traced records carry their OpCounters until the bus has drained;
      * this flattens them into numbers and spans. The op span runs from
      * before its session is created to after its untimed layout work, on
      * the harness's own clock. Its children come from other sources: the
      * child session's creation and the `SparkEntry.queries` call (timed
      * here), the tracker's planning phases and the listener's job
      * intervals. Where none of them covers the op, the op's time is its
      * own (`self.op_s`). */
    def settle(rec: Map[String, Any], passSpan: Int): Map[String, Any] =
      rec.get("counters") match {
        case Some(c: OpCounters) => c.synchronized {
          val name = rec("op").toString
          val t0 = rec("t0_ns").asInstanceOf[Long]
          val t1 = rec("t1_ns").asInstanceOf[Long]
          val opStart = rec("op_start_ns").asInstanceOf[Long]
          val opEnd = rec("op_end_ns").asInstanceOf[Long]
          val streamNs = c.streamTriggerMs * 1000000L
          val planS = (c.optimizeMs + c.physicalMs) / 1e3
          val opSpan = span(passSpan, "op", name, opStart, opEnd - opStart)
          def child(n: String, s: Long, e: Long): Unit = {
            val (a, b) = (math.max(s, opStart), math.min(e, opEnd))
            if (b > a) span(opSpan, n, name, a, b - a)
          }
          child("session", opStart, t0)
          // the drain of a stream happens inside the queries call: its
          // micro-batch time is the streaming layer's, not the build's
          if (name != LayoutOp) {
            val buildEnd = math.max(t0, t1 - streamNs)
            child("queries.build", t0, buildEnd)
            child("stream.run", buildEnd, t1)
          }
          c.planSpans.foreach { case (s, e) => child("plans.plan", runNs(s), runNs(e)) }
          c.jobSpans.foreach { case (s, e) => child("exec", runNs(s), runNs(e)) }
          val nostageMs = Intervals.uncovered(
            rec("wall0_ms").asInstanceOf[Long], rec("wall1_ms").asInstanceOf[Long],
            c.stageSpans.toSeq)
          (rec - "counters") ++ Map(
            "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "empty_tasks" -> c.emptyTasks, "sched_delay_s" -> c.schedDelayMs / 1e3,
            "nostage_s" -> nostageMs / 1e3,
            "run_s" -> c.runMs / 1e3, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
            "scan_bytes" -> c.scanBytes, "in_rows" -> c.inRecs,
            "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead,
            "fetch_wait_s" -> c.fetchWaitMs / 1e3,
            "spill_mem" -> c.memSpill, "spill_disk" -> c.diskSpill,
            "aqe_updates" -> trace.aqeUpdatesOf(c),
            "analysis_ms" -> (rec("analysis_build_ms").asInstanceOf[Long] + c.analysisMs),
            "optimize_ms" -> c.optimizeMs, "physical_ms" -> c.physicalMs,
            "plan_s" -> planS, "cache_mem_bytes" -> c.cacheMemPeak,
            "stream_batches" -> c.streamBatches, "stream_trigger_s" -> c.streamTriggerMs / 1e3,
            "stream_commit_s" -> c.streamCommitMs / 1e3,
            "stream_state_rows" -> c.streamStateRows)
        }
        case _ => rec
      }

    def runPass(pass: Int, kind: String, traceIt: Boolean): Unit = {
      // first-use costs (class loading, JIT, codegen) land on whichever op
      // runs first, so the cold pass keeps the workload's own order and
      // only warm passes take a seeded permutation
      val order =
        if (kind == "cold") ops
        else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val p0 = now()
      val recs = order.map(op => runOp(op, pass, kind, traceIt))
      val passSpan = span(runSpan, "pass", kind, p0, now() - p0)
      if (traceIt) PerfbenchBus.drain(sc)
      records ++= recs.map(settle(_, passSpan))
      passes += Map("pass" -> pass, "kind" -> kind, "traced" -> traceIt,
        "wall_s" -> recs.map(_("wall_s").asInstanceOf[Double]).sum,
        "proc_cpu_s" -> recs.map(_("proc_cpu_s").asInstanceOf[Double]).sum,
        "heap_live_mb" -> heapAfterGc())
    }

    // cold pass: the first in this JVM, so it pays JIT, codegen and caches
    val jCold = jiffies()
    runPass(0, "cold", traced)
    val jWarm = jiffies()
    // warm passes: at least `warmPasses` whole passes, and more until
    // `seconds` of warm time. A traced run settles the JIT with one
    // untraced pass, then runs traced (A) and untraced (B) passes in ABBA
    // blocks, so untraced minus traced throughput is the overhead and not
    // the JIT still finishing.
    val abba = Seq(true, false, false, true)
    def tracedPass(pass: Int): Boolean = traced && pass >= 2 && abba((pass - 2) % 4)
    val minPasses = if (traced) 1 + abba.size else warmPasses
    var warm = 0.0
    var pass = 1
    while (pass <= minPasses || warm < seconds || (traced && (pass - 2) % 4 != 0)) {
      runPass(pass, "warm", tracedPass(pass))
      warm += passes.last("wall_s").asInstanceOf[Double]
      pass += 1
    }
    val jEnd = jiffies()

    spark.stop()
    // drift guard, part two (after Spark has stopped)
    val calPost = calibrate()
    val jPost = jiffies()

    val result = Map[String, Any](
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS, "session_s" -> sessionS,
      "records" -> records, "passes" -> passes, "failures" -> failures,
      "layout_rows" -> layoutRows,
      "drift" -> Map("calibration_s" -> Seq(calPre, calPost),
        "loadavg_pre" -> loadPre, "loadavg_post" -> loadavg(),
        "steal_pct" -> stealPct(jPre, jPost),
        "steal_cold_pct" -> stealPct(jCold, jWarm),
        "steal_warm_pct" -> stealPct(jWarm, jEnd)))
    Files.write(new File(out, "result.json").toPath, js(result).getBytes(UTF_8))
    if (traced) {
      spans(0) = spans(0).copy(dur_ns = now())
      Files.write(new File(out, "spans.json").toPath, js(spans).getBytes(UTF_8))
    }
  }
}
