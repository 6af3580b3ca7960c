package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.command.ViewHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Session factory + table registry for the graft engine.
  *
  * Mirrors the reference engine's session defaults (GlareDB
  * `crates/glaredb_core/src/config/session.rs:32` — partitions = cores) with
  * Spark-native equivalents: AQE on, shuffle partitions sized to local cores
  * (not the 200 default), UTC session time zone for oracle parity.
  */
object Engine {

  /** Default parallelism — matches the driver contract (local[32]). */
  def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def session(cpus: Int = defaultCpus, appName: String = "graft"): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
    configure(b, cpus).getOrCreate()
  }

  /** Apply graft's standard configs and [[GraftExtensions]] to any builder
    * (shared by Bench/Verify). */
  def configure(b: SparkSession.Builder, cpus: Int = defaultCpus): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Coalesce respecting parallelism (Spark's default): with
      // parallelismFirst=false AQE targets the 64 MB advisory size, which
      // at sf1 collapsed q18's 184 MB CPU-bound reduce onto 4 of 32 cores
      // (measured: final stage wall 3.2 s on 4 tasks, 0.9 s on 32). Size-
      // first only wins when tasks are I/O-bound or the scheduler is the
      // bottleneck — neither holds for in-memory agg/join reduces here or
      // on a real cluster, where executors idle instead.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // parallelism-first coalescing floors partitions at this size; 1 MB
      // (Spark default) keeps tiny-SF shuffles from fanning to 32 trivial
      // tasks while letting CPU-heavy reduces use every core
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // zstd shuffle/spill compression (default lz4): ~40% smaller shuffle
      // files for a few % CPU — the standard trade at cluster scale, where
      // shuffle bytes are network+disk cost, and on this box the difference
      // between a 600M-row join's transient files fitting the disk or not.
      .config("spark.io.compression.codec", "zstd")
      // reap unreachable shuffle files every 5 min (default 30min is
      // tuned for long-lived clusters; a bench/ingest JVM holding tens of
      // GB of dead shuffle files needs a floor). The round-10 60 s timer
      // could fire a driver System.gc() INSIDE a timed bench window,
      // adding a GC pause to sub-second medians (round-10 advice); the
      // bench/ingest loops run their own between-run GC pulses, so the
      // periodic timer is a backstop, not the mechanism.
      .config("spark.cleaner.periodicGC.interval", "300s")
      // driver-fixtures are small files; keep splits reasonable locally
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // 8 MB: dimension tables always broadcast; fact tables (lineitem is
      // ~10 MB at sf0.1, ~10 GB at sf100) never do — a 64 MB threshold made
      // the fact table a broadcast build side at small sf, which is the
      // wrong plan shape to scale up. AQE still broadcasts runtime-small
      // intermediates.
      .config("spark.sql.autoBroadcastJoinThreshold", (8L << 20).toString)
      // Runtime Bloom-filter join reduction (the reference's scan-filter
      // story — bloom-filtered row-group pruning — expressed at cluster
      // scale): a selective filter on one join side builds a bloom over
      // the join keys and prunes the OTHER side before its shuffle.
      // Spark's default application-side threshold (10 GB) means it never
      // fires below cluster scale; 512 MB aims it at exactly the scans
      // where the shuffle is the bottleneck (the sf10 fact table; on a
      // cluster, anything over ~4 row groups/executor) while keeping the
      // filter OFF when the pruned side is itself small — at 128 MB the
      // filter also fired "backwards" (built over filtered lineitem to
      // prune orders/part), regressing q12/q14 ~25%. The creation-side
      // ceiling is raised 10 MB -> 256 MB: the build is one extra agg
      // over a side the join scans anyway. Measured at sf10, adjacent
      // suite runs: q03 -23%, q04 -17%, q05 -16%, q07 -18%, q10 -11%,
      // q17 -24%, 22-query total 48.8 s vs 53.4 s. Thresholds are
      // sandbox-sized; a 100 TB deploy scales both with executor memory
      // (the trade is one agg pass vs a fact-shuffle percentage).
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        (512L << 20).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        (256L << 20).toString)
      // Creation-item cap stays at Spark's 4M default — raising it was
      // MEASURED NEGATIVE at sf30 (round 9): with maxNumItems=32M, q05's
      // ~6.8M-key orders bloom fires and costs +15..50% (14.98 s off /
      // 17.2-22.6 s on across 3 A/B runs) and q03's ~8M-key bloom +20%
      // (11.2 -> 13.4 s). Past ~4M items the filter auto-sizes to the 8 MB
      // bit cap, every probe is a cache miss on 180M fact rows, and the
      // creation adds a full extra pass over filtered orders — the sf10
      // win (1 MB L2-resident filter) inverts. Queries whose keys outgrow
      // the cap want the staged-layout twins (k19/k21), not a bigger
      // bloom; Spark's default cap is the right cliff-edge.
      // Filter sizing stays at Spark's default (1M items / 8.4M bits =
      // 1 MB): measured at sf10 q05 (2.3M filtered orderkeys, FPP ~28%),
      // the 1 MB filter beats FPP-optimal 4 MB sizing (3.01 s vs 3.67 s)
      // and a k=1 same-memory variant (3.20 s) — the probe loop is
      // L2-resident at 1 MB and the residual false-pass rows are cheap
      // SMJ skips.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Sort-merge stays the default join. Shuffled-hash was measured both
      // ways at sf10: -30% on the dim-heavy shapes (q03 3.3->2.4 s, q05
      // 4.7->3.3 s) but +10-30% on the 4+-way fact joins (q07/q08/q10/q13,
      // hash-map build + GC pressure), net zero across TPC-H — not worth
      // trading SMJ's spill robustness for at 100 TB.
      // Spark 4 session artifact isolation namespaces the whole-stage
      // codegen cache by session classloader: every newSession() recompiles
      // identical generated code (2 Janino compiles/query) and then runs
      // the fresh classes JIT-cold — measured 3-5x on scan-agg queries
      // (q06 @sf1: ~600 ms -> ~140 ms). The engine never uses session
      // artifacts (addArtifact), so isolation buys nothing here.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The codegen cache (a Guava cache of maxEntries, default 100) is
      // split into 4 LRU segments of ~25, and its key hashes the class
      // loader's identity hash. So whether one workload's generated classes
      // (77 for four TPC-H queries) overflow a segment was decided per JVM
      // by chance; an overflowing segment thrashes on a pass's cyclic
      // order, recompiling 15-26 classes a warm pass that then run
      // JIT-cold. Static: read once when CodeGenerator initialises.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // Report bucketed scans' write-time sort order (Spark gates this
      // behind a legacy flag; it only ever applies when each bucket is a
      // single file, which the staged writers guarantee by repartitioning
      // on the bucket key before the bucketed write). Without it every
      // merge join over the staged tables re-Sorts ~GB per task of data
      // that is already sorted on disk — measured 2x on the sf30 twins.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // `file:` reads and sets permissions and link targets in-process
      // (NioLocalFs.scala): without libhadoop Hadoop's own local
      // filesystem starts a chmod/readlink/ls process for each, hundreds
      // per run of the st04 stream join's checkpoint and state commits.
      .config(NioLocalFs.confs.toMap)
  // NOTE on parquet timestamps: deprecated INT96 (Spark's compatibility
  // default for session-tz TimestampType) carries NO footer min/max
  // statistics, so row-group pruning and footer-based selectivity
  // estimation (plans/PruneWeakBloom.scala) are blind on it. All engine
  // DATE-like columns are TIMESTAMP_NTZ (like the driver fixtures), which
  // always writes INT64 micros WITH stats — ScaleGen generates NTZ
  // directly. outputTimestampType is deliberately NOT forced session-wide:
  // derived tz-aware outputs (window(), to_utc_timestamp) must keep
  // writing INT96 so the driver's pyarrow-side compare reads them naive,
  // matching the DuckDB oracle (measured: forcing TIMESTAMP_MICROS broke
  // q52/st01/st06 with tz-aware-vs-naive value mismatches).

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Graft's optimizer rules, installed idempotently on first
    * fixture-table access. They stay in `extraOptimizations`, the final
    * optimizer batch: an extension's rule runs in the operator-optimization
    * batches instead, where each of them plans differently. */
  def ensureOptimizations(spark: SparkSession): Unit = {
    val rules = Seq(
      // exact-decimal sum fast path (functions/DecimalSum.scala); before
      // Spark's DecimalAggregates it also takes the decimal(6,4) sums
      graft.functions.DecimalSumRewrite,
      // push selective joins below tiny constant cross joins, which earns
      // the pure SQL of tpch_q16/q20 the twins' filtered-generator plan;
      // in the operator-optimization batch it misses tpch_q16
      graft.plans.PushJoinThroughTinyCross,
      // drops injected blooms whose creation side keeps >25% of rows, so
      // it must follow InjectRuntimeFilter, which follows every batch an
      // extension's rule can join
      graft.plans.PruneWeakBloom)
    val opts = spark.experimental.extraOptimizations
    val missing = rules.filterNot(opts.contains)
    if (missing.nonEmpty) spark.experimental.extraOptimizations = opts ++ missing
  }

  /** The fixture catalog: one resolved relation per parquet path, with the
    * signature it was resolved at. `spark.read.parquet` lists the files and
    * reads a footer on every call (11-14 ms warm on a 4-vCPU VM); a
    * production engine keeps that in its catalog. A rewritten file or flat
    * directory changes its signature and is resolved again, replacing its
    * entry; so is an entry whose resolving session's context has stopped. */
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), HadoopFsRelation)]()

  /** `(mtime, size)` of a file; of a flat (all-regular-file) directory, its
    * mtime and its children's aggregate (size, mtime). None for anything
    * else: a nested or partitioned layout can be rewritten in place without
    * changing the subdirectories' own length/mtime. */
  private def signature(f: java.io.File): Option[(Long, Long)] =
    if (f.isFile) Some((f.lastModified(), f.length()))
    else if (f.isDirectory) {
      val parts = f.listFiles()
      if (parts.forall(_.isFile))
        Some((f.lastModified(), parts.foldLeft(0L)((a, p) =>
          a ^ java.lang.Long.rotateLeft(p.length() + p.lastModified(), 17))))
      else None
    } else None

  /** Read one fixture table and register it as a temp view. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    bind(spark, name, s"$dir/$name.parquet")

  /** Register the parquet file or directory at `path` as temp view `name`.
    * The cached relation is copied onto the caller, so parquet reading
    * follows that session's conf. */
  def bind(spark: SparkSession, name: String, path: String): DataFrame = {
    ensureOptimizations(spark)
    signature(new java.io.File(path)) match {
      case Some(sig) =>
        val (_, rel) = relations.compute(path, (_, old) =>
          if (old != null && old._1 == sig && !old._2.sparkSession.sparkContext.isStopped) old
          else (sig, spark.read.parquet(path).queryExecution.analyzed.collectFirst {
            case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
          }.get))
        view(spark, name, spark.baseRelationToDataFrame(rel.copy()(spark)))
      case None =>
        val df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        df
    }
  }

  /** Register `df`'s analyzed plan as temp view `name` by a catalog insert:
    * the steps of `CreateViewCommand.run` without the SQL execution
    * (planning, a listener event, a retained UI record) around them. */
  def view(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val catalog = spark.sessionState.catalog
    catalog.createTempView(name, ViewHelper.createTemporaryViewRelation(
      TableIdentifier(name), spark, replace = true, catalog.getRawTempView,
      originalText = None, analyzedPlan = plan, aliasedPlan = plan,
      referredTempFunctions = Nil), overrideIfExists = true)
    df
  }

  /** Register every fixture table as a temp view (for spark.sql queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(table(spark, dir, _))
}
