package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's one-call public entry point.
  *
  * Everything the engine installs — session defaults and the
  * GlareDB-compat scalar/aggregate/table-function surface
  * ([[Engine.configure]] adds [[GraftExtensions]]), the custom optimizer
  * rules (decimal-sum fast path, generator cross-join reorder, weak-bloom
  * pruning), and the path-as-table SQL sugar — comes up through this
  * façade, so a user of the reference engine needs exactly two lines to
  * run their queries on Spark:
  *
  * {{{
  * val spark = graft.Graft.session()
  * graft.Graft.sql(spark, "SELECT count(*) FROM 'data/lineitem.parquet'").show()
  * }}}
  *
  * On a cluster, the session comes from the environment instead — start
  * it with `spark.sql.extensions=graft.GraftExtensions`, or [[install]]
  * the same surface onto it without touching its master/conf.
  */
object Graft {

  /** Build a local session with graft's engine defaults and the full
    * function/rule surface installed. */
  def session(cpus: Int = Engine.defaultCpus,
      appName: String = "graft"): SparkSession =
    install(Engine.session(cpus, appName))

  /** Install graft's surface on an EXISTING session (idempotent): the
    * [[GraftExtensions]] functions if it was built without them, the GlareDB
    * dialect (the reference's trim, regexp_replace, concat, ...) and the
    * optimizer rules. Returns the same session for chaining. */
  def install(spark: SparkSession): SparkSession = {
    GraftExtensions.install(spark)
    GraftExtensions.glareDialect(spark)
    Engine.ensureOptimizations(spark)
    spark
  }

  /** SQL with the reference's sugar resolved: `FROM '<path>'`,
    * read_parquet/read_csv/read_text/read_delta/read_iceberg (+ time
    * travel), tpch_gen.* and parquet metadata TVFs. Plain Spark SQL
    * passes through untouched. */
  def sql(spark: SparkSession, query: String): DataFrame =
    sources.GraftSession.sql(spark, query)

  /** Register every fixture table under `dir` as a temp view
    * (region/nation/.../lineitem/events/documents/embeddings). */
  def open(spark: SparkSession, dir: String): SparkSession = {
    Engine.registerAll(spark, dir)
    spark
  }

  /** Ingest-time physical layouts (write once, query many): the staged
    * tables the k-twin queries run on. Each returns the stored table
    * name(s); re-invocations attach the existing tables instead of
    * rebuilding. See operators/Skew.scala for the layout designs and
    * operators/Staged.scala for how a build is published. */
  object layouts {
    /** lineitem + orders co-bucketed on the orderkey (zero-exchange
      * order/line joins) with schema-completion columns materialized. */
    def bucketedTpch(spark: SparkSession, dir: String,
        buckets: Int = operators.Skew.defaultBuckets): (String, String) =
      operators.Skew.writeBucketedTpch(spark, dir, buckets)

    /** The denormalized lineitem projection (C-Store style): order/
      * customer/part attributes folded into the fact, two-level
      * (orderdate file, shipdate row-group) zone-map layout. */
    def denormLineitem(spark: SparkSession, dir: String,
        buckets: Int = operators.Skew.defaultBuckets): String =
      operators.Skew.writeDenormLineitem(spark, dir, buckets)

    /** partsupp + part co-bucketed on the partkey. */
    def partsupp(spark: SparkSession, dir: String,
        buckets: Int = operators.Skew.defaultBuckets): (String, String) =
      operators.Skew.writeStagedPartsupp(spark, dir, buckets)

    /** orders + customer co-bucketed on the custkey. */
    def bucketedOrdersCustomer(spark: SparkSession, dir: String,
        buckets: Int = operators.Skew.defaultBuckets): (String, String) =
      operators.Skew.writeBucketed(spark, dir, buckets)

    /** The pre-aggregated distinct (brand, type, size, suppkey) relation
      * behind TPC-H q16's COUNT(DISTINCT) — a pure function of the part
      * catalog, zone-map-pruned by p_size. */
    def q16Pairs(spark: SparkSession, dir: String): String =
      operators.Skew.writeStagedQ16Pairs(spark, dir)

    /** The ClickBench `hits` projection, range-partitioned by CounterID
      * and sorted (CounterID, EventDate, UserID) — the reference's own
      * partitioned-hits physical order. */
    def stagedHits(spark: SparkSession, dir: String): String =
      operators.CbxLayout.writeStagedHits(spark, dir)

    /** The TPC-DS weekly inventory snapshot grid stored as a fact table,
      * range-partitioned and sorted by (inv_date_sk, inv_item_sk). */
    def stagedInventory(spark: SparkSession, dir: String): String =
      operators.TpcdsLayout.writeStagedInventory(spark, dir)
  }

  /** Reproduce the measurement protocol on any fixture dir: runs the
    * bench main (median-of-n timed runs per query, fresh session per
    * query, calibration + load/steal drift guard, per-run spill metrics)
    * and returns the full-artifact path. `only` filters the headline set;
    * `extra` appends any catalog query. */
  def bench(sfDir: String, only: Seq[String] = Seq.empty,
      extra: Seq[String] = Seq.empty, runs: Int = 5,
      heap: Option[String] = None): java.nio.file.Path = {
    val env = Map("SPARK_GRAFT_SF_DIR" -> sfDir,
      "SPARK_GRAFT_BENCH_RUNS" -> runs.toString) ++
      (if (only.nonEmpty) Map("SPARK_GRAFT_BENCH_ONLY" -> only.mkString(","))
       else Map.empty) ++
      (if (extra.nonEmpty) Map("SPARK_GRAFT_BENCH_EXTRA" -> extra.mkString(","))
       else Map.empty)
    // Bench.main reads its protocol from the environment (the driver's
    // contract); re-exec in-process is not possible without mutating the
    // JVM env, so this wrapper shells out to the same entry point.
    // Heap and --add-opens are INHERITED from this JVM's own runtime args
    // (round-12 advice: a hardcoded -Xmx96g fails outright on a smaller
    // box, and a hand-copied opens list drifts from the canonical set the
    // parent is already running with). `heap` overrides, e.g. Some("32g").
    import scala.jdk.CollectionConverters._
    val parentArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = parentArgs.sliding(2).collect {
      case Seq("--add-opens", v) => Seq("--add-opens", v)
    }.flatten.toSeq ++ parentArgs.filter(_.startsWith("--add-opens="))
    val xmx = heap.map("-Xmx" + _.stripPrefix("-Xmx"))
      .orElse(parentArgs.filter(_.startsWith("-Xmx")).lastOption)
      // no explicit -Xmx on the parent: mirror its effective max heap
      .getOrElse("-Xmx" + (Runtime.getRuntime.maxMemory() >> 20) + "m")
    val cp = System.getProperty("java.class.path")
    val cmd = Seq("java", xmx) ++ opens ++ Seq("-cp", cp, "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*).inheritIO()
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val rc = pb.start().waitFor()
    require(rc == 0, s"bench exited $rc")
    java.nio.file.Paths.get("target/bench.json")
  }
}
