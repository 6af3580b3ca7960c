package graft.operators

import java.io.File

import org.apache.spark.sql.SparkSession

/** Shared pieces of the staged-table specs: a session on a private temp
  * warehouse, and the small three-slice table the cross-JVM specs build. */
object StagedKit {

  /** Run `body` on a fresh session whose warehouse is a new temp dir,
    * deleting the dir afterwards. The warehouse dir is a STATIC conf, fixed
    * when the SharedState is built, so any running session is stopped
    * first (suites run sequentially; the next getOrCreate simply builds a
    * fresh context). */
  def withWarehouse[A](app: String)(body: (SparkSession, String) => A): A = {
    val wh = java.nio.file.Files.createTempDirectory(app + "-wh").toFile
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = session(wh.getAbsolutePath, app)
    try {
      val conf = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      assert(conf == wh.getAbsolutePath,
        s"spec must run against its own temp warehouse, got $conf")
      body(spark, conf)
    } finally {
      spark.stop()
      graft.Fs.rm(wh)
    }
  }

  def session(wh: String, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[2]").appName(app)
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The cross-JVM specs' table: three slices of `rowsPerSlice` ids. */
  val slices = 3
  val rowsPerSlice = 1000L
  def specTable(spark: SparkSession)(slice: Int => Unit): String =
    Staged.table(spark, "spec", "range ids:v1", "spec-fixture",
        slices = slices) { s =>
      slice(s)
      spark.range(s * rowsPerSlice, (s + 1) * rowsPerSlice).toDF("id")
    }

  /** The same ids in one slice, bucketed and sorted by `id` into four
    * buckets; `onBuild` runs when the call builds the table. */
  def bucketedSpecTable(spark: SparkSession)(onBuild: => Unit): String =
    Staged.table(spark, "specb", "range ids:v1", "spec-fixture",
        Some((4, "id"))) { _ =>
      onBuild
      spark.range(0, slices * rowsPerSlice).toDF("id")
    }

  /** The warehouse's staged dirs of the spec table. */
  def specDirs(wh: String): Seq[String] =
    Option(new File(wh).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith("graft_spec_")).toSeq.sorted

  /** Launch [[StagedChild]] in its own JVM; its output goes to
    * `<signals>/child.log`. */
  def launchChild(wh: String, mode: String, signals: File): Process =
    graft.ChildJvm.launch("graft.operators.StagedChild",
      Seq(wh, mode, signals.getAbsolutePath), new File(signals, "child.log"))
}

/** Child JVM of the cross-JVM specs: builds the spec table on warehouse
  * `args(0)`. Mode `build` builds it whole; mode `halt` kills the JVM after
  * slice 0 is written; mode `block` writes `<args(2)>/started` after
  * slice 0 and waits for `<args(2)>/go` before writing the rest. Mode
  * `bucketed` builds the bucketed spec table instead. */
object StagedChild {
  def main(args: Array[String]): Unit = {
    val Array(wh, mode, signals) = args
    val spark = StagedKit.session(wh, "staged-child")
    if (mode == "bucketed") StagedKit.bucketedSpecTable(spark)(())
    else StagedKit.specTable(spark) { s =>
      if (s == 1) mode match {
        case "build" =>
        case "halt" => Runtime.getRuntime.halt(3)
        case "block" =>
          new File(signals, "started").createNewFile()
          while (!new File(signals, "go").exists()) Thread.sleep(50)
        case other => sys.error(s"unknown mode $other")
      }
    }
    spark.stop()
  }
}
