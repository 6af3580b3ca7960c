package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** ensureStaged completeness-marker semantics (round 13): a staged-table
  * dir WITHOUT `_GRAFT_COMPLETE` must be treated as a partial build and
  * rebuilt — `_SUCCESS` alone is not completeness because the sliced
  * ingest writers commit one job (and one `_SUCCESS`) per slice, so a
  * build killed between slices leaves a committed-looking half table
  * (observed at sf100: ENOSPC left graft_dnm_lineitem with 300 M of
  * 600 M rows and a live catalog entry). */
class StagedMarkerSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("partial staged build (no marker) is dropped and rebuilt") {
    // Isolated warehouse (round-13 advice): the spec deletes a data file of
    // a live staged table, so pointing it at the SHARED spark-warehouse can
    // collide with other suites' staged tables (or leave partial state an
    // interrupted test run forces them to rebuild). A temp warehouse makes
    // the mutation invisible outside this spec.
    val tmpWh = java.nio.file.Files
      .createTempDirectory("marker-spec-wh").toFile.getAbsolutePath
    // the warehouse dir is a STATIC conf, fixed when the SharedState is
    // built — an already-running shared session would silently keep the
    // shared warehouse, so stop it first (suites run sequentially; the
    // next getOrCreate simply builds a fresh context)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.stop())
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("marker-spec")
      .config("spark.sql.warehouse.dir", tmpWh)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
    }
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      assert(wh.contains("marker-spec-wh"),
        s"spec must run against its own temp warehouse, got $wh")

      val tg = Skew.writeStagedPartQtyGrid(spark, dir)
      val marker = new java.io.File(new java.io.File(wh, tg), "_GRAFT_COMPLETE")
      assert(marker.isFile, "build must write the completion marker")
      val fullCount = spark.table(tg).count()
      assert(fullCount > 0)

      // simulate a build that died between slices: data present (with its
      // per-job _SUCCESS), catalog entry live, but no completion marker —
      // AND the surviving data is truncated, so a silent re-attach would
      // return wrong results
      assert(marker.delete())
      val aFile = new java.io.File(wh, tg).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(aFile.delete(), "simulate a lost slice")

      // a fresh session (same catalog) must detect the missing marker,
      // drop the partial table and rebuild it to the full row count
      val s2 = spark.newSession()
      val tg2 = Skew.writeStagedPartQtyGrid(s2, dir)
      assert(tg2 == tg)
      assert(marker.isFile, "rebuild must restore the marker")
      assert(s2.table(tg2).count() == fullCount,
        "rebuild must restore the full table, not attach the partial one")
    } finally {
      spark.stop()
      rm(new java.io.File(tmpWh))
    }
  }
}
