package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** A staged build cut short must never be attached. The sliced ingest
  * writers commit one Spark job (and one `_SUCCESS`) per slice, so a build
  * killed between slices leaves a committed-looking half table (observed
  * at sf100: an ENOSPC left the denormalized lineitem with 300 M of 600 M
  * rows and a live catalog entry). Builds therefore write `<name>__tmp`
  * and publish it by rename; this spec plants such a leftover and checks
  * that the next call discards it and rebuilds the full table. */
class StagedMarkerSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("partial staged build (no marker) is dropped and rebuilt") {
    StagedKit.withWarehouse("marker-spec") { (spark, wh) =>
      val tg = Skew.writeStagedQ16Pairs(spark, dir)
      val fullCount = spark.table(tg).count()
      assert(fullCount > 1)

      // a build that died between slices: truncated rows with their
      // per-job _SUCCESS and a live catalog entry under the temp name,
      // and no published table
      val tmp = Staged.tmpName(tg)
      spark.table(tg).limit((fullCount / 2).toInt)
        .write.format("parquet").saveAsTable(tmp)
      spark.sql(s"DROP TABLE default.$tg")
      val (published, leftover) =
        (new java.io.File(wh, tg), new java.io.File(wh, tmp))
      assert(!published.exists(), "DROP TABLE must delete a managed build")
      assert(new java.io.File(leftover, "_SUCCESS").isFile)
      assert(spark.catalog.tableExists(tmp))

      // a fresh session (same catalog) must not attach the leftover and
      // must rebuild the table to the full row count
      val s2 = spark.newSession()
      val tg2 = Skew.writeStagedQ16Pairs(s2, dir)
      assert(tg2 == tg)
      assert(s2.table(tg2).count() == fullCount,
        "rebuild must restore the full table, not attach the partial one")
      assert(published.isDirectory)
      assert(!leftover.exists() && !s2.catalog.tableExists(tmp),
        "the leftover temp build must be deleted")
    }
  }
}
