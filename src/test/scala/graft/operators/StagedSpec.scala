package graft.operators

import java.io.File
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The staged-table publish protocol across JVMs: `<warehouse>/<name>`
  * exists only once the table is complete (see [[Staged]]). Each test runs
  * on its own temp warehouse; the cross-JVM ones launch [[StagedChild]]. */
class StagedSpec extends AnyFunSuite {

  private val full = StagedKit.slices * StagedKit.rowsPerSlice

  private def signalsDir(): File =
    java.nio.file.Files.createTempDirectory("staged-signals").toFile

  private def childLog(signals: File): String = {
    val f = new File(signals, "child.log")
    if (f.isFile) new String(java.nio.file.Files.readAllBytes(f.toPath))
    else "(no child log)"
  }

  private def awaitExit(p: Process, signals: File): Int = {
    assert(p.waitFor(180, TimeUnit.SECONDS),
      s"child did not exit:\n${childLog(signals)}")
    p.exitValue()
  }

  test("a build killed between slices is never published and is rebuilt") {
    StagedKit.withWarehouse("staged-kill") { (spark, wh) =>
      val signals = signalsDir()
      try {
        val child = StagedKit.launchChild(wh, "halt", signals)
        assert(awaitExit(child, signals) == 3,
          s"child must halt after slice 0:\n${childLog(signals)}")
        val left = StagedKit.specDirs(wh)
        assert(left.size == 1 && left.head.endsWith("__tmp"),
          s"a killed build leaves only its temp dir, got $left")

        val name = StagedKit.specTable(spark)(_ => ())
        assert(spark.table(name).count() == full)
        assert(StagedKit.specDirs(wh) == Seq(name),
          "the rebuild must publish the table and delete the temp dir")
      } finally graft.Fs.rm(signals)
    }
  }

  test("a second JVM waits for an in-flight build and attaches it") {
    StagedKit.withWarehouse("staged-race") { (spark, wh) =>
      val signals = signalsDir()
      try {
        val child = StagedKit.launchChild(wh, "block", signals)
        val started = new File(signals, "started")
        val deadline = System.nanoTime() + 180L * 1000000000L
        while (!started.exists() && child.isAlive &&
          System.nanoTime() < deadline) Thread.sleep(100)
        assert(started.exists(),
          s"child never reached slice 1:\n${childLog(signals)}")

        val invoked = new AtomicBoolean(false)
        val call = Future(StagedKit.specTable(spark)(_ => invoked.set(true)))(
          ExecutionContext.global)
        Thread.sleep(3000)
        assert(!call.isCompleted,
          "the second caller must wait for the in-flight build")
        new File(signals, "go").createNewFile()
        val name = Await.result(call, 180.seconds)
        assert(awaitExit(child, signals) == 0, childLog(signals))

        assert(!invoked.get, "the waiting caller must attach, not rebuild")
        assert(spark.table(name).count() == full)
        assert(StagedKit.specDirs(wh) == Seq(name))
      } finally graft.Fs.rm(signals)
    }
  }

  test("a plain table another JVM built is read by path, with no catalog entry") {
    StagedKit.withWarehouse("staged-plain") { (spark, wh) =>
      val signals = signalsDir()
      try {
        val child = StagedKit.launchChild(wh, "build", signals)
        assert(awaitExit(child, signals) == 0, childLog(signals))

        val name = StagedKit.specTable(spark)(_ => fail("the published table was rebuilt"))
        assert(spark.table(name).count() == full)
        assert(!spark.sessionState.catalog.tableExists(TableIdentifier(name)),
          "a plain staged table needs no session catalog entry")
      } finally graft.Fs.rm(signals)
    }
  }

  test("a bucketed table another JVM built keeps its bucket spec and joins without an exchange") {
    StagedKit.withWarehouse("staged-bucketed") { (spark, wh) =>
      val signals = signalsDir()
      try {
        val child = StagedKit.launchChild(wh, "bucketed", signals)
        assert(awaitExit(child, signals) == 0, childLog(signals))

        val name = StagedKit.bucketedSpecTable(spark)(fail("the published table was rebuilt"))
        val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
        assert(meta.bucketSpec.contains(BucketSpec(4, Seq("id"), Seq("id"))),
          s"bucket spec: ${meta.bucketSpec}")
        // a size-based broadcast would hide the co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val t = spark.table(name)
        val joined = t.as("a").join(t.as("b"), col("a.id") === col("b.id"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"the bucketed self-join shuffles:\n$plan")
        assert(joined.count() == full)
      } finally graft.Fs.rm(signals)
    }
  }

  test("DROP TABLE of a fresh bucketed build deletes it; the next call rewrites it") {
    StagedKit.withWarehouse("staged-drop") { (spark, wh) =>
      val dir = "/root/testdata/sf0.001"
      val (tli, tor) = graft.Graft.layouts.bucketedTpch(spark, dir, 4)
      val rows = spark.table(tli).count()
      assert(rows == spark.read.parquet(s"$dir/lineitem.parquet").count())
      val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(tli))
      assert(meta.tableType.name == "MANAGED")
      assert(meta.bucketSpec.exists(_.numBuckets == 4),
        "the rename must keep the bucket spec")

      Seq(tli, tor).foreach(t => spark.sql(s"DROP TABLE $t"))
      assert(!new File(wh, tli).exists() && !new File(wh, tor).exists(),
        "DROP TABLE must delete a freshly built table's files")

      val again = graft.Graft.layouts.bucketedTpch(spark, dir, 4)
      assert(again == ((tli, tor)))
      assert(new File(wh, tli).isDirectory && new File(wh, tor).isDirectory)
      assert(spark.table(tli).count() == rows)
      assert(!new File(wh, Staged.tmpName(tli)).exists())
    }
  }
}
