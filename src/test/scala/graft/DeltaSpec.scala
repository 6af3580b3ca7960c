package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Delta read-path invariants: log replay, tombstones, partition injection,
  * checkpoint seeding. Value parity is oracle-checked driver-side
  * (delta01–delta03); these lock the protocol behaviors locally. */
class DeltaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cpus = 8, appName = "graft-delta-test")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("fixture table1: schema + rows match slt/delta/simple.slt") {
    Reference.assumeExists("/root/reference/testdata/delta/table1")
    val df = sources.Delta.read(spark, "/root/reference/testdata/delta/table1")
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    val rows = df.orderBy("a").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "hello"), (2, "world")))
  }

  test("partitioned replay: remove tombstone honored, partition col injected") {
    val out = sources.DeltaQueries.queries("delta02_log_replay")(spark, dir).collect()
    val nation = Engine.table(spark, dir, "nation")
      .orderBy("n_nationkey").collect()
    assert(out.length == nation.length)
    assert(out.map(_.toSeq).toSeq == nation.map(_.toSeq).toSeq)
  }

  test("checkpoint seeding: poison file absent only via _last_checkpoint") {
    val out = sources.DeltaQueries.queries("delta03_checkpoint")(spark, dir)
    val keys = out.select("r_regionkey").collect().map(_.getInt(0)).toSeq
    assert(keys == Seq(0, 1, 2, 3, 4), s"got $keys")
  }

  test("sql sugar: quoted delta dir resolves as table") {
    Reference.assumeExists("/root/reference/testdata/delta/table1")
    val df = sources.GraftSession.sql(spark,
      "SELECT count(*) AS n FROM '/root/reference/testdata/delta/table1'")
    assert(df.collect().head.getLong(0) == 2L)
  }

  test("time travel: read_delta(path, version) replays to that commit") {
    val t1 = "/root/reference/testdata/delta/table1"
    Reference.assumeExists(t1)
    def at(v: Long): Long =
      sources.Delta.read(spark, t1, versionAsOf = Some(v)).count()
    assert(at(0) == 0L) // v0: metadata only
    assert(at(1) == 1L) // v1: hello
    assert(at(2) == 2L) // v2: hello + world
    val e = intercept[IllegalArgumentException] {
      sources.Delta.read(spark, t1, versionAsOf = Some(3))
    }
    assert(e.getMessage.contains("latest is 2"))
    // and via the TVF sugar
    val n = sources.GraftSession.sql(spark,
      s"SELECT count(*) AS n FROM read_delta('$t1', 1)")
      .collect().head.getLong(0)
    assert(n == 1L)
  }
}
