package graft.sources

import graft.QueryDsl._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked Delta read-path queries (SURVEY.md §2.2 "Delta protocol").
  *
  * delta01 reads the reference's in-tree fixture
  * (/root/reference/testdata/delta/table1, exercised by slt/delta/simple.slt).
  * delta02/delta03 synthesize Delta tables in the repo's target dir from the
  * parquet fixtures — covering the protocol paths the 2-commit fixture
  * cannot: remove-action tombstones, partition-value injection, and
  * checkpoint-seeded replay (`_last_checkpoint` + checkpoint parquet).
  */
object DeltaQueries {

  private val FixtureTable = "/root/reference/testdata/delta/table1"

  /** The reference fixture each query that needs one reads. */
  val referenceInputs: Map[String, String] =
    Seq("delta01_read_simple", "delta04_time_travel").map(_ -> FixtureTable).toMap

  private def jsonEsc(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))

  private def writeText(f: java.io.File, text: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, text)
  }

  /** Write df as exactly one parquet file at destFile (Spark writes a
    * directory; the single part file is moved to the target name). */
  private def writeOneFile(spark: SparkSession, df: DataFrame, destFile: java.io.File): Long = {
    val staging = new java.io.File(destFile.getParentFile, s".staging_${destFile.getName}")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getAbsolutePath)
    val part = staging.listFiles().find(_.getName.endsWith(".parquet")).get
    destFile.getParentFile.mkdirs()
    if (destFile.exists()) destFile.delete()
    java.nio.file.Files.move(part.toPath, destFile.toPath)
    val size = destFile.length()
    staging.listFiles().foreach(_.delete()); staging.delete()
    size
  }

  private def metaAction(schemaJson: String, partitionCols: Seq[String]): String = {
    val pc = partitionCols.map(jsonEsc).mkString("[", ",", "]")
    s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},"schemaString":${jsonEsc(schemaJson)},"partitionColumns":$pc,"configuration":{}}}"""
  }

  private def addAction(path: String, size: Long, pv: Map[String, String]): String = {
    val pvj = pv.map { case (k, v) => s"${jsonEsc(k)}:${jsonEsc(v)}" }.mkString("{", ",", "}")
    s"""{"add":{"path":${jsonEsc(path)},"size":$size,"partitionValues":$pvj,"modificationTime":0,"dataChange":true}}"""
  }

  private def removeAction(path: String): String =
    s"""{"remove":{"path":${jsonEsc(path)},"deletionTimestamp":0,"dataChange":true}}"""

  private def logFile(table: java.io.File, version: Long): java.io.File =
    new java.io.File(new java.io.File(table, "_delta_log"), f"$version%020d.json")

  /** Synthesized partitioned table over nation: v0 adds one file per region
    * plus a poison file; v1 removes the poison. Final state == nation, with
    * n_regionkey materialized only in partitionValues (not in the data
    * files), so a correct read proves both remove-replay and partition
    * injection. */
  private def buildPartitionedNation(s: SparkSession, dir: String): String = synchronized {
    val table = new java.io.File("target/tmp_delta/nation_part")
    val nation = t(s, dir, "nation")
    if (logFile(table, 0).exists() && logFile(table, 1).exists())
      return table.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(table)

    val schemaJson = nation.schema.json
    val keys = nation.select("n_regionkey").distinct().collect()
      .map(_.get(0).toString).sorted
    val adds = keys.map { k =>
      val rel = s"p$k/part-0.parquet"
      val size = writeOneFile(s,
        nation.filter(col("n_regionkey") === k).drop("n_regionkey")
          .orderBy("n_nationkey"),
        new java.io.File(table, rel))
      addAction(rel, size, Map("n_regionkey" -> k))
    }
    val poisonRel = "p99/part-0.parquet"
    val poisonSize = writeOneFile(s,
      nation.limit(3).drop("n_regionkey"), new java.io.File(table, poisonRel))

    writeText(logFile(table, 0),
      (metaAction(schemaJson, Seq("n_regionkey")) +:
        (adds :+ addAction(poisonRel, poisonSize, Map("n_regionkey" -> "99")))).mkString("\n"))
    writeText(logFile(table, 1), removeAction(poisonRel))
    table.getAbsolutePath
  }

  /** Synthesized table over region with a checkpoint: json v0 adds A + a
    * poison file that is never removed in any json commit; the v1 checkpoint
    * parquet holds the reconciled state {A, B} (poison gone); json v2 adds C.
    * A reader that honors `_last_checkpoint` sees A∪B∪C == region; a reader
    * that replays from scratch would include the poison rows. */
  private def buildCheckpointRegion(s: SparkSession, dir: String): String = synchronized {
    val table = new java.io.File("target/tmp_delta/region_ck")
    if (new java.io.File(table, "_delta_log/_last_checkpoint").exists())
      return table.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(table)
    val region = t(s, dir, "region")
    val schemaJson = region.schema.json

    def slice(lo: Int, hi: Int, rel: String): Long =
      writeOneFile(s,
        region.filter(col("r_regionkey").between(lo, hi)).orderBy("r_regionkey"),
        new java.io.File(table, rel))

    val sizeA = slice(0, 1, "part-a.parquet")
    val sizeB = slice(2, 3, "part-b.parquet")
    val sizeC = slice(4, 4, "part-c.parquet")
    val poisonSize = writeOneFile(s,
      region.withColumn("r_regionkey", col("r_regionkey") + 100),
      new java.io.File(table, "part-poison.parquet"))

    writeText(logFile(table, 0),
      Seq(metaAction(schemaJson, Nil),
        addAction("part-a.parquet", sizeA, Map.empty),
        addAction("part-poison.parquet", poisonSize, Map.empty)).mkString("\n"))
    writeText(logFile(table, 1),
      Seq(removeAction("part-poison.parquet"),
        addAction("part-b.parquet", sizeB, Map.empty)).mkString("\n"))

    // Checkpoint parquet at v1: reconciled {metaData, adds A+B}.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ckSchema = StructType(Seq(
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)))))))
    val ckRows = Seq(
      Row(Row(schemaJson, Seq.empty[String]), null),
      Row(null, Row("part-a.parquet", Map.empty[String, String])),
      Row(null, Row("part-b.parquet", Map.empty[String, String])))
    val ckDf = s.createDataFrame(s.sparkContext.parallelize(ckRows, 1), ckSchema)
    writeOneFile(s, ckDf,
      new java.io.File(table, f"_delta_log/${1L}%020d.checkpoint.parquet"))
    writeText(new java.io.File(table, "_delta_log/_last_checkpoint"),
      """{"version":1,"size":3}""")

    writeText(logFile(table, 2),
      addAction("part-c.parquet", sizeC, Map.empty))
    table.getAbsolutePath
  }

  val queries: Map[String, Q] = Map(
    // Reference fixture read via the read_delta TVF + session SQL sugar
    // (glaredb_ext_delta/src/protocol/snapshot.rs:13; slt/delta/simple.slt).
    "delta01_read_simple" -> { (s, _) =>
      GraftSession.sql(s,
        s"SELECT a, b FROM read_delta('$FixtureTable') ORDER BY a")
    },

    // Partitioned table + remove tombstone replay over the nation fixture.
    "delta02_log_replay" -> { (s, dir) =>
      val path = buildPartitionedNation(s, dir)
      Delta.read(s, path)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // Checkpoint-seeded replay (_last_checkpoint + checkpoint parquet + tail).
    "delta03_checkpoint" -> { (s, dir) =>
      val path = buildCheckpointRegion(s, dir)
      Delta.read(s, path).orderBy("r_regionkey")
    },

    // Time travel: replay stops at commit 1 of the fixture (the 'hello'
    // row only; commit 2 adds 'world').
    "delta04_time_travel" -> { (s, _) =>
      GraftSession.sql(s,
        s"SELECT a, b FROM read_delta('$FixtureTable', 1) ORDER BY a")
    })

  val oracles: Map[String, String] = Map(
    "delta01_read_simple" -> """
      SELECT a, b FROM (VALUES (1, 'hello'), (2, 'world')) t(a, b) ORDER BY a""",

    "delta02_log_replay" -> """
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation ORDER BY n_nationkey""",

    "delta03_checkpoint" -> """
      SELECT * FROM region ORDER BY r_regionkey""",

    "delta04_time_travel" -> """
      SELECT a, b FROM (VALUES (1, 'hello')) t(a, b) ORDER BY a""")
}
