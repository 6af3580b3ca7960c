package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg read-path invariants against the reference's in-tree fixtures
  * (testdata/iceberg). Metadata-TVF values mirror slt/iceberg SLTs; the
  * data-read values are oracle-checked driver-side (ice01–ice08). */
class IcebergSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cpus = 8, appName = "graft-iceberg-test")
  val Base = "/root/reference/testdata/iceberg"

  override def afterAll(): Unit = spark.stop()

  test("v1 simple: schema + row count") {
    Reference.assumeExists(s"$Base/tables-v1/lineitem_simple")
    val df = sources.Iceberg.read(spark, s"$Base/tables-v1/lineitem_simple")
    assert(df.schema.fieldNames.length == 16)
    assert(df.schema("l_quantity").dataType.typeName.startsWith("decimal"))
    assert(df.count() == 1000)
  }

  test("v2 partitioned: all 7 shipmodes, 1000 rows total") {
    Reference.assumeExists(s"$Base/tables-v2/lineitem_partitioned")
    val df = sources.Iceberg.read(spark, s"$Base/tables-v2/lineitem_partitioned")
    assert(df.count() == 1000)
    assert(df.select("l_shipmode").distinct().count() == 7)
  }

  test("manifest-level partition pruning reads only the AIR file") {
    Reference.assumeExists(s"$Base/tables-v1/lineitem_partitioned")
    val t = sources.Iceberg.load(s"$Base/tables-v1/lineitem_partitioned")
    val all = sources.Iceberg.liveDataFiles(t)
    val air = sources.Iceberg.liveDataFiles(t, Map("l_shipmode" -> "AIR"))
    assert(all.length == 7)
    assert(air.length == 1 && air.head.filePath.contains("l_shipmode=AIR"))
    val n = sources.Iceberg.read(spark, s"$Base/tables-v1/lineitem_partitioned",
      Map("l_shipmode" -> "AIR")).count()
    assert(n == air.head.recordCount)
  }

  test("versioned: current snapshot resolves via version-hint") {
    Reference.assumeExists(s"$Base/tables-v1/lineitem_versioned")
    val t = sources.Iceberg.load(s"$Base/tables-v1/lineitem_versioned")
    assert(t.snapshots.length == 2)
    val files = sources.Iceberg.liveDataFiles(t)
    info(s"versioned live files: ${files.map(f => f.filePath + " n=" + f.recordCount)}")
    val n = sources.Iceberg.read(spark, s"$Base/tables-v1/lineitem_versioned").count()
    assert(n == files.map(_.recordCount).sum)
  }

  test("time travel: read_iceberg(path, snapshot_id) pins that snapshot") {
    val t = s"$Base/tables-v1/lineitem_versioned"
    Reference.assumeExists(t)
    val loaded = sources.Iceberg.load(t)
    val Seq(old, cur) = loaded.snapshots.map(_._1)
    assert(loaded.currentSnapshotId.contains(cur))
    val nCur = sources.Iceberg.read(spark, t).count()
    val nOld = sources.Iceberg.read(spark, t, snapshotId = Some(old)).count()
    info(s"current=$nCur old=$nOld")
    assert(nOld != nCur) // the older snapshot sees a different file set
    intercept[IllegalArgumentException] {
      sources.Iceberg.read(spark, t, snapshotId = Some(12345L))
    }
    // and via the TVF sugar
    val n = sources.GraftSession.sql(spark,
      s"SELECT count(*) AS n FROM read_iceberg('$t', $old)")
      .collect().head.getLong(0)
    assert(n == nOld)
  }

  test("cities metadata TVFs match slt/iceberg expected values") {
    Reference.assumeExists(s"$Base/wh/default.db/cities")
    val meta = sources.Iceberg.metadataDf(spark, s"$Base/wh/default.db/cities").collect()
    assert(meta.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((2, "3e7c486c-5e5a-426e-aed7-a022fe2b52b6", "file://wh/default.db/cities")))
    val snaps = sources.Iceberg.snapshotsDf(spark, s"$Base/wh/default.db/cities").collect()
    assert(snaps.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((8687260678833969554L, 1L)))
    val dfs = sources.Iceberg.dataFilesDf(spark, s"$Base/wh/default.db/cities").collect()
    assert(dfs.map(r => (r.getString(0), r.getString(1), r.getString(3), r.getLong(4))).toSeq ==
      Seq(("ADDED", "DATA", "PARQUET", 4L)))
  }

  test("v2 position + equality deletes are applied (synthesized table)") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

    val root = java.nio.file.Files
      .createTempDirectory("graft_ice_del").toFile.getAbsolutePath
    new java.io.File(s"$root/metadata").mkdirs()
    new java.io.File(s"$root/data").mkdirs()

    // one-file parquet writer: Spark writes a directory; move the part file
    def writeParquet(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val tmp = s"$root/_tmp_${new java.io.File(dest).getName}"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    import spark.implicits._
    writeParquet((1 to 5).map(i => (i, s"v$i")).toDF("id", "val"),
      s"$root/data/d1.parquet")
    writeParquet((6 to 10).map(i => (i, s"v$i")).toDF("id", "val"),
      s"$root/data/d2.parquet")
    // position delete: row 0 of d1 (id=1); equality delete: id=7
    writeParquet(Seq((s"$root/data/d1.parquet", 0L)).toDF("file_path", "pos"),
      s"$root/data/pd.parquet")
    writeParquet(Seq(Tuple1(7)).toDF("id"), s"$root/data/ed.parquet")

    def avroWrite(path: String, schema: Schema, recs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path))
      recs.foreach(w.append)
      w.close()
    }
    val dfSchema = SchemaBuilder.record("data_file").fields()
      .requiredInt("content").requiredString("file_path")
      .requiredString("file_format").requiredLong("record_count")
      .name("equality_ids").`type`().nullable().array().items().intType()
      .noDefault()
      .endRecord()
    val entrySchema = SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status")
      .name("sequence_number").`type`().nullable().longType().noDefault()
      .name("data_file").`type`(dfSchema).noDefault()
      .endRecord()
    def entry(content: Int, path: String, n: Long, seq: Option[Long],
              eqIds: Seq[Int] = Nil): GenericRecord = {
      val d = new GenericData.Record(dfSchema)
      d.put("content", content); d.put("file_path", path)
      d.put("file_format", "PARQUET"); d.put("record_count", n)
      d.put("equality_ids", if (eqIds.isEmpty) null
        else java.util.List.of(eqIds.map(Integer.valueOf): _*))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("sequence_number", seq.map(java.lang.Long.valueOf).orNull)
      e.put("data_file", d)
      e
    }
    // data manifest (seq 1, entry seqs inherited) + delete manifest (seq 2)
    avroWrite(s"$root/metadata/mdata.avro", entrySchema, Seq(
      entry(0, s"$root/data/d1.parquet", 5L, None),
      entry(0, s"$root/data/d2.parquet", 5L, None)))
    avroWrite(s"$root/metadata/mdel.avro", entrySchema, Seq(
      entry(1, s"$root/data/pd.parquet", 1L, Some(2L)),
      entry(2, s"$root/data/ed.parquet", 1L, Some(2L), eqIds = Seq(1))))
    val mfSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").requiredLong("manifest_length")
      .requiredInt("content").requiredLong("sequence_number")
      .endRecord()
    def mf(path: String, content: Int, seq: Long): GenericRecord = {
      val r = new GenericData.Record(mfSchema)
      r.put("manifest_path", path); r.put("manifest_length", 100L)
      r.put("content", content); r.put("sequence_number", seq)
      r
    }
    avroWrite(s"$root/metadata/mlist.avro", mfSchema, Seq(
      mf(s"$root/metadata/mdata.avro", 0, 1L),
      mf(s"$root/metadata/mdel.avro", 1, 2L)))

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{"format-version": 2, "table-uuid": "00000000-0000-0000-0000-000000000001",
         |"location": "$root",
         |"schema": {"type": "struct", "fields": [
         |  {"id": 1, "name": "id", "required": true, "type": "int"},
         |  {"id": 2, "name": "val", "required": false, "type": "string"}]},
         |"current-snapshot-id": 99,
         |"snapshots": [{"snapshot-id": 99, "sequence-number": 2,
         |  "manifest-list": "$root/metadata/mlist.avro"}]}""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/version-hint.text"), "1")

    val t = sources.Iceberg.load(root)
    assert(sources.Iceberg.liveDataFiles(t).length == 2)
    assert(sources.Iceberg.liveDeleteFiles(t).map(_.content).sorted == Seq(1, 2))
    // position delete kills id=1 (d1 pos 0); equality delete kills id=7
    val ids = sources.Iceberg.read(spark, root)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(ids == Seq(2, 3, 4, 5, 6, 8, 9, 10))
  }

  test("sql sugar: iceberg TVFs and read_iceberg resolve") {
    Reference.assumeExists(s"$Base/tables-v1/lineitem_simple",
      s"$Base/wh/default.db/cities")
    val n = sources.GraftSession.sql(spark,
      s"SELECT count(*) AS n FROM read_iceberg('$Base/tables-v1/lineitem_simple')")
      .collect().head.getLong(0)
    assert(n == 1000L)
    val snap = sources.GraftSession.sql(spark,
      s"SELECT snapshot_id FROM iceberg.snapshots('$Base/wh/default.db/cities')")
      .collect().head.getLong(0)
    assert(snap == 8687260678833969554L)
  }
}
