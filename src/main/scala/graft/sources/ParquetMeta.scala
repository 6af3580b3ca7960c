package graft.sources

import graft.QueryDsl.Q
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Parquet file-internals metadata TVFs, matching the reference's
  * `parquet.file_metadata` / `parquet.rowgroup_metadata` /
  * `parquet.column_metadata` (glaredb_ext_parquet
  * `src/functions/metadata.rs:43,64,85`; column layout per its
  * `MetadataColumn` tables at metadata.rs:155-320).
  *
  * Values come from the raw thrift footer (`parquet-format-structures`),
  * the same struct the reference reads — `version`, `created_by`,
  * `total_byte_size`, `ColumnChunk.file_offset` etc. are emitted verbatim,
  * so outputs agree with any engine that surfaces footer fields directly.
  * Definition/repetition levels are derived from the flattened
  * SchemaElement tree exactly as the spec defines them (+1 def for every
  * non-REQUIRED ancestor, +1 rep for every REPEATED one).
  *
  * Scale: the file list is globbed on the driver (pure namenode metadata),
  * then footers are parsed ON THE EXECUTORS via `mapPartitions` over the
  * file list — on a 100 TB lake with 10^5 files the parsing fans out
  * instead of serializing through the driver.
  */
object ParquetMeta {

  case class PFileMeta(filename: String, version: Int, num_rows: Long,
      created_by: String, num_row_groups: Long)

  case class PRowGroupMeta(filename: String, num_rows: Long,
      num_columns: Long, uncompressed_size: Long, ordinal: Short)

  case class PColumnMeta(filename: String, rowgroup_ordinal: Short,
      column_ordinal: Long, physical_type: String,
      max_definition_level: Short, max_repetition_level: Short,
      file_offset: Long, num_values: Long, total_compressed_size: Long,
      total_uncompressed_size: Long, data_page_offset: Long)

  /** Expand path / glob patterns to concrete file paths (sorted). A glob
    * that matches nothing adds no file; an explicitly-listed (non-glob)
    * path must exist, as in the reference and `GraftSession`'s scans. */
  private def expand(spark: SparkSession, patterns: Seq[String]): Seq[String] =
    patterns.flatMap { pattern =>
      val p = new org.apache.hadoop.fs.Path(pattern)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      if (matched.isEmpty && !pattern.exists("*?[{".contains(_)))
        throw new java.io.FileNotFoundException(pattern)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile)
            .filter(_.getPath.getName.endsWith(".parquet"))
        else Seq(st)
      }.map(_.getPath.toString)
    }.sorted

  /** Display form of a file path: the reference prints fixture paths as
    * given, which its suites spell relative to the slt/ dir — shorten the
    * reference-root prefix back to `../` so outputs match verbatim. */
  private def display(path: String): String =
    path.replaceFirst("^file:(?=/)", "")
      .replaceFirst("^/root/reference/", "../")

  /** Hadoop Configuration is not Serializable; wrap it so executors can
    * open the same filesystem (hdfs/s3a/...) the driver globbed. */
  private class SerializableHadoopConf(
      @transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Read the raw thrift footer: [data][footer][len: 4 LE]["PAR1"].
    * Opens through the Hadoop FileSystem so the same code path serves any
    * scheme the scan globbed (local, hdfs, s3a). */
  private def readFooter(path: String,
      conf: org.apache.hadoop.conf.Configuration): org.apache.parquet.format.FileMetaData = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len >= 12, s"not a parquet file (only $len bytes): $path")
    val in = fs.open(p)
    try {
      in.seek(len - 8)
      val tail = new Array[Byte](8)
      in.readFully(tail)
      require(new String(tail, 4, 4, "ASCII") == "PAR1",
        s"not a parquet file: $path")
      val footerLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(footerLen > 0 && footerLen <= len - 8,
        s"corrupt parquet footer length $footerLen (file length $len): $path")
      in.seek(len - 8 - footerLen)
      val buf = new Array[Byte](footerLen)
      in.readFully(buf)
      org.apache.parquet.format.Util
        .readFileMetaData(new java.io.ByteArrayInputStream(buf))
    } finally in.close()
  }

  /** (physical_type, max_definition_level, max_repetition_level) per leaf
    * column, in schema order, from the flattened pre-order element list. */
  private def leafLevels(
      fmd: org.apache.parquet.format.FileMetaData): Seq[(String, Short, Short)] = {
    import scala.jdk.CollectionConverters._
    val elems = fmd.getSchema.asScala.toVector
    val out = scala.collection.mutable.ArrayBuffer[(String, Short, Short)]()
    // walk(idx, def, rep) consumes the subtree rooted at idx, returns the
    // index just past it
    def walk(idx: Int, d: Int, r: Int, isRoot: Boolean): Int = {
      val e = elems(idx)
      val rep = if (isRoot) null else e.getRepetition_type
      val d2 = d + (if (!isRoot && rep != org.apache.parquet.format.FieldRepetitionType.REQUIRED) 1 else 0)
      val r2 = r + (if (!isRoot && rep == org.apache.parquet.format.FieldRepetitionType.REPEATED) 1 else 0)
      val children = if (e.isSetNum_children) e.getNum_children else 0
      if (children == 0 && !isRoot) {
        out += ((e.getType.name, d2.toShort, r2.toShort))
        idx + 1
      } else {
        var next = idx + 1
        (0 until children).foreach(_ => next = walk(next, d2, r2, isRoot = false))
        next
      }
    }
    walk(0, 0, 0, isRoot = true)
    out.toSeq
  }

  private def overFiles[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, patterns: Seq[String])(
      per: (String, org.apache.hadoop.conf.Configuration) => Iterator[T]): Dataset[T] = {
    val files = expand(spark, patterns)
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    spark.createDataset(files).repartition(
      math.min(files.size, graft.Engine.defaultCpus).max(1))
      .mapPartitions(it => it.flatMap(per(_, sconf.conf)))
  }

  /** CORRECTNESS entries: the TVFs over the reference's own parquet
    * fixtures, oracled by DuckDB's parquet_file_metadata/parquet_metadata
    * on the same files (file_offset and def/rep levels excluded from the
    * oracle projection — DuckDB does not surface them faithfully). */
  private val fixDir = "/root/reference/testdata/parquet"

  /** The reference fixture each query below reads. */
  val referenceInputs: Map[String, String] =
    Seq("pm01_parquet_file_meta", "pm02_parquet_rowgroup_meta",
      "pm03_parquet_column_meta").map(_ -> fixDir).toMap

  val queries: Map[String, Q] = Map(
    "pm01_parquet_file_meta" -> { (s, _) =>
      GraftSession.sql(s,
        s"""SELECT filename, version, num_rows, created_by, num_row_groups
            FROM parquet.file_metadata('$fixDir/glob_numbers/*.parquet')
            ORDER BY filename""")
    },
    "pm02_parquet_rowgroup_meta" -> { (s, _) =>
      GraftSession.sql(s,
        s"""SELECT filename, num_rows, num_columns, uncompressed_size, ordinal
            FROM parquet.rowgroup_metadata('$fixDir/userdata0.parquet')
            ORDER BY filename, ordinal""")
    },
    "pm03_parquet_column_meta" -> { (s, _) =>
      GraftSession.sql(s,
        s"""SELECT filename, rowgroup_ordinal, column_ordinal, physical_type,
                   num_values, total_compressed_size, total_uncompressed_size,
                   data_page_offset
            FROM parquet.column_metadata('$fixDir/userdata0.parquet')
            ORDER BY column_ordinal""")
    })

  val oracles: Map[String, String] = Map(
    "pm01_parquet_file_meta" -> s"""
      SELECT REPLACE(file_name, '/root/reference/', '../') AS filename,
             CAST(format_version AS INT) AS version,
             num_rows, created_by, num_row_groups
      FROM parquet_file_metadata('$fixDir/glob_numbers/*.parquet')
      ORDER BY filename""",

    "pm02_parquet_rowgroup_meta" -> s"""
      SELECT DISTINCT REPLACE(file_name, '/root/reference/', '../') AS filename,
             row_group_num_rows AS num_rows,
             row_group_num_columns AS num_columns,
             row_group_bytes AS uncompressed_size,
             CAST(row_group_id AS SMALLINT) AS ordinal
      FROM parquet_metadata('$fixDir/userdata0.parquet')
      ORDER BY filename, ordinal""",

    "pm03_parquet_column_meta" -> s"""
      SELECT REPLACE(file_name, '/root/reference/', '../') AS filename,
             CAST(row_group_id AS SMALLINT) AS rowgroup_ordinal,
             column_id AS column_ordinal, type AS physical_type,
             num_values, total_compressed_size, total_uncompressed_size,
             data_page_offset
      FROM parquet_metadata('$fixDir/userdata0.parquet')
      ORDER BY column_ordinal""")

  def fileMetadataDf(spark: SparkSession, patterns: Seq[String]): DataFrame = {
    import spark.implicits._
    overFiles[PFileMeta](spark, patterns) { (path, conf) =>
      val fmd = readFooter(path, conf)
      Iterator.single(PFileMeta(display(path), fmd.getVersion, fmd.getNum_rows,
        fmd.getCreated_by, fmd.getRow_groupsSize.toLong))
    }.toDF()
  }

  def rowgroupMetadataDf(spark: SparkSession, patterns: Seq[String]): DataFrame = {
    import spark.implicits._
    overFiles[PRowGroupMeta](spark, patterns) { (path, conf) =>
      import scala.jdk.CollectionConverters._
      val fmd = readFooter(path, conf)
      fmd.getRow_groups.asScala.iterator.zipWithIndex.map { case (rg, i) =>
        PRowGroupMeta(display(path), rg.getNum_rows, rg.getColumnsSize.toLong,
          rg.getTotal_byte_size, i.toShort)
      }
    }.toDF()
  }

  def columnMetadataDf(spark: SparkSession, patterns: Seq[String]): DataFrame = {
    import spark.implicits._
    overFiles[PColumnMeta](spark, patterns) { (path, conf) =>
      import scala.jdk.CollectionConverters._
      val fmd = readFooter(path, conf)
      val leaves = leafLevels(fmd)
      fmd.getRow_groups.asScala.iterator.zipWithIndex.flatMap {
        case (rg, rgIdx) =>
          rg.getColumns.asScala.iterator.zipWithIndex.map {
            case (chunk, colIdx) =>
              val md = chunk.getMeta_data
              val (ptype, maxDef, maxRep) = leaves(colIdx)
              PColumnMeta(display(path), rgIdx.toShort, colIdx.toLong, ptype,
                maxDef, maxRep, chunk.getFile_offset, md.getNum_values,
                md.getTotal_compressed_size, md.getTotal_uncompressed_size,
                md.getData_page_offset)
          }
      }
    }.toDF()
  }
}
