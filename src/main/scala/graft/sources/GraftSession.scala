package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions._

/** SQL front-end sugar matching the reference's resolver behavior:
  *
  *  - `FROM '<path>'` — a quoted file path used as a table is resolved to a
  *    read of that file, with the handler inferred from the extension
  *    (GlareDB `logical/resolver/resolve_normal.rs:255-276`).
  *  - `read_parquet('<path>')` / `read_csv('<path>')` / `read_text('<path>')`
  *    table functions (glaredb_ext_parquet `functions/scan.rs:33`,
  *    glaredb_ext_csv `functions/read_csv.rs:34`,
  *    `functions/table/builtin/read_text.rs:28`), their namespaced
  *    `csv.read`/`csv.scan`/`parquet.read`/… forms, and the list-of-paths
  *    variant `read_csv(['p1', 'p2'])`.
  *  - `_filename` / `_rowid` virtual columns on file scans (the reference's
  *    scan metadata columns) — added to the registered view only when the
  *    query references them, so DESCRIBE/`SELECT *` keep the data schema.
  *
  * Implementation: a pre-parse rewrite that registers each referenced path
  * as a temp view backed by the matching `spark.read` (so Catalyst still
  * sees a plain scan with full pushdown), then delegates to `spark.sql`.
  */
object GraftSession {

  private val TvfPattern =
    raw"""(?i)(?:read_(parquet|csv|text|delta)|(parquet|csv|text)\.(?:read|scan))\s*\(\s*'([^']+)'\s*\)""".r
  // list-of-paths form — the raw `['p1', 'p2']` literal or its post-Dialect
  // `array('p1', 'p2')` spelling; empty lists must error like the reference.
  private val ListTvfPattern =
    raw"""(?i)(?:read_(parquet|csv|text)|(parquet|csv|text)\.(?:read|scan))\s*\(\s*(?:array\(|\[)\s*((?:'[^']*'\s*,?\s*)*)(?:\)|\])\s*,?\s*\)""".r
  private val PathPattern =
    raw"""(?i)(from|join|describe)\s+'([^']+\.(?:parquet|csv|tsv|txt|json))'""".r
  // tpch_gen.<table>(sf) generator TVFs (glaredb_ext_tpch_gen
  // src/functions/; schemas per slt/tpch_gen/describe.slt).
  private val TpchGenTvfPattern =
    raw"""(?i)tpch_gen\.(region|nation|customer|supplier|part|partsupp|orders|lineitem)\s*\(\s*([0-9.eE+-]*)\s*\)""".r
  // A quoted directory used as a table resolves to Delta when it has a log,
  // or to Iceberg when it has a metadata/ dir with *.metadata.json.
  private val DirPattern =
    raw"""(?i)(from|join)\s+'([^']+)'""".r
  // iceberg.metadata/snapshots/manifest_list/data_files('<path>') TVFs +
  // read_iceberg('<path>') (glaredb_ext_iceberg functions/metadata.rs:36-81).
  private val IcebergTvfPattern =
    raw"""(?i)(?:iceberg\.(metadata|snapshots|manifest_list|data_files)|(read_iceberg))\s*\(\s*'([^']+)'\s*\)""".r
  // time travel: read_delta('<path>', <version>) /
  // read_iceberg('<path>', <snapshot_id>)
  private val DeltaAsOfPattern =
    raw"""(?i)read_delta\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*\)""".r
  private val IcebergAsOfPattern =
    raw"""(?i)read_iceberg\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*\)""".r
  // parquet.file_metadata/rowgroup_metadata/column_metadata('<path>') TVFs
  // (glaredb_ext_parquet functions/metadata.rs:43,64,85); `parquet_` spelled
  // with an underscore also accepted.
  private val ParquetMetaTvfPattern =
    raw"""(?i)parquet[._](file_metadata|rowgroup_metadata|column_metadata)\s*\(\s*('[^']+'|\[[^\]]*\]|array\([^)]*\))\s*\)""".r

  private def readPath(spark: SparkSession, fmt: String, paths: Seq[String],
      withMeta: Boolean): DataFrame = {
    val df = fmt match {
      case "parquet" => annotateTsUnits(spark, spark.read.parquet(paths: _*), paths)
      case "csv" | "tsv" => readCsvInferred(spark, paths)
      case "text" | "txt" =>
        spark.read.option("wholetext", "true").text(paths: _*)
      case "json"  => spark.read.json(paths: _*)
      case "delta" => Delta.read(spark, paths.head)
    }
    if (!withMeta || fmt == "delta") df
    else {
      import org.apache.spark.sql.expressions.Window
      // _filename displays the path as the reference prints it (relative to
      // the reference root for its fixture suites); _rowid is the 0-based
      // row index within the file (single-split files — exact for the
      // corpus, and the reference's own contract is per-file ordering)
      val named = df.withColumn("_filename",
        regexp_replace(
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"),
          "^/root/reference/", "../"))
      named.withColumn("_rowid",
        (row_number().over(
          Window.partitionBy(col("_filename"))
            .orderBy(monotonically_increasing_id())) - 1)
          .cast(org.apache.spark.sql.types.LongType))
    }
  }

  /** Spark reads every parquet timestamp as µs, but the file knows its
    * real unit (INT96 → ns, TIMESTAMP(MILLIS) → ms, …) and the reference's
    * DESCRIBE shows it. Tag timestamp columns with the footer unit so the
    * SLT runner can display `Timestamp(ns)`/`Timestamp(ms)` faithfully. */
  private def annotateTsUnits(spark: SparkSession, df: DataFrame,
      patterns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    if (!df.schema.fields.exists(f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType)) return df
    val units: Map[String, String] =
      try {
        val file = expand(spark, patterns).head
        val f = new java.io.RandomAccessFile(file, "r")
        val fmd = try {
          val len = f.length()
          f.seek(len - 8)
          val tail = new Array[Byte](8)
          f.readFully(tail)
          val footerLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          f.seek(len - 8 - footerLen)
          val buf = new Array[Byte](footerLen)
          f.readFully(buf)
          org.apache.parquet.format.Util
            .readFileMetaData(new java.io.ByteArrayInputStream(buf))
        } finally f.close()
        import scala.jdk.CollectionConverters._
        fmd.getSchema.asScala.drop(1).flatMap { e =>
          val unit =
            if (e.isSetType && e.getType == org.apache.parquet.format.Type.INT96)
              Some("ns")
            else if (e.isSetLogicalType && e.getLogicalType.isSetTIMESTAMP) {
              val u = e.getLogicalType.getTIMESTAMP.getUnit
              if (u.isSetMILLIS) Some("ms")
              else if (u.isSetNANOS) Some("ns") else Some("µs")
            } else if (e.isSetConverted_type) {
              e.getConverted_type match {
                case org.apache.parquet.format.ConvertedType.TIMESTAMP_MILLIS =>
                  Some("ms")
                case org.apache.parquet.format.ConvertedType.TIMESTAMP_MICROS =>
                  Some("µs")
                case _ => None
              }
            } else None
          unit.map(e.getName -> _)
        }.toMap
      } catch { case _: Exception => Map.empty }
    if (units.isEmpty) df
    else df.select(df.schema.fields.toSeq.map { f =>
      (f.dataType, units.get(f.name)) match {
        case (TimestampType | TimestampNTZType, Some(u)) =>
          df.col(f.name).as(f.name,
            new MetadataBuilder().putString("graft_ts_unit", u).build())
        case _ => df.col(f.name)
      }
    }: _*)
  }

  /** Expand a glob / path list to concrete file paths (sorted). */
  private def expand(spark: SparkSession, patterns: Seq[String]): Seq[String] =
    patterns.flatMap { pattern =>
      val p = new org.apache.hadoop.fs.Path(pattern)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      // an explicitly-listed (non-glob) path must exist, as in the reference
      if (matched.isEmpty && !pattern.exists("*?[{".contains(_)))
        throw new java.io.FileNotFoundException(pattern)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }.map(_.getPath.toUri.getPath)
    }.sorted

  /** GlareDB-style CSV inference (glaredb_ext_csv `src/dialect.rs` +
    * `src/schema.rs`): sniff the dialect (delimiter from {, ; tab |},
    * quote from {" '}) by field-count consistency over a sample, detect a
    * header row (present when some column's body type is non-string and
    * the first row's cell cannot be that type), then type each column as
    * Int64 / Float64 / Utf8 — Boolean for all-null columns, matching the
    * reference's "all bools" corner (slt/csv/infer/all_null.slt). Files
    * with differing column counts under one glob are an error, like the
    * reference. Whitespace is never trimmed (infer/whitespace_handling). */
  private[sources] def readCsvInferred(
      spark: SparkSession, patterns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    if (patterns.isEmpty)
      throw new IllegalArgumentException(
        "No file paths provided, cannot determine which filesystem to use")
    val files = expand(spark, patterns)
    if (files.isEmpty) // nonexistent path: let the source error naturally
      return spark.read.option("header", "true").csv(patterns: _*)

    def sampleLines(path: String, max: Int): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](1 << 20)
        val n = in.read(buf)
        if (n <= 0) Nil
        else {
          val all = new String(buf, 0, n, "UTF-8").split("\r?\n").toSeq
          // a full buffer likely cut the final line mid-cell — a truncated
          // quoted field or number would skew dialect/type inference, so
          // drop it (the untruncated lines are sample enough)
          val whole = if (n == buf.length && all.size > 1) all.init else all
          whole.filter(_.nonEmpty).take(max)
        }
      } finally in.close()
    }

    def parseLine(line: String, delim: Char, quote: Char): Seq[String] = {
      val cells = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var inQ = false
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (inQ) {
          if (c == quote) {
            if (i + 1 < line.length && line.charAt(i + 1) == quote) {
              cur.append(quote); i += 1
            } else inQ = false
          } else cur.append(c)
        } else {
          if (c == quote && cur.isEmpty) inQ = true
          else if (c == delim) { cells += cur.toString; cur.clear() }
          else cur.append(c)
        }
        i += 1
      }
      cells += cur.toString
      cells.toSeq
    }

    val sample = sampleLines(files.head, 1000)
    // dialect: first (delimiter, quote) giving a consistent multi-column
    // parse; preference order mirrors commonness
    val candidates = for {
      d <- Seq(',', ';', '\t', '|'); q <- Seq('"', '\'')
    } yield (d, q)
    val (delim, quote) = candidates.find { case (d, q) =>
      val counts = sample.map(parseLine(_, d, q).length)
      counts.nonEmpty && counts.head > 1 && counts.distinct.size == 1
    }.getOrElse((',', '"'))

    // glob consistency: all files must agree on column count. Dialect and
    // column TYPES are inferred from the first file only (first-file-wins,
    // like the reference's single-sample inference) — later files whose
    // cells don't fit the imposed type read as null, as with any
    // user-supplied schema.
    val ncols = parseLine(sample.head, delim, quote).length
    files.drop(1).take(50).foreach { f =>
      val head = sampleLines(f, 1)
      if (head.nonEmpty && parseLine(head.head, delim, quote).length != ncols)
        throw new IllegalArgumentException(
          s"Glob files have differing column counts ($f)")
    }

    // 0=null 1=int 2=float 3=bool 4=string
    def kind(s: String): Int = {
      if (s == null || s.isEmpty) 0
      else if (s.matches("[+-]?\\d+")) 1 // oversize ints stay Int64 (→ null)
      else if (s.matches("(?i)[+-]?(inf(inity)?|nan)") ||
        (s.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?") &&
          scala.util.Try(s.toDouble).isSuccess)) 2
      else if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")) 3
      else 4
    }
    def merge(kinds: Seq[Int]): DataType = {
      val nz = kinds.filter(_ != 0)
      if (nz.isEmpty) BooleanType
      else if (nz.forall(_ == 1)) LongType
      else if (nz.forall(k => k == 1 || k == 2)) DoubleType
      else if (nz.forall(_ == 3)) BooleanType
      else StringType
    }
    val rows = sample.map(parseLine(_, delim, quote))
      .filter(_.length == ncols)
    val first = rows.head
    val body = rows.tail
    def colKinds(rs: Seq[Seq[String]], i: Int): Seq[Int] = rs.map(r => kind(r(i)))
    val bodyTypes = (0 until ncols).map(i =>
      if (body.isEmpty) StringType else merge(colKinds(body, i)))
    def compatible(k: Int, t: DataType): Boolean = t match {
      case StringType => true
      case LongType => k == 0 || k == 1
      case DoubleType => k == 0 || k == 1 || k == 2
      case BooleanType => k == 0 || k == 3
      case _ => true
    }
    val header = body.nonEmpty && ((0 until ncols).exists(i =>
      bodyTypes(i) != StringType && !compatible(kind(first(i)), bodyTypes(i))) ||
      first.forall(c => c == null || c.isEmpty)) // ",," header of empty names
    val names =
      if (header) first.map(c => if (c == null) "" else c)
      else (0 until ncols).map(i => s"column$i")
    val types =
      if (header) bodyTypes
      else (0 until ncols).map(i => merge(colKinds(rows, i)))
    val schema = StructType(names.zip(types).map { case (n, t) =>
      // tag non-identifier header names so DESCRIBE displays them verbatim
      // (a numeric SELECT alias would otherwise show as the header does)
      val md =
        if (header && !n.matches("^[A-Za-z_][A-Za-z0-9_]*$"))
          new MetadataBuilder().putString("graft_csv_name", n).build()
        else Metadata.empty
      StructField(n, t, nullable = true, md)
    })
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delim.toString)
      .option("quote", quote.toString)
      .option("escape", quote.toString)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(files: _*)
  }

  private def fmtOf(path: String): String =
    path.replaceAll(""".*\.""", "").toLowerCase

  private def viewName(path: String): String =
    "graft_path_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(path).toLong & 0xffffffffL)

  /** Run SQL with path-as-table / read_* TVF sugar resolved. When Spark
    * cannot parse the result and a quoted `FROM`/`JOIN '<path>'` in it
    * names a local path that does not exist, that path is the error
    * (FileNotFoundException), not the parse error it causes. */
  def sql(spark: SparkSession, query: String): DataFrame = {
    val q = rewrite(spark, query)
    try spark.sql(q)
    catch {
      case e: ParseException =>
        throw DirPattern.findAllMatchIn(q).map(_.group(2))
          .find(p => !p.contains("://") && !new java.io.File(p).exists)
          .map(p => new java.io.FileNotFoundException(p).initCause(e))
          .getOrElse(e)
    }
  }

  /** Resolve the path-as-table / TVF sugar, registering temp views for
    * each referenced source, and return plain Spark SQL. (Also used by the
    * SLT runner, whose own pipeline needs the rewritten text rather than a
    * DataFrame.) */
  def rewrite(spark: SparkSession, query: String): String = {
    // the reference's scan metadata columns are only materialized when
    // referenced, so DESCRIBE / SELECT * keep the data schema
    val withMeta = query.contains("_filename") || query.contains("_rowid")
    def register(fmt: String, paths: Seq[String], key: String): String = {
      val v = viewName(key)
      readPath(spark, fmt, paths, withMeta).createOrReplaceTempView(v)
      v
    }
    var rewritten = TpchGenTvfPattern.replaceAllIn(query, m => {
      val (tbl, sfTxt) = (m.group(1).toLowerCase, m.group(2))
      val sf = try sfTxt.toDouble catch { case _: Exception => 1.0 }
      val v = viewName(s"tpch_gen.$tbl($sf)")
      TpchGen.table(spark, tbl, sf).createOrReplaceTempView(v)
      java.util.regex.Matcher.quoteReplacement(v)
    })
    rewritten = DeltaAsOfPattern.replaceAllIn(rewritten, m => {
      val (path, v) = (m.group(1), m.group(2).toLong)
      val view = viewName(s"delta:$path@$v")
      Delta.read(spark, path, versionAsOf = Some(v))
        .createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })
    rewritten = IcebergAsOfPattern.replaceAllIn(rewritten, m => {
      val (path, sid) = (m.group(1), m.group(2).toLong)
      val view = viewName(s"iceberg:$path@$sid")
      Iceberg.read(spark, path, snapshotId = Some(sid))
        .createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })
    rewritten = IcebergTvfPattern.replaceAllIn(rewritten, m => {
      val (fn, path) = (Option(m.group(1)).getOrElse("read"), m.group(3))
      val df = fn match {
        case "metadata"      => Iceberg.metadataDf(spark, path)
        case "snapshots"     => Iceberg.snapshotsDf(spark, path)
        case "manifest_list" => Iceberg.manifestListDf(spark, path)
        case "data_files"    => Iceberg.dataFilesDf(spark, path)
        case _               => Iceberg.read(spark, path)
      }
      val v = viewName(fn + ":" + path)
      df.createOrReplaceTempView(v)
      java.util.regex.Matcher.quoteReplacement(v)
    })
    rewritten = ParquetMetaTvfPattern.replaceAllIn(rewritten, m => {
      val fn = m.group(1).toLowerCase
      val paths = raw"'([^']*)'".r.findAllMatchIn(m.group(2))
        .map(_.group(1)).toSeq
      val df = fn match {
        case "file_metadata"     => ParquetMeta.fileMetadataDf(spark, paths)
        case "rowgroup_metadata" => ParquetMeta.rowgroupMetadataDf(spark, paths)
        case "column_metadata"   => ParquetMeta.columnMetadataDf(spark, paths)
      }
      val v = viewName(fn + ":" + paths.mkString(","))
      df.createOrReplaceTempView(v)
      java.util.regex.Matcher.quoteReplacement(v)
    })
    rewritten = ListTvfPattern.replaceAllIn(rewritten, m => {
      val fmt = Option(m.group(1)).getOrElse(m.group(2)).toLowerCase
      val paths = raw"'([^']*)'".r.findAllMatchIn(m.group(3))
        .map(_.group(1)).toSeq
      if (paths.isEmpty)
        throw new IllegalArgumentException(
          "No file paths provided, cannot determine which filesystem to use")
      java.util.regex.Matcher.quoteReplacement(
        register(fmt, paths, paths.mkString(",")))
    })
    rewritten = TvfPattern.replaceAllIn(rewritten, m => {
      val fmt = Option(m.group(1)).getOrElse(m.group(2)).toLowerCase
      val path = m.group(3)
      java.util.regex.Matcher.quoteReplacement(register(fmt, Seq(path), path))
    })
    rewritten = PathPattern.replaceAllIn(rewritten, m => {
      val (kw, path) = (m.group(1), m.group(2))
      java.util.regex.Matcher.quoteReplacement(
        s"$kw ${register(fmtOf(path), Seq(path), path)}")
    })
    rewritten = DirPattern.replaceAllIn(rewritten, m => {
      val (kw, path) = (m.group(1), m.group(2))
      if (new java.io.File(path, "_delta_log").isDirectory) {
        val v = viewName(path)
        Delta.read(spark, path).createOrReplaceTempView(v)
        java.util.regex.Matcher.quoteReplacement(s"$kw $v")
      } else if (new java.io.File(path, "metadata").isDirectory &&
          new java.io.File(path, "metadata").listFiles()
            .exists(f => f.getName.endsWith(".metadata.json"))) {
        val v = viewName(path)
        Iceberg.read(spark, path).createOrReplaceTempView(v)
        java.util.regex.Matcher.quoteReplacement(s"$kw $v")
      } else m.matched
    })
    rewritten
  }
}
