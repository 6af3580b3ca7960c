package graft.streaming

import graft.QueryDsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming operators — additive capability (SURVEY.md: the
  * reference has no stream processing; `operators/results/streaming.rs` is
  * just async result delivery).
  *
  * st01 runs a real streaming query: events parquet consumed through
  * `readStream`, watermarked event-time tumbling-window aggregation,
  * complete-mode memory sink, drained synchronously with
  * `processAllAvailable`. The result is deterministic, so it carries a full
  * DuckDB oracle — the streaming plan must agree with the batch semantics.
  */
object Streaming {

  case class Ev(event_id: Long, ts: Long, user_id: Long, value: Double)
  case class SessionState(sessions: List[(Long, Long, Long, Long)])
  case class SessionOut(
      user_id: Long, session_id: Int, n_events: Long,
      t_start: Long, t_end: Long, version: Long)

  /** Physical streaming plans captured at drain time (keyed by query
    * name), so `graft.Plans` can assert the streaming-operator shapes
    * (StateStoreSave, FlatMapGroupsWithState, StreamingSymmetricHashJoin)
    * without reaching into StreamExecution internals. */
  private[graft] val planCapture =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def recordExplain(
      name: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    try Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
    catch { case _: Throwable => }
    val s = buf.toString
    if (s.nonEmpty) planCapture(name) = s
  }

  /** Streaming file sources need a directory: stage the events parquet
    * into a per-sf temp dir under target/. `<table>.parquet` may be one
    * file (the fixtures) or a directory of part files (ScaleGen's
    * output). The stream source reads only the staged dir's own files, not
    * nested ones, so a directory's contents are copied into a temp sibling
    * that is then renamed to the staged dir: a copy cut short is never
    * mistaken for a staged input, and a staged dir without parquet (left
    * by an older copy that staged only the empty top-level directory) is
    * rebuilt. Staging that yields no parquet file fails loudly instead of
    * streaming zero rows. */
  private[graft] def stageDir(dir: String, table: String = "events"): String = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    def hasParquet(f: java.io.File): Boolean =
      if (f.isFile) f.getName.endsWith(".parquet")
      else Option(f.listFiles()).exists(_.exists(hasParquet))
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val d = new java.io.File(s"target/tmp_stream/$tag/$table")
    val src = Paths.get(s"$dir/$table.parquet")
    if (Files.isDirectory(src)) {
      if (!hasParquet(d)) {
        graft.Fs.rm(d)
        d.getParentFile.mkdirs()
        val tmp = Files.createTempDirectory(d.getParentFile.toPath, s".$table.")
        val files = Files.walk(src)
        try files.forEach { (p: Path) =>
          if (p != src) Files.copy(p, tmp.resolve(src.relativize(p).toString))
        } finally files.close()
        Files.move(tmp, d.toPath, StandardCopyOption.ATOMIC_MOVE)
      }
    } else {
      d.mkdirs()
      val dst = new java.io.File(d, s"$table.parquet")
      if (!dst.exists()) Files.copy(src, dst.toPath)
    }
    if (!hasParquet(d))
      throw new IllegalStateException(s"no parquet file staged at $d")
    d.getAbsolutePath
  }

  /** Drain `body` with no-data micro-batches disabled, restoring the
    * session conf after. A `processAllAvailable` drain of a finite input
    * otherwise runs a SECOND, zero-input-row micro-batch purely to advance
    * the watermark and evict state — and that batch re-pays the full
    * per-partition state-store commit machinery (measured by St04Probe at
    * sf0.1: batch 1 = 0 rows, 3.0–5.7 s of trigger time, ~45 % of st04's
    * cost; state itself is 8.8 MB). It is output-neutral exactly for the
    * shapes that use this helper: stream-stream INNER joins emit matches
    * in the batch they arrive (the watermark only bounds state, never
    * gates append output), and complete-mode aggregations rewrite the
    * whole result every batch (the no-data batch re-emits the identical
    * table). Shapes where the no-data batch DOES produce or finalize
    * output — event-time timeouts (st03's FlatMapGroupsWithState),
    * append-mode windowed aggregation — must NOT use it. */
  private def drainNoIdleBatch[A](
      s: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
  }

  /** Micro-batch shuffle/state partition count sized to the INPUT, not the
    * session's core count (guide §2.2: partition count is a per-batch COST
    * for stateful streaming — every stateful operator commits one state
    * store per shuffle partition per micro-batch, so partitions the state
    * doesn't need are pure commit/maintenance overhead). Round-13 St04Probe
    * measured st04's residual drain cost as exactly this machinery: 32
    * partitions × 4 join state stores for 8.8 MB of state, and the 8-core
    * bench ran st04 2.3× FASTER than 32-core (1.32 vs 2.97 s) purely from
    * the lower partition count. Sizing: one partition per 8 MB of staged
    * input (state for these shapes is O(input window)), floor
    * min(4, cores), cap at the session's cores — a 100 TB/day stream derives hundreds of
    * partitions and still uses every core, while a kilobyte fixture stops
    * paying 32-way commit fan-out.
    * Safe for result values on every shape here: partitioning never
    * changes what a shuffle computes, and each bench/oracle run starts a
    * fresh query (memory sink, fresh checkpoint), so there is no prior
    * checkpoint whose state-partition count could conflict.
    *
    * Round-14 St04Probe sweep at sf0.1 (warm, parts = 32/8/4/2/1):
    * st04 3.5-3.8 / 1.8-1.9 / 1.8-1.9 / 1.6-2.0 / 1.9-2.1 s and
    * st01 1.6 / 1.27 / 1.18-1.35 / 1.27-1.45 / 1.47-1.54 s — a flat
    * optimum at 4-8 partitions (st04 −48%, st01 −23% vs 32) with a mild
    * SINGLE-partition penalty (the per-batch compute serializes), hence
    * the floor of min(4, cores) rather than 1. */
  private def sizedStreamParts(staged: String): Int = {
    val bytes = graft.Fs.size(new java.io.File(staged))
    val cores = graft.Engine.defaultCpus
    math.max(math.min(4, cores), math.min(cores, (bytes >> 23).toInt))
  }

  /** Run `body` with the session's shuffle partitions sized by
    * [[sizedStreamParts]], restoring the previous value after (the sink
    * read-back and any later query in the session keep the engine
    * default). */
  private def withSizedStreamParts[A](
      s: org.apache.spark.sql.SparkSession, staged: String)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getOption(key)
    s.conf.set(key, sizedStreamParts(staged).toString)
    try body
    finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
  }

  val queries: Map[String, Q] = Map(
    "st01_stream_hourly" -> { (s, dir) =>
      val sinkName = "st01_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val staged = stageDir(dir)
      val stream = s.readStream.schema(evSchema)
        .parquet(staged)
        // ts is TIMESTAMP_NTZ µs in the fixtures; session tz is UTC so the
        // NTZ→TZ cast is value-preserving (watermark/window need TIMESTAMP)
        .withColumn("event_time", col("ts").cast(TimestampType))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumd(dmoney(col("value"))).as("total_value"))
      withSizedStreamParts(s, staged) { drainNoIdleBatch(s) {
        val q = stream.writeStream
          .outputMode("complete")
          .format("memory")
          .queryName(sinkName)
          .start()
        try { q.processAllAvailable(); recordExplain("st01_stream_hourly", q) }
        finally q.stop()
      } }
      s.table(sinkName)
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("w_start", "event_type")
    },

    // Stateful streaming: per-user running totals via the same micro-batch
    // pipeline, update-mode — demonstrates stateful agg; rows-only check.
    "st02_stream_user_totals" -> { (s, dir) =>
      val sinkName = "st02_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = s.readStream.schema(evSchema)
        .parquet(stageDir(dir))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sumd(dmoney(col("value"))).as("total_value"))
        .writeStream.outputMode("complete").format("memory").queryName(sinkName)
        .start()
      try { q.processAllAvailable(); recordExplain("st02_stream_user_totals", q) }
      finally q.stop()
      s.table(sinkName).orderBy("user_id")
    },

    // Stream-static join: the enrichment shape every production pipeline
    // runs (events stream joined to a slowly-changing dimension). The
    // static side is a per-user profile derived once from the batch
    // fixture; it broadcasts into each micro-batch, so the stream side
    // never shuffles and no join state accumulates (unlike st04's
    // stream-stream join). Aggregated per profile segment for a
    // deterministic oracle.
    "st07_stream_static_join" -> { (s, dir) =>
      val sinkName = "st07_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val users = graft.Engine.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(col("event_id")).as("first_event"))
        .withColumn("segment", (col("user_id") % 5).cast(IntegerType))
        .select(col("user_id").as("u_id"), col("segment"))
      val q = s.readStream.schema(evSchema)
        .parquet(stageDir(dir))
        .join(broadcast(users), col("user_id") === col("u_id"))
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumd(dmoney(col("value"))).as("total_value"))
        .writeStream.outputMode("complete").format("memory").queryName(sinkName)
        .start()
      try { q.processAllAvailable(); recordExplain("st07_stream_static_join", q) }
      finally q.stop()
      s.table(sinkName).orderBy("segment", "event_type")
    },

    // Streaming exact dedup: the documents corpus consumed as a stream,
    // deduplicated by content fingerprint via stateful aggregation — the
    // aggregation state IS the dedup table (fp -> count + canonical id),
    // which is how a continuous-ingest pipeline dedups against everything
    // seen so far. State is hash-partitioned by fp across executors, so
    // it scales horizontally; with a watermark + dropDuplicates this
    // would bound state by time, but exact corpus dedup wants full
    // retention. Matches the batch d01 oracle exactly.
    "st05_stream_dedup" -> { (s, dir) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val sinkName = "st05_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = s.readStream.schema(schema)
        .parquet(stageDir(dir, "documents"))
        .groupBy(md5(col("text").cast(BinaryType)).as("fp"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keep_id"))
        .writeStream.outputMode("complete").format("memory").queryName(sinkName)
        .start()
      try { q.processAllAvailable(); recordExplain("st05_stream_dedup", q) }
      finally q.stop()
      s.table(sinkName).orderBy("fp")
    },

    // Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark on
    // a coarse business key (user, type, hour). Unlike st05's
    // full-retention dedup table, state here is EVICTED once the watermark
    // passes — the production shape for continuous ingest where the key
    // space grows without bound. Output is the surviving key set only, so
    // the result is arrival-order independent and equals the batch
    // DISTINCT oracle whenever duplicates arrive within the watermark
    // (guaranteed here: same-hour duplicates, 2 h delay, time-ordered
    // source; the multi-batch spec in GraftSpec proves the cross-batch
    // case).
    "st06_stream_dedup_watermark" -> { (s, dir) =>
      dedupWatermarkStream(s, stageDir(dir), Map.empty)
    },

    // Custom stateful streaming: sessionization with
    // flatMapGroupsWithState (KeyValueGroupedDataset). State is the
    // per-user event list; on completion the emitted sessions must agree
    // with the batch lag-gap sessionization — the oracle is the same SQL
    // as e01_sessionize (minus the value sum, which the typed path skips).
    "st03_stream_sessionize" -> { (s, dir) =>
      sessionizeStream(s, stageDir(dir), Map.empty)
    })

  /** Stateful sessionization over a staged events directory. The state
    * function emits an explicit per-user `version` (state-update count), so
    * the update-mode sink — which retains every emitted version of a key —
    * can be reduced to the latest state by keep-max-version, regardless of
    * how many micro-batches the source was split into. (A sink-side
    * `monotonically_increasing_id()` is NOT a valid version: it encodes
    * partition id, not arrival order.) */
  private[graft] def sessionizeStream(
      s: org.apache.spark.sql.SparkSession, staged: String,
      readerOpts: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val sinkName = "st03_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val gapUs = 30L * 60 * 1000 * 1000

    def assign(
        user: Long, events: Iterator[Ev],
        state: GroupState[(Long, List[(Long, Long)])]): Iterator[SessionOut] = {
      val (priorVer, prior) = state.getOption.getOrElse((0L, Nil))
      val ver = priorVer + 1
      val all = (prior ++ events.map(e => (e.ts, e.event_id)).toList)
        .sortBy(identity)
      state.update((ver, all))
      var sid = 0; var prev = Long.MinValue
      val out = scala.collection.mutable.Map
        .empty[Int, (Long, Long, Long)] // sid -> (n, start, end)
      all.foreach { case (tsUs, _) =>
        if (prev == Long.MinValue || tsUs - prev > gapUs) sid += 1
        val (n, st, en) = out.getOrElse(sid, (0L, tsUs, tsUs))
        out(sid) = (n + 1, math.min(st, tsUs), math.max(en, tsUs))
        prev = tsUs
      }
      out.toSeq.sortBy(_._1).iterator.map { case (id, (n, st, en)) =>
        SessionOut(user, id, n, st, en, ver)
      }
    }

    // Ev.ts is epoch µs: convert the NTZ column before entering the typed path
    val q = s.readStream.schema(evSchema).options(readerOpts).parquet(staged)
      .select(col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("ts"),
        col("user_id"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(assign)
      .writeStream.outputMode("update").format("memory").queryName(sinkName)
      .start()
    try { q.processAllAvailable(); recordExplain("st03_stream_sessionize", q) }
    finally q.stop()
    // update-mode sink holds every emitted version of a user's sessions;
    // only the user's LATEST state version is current (an earlier version's
    // session split may not even exist anymore once a bridging event merges
    // two sessions) — keep all rows of the max version per user, drop rest
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    s.table(sinkName)
      .withColumn("maxv", max(col("version")).over(w))
      .filter(col("version") === col("maxv"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("t_start"), col("t_end"))
      .orderBy("user_id", "session_id")
  }

  /** events.parquet reader schema — ts is TIMESTAMP_NTZ(µs) in the fixtures
    * (asserted by GraftSpec's fixture-schema gate so drift fails loudly). */
  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val joinQueries: Map[String, Q] = Map(
    // Stream-stream inner join with event-time range condition: signups
    // joined to the same user's purchases within the following hour.
    // Watermarks bound the join state on both sides — at scale this is
    // what keeps an unbounded two-stream join's state finite. Inner
    // matches emit as they arrive, so a single-batch drain is complete
    // and deterministic; the oracle is the equivalent batch self-join.
    "st04_stream_stream_join" -> { (s, dir) =>
      val sinkName = "st04_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val stagedDir = stageDir(dir)
      def side(kind: String, idAs: String, tsAs: String) =
        s.readStream.schema(evSchema).parquet(stagedDir)
          .filter(col("event_type") === kind)
          .select(col("user_id"),
            col("event_id").as(idAs),
            col("ts").cast(TimestampType).as(tsAs))
          .withWatermark(tsAs, "1 hour")
      val signups = side("signup", "signup_id", "signup_time")
      val purchases = side("purchase", "purchase_id", "purchase_time")
        .withColumnRenamed("user_id", "p_user_id")
      withSizedStreamParts(s, stagedDir) { drainNoIdleBatch(s) {
        val q = signups.join(purchases,
            col("user_id") === col("p_user_id") &&
              col("purchase_time") > col("signup_time") &&
              col("purchase_time") <= col("signup_time") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("signup_id"), col("purchase_id"))
          .writeStream.outputMode("append").format("memory").queryName(sinkName)
          .start()
        try { q.processAllAvailable(); recordExplain("st04_stream_stream_join", q) }
        finally q.stop()
      } }
      s.table(sinkName).orderBy("user_id", "signup_id", "purchase_id")
    })

  /** Watermarked streaming dedup over a staged events directory. */
  private[graft] def dedupWatermarkStream(
      s: org.apache.spark.sql.SparkSession, staged: String,
      readerOpts: Map[String, String]): org.apache.spark.sql.DataFrame = {
    val sinkName = "st06_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = s.readStream.schema(evSchema).options(readerOpts)
      .parquet(staged)
      .withColumn("event_time", col("ts").cast(TimestampType))
      .withWatermark("event_time", "2 hours")
      .withColumn("hour_start", date_trunc("hour", col("event_time")))
      .select(col("user_id"), col("event_type"), col("hour_start"),
        col("event_time"))
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "hour_start"))
      .select(col("user_id"), col("event_type"), col("hour_start"))
      .writeStream.outputMode("append").format("memory").queryName(sinkName)
      .start()
    try { q.processAllAvailable(); recordExplain("st06_stream_dedup_watermark", q) }
    finally q.stop()
    s.table(sinkName).orderBy("user_id", "event_type", "hour_start")
  }

  val oracles: Map[String, String] = Map(
    "st07_stream_static_join" -> s"""
      SELECT CAST(user_id % 5 AS INT) AS segment, event_type,
        COUNT(*) AS n, ${sql.sumd(sql.dmoney("value"))} AS total_value
      FROM events
      GROUP BY segment, event_type
      ORDER BY segment, event_type""",

    "st06_stream_dedup_watermark" -> """
      SELECT DISTINCT user_id, event_type,
        make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour_start
      FROM events
      ORDER BY user_id, event_type, hour_start""",

    "st04_stream_stream_join" -> """
      SELECT a.user_id, a.event_id AS signup_id, b.event_id AS purchase_id
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'signup' AND b.event_type = 'purchase'
       AND epoch_us(b.ts) > epoch_us(a.ts)
       AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
      ORDER BY a.user_id, signup_id, purchase_id""",

    // Window start = hour-aligned epoch; reconstruct via make_timestamp(µs).
    "st01_stream_hourly" -> s"""
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS w_start,
        event_type, COUNT(*) AS n,
        ${sql.sumd(sql.dmoney("value"))} AS total_value
      FROM events
      GROUP BY w_start, event_type
      ORDER BY w_start, event_type""",

    "st05_stream_dedup" -> """
      SELECT MD5(text) AS fp, COUNT(*) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS keep_id
      FROM documents GROUP BY MD5(text) ORDER BY fp""",

    "st02_stream_user_totals" -> s"""
      SELECT user_id, COUNT(*) AS n_events,
        ${sql.sumd(sql.dmoney("value"))} AS total_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",

    "st03_stream_sessionize" -> s"""
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS tsn,
          CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
                 OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > ${30L * 60 * 1000 * 1000}
               THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      sessions AS (
        SELECT user_id, tsn,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsn, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id, CAST(session_id AS INT) AS session_id,
        COUNT(*) AS n_events,
        CAST(MIN(tsn) AS BIGINT) AS t_start,
        CAST(MAX(tsn) AS BIGINT) AS t_end
      FROM sessions
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""")
}
