package graft.operators

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption.{CREATE, WRITE}
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.functions._

import graft.{Engine, Fs}

/** Staged tables: ingest-time physical layouts, written once per
  * (fixture dir, layout version, definition) and read by every later
  * session and JVM. GlareDB stores no layouts; these are graft's
  * ingest-time answer (production analogue: layout epochs in the catalog).
  *
  * Publish protocol — `<warehouse>/<name>` exists only once the table is
  * complete:
  *   - reach: a published plain table is bound into the caller's session
  *     by path with [[graft.Engine.bind]], like a fixture table: one
  *     resolution per path per JVM and no catalog entry. Only a bucketed
  *     table is attached to the session catalog, because the catalog entry
  *     is what carries its bucket spec: a dir with no entry (another JVM
  *     built it) is attached as an external table (`CREATE TABLE …
  *     LOCATION`; bucket identity rides on the bucketed writer's file-name
  *     suffixes, so it keeps its co-location and write-time sort order);
  *   - build: under an exclusive OS file lock on `<name>`, every slice is
  *     written into the managed table `<name>__tmp`, which is then
  *     published with `ALTER TABLE … RENAME`. For the session catalog that
  *     is one directory rename: the table stays MANAGED, keeps its bucket
  *     spec, and `DROP TABLE default.<name>` deletes its files (an
  *     unqualified `DROP` would remove the temp view of the same name
  *     instead). A rename onto an existing location fails loudly.
  *
  * A build killed between slices (an sf100 ENOSPC once left a
  * half-written lineitem projection with a per-slice `_SUCCESS` and a live
  * catalog entry) therefore leaves only `<name>__tmp`, which the next
  * builder deletes: holding the lock proves its writer is dead, because the
  * OS drops a lock with its process. A second JVM arriving mid-build waits
  * on the lock and then reads the published table instead of deleting and
  * rebuilding it. */
object Staged {

  /** Layout version, baked into every staged-table name. Bump when a
    * staged schema, physical order or the publish protocol changes: dirs
    * from older versions then stop matching, are pruned by the next build
    * and every table is rebuilt once. */
  val layoutVer = "r15a"

  /** Staged layouts are written zstd, not the snappy default: they are
    * write-once/read-many materializations, so the one-time ~2x encode
    * cost buys ~40% smaller files on every subsequent scan — less IO per
    * query and, at sf100 on a 94 GB disk, the difference between the
    * layout set fitting on disk or not. */
  private val stagedCodec = "zstd"

  /** Ingest batching: how many slices to stage a fact table in.
    *
    * A single-shot `repartition(buckets, key).bucketBy.saveAsTable` of a
    * 600M-row fact holds the ENTIRE table as live shuffle files plus the
    * growing parquet output — at sf100 that transient peak overflowed a
    * 94 GB disk twice (measured: >52 GB free was not enough). Batched
    * ingest bounds the peak at 1/slices; see [[table]] for how bucketed
    * slices keep every bucket a single sorted file. This is also how a
    * production cluster ingests a 100 TB fact into a co-located layout:
    * bounded batches, not one all-table exchange. Slices are sized from
    * the input's on-disk bytes (~one slice per 4 GB, min 1, max 16). */
  def ingestSlices(dir: String, table: String): Int = {
    val gb = Fs.size(new File(s"$dir/$table.parquet")).toDouble / (1L << 30)
    math.max(1, math.min(16, math.ceil(gb / 4.0).toInt))
  }

  /** Release the previous ingest slice's shuffle files before the next
    * slice shuffles. Spark deletes a shuffle's disk files only when its
    * ShuffleDependency becomes weakly reachable and the ContextCleaner
    * drains it — inside a slice loop nothing GCs, so every slice's files
    * accumulate and the "bounded 1/slices footprint" claim silently
    * becomes slices/slices (measured: 32 GB of blockmgr files at sf100,
    * ENOSPC on a 41 GB-free disk). A GC pulse plus a grace period lets the
    * async cleaner reclaim them; the sleep is untimed ingest work, not
    * query time. */
  private def releaseShuffles(slices: Int): Unit =
    if (slices > 1) {
      System.gc()
      // The ContextCleaner deletes asynchronously and can lag past a fixed
      // sleep on a slow disk. Poll the shuffle spill dirs instead: sleep in
      // 1 s steps while their total size is still DROPPING (the cleaner is
      // mid-reap), with 4 s as the floor and 20 s as a hard cap.
      def spillBytes(): Long = {
        val tmp = new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
        Option(tmp.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("blockmgr-") ||
            f.getName.startsWith("spark-"))
          .map(Fs.size).sum
      }
      Thread.sleep(4000)
      var prev = spillBytes()
      var waited = 4000L
      var dropping = true
      while (dropping && waited < 20000L) {
        Thread.sleep(1000); waited += 1000
        val now = spillBytes()
        dropping = now < prev - (64L << 20) // still reaping >64 MB/s
        prev = now
      }
    }

  private def hex(x: String): String = Integer.toHexString(x.hashCode).take(8)

  private[operators] def tmpName(name: String): String = name + "__tmp"

  /** Build the staged table `graft_<family>_<layoutVer>_<hash
    * (defText)>_<hash(dir)>[_<buckets>]` unless it is published, make it
    * readable as that name in `spark`'s session and return the name.
    *
    * `defText` is the table's defining text (its SQL or a description of
    * its projection): an edit to it renames the table, so a stale build is
    * never attached, and the build prunes the superseded siblings (same
    * family, dir and bucket count, another definition) and every dir of an
    * older [[layoutVer]]. `slice(s)` yields the rows of ingest slice `s`
    * of `slices`; slice 0 overwrites, later slices append.
    *
    * `bucket = Some((n, key))` writes `n` buckets sorted by `key`. Slice
    * `s` then keeps only the rows whose bucket id — `pmod(hash(key), n)`,
    * the Murmur3 expression Spark's bucketed write uses — falls in the
    * slice's bucket range, and repartitions on the key, so each bucket
    * receives files from exactly ONE slice and stays a single sorted file
    * (Spark reports a bucketed scan's sort order only for single-file
    * buckets; the merge-join twins rely on it), while the live shuffle
    * footprint is 1/slices of the table. A bucketed `slice` may therefore
    * ignore its argument. `rowGroupBytes` sets the parquet row-group
    * size. */
  def table(spark: SparkSession, family: String, defText: String,
      dir: String, bucket: Option[(Int, String)] = None, slices: Int = 1,
      rowGroupBytes: Option[Long] = None)(slice: Int => DataFrame): String = {
    val suffix = "_" + hex(dir) + bucket.fold("")("_" + _._1)
    val name = s"graft_${family}_${layoutVer}_${hex(defText)}$suffix"
    val loc = new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    val wh = loc.getParent

    // holding the name's build lock, with no table published under it
    def build(): Unit = {
      val tmp = tmpName(name)
      // a catalog entry whose files are gone would block the rename
      spark.sql(s"DROP TABLE IF EXISTS default.$name")
      dropTmp(spark, wh, tmp)
      pruneStaleLayouts(wh)
      val sibling = (Pattern.quote(s"graft_${family}_${layoutVer}_") +
        "[0-9a-f]+" + Pattern.quote(suffix) + "(__tmp)?").r
      Option(new File(wh).listFiles()).getOrElse(Array.empty)
        .filter(d => sibling.matches(d.getName) && d.getName != name)
        .foreach(Fs.rm)
      try {
        (0 until slices).foreach { s =>
          write(slice(s), s, slices, bucket, rowGroupBytes, tmp)
          releaseShuffles(slices)
        }
        spark.sql(s"ALTER TABLE $tmp RENAME TO $name")
        // the catalog ignores a directory rename that returns false
        if (!loc.isDirectory)
          throw new IllegalStateException(s"$tmp was not renamed to $loc")
      } catch {
        case e: Throwable =>
          try dropTmp(spark, wh, tmp)
          catch { case d: Throwable => e.addSuppressed(d) }
          throw e
      }
    }

    if (!loc.isDirectory) withBuildLock(wh, name) {
      if (!loc.isDirectory) build()
    }
    bucket match {
      case Some((n, key)) => attach(spark, name, loc, n, key)
      case None => Engine.bind(spark, name, loc.getAbsolutePath)
    }
    name
  }

  private def write(df: DataFrame, s: Int, slices: Int,
      bucket: Option[(Int, String)], rowGroupBytes: Option[Long],
      tmp: String): Unit = {
    val rows = bucket.fold(df) { case (n, key) =>
      val inSlice =
        if (slices == 1) df
        else {
          val bucketId = pmod(hash(col(key)), lit(n))
          df.filter(bucketId >= lit(s * n / slices) &&
            bucketId < lit((s + 1) * n / slices))
        }
      inSlice.repartition(n, col(key))
    }
    val w = rows.write.mode(if (s == 0) "overwrite" else "append")
      .format("parquet").option("compression", stagedCodec)
    rowGroupBytes.foreach(b => w.option("parquet.block.size", b.toString))
    bucket.foreach { case (n, key) => w.bucketBy(n, key).sortBy(key) }
    w.saveAsTable(tmp)
  }

  /** Register a published bucketed table this session's catalog lacks.
    * Spark rejects a bucket spec without a column list, so the schema is
    * inferred once here. The check asks the session catalog directly:
    * `spark.catalog.tableExists` runs the analyzer (~2 ms warm), and an
    * attached table is checked on every call. */
  private def attach(spark: SparkSession, name: String, loc: File,
      n: Int, key: String): Unit =
    if (!spark.sessionState.catalog.tableExists(TableIdentifier(name))) {
      val path = loc.getAbsolutePath
      val schema = spark.read.parquet(path).schema.toDDL
      spark.sql(s"CREATE TABLE IF NOT EXISTS $name ($schema) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS LOCATION '$path'")
    }

  private def dropTmp(spark: SparkSession, wh: String, tmp: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS default.$tmp")
    Fs.rm(new File(wh, tmp))
  }

  /** Serializes builds in this JVM and, through an exclusive lock on a
    * per-name file under `<warehouse>/.graft_locks`, across JVMs. The
    * monitor is needed because a second lock on the same file from one JVM
    * throws `OverlappingFileLockException` instead of waiting; it is
    * re-entrant, so a build may stage the table it reads from (the
    * ClickBench grids stage `hits`). Lock files are never deleted: a JVM
    * waiting on a deleted file's lock would not exclude one that locks its
    * re-created successor. */
  private val buildMonitor = new Object

  private def withBuildLock[A](wh: String, name: String)(body: => A): A =
    buildMonitor.synchronized {
      val locks = new File(wh, ".graft_locks")
      locks.mkdirs()
      val ch = FileChannel.open(new File(locks, s"$name.lock").toPath,
        CREATE, WRITE)
      try { ch.lock(); body }
      finally ch.close() // closing the channel releases its lock
    }

  /** Delete warehouse dirs of SUPERSEDED layout versions: a [[layoutVer]]
    * bump re-stages every table under a new name, and the old-version dirs
    * (tens of GB of zstd parquet at sf100) would otherwise be orphaned.
    * The version rides in the name as `_r<digits><letters>_`; any graft_*
    * dir whose version segment differs from [[layoutVer]] is dead by
    * construction (nothing can attach it). */
  private val verSeg = "_(r\\d+[a-z]*)_".r
  private def pruneStaleLayouts(wh: String): Unit =
    Option(new File(wh).listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName.startsWith("graft_") &&
        verSeg.findFirstMatchIn(d.getName).exists(_.group(1) != layoutVer))
      .foreach(Fs.rm)
}
