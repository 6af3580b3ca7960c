package graft

import java.io.File
import java.nio.file.Files
import java.security.Permission
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** A graft session reads and sets local file metadata in-process: a parquet
  * write, a staged bucketed layout and the stateful stream join st04 start
  * no file-metadata process (Hadoop's local filesystem without libhadoop
  * starts hundreds for st04 alone). */
class SpawnAuditSpec extends AnyFunSuite {
  private val metadata = Set("chmod", "readlink", "ls", "stat", "ln")

  test("spawn audit: a graft session starts no chmod, readlink, ls, stat or ln process") {
    val work = Files.createTempDirectory("spawn-audit").toFile
    val log = new File(work, "child.log")
    try {
      val child = ChildJvm.launch("graft.SpawnAuditChild",
        Seq("/root/testdata/sf0.001", new File(work, "out").getPath), log,
        Seq("-Djava.security.manager=allow",
          s"-Dspark.sql.warehouse.dir=${new File(work, "warehouse").getPath}"))
      val code = child.waitFor()
      val out = scala.io.Source.fromFile(log).getLines().toSeq
      assert(code == 0, out.takeRight(40).mkString("\n"))
      val spawned = out.collectFirst { case SpawnAuditChild.Spawned(s) =>
        s.split(',').filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split('='); k -> v.toInt
        }.toMap
      }.getOrElse(fail(out.takeRight(40).mkString("\n")))
      info(s"processes started: ${spawned.toSeq.sorted.map { case (c, n) => s"$c=$n" }.mkString(", ")}")
      val bad = spawned.filter { case (cmd, _) => metadata(cmd) }
      assert(bad.isEmpty, s"file-metadata processes started: $bad (all: $spawned)")
      val fs = out.collectFirst { case SpawnAuditChild.Fs(c) => c }
      assert(fs.contains(classOf[NioLocalFileSystem].getName), out.takeRight(40).mkString("\n"))
    } finally Fs.rm(work)
  }
}

/** Counts every process this JVM starts (a `SecurityManager`'s `checkExec`;
  * needs `-Djava.security.manager=allow`) while an `Engine.session` writes
  * parquet, stages `Graft.layouts.bucketedTpch` and runs st04 on fixture
  * dir `args(0)`, writing under `args(1)`. Prints the `file:` filesystem's
  * class and the command counts. */
object SpawnAuditChild {
  val Fs = """fs (\S+)""".r
  val Spawned = """spawned (\S*)""".r

  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spawned = new ConcurrentHashMap[String, LongAdder]()
    System.setSecurityManager(new SecurityManager {
      override def checkExec(cmd: String): Unit =
        spawned.computeIfAbsent(new File(cmd).getName, _ => new LongAdder).increment()
      override def checkPermission(perm: Permission): Unit = ()
      override def checkPermission(perm: Permission, context: AnyRef): Unit = ()
    })
    val spark = Engine.session(cpus = 2, appName = "spawn-audit")
    spark.sparkContext.setLogLevel("ERROR")
    println(s"fs ${new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration).getClass.getName}")
    Engine.table(spark, dir, "nation").write.parquet(s"$out/nation")
    Graft.layouts.bucketedTpch(spark.newSession(), dir)
    SparkEntry.queries("st04_stream_stream_join")(spark.newSession(), dir)
      .write.format("noop").mode("overwrite").save()
    spark.stop()
    import scala.jdk.CollectionConverters._
    println("spawned " + spawned.asScala.toSeq.sortBy(_._1)
      .map { case (cmd, n) => s"$cmd=${n.sum}" }.mkString(","))
  }
}
