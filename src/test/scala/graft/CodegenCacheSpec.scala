package graft

import java.io.File

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The codegen cache must hold a workload's generated classes: a warm round
  * of queries in fresh child sessions compiles nothing. Runs in a child JVM,
  * because the cache's size is fixed by whichever session first initialises
  * `CodeGenerator` in a JVM, and another suite may have done it. */
class CodegenCacheSpec extends AnyFunSuite {

  /** 153 cache entries at sf0.001. Queries whose plans run stages
    * concurrently (q02, q03, q17, q20) are left out: AQE numbers their
    * codegen stages in completion order, so their source, and its cache
    * key, can differ from run to run whatever the cache size. */
  private val queries = Seq("tpch_q01", "tpch_q04", "tpch_q05", "tpch_q09",
    "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q18", "tpch_q21")

  test("codegen cache: a warm round in fresh child sessions recompiles nothing") {
    val log = File.createTempFile("codegen-child", ".log")
    try {
      val child = ChildJvm.launch("graft.CodegenChild",
        "/root/testdata/sf0.001" +: queries, log)
      val code = child.waitFor()
      val out = scala.io.Source.fromFile(log).getLines().toSeq
      assert(code == 0, out.takeRight(40).mkString("\n"))
      val Seq(cold, warm) = out.collectFirst {
        case CodegenChild.Result(c, w) => Seq(c.toLong, w.toLong)
      }.getOrElse(fail(out.takeRight(40).mkString("\n")))
      // more classes than Spark's default cache size (100), so at that
      // size some segment must evict
      assert(cold > 100, s"working set of $cold classes is too small to test")
      assert(warm == 0, s"warm round recompiled $warm of $cold classes")
    } finally log.delete()
  }
}

/** Runs the TPC-H queries `args.tail` on fixture dir `args(0)` twice, one
  * fresh child session per query, and prints how many classes each round
  * compiled. */
object CodegenChild {
  val Result = """compiles cold=(\d+) warm=(\d+)""".r

  def main(args: Array[String]): Unit = {
    val spark = Engine.session(cpus = 2, appName = "codegen-child")
    spark.sparkContext.setLogLevel("ERROR")
    val queries = args.toSeq.tail.map(graft.queries.Tpch.queries)
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      queries.foreach { q =>
        q(spark.newSession(), args(0)).write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val cold = round()
    val warm = round()
    println(s"compiles cold=$cold warm=$warm")
    spark.stop()
  }
}
