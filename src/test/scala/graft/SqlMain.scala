package graft

/** Scratch harness: run semicolon-separated SQL from stdin, print results. */
object SqlMain {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(cpus = 4, appName = "sql-scratch")
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.glareDialect(spark)
    val src = scala.io.Source.fromInputStream(System.in).mkString
    src.split(";;").map(_.trim).filter(_.nonEmpty).foreach { sql =>
      try {
        val df = spark.sql(sql)
        df.collect().take(50).foreach(r => println(r.toString))
        println(s"-- OK (${df.columns.mkString(",")})")
      } catch {
        case e: Throwable =>
          println(s"-- FAIL: ${Option(e.getMessage).getOrElse(e).toString.take(600)}")
          var c = e.getCause
          while (c != null) {
            println(s"   cause: ${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").take(600)}")
            c = c.getCause
          }
      }
    }
    spark.stop()
  }
}
