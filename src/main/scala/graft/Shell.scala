package graft

import org.apache.spark.sql.SparkSession
import scala.io.StdIn

/** Interactive SQL shell — the reference's CLI surface
  * (`crates/glaredb/src/main.rs:34`, shell dot-commands
  * `glaredb_core/src/shell/mod.rs:394`): SQL in, table out, with
  * path-as-table / read_* TVF sugar via GraftSession.
  *
  * Dot-commands: .tables, .schema <t>, .explain <sql>, .quit
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(appName = "graft-shell")
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.glareDialect(spark)
    args.headOption.foreach(dir => Engine.registerAll(spark, dir))
    println("graft shell — SQL, or .tables/.schema <t>/.explain <sql>/.quit")
    var line = ""
    while ({ print("graft> "); line = StdIn.readLine(); line != null && line.trim != ".quit" }) {
      try {
        val q = line.trim
        if (q.isEmpty) ()
        else if (q == ".tables")
          spark.catalog.listTables().select("name", "isTemporary").show(100, false)
        else if (q.startsWith(".schema"))
          spark.table(q.stripPrefix(".schema").trim).printSchema()
        else if (q.startsWith(".explain"))
          graft.sources.GraftSession.sql(spark, q.stripPrefix(".explain").trim)
            .explain("formatted")
        else
          graft.sources.GraftSession.sql(spark, q).show(50, false)
      } catch {
        case e: Exception => println(s"error: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
