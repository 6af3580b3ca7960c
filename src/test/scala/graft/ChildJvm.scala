package graft

import java.io.File

/** Start a test-side `main` in its own JVM with this JVM's class path and
  * module opens, for specs that need JVM-wide state no other suite has
  * touched (Spark's static confs, a killed process, a security manager).
  * `jvmArgs` go before the main class (`-D` properties, flags). */
object ChildJvm {
  def launch(mainClass: String, args: Seq[String], log: File,
      jvmArgs: Seq[String] = Nil): Process = {
    import scala.jdk.CollectionConverters._
    val own = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = own.sliding(2).collect {
      case Seq("--add-opens", v) => Seq("--add-opens", v)
    }.flatten.toSeq ++ own.filter(_.startsWith("--add-opens="))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opens ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
  }
}
