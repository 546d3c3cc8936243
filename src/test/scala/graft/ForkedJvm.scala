package graft

/** Runs a main class in a FORKED JVM on the test classpath — for specs
  * whose subject needs its own process: a concurrent writer that
  * shares only the filesystem with the test (CrossProcessSpec), or a
  * CLI main that stops its SparkSession on exit, which would kill the
  * shared test session (EtlMainSpec). */
object ForkedJvm {
  /** The child needs the same JDK17 module opens Spark always needs
    * outside spark-submit (mirrors build.sbt / Spark's own
    * JavaModuleOptions.defaultModuleOptions). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def javaBin = new java.io.File(
    new java.io.File(System.getProperty("java.home"), "bin"), "java")

  def canFork: Boolean = javaBin.canExecute

  /** Start `mainClass args` with heap `xmx`, stdout and stderr merged
    * into `log`; `env` is added to this process's environment. */
  def start(mainClass: String, args: Seq[String], xmx: String,
            log: java.io.File, env: Map[String, String] = Map.empty): Process = {
    val cmd = Seq(javaBin.getAbsolutePath, s"-Xmx$xmx") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    pb.start()
  }
}
