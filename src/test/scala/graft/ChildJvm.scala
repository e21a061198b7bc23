package graft

/** The command that starts a plain `java` child on this test JVM's
  * classpath, for specs that need a second process: the JDK 17
  * `--add-opens` flags Spark needs, a 2 GB heap, no UI and a UTC session
  * time zone. */
object ChildJvm {

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def command(mainClass: String, args: Seq[String],
              extraJvmArgs: Seq[String] = Nil): Seq[String] = {
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    Seq(javaBin) ++ jdk17AddOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      extraJvmArgs ++ Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
  }
}
