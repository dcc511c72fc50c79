package graft

/** The JDK module opens Spark needs when a `SparkSession` is created outside
  * spark-submit: the same list as build.sbt's `jdk17AddOpens` (and Spark's
  * `JavaModuleOptions`). Without them a run does not stop; it fails in
  * scattered places (an `IllegalAccessError` on `sun.util.calendar.ZoneInfo`
  * in date casts, expression-decoding errors), which read as wrong results.
  * So every main checks first and exits naming each missing flag.
  */
object JdkOpens {

  val Packages: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")

  private def flag(pkg: String): String = s"--add-opens java.base/$pkg=ALL-UNNAMED"

  /** `java.base` opens `pkg` to the unnamed module (the classpath). */
  def isOpen(pkg: String): Boolean =
    classOf[Object].getModule.isOpen(pkg, getClass.getClassLoader.getUnnamedModule)

  /** The flags missing under `open`. */
  def missing(open: String => Boolean = isOpen): Seq[String] =
    Packages.filterNot(open).map(flag)

  /** Exits (status 2) with one line per missing flag, before any work. */
  def requireOrExit(main: String, open: String => Boolean = isOpen,
      report: String => Unit = System.err.println(_),
      exit: Int => Unit = sys.exit(_)): Unit = {
    val m = missing(open)
    if (m.nonEmpty) {
      report(s"[$main] the JVM lacks ${m.size} JDK module open(s) Spark needs; " +
        "start it with:")
      m.foreach(f => report(s"  $f"))
      exit(2)
    }
  }
}
