package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' start-up check for the JDK module opens Spark needs. */
class JdkOpensSpec extends AnyFunSuite {

  test("every missing open is named, and the main exits with status 2") {
    val closed = Set("java.nio", "sun.util.calendar")
    val lines = Seq.newBuilder[String]
    var status = -1
    JdkOpens.requireOrExit("graft.Verify", open = p => !closed(p),
      report = lines += _, exit = status = _)
    assert(status === 2)
    val out = lines.result()
    assert(out.head.startsWith("[graft.Verify]"))
    assert(out.tail === Seq(
      "  --add-opens java.base/java.nio=ALL-UNNAMED",
      "  --add-opens java.base/sun.util.calendar=ALL-UNNAMED"))
  }

  test("nothing is reported when every package is open") {
    var called = false
    JdkOpens.requireOrExit("graft.Bench", open = _ => true,
      report = _ => called = true, exit = _ => called = true)
    assert(!called)
  }

  test("the forked test JVM, started with build.sbt's opens, passes the real check") {
    assert(JdkOpens.missing() === Nil)
  }
}
