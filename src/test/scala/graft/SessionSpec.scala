package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  test("Session.cpus falls back to the processor count unless positive") {
    val n = Runtime.getRuntime.availableProcessors
    for (v <- Seq(None, Some(""), Some("four"), Some("2.5"), Some("0"),
        Some("-3")))
      assert(Session.cpusFrom(v) === n, v)
    assert(Session.cpusFrom(Some(" 6 ")) === 6)
  }
}
