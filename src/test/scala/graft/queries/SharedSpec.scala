package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** `Shared`'s persisted-artifact paths. */
class SharedSpec extends AnyFunSuite {
  test("tmpPath carries the JVM pid and is stable within the process") {
    val (sf0001, sf001) = ("/data/sf0.001", "/data/sf0.01")
    val pid = ProcessHandle.current().pid()
    val a = Shared.tmpPath("ivfsl", sf0001)
    assert(a == Shared.tmpPath("ivfsl", sf0001))
    assert(a.startsWith(s"${System.getProperty("java.io.tmpdir")}/graft_ivfsl_${pid}_"))
    assert(a != Shared.tmpPath("ivfsl", sf001))
    assert(a != Shared.tmpPath("ahidx", sf0001))
  }
}
