package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one comma-list parser behind every name selector (Verify,
  * Explain, ScaleUp, Bench's SPARK_GRAFT_ONLY). */
class HarnessSpec extends AnyFunSuite {
  test("names: a trailing, leading or doubled comma adds no blank " +
      "name") {
    assert(Harness.names("documents,") === Seq("documents"))
    // String.split keeps these empties (it drops only trailing ones)
    assert(Harness.names("documents, ") === Seq("documents"))
    assert(Harness.names(",documents") === Seq("documents"))
    assert(Harness.names("q34,,q92") === Seq("q34", "q92"))
  }

  test("names: spaces around names are trimmed") {
    assert(Harness.names(" q34 , q92") === Seq("q34", "q92"))
  }

  test("names: all-empty input is no names") {
    assert(Harness.names("") === Nil)
    assert(Harness.names(" , ,") === Nil)
  }
}
