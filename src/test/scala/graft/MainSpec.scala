package graft

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  test("command line: unknown, valueless and stray arguments are refused; a valid one parses") {
    val refused = Seq(
      Seq("--ouput", "/data/run"),
      Seq("--rows", "10", "--out"),
      Seq("--out", "--rows", "10"),
      Seq("--rows", "10", "extra"),
      Seq("extra", "--rows", "10"),
      Seq("--rows", "10", "--rows", "20"))
    refused.foreach { a =>
      intercept[IllegalArgumentException](Main.parseArgs(a))
    }
    // main refuses before a session starts or an input is generated
    val e = intercept[IllegalArgumentException](Main.main(Array("--ouput", "/data/run")))
    assert(e.getMessage.contains("unknown argument '--ouput'"))
    assert(Main.parseArgs(Seq(
      "--input", "/in", "--rows", "10", "--out", "/data/run", "--partitions", "4")) ===
      Map("input" -> "/in", "rows" -> "10", "out" -> "/data/run", "partitions" -> "4"))
    assert(Main.parseArgs(Nil) === Map.empty)
  }
}
