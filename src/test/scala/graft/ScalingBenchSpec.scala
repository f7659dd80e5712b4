package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class ScalingBenchSpec extends AnyFunSuite {

  test("an unknown job is refused before any session starts or input is generated") {
    val input = Paths.get("/tmp/graft-scaling/input-7")
    val existed = Files.exists(input)
    val e = intercept[IllegalArgumentException] {
      ScalingBench.main(Array("7", "1", "1", "dedup"))
    }
    assert(e.getMessage.contains("unknown job 'dedup'"))
    assert(Files.exists(input) === existed)
  }
}
