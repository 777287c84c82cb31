package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Bench.parseCpus("8") == 8)
    assert(Bench.parseCpus(" 32\n") == 32)
    Seq("*", "", "0", "-4", "8 cores", "4.0").foreach { raw =>
      intercept[IllegalArgumentException](Bench.parseCpus(raw))
    }
  }
}
