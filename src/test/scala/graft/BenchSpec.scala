package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_EXTRA_CONF: empty is a no-op, k=v pairs parse, a bare key fails by name") {
    assert(Bench.extraConf("").isEmpty)
    assert(Bench.extraConf("a=b,c=d") == Seq("a" -> "b", "c" -> "d"))
    val e = intercept[IllegalArgumentException](Bench.extraConf("a"))
    assert(e.getMessage.contains("'a'"), e.getMessage)
  }
}
