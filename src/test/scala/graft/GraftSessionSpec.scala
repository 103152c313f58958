package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing shared by the profiling tools. */
class GraftSessionSpec extends AnyFunSuite {

  test("parseConfs splits each entry at its first '=' and skips malformed ones") {
    val got = GraftSession.parseConfs(
      " spark.a = 1 ,spark.driver.extraJavaOptions=-Dk=v=w,,novalue,=orphan,spark.b=")
    assert(got == Seq(
      "spark.a" -> "1",
      "spark.driver.extraJavaOptions" -> "-Dk=v=w",
      "spark.b" -> ""))
  }
}
