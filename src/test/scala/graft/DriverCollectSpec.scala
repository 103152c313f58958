package graft

/** The bounded driver collect: every row up to the bound, `None` past it. */
class DriverCollectSpec extends SparkSpec {

  import spark.implicits._

  test("collectAtMost returns every row at the bound and None one row past it") {
    val df = (1 to 5).toDF("x")
    assert(DriverCollect.collectAtMost(df, 5).map(_.map(_.getInt(0)).sorted.toSeq)
      .contains(Seq(1, 2, 3, 4, 5)))
    assert(DriverCollect.collectAtMost(df, 4).isEmpty)
    assert(DriverCollect.collectAtMost(spark.range(0).toDF("x"), 0)
      .exists(_.isEmpty), "an empty frame fits any bound, 0 included")
  }
}
