package graft

/** The suite runs the physical plans the mains run: every key/value of
  * the [[GraftSession]] profile is live in the shared test session, so
  * a conf added to the profile but missing from the tests (or the other
  * way round) fails here rather than in a bench. */
class GraftSessionSpec extends SparkSpec {
  test("the test session carries every GraftSession profile setting") {
    assert(spark.sparkContext.master == s"local[${TestSpark.Cores}]")
    GraftSession.conf(TestSpark.Cores).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v),
        s"$k: profile sets '$v', test session has ${spark.conf.getOption(k)}")
    }
  }

  test("withConf restores a set key and unsets a key that had no value") {
    val set = "spark.sql.parquet.aggregatePushdown"
    val unset = "spark.graft.test.scopedOnly"
    val before = spark.conf.get(set)
    withConf(set -> "false", unset -> "x") {
      assert(spark.conf.get(set) == "false")
      assert(spark.conf.get(unset) == "x")
    }
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(unset).isEmpty)
    intercept[IllegalStateException](withConf(set -> "false") {
      throw new IllegalStateException("body fails")
    })
    assert(spark.conf.get(set) == before)
  }
}
