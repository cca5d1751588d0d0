package graft

/** `GraftSession.withConf` leaves the session conf as it found it. */
class GraftSessionSpec extends SparkSpec {

  private class Boom extends RuntimeException

  test("withConf restores a key that was set, also when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(GraftSession.withConf(spark, key -> "7")(spark.conf.get(key)) === "7")
    assert(spark.conf.get(key) === before)
    intercept[Boom](GraftSession.withConf(spark, key -> "7")(throw new Boom))
    assert(spark.conf.get(key) === before)
  }

  test("withConf unsets a key that was unset, also when the body throws") {
    // a key with a built-in default: writing the default back would
    // leave it explicitly set, which is not how the session started
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.unset(key)
    val default = spark.conf.get(key)
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    assert(GraftSession.withConf(spark, key -> rocks)(spark.conf.get(key)) === rocks)
    assert(!spark.conf.getAll.contains(key))
    assert(spark.conf.get(key) === default)
    intercept[Boom](GraftSession.withConf(spark, key -> rocks)(throw new Boom))
    assert(!spark.conf.getAll.contains(key))
  }
}
