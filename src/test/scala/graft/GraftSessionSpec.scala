package graft

/** The specs run on the engine the oracle certifies. */
class GraftSessionSpec extends SparkSpec {
  test("the test session carries the oracle's engine confs") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") ==
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      "16777216")
  }
}
