package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TopKByAgg vs the window row_number idiom it replaces: identical row
  * selection, rank numbering and ordering on random data with heavy ties,
  * across partial/merge paths (forced multi-partition input) and the
  * sort-based fallback. The shared session carries the engine's 16M-group
  * fallback threshold, so the fallback case runs on a session of its own
  * with the threshold set low, and asserts that the fallback really ran.
  */
class TopKAggSpec extends SparkSpec {

  import spark.implicits._

  private def randomScored(n: Int, groups: Int, seed: Int,
                           session: org.apache.spark.sql.SparkSession = spark) = {
    val rnd = new scala.util.Random(seed)
    // coarse scores force ties so the tiebreak path is exercised
    session.createDataFrame((0 until n).map { i =>
      (rnd.nextInt(groups).toLong, (i * 2654435761L) % 1000003L,
        math.rint(rnd.nextDouble() * 20) / 20.0)
    }).toDF("query_id", "neighbor_id", "cosine").repartition(7)
  }

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int,
                         asc: Boolean) = {
    import org.apache.spark.sql.expressions.Window
    val ord = if (asc) col("cosine").asc else col("cosine").desc
    val w = Window.partitionBy(col("query_id")).orderBy(ord, col("neighbor_id"))
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("cosine"))
      .as[(Long, Long, Long, Double)].collect().toSet
  }

  private def aggTopKFrame(df: org.apache.spark.sql.DataFrame, k: Int,
                           asc: Boolean) =
    df.groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("cosine"), col("neighbor_id")), k, asc).as("t"))
      .select(col("query_id"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("query_id"), col("e.neighbor_id"), (col("p") + 1).cast("long").as("rank"),
        col("e.cosine"))
      .as[(Long, Long, Long, Double)]

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int,
                      asc: Boolean) = aggTopKFrame(df, k, asc).collect().toSet

  test("equals window row_number on random tied data (desc and asc, several k)") {
    val df = randomScored(20000, 37, seed = 11).cache()
    try {
      for (k <- Seq(1, 3, 17); asc <- Seq(false, true)) {
        val w = windowTopK(df, k, asc)
        val a = aggTopK(df, k, asc)
        assert(a == w, s"k=$k asc=$asc: ${(a diff w).take(3)} vs ${(w diff a).take(3)}")
      }
    } finally df.unpersist()
  }

  test("sort-based fallback equals window row_number, and the fallback runs") {
    val low = spark.newSession()
    low.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    val df = randomScored(20000, 37, seed = 11, session = low).cache()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    try {
      for (k <- Seq(1, 3, 17); asc <- Seq(false, true)) {
        val frame = aggTopKFrame(df, k, asc)
        val a = frame.collect().toSet
        val w = windowTopK(df, k, asc)
        assert(a == w, s"k=$k asc=$asc: ${(a diff w).take(3)} vs ${(w diff a).take(3)}")
        val fellBack = helper.collect(frame.queryExecution.executedPlan) {
          case agg: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
            agg.metrics("numTasksFallBacked").value
        }.sum
        assert(fellBack > 0, s"k=$k asc=$asc: no task fell back to sort-based aggregation")
      }
    } finally df.unpersist()
  }

  test("groups smaller than k return all their rows, best-first") {
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (2L, 12L, 0.1))
      .toDF("query_id", "neighbor_id", "cosine")
    assert(aggTopK(df, 5, asc = false) == windowTopK(df, 5, asc = false))
  }

  test("special doubles order like Spark SQL (NaN greatest, -0.0 < 0.0)") {
    val df = Seq(
      (1L, 1L, Double.NaN), (1L, 2L, Double.PositiveInfinity), (1L, 3L, 1.0),
      (1L, 4L, 0.0), (1L, 5L, -0.0), (1L, 6L, Double.NegativeInfinity))
      .toDF("query_id", "neighbor_id", "cosine")
    // NaN != NaN under tuple equality — compare canonical bit patterns
    def bits(s: Set[(Long, Long, Long, Double)]) =
      s.map { case (q, n, r, c) => (q, n, r, java.lang.Double.doubleToLongBits(c)) }
    for (asc <- Seq(false, true))
      assert(bits(aggTopK(df, 3, asc)) == bits(windowTopK(df, 3, asc)), s"asc=$asc")
  }

  test("payload fields ride along untouched") {
    val df = Seq((1L, 7L, 0.9, "x"), (1L, 8L, 0.7, "y"), (1L, 9L, 0.8, "z"))
      .toDF("query_id", "neighbor_id", "cosine", "tag")
    val out = df.groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("cosine"), col("neighbor_id"), col("tag")), 2).as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.neighbor_id"), col("e.tag")).as[(Long, String)].collect().toSeq
    assert(out == Seq((7L, "x"), (9L, "z")))
  }
}
