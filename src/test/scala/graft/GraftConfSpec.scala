package graft

import graft.text.{Dedup, DedupSpec}

class GraftConfSpec extends NoCacheWarnings {

  test("GraftConf reads exactly the six dials, from the session that plans") {
    assert(GraftConf.keys.size == 6 && GraftConf.keys.forall(_.startsWith("spark.graft.")))
    val other = spark.newSession()
    other.conf.set(GraftConf.PpjoinBroadcastRows, "7")
    assert(GraftConf(other).ppjoinBroadcastRows == 7L)
    assert(GraftConf(spark).ppjoinBroadcastRows == 100000L)
    withConf(GraftConf.PpjoinBroadcastRows -> Some("0")) {
      assert(GraftConf(spark).ppjoinBroadcastRows == 0L)
      assert(GraftConf(other).ppjoinBroadcastRows == 7L)
    }
  }

  test("two sessions of one context plan concurrent self joins by their own dials") {
    spark.catalog.clearCache()
    // the same self join from two threads at once; only session `past`
    // puts the driver tier out of reach
    val (own, past) = (spark.newSession(), spark.newSession())
    past.conf.set(GraftConf.PpjoinBroadcastRows, "0")
    def docsOf(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      DedupSpec.hostile.toDF("doc_id", "text")
    }
    val t = 0.5
    val expected = DedupSpec.bruteSelfJaccard(DedupSpec.shingleMap(docsOf(spark)), t)
    assert(expected.nonEmpty)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (outs, decisions) = try GraftDecision.recorded(spark) {
      Seq(own, past).map { s =>
        val docs = docsOf(s)
        pool.submit(() => {
          start.await()
          Dedup.prefixFilterJoinWith(docs, "doc_id", "text", 1, t)(
            DedupSpec.collectOut(_, "jaccard"))
        })
      }.map { f => start.countDown(); f.get() }
    } finally pool.shutdown()
    assert(outs == Seq(expected, expected))
    // each gate decision carries the row cap of the session that made it
    val gates = decisions.filter(_.op == "ppjoin.self")
      .map(d => d.numbers("rowCap") -> d.choice).sorted
    assert(gates == Seq(0L -> "distributed", 100000L -> "tier1"))
    spark.catalog.clearCache()
  }

  test("malformed rowsPerPartition/chunk props degrade to defaults, never throw") {
    withConf(GraftConf.VerifyRowsPerPartition -> Some("not-a-number")) {
      // falls back to the explicit target / built-in default
      assert(Dedup.verifyPartitions(spark, 15_000_000L, 500_000L) == 30)
      assert(Dedup.verifyPartitions(spark, 15_000_000L) == 100)
      withConf(GraftConf.VerifyChunks -> Some("-3")) {
        // rejected (must be positive): auto sizing applies
        assert(Dedup.verifyChunkCount(10_000L, GraftConf(spark)) == 1)
      }
    }
  }
}
