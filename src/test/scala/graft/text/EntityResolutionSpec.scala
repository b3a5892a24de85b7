package graft.text

import graft.NoCacheWarnings
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join, LogicalPlan}

class EntityResolutionSpec extends NoCacheWarnings {

  import spark.implicits._

  // Clone-heavy fixture: "alpha bravo kilo" appears 4×, its 1-edit dirty
  // variants twice, plus an unrelated singleton — exercises both the
  // within-cluster (distance 0) expansion and cross-value pairing.
  private val records = Seq(
    (1L, "alpha bravo kilo"),
    (2L, "alpha bravo kilo"),
    (3L, "alpha bravo kilo"),
    (4L, "alpha bravo kilo"),
    (5L, "lpha bravo kilo"),   // first char dropped
    (6L, "alpha bravo kil"),   // last char dropped
    (7L, "delta hotel lima"),
    (8L, "delta hotel lima")
  ).toDF("id", "name")

  test("collapsedPairs emits exactly the uncollapsed pair set") {
    val collapsed = EntityResolution.collapsedPairs(records, "id", "name",
      maxDist = 1, keyLen = 8)
    val direct = EditDistance.editDistancePairs(records, "id", "name",
      maxDist = 1, keyLen = 8)
    assert(rows(collapsed) == rows(direct))
    assert(collapsed.columns.toSeq == Seq("a", "b", "edit_distance"))
  }

  test("collapsedPairs matches on a corpus fixture at every distance band") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
    val collapsed = EntityResolution.collapsedPairs(docs, "doc_id", "t", 2, 8)
    val direct = EditDistance.editDistancePairs(docs, "doc_id", "t", 2, 8)
    assert(rows(collapsed) == rows(direct))
  }

  test("candidate joins run over distinct-value frames, never raw records") {
    // the scale contract: every equi-join on a blocking key (__k__) must
    // have a distinct aggregation on BOTH inputs — clone clusters cost one
    // node inside the pair machinery
    def guard(lp: LogicalPlan): Unit = {
      val candidateJoins = lp.collect {
        case j: Join if j.condition.exists(
          _.references.exists(_.name == "__k__")) => j
      }
      assert(candidateJoins.nonEmpty, "no blocked candidate join found in plan")
      def hasDistinct(p: LogicalPlan): Boolean = p.collectFirst {
        case a: Aggregate => a: LogicalPlan
        case d: Deduplicate => d: LogicalPlan
      }.isDefined
      candidateJoins.foreach { j =>
        assert(hasDistinct(j.left) && hasDistinct(j.right),
          s"candidate join input is not a distinct-value frame:\n$j")
      }
    }
    guard(EntityResolution.collapsedPairs(records, "id", "name", 1, 8)
      .queryExecution.analyzed)
    // resolveClusters' OUTPUT plan truncates at the label-propagation
    // checkpoint (connectedComponents cuts lineage to a LogicalRDD each
    // round), so the candidate join is guarded on the pair frame it feeds
    // into the iteration, built by the same valuePairsWith call
    EntityResolution.valuePairsWith(records, "name", 1, 8)((_, pairs) =>
      guard(pairs.queryExecution.analyzed))
  }

  test("resolveClusters: entity id is cluster-min record id, keeper is score argmax") {
    val out = EntityResolution.resolveClusters(records, "id", "name",
      length(col("name")).cast("double"), maxDist = 1, keyLen = 8)
      .select("id", "entity_id", "keep").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // records 1-6 are one entity (clones + 1-edit variants), 7-8 another
    (1L to 6L).foreach(i => assert(out(i)._1 == 1L))
    assert(out(7L)._1 == 7L && out(8L)._1 == 7L)
    // keeper: longest name wins, min id breaks the clone tie
    assert(out(1L)._2); (2L to 6L).foreach(i => assert(!out(i)._2))
    assert(out(7L)._2 && !out(8L)._2)
  }

  test("one keeper per entity, every record labelled") {
    val out = EntityResolution.resolveClusters(records, "id", "name",
      length(col("name")).cast("double"), 1, 8)
    assert(out.count() == 8)
    val perCluster = out.groupBy("entity_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
    assert(perCluster.where(col("keepers") =!= 1).count() == 0)
  }

  test("null values survive as singleton entities, never glued together") {
    val withNulls = records.unionByName(
      Seq((90L, null.asInstanceOf[String]), (91L, null.asInstanceOf[String]))
        .toDF("id", "name"))
    val out = EntityResolution.resolveClusters(withNulls, "id", "name",
      length(col("name")).cast("double"), 1, 8)
      .select("id", "entity_id", "keep").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 10)                 // no record dropped
    assert(out(90L) == ((90L, true)))      // each null its OWN entity...
    assert(out(91L) == ((91L, true)))      // ...never one shared cluster
    // null pairs also generate no edges in the pair lane
    val pairs = EntityResolution.collapsedPairs(withNulls, "id", "name", 1, 8)
    assert(pairs.where(col("a") >= 90L || col("b") >= 90L).count() == 0)
  }
}
