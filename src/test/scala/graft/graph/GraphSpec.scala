package graft.graph

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  import spark.implicits._

  // undirected star: hub 0 connected to leaves 1..4 (both directions,
  // unit weights), plus an isolated-ish pair 5-6
  private def star = Seq(
    (0L, 1L, 1L), (1L, 0L, 1L), (0L, 2L, 1L), (2L, 0L, 1L),
    (0L, 3L, 1L), (3L, 0L, 1L), (0L, 4L, 1L), (4L, 0L, 1L),
    (5L, 6L, 1L), (6L, 5L, 1L)
  ).toDF("s", "d", "w")

  test("pageRank ranks the hub above leaves and conserves mass") {
    val pr = Graph.pageRank(star, "s", "d", "w", iterations = 8)
      .as[(Long, Long)].collect().toMap
    assert(pr.size == 7)
    // hub collects the mass of four leaves; each leaf only the hub's quarter
    assert(Seq(1L, 2L, 3L, 4L).forall(l => pr(0L) > pr(l)))
    // symmetric leaves tie exactly (integer arithmetic, no noise)
    assert(Seq(pr(1L), pr(2L), pr(3L), pr(4L)).distinct.size == 1)
    assert(pr(5L) == pr(6L))
    // total mass stays within floor-loss of 1.0 (1e12 units)
    val total = pr.values.sum
    assert(total <= 1000000000000L && total > 990000000000L, s"mass was $total")
  }

  test("pageRank hands the caller's job description back") {
    val sc = spark.sparkContext
    Seq("caller's description", null).foreach { before =>
      sc.setJobDescription(before)
      try {
        Graph.pageRank(star, "s", "d", "w", iterations = 2)
        assert(sc.getLocalProperty("spark.job.description") == before)
      } finally sc.setJobDescription(null)
    }
  }

  test("pageRank respects edge weights") {
    // 0 -> {1 w=9, 2 w=1}; symmetric back-edges so nothing dangles
    val wg = Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("s", "d", "w")
    val pr = Graph.pageRank(wg, "s", "d", "w", iterations = 8)
      .as[(Long, Long)].collect().toMap
    assert(pr(1L) > pr(2L))
  }

  test("pageRank keeps sink nodes and redistributes their mass") {
    // 0 -> 1, 1 -> 0, 0 -> 2; node 2 has no outgoing edge (a sink)
    val g = Seq((0L, 1L, 1L), (1L, 0L, 1L), (0L, 2L, 1L)).toDF("s", "d", "w")
    val pr = Graph.pageRank(g, "s", "d", "w", iterations = 8)
      .as[(Long, Long)].collect().toMap
    // the sink is a node with a real score, not dropped
    assert(pr.keySet == Set(0L, 1L, 2L))
    val tele = (100L - 85L) * 1000000000000L / (100L * 3L)
    assert(pr(2L) > tele) // it receives link mass from 0 on top of teleport
    // dangling mass is redistributed: total stays within floor-loss of 1.0
    // (without redistribution the sink's inflow would leak every iteration
    // and total mass would collapse far below 1e12)
    val total = pr.values.sum
    assert(total <= 1000000000000L && total > 990000000000L, s"mass was $total")
    // node 0 gets 1's full rank plus a third of the redistributed sink mass
    assert(pr(0L) > pr(1L) && pr(1L) > 0L)
  }

  test("pageRank is deterministic run to run") {
    val a = Graph.pageRank(star, "s", "d", "w").as[(Long, Long)].collect().sortBy(_._1)
    val b = Graph.pageRank(star, "s", "d", "w").as[(Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }
}
