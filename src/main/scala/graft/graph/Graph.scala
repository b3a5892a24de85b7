package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists (the companion to the label-propagation
  * connected components in [[graft.text.Dedup]]). The motivating pipeline
  * use is the CommonCrawl/CCNet discipline of ranking HOSTS by the link
  * or duplication structure between them and using the rank as a corpus
  * quality prior.
  */
object Graph {

  /** Weighted PageRank in exact integer arithmetic, so the result is
    * engine-reproducible (no floating-point accumulation anywhere):
    *
    *   rate(u,v)  = w(u,v) * 1e6  div  out_w(u)        (edge micro-rate)
    *   tele       = (100-d) * 1e12  div  (100 * N)
    *   sc_0(v)    = 1e12 div N
    *   sc_i+1(v)  = tele + d * sum_{u->v}(sc_i(u) * rate(u,v) div 1e6) div 100
    *
    * with `d` = `dampingPct` (integer percent). All quantities are
    * non-negative longs; `sc * rate <= 1e12 * 1e6 < 2^63` cannot overflow.
    * Scores are in 1e-12 units of probability mass ("pr_e12"). Rounding
    * mass lost to the floor divisions is NOT redistributed — scores are a
    * hair under the true power iteration, identically in every engine.
    *
    * Nodes are those appearing on EITHER side of an edge. DANGLING nodes
    * (no outgoing edge — link-graph sinks) keep a score, and their mass is
    * redistributed uniformly each iteration (the standard dangling-node
    * treatment):
    *
    *   sc_i+1(v) = tele + d * (sum_{u->v}(...) + dm_i div N) div 100
    *
    * where `dm_i` is the summed score of dangling nodes — a 1-row
    * broadcast aggregate per iteration, never a driver collect. For a
    * symmetric (undirected) edge list the dangling set is empty and the
    * term vanishes, so scores are unchanged from the source-nodes-only
    * formulation. `iterations` is fixed (default 8) — a deterministic
    * plan with no driver-side convergence loop.
    *
    * Shuffle shape at 100 TB: the caller's edge derivation (often the
    * expensive part — e.g. a near-dup pair join) runs ONCE: the edge list,
    * per-edge rates, and node set are `localCheckpoint`ed up front
    * (GraphX's materialize-the-edges discipline; an iteration-k plan
    * referencing the full upstream 2^k times is what this avoids —
    * checkpoint blocks are freed when the frames are GC'd). After that,
    * out-weights and contributions are partial-aggregated keyed shuffles
    * on the node id; N and the teleport term are 1-row broadcast
    * aggregates (never a driver count); each iteration is one join + one
    * aggregation over the materialized edge list.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
               iterations: Int = 8, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // the per-iteration descriptions set below end with this scope too
    graft.JobDescription.scoped(edges.sparkSession.sparkContext, "pagerank: edge setup")(
      pageRankRounds(edges, srcCol, dstCol, wCol, iterations, dampingPct))
  }

  private def pageRankRounds(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
                             iterations: Int, dampingPct: Int): DataFrame = {
    val sc0 = edges.sparkSession.sparkContext
    // Hash-partition the edge list on the SOURCE key before checkpointing:
    // `Dataset.localCheckpoint` preserves the physical outputPartitioning
    // into the LogicalRDD, so every iteration's rates-to-scores join is
    // already co-partitioned and the 10^7-edge side never re-shuffles —
    // without this the probe measured the full edge list exchanged once
    // per iteration.
    val e = edges.select(col(srcCol).as("__s__"), col(dstCol).as("__d__"),
      col(wCol).cast("long").as("__w__"))
      .repartition(col("__s__")).localCheckpoint()
    val ow = e.groupBy(col("__s__")).agg(sum(col("__w__")).as("__ow__"))
    val rates = e.join(ow, Seq("__s__"))
      .select(col("__s__"), col("__d__"),
        expr("(__w__ * 1000000L) div __ow__").as("__rate__")).localCheckpoint()
    val srcs = e.select(col("__s__").as("__node__")).distinct()
    // nodes comes out of the union-distinct hash-partitioned on __node__
    // (checkpoint-preserved): the per-iteration left join against the
    // contributions aggregate (also keyed on __node__) is exchange-free.
    val nodes = e.select(col("__s__").as("__node__"))
      .union(e.select(col("__d__").as("__node__"))).distinct()
      .join(srcs.withColumn("__has_out__", lit(true)), Seq("__node__"), "left")
      .select(col("__node__"), col("__has_out__").isNull.as("__dangling__"))
      .localCheckpoint()
    val n = nodes.agg(count(lit(1)).as("__n__"))
    // one broadcast row carrying both the teleport term and N (N feeds the
    // per-iteration dangling-mass split)
    val tele = broadcast(n.select(
      expr(s"(${100 - dampingPct}L * 1000000000000L) div (100L * __n__)")
        .as("__tele__"), col("__n__")))
    var scores = nodes.crossJoin(broadcast(n))
      .select(col("__node__"), col("__dangling__"),
        expr("1000000000000L div __n__").as("__sc__"))
    // One bounded setup probe (limit-1 over the checkpointed node table):
    // a symmetric edge list — the near-dup/host graphs this feeds on — has
    // NO dangling nodes, and then every per-iteration dangling-mass
    // broadcast aggregate is provably zero; skipping it drops a sub-job
    // per round without touching semantics (dm == 0 exactly).
    val hasDangling = nodes.where(col("__dangling__")).limit(1).count() > 0
    var lastCkpt: DataFrame = null
    for (it <- 1 to iterations) {
      sc0.setJobDescription(s"pagerank: iteration $it")
      // Materialize the previous iteration ONCE per round. Both consumers
      // below (the dangling-mass aggregate and the contributions join) then
      // read a checkpoint scan, so the plan stays constant-size across
      // iterations instead of doubling per round (each un-checkpointed
      // reference would re-execute the full prior lineage — the same trap
      // documented at text/Dedup.scala connectedComponents). The round-
      // before-last's checkpoint blocks are released eagerly: relying on
      // driver GC lets ~iterations x |nodes| of dead blocks pile up in
      // storage memory (the probe measured marginal iteration cost
      // climbing 4x by round 16 before this).
      val prev = scores.localCheckpoint()
      if (lastCkpt != null) lastCkpt.unpersist(blocking = false)
      lastCkpt = prev
      val contribs = rates
        .join(prev, rates("__s__") === prev("__node__"))
        .select(col("__d__").as("__node__"),
          expr("(__sc__ * __rate__) div 1000000L").as("__c__"))
        .groupBy(col("__node__")).agg(sum(col("__c__")).as("__in__"))
      val joined = nodes.join(contribs, Seq("__node__"), "left").crossJoin(tele)
      scores =
        if (hasDangling) {
          val dm = broadcast(prev
            .agg(coalesce(sum(when(col("__dangling__"), col("__sc__"))), lit(0L))
              .as("__dm__")))
          joined.crossJoin(dm)
            .select(col("__node__"), col("__dangling__"),
              (col("__tele__") +
                expr(s"(${dampingPct}L * (coalesce(__in__, 0L) + (__dm__ div __n__))) div 100L"))
                .as("__sc__"))
        } else
          joined.select(col("__node__"), col("__dangling__"),
            (col("__tele__") +
              expr(s"(${dampingPct}L * coalesce(__in__, 0L)) div 100L"))
              .as("__sc__"))
    }
    scores.select(col("__node__").as("node"), col("__sc__").as("pr_e12"))
  }
}
