package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage) over dirty identifier strings —
  * typo'd names, truncated crawls, re-keyed copies of the same entity —
  * composed from the pieces the dedup family already ships: blocked
  * edit-distance candidates ([[EditDistance]]), min-label connected
  * components ([[Dedup.connectedComponents]]), and argmax survivorship.
  *
  * The load-bearing discipline here is the exact-duplicate PRE-COLLAPSE
  * that [[EditDistance]]'s scale contract prescribes (EditDistance.scala:
  * "cap or pre-collapse exact duplicates first so clone clusters cost one
  * node"): real identifier spaces are heavy-tailed — "JOHN SMITH" appears
  * millions of times at corpus scale while the DISTINCT-value space stays
  * bounded — and blocking keys collapse onto repeated values, so running
  * the pair join over raw records costs the SQUARE of the clone-cluster
  * size. Here the expensive candidate join runs over distinct values only;
  * records re-attach through two value-keyed equi-joins afterwards (the
  * value→id mapping is exactly the fan-out the output demands, never an
  * intermediate blow-up).
  *
  * 100 TB shape: one distinct-aggregation over values, the blocked pair
  * join over the (bounded) distinct-value space, and two hash joins keyed
  * on the value string. No step is quadratic in record count; the only
  * quadratic term is within-cluster pair EXPANSION, which is the
  * operator's declared output (use [[resolveClusters]] when clusters —
  * linear in records — are wanted instead of pairs).
  */
object EntityResolution {

  /** All record pairs (a, b, edit_distance) with a < b whose values are
    * within `maxDist` edits and share a `keyLen`-char prefix or suffix
    * (same recall contract as [[EditDistance.editDistancePairs]], which
    * this matches row-for-row), generated clone-safely: distinct values
    * feed the pair join, identical-value record pairs (edit distance 0)
    * come from one value-keyed self-join that directly emits output rows.
    */
  def collapsedPairs(records: DataFrame, idCol: String, valueCol: String,
                     maxDist: Int, keyLen: Int = 32): DataFrame = {
    require(maxDist >= 0 && keyLen > 0, s"bad maxDist=$maxDist keyLen=$keyLen")
    val ids = records.select(col(idCol).as("__eid__"), col(valueCol).as("__val__"))
    // The value string is its own id inside the pair generator: distinct
    // values are unique by construction and strings order with `<`.
    val distinctVals = ids.select(col("__val__")).distinct()
      .select(col("__val__").as("__vid__"), col("__val__"))
    val valuePairs = EditDistance.editDistancePairs(
      distinctVals, "__vid__", "__val__", maxDist, keyLen)
    // Cross-cluster expansion: each (value_a, value_b) pair fans out to
    // every (record_a, record_b) combination; least/greatest restores the
    // a < b orientation that value-string ordering does not preserve.
    val aSide = ids.select(col("__val__").as("a"), col("__eid__").as("__ia__"))
    val bSide = ids.select(col("__val__").as("b"), col("__eid__").as("__ib__"))
    val cross = valuePairs.join(aSide, "a").join(bSide, "b")
      .select(least(col("__ia__"), col("__ib__")).as("a"),
        greatest(col("__ia__"), col("__ib__")).as("b"),
        col("edit_distance"))
    // Identical values always share both blocking keys, so every within-
    // cluster pair is a candidate and verifies at distance 0 — emit them
    // directly from one equi-join, never through the candidate machinery.
    val exact = ids.as("x")
      .join(ids.as("y"), col("x.__val__") === col("y.__val__") &&
        col("x.__eid__") < col("y.__eid__"))
      .select(col("x.__eid__").as("a"), col("y.__eid__").as("b"),
        lit(0L).as("edit_distance"))
    // Disjoint by construction: cross pairs span two distinct values, exact
    // pairs one — and a record carries exactly one value, so no pair is
    // produced twice within either branch.
    cross.unionByName(exact)
  }

  /** `use` over the value graph [[resolveClusters]] runs components over:
    * one node per distinct value (`__vid__`, the value itself) and the
    * candidate edit-distance pairs between them, whose cache is released
    * when `use` returns.
    */
  private[text] def valuePairsWith[T](records: DataFrame, valueCol: String, maxDist: Int,
                                      keyLen: Int)(use: (DataFrame, DataFrame) => T): T = {
    val distinctVals = records.select(col(valueCol).as("__val__")).distinct()
      .select(col("__val__").as("__vid__"), col("__val__"))
    EditDistance.editDistancePairsWith(distinctVals, "__vid__", "__val__", maxDist, keyLen)(
      use(distinctVals.select(col("__vid__")), _))
  }

  /** Full entity resolution: candidate pairs → connected components →
    * one surviving record per entity cluster. Output is one row per input
    * record with its `entity_id` (the cluster's minimum record id) and a
    * `keep` flag marking the cluster's argmax of `score` (ties broken by
    * minimum id — deterministic survivorship). Linear in records: the
    * quadratic pair EXPANSION of [[collapsedPairs]] is skipped entirely —
    * components run over the distinct-VALUE pair graph and records map
    * through their value's component, so a million-clone cluster costs one
    * graph node and one hash-join fan-out.
    */
  def resolveClusters(records: DataFrame, idCol: String, valueCol: String,
                      score: Column, maxDist: Int, keyLen: Int = 32): DataFrame = {
    val ids = records.select(col(idCol).as("__eid__"), col(valueCol).as("__val__"),
      score.as("__score__"))
    // Min-label propagation over distinct values; labels are value strings
    // (the cluster's lexicographic-minimum value — an opaque cluster key).
    // Every round ends in a checkpoint, so the pairs are consumed when it
    // returns.
    val valueComp = valuePairsWith(records, valueCol, maxDist, keyLen)(
      Dedup.connectedComponents(_, _, "__vid__"))
    // A record with a NULL value links to nothing (null generates no
    // blocking key and no exact match), but must still appear in the
    // output: it is its OWN singleton entity. Handled as a separate lane --
    // an inner join would silently drop null rows, a shared null component
    // key would glue every null-valued record into one bogus cluster, and
    // a synthetic string key could collide with a real value label.
    val nullLane = ids.where(col("__val__").isNull)
      .select(col("__eid__").as(idCol), col("__val__").as(valueCol),
        col("__eid__").as("entity_id"), lit(true).as("keep"))
    val labeled = ids.where(col("__val__").isNotNull).join(
      valueComp.select(col("__vid__").as("__val__"), col("component").as("__vcomp__")),
      Seq("__val__"))
    // Entity id = minimum RECORD id in the cluster (stable under the value
    // collapse: every record's id participates in the min).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__vcomp__"))
    labeled
      .withColumn("entity_id", min(col("__eid__")).over(w))
      .withColumn("__best__", struct(negate(col("__score__")), col("__eid__")))
      .withColumn("keep", col("__best__") === min(col("__best__")).over(w))
      .select(col("__eid__").as(idCol), col("__val__").as(valueCol),
        col("entity_id"), col("keep"))
      .unionByName(nullLane)
  }
}
