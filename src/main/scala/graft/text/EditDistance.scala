package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Character-edit-distance near-duplicate pairs — the "small fixups of the
  * same page" family (tracking-code query strings, version stamps, typo
  * re-crawls) that token-set measures like Jaccard score as near-identical
  * only when whole tokens change, and SimHash only when many do.
  *
  * Candidate generation joins on an UNTOUCHED EDGE: two strings within
  * edit distance d share their first `keyLen` characters whenever no edit
  * falls in the first keyLen positions, and likewise their last keyLen.
  * Pairs are generated from the prefix-key and suffix-key equi-joins
  * (deduplicated), length-filtered to |len(a)-len(b)| <= d, and verified
  * with the banded O(d*n) thresholded Levenshtein. The miss case — edits
  * in BOTH the first and last keyLen characters — is the documented recall
  * contract (EditDistanceSpec measures it); pipelines that need those too
  * lower keyLen, at quadratic cost inside larger key groups.
  *
  * 100 TB shape: two equi-joins on short fixed-width keys, candidate rows
  * carry (id, text) only, and verification is per-pair codegen. Key-group
  * skew (a boilerplate 32-char prefix shared by millions of pages) is the
  * same hot-bucket contract as the LSH family: cap or pre-collapse exact
  * duplicates first ([[Dedup.exactDedup]]) so clone clusters cost one node.
  */
object EditDistance {

  /** Pairs (a, b, edit_distance) with a < b and edit_distance <= maxDist,
    * among candidates sharing a `keyLen`-char prefix or suffix.
    *
    * Scale shape (r15): candidates are ID-ONLY through the key joins, the
    * union, and the dedup exchange — the texts join back per verify slice.
    * The previous form carried BOTH text payloads on every candidate row
    * across the dropDuplicates exchange, which is quadratic in key-group
    * occupancy: the exact one-shot-exchange wall the shingle verifies hit
    * at 10× their certified scale (SCALE.md r14). The verify is routed
    * through the same chunk dial (Dedup.verifyChunkCount /
    * Dedup.chunkedVerify): K hash(a)-banded passes, each releasing its
    * shuffles before the next.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, keyLen: Int = 32): DataFrame =
    editDistancePairsImpl(docs, idCol, textCol, maxDist, keyLen)._1

  /** [[editDistancePairs]] releasing the candidate cache it created when
    * `use` returns — see [[Dedup.minHashDedupWith]].
    */
  def editDistancePairsWith[T](docs: DataFrame, idCol: String, textCol: String,
                               maxDist: Int, keyLen: Int = 32)(use: DataFrame => T): T = {
    val (result, owned) = editDistancePairsImpl(docs, idCol, textCol, maxDist, keyLen)
    try use(result) finally owned.foreach(_.unpersist(blocking = false))
  }

  private def editDistancePairsImpl(docs: DataFrame, idCol: String, textCol: String,
                                    maxDist: Int, keyLen: Int): (DataFrame, Seq[DataFrame]) = {
    require(maxDist >= 0 && keyLen > 0, s"bad maxDist=$maxDist keyLen=$keyLen")
    val d = docs.select(col(idCol).as("__id__"), col(textCol).as("__text__"),
      length(col(textCol)).as("__len__"),
      substring(col(textCol), 1, keyLen).as("__pk__"),
      substring(col(textCol), -keyLen, keyLen).as("__sk__"))
    def half(key: String): DataFrame = {
      val a = d.select(col("__id__").as("a"), col("__len__").as("__la__"),
        col(key).as("__k__"))
      val b = d.select(col("__id__").as("b"), col("__len__").as("__lb__"),
        col(key).as("__k__"))
      a.join(b, Seq("__k__"))
        .where(col("a") < col("b") &&
          abs(col("__la__") - col("__lb__")) <= maxDist)
        .select(col("a"), col("b"))
    }
    val tA = d.select(col("__id__").as("a"), col("__text__").as("__ta__"))
    val tB = d.select(col("__id__").as("b"), col("__text__").as("__tb__"))
    def verify(withTexts: DataFrame): DataFrame = withTexts
      .withColumn("edit_distance",
        levenshtein(col("__ta__"), col("__tb__"), maxDist + 1))
      .where(col("edit_distance") >= 0 && col("edit_distance") <= maxDist)
      .select(col("a"), col("b"), col("edit_distance").cast("bigint"))
    val cand = half("__pk__").unionByName(half("__sk__"))
      .dropDuplicates("a", "b")
    // persist + count the candidate frame once: the count picks the chunk
    // count and sizes the verify exchanges, and the cache keeps candidate
    // generation single-execution across the K passes (same discipline as
    // Dedup.verifyPairsOwned). Persists only a plan not cached yet: a
    // second call on the same docs shares the first call's cache, which
    // stays its creator's to release.
    val owned = Dedup.persistOnce(cand)
    val cnt = Dedup.releaseOnFailure(owned)(cand.count())
    val k = Dedup.verifyChunks(docs.sparkSession, "verify.editdistance", "candidates" -> cnt)
    val n = Dedup.verifyPartitions(docs.sparkSession, (cnt + k - 1) / k)
    (Dedup.chunkedVerify(cand, k) { slice =>
      verify(slice.repartition(n, col("a"))
        .join(tA, "a")
        .repartition(n, col("b"))
        .join(tB, "b"))
    }, owned)
  }
}
