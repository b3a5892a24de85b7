package graft.text

import graft.NoCacheWarnings
import org.apache.spark.sql.functions._

class EditDistanceSpec extends NoCacheWarnings {

  import spark.implicits._

  // 1/2: one char substituted mid-string (shared prefix AND suffix).
  // 1/3: tail rewritten (shared prefix only). 4/5: head rewritten (shared
  // suffix only). 6: unrelated. 7/8: edits in BOTH edges — the documented
  // miss case. Texts are > keyLen=8 so edges are meaningful.
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fux jumps over the lazy dog"),
    (3L, "the quick brown fox jumps over a hazy bog!!"),
    (4L, "a document with a stable suffix ending here"),
    (5L, "b documenx with a stable suffix ending here"),
    (6L, "completely different text with nothing shared"),
    (7L, "Xhe quick brown fox jumps over the lazy doX"),
    (8L, "Yhe quick brown fox jumps over the lazy doY")
  ).toDF("doc_id", "text")

  test("finds pairs through either shared edge, with exact distances") {
    val out = EditDistance.editDistancePairs(corpus, "doc_id", "text",
      maxDist = 10, keyLen = 8)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1L) // substitution mid-string
    assert(out.contains((1L, 3L))) // prefix-only match
    assert(out((4L, 5L)) == 2L) // suffix-only match
    assert(!out.keySet.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("pairs found via both edges are emitted once") {
    val out = EditDistance.editDistancePairs(corpus, "doc_id", "text",
      maxDist = 10, keyLen = 8)
    assert(out.groupBy("a", "b").count().where(col("count") > 1).count() == 0)
  }

  test("documented miss case: edits in both edges escape the candidate join") {
    // 7 and 8 are distance 2 apart but differ in their first and last
    // characters: the recall contract excludes them at keyLen=8.
    val out = EditDistance.editDistancePairs(corpus, "doc_id", "text",
      maxDist = 10, keyLen = 8).as[(Long, Long, Long)].collect()
    assert(!out.exists(r => r._1 == 7L && r._2 == 8L))
    // ... and keyLen=1 recovers them (both start/end chars differ, but
    // prefix key 'X'/'Y' still differ — verify via the naive baseline that
    // this IS a real pair, keeping the contract statement honest).
    val naive = corpus.as("x").join(corpus.as("y"),
        col("x.doc_id") < col("y.doc_id") &&
          levenshtein(col("x.text"), col("y.text")) <= 10)
      .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)].collect()
    assert(naive.contains((7L, 8L)))
  }

  test("short-name record linkage: prefix/suffix blocking complete for 1 edit") {
    // an edit ANYWHERE in a short name must survive blocking when
    // keyLen <= len - maxDist: drop-first, drop-last, substitute-middle
    val recs = Seq(
      (1L, "alpha bravo kilo"),
      (2L, "lpha bravo kilo"),   // first char dropped
      (3L, "alpha bravo kil"),   // last char dropped
      (4L, "alpha brevo kilo"),  // middle substitution
      (5L, "delta hotel lima")   // unrelated
    ).toDF("id", "name")
    val got = EditDistance.editDistancePairs(recs, "id", "name",
      maxDist = 1, keyLen = 8).select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (1L, 4L)))
  }

  test("chunked verify (forced K=3) equals the single-pass output") {
    spark.catalog.clearCache()
    def canon = EditDistance.editDistancePairs(corpus, "doc_id", "text",
      maxDist = 10, keyLen = 8).collect().map(_.toSeq.mkString("|")).toSet
    val single = canon
    spark.catalog.clearCache()
    val (chunked, taken) =
      withConf(graft.GraftConf.VerifyChunks -> Some("3"))(decided("verify.editdistance")(canon))
    assert(taken == Seq("chunked"))
    spark.catalog.clearCache()
    assert(chunked == single && single.nonEmpty)
  }

  test("threshold semantics: distances above maxDist are dropped, zero kept") {
    val dup = Seq((1L, "same text here padded out"), (2L, "same text here padded out"),
      (3L, "same text here padded ouX")).toDF("doc_id", "text")
    val out = EditDistance.editDistancePairs(dup, "doc_id", "text",
      maxDist = 0, keyLen = 4).as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 0L)))
  }
}
