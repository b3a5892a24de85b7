package graft

import org.apache.spark.sql.SparkSession

/** The engine's tuning dials, read from one session's `spark.graft.*`
  * confs: a `spark.newSession()` carries its own values, `SET` shows them,
  * and `-Dspark.graft.<key>=<v>` on the JVM reaches every session, because
  * `SparkConf` loads `spark.*` system properties. No dial changes an
  * answer; each picks a plan, a tier or a pass count.
  */
final class GraftConf private (get: String => Option[String]) {
  import GraftConf._

  /** Row cap of the side a tier-1 prefix join builds into driver postings;
    * `0` forces the distributed tiers of every exact prefix join, the cross
    * index too.
    */
  def ppjoinBroadcastRows: Long = long(PpjoinBroadcastRows, min = 0L).getOrElse(100000L)

  /** Vocabulary cap of the cross index's broadcast frequency map (tier 2);
    * past it, tier 3 joins persisted token counts.
    */
  def crossindexBroadcastVocabRows: Long =
    long(CrossindexBroadcastVocabRows, min = 0L).getOrElse(4000000L)

  /** Forced pass count K of every chunked verify. */
  def verifyChunks: Option[Int] = long(VerifyChunks).map(_.toInt)

  /** Candidate rows per verify pass, when K is not forced. */
  def verifyChunkRows: Long = long(VerifyChunkRows).getOrElse(30000000L)

  /** Candidate rows per verify partition; beats every per-path target. */
  def verifyRowsPerPartition: Option[Long] = long(VerifyRowsPerPartition)

  /** Block count of the blocked brute-force cosine pairing. */
  def bruteBlocks: Option[Int] = long(BruteBlocks).map(_.toInt)

  /** A long of at least `min`: a malformed value degrades to the built-in
    * default with a stderr warning instead of failing every plan that
    * reads it. Row caps take `min = 0` (0 = never the capped tier).
    */
  private def long(key: String, min: Long = 1L): Option[Long] =
    get(key).flatMap { s =>
      scala.util.Try(s.trim.toLong).toOption.filter(_ >= min).orElse {
        System.err.println(s"[graft] ignoring malformed $key='$s' (want a long >= $min)")
        None
      }
    }
}

object GraftConf {
  val PpjoinBroadcastRows = "spark.graft.ppjoin.broadcastRows"
  val CrossindexBroadcastVocabRows = "spark.graft.crossindex.broadcastVocabRows"
  val VerifyChunks = "spark.graft.verify.chunks"
  val VerifyChunkRows = "spark.graft.verify.chunkRows"
  val VerifyRowsPerPartition = "spark.graft.verify.rowsPerPartition"
  val BruteBlocks = "spark.graft.brute.blocks"

  /** Every dial the engine reads. */
  val keys: Seq[String] = Seq(PpjoinBroadcastRows, CrossindexBroadcastVocabRows, VerifyChunks,
    VerifyChunkRows, VerifyRowsPerPartition, BruteBlocks)

  def apply(spark: SparkSession): GraftConf = new GraftConf(spark.conf.getOption)
}
