package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession

/** One plan decision of an engine operator, posted on the listener bus of
  * the session that made it: `op` names the decision (`ppjoin.self`,
  * `verify.containment`, `components`, ...), `choice` what was chosen
  * (`tier1`, `chunked`, `converged`, ...) and `numbers` the figures it was
  * chosen by, with the caps they were held against. Listeners receive it in
  * `onOtherEvent`.
  */
final case class GraftDecision(op: String, choice: String, numbers: Map[String, Long])
    extends SparkListenerEvent

object GraftDecision {
  def post(spark: SparkSession, op: String, choice: String, numbers: (String, Long)*): Unit =
    org.apache.spark.GraftListenerBus.post(spark.sparkContext,
      GraftDecision(op, choice, scala.collection.immutable.ListMap(numbers: _*)))

  /** Collects the decisions posted on `spark`'s context, from every thread
    * and session of it, until closed.
    */
  final class Recorder(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[GraftDecision]()
    sc.addSparkListener(this)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case d: GraftDecision => seen.add(d)
      case _ =>
    }

    /** The decisions posted since the last drain, in posting order. */
    def drain(): Seq[GraftDecision] = {
      org.apache.spark.GraftListenerBus.flush(sc)
      Iterator.continually(seen.poll()).takeWhile(_ != null).toVector
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** `body`'s result and the decisions posted while it ran. */
  def recorded[T](spark: SparkSession)(body: => T): (T, Seq[GraftDecision]) = {
    val recorder = new Recorder(spark)
    try {
      val out = body
      (out, recorder.drain())
    } finally recorder.close()
  }
}
