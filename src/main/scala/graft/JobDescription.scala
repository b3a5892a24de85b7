package graft

import org.apache.spark.SparkContext

/** `spark.job.description`, the thread-local label listeners and the UI show
  * for each Spark job, scoped to a block.
  */
object JobDescription {

  /** Run `body` under `description`, then hand the caller's description (or
    * its absence) back, however `body` ends.
    */
  def scoped[T](sc: SparkContext, description: String)(body: => T): T = {
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(prior)
  }
}
