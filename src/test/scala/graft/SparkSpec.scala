package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for all suites (one JVM-wide session keeps the
  * suite wall-clock dominated by the tests, not session init).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(""))

  /** Planets-style fixture (mirrors the reference's
    * tests/test_core_engine/test_backends/fixtures.py planets/satellites).
    */
  def planets: DataFrame = {
    import spark.implicits._
    Seq(
      ("Mercury", 0.38, 167, 0),
      ("Venus", 0.91, 464, 0),
      ("Earth", 1.0, 15, 1),
      ("Mars", 0.38, -65, 2),
      ("Jupiter", 2.36, -110, 95),
      ("Saturn", 0.92, -140, 146)
    ).toDF("name", "gravity", "mean_temp", "n_moons")
  }

  def satellites: DataFrame = {
    import spark.implicits._
    Seq(
      ("Moon", "Earth"), ("Phobos", "Mars"), ("Deimos", "Mars"),
      ("Io", "Jupiter"), ("Europa", "Jupiter"), ("Titan", "Saturn")
    ).toDF("sat_name", "planet")
  }
}

object SparkSpec {
  /** The engine the oracle certifies, on 4 cores whatever the machine has:
    * partition counts, and so the plans the specs pin, stay fixed. */
  lazy val session: SparkSession = GraftSession.local(4)
}
