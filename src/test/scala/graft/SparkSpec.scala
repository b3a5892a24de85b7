package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for all suites (one JVM-wide session keeps the
  * suite wall-clock dominated by the tests, not session init).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Runs `body` with the given confs of the shared session set (`None`
    * unsets one), restoring every previous value afterwards.
    */
  def withConf[T](kvs: (String, Option[String])*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def put(k: String, v: Option[String]): Unit = v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try {
      kvs.foreach { case (k, v) => put(k, v) }
      body
    } finally prev.foreach { case (k, v) => put(k, v) }
  }

  /** `body`'s result and the choices of every `op` decision it posted. */
  def decided[T](op: String)(body: => T): (T, Seq[String]) = {
    val (out, decisions) = GraftDecision.recorded(spark)(body)
    (out, decisions.filter(_.op == op).map(_.choice))
  }

  /** The WARN messages of `logger` that contain `marker`, logged while `f`
    * runs (a log4j appender attached for the duration).
    */
  def warnings(logger: String, marker: String)(f: => Any): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("graft-spec-warnings", null, null, true,
      Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains(marker)) seen.add(msg)
      }
    }
    appender.start()
    val lc = new LoggerConfig(logger, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    config.addLogger(logger, lc)
    ctx.updateLoggers()
    try {
      f
      seen.toArray(Array.empty[String]).toSeq
    } finally {
      config.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** The `CacheManager` "already cached" WARNs logged while `f` runs. */
  def cacheWarnings(f: => Any): Seq[String] =
    warnings("org.apache.spark.sql.execution.CacheManager", "already cached")(f)
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

/** Fails every test of the suite that logs a `CacheManager` "already
  * cached" WARN: an operator asked to cache a plan an earlier call cached.
  */
trait NoCacheWarnings extends SparkSpec {
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    var outcome: org.scalatest.Outcome = org.scalatest.Pending
    val warned = cacheWarnings { outcome = super.withFixture(test) }
    if (outcome.isSucceeded && warned.nonEmpty) org.scalatest.Failed(warned.mkString("\n"))
    else outcome
  }
}

object SparkSpec {
  /** The engine the oracle certifies, on 4 cores whatever the machine has:
    * partition counts, and so the plans the specs pin, stay fixed. */
  lazy val session: SparkSession = GraftSession.local(4)
}
