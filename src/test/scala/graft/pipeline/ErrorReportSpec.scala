package graft.pipeline

import scala.jdk.CollectionConverters._

import graft.audit.AuditManager
import graft.report.ErrorSink
import graft.rules.Messages
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The error report computed from one aggregation plus one detail write
  * equals, sheet by sheet, what the [[ErrorSink]] reference plans write with
  * Spark over the same messages; the statistics equal the three counts of
  * the messages they summarise.
  */
class ErrorReportSpec extends PlanetsFixture {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_report_").toString

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Messages.schema)

  /** A message in [[Messages.schema]] order. */
  private def msg(entity: String, failureType: String, status: String, code: String,
                  index: java.lang.Long = 1L, location: String = "gravity",
                  category: String = "Bad value"): Row =
    Row(entity, "key", failureType, status, failureType, location, "message", code,
      "field", index, "value", category)

  /** Null in every aggregate key and in the record index. */
  private val nullKeys = Seq(
    msg(null, "record", "error", null, index = null, location = null, category = null),
    msg(null, "record", "error", null, index = 3L, location = null, category = null),
    msg(null, "record", "informational", null, index = null, location = null, category = null),
    msg("planets", "record", "error", null, index = 2L, category = null),
    msg("planets", "record", "error", "C1", index = null, location = null))

  /** Every report lane, an informational submission message, and the
    * predicates' null cases: a null FailureType is a record rejection that
    * no statistic counts, a null Status a warning that no statistic counts.
    */
  private val lanes = Seq(
    msg("planets", "submission", "error", "FILE"),
    msg("planets", "submission", "informational", "FILE_INFO"),
    msg("planets", "submission", null, "FILE_NULL"),
    msg("planets", null, "error", "NO_TYPE", index = 4L),
    msg("planets", "record", null, "NO_STATUS", index = 5L),
    msg("moons", "record", "informational", "W", index = 2L),
    msg("moons", "record", "error", "E", index = 1L),
    msg("moons", "record", "error", "E", index = 1L),
    msg("moons", "integrity", "error", "I", index = 5L))

  private def planetsMessages(): DataFrame = {
    val base = freshDir()
    val cfg = planetsSubmission(base, "report-planets", s"$base/audit")
    Pipeline.run(spark, cfg)
    ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir)
  }

  private val cases: Seq[(String, () => DataFrame)] = Seq(
    "the planets submission" -> (() => planetsMessages()),
    "zero messages" -> (() => ErrorSink.readAllFeedbackErrors(spark, freshDir())),
    "null keys" -> (() => frame(nullKeys)),
    "all three lanes" -> (() => frame(lanes)))

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)

  private def parquetFiles(dir: String): Seq[Path] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName).filter(_.endsWith(".parquet"))
      .map(n => new Path(s"$dir/$n"))

  /** (parquet schema, key-value metadata, codecs) of a file's footer. */
  private def footer(p: Path) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try {
      val f = reader.getFooter
      (f.getFileMetaData.getSchema, f.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
    } finally reader.close()
  }

  /** The statistics as `Pipeline.run` counted them before the fused report. */
  private def oldStatistics(all: DataFrame): (Long, Long, Long) = {
    val r = all.agg(
      count(when(col("FailureType") === "submission"
        && col("Status") =!= "informational", true)),
      count(when(col("FailureType") === "record"
        && col("Status") =!= "informational", true)),
      count(when(col("Status") === "informational", true))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  cases.foreach { case (name, messages) =>
    test(s"driver-written sheets equal the Spark-written reference sheets ($name)") {
      val all = messages().persist()
      try {
        val cfg = planetsSubmission(freshDir(), "report", "unused")
        val reference = freshDir()
        Seq("aggregate" -> ErrorSink.aggregateReport(all),
          "summary_table" -> ErrorSink.summaryTable(all),
          "summary" -> ErrorSink.summaryReport(all),
          "detail" -> ErrorSink.detailReport(all)).foreach { case (sheet, df) =>
          df.coalesce(1).write.parquet(s"$reference/$sheet")
        }
        val returned = Pipeline.errorReportFrom(spark, cfg, all)
        val counts = Pipeline.writeErrorReport(spark, cfg, all)

        val report = s"${cfg.workingDir}/error_reports"
        Seq("aggregate", "summary_table", "summary", "detail").foreach { sheet =>
          val (got, want) = (s"$report/$sheet", s"$reference/$sheet")
          assert(new java.io.File(s"$got/_SUCCESS").exists(), sheet)
          val files = parquetFiles(got)
          assert(files.size == 1, s"$sheet: ${files.mkString(", ")}")
          assert(footer(files.head) == footer(parquetFiles(want).head), sheet)
          assert(spark.read.parquet(got).schema == spark.read.parquet(want).schema, sheet)
          assert(multiset(spark.read.parquet(got)) == multiset(spark.read.parquet(want)), sheet)
        }
        assert(multiset(returned) == multiset(spark.read.parquet(s"$reference/aggregate")))
        assert(returned.schema == ErrorSink.aggregateReport(all).schema)

        // the one detail file is in (Entity, RecordIndex) order, nulls first
        def keys(df: DataFrame) = df.select("Entity", "RecordIndex").collect().toSeq.map(_.toSeq)
        assert(keys(spark.read.parquet(parquetFiles(s"$report/detail").head.toString)) ==
          keys(ErrorSink.detailReport(all)))

        assert(counts.statistics == oldStatistics(all))
      } finally all.unpersist()
    }
  }

  test("statistics count only the predicates' true cases") {
    val counts = Pipeline.writeErrorReport(spark,
      planetsSubmission(freshDir(), "stats", "unused"), frame(lanes))
    // FILE; E, E; FILE_INFO, W
    assert(counts.statistics == (1L, 2L, 2L))
    // lanes: FILE | NO_TYPE, E, E, I | FILE_INFO, FILE_NULL, NO_STATUS, W
    assert(counts.summary == Row(1L, 4L, 4L, 9L, "File has been rejected"))
  }

  test("a run whose report write fails leaves its messages uncached") {
    val base = freshDir()
    val cfg = planetsSubmission(base, "report-fails", s"$base/audit")
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(cfg.workingDir))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"${cfg.workingDir}/error_reports"), "a file, not a directory")
    intercept[Exception](Pipeline.run(spark, cfg))
    val messages = ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir)
    assert(messages.count() == 4) // the run reached the report
    assert(messages.storageLevel == StorageLevel.NONE)
    assert(new AuditManager(spark, s"$base/audit").statusOf("report-fails").contains("failed"))
  }
}
