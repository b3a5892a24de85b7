package graft.audit

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Audit tables written before appends moved to the driver stay readable:
  * one table mixing appends made by a one-task Spark write with the
  * driver-written appends reads back as one table, under both protocols.
  */
class AuditCompatSpec extends SparkSpec {
  import spark.implicits._

  private def statusRow(id: String, status: String, seq: Long): DataFrame =
    Seq((id, status, Option.empty[Long], Option.empty[String],
      new java.sql.Timestamp(System.currentTimeMillis()), seq))
      .toDF("submission_id", "processing_status", "job_run_id", "submission_result",
        "updated_at", "audit_seq")

  /** An append as a Spark job writes it: `coalesce(1)` partitioned by
    * `date_updated` into a staging dir, then published under the table (and
    * committed, for the marker protocol).
    */
  private def sparkJobAppend(df: DataFrame, table: String, commit: Boolean): Unit = {
    val (fs, _, writeId) = Auditing.appendStaged(spark, table) { staging =>
      df.withColumn("date_updated", to_date(col("updated_at")))
        .coalesce(1)
        .write.mode("overwrite").partitionBy("date_updated").parquet(staging.toString)
    }
    if (commit) fs.create(new Path(table, s"_commits/$writeId"), false).close()
  }

  private def dataFiles(table: String): Seq[Path] = {
    val root = new Path(table)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getParent.getName.startsWith("_"))
      .toSeq
  }

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

  test("the audit tables' fixed schemas are the schemas toDF derives") {
    val ts = new java.sql.Timestamp(0L)
    assert(AuditManager.ProcessingStatusSchema ==
      Seq(("s", "st", Option(1L), Option("r"), ts, 1L))
        .toDF("submission_id", "processing_status", "job_run_id", "submission_result",
          "updated_at", "audit_seq").schema)
    assert(AuditManager.SubmissionInfoSchema ==
      Seq(("s", "d", "f", "e", Option(1L), Option("o"), ts, 1L))
        .toDF("submission_id", "dataset_id", "file_name", "file_extension", "file_size",
          "submitting_org", "updated_at", "audit_seq").schema)
    assert(AuditManager.SubmissionStatisticsSchema ==
      Seq(("s", 1L, 1L, 1L, 1L, ts, 1L))
        .toDF("submission_id", "record_count", "number_submission_rejections",
          "number_record_rejections", "number_warnings", "updated_at", "audit_seq").schema)
    assert(AuditManager.TransfersSchema ==
      Seq(("s", "r", "t", Option("x"), ts, 1L))
        .toDF("submission_id", "report_name", "transfer_id", "recipient",
          "updated_at", "audit_seq").schema)
  }

  Seq(false, true).foreach { commits =>
    val protocol = if (commits) "commit-marker" else "rename"
    test(s"Spark-job and driver-written appends read back as one table ($protocol protocol)") {
      val dir = java.nio.file.Files.createTempDirectory("graft_audit_compat_").toString
      val audit = new AuditManager(spark, dir, objectStoreCommits = commits)
      val table = audit.path("processing_status")
      def pause(): Unit = Thread.sleep(5) // distinct updated_at per append
      sparkJobAppend(statusRow("s1", "received", 100L), table, commits)
      pause()
      audit.markStatus("s1", "finished")
      pause()
      audit.markStatus("s2", "received")
      pause()
      sparkJobAppend(statusRow("s2", "error_report", 101L), table, commits)

      val read = if (commits) Auditing.readCommitted(spark, table) else spark.read.parquet(table)
      assert(read.schema("date_updated").dataType == DateType)
      assert(read.count() == 4)
      val files = dataFiles(table)
      assert(files.size == 4)
      assert(files.forall(_.getParent.getName.matches("date_updated=\\d{4}-\\d{2}-\\d{2}")))
      val footers = files.map(footer)
      assert(footers.map(_._1).distinct.size == 1, footers.map(_._1).distinct.mkString("\n"))
      assert(footers.map(_._2).distinct.size == 1, footers.map(_._2).distinct.mkString("\n"))
      assert(footers.map(_._3).distinct.size == 1, footers.map(_._3).distinct.mkString("\n"))

      val latest = audit.latestProcessingStatus().collect()
        .map(r => r.getAs[String]("submission_id") -> r.getAs[String]("processing_status")).toMap
      assert(latest == Map("s1" -> "finished", "s2" -> "error_report"))
    }
  }
}
