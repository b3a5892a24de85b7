package graft.audit

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.DriverParquet

/** Audit-table helpers (ref: spark/auditing.py:41-212): append-only status
  * tables partitioned by update date, queried through a latest-record window.
  * Parquet-backed here (Delta-compatible schema); the latest-record pattern is
  * the reference's only window use (ref: spark/auditing.py:143-163).
  */
object Auditing {

  /** Latest record per partition: `row_number() over (partition by ... order
    * by ... desc) == 1`. Callers supply a total order (include a unique
    * tiebreaker) for determinism.
    */
  def latestRecords(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy.map(_.desc): _*)
    df.withColumn("__rn__", row_number().over(w)).where(col("__rn__") === 1).drop("__rn__")
  }

  /** Append audit rows partitioned by `date_updated` (ref: auditing.py:33-38,
    * 122-131 — the reference coalesces to 1 file per append to keep audit
    * tables small-file-friendly; here one file per date partition).
    *
    * Concurrent-append-safe by construction: `runAll` appends from 7 threads
    * at once, and Spark's plain `mode("append")` shares one `_temporary`
    * committer directory per table — one job's cleanup can delete another's
    * in-flight task files (the reference wraps Delta commits in a ≤60-retry
    * loop for its version of this race, ref: spark_helpers.py:459-486).
    * Here each append writes to its own dot-prefixed staging directory
    * (invisible to readers, [[appendStaged]]) and then renames the produced
    * parquet files into the table under write-unique names — renames are
    * atomic per file, no shared temp state exists, so no retry is needed
    * and readers never see a partial file.
    */
  def appendAudit(df: DataFrame, path: String): Unit =
    appendRows(df.sparkSession, path, df.schema, df.collect().toSeq)

  /** Append `rows` of `schema` to the audit table at `path`, written on the
    * driver ([[graft.io.DriverParquet]]) into the staging dir under
    * `date_updated=<to_date(updated_at) in the session time zone>`, one
    * file per date. An audit append is a handful of rows: a distributed
    * write job per append would cost more driver time than the business
    * rules of a small submission. `commit` publishes through the
    * commit-marker protocol ([[appendAuditCommitted]]).
    */
  private[audit] def appendRows(spark: org.apache.spark.sql.SparkSession, path: String,
                                schema: StructType, rows: Seq[Row],
                                commit: Boolean = false): Unit = {
    // pre-marker moves need no atomicity: a file is invisible until the
    // marker lands, so a torn copy is just ignorable garbage
    val (fs, table, writeId) = appendStaged(spark, path)(
      DriverParquet.write(spark, _, schema, rows, dateUpdatedFrom = Some("updated_at")))
    if (commit) {
      val marker = new Path(table, s"_commits/$writeId")
      fs.mkdirs(marker.getParent)
      fs.create(marker, false).close() // conditional put: the commit point
    }
  }

  /** One append to the table at `path`: `write` fills a fresh dot-prefixed
    * staging dir inside it (invisible to readers), whose files are then
    * published ([[publishStaged]]). Shared by the audit appends and the
    * per-stage message sink ([[graft.report.ErrorSink.writeFeedbackErrors]]).
    * Returns the table's filesystem, the table and the append's writeId.
    */
  private[graft] def appendStaged(spark: org.apache.spark.sql.SparkSession, path: String)(
      write: Path => Unit): (FileSystem, Path, String) = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writeId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(table, s".staging-$writeId")
    write(staging)
    publishStaged(fs, staging, table, writeId)
    (fs, table, writeId)
  }

  /** Publish every data file under `staging` into `table` (keeping its
    * Hive-style `col=value` partition subdirectory, if any) as
    * `<writeId>-<name>`, then drop `staging`.
    *
    * All-or-nothing: if any rename fails, the files already renamed in are
    * rolled back (they carry this writeId, so they are identifiable),
    * staging is removed, and the error surfaces — a caller retry then
    * re-appends the WHOLE frame exactly once instead of duplicating the half
    * that had landed. Rollback deletes are best-effort but never silent: a
    * file that cannot be removed is logged with its path so duplicates are
    * traceable by writeId.
    */
  private def publishStaged(fs: FileSystem, staging: Path, table: Path,
                            writeId: String): Unit = {
    // an empty frame can leave no staging dir at all: nothing to publish
    if (!fs.exists(staging)) return
    val renamed = Seq.newBuilder[Path]
    try {
      val files = fs.listFiles(staging, true)
      while (files.hasNext) {
        val f = files.next()
        val name = f.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) {
          val parent = f.getPath.getParent
          val destDir = if (parent.getName.contains("=")) new Path(table, parent.getName) else table
          fs.mkdirs(destDir)
          val dest = new Path(destDir, s"$writeId-$name")
          val ok =
            try fs.rename(f.getPath, dest)
            catch { case e: java.io.IOException =>
              throw new java.io.IOException(s"staged publish rename failed: ${f.getPath} -> $dest", e)
            }
          if (!ok)
            throw new java.io.IOException(s"staged publish rename failed: ${f.getPath} -> $dest")
          renamed += dest
        }
      }
    } catch {
      case e: Throwable =>
        renamed.result().foreach { p =>
          val gone =
            try fs.delete(p, false)
            catch { case _: java.io.IOException => false }
          if (!gone)
            System.err.println(s"[audit] rollback could not remove published file $p " +
              s"(writeId $writeId) — a retried append will duplicate its rows")
        }
        try fs.delete(staging, true) catch { case _: java.io.IOException => () }
        throw e
    }
    // Success path: every file is published — staging cleanup is
    // best-effort OUTSIDE the rollback scope (a transient delete failure
    // after a complete publish must not un-publish the append).
    try fs.delete(staging, true)
    catch { case _: java.io.IOException =>
      System.err.println(s"[audit] staging dir left behind (cleanup failed): $staging")
    }
  }

  /** Read an audit table and reduce to the latest status per key. */
  def latestStatus(spark: org.apache.spark.sql.SparkSession, path: String,
                   keyCols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(path)
    latestRecords(df, keyCols.map(col), Seq(col("updated_at")))
  }

  // ------------------------------------------- object-store commit protocol

  /** Append protocol for stores WITHOUT atomic rename (S3-like): the rename
    * protocol above is correct on HDFS-semantics filesystems, where a rename
    * either happens or doesn't; on an object store a "rename" is copy+delete
    * and a reader can observe the half-copied object. Here visibility is
    * decoupled from data movement, the same role Delta's commit log plays in
    * the reference (ref: spark_helpers.py:459-486 — Delta commit wrapped in
    * a conflict-retry loop):
    *
    *   1. data files land at their FINAL unique `<writeId>-` names (each
    *      object PUT is atomic; half-written uploads never become visible
    *      objects on real stores);
    *   2. ONE zero-byte marker object `_commits/<writeId>` is then created
    *      with create(overwrite = false) — a conditional put. The marker is
    *      the commit point: [[readCommitted]] ignores every data file whose
    *      writeId has no marker.
    *
    * A failure anywhere before the marker leaves only invisible garbage
    * (re-append with a fresh writeId; a TTL sweep can delete markerless
    * files), so no rollback path exists to get half-applied — the weakness
    * of mutate-in-place protocols on eventually-consistent stores.
    */
  def appendAuditCommitted(df: DataFrame, path: String): Unit =
    appendRows(df.sparkSession, path, df.schema, df.collect().toSeq, commit = true)

  /** Read an audit table written by [[appendAuditCommitted]]: only data
    * files whose writeId has a commit marker are visible. Partition values
    * (`date_updated`) are recovered via basePath.
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitsDir = new Path(table, "_commits")
    val commits: Set[String] =
      if (!fs.exists(commitsDir)) Set.empty
      else fs.listStatus(commitsDir).map(_.getPath.getName).toSet
    val committed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(table)) {
      val it = fs.listFiles(table, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        val parent = f.getPath.getParent.getName
        if (name.endsWith(".parquet") && !parent.startsWith(".") && !parent.startsWith("_")
          && commits.contains(name.takeWhile(_ != '-')))
          committed += f.getPath.toString
      }
    }
    require(committed.nonEmpty, s"no committed audit data under $path")
    spark.read.option("basePath", path).parquet(committed.toSeq: _*)
  }
}

/** The four audit status tables (ref: spark/auditing.py:166-212,
  * core_engine/models.py:45-146): processing_status, submission_info,
  * submission_statistics, transfers — append-only parquet under
  * `<auditDir>/<table>`, Delta-compatible schemas, latest-record reads.
  * A monotonically increasing sequence breaks ties between appends in the
  * same timestamp tick.
  *
  * `objectStoreCommits = true` switches every append/read to the
  * commit-marker protocol ([[Auditing.appendAuditCommitted]]) for stores
  * without atomic rename; a table must use ONE protocol for its lifetime.
  */
final class AuditManager(private val spark: org.apache.spark.sql.SparkSession, auditDir: String,
                         objectStoreCommits: Boolean = false) {
  import AuditManager._

  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private def now = new java.sql.Timestamp(System.currentTimeMillis())

  /** One row of `schema`: `values`, then `updated_at` and `audit_seq`. */
  private def append(table: String, schema: StructType, values: Any*): Unit =
    Auditing.appendRows(spark, path(table), schema,
      Seq(Row.fromSeq(values :+ now :+ seq.incrementAndGet())), commit = objectStoreCommits)

  private def readTable(tablePath: String): DataFrame =
    if (objectStoreCommits) Auditing.readCommitted(spark, tablePath)
    else spark.read.parquet(tablePath)

  def path(table: String): String = s"$auditDir/$table"

  /** A poll primitive must answer "no work" on a FRESH audit dir — reading
    * a table no append has created yet would otherwise throw
    * PATH_NOT_FOUND on a scheduler's first poll.
    */
  private def tableExists(table: String): Boolean = {
    val p = new Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** received -> file_transformation -> data_contract -> business_rules ->
    * error_report -> finished | failed (ref: ProcessingStatus states).
    */
  def markStatus(submissionId: String, status: String,
                 jobRunId: Option[Long] = None,
                 submissionResult: Option[String] = None): Unit =
    append("processing_status", ProcessingStatusSchema,
      submissionId, status, jobRunId.getOrElse(null), submissionResult.orNull)

  def addSubmissionInfo(submissionId: String, datasetId: String, fileName: String,
                        fileExtension: String, fileSize: Option[Long] = None,
                        submittingOrg: Option[String] = None): Unit =
    append("submission_info", SubmissionInfoSchema,
      submissionId, datasetId, fileName, fileExtension, fileSize.getOrElse(null), submittingOrg.orNull)

  def addStatistics(submissionId: String, recordCount: Long,
                    submissionRejections: Long, recordRejections: Long,
                    warnings: Long): Unit =
    append("submission_statistics", SubmissionStatisticsSchema,
      submissionId, recordCount, submissionRejections, recordRejections, warnings)

  def addTransfer(submissionId: String, reportName: String, transferId: String,
                  recipient: Option[String] = None): Unit =
    append("transfers", TransfersSchema, submissionId, reportName, transferId, recipient.orNull)

  /** Latest processing status per submission. */
  def latestProcessingStatus(): DataFrame =
    Auditing.latestRecords(readTable(path("processing_status")),
      Seq(col("submission_id")), Seq(col("updated_at"), col("audit_seq")))

  def statusOf(submissionId: String): Option[String] =
    latestProcessingStatus().where(col("submission_id") === submissionId)
      .select("processing_status").collect().headOption.map(_.getString(0))

  /** Submissions whose LATEST status equals `status` within the recency
    * window, joined to their (latest) submission info — the error-report
    * scheduler's work list (ref: base/auditing.py:586-603
    * `get_all_error_report_submissions` at status "error_report"; rows with
    * missing info columns come back null-padded, the frame analog of the
    * reference's "dodgy" lane).
    */
  def submissionsAtStatus(status: String, maxDaysOld: Int = 3): DataFrame = {
    if (!tableExists("processing_status"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("submission_id", StringType))))
    val cutoff = java.sql.Timestamp.valueOf(
      java.time.LocalDate.now().minusDays(maxDaysOld).atStartOfDay())
    val atStatus = Auditing.latestRecords(
      readTable(path("processing_status")).where(col("updated_at") > lit(cutoff)),
      Seq(col("submission_id")), Seq(col("updated_at"), col("audit_seq")))
      .where(col("processing_status") === status)
      .select("submission_id")
    if (!tableExists("submission_info")) return atStatus
    val info = Auditing.latestRecords(readTable(path("submission_info")),
      Seq(col("submission_id")), Seq(col("updated_at"), col("audit_seq")))
      .drop("updated_at", "audit_seq")
    atStatus.join(info, Seq("submission_id"), "left")
  }

  /** Pipeline stage order for [[downstreamPending]]'s "at or before"
    * reading (ref: base/auditing.py:430-447).
    */
  private val StageOrder = Seq("received", "file_transformation", "data_contract",
    "business_rules", "error_report")

  /** The scheduler's work-queue poll (ref: base/auditing.py:430-474
    * `downstream_pending`): is any recent submission's LATEST status at or
    * before `status` — i.e. still heading toward this stage — within this
    * job's shard? Sharding mirrors the reference: hex submission id mod
    * `maxConcurrency` equals `runNumber` (non-hex ids fall back to a
    * non-negative deterministic string hash — the reference assumes uuid
    * hex and would throw). `maxDaysOld` bounds the scan to recent rows.
    *
    * Execution shape: one latest-record window over the status table
    * pre-filtered by date, a bounded IN-list on the downstream stages, and
    * a LIMIT 1 existence check — no driver-side row iteration.
    */
  def downstreamPending(status: String, maxConcurrency: Int = 1, runNumber: Int = 0,
                        maxDaysOld: Int = 3,
                        statusesToInclude: Seq[String] = Nil): Boolean = {
    require(maxConcurrency >= 1 && runNumber >= 0 && runNumber < maxConcurrency)
    val downstream: Seq[String] =
      if (statusesToInclude.nonEmpty) (statusesToInclude :+ status).distinct
      else StageOrder.take(StageOrder.indexOf(status) + 1)
    require(downstream.nonEmpty, s"unknown processing status '$status'")
    if (!tableExists("processing_status")) return false // fresh dir: no work
    val cutoff = java.sql.Timestamp.valueOf(
      java.time.LocalDate.now().minusDays(maxDaysOld).atStartOfDay())
    val recent = readTable(path("processing_status")).where(col("updated_at") > lit(cutoff))
    val latest = Auditing.latestRecords(recent,
      Seq(col("submission_id")), Seq(col("updated_at"), col("audit_seq")))
      .where(col("processing_status").isin(downstream: _*))
    val shardOf = udf { (id: String) =>
      val n = try BigInt(id, 16) catch {
        case _: NumberFormatException => BigInt(id.hashCode.toLong.abs)
      }
      (n.mod(BigInt(maxConcurrency))).toInt
    }
    !latest.where(shardOf(col("submission_id")) === runNumber).limit(1).isEmpty
  }
}

/** The audit tables' row schemas: the schemas `Seq(tuple).toDF(...)` derives
  * for the appended values (strings and options nullable, primitive longs
  * not), so appends keep the tables' existing footer schema.
  */
object AuditManager {
  private def table(fields: (String, DataType, Boolean)*): StructType =
    StructType((fields ++ Seq(("updated_at", TimestampType, true), ("audit_seq", LongType, false)))
      .map { case (name, t, nullable) => StructField(name, t, nullable) })

  private[audit] val ProcessingStatusSchema: StructType = table(
    ("submission_id", StringType, true), ("processing_status", StringType, true),
    ("job_run_id", LongType, true), ("submission_result", StringType, true))

  private[audit] val SubmissionInfoSchema: StructType = table(
    ("submission_id", StringType, true), ("dataset_id", StringType, true),
    ("file_name", StringType, true), ("file_extension", StringType, true),
    ("file_size", LongType, true), ("submitting_org", StringType, true))

  private[audit] val SubmissionStatisticsSchema: StructType = table(
    ("submission_id", StringType, true), ("record_count", LongType, false),
    ("number_submission_rejections", LongType, false),
    ("number_record_rejections", LongType, false), ("number_warnings", LongType, false))

  private[audit] val TransfersSchema: StructType = table(
    ("submission_id", StringType, true), ("report_name", StringType, true),
    ("transfer_id", StringType, true), ("recipient", StringType, true))
}
