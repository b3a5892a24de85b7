package graft.report

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.NioLocalFileSystem
import graft.rules.Messages

/** Message sinks and report tables.
  *
  * The reference writes one JSONL file per stage from a background writer
  * thread (ref: common/error_utils.py:30-65, 118-173). Spark-natively the
  * sink is a distributed JSON write to the same per-stage location — a
  * directory of JSONL part files (single-file append does not scale past one
  * driver; every part line is the same record shape). Processing errors get
  * their own location (ref: error_utils.py:68-96).
  */
object ErrorSink {

  def feedbackErrorsPath(workingDir: String, stage: String): String =
    s"$workingDir/errors/${stage}_errors.jsonl"

  def processingErrorsPath(workingDir: String): String =
    s"$workingDir/processing_errors/processing_errors.jsonl"

  /** Write a stage's feedback messages as JSONL (append, like the
    * reference's "a" mode). Safe to call concurrently for one stage — the
    * per-entity contract workers do: each call writes its part files into
    * its own dot-prefixed staging dir inside the stage's `.jsonl` dir
    * (invisible to readers) and renames them in, as audit appends do
    * ([[graft.audit.Auditing.appendStaged]]). A plain `mode("append")`
    * would share one committer `_temporary` dir between the writers.
    */
  def writeFeedbackErrors(messages: DataFrame, workingDir: String, stage: String): String = {
    val path = feedbackErrorsPath(workingDir, stage)
    graft.audit.Auditing.appendStaged(messages.sparkSession, path)(
      staging => messages.write.options(NioLocalFileSystem.options).json(staging.toString))
    path
  }

  /** Read a stage's feedback messages back with the canonical schema. */
  def readFeedbackErrors(spark: SparkSession, workingDir: String, stage: String): DataFrame =
    readJsonOrEmpty(spark, feedbackErrorsPath(workingDir, stage))

  /** Read every stage's messages under the working dir. */
  def readAllFeedbackErrors(spark: SparkSession, workingDir: String): DataFrame =
    readJsonOrEmpty(spark, s"$workingDir/errors/*_errors.jsonl")

  /** A submission with ZERO messages may legitimately have no errors dir at
    * all: a stage that emits no messages (or a failed run) may leave no
    * `.jsonl` directory behind. Missing path = empty message set with the
    * canonical schema — never a read error. The read takes the paths the
    * glob matched, not the glob: Spark's streaming-sink metadata probe
    * stats a single path literally, and on a glob it logs a WARN with a
    * `FileNotFoundException` trace per read.
    */
  private def readJsonOrEmpty(spark: SparkSession, glob: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(glob)
    val fs = NioLocalFileSystem.get(spark, path)
    val matched = Option(fs.globStatus(path)).toSeq.flatten.map(_.getPath.toString)
    if (matched.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Messages.schema)
    else spark.read.schema(Messages.schema).json(matched: _*)
  }

  /** Engine-internal (processing) errors, reference layout
    * (ref: error_utils.py:68-96).
    */
  def writeProcessingError(spark: SparkSession, workingDir: String, stage: String,
                           message: String, traceback: Seq[String] = Nil): Unit = {
    import spark.implicits._
    Seq((stage, "processing", "integrity", message, traceback))
      .toDF("step_name", "error_location", "error_level", "error_message", "error_traceback")
      .write.options(NioLocalFileSystem.options).mode("append")
      .json(processingErrorsPath(workingDir))
  }

  /** Detail report rows in the UserMessage column order
    * (ref: core_engine/message.py:95-132): every message, Key populated,
    * sorted for stable presentation by entity then record index.
    */
  def detailReport(messages: DataFrame): DataFrame =
    messages.select(detailColumns.map(col): _*).orderBy(col("Entity"), col("RecordIndex"))

  /** [[detailReport]]'s columns, in order. */
  private[graft] val detailColumns: Seq[String] = Seq(
    "Entity", "Key", "FailureType", "Status", "ErrorType", "ErrorLocation", "ErrorMessage",
    "ErrorCode", "ReportingField", "Value", "Category", "RecordIndex")

  /** Aggregate report (ref: reporting/error_report.py:115-140), re-exported
    * here so report consumers need only this module.
    */
  def aggregateReport(messages: DataFrame): DataFrame = Messages.aggregateReport(messages)

  /** Marker written into CSV cells for SQL NULL so empty string and null
    * survive a round-trip distinguishably (CSV has no native null).
    */
  val CsvNullMarker = "\\N"

  /** Error-code map loader (ref: reporting/error_report.py:39-51): a flat
    * JSON `{field -> code}` file expands to one (Category, Data_Item,
    * Error_Code) row per field for each of the three contract categories
    * ("Blank", "Wrong format", "Bad value"). Read through the path's
    * Hadoop filesystem (scheme-resolved like every other file access).
    * Non-textual values are skipped — the legacy nested
    * {category -> {field -> code}} shape joins nothing in the reference
    * either (its Data_Item column holds category names no message carries).
    */
  def errorCodesFromJson(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = NioLocalFileSystem.get(spark, p)
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val flat = node.properties().asScala.toSeq
      .collect { case e if e.getValue.isTextual => (e.getKey, e.getValue.asText) }
    val cats = Seq("Blank", "Wrong format", "Bad value")
    import spark.implicits._
    flat.flatMap { case (f, c) => cats.map(cat => (cat, f, c)) }
      .toDF("Category", "Data_Item", "Error_Code")
  }

  /** Populate missing error codes from the map (ref:
    * reporting/error_report.py:106-112): a broadcast left join on
    * (ReportingField, Category); a message's OWN code always wins — the
    * map only fills nulls (the reference's coalesce order).
    */
  def populateErrorCodes(messages: DataFrame, codes: DataFrame): DataFrame = {
    val c = broadcast(codes.select(col("Category").as("__cat__"),
      col("Data_Item").as("__di__"), col("Error_Code").as("__ec__")))
    messages.join(c,
        messages("ReportingField") === c("__di__") &&
          messages("Category") === c("__cat__"), "left")
      .withColumn("ErrorCode", coalesce(col("ErrorCode"), col("__ec__")))
      .drop("__cat__", "__di__", "__ec__")
  }

  /** Detail report as CSV — the offline stand-in for the reference's Excel
    * detail sheets: the exact `FeedbackMessage.HEADER` column order
    * (ref: core_engine/message.py:184-197), rows globally ordered by
    * (Entity, RecordIndex), and files split at `overflow` rows, mirroring
    * the reference's 1M-row sheet overflow (ref: excel_report.py:194).
    * The split is Spark-native (`maxRecordsPerFile`), so the write stays
    * fully distributed — no driver-side row loop at any volume; the global
    * sort range-partitions, and part-file lexicographic order preserves it.
    */
  def writeDetailCsv(messages: DataFrame, path: String,
                     overflow: Long = 1000000L): String = {
    messages
      .select(Messages.header.map(col): _*)
      .orderBy(col("Entity"), col("RecordIndex"))
      .write.options(NioLocalFileSystem.options).mode("overwrite")
      .option("header", true)
      .option("nullValue", CsvNullMarker)
      .option("maxRecordsPerFile", overflow)
      .csv(path)
    path
  }

  /** Read a detail CSV directory back with the canonical message schema. */
  def readDetailCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Messages.schema)
      .option("header", true)
      .option("nullValue", CsvNullMarker)
      .csv(path)

  /** The full error-report workbook as CSV — one directory per sheet of the
    * reference's Excel report (ref: excel_report.py:24-345): `summary`
    * (status + lane counts), `summary_table` (Type x Table counts),
    * `aggregate` (per-code counts), `detail` (every message, overflow-split).
    * Small sheets coalesce to one file; the detail sheet stays distributed.
    */
  def writeReportBundle(messages: DataFrame, dir: String,
                        overflow: Long = 1000000L,
                        processingFailed: Boolean = false): String = {
    def oneCsv(df: DataFrame, sub: String): Unit =
      df.coalesce(1).write.options(NioLocalFileSystem.options).mode("overwrite")
        .option("header", true).option("nullValue", CsvNullMarker)
        .csv(s"$dir/$sub")
    oneCsv(summaryReport(messages, processingFailed), "summary")
    oneCsv(summaryTable(messages), "summary_table")
    oneCsv(aggregateReport(messages), "aggregate")
    writeDetailCsv(messages, s"$dir/detail", overflow)
    dir
  }

  /** The reference's heading prettifier (ref: excel_report.py:333-345):
    * title-case lowercase headings, underscores to spaces, plus the fixed
    * renames.
    */
  private[report] def formatHeading(h: String): String = {
    val titled = if (h.nonEmpty && h.head.isLower)
      h.split('_').map(w => if (w.isEmpty) w else s"${w.head.toUpper}${w.tail}").mkString("_")
    else h
    val spaced = titled.replace('_', ' ')
    Map("Table" -> "Group", "Data Item" -> "Data Item Submission Name",
      "Error" -> "Errors and Warnings").getOrElse(spaced, spaced)
  }

  /** The full error-report WORKBOOK as a real .xlsx file, matching the
    * reference's sheet structure (ref: excel_report.py:24-345): a
    * "Summary" sheet (title, status, submission info, record counts, and
    * the Type x Table count matrix), an "Error Summary" aggregate sheet,
    * and "Error Data" detail sheets split at `overflow` rows with the
    * reference's "Errors continued on next sheet" trailer and `_N`
    * suffixes. Rendered by the dependency-free [[XlsxWriter]].
    *
    * Scale stance: an .xlsx is a single ZIP — inherently one writer, same
    * as the reference's openpyxl build. The aggregate sheets are bounded
    * (codes x entities); the detail rows stream through
    * `toLocalIterator` (one partition in memory at a time, in the
    * (Entity, RecordIndex) sort order of the distributed pass). For
    * volumes where even that is wrong, [[writeReportBundle]] is the
    * fully-distributed CSV rendering of the same sheets.
    */
  def writeExcelReport(messages: DataFrame, path: String, nRecords: Long,
                       summaryInfo: Seq[(String, String)] = Nil,
                       overflow: Long = 1000000L,
                       processingFailed: Boolean = false): String = {
    val summaryRow = summaryReport(messages, processingFailed).collect().head
    val status = summaryRow.getAs[String]("report_status")
    val fileRejected = summaryRow.getAs[Long]("n_file_rejections") > 0
    val nRejected = summaryRow.getAs[Long]("n_record_rejections")
    val table = summaryTable(messages).collect()
    val tables = table.map(_.getAs[String]("Table")).distinct.sorted
    val lanes = Seq("File Rejection", "Record Rejection", "Warning")
    val counts = table.map(r => (r.getAs[String]("Type"), r.getAs[String]("Table"))
      -> r.getAs[Long]("Count")).toMap
    val summarySheet: Seq[Seq[Any]] =
      Seq(Seq(""), Seq("", "Data Summary"), Seq("", "Status", status)) ++
        summaryInfo.map { case (k, v) => Seq("", k, v) } ++
        Seq(Seq("", "Total Number of Records Processed", nRecords)) ++
        (if (processingFailed || fileRejected) Nil
         else Seq(Seq("", "Total Number of Records Rejected", nRejected))) ++
        Seq(Seq("", ""), Seq("", "") ++ tables) ++
        lanes.map(lane =>
          Seq[Any]("", lane) ++ tables.map(t => counts.getOrElse((lane, t), 0L)))
    val agg = aggregateReport(messages)
    val aggRows = Iterator(agg.columns.toSeq.map(formatHeading): Seq[Any]) ++
      agg.orderBy(agg.columns.toIndexedSeq.map(col): _*).collect().iterator
        .map(_.toSeq)
    val detailHeader: Seq[Any] = Messages.header.map(formatHeading)
    val detail = messages
      .select(Messages.header.map(col): _*)
      .orderBy(col("Entity"), col("RecordIndex"))
      .toLocalIterator()
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path))
    val xlsx = new XlsxWriter(out)
    try {
      xlsx.writeSheet("Summary", summarySheet.iterator)
      xlsx.writeSheet("Error Summary", aggRows, freezeHeader = true)
      var suffix = 0
      var more = detail.hasNext
      // the reference writes one detail sheet even for an empty report
      if (!more) xlsx.writeSheet("Error Data", Iterator(detailHeader),
        freezeHeader = true)
      while (more) {
        val name = if (suffix == 0) "Error Data" else s"Error Data_${suffix + 1}"
        var n = 0L
        var overflowed = false
        // `n <= overflow`: the reference appends while row_count <= overflow
        // (0-based enumerate, trailer at the first STRICTLY-greater index),
        // i.e. overflow+1 rows per sheet before the trailer
        // (ref: excel_report.py:272-281); nulls render as the reference's
        // str(None) = "None".
        val chunk = Iterator(detailHeader) ++ new Iterator[Seq[Any]] {
          def hasNext: Boolean = (n <= overflow && detail.hasNext) || {
            if (detail.hasNext) overflowed = true; false
          }
          def next(): Seq[Any] = { n += 1; detail.next().toSeq.map(v => if (v == null) "None" else v.toString) }
        } ++ new Iterator[Seq[Any]] { // evaluated after the rows drain
          def hasNext: Boolean = overflowed
          def next(): Seq[Any] = { overflowed = false; Seq("Errors continued on next sheet") }
        }
        xlsx.writeSheet(name, chunk, freezeHeader = true)
        more = detail.hasNext
        suffix += 1
      }
    } finally xlsx.close()
    path
  }

  // ------------------------------------------------------- summary report

  /** Error-report category lane (ref: reporting/constants.py:8-22). */
  private def reportType: org.apache.spark.sql.Column =
    when(col("FailureType") === "submission" && col("Status") =!= "informational",
      "File Rejection")
      .when(col("Status") =!= "informational", "Record Rejection")
      .otherwise("Warning")

  /** The summary sheet's Type x Table counts
    * (ref: reporting/excel_report.py:70-77).
    */
  def summaryTable(messages: DataFrame): DataFrame =
    messages.groupBy(reportType.as("Type"), col("Entity").as("Table"))
      .agg(count(lit(1)).as("Count"))

  /** Report lanes in the summary status precedence: the lane, its count
    * column in [[summaryReport]], and the status a non-zero count sets
    * (ref: excel_report.py:24-107).
    */
  private val Lanes = Seq(
    ("File Rejection", "n_file_rejections", "File has been rejected"),
    ("Record Rejection", "n_record_rejections", "File has been accepted with record rejections"),
    ("Warning", "n_warnings", "File has been accepted, all records accepted with warnings"))
  private val NoIssuesStatus = "File has been accepted, no issues to report"
  private val ProcessingFailedStatus =
    "There was an issue processing the submission. Please contact support."

  /** Per-submission summary block (ref: excel_report.py:24-107): one row of
    * lane counts plus the overall report status, derived with the
    * reference's precedence — processing failure, then file rejection, then
    * record rejection, then accepted-with-warnings, then accepted. A single
    * global aggregation: one reduce whatever the message volume.
    */
  def summaryReport(messages: DataFrame, processingFailed: Boolean = false): DataFrame = {
    val t = reportType
    val laneCounts = Lanes.map { case (lane, name, _) =>
      coalesce(sum(when(t === lane, 1L)), lit(0L)).as(name)
    }
    val counts = messages.agg(laneCounts.head, laneCounts.tail :+ count(lit(1)).as("n_messages"): _*)
    val status =
      if (processingFailed) lit(ProcessingFailedStatus)
      else Lanes.foldRight(lit(NoIssuesStatus)) { case ((_, name, s), rest) =>
        when(col(name) > 0, s).otherwise(rest)
      }
    counts.withColumn("report_status", status)
  }

  /** The small report sheets and the submission statistics from ONE
    * aggregation, collected: messages grouped by the aggregate sheet's keys,
    * the report lane and the three statistics predicates. Every sheet is a
    * coarser grouping of those cells, summed on the driver, so the cells are
    * at most a few per aggregate-sheet row — the rows an aggregate sheet
    * collects anyway (`spark.driver.maxResultSize` still guards it).
    */
  def reportCounts(messages: DataFrame): ReportCounts = {
    val counted = col("Status") =!= "informational"
    def flag(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
    new ReportCounts(messages
      .groupBy(col("ErrorType"), col("Entity"), col("ErrorLocation"), col("Category"),
        col("ErrorCode"), reportType,
        flag(col("FailureType") === "submission" && counted),
        flag(col("FailureType") === "record" && counted),
        flag(col("Status") === "informational"))
      .agg(count(lit(1)))
      .collect().toSeq
      .map(r => ReportCell(r.toSeq.take(5), r.getString(5),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getLong(9))))
  }

  /** One [[reportCounts]] cell: an aggregate-sheet key (Type, Table,
    * Data_Item, Category, Error_Code), its report lane, its statistics flags
    * and its message count.
    */
  private[report] final case class ReportCell(
      key: Seq[Any], lane: String,
      submissionRejection: Boolean, recordRejection: Boolean, warning: Boolean, n: Long)

  /** [[reportCounts]]' cells, summed into the rows of [[aggregateReport]],
    * [[summaryTable]] and [[summaryReport]] (no processing failure), and
    * into the audit statistics.
    */
  final class ReportCounts private[report] (cells: Seq[ReportCell]) {
    private def sums[K](key: ReportCell => K): Seq[(K, Long)] =
      cells.groupMapReduce(key)(_.n)(_ + _).toSeq
    private def total(keep: ReportCell => Boolean): Long = cells.filter(keep).map(_.n).sum

    def aggregate: Seq[Row] = sums(_.key).map { case (k, n) => Row.fromSeq(k :+ n) }

    def summaryTable: Seq[Row] =
      sums(c => (c.lane, c.key(1))).map { case ((lane, entity), n) => Row(lane, entity, n) }

    def summary: Row = {
      val laneCounts = Lanes.map { case (lane, _, _) => total(_.lane == lane) }
      val status = Lanes.zip(laneCounts).collectFirst { case ((_, _, s), n) if n > 0 => s }
        .getOrElse(NoIssuesStatus)
      Row.fromSeq(laneCounts ++ Seq(total(_ => true), status))
    }

    /** (submission rejections, record rejections, warnings). */
    def statistics: (Long, Long, Long) =
      (total(_.submissionRejection), total(_.recordRejection), total(_.warning))
  }
}
