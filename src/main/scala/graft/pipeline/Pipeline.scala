package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.audit.AuditManager
import graft.config.Dischema
import graft.contract.Contract
import graft.io.{DriverParquet, NioLocalFileSystem}
import graft.readers.Readers
import graft.refdata.RefDataLoader
import graft.report.ErrorSink
import graft.rules.{EntityCatalog, SyncFilters}

/** The four pipeline services over a working directory with parquet stage
  * checkpoints (ref: pipeline/pipeline.py:950-977 cluster run;
  * :198-246 transform, :426-477 data_contract, :546-653 business_rules,
  * :801-875 error_report):
  *
  *   transform/<entity>      stringified rows + __record_index__
  *   data_contract/<entity>  typed rows (record index kept)
  *   business_rules/<entity> post-rules rows, contract rejections removed
  *   errors/<stage>_errors.jsonl, error_reports/{aggregate,detail}
  *
  * Stage boundaries are parquet on purpose — restartability is a feature the
  * reference relies on, and each stage's output is read exactly once by the
  * next. Audit status transitions mirror the reference's
  * received -> transform -> data_contract -> business_rules -> error_report
  * -> finished. Local files go through [[graft.io.NioLocalFileSystem]]: no forked `chmod` per file.
  */
object Pipeline {

  final case class SubmissionConfig(
      submissionId: String,
      dataFile: String, // submitted data file (or directory)
      dischema: Dischema.Parsed,
      workingDir: String,
      refdataBaseDir: String = ".",
      auditDir: Option[String] = None,
      csvOptions: Readers.CsvOptions = Readers.CsvOptions(),
      xmlRowTags: Map[String, String] = Map.empty, // entity -> rowTag
      /** Evaluation-time template variables for the `runtime` templating
        * strategy (ref: backends/metadata/rules.py:690-704) — e.g. values
        * resolved from the submission's metadata or data.
        */
      runtimeParams: Map[String, Any] = Map.empty,
      /** Concurrent per-entity stage work within ONE submission. Each
        * stage checkpoints per entity, at a fixed number of Spark jobs
        * per entity; on a many-small-entities dischema (~100 tiny
        * entities) that fixed cost IS the wall clock (EntityProbe measured
        * ~0.8 s/entity sequential), and the jobs are independent per
        * entity (each writes its own transform/data_contract/
        * business_rules/<entity> dir), so they pipeline across the
        * executor like any other independent job set. Rules stay
        * sequential (cross-entity semantics); the shared stage JSONL takes
        * concurrent appends. 1 = the old sequential loop.
        */
      entityParallelism: Int = 8,
      /** Operational bound on ONE parallel entity-stage fan-out: a hung
        * entity job (stuck storage RPC, deadlocked source) fails the
        * submission after this many seconds instead of blocking forever on
        * an unbounded Await. Generous by default — a stage legitimately
        * takes minutes at scale; this is a circuit breaker, not a budget.
        */
      entityStageTimeoutSec: Long = 4 * 3600) {
    // Kept only so the benchmark harness compiles: there is one stage layout.
    def singleTableLayout: Boolean = false
  }

  final case class PipelineResult(
      validationFailed: Boolean,
      recordCounts: Map[String, Long],
      finalStatus: String)

  private def fileExtension(path: String): String = {
    val i = path.lastIndexOf('.')
    if (i < 0) "" else path.substring(i).toLowerCase
  }

  /** Run `f` over the entities with bounded concurrency, preserving result
    * order. Fail-fast like the sequential loop: the first entity failure
    * aborts the submission (remaining in-flight futures finish but their
    * results are discarded with the pool).
    */
  private def parEntities[A, B](items: Seq[A], parallelism: Int,
                                timeoutSec: Long = Long.MaxValue)(f: A => B): Seq[B] =
    if (parallelism <= 1 || items.size <= 1) items.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      // Daemon threads: a timed-out (abandoned) entity job must not pin the
      // JVM open after the submission has already failed and moved on.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size),
        (r: Runnable) => {
          val t = new Thread(r, "graft-entity-stage")
          t.setDaemon(true); t
        })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val timeout =
        if (timeoutSec >= Long.MaxValue / 1000) Duration.Inf else timeoutSec.seconds
      try Await.result(Future.sequence(items.map(i => Future(f(i)))), timeout)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new RuntimeException(
            s"entity-stage fan-out exceeded ${timeoutSec}s " +
              s"(entityStageTimeoutSec) — a per-entity job is hung; submission aborted")
      }
      finally pool.shutdown()
    }

  /** Stage 1: read the submitted file per entity with its configured reader
    * and checkpoint stringified + indexed rows.
    */
  def fileTransformation(spark: SparkSession, cfg: SubmissionConfig): Unit = {
    val ext = fileExtension(cfg.dataFile)
    // Configured XSD gates run ONCE per distinct schema, BEFORE any entity
    // parses (ref: readers/xml.py xsd_location kwargs): a structural
    // failure must abort the whole transform phase — validating inside the
    // per-entity loop would re-parse the file per entity and let earlier
    // entities checkpoint before the gate fires. The configured error code
    // leads the exception message so the processing-error record carries it.
    cfg.dischema.entities
      .flatMap(spec => cfg.dischema.readerKwargs
        .getOrElse(spec.name, Map.empty).getOrElse(ext, Map.empty).get("xsd_location")
        .map(_ -> cfg.dischema.readerKwargs(spec.name)(ext)))
      .distinctBy(_._1)
      .foreach { case (xsd, kw) =>
        val xsdPath = if (xsd.startsWith("/")) xsd else s"${cfg.dischema.baseDir}/$xsd"
        val problems = graft.readers.XmlLinting.validate(
          cfg.dataFile.stripPrefix("file:"), xsdPath)
        if (problems.nonEmpty)
          throw new graft.rules.ConstraintException(
            s"[${kw.getOrElse("xsd_error_code", "XSDERROR")}] " +
              kw.getOrElse("xsd_error_message", "the xml failed XSD validation") +
              s": ${problems.head}",
            kw.getOrElse("xsd_error_code", "XSDERROR"))
      }
    def ingest(spec: graft.contract.EntitySpec): DataFrame = {
      val readerName = cfg.dischema.readerByEntity
        .getOrElse(spec.name, Map.empty).getOrElse(ext, defaultReader(ext))
      val raw = readerName match {
        case "SparkCSVReader" | "CSVFileReader" =>
          // header-vs-schema enforcement is OPT-IN (ref: readers/csv.py:40
          // `field_check: bool = False`): with it off, a headered file maps
          // POSITIONALLY onto the declared schema and the header row is
          // just skipped — planets.csv.csv's snake_case header validates
          // with 0 rejections exactly because the check never runs
          val kw = cfg.dischema.readerKwargs
            .getOrElse(spec.name, Map.empty).getOrElse(ext, Map.empty)
          if (cfg.csvOptions.header && kw.get("field_check").exists(_.equalsIgnoreCase("true"))) {
            val missing = Readers.checkCsvHeader(spark, cfg.dataFile, spec, cfg.csvOptions.sep)
            if (missing.nonEmpty)
              throw new graft.rules.ConstraintException(
                s"CSV header for '${spec.name}' is missing declared fields: ${missing.mkString(", ")}",
                "file header must contain every declared field")
          }
          Readers.readCsv(spark, cfg.dataFile, spec, cfg.csvOptions)
        case "SparkJSONReader" =>
          Readers.readJson(spark, cfg.dataFile, spec, multiLine = ext == ".json")
        case "SparkXMLReader" | "BasicXMLFileReader" | "XMLStreamReader"
           | "DuckDBXMLStreamReader" =>
          val kw = cfg.dischema.readerKwargs
            .getOrElse(spec.name, Map.empty).getOrElse(ext, Map.empty)
          Readers.readXml(spark, cfg.dataFile, spec,
            rowTag = kw.getOrElse("record_tag",
              cfg.xmlRowTags.getOrElse(spec.name, spec.name)),
            limit = kw.get("n_records_to_read").map(_.toInt))
        case other =>
          throw new IllegalArgumentException(s"unknown reader: '$other' for ${spec.name}")
      }
      Contract.stringify(raw)
    }
    parEntities(cfg.dischema.entities, cfg.entityParallelism, cfg.entityStageTimeoutSec) { spec =>
      ingest(spec).write.options(NioLocalFileSystem.options).mode("overwrite")
        .parquet(s"${cfg.workingDir}/transform/${spec.name}")
    }
    ()
  }

  private def defaultReader(ext: String): String = ext match {
    case ".csv"            => "SparkCSVReader"
    case ".json" | ".jsonl" => "SparkJSONReader"
    case ".xml"            => "SparkXMLReader"
    case other             => throw new IllegalArgumentException(s"no reader for '$other'")
  }

  /** Stage 2: contract validate + cast; typed parquet + errors JSONL.
    * Returns true when any non-informational message was produced.
    *
    * Two jobs per entity: the typed write and the message write. The
    * failure flag is a count observed on the message write itself, not a
    * second pass over the messages; the message sink publishes per call
    * ([[ErrorSink.writeFeedbackErrors]]), so entity workers append to the
    * shared stage JSONL concurrently.
    */
  def dataContract(spark: SparkSession, cfg: SubmissionConfig): Boolean = {
    parEntities(cfg.dischema.entities, cfg.entityParallelism, cfg.entityStageTimeoutSec) { spec =>
      val raw = StageIO.readStage(spark, s"${cfg.workingDir}/transform/${spec.name}")
      val (typed, messages) = Contract(raw, spec)
      typed.write.options(NioLocalFileSystem.options).mode("overwrite")
        .parquet(s"${cfg.workingDir}/data_contract/${spec.name}")
      val obs = org.apache.spark.sql.Observation()
      ErrorSink.writeFeedbackErrors(
        messages.observe(obs, count(when(col("Status") =!= "informational", true)).as("failed")),
        cfg.workingDir, "data_contract")
      obs.get("failed").asInstanceOf[Long] > 0
    }.exists(identity)
  }

  /** Stage 3: business rules over the typed entities (+ Original<entity>
    * copies, ref: pipeline.py:581-586), refdata resolved lazily, then
    * post-hoc contract record rejection and checkpoint.
    */
  def businessRules(spark: SparkSession, cfg: SubmissionConfig): Map[String, Long] = {
    // rule-stage functions (over_10, ...) are always in scope for rule and
    // filter expressions, as in the reference's rules engine
    // (ref: spark/rules.py:80-104); registered once per session
    graft.functions.GraftFunctions.register(spark)
    // "Original" is a RESERVED prefix: the pre-rules snapshots live at
    // Original<entity> (reference layout, pipeline.py:581-586), so a
    // declared entity named Original* would be silently shadowed by a
    // snapshot and would skip contract rejection — fail fast instead.
    val reserved = cfg.dischema.entities.map(_.name).filter(_.startsWith("Original"))
    require(reserved.isEmpty,
      s"entity name(s) ${reserved.mkString(", ")} use the reserved 'Original' " +
        "prefix (pre-rules snapshot namespace) — rename the entity")
    val typed = cfg.dischema.entities.map { spec =>
      spec.name -> StageIO.readStage(spark, s"${cfg.workingDir}/data_contract/${spec.name}")
    }.toMap
    val originals = typed.map { case (n, df) => s"Original$n" -> df }
    val loader = new RefDataLoader(spark, cfg.dischema.referenceData, cfg.refdataBaseDir)
    val catalog = new EntityCatalog(
      typed ++ originals,
      keyFields = cfg.dischema.entities.flatMap(e => e.keyField.map(k => e.name -> Seq(k))).toMap,
      refdataProvider = Some(loader.asProvider))

    // runtime strategy: re-render stored rule configs with the submission's
    // evaluation-time variables; upfront keeps the parse-time rendering
    val rules =
      if (cfg.dischema.templatingStrategy == "runtime")
        cfg.dischema.renderRules(cfg.runtimeParams)
      else cfg.dischema.rules
    val ruleMessages = rules.flatMap { r =>
      SyncFilters.applyRules(catalog, r.preSync, r.filters, r.postSync)
    }
    // ONE append job for all rules' messages, not one per message frame —
    // same rows either way (shared Messages schema), but a many-rules
    // dischema otherwise pays a sequential write job per rule.
    if (ruleMessages.nonEmpty)
      ErrorSink.writeFeedbackErrors(
        org.apache.spark.sql.graft.ExpressionBridge.flatUnion(ruleMessages),
        cfg.workingDir, "business_rules")

    val contractErrors = ErrorSink.readFeedbackErrors(spark, cfg.workingDir, "data_contract")
    // EVERY catalog entity checkpoints — declared, Original copies, and
    // rule-derived entities (a group_by's new_entity_name) — mirroring the
    // reference's business-rules write loop (ref: pipeline.py:614-637,
    // planets' largest_satellites and Originalplanets land as parquet).
    // Contract record rejection applies to non-Original entities only;
    // derived entities without a record index pass through untouched.
    // The final checkpoint writes are independent per entity dir — they
    // parallelize like the other stage loops (the catalog itself is frozen
    // by this point; rules above ran sequentially).
    def rejected(name: String): DataFrame = {
      val entity = catalog(name)
      if (!name.startsWith("Original") &&
        entity.columns.contains(Contract.RecordIndexColumn))
        Contract.filterContractErrors(entity,
          contractErrors.where(col("Entity") === name))
      else entity
    }
    parEntities(catalog.names, cfg.entityParallelism, cfg.entityStageTimeoutSec) { name =>
      // Row count observed ON the write itself — no second job
      // re-reading the parquet just to count what was written.
      val obs = org.apache.spark.sql.Observation()
      rejected(name).observe(obs, count(lit(1)).as("n")).write
        .options(NioLocalFileSystem.options).mode("overwrite")
        .parquet(s"${cfg.workingDir}/business_rules/$name")
      name -> obs.get("n").asInstanceOf[Long]
    }.toMap
  }

  /** Stage 4: aggregate + detail + summary report tables from every stage's
    * JSONL (the summary block + Type x Table counts are the offline
    * equivalents of the reference's Excel summary sheet,
    * ref: reporting/excel_report.py:24-107).
    */
  def errorReport(spark: SparkSession, cfg: SubmissionConfig): DataFrame =
    errorReportFrom(spark, cfg, ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir))

  /** [[errorReport]] over an already-loaded (typically persisted) message
    * frame, so a caller that needs the frame for statistics too reads the
    * stage JSONL once, not once per consumer. Returns the aggregate sheet's
    * rows as a local frame (see [[writeErrorReport]] for the jobs).
    */
  def errorReportFrom(spark: SparkSession, cfg: SubmissionConfig,
                      all: DataFrame): DataFrame = {
    val counts = writeErrorReport(spark, cfg, all)
    spark.createDataFrame(counts.aggregate.asJava, ErrorSink.aggregateReport(all).schema)
  }

  /** Write `error_reports/{aggregate,summary_table,summary,detail}` in two
    * steps. The three small sheets come from one collected aggregation
    * ([[ErrorSink.reportCounts]]) and are written on the driver with the
    * schemas of their [[ErrorSink]] reference plans. The detail sheet is one
    * file written by one task, sorted inside that task — a global `orderBy`
    * would add a sampling job and a shuffle of every message. The
    * aggregation runs first so that its parallel scan fills a persisted
    * `all`'s cache for the one-task detail write. Returns the counts, which
    * also hold the submission statistics.
    */
  private[pipeline] def writeErrorReport(spark: SparkSession, cfg: SubmissionConfig,
                                         all: DataFrame): ErrorSink.ReportCounts = {
    val dir = s"${cfg.workingDir}/error_reports"
    val counts = ErrorSink.reportCounts(all)
    DriverParquet.overwrite(spark, s"$dir/aggregate",
      ErrorSink.aggregateReport(all).schema, counts.aggregate)
    DriverParquet.overwrite(spark, s"$dir/summary_table",
      ErrorSink.summaryTable(all).schema, counts.summaryTable)
    DriverParquet.overwrite(spark, s"$dir/summary",
      ErrorSink.summaryReport(all).schema, Seq(counts.summary))
    all.select(ErrorSink.detailColumns.map(col): _*)
      .coalesce(1).sortWithinPartitions(col("Entity"), col("RecordIndex"))
      .write.options(NioLocalFileSystem.options).mode("overwrite").parquet(s"$dir/detail")
    counts
  }

  /** Run many submissions concurrently — Spark schedules the jobs fairly
    * across one session (ref: pipeline.py:957 ThreadPoolExecutor(7); Scala
    * futures over the shared SparkSession are the JVM equivalent). One
    * submission's failure does not abort the others.
    */
  def runAll(spark: SparkSession, cfgs: Seq[SubmissionConfig],
             parallelism: Int = 7): Map[String, Either[Throwable, PipelineResult]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = cfgs.map { cfg =>
        Future(cfg.submissionId ->
          (try Right(run(spark, cfg)) catch { case e: Throwable => Left(e) }))
      }
      Await.result(Future.sequence(fs), Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** Full run with audit status transitions and submission statistics. The
    * statistics are read off the error report's one aggregation
    * ([[writeErrorReport]]), so they cost no job of their own; the message
    * frame is persisted for the report alone and released on every path.
    */
  def run(spark: SparkSession, cfg: SubmissionConfig): PipelineResult = {
    val audit = cfg.auditDir.map(new AuditManager(spark, _))
    audit.foreach { a =>
      a.addSubmissionInfo(cfg.submissionId, cfg.dischema.entities.map(_.name).mkString(","),
        cfg.dataFile, fileExtension(cfg.dataFile))
      a.markStatus(cfg.submissionId, "received")
    }
    try {
      // "file_transformation" is the reference's stage name (the feature
      // files assert it verbatim, and Auditing.StageOrder keys on it)
      audit.foreach(_.markStatus(cfg.submissionId, "file_transformation"))
      fileTransformation(spark, cfg)
      audit.foreach(_.markStatus(cfg.submissionId, "data_contract"))
      val validationFailed = dataContract(spark, cfg)
      audit.foreach(_.markStatus(cfg.submissionId, "business_rules"))
      val allCounts = businessRules(spark, cfg)
      val declared = cfg.dischema.entities.map(_.name)
      val counts = declared.map(n => n -> allCounts.getOrElse(n, 0L)).toMap
      audit.foreach(_.markStatus(cfg.submissionId, "error_report"))
      val all = ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir).persist()
      val report = try writeErrorReport(spark, cfg, all) finally all.unpersist()
      audit.foreach { a =>
        // the statistics come from the report's own aggregation: no job
        val (submissionRejections, recordRejections, warnings) = report.statistics
        // record_count = the SUBMITTED record count of the MAIN entity: the
        // Original copy is the pre-rules, pre-rejection frame, and the main
        // entity is the document's 'entity' template parameter (ref:
        // pipeline.py:639-643 global_variables.get('entity', dataset_id) —
        // books counts nested_books' 4 authors, not header + authors);
        // without a parameter, all declared entities count
        // resolve against what actually ran (allCounts) — the parameter may
        // name a rule-DERIVED entity (valid in the reference, which uses
        // global_variables['entity'] as-is); only an entity that produced
        // no counts at all falls back to the sum of declared entities
        val statEntities = cfg.dischema.parameters.get("entity")
          .filter(e => allCounts.contains(e) || allCounts.contains(s"Original$e"))
          .map(Seq(_)).getOrElse(declared)
        val submitted = statEntities
          .map(n => allCounts.getOrElse(s"Original$n", allCounts.getOrElse(n, 0L))).sum
        a.addStatistics(cfg.submissionId,
          recordCount = submitted,
          submissionRejections = submissionRejections,
          recordRejections = recordRejections,
          warnings = warnings)
        a.markStatus(cfg.submissionId, "finished",
          submissionResult = Some(if (validationFailed) "validation_failed" else "success"))
      }
      PipelineResult(validationFailed, counts, "finished")
    } catch {
      case e: Throwable =>
        ErrorSink.writeProcessingError(spark, cfg.workingDir, "pipeline",
          Option(e.getMessage).getOrElse(e.getClass.getName))
        audit.foreach(_.markStatus(cfg.submissionId, "failed",
          submissionResult = Some("processing_error")))
        throw e
    }
  }
}
