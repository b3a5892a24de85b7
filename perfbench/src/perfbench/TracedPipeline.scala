package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.audit.AuditManager
import graft.pipeline.Pipeline
import graft.report.ErrorSink

/** `Pipeline.run` for the per-submission-directory layout, made as the same
  * sequence of public calls, each inside a span named after its layer:
  *
  *   readers  = Pipeline.fileTransformation
  *   contract = Pipeline.dataContract
  *   rules    = Pipeline.businessRules
  *   report   = ErrorSink.readAllFeedbackErrors, Pipeline.errorReportFrom and
  *              the statistics aggregation
  *   audit    = each AuditManager call
  *
  * Keep it in step with `Pipeline.run`: the traced run measures this copy.
  */
object TracedPipeline {

  def run(spark: SparkSession, cfg: Pipeline.SubmissionConfig, t: Tracer): Unit =
    t.span("submission", cfg.submissionId) {
      require(!cfg.singleTableLayout, "the traced copy covers the per-entity layout only")
      val id = cfg.submissionId
      val ext = {
        val i = cfg.dataFile.lastIndexOf('.')
        if (i < 0) "" else cfg.dataFile.substring(i).toLowerCase
      }
      val audit = cfg.auditDir.map(new AuditManager(spark, _))
      def au(f: AuditManager => Unit): Unit = audit.foreach(a => t.span("audit")(f(a)))
      au(_.addSubmissionInfo(id, cfg.dischema.entities.map(_.name).mkString(","),
        cfg.dataFile, ext))
      au(_.markStatus(id, "received"))
      try {
        au(_.markStatus(id, "file_transformation"))
        t.span("readers")(Pipeline.fileTransformation(spark, cfg))
        au(_.markStatus(id, "data_contract"))
        val validationFailed = t.span("contract")(Pipeline.dataContract(spark, cfg))
        au(_.markStatus(id, "business_rules"))
        val allCounts = t.span("rules")(Pipeline.businessRules(spark, cfg))
        val declared = cfg.dischema.entities.map(_.name)
        au(_.markStatus(id, "error_report"))
        val all = t.span("report")(ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir).persist())
        t.span("report")(Pipeline.errorReportFrom(spark, cfg, all))
        audit.foreach { a =>
          val stats = t.span("report")(all.agg(
            count(when(col("FailureType") === "submission"
              && col("Status") =!= "informational", true)).as("subm"),
            count(when(col("FailureType") === "record"
              && col("Status") =!= "informational", true)).as("rec"),
            count(when(col("Status") === "informational", true)).as("warn")).head())
          val statEntities = cfg.dischema.parameters.get("entity")
            .filter(e => allCounts.contains(e) || allCounts.contains(s"Original$e"))
            .map(Seq(_)).getOrElse(declared)
          val submitted = statEntities
            .map(n => allCounts.getOrElse(s"Original$n", allCounts.getOrElse(n, 0L))).sum
          t.span("audit")(a.addStatistics(id, recordCount = submitted,
            submissionRejections = stats.getLong(0), recordRejections = stats.getLong(1),
            warnings = stats.getLong(2)))
          t.span("audit")(a.markStatus(id, "finished",
            submissionResult = Some(if (validationFailed) "validation_failed" else "success")))
        }
        all.unpersist()
      } catch {
        case e: Throwable =>
          ErrorSink.writeProcessingError(spark, cfg.workingDir, "pipeline",
            Option(e.getMessage).getOrElse(e.getClass.getName))
          au(_.markStatus(id, "failed", submissionResult = Some("processing_error")))
          throw e
      }
    }
}
