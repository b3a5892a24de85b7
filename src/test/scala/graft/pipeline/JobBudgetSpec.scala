package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.audit.AuditManager
import graft.report.ErrorSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark jobs per step of a planets submission. Per-submission bookkeeping
  * launches none: audit appends are written on the driver, the contract's
  * failure flag is observed on its message write, the stage checkpoints
  * are read with their footer schema instead of a schema-inference job, and
  * the statistics come from the error report's one aggregation.
  */
class JobBudgetSpec extends PlanetsFixture {

  private val TagKey = "graft.test.jobBudget"

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_jobs_").toString

  /** `f`'s result and the long call site of every job it started, on this
    * thread or on threads it spawned. A call site's first line is the Spark
    * API method, the second the engine frame that called it. A job of a SQL
    * execution takes the execution's call site: adaptive execution submits
    * query stages from a pool thread, whose own call site has no engine frame.
    */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag))
          sites.add(Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .flatMap(id => Option(executions.get(id)))
            .getOrElse(e.stageInfos.maxBy(_.stageId).details))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, sites.asScala.toSeq)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def api(site: String): String = site.linesIterator.next()
  private def caller(site: String): String = site.linesIterator.drop(1).nextOption().getOrElse("")
  /** A schema-inference job: launched from inside a `DataFrameReader` call. */
  private def infersSchema(site: String): Boolean = api(site).contains("DataFrameReader")

  /** Fails instead of hanging when a step never returns. */
  private def within[T](f: => T): T = Await.result(Future(f)(ExecutionContext.global), 3.minutes)

  test("a planets Pipeline.run starts no job for audit appends or stage-checkpoint schemas") {
    val base = freshDir()
    val (result, jobs) = jobsOf(Pipeline.run(spark, planetsSubmission(base, "budget", s"$base/audit")))
    assert(result.recordCounts == Map("planets" -> 3L))
    assert(jobs.nonEmpty, "the listener saw no job at all")
    // the message sink shares the audit publish helper; an audit append is
    // a job under AuditManager or the append functions themselves
    val inAppend =
      """graft\.audit\.(AuditManager|Auditing\$\.(appendAudit|appendRows))|graft\.io\.DriverParquet""".r
    val audit = jobs.filter(inAppend.findFirstIn(_).nonEmpty)
    assert(audit.isEmpty, s"jobs inside audit appends:\n${audit.mkString("\n--\n")}")
    // refdata is user files and keeps Spark's inference; nothing else may infer
    val inferred = jobs.filter(j => infersSchema(j) && !caller(j).contains("graft.refdata."))
    assert(inferred.isEmpty, s"schema-inference jobs:\n${inferred.mkString("\n--\n")}")
  }

  test("audit appends start no Spark job under either protocol") {
    val base = freshDir()
    Seq(false, true).foreach { commits =>
      val audit = new AuditManager(spark, s"$base/audit-$commits", objectStoreCommits = commits)
      val (_, jobs) = jobsOf {
        audit.addSubmissionInfo("s1", "planets", "planets.csv", ".csv")
        audit.markStatus("s1", "received")
        audit.addStatistics("s1", recordCount = 6, submissionRejections = 0,
          recordRejections = 3, warnings = 1)
        audit.addTransfer("s1", "report", "t1")
        audit.markStatus("s1", "finished", submissionResult = Some("success"))
      }
      assert(jobs.isEmpty, s"objectStoreCommits=$commits:\n${jobs.mkString("\n--\n")}")
      assert(audit.statusOf("s1").contains("finished"))
    }
  }

  test("dataContract: one typed write and one message write per entity, schema read on the driver") {
    val base = freshDir()
    val cfg = planetsSubmission(base, "budget-dc", s"$base/audit")
    Pipeline.fileTransformation(spark, cfg)
    val transform = s"${cfg.workingDir}/transform/planets"
    // the detector sees a plain read's inference job; the stage read has none
    assert(jobsOf(spark.read.parquet(transform))._2.count(infersSchema) >= 1)
    val (staged, readJobs) = jobsOf(StageIO.readStage(spark, transform))
    assert(readJobs.isEmpty, readJobs.mkString("\n--\n"))
    assert(staged.schema == spark.read.parquet(transform).schema)

    val (failed, jobs) = jobsOf(Pipeline.dataContract(spark, cfg))
    assert(failed)
    val messageJobs = jobs.filter(j => caller(j).contains("graft.report.ErrorSink"))
    assert(messageJobs.size == 1, jobs.mkString("\n--\n"))
    assert(jobs.size <= 2, jobs.mkString("\n--\n"))
    assert(!jobs.exists(infersSchema))
    val dc = s"${cfg.workingDir}/data_contract/planets"
    assert(StageIO.readStage(spark, dc).schema == spark.read.parquet(dc).schema)
    assert(ErrorSink.readFeedbackErrors(spark, cfg.workingDir, "data_contract").count() == 2)
  }

  test("the error report starts at most 4 jobs and the statistics none") {
    val base = freshDir()
    val cfg = planetsSubmission(base, "budget-report", s"$base/audit")
    val (_, jobs) = jobsOf(Pipeline.run(spark, cfg))
    // a statistics aggregation of its own would be a job called from run
    val inRun = jobs.filter(j => """graft\.pipeline\.Pipeline\$\.(\$anonfun\$)?run[$(]""".r
      .findFirstIn(caller(j)).nonEmpty)
    assert(inRun.isEmpty, inRun.mkString("\n--\n"))
    val all = ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir).persist()
    try {
      val (_, reportJobs) = jobsOf(Pipeline.errorReportFrom(spark, cfg, all))
      assert(reportJobs.nonEmpty && reportJobs.size <= 4, reportJobs.mkString("\n--\n"))
    } finally all.unpersist()
  }

  test("the rule functions are registered once per session") {
    val base = freshDir()
    val cfg = planetsSubmission(base, "budget-functions", s"$base/audit")
    Pipeline.fileTransformation(spark, cfg)
    Pipeline.dataContract(spark, cfg)
    val session = spark.newSession()
    val created = new java.util.concurrent.atomic.AtomicInteger()
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.nodeName.matches("(?i)create.*function.*")) created.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def creations(f: => Unit): Int = {
      created.set(0)
      f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      created.get
    }
    assert(creations(Pipeline.businessRules(session, cfg)) ==
      graft.functions.GraftFunctions.functionNames.size)
    assert(creations(Pipeline.businessRules(session, cfg)) == 0)
    // a new session has its own function catalog: it registers again
    val fresh = session.newSession()
    graft.functions.GraftFunctions.register(fresh)
    assert(fresh.sql("SELECT over_10(11)").head().getBoolean(0))
  }

  private def submit(name: String, csv: String) = {
    val base = freshDir()
    val cfg = planetsSubmission(base, name, s"$base/audit")
    java.nio.file.Files.writeString(java.nio.file.Path.of(cfg.dataFile), csv)
    val result = within(Pipeline.run(spark, cfg))
    (result, cfg, new AuditManager(spark, s"$base/audit"))
  }

  test("zero contract messages: validationFailed is false and the run finishes (per-entity layout)") {
    // Jupiter still fails a rule: only the contract is clean
    val (result, cfg, audit) = submit("clean-contract",
      "planet,gravity,n_moons\nMercury,0.38,0\nEarth,1.0,1\nJupiter,2.36,95\n")
    assert(!result.validationFailed)
    assert(ErrorSink.readFeedbackErrors(spark, cfg.workingDir, "data_contract").count() == 0)
    assert(result.recordCounts == Map("planets" -> 2L))
    assert(audit.statusOf("clean-contract").contains("finished"))
  }

  test("rules that emit no messages: the run finishes with the contract's flag (per-entity layout)") {
    val (result, cfg, audit) = submit("quiet-rules",
      "planet,gravity,n_moons\nMercury,0.38,0\nVenus,,0\nEarth,1.0,1\n")
    assert(result.validationFailed) // Venus: blank mandatory gravity
    assert(ErrorSink.readFeedbackErrors(spark, cfg.workingDir, "data_contract").count() == 1)
    assert(ErrorSink.readFeedbackErrors(spark, cfg.workingDir, "business_rules").count() == 0)
    assert(result.recordCounts == Map("planets" -> 2L))
    assert(audit.statusOf("quiet-rules").contains("finished"))
  }

  test("a header-only submission finishes with nothing to report (per-entity layout)") {
    val (result, cfg, audit) = submit("empty", "planet,gravity,n_moons\n")
    assert(!result.validationFailed)
    assert(result.recordCounts == Map("planets" -> 0L))
    assert(ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir).count() == 0)
    assert(audit.statusOf("empty").contains("finished"))
  }
}
