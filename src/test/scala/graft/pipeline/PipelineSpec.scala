package graft.pipeline

import graft.SparkSpec
import graft.audit.AuditManager
import graft.config.Dischema
import graft.refdata.RefDataLoader
import graft.report.ErrorSink

/** Golden end-to-end pipeline scenario, planets-style
  * (ref: tests/features/planets.feature:12-38 — contract rejection counts,
  * surviving rows, error codes, audit status transitions, statistics).
  */
class PipelineSpec extends PlanetsFixture {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pipe_").toString

  private def runPipeline(): (String, Pipeline.PipelineResult, String) = {
    val base = freshDir()
    val result = Pipeline.run(spark, planetsSubmission(base, "sub-planets", s"$base/audit"))
    (base, result, s"$base/work")
  }

  test("golden scenario: rejections, survivors, codes, audit, statistics") {
    val (base, result, work) = runPipeline()

    // contract: Venus blank mandatory + Mars gt-0 violation -> 2 rejections
    assert(result.validationFailed)
    val contractErrors = ErrorSink.readFeedbackErrors(spark, work, "data_contract")
    assert(contractErrors.count() == 2)
    assert(contractErrors.select("Key").collect().map(_.getString(0)).toSet ==
      Set("Venus", "Mars"))

    // business rules: Jupiter removed by HIGH_G filter; survivors =
    // 6 - 2 contract rejections - 1 filter rejection = 3
    assert(result.recordCounts == Map("planets" -> 3L))
    val out = spark.read.parquet(s"$work/business_rules/planets")
    assert(out.select("planet").collect().map(_.getString(0)).toSet ==
      Set("Mercury", "Earth", "Saturn"))
    // has_match flag computed against refdata loaded through the lazy loader
    assert(out.where("has_moon").select("planet").collect().map(_.getString(0)).toSeq ==
      Seq("Earth"))

    // messages: HIGH_G error for Jupiter, MANY_MOONS warning for Saturn
    val ruleErrors = ErrorSink.readFeedbackErrors(spark, work, "business_rules")
    val byCode = ruleErrors.groupBy("ErrorCode").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCode == Map("HIGH_G" -> 1L, "MANY_MOONS" -> 1L))

    // report tables exist with the aggregate shape
    val agg = spark.read.parquet(s"$work/error_reports/aggregate")
    assert(agg.columns.toSeq == Seq("Type", "Table", "Data_Item", "Category", "Error_Code", "Count"))

    // audit: final status finished/validation_failed; statistics row golden
    val audit = new AuditManager(spark, s"$base/audit")
    assert(audit.statusOf("sub-planets").contains("finished"))
    val stats = spark.read.parquet(s"$base/audit/submission_statistics").collect().head
    // record_count = SUBMITTED records (the Original pre-rules count, ref:
    // pipeline.py:639-643), not survivors — planets.feature counts all 9
    // submitted rows while only 1 survives the rules
    assert(stats.getAs[Long]("record_count") == 6L)
    assert(stats.getAs[Long]("number_record_rejections") == 3L) // 2 contract + 1 filter
    assert(stats.getAs[Long]("number_warnings") == 1L)
  }

  test("refdata loader is lazy and cached; unused sources never open") {
    val (base, _, _) = runPipeline()
    val loader = new RefDataLoader(spark,
      Map("sats" -> Dischema.RefDataSource("filename", "sats.parquet"),
        "missing" -> Dischema.RefDataSource("filename", "missing.parquet")), base)
    assert(loader.loadedCount == 0)
    assert(loader.load("sats").get.count() == 6)
    assert(loader.loadedCount == 1)
    loader.load("sats") // cached — no second entry
    assert(loader.loadedCount == 1)
    assert(loader.load("nope").isEmpty)
  }

  test("runAll processes submissions concurrently and isolates failures") {
    val base = freshDir()
    val good = s"$base/good.csv"
    java.nio.file.Files.writeString(java.nio.file.Path.of(good),
      "planet,gravity,n_moons\nEarth,1.0,1\n")
    satellites.write.mode("overwrite").parquet(s"$base/sats.parquet")
    def cfg(id: String, file: String) = Pipeline.SubmissionConfig(
      submissionId = id, dataFile = file, dischema = Dischema.parseString(doc),
      workingDir = s"$base/work_$id", refdataBaseDir = base)
    val results = Pipeline.runAll(spark, Seq(
      cfg("ok", good), cfg("boom", s"$base/does_not_exist.csv")), parallelism = 2)
    assert(results("ok").toOption.get.recordCounts == Map("planets" -> 1L))
    assert(results("boom").isLeft)
  }

  test("discovery pairs data+metadata, waits for partners, deadletters ambiguity") {
    val base = freshDir()
    val landing = s"$base/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(landing))
    def put(name: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Path.of(s"$landing/$name"), text)
    // complete pair
    put("subA.csv", "planet,gravity,n_moons\nEarth,1.0,1\n")
    put("subA.metadata.json", """{"dataset_id": "planets", "submitting_org": "X26"}""")
    // data file whose metadata has not landed yet
    put("subB.csv", "planet\nMars\n")
    // three files on one stem: csv + xml + metadata -> all deadlettered
    put("subC.csv", "planet\nVenus\n")
    put("subC.xml", "<planets/>")
    put("subC.metadata.json", """{"dataset_id": "planets"}""")
    // pair whose metadata is not a JSON mapping -> received-failed
    put("subD.csv", "planet\nPluto\n")
    put("subD.metadata.json", """["not", "a", "mapping"]""")

    var n = 0
    val res = Discovery.discover(spark, landing, s"$base/processed",
      newId = () => { n += 1; s"id-$n" })

    assert(res.pending == Seq("subB"))
    assert(res.deadlettered.map(_.split('/').last).toSet ==
      Set("subC.csv", "subC.xml", "subC.metadata.json"))
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(s"$base/deadletter/subC.xml")))
    assert(res.received.size == 1 && res.failed.size == 1)
    val ok = res.received.head
    assert(ok.info.datasetId.contains("planets") && ok.info.submittingOrg.contains("X26"))
    assert(ok.info.fileName == "subA" && ok.info.fileExtension == "csv")
    assert(ok.dataFile.endsWith(s"/${ok.info.submissionId}/subA.csv"))
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(
      ok.dataFile.stripPrefix("file:"))))
    assert(res.failed.head.fileName == "subD")
    // landing now holds only the unpaired file
    assert(new java.io.File(landing).listFiles().map(_.getName).toSeq == Seq("subB.csv"))
  }

  test("discovery run feeds paired submissions through the pipeline") {
    val base = freshDir()
    val landing = s"$base/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(landing))
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$landing/planets.csv"),
      "planet,gravity,n_moons\nEarth,1.0,1\nVenus,,0\n")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$landing/planets.metadata.json"),
      """{"dataset_id": "planets"}""")
    // unknown dataset -> failed with a processing error, not run
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$landing/other.csv"), "a\n1\n")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$landing/other.metadata.json"),
      """{"dataset_id": "nope"}""")
    satellites.write.mode("overwrite").parquet(s"$base/sats.parquet")

    var n = 0
    val (disc, results) = Discovery.run(spark, landing, s"$base/processed",
      dischemaFor = d => if (d == "planets") Some(Dischema.parseString(doc)) else None,
      refdataBaseDir = base, newId = () => { n += 1; s"id-$n" })

    assert(disc.received.size == 2 && disc.failed.size == 1)
    assert(results.size == 1)
    val (id, result) = results.head
    assert(result.toOption.get.recordCounts == Map("planets" -> 1L)) // Venus rejected
    assert(spark.read.parquet(s"$base/processed/$id/business_rules/planets").count() == 1)
  }

  test("concurrent audit appends from 7 threads lose no rows") {
    val base = freshDir()
    // one manager per thread, like runAll's per-submission managers all
    // pointed at the same audit directory
    val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fs = (0 until 7).map { t =>
      Future {
        val audit = new AuditManager(spark, s"$base/a")
        (0 until 4).foreach(i => audit.markStatus(s"sub-$t", s"status-$i"))
      }
    }
    Await.result(Future.sequence(fs), Duration.Inf)
    pool.shutdown()
    val all = spark.read.parquet(s"$base/a/processing_status")
    assert(all.count() == 28) // 7 threads x 4 appends, none lost
    val latest = new AuditManager(spark, s"$base/a").latestProcessingStatus().collect()
    assert(latest.length == 7)
    assert(latest.forall(_.getAs[String]("processing_status") == "status-3"))
  }

  test("commit-marker audit protocol: uncommitted data files stay invisible") {
    val base = freshDir()
    val audit = new graft.audit.AuditManager(spark, s"$base/a", objectStoreCommits = true)
    audit.markStatus("s1", "received")
    audit.markStatus("s1", "finished")
    audit.markStatus("s2", "received")
    val latest = audit.latestProcessingStatus().collect()
      .map(r => r.getAs[String]("submission_id") -> r.getAs[String]("processing_status")).toMap
    assert(latest == Map("s1" -> "finished", "s2" -> "received"))
    val table = s"$base/a/processing_status"
    val before = graft.audit.Auditing.readCommitted(spark, table).count()
    assert(before == 3)
    // Simulate a torn append on an object store: a data file lands at its
    // final name but the writer dies BEFORE the commit marker. Readers must
    // not see its rows.
    val partDir = new java.io.File(table).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date_updated=")).head
    val committedFile = partDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(partDir, "deadbeef00000000deadbeef00000000-" +
      committedFile.getName.dropWhile(_ != '-').drop(1))
    java.nio.file.Files.copy(committedFile.toPath, orphan.toPath)
    assert(graft.audit.Auditing.readCommitted(spark, table).count() == 3) // orphan invisible
    assert(new graft.audit.AuditManager(spark, s"$base/a", objectStoreCommits = true)
      .statusOf("s1").contains("finished"))
    // a plain recursive parquet read WOULD have double-counted
    assert(spark.read.parquet(table).count() == 4)
  }

  test("audit status transitions are ordered and latest wins") {
    val base = freshDir()
    val audit = new AuditManager(spark, s"$base/a")
    Seq("received", "file_transformation", "data_contract", "finished")
      .foreach(audit.markStatus("s1", _))
    audit.markStatus("s2", "received")
    val latest = audit.latestProcessingStatus().collect()
      .map(r => r.getAs[String]("submission_id") -> r.getAs[String]("processing_status")).toMap
    assert(latest == Map("s1" -> "finished", "s2" -> "received"))
  }

  test("downstreamPending: at-or-before stages pend, later stages do not, shards split") {
    // ref: test_audit_spark.py:220-305 — same stage pends, an EARLIER
    // stage pends for a downstream poll, a LATER stage does not
    val base = freshDir()
    val audit = new AuditManager(spark, s"$base/a")
    audit.markStatus("0a", "data_contract") // hex id -> shard 0 of 2
    assert(audit.downstreamPending("data_contract"))       // same stage
    assert(audit.downstreamPending("business_rules"))      // earlier stage pends
    assert(!audit.downstreamPending("file_transformation")) // later stage: no
    // sharding: 0a = 10 -> 10 % 2 = 0 — only run 0 of 2 sees the work
    assert(audit.downstreamPending("data_contract", maxConcurrency = 2, runNumber = 0))
    assert(!audit.downstreamPending("data_contract", maxConcurrency = 2, runNumber = 1))
    // a submission whose LATEST status moved past the poll no longer pends
    audit.markStatus("0a", "error_report")
    assert(!audit.downstreamPending("data_contract"))
    assert(audit.downstreamPending("error_report"))
    // explicit statuses_to_include override the stage-prefix reading
    assert(audit.downstreamPending("data_contract",
      statusesToInclude = Seq("error_report")))
  }

  test("submissionsAtStatus lists the latest-at-stage work items with their info") {
    // ref: test_audit_spark.py:307-371 — subs 1 and 3 sit at error_report,
    // sub 2 at data_contract; the work list is exactly {1, 3} with info
    val base = freshDir()
    val audit = new AuditManager(spark, s"$base/a")
    Seq("1" -> "TEST1", "2" -> "TEST2", "3" -> "TEST3").foreach { case (id, org) =>
      audit.addSubmissionInfo(id, s"DS$id", s"file$id", "xml", submittingOrg = Some(org))
    }
    audit.markStatus("1", "error_report")
    audit.markStatus("3", "error_report")
    audit.markStatus("2", "data_contract")
    val got = audit.submissionsAtStatus("error_report")
      .select("submission_id", "submitting_org").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("1" -> "TEST1", "3" -> "TEST3"))
    // a submission that moved on disappears from the work list
    audit.markStatus("1", "finished")
    assert(audit.submissionsAtStatus("error_report").count() == 1L)
  }

  /** Messages of the streaming-sink metadata probe that mention `marker`,
    * logged while `f` runs. The probe stats a single read path literally
    * and logs a WARN with a stack trace when that fails.
    */
  private def sinkWarnings(marker: String)(f: => Any): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val logger = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("graft-sink-warnings", null, null, true,
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

  test("a run's message reads log no metadata-directory WARN") {
    val base = freshDir()
    val cfg = planetsSubmission(base, "sub-quiet-read", s"$base/audit")
    val warnings = sinkWarnings(base)(Pipeline.run(spark, cfg))
    assert(warnings.isEmpty, warnings.mkString("\n"))
    def readGlob() = spark.read.schema(graft.rules.Messages.schema)
      .json(s"${cfg.workingDir}/errors/*_errors.jsonl")
    // the probe does warn on the glob string itself: the appender is live
    assert(sinkWarnings(base)(readGlob()).nonEmpty)
    // same rows as the glob read: 2 contract + 2 rule messages
    val all = ErrorSink.readAllFeedbackErrors(spark, cfg.workingDir)
    assert(all.count() == 4L)
    assert(sortedRows(all) == sortedRows(readGlob()))
  }
}

/** The planets submission the pipeline specs share: 6 rows, 2 contract
  * rejections (Venus blank mandatory gravity, Mars gravity not > 0), 1 rule
  * rejection (Jupiter, HIGH_G), 1 warning (Saturn, MANY_MOONS), 3 survivors.
  */
trait PlanetsFixture extends SparkSpec {

  /** has_match against refdata, plus an unused refdata source. */
  val doc: String =
    """{
      | "contract": {
      |  "datasets": {
      |   "planets": {
      |    "fields": {
      |     "planet": "str",
      |     "gravity": {"callable": "confloat", "constraints": {"gt": 0}},
      |     "n_moons": "int"
      |    },
      |    "key_field": "planet",
      |    "mandatory_fields": ["planet", "gravity"]
      |   }
      |  }
      | },
      | "transformations": {
      |  "reference_data": {"sats": {"type": "filename", "filename": "sats.parquet"},
      |                     "unused": {"type": "filename", "filename": "missing.parquet"}},
      |  "rules": [
      |   {"operation": "has_match", "entity": "planets", "target": "refdata_sats",
      |    "join_condition": "planets.planet = refdata_sats.planet AND refdata_sats.sat_name = 'Moon'",
      |    "column_name": "has_moon"}
      |  ],
      |  "filters": [
      |   {"entity": "planets", "name": "weak", "expression": "gravity < 2",
      |    "error_code": "HIGH_G", "failure_message": "gravity too strong"},
      |   {"entity": "planets", "name": "warn_cold", "expression": "n_moons < 100",
      |    "error_code": "MANY_MOONS", "failure_message": "many moons",
      |    "is_informational": true}
      |  ]
      | }
      |}""".stripMargin

  /** The planets fixture under `base`: data file, refdata and a submission
    * working in `base/work`.
    */
  def planetsSubmission(base: String, id: String, auditDir: String): Pipeline.SubmissionConfig = {
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(base))
    val dataFile = s"$base/planets.csv"
    // gravity: empty for Venus (mandatory -> contract rejection),
    // negative for Mars (gt 0 -> contract rejection)
    java.nio.file.Files.writeString(java.nio.file.Path.of(dataFile),
      """planet,gravity,n_moons
        |Mercury,0.38,0
        |Venus,,0
        |Earth,1.0,1
        |Mars,-0.38,2
        |Jupiter,2.36,95
        |Saturn,0.92,146
        |""".stripMargin)
    satellites.write.mode("overwrite").parquet(s"$base/sats.parquet")
    Pipeline.SubmissionConfig(
      submissionId = id,
      dataFile = dataFile,
      dischema = Dischema.parseString(doc),
      workingDir = s"$base/work",
      refdataBaseDir = base,
      auditDir = Some(auditDir))
  }
}
