package graft.pipeline

import graft.audit.AuditManager
import graft.config.Dischema
import graft.report.ErrorSink
import org.apache.spark.sql.functions._

/** Concurrent multi-submission stress: the reference runs 7 submissions in
  * parallel threads over one session (ref: pipeline/pipeline.py:950-957
  * ThreadPoolExecutor); this lane drives SIX copies of the planets golden
  * submission through `Pipeline.runAll` against ONE SparkSession and ONE
  * shared audit dir — audit-table append contention included — and asserts
  * every submission individually reproduces the feature file's golden
  * numbers with zero cross-contamination of working dirs or audit rows.
  * The reference corpus is optional; the second lane runs the same checks
  * over the in-repo planets fixture ([[PlanetsFixture]]).
  */
class ConcurrentPipelineSpec extends PlanetsFixture {

  private val testdata = "/root/reference/tests/testdata"

  private val goldenCodes = Map("WEAK_ESCAPE" -> 3L, "LONG_ORBIT" -> 5L,
    "HIGH_DENSITY" -> 1L, "STRONG_GRAVITY" -> 8L)

  test("6 golden submissions in parallel: per-submission stats intact, no cross-contamination") {
    assume(new java.io.File(s"$testdata/planets").isDirectory)
    val base = java.nio.file.Files.createTempDirectory("graft_conc_").toString
    val auditDir = s"$base/audit" // SHARED: every submission appends here
    val dischema = Dischema.parseFile(s"$testdata/planets/planets.dischema.json")
    val ids = (1 to 6).map(i => f"planets-c$i%02d")
    val cfgs = ids.map { id =>
      Pipeline.SubmissionConfig(
        submissionId = id,
        dataFile = s"$testdata/planets/planets_demo.csv",
        dischema = dischema,
        workingDir = s"$base/work/$id",
        refdataBaseDir = s"$testdata/planets",
        auditDir = Some(auditDir))
    }

    val results = Pipeline.runAll(spark, cfgs, parallelism = 6)

    // every submission succeeded with the golden survivor count
    assert(results.size == 6)
    ids.foreach { id =>
      results(id) match {
        case Right(r) => assert(r.recordCounts == Map("planets" -> 1L), s"$id: ${r.recordCounts}")
        case Left(e)  => fail(s"$id failed: $e")
      }
    }

    // per-submission working dirs: each holds its OWN golden outputs
    ids.foreach { id =>
      val names = spark.read.parquet(s"$base/work/$id/business_rules/planets")
        .select("planet").collect().map(_.getString(0)).toSeq
      assert(names == Seq("Neptune"), s"$id: $names")
      val byCode = ErrorSink.readFeedbackErrors(spark, s"$base/work/$id", "business_rules")
        .groupBy("ErrorCode").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byCode == goldenCodes, s"$id: $byCode")
      val contract = ErrorSink.readFeedbackErrors(spark, s"$base/work/$id", "data_contract").collect()
      assert(contract.length == 1 && contract.head.getAs[Long]("RecordIndex") == 9L, id)
    }

    // shared audit tables under 6-way append contention: exactly one
    // statistics row per submission, each with the golden numbers
    val stats = spark.read.parquet(s"$auditDir/submission_statistics")
    assert(stats.count() == 6L)
    val byId = stats.collect().map(r => r.getAs[String]("submission_id") -> r).toMap
    assert(byId.keySet == ids.toSet)
    ids.foreach { id =>
      val r = byId(id)
      assert(r.getAs[Long]("record_count") == 9L, id)
      assert(r.getAs[Long]("number_record_rejections") == 18L, id)
      assert(r.getAs[Long]("number_submission_rejections") == 0L, id)
      assert(r.getAs[Long]("number_warnings") == 0L, id)
    }

    // status history: every submission walked the full ordered stage chain
    // exactly once and finished — no lost appends, no doubled transitions
    val audit = new AuditManager(spark, auditDir)
    ids.foreach(id => assert(audit.statusOf(id).contains("finished"), id))
    val transitions = spark.read.parquet(s"$auditDir/processing_status")
      .groupBy("submission_id").agg(
        count(lit(1)).as("n"),
        countDistinct(col("processing_status")).as("distinct_stages"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(transitions.keySet == ids.toSet)
    ids.foreach { id =>
      assert(transitions(id) == ((6L, 6L)),
        s"$id walked ${transitions(id)} — expected 6 distinct transitions exactly once")
    }
  }

  test("6 in-repo planets submissions in parallel over one audit dir: each intact, no cross-talk") {
    val base = java.nio.file.Files.createTempDirectory("graft_conc_fixture_").toString
    val auditDir = s"$base/audit" // SHARED: every submission appends here
    val ids = (1 to 6).map(i => f"planets-f$i%02d")
    // each submission gets its own copy of the fixture (data file, refdata,
    // working dir) under base/<id>
    val cfgs = ids.map(id => planetsSubmission(s"$base/$id", id, auditDir))

    val results = Pipeline.runAll(spark, cfgs, parallelism = 6)

    assert(results.keySet == ids.toSet)
    ids.foreach { id =>
      results(id) match {
        case Right(r) =>
          assert(r.validationFailed, id)
          assert(r.recordCounts == Map("planets" -> 3L), s"$id: ${r.recordCounts}")
        case Left(e) => fail(s"$id failed: $e")
      }
      val work = s"$base/$id/work"
      val survivors = spark.read.parquet(s"$work/business_rules/planets")
        .select("planet").collect().map(_.getString(0)).toSet
      assert(survivors == Set("Mercury", "Earth", "Saturn"), s"$id: $survivors")
      val ruleCodes = ErrorSink.readFeedbackErrors(spark, work, "business_rules")
        .groupBy("ErrorCode").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(ruleCodes == Map("HIGH_G" -> 1L, "MANY_MOONS" -> 1L), s"$id: $ruleCodes")
      val contractKeys = ErrorSink.readFeedbackErrors(spark, work, "data_contract")
        .select("Key").collect().map(_.getString(0)).toSeq.sorted
      assert(contractKeys == Seq("Mars", "Venus"), s"$id: $contractKeys")
    }

    // shared audit tables: one statistics row and one info row per
    // submission, each carrying that submission's own numbers and file
    val stats = spark.read.parquet(s"$auditDir/submission_statistics").collect()
      .map(r => r.getAs[String]("submission_id") -> r).toSeq
    assert(stats.map(_._1).sorted == ids)
    stats.foreach { case (id, r) =>
      assert(r.getAs[Long]("record_count") == 6L, id)
      assert(r.getAs[Long]("number_record_rejections") == 3L, id)
      assert(r.getAs[Long]("number_submission_rejections") == 0L, id)
      assert(r.getAs[Long]("number_warnings") == 1L, id)
    }
    val files = spark.read.parquet(s"$auditDir/submission_info").collect()
      .map(r => r.getAs[String]("submission_id") -> r.getAs[String]("file_name")).toSeq
    assert(files.sortBy(_._1) == ids.map(id => id -> s"$base/$id/planets.csv"))

    // status history: the full stage chain exactly once, then finished
    val audit = new AuditManager(spark, auditDir)
    val latest = audit.latestProcessingStatus().collect()
      .map(r => r.getAs[String]("submission_id") ->
        (r.getAs[String]("processing_status"), r.getAs[String]("submission_result"))).toMap
    assert(latest == ids.map(_ -> (("finished", "validation_failed"))).toMap)
    val chains = spark.read.parquet(s"$auditDir/processing_status")
      .groupBy("submission_id").agg(sort_array(collect_list("processing_status")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val chain = Seq("received", "file_transformation", "data_contract", "business_rules",
      "error_report", "finished").sorted
    assert(chains == ids.map(_ -> chain).toMap)
  }
}
