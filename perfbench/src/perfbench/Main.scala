package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.audit.{AuditManager, Auditing}
import graft.config.Dischema
import graft.pipeline.Pipeline
import graft.report.ErrorSink

/** Pipeline-workload harness: one JVM, one local session with the engine
  * confs `graft.Bench` sets, submissions timed around `Pipeline.run`.
  *
  *   Main <workload> <seed> <inputs dir> <work dir> <seconds> <trace 0|1> <dischema dir> <result file>
  *
  * The inputs dir holds the generated submissions and their `expected.json`
  * (perfbench/gen.py). Every submission is checked against it; the result
  * file lists each submission's wall time and outcome, and, when traced,
  * the per-layer metrics.
  */
object Main {

  final case class Expected(rows: Long, contractRejectedRows: Long, recordRejections: Long,
                            survivors: Long, bytes: Long)

  final case class Workload(entity: String, dischema: Dischema.Parsed,
                            submissions: Seq[String], clients: Int)

  final class Op(val id: String, val file: String, val client: Int, val traced: Boolean) {
    var startMs = 0L
    var endMs = 0L
    var wallS = 0.0
    var error: Option[String] = None
    var layers: Map[String, Double] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seed, inputs, work, seconds, trace, dischemaDir, resultFile) = args
    val traced = trace == "1"
    // which of each client's traced/untraced pairs goes first flips with
    // the seed, so that over runs the A/B is not biased by warm-up order
    val tracedFirst = seed.toLong % 2 != 0
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val sessionMs = System.currentTimeMillis()
    val expected = readExpected(s"$inputs/expected.json")
    val workload = workloadName match {
      case "bulk_submission" => Workload("lineitem",
        Dischema.parseString(readFile(s"$dischemaDir/lineitem.dischema.json"),
          name => readFile(s"$dischemaDir/$name")),
        Seq("lineitem.csv"), clients = 1)
      case "concurrent_submissions" => Workload("customer",
        Dischema.parseString(graft.PerfbenchAccess.customerDischemaJson,
          _ => graft.PerfbenchAccess.customerRuleStoreJson),
        expected.keys.filter(_.startsWith("sub_")).toSeq.sorted,
        clients = math.min(4, cpus))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val bench = new Bench(spark, workload, inputs, work, expected)

    bench.warmUp()
    val warmMs = System.currentTimeMillis()

    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val listener = tracer.map { _ =>
      CodegenFallbacks.install()
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      l
    }
    val readyMs = System.currentTimeMillis()
    val gc0 = gcMillis()
    val ops = bench.measure(seconds.toDouble, tracer, tracedFirst)
    val gcS = (gcMillis() - gc0) / 1e3

    val layers = (tracer, listener) match {
      case (Some(t), Some(l)) =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        writeTrace(t.all, l.stats, s"$work/trace.json")
        Layers.perSubmission(t.all, l.stats, ops.filter(_.traced)) ++ Layers.overhead(ops) ++ Map(
          "audit.files" -> bench.auditFilesPerSubmission,
          "codegen.fallbacks" -> CodegenFallbacks.count.get.toDouble,
          "jvm.gc_s" -> gcS / math.max(1, ops.size),
          "jvm.peak_rss_mb" -> peakRssMb)
      case _ => Map.empty[String, Double]
    }
    writeResult(resultFile, sessionMs, warmMs, readyMs, ops, layers)
    spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16777216")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def readFile(path: String): String = Files.readString(Paths.get(path))

  private def readExpected(path: String): Map[String, Expected] = {
    val files = new ObjectMapper().readTree(new File(path)).get("files")
    files.fieldNames().asScala.map { name =>
      val n: JsonNode = files.get(name)
      name -> Expected(n.get("rows").asLong, n.get("contract_rejected_rows").asLong,
        n.get("record_rejections").asLong, n.get("survivors").asLong, n.get("bytes").asLong)
    }.toMap
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Every span with the Spark work attributed to it, as one JSON array. */
  private def writeTrace(spans: Seq[Span], stats: Map[Long, SpanStats], path: String): Unit = {
    val lines = spans.map { s =>
      val st = stats.getOrElse(s.id, new SpanStats)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"submission":"${s.submission}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"jobs":${st.jobs},"tasks":${st.tasks},""" +
        s""""task_ms":${st.taskRunMs},"task_wait_ms":${st.taskWaitMs},""" +
        s""""shuffle_bytes":${st.shuffleBytes},"shuffle_ms":${st.shuffleMs},""" +
        s""""spill_bytes":${st.spillBytes},""" +
        s""""records_written":${st.recordsWritten}}"""
    }
    Files.writeString(Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n"))
  }

  private def writeResult(path: String, sessionMs: Long, warmMs: Long, readyMs: Long,
                          ops: Seq[Op], layers: Map[String, Double]): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", " ") + "\""
    val opsJson = ops.map(o =>
      s"""{"id":${str(o.id)},"file":${str(o.file)},"client":${o.client},"traced":${o.traced},""" +
        s""""start_ms":${o.startMs},"end_ms":${o.endMs},"wall_s":${num(o.wallS)},""" +
        s""""error":${o.error.map(str).getOrElse("null")}}""")
    val layerJson = layers.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
    Files.writeString(Paths.get(path),
      s"""{"session_ms":$sessionMs,"warm_ms":$warmMs,"ready_ms":$readyMs,""" +
        opsJson.mkString("\"ops\":[\n", ",\n", "\n],") +
        layerJson.mkString("\"layers\":{", ",", "}}") + "\n")
  }

  /** Runs and checks submissions of one workload. */
  final class Bench(spark: SparkSession, w: Workload, inputs: String, work: String,
                    expected: Map[String, Expected]) {
    private val auditDir = s"$work/audit"
    private val seq = new AtomicInteger()

    private def config(op: Op) = Pipeline.SubmissionConfig(
      submissionId = op.id,
      dataFile = s"$inputs/${op.file}",
      dischema = w.dischema,
      workingDir = s"$work/ops/${op.id}",
      refdataBaseDir = inputs,
      auditDir = Some(auditDir))

    /** One untimed, checked submission of `warmup.csv` per client, all at
      * once, so that class loading, JIT and codegen caches are warm for the
      * timed loop's concurrency before timing starts.
      */
    def warmUp(): Unit = {
      val ops = (0 until w.clients).map(c => new Op(s"warmup-$c", "warmup.csv", c, traced = false))
      val threads = ops.map(op => new Thread(() => submit(op, None)))
      threads.foreach(_.start())
      threads.foreach(_.join())
      verify(ops)
      ops.flatMap(_.error).headOption.foreach(e =>
        throw new IllegalStateException(s"warm-up submission failed: $e"))
    }

    def submit(op: Op, tracer: Option[Tracer]): Unit = {
      val cfg = config(op)
      op.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try tracer match {
        case Some(t) => TracedPipeline.run(spark, cfg, t)
        case None => Pipeline.run(spark, cfg)
      } catch {
        case e: Throwable => op.error = Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      }
      op.wallS = (System.nanoTime() - t0) / 1e9
      op.endMs = System.currentTimeMillis()
    }

    /** Closed loop: each client submits back to back until the deadline,
      * and at least once. With a tracer, every second submission of a
      * client is traced, so traced and untraced calls alternate in the same
      * JVM, and each client makes at least one of each.
      */
    def measure(seconds: Double, tracer: Option[Tracer], tracedFirst: Boolean): Seq[Op] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val minPerClient = if (tracer.isDefined) 2 else 1
      val done = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
      val clients = (0 until w.clients).map { c =>
        new Thread(() => {
          var k = 0
          while (k < minPerClient || System.nanoTime() < deadline) {
            val file = w.submissions((c + k * w.clients) % w.submissions.size)
            val op = new Op(f"${w.entity}-${seq.getAndIncrement()}%04d", file, c,
              traced = tracer.isDefined && (k % 2 == 1) != tracedFirst)
            submit(op, if (op.traced) tracer else None)
            if (w.clients == 1) verify(Seq(op))
            done.add(op)
            k += 1
          }
        }, s"perfbench-client-$c")
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      val ops = done.asScala.toSeq.sortBy(_.id)
      if (w.clients > 1) verify(ops)
      ops
    }

    private def parquetRows(dir: String): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = FileSystem.getLocal(conf)
      fs.listStatus(new Path(dir)).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }

    /** Compare each submission with its expected outcome: final audit status
      * `finished`, the audit statistics row, and the row count of
      * `business_rules/<entity>`. Traced submissions also record the counts
      * their layer metrics need. A mismatch marks the submission failed.
      */
    def verify(ops: Seq[Op]): Unit = {
      val audit = new AuditManager(spark, auditDir)
      val ids = ops.map(_.id)
      val status = audit.latestProcessingStatus().where(col("submission_id").isin(ids: _*))
        .select("submission_id", "processing_status").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val stats = Auditing.latestRecords(spark.read.parquet(audit.path("submission_statistics")),
        Seq(col("submission_id")), Seq(col("updated_at"), col("audit_seq")))
        .where(col("submission_id").isin(ids: _*)).collect()
        .map(r => r.getAs[String]("submission_id") -> r).toMap
      ops.foreach { op =>
        val exp = expected(op.file)
        val wd = s"$work/ops/${op.id}"
        def check(what: String, got: Any, want: Any): Unit =
          if (op.error.isEmpty && got != want) op.error = Some(s"$what: got $got, expected $want")
        check("status", status.get(op.id), Some("finished"))
        stats.get(op.id) match {
          case Some(r: Row) =>
            check("record_count", r.getAs[Long]("record_count"), exp.rows)
            check("submission_rejections", r.getAs[Long]("number_submission_rejections"), 0L)
            check("record_rejections", r.getAs[Long]("number_record_rejections"), exp.recordRejections)
            check("warnings", r.getAs[Long]("number_warnings"), 0L)
          case None => check("statistics row", None, "present")
        }
        lazy val survivors = parquetRows(s"$wd/business_rules/${w.entity}")
        if (op.error.isEmpty) check(s"business_rules/${w.entity} rows", survivors, exp.survivors)
        if (op.traced && op.error.isEmpty) {
          val rejected = ErrorSink.readFeedbackErrors(spark, wd, "data_contract")
            .where(col("FailureType") === "record" && col("Status") =!= "informational")
            .select("RecordIndex").distinct().count()
          check("contract rejected rows", rejected, exp.contractRejectedRows)
          val written = FileUtils.sizeOfDirectory(new File(wd)).toDouble
          op.layers = Map(
            "contract.rejected_rows" -> rejected.toDouble,
            "rules.rows_out" -> survivors.toDouble,
            "report.messages" -> parquetRows(s"$wd/error_reports/detail").toDouble,
            "pipeline.write_amp" -> written / exp.bytes)
        }
        FileUtils.deleteQuietly(new File(wd))
      }
    }

    /** Files under the shared audit dir per submission made so far (the
      * warm-up included).
      */
    def auditFilesPerSubmission: Double =
      FileUtils.listFiles(new File(auditDir), null, true).size.toDouble / (seq.get + w.clients)
  }
}
