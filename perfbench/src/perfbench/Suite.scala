package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkEntry

/** The operator suite: every query of `SparkEntry.queries`, once each in
  * name order, timed as `fn(spark, sf) + count()` with the cache cleared
  * after each, over fixed tables.
  *
  *   Suite oracle <out file>
  *   Suite run <sf dir> <trace 0|1> <work dir> <out file>
  *
  * `oracle` writes `SparkEntry.oracleSql` and `oracleCompare` as JSON.
  * `run` writes one record per query; traced, every query runs untraced and
  * traced, so the records carry both walls, and the traced run's jobs,
  * tasks and driver time (plus the plan's shuffle exchanges for the watched
  * queries).
  */
object Suite {
  val watched: Set[String] = Set("q_pipeline_e2e", "q_pipeline_discovery",
    "q_multimodal_frame_dedup", "q_multimodal_frames", "q_graph_pagerank", "q_dedup_ngram",
    "q_dedup_cross", "q_dedup_containment", "q_dedup_components", "q_dedup_simhash_pairs",
    "q_dedup_minhash", "q_stream_cross_dedup", "q_stream_join")

  private object Plans extends AdaptiveSparkPlanHelper

  private def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", " ").replace("\t", " ") + "\""

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle" =>
      def obj(m: Map[String, String]) =
        m.toSeq.sorted.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",\n", "}")
      Files.writeString(Paths.get(args(1)),
        s"""{"sql":${obj(SparkEntry.oracleSql)},"compare":${obj(SparkEntry.oracleCompare)}}""")
    case "run" => run(args(1), args(2) == "1", args(3), args(4))
  }

  private def run(sf: String, traced: Boolean, work: String, out: String): Unit = {
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    val sessionMs = System.currentTimeMillis()
    try SparkEntry.queries("q_group_by")(spark, sf).count() finally spark.catalog.clearCache()
    val (_, fixturesFailed) = SparkEntry.prepareFixturesCounted(spark, sf)
    require(fixturesFailed == 0, s"$fixturesFailed fixture builds failed")
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val listener = tracer.map { _ =>
      CodegenFallbacks.install()
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      l
    }
    val readyMs = System.currentTimeMillis()

    final case class Rec(name: String, wallS: Double, count: Long, error: Option[String],
                         exchanges: Int)
    def once(name: String, t: Option[Tracer]): Rec = {
      val t0 = System.nanoTime()
      try {
        var exchanges = -1
        val n = t.fold(SparkEntry.queries(name)(spark, sf).count()) { tr =>
          tr.span("query", name) {
            val df = SparkEntry.queries(name)(spark, sf)
            val n = df.count()
            if (watched(name))
              exchanges = Plans.collect(df.queryExecution.executedPlan) {
                case e: ShuffleExchangeLike => e
              }.size
            n
          }
        }
        Rec(name, (System.nanoTime() - t0) / 1e9, n, None, exchanges)
      } catch {
        case e: Throwable =>
          Rec(name, (System.nanoTime() - t0) / 1e9, -1, Some(s"${e.getClass.getName}: ${e.getMessage}"), -1)
      } finally spark.catalog.clearCache()
    }

    // the first execution of a query pays its codegen and JIT warm-up, so
    // traced and untraced take turns going first
    val recs = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (name, i) =>
      if (tracer.isDefined && i % 2 == 1) {
        val tr = once(name, tracer)
        (once(name, None), Some(tr))
      } else (once(name, None), tracer.map(t => once(name, Some(t))))
    }
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    val spans = tracer.fold(Seq.empty[Span])(_.all).map(s => s.submission -> s).toMap
    val stats = listener.fold(Map.empty[Long, SpanStats])(_.stats)
    val lines = recs.zipWithIndex.map { case ((p, tr), i) =>
      val traceJson = tr.fold("") { r =>
        val span = spans(r.name)
        val st = stats.getOrElse(span.id, new SpanStats)
        val driver = span.durMs - Layers.covered(st.jobIntervals.toSeq, span.startMs, span.endMs)
        s""","traced_first":${i % 2 == 1},"traced_s":${r.wallS},""" +
          s""""traced_error":${r.error.map(json).getOrElse("null")},""" +
          s""""jobs":${st.jobs},"tasks":${st.tasks},"task_s":${st.taskRunMs / 1e3},""" +
          s""""task_wait_s":${st.taskWaitMs / 1e3},"driver_s":${driver / 1e3},""" +
          s""""shuffle_bytes":${st.shuffleBytes},"shuffle_s":${st.shuffleMs / 1e3},""" +
          s""""spill_bytes":${st.spillBytes},""" +
          s""""exchanges":${r.exchanges}"""
      }
      s"""{"name":${json(p.name)},"s":${p.wallS},"count":${p.count},""" +
        s""""error":${p.error.map(json).getOrElse("null")}$traceJson}"""
    }
    Files.writeString(Paths.get(out),
      s"""{"session_ms":$sessionMs,"ready_ms":$readyMs,""" +
        s""""codegen_fallbacks":${CodegenFallbacks.count.get},""" +
        lines.mkString("\"queries\":[\n", ",\n", "\n]}\n"))
    spark.stop()
  }
}
