package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a call into a layer, or a whole submission. Times are
  * epoch milliseconds, the clock Spark stamps its listener events with.
  */
final case class Span(id: Long, name: String, parent: Long, submission: String,
                      startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** In-memory span recorder. `span` tags every Spark job started inside it
  * (on this thread, or on a pool thread created inside it, which inherits
  * Spark's local properties) with the span id, through a local property of
  * the benchmark's own: the job description is not used, because engine
  * code overwrites it.
  */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def span[T](name: String, submission: String = null)(body: => T): T = {
    val outer = open.get
    val id = ids.incrementAndGet()
    val sub = Option(submission).orElse(outer.headOption.map(_._2)).orNull
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    open.set((id, sub) :: outer)
    val start = System.currentTimeMillis()
    try body
    finally {
      spans.add(Span(id, name, outer.headOption.fold(0L)(_._1), sub, start,
        System.currentTimeMillis()))
      open.set(outer)
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** What the listener saw for one span's jobs. */
final class SpanStats {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var shuffleBytes = 0L
  var shuffleMs = 0.0
  var spillBytes = 0L
  var recordsWritten = 0L
  var scanTasks = 0L
}

/** Attributes Spark jobs, stages and tasks to the span open when the job
  * started. Stage waits are first task launch minus stage submission.
  * Listener callbacks run on one bus thread; readers call `stats` after
  * draining the bus.
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Long, SpanStats]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)] // job -> (span, start)
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  private val stageLaunched = mutable.HashSet.empty[(Int, Int)]

  private def statsOf(span: Long) = bySpan.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toLong
      jobSpan(e.jobId) = (span, e.time)
      statsOf(span).jobs += 1
      e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      statsOf(span).jobIntervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { span =>
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      if (si.rddInfos.exists(_.name.startsWith("FileScanRDD")) ||
        si.rddInfos.exists(r => r.scope.exists(_.name.toLowerCase.startsWith("scan"))))
        statsOf(span).scanTasks += si.numTasks
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    if (stageSpan.contains(e.stageId) && stageLaunched.add(key))
      stageSubmitted.get(key).foreach { submitted =>
        statsOf(stageSpan(e.stageId)).taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val st = statsOf(span)
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.taskRunMs += m.executorRunTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleMs += m.shuffleWriteMetrics.writeTime / 1e6 + m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  def stats: Map[Long, SpanStats] = synchronized(bySpan.toMap)
}

/** Counts whole-stage-codegen fallbacks and codegen compile failures, which
  * Spark reports only as log lines on these two loggers.
  */
object CodegenFallbacks {
  val count = new AtomicInteger()
  private val loggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = count.incrementAndGet()
    }
    appender.start()
    config.addAppender(appender)
    loggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.WARN, true)
      lc.addAppender(appender, Level.WARN, null)
      config.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}
