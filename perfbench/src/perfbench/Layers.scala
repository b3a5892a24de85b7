package perfbench

/** Per-layer metrics from the spans of traced submissions and the Spark
  * work the listener attributed to them. Each metric is computed per
  * submission and reported as the median over submissions.
  */
object Layers {
  val names: Seq[String] = Seq("readers", "contract", "rules", "report", "audit")

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def perSubmission(spans: Seq[Span], stats: Map[Long, SpanStats],
                    ops: Seq[Main.Op]): Map[String, Double] = {
    val bySub = spans.groupBy(_.submission)
    val perSub = ops.filter(_.error.isEmpty).flatMap(op => bySub.get(op.id).map { ss =>
      val children = ss.groupBy(_.parent)
      def st(s: Span) = stats.getOrElse(s.id, new SpanStats)
      def selfMs(s: Span) = s.durMs -
        covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      def driverMs(s: Span, jobs: Seq[(Long, Long)]) = s.durMs - covered(jobs, s.startMs, s.endMs)
      def work(prefix: String, group: Seq[Span]): Map[String, Double] = {
        val g = group.map(st)
        Map(
          s"$prefix.jobs" -> g.map(_.jobs).sum.toDouble,
          s"$prefix.task_s" -> g.map(_.taskRunMs).sum / 1e3,
          s"$prefix.task_wait_s" -> g.map(_.taskWaitMs).sum / 1e3,
          s"$prefix.shuffle_bytes" -> g.map(_.shuffleBytes).sum.toDouble,
          s"$prefix.spill_bytes" -> g.map(_.spillBytes).sum.toDouble)
      }
      val layers = names.flatMap { l =>
        val group = ss.filter(_.name == l)
        work(l, group) ++ Map(
          s"$l.self_s" -> group.map(selfMs).sum / 1e3,
          s"$l.driver_s" -> group.map(s => driverMs(s, st(s).jobIntervals.toSeq)).sum / 1e3)
      }.toMap
      val root = ss.find(_.name == "submission").get
      val readers = ss.filter(_.name == "readers").map(st)
      layers ++ work("spark", ss) ++ op.layers ++ Map(
        "spark.tasks" -> ss.map(st(_).tasks).sum.toDouble,
        "spark.shuffle_s" -> ss.map(st(_).shuffleMs).sum / 1e3,
        "spark.driver_s" -> driverMs(root, ss.flatMap(st(_).jobIntervals)) / 1e3,
        "readers.rows" -> readers.map(_.recordsWritten).sum.toDouble,
        "readers.read_tasks" -> readers.map(_.scanTasks).sum.toDouble,
        "audit.appends" -> ss.count(_.name == "audit").toDouble)
    })
    perSub.flatMap(_.keys).distinct.map(k => k -> median(perSub.flatMap(_.get(k)))).toMap
  }

  /** Traced minus untraced wall per submission, from the same run. */
  def overhead(ops: Seq[Main.Op]): Map[String, Double] = {
    val (t, u) = ops.filter(_.error.isEmpty).partition(_.traced)
    val tw = median(t.map(_.wallS))
    val uw = median(u.map(_.wallS))
    Map("trace.traced_s" -> tw, "trace.untraced_s" -> uw,
      "trace.overhead_s" -> (tw - uw), "trace.overhead_share" -> (tw - uw) / uw)
  }
}
