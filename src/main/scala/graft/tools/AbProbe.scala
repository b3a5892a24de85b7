package graft.tools

/** Same-JVM paired A/B of registered queries: one session, both sides
  * warmed once, then `rounds` rounds in which the side that runs first
  * alternates, with `clearCache` after every run, so both sides see the
  * same box noise. Each run times the query's construction plus `count()`.
  *
  * A side is one setting:
  *   - `sf=<dir>`: read that scale-factor dir (the other side reads
  *     `SPARK_GRAFT_SF_DIR`, unless it names its own);
  *   - `spark.<key>=<value>`: a session conf, set with `spark.conf`; the
  *     engine's dials are the `spark.graft.*` keys of [[graft.GraftConf]].
  * A value of `-` unsets the key. Before each run every key either side
  * names is put back to its starting value, then the side's one is applied.
  *
  * Prints each round's times and row counts, both medians and how many
  * rounds B won. Rows that differ between the sides of one sf dir are a
  * MISMATCH (exit status 1): one side changed the answer, so its times
  * compare nothing.
  *
  * Usage: runMain graft.tools.AbProbe <query>[,query...] <rounds> <A> <B>
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val Array(queryCsv, roundsArg, sideA, sideB) = args
    val names = queryCsv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val rounds = roundsArg.toInt
    def parse(side: String): (String, String) = side.split("=", 2) match {
      case Array(k, v) if k == "sf" || k.startsWith("spark.") => (k, v)
      case _ => sys.error(s"side '$side' is not sf=<dir> or spark.<key>=<v|->")
    }
    val sides = Seq(parse(sideA), parse(sideB))
    lazy val envSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR, or give both sides sf=<dir>"))
    val sfOf = sides.map { case (k, v) => if (k == "sf") v else envSf }
    val spark = graft.GraftSession.local()
    val keys = sides.map(_._1).filter(_ != "sf").distinct
    val start = keys.map(k => k -> spark.conf.getOption(k)).toMap
    def put(k: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    def run(name: String, side: Int): (Double, Long) = {
      start.foreach { case (k, v) => put(k, v) }
      val (k, v) = sides(side)
      if (k != "sf") put(k, Some(v).filter(_ != "-"))
      val t0 = System.nanoTime()
      try {
        val n = graft.SparkEntry.queries(name)(spark, sfOf(side)).count()
        ((System.nanoTime() - t0) / 1e9, n)
      } finally spark.catalog.clearCache()
    }
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    sfOf.distinct.foreach(graft.SparkEntry.prepareFixturesCounted(spark, _))
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    var mismatch = false
    for (name <- names) {
      run(name, 0); run(name, 1) // warm both plans: codegen and JIT off the clock
      val res = (0 until rounds).map { r =>
        val order = if (r % 2 == 0) Seq(0, 1) else Seq(1, 0)
        val byOrder = order.map(s => s -> run(name, s)).toMap
        val ((ta, na), (tb, nb)) = (byOrder(0), byOrder(1))
        println(f"[ab] $name r${r + 1} ${if (r % 2 == 0) "A" else "B"} first  " +
          f"A ${ta}%7.3f s rows=$na  B ${tb}%7.3f s rows=$nb")
        (ta, tb, na != nb)
      }
      val differ = res.exists(_._3)
      val bad = differ && sfOf(0) == sfOf(1)
      mismatch ||= bad
      val tag = if (bad) "  MISMATCH: row counts differ" else if (differ) "  (rows differ by sf dir)" else ""
      println(f"[ab] $name A=${sideA} median ${median(res.map(_._1))}%.3f s  " +
        f"B=${sideB} median ${median(res.map(_._2))}%.3f s  " +
        s"B faster in ${res.count(r => r._2 < r._1)}/$rounds$tag")
    }
    spark.stop()
    if (mismatch) sys.exit(1)
  }
}
