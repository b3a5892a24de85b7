package graft.text

import graft.{GraftConf, GraftDecision, SparkSpec}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  import DedupSpec._
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy cat tonight"), // near-dup of 1
    (3L, "an entirely different sentence about spark and scala engines"),
    (4L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("shingles produces distinct word n-grams; short docs fall back to whole text") {
    val sh = corpus.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val row1 = sh.where("doc_id = 1").select("sh").as[Seq[String]].head()
    assert(row1.contains("the quick brown") && row1.contains("lazy dog tonight"))
    assert(row1.size == 8)
    val row5 = sh.where("doc_id = 5").select("sh").as[Seq[String]].head()
    assert(row5 == Seq("short text"))
  }

  test("exactDedup groups identical texts") {
    val out = Dedup.exactDedup(corpus, "doc_id", "text")
    assert(out.count() == 4)
    assert(out.where("dup_count = 2").select("keep_id").as[Long].head() == 1L)
  }

  test("prefixFilterJoin finds exactly the pairs above the threshold (vs brute force)") {
    val out = Dedup.prefixFilterJoin(corpus, "doc_id", "text", 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("containmentPairs is asymmetric and matches brute force") {
    spark.catalog.clearCache() // earlier plain-variant tests leave caches
    // B embeds all of A plus as much again: C(A->B) = 1, C(B->A) ~ 0.5
    val words = (1 to 12).map(i => s"w$i")
    val a = words.take(6).mkString(" ")
    val b = words.mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val out = Dedup.containmentPairsWith(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.8) {
      _.select("a", "b", "containment").as[(Long, Long, Double)].collect().toSet
    }
    assert(out.map(t => (t._1, t._2)) == Set((1L, 2L)), out)   // A in B only
    assert(out.head._3 == 1.0)                                  // fully contained
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // brute-force reference over the same shingle sets (ordered pairs)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val brute = (for {
      (x, sx) <- sh; (y, sy) <- sh if x != y
      c = sx.toSet.intersect(sy.toSet).size.toDouble / sx.size
      if c >= 0.8
    } yield (x, y)).toSet
    assert(out.map(t => (t._1, t._2)) == brute)
  }

  test("bracket forms release the shingle cache once use returns") {
    spark.catalog.clearCache()
    val pairs = Dedup.minHashDedupWith(corpus, "doc_id", "text")(
      _.select("a", "b").as[(Long, Long)].collect().toSet)
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val exact = Dedup.prefixFilterJoinWith(corpus, "doc_id", "text")(
      _.select("a", "b").as[(Long, Long)].collect().toSet)
    assert(exact == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("minHashCrossDedup pairs only across the corpus boundary") {
    spark.catalog.clearCache()
    // corpus near-dup pairs at 0.5: (1,2),(1,4),(2,4). ref = odd ids {1,3,5},
    // fresh = even ids {2,4}: both fresh docs match ref doc 1; the
    // within-fresh pair (2,4) and ref-internal pairs must NOT appear.
    val out = Dedup.minHashCrossDedupWith(
      corpus.where(col("doc_id") % 2 === 0),
      corpus.where(col("doc_id") % 2 === 1), "doc_id", "text")(
      _.select("a", "b").as[(Long, Long)].collect().toSet)
    assert(out == Set((2L, 1L), (4L, 1L)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("prefixFilterCrossJoin matches brute-force cross jaccard exactly") {
    spark.catalog.clearCache()
    // near-dup cluster {1,2,4} split across the boundary as in the
    // minHashCrossDedup test — but verified against brute force, including
    // jaccard values and a just-AT-threshold pair (the class of pair LSH
    // banding can miss, which is the whole point of the exact form)
    val fresh = corpus.where(col("doc_id") % 2 === 0)
    val ref = corpus.where(col("doc_id") % 2 === 1)
    val out = Dedup.prefixFilterCrossJoinWith(fresh, ref, "doc_id", "text")(
      _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet)
    val sh = corpus.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val brute = (for {
      a <- Seq(2L, 4L); b <- Seq(1L, 3L, 5L)
      i = sh(a).toSet.intersect(sh(b).toSet).size.toDouble
      j = i / (sh(a).size + sh(b).size - i)
      if j >= 0.5
    } yield (a, b, j)).toSet
    assert(out == brute && out.map(t => (t._1, t._2)) == Set((2L, 1L), (4L, 1L)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)

    // exactly-at-threshold: sets {A B C D} vs {A B C D E F G H} have
    // j = 4/8 = 0.5 — must be found (completeness at the boundary);
    // overlapping id namespaces across sides must resolve per side
    val newSide = Seq((7L, "a b c d e f")).toDF("doc_id", "text") // 4 3-shingles
    val refSide = Seq(
      (7L, "a b c d e f g h i j"),  // 8 shingles sharing all 4 -> j = 0.5
      (8L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val border = Dedup.prefixFilterCrossJoinWith(newSide, refSide, "doc_id", "text")(
      _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet)
    assert(border == Set((7L, 7L, 0.5)))
  }

  test("PrefixCrossIndex batched joins equal a brute-force cross join") {
    spark.catalog.clearCache()
    // streaming shape: the reference is indexed ONCE (frozen ref-frequency
    // token order), then probed by micro-batch slices; the union over
    // batches must equal brute force REGARDLESS of batch boundaries —
    // including the just-at-threshold pair
    val fresh = corpus.where(col("doc_id") % 2 === 0)
    val ref = corpus.where(col("doc_id") % 2 === 1)
    val index = Dedup.buildPrefixCrossIndex(ref, "doc_id", "text")
    try {
      val batched = Seq(
          fresh.where(col("doc_id") <= 2), fresh.where(col("doc_id") > 2))
        .flatMap(b => index.joinBatchWith(b)(
          _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect()))
        .toSet
      assert(batched == bruteCrossJaccard(fresh, ref, 0.5) && batched.nonEmpty)
      // boundary pair at exactly the threshold, batch token unseen in ref:
      // {a b c d e f} vs ref {a b c d e f g h i j} -> j = 4/8 = 0.5
      val refSide = Seq((7L, "a b c d e f g h i j"),
        (8L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
      val idx2 = Dedup.buildPrefixCrossIndex(refSide, "doc_id", "text")
      try {
        val border = idx2.joinBatchWith(
            Seq((7L, "a b c d e f")).toDF("doc_id", "text"))(
          _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet)
        assert(border == Set((7L, 7L, 0.5)))
      } finally idx2.release()
    } finally index.release()
    index.release() // idempotent
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("prefixFilterJoin tier-1 self kernel is bit-equal to the expression pipeline") {
    spark.catalog.clearCache()
    // the default gate puts any test-sized corpus on the broadcast kernel;
    // force the distributed tiers and pin both outputs equal — including
    // the jaccard doubles (Set equality on Double is bitwise for non-NaN)
    def runSelf(): Set[(Long, Long, Double)] =
      Dedup.prefixFilterJoinWith(corpus, "doc_id", "text", 3, 0.5)(
        _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet)
    def runCross(): Set[(Long, Long, Double)] =
      Dedup.prefixFilterCrossJoinWith(
        corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
        "doc_id", "text")(
        _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet)
    def runContain(): Set[(Long, Long, Double)] =
      Dedup.containmentPairsWith(corpus, "doc_id", "text", 3, 0.5)(
        _.select("a", "b", "containment").as[(Long, Long, Double)].collect().toSet)
    val (kSelf, kCross, kContain) = (runSelf(), runCross(), runContain())
    assert(kSelf.nonEmpty && kCross.nonEmpty && kContain.nonEmpty)
    withConf(pastGate) {
      val (_, taken) = tiers {
        assert(runSelf() == kSelf)
        assert(runCross() == kCross)
        assert(runContain() == kContain)
      }
      assert(taken == Seq("ppjoin.self" -> "distributed", "ppjoin.crossindex" -> "distributed",
        "crossindex.vocab" -> "tier2", "ppjoin.containment" -> "distributed"))
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("prefixFilterJoin tier-1 self kernel drops null ids like the expression pipeline") {
    spark.catalog.clearCache()
    // a null id on either side of a near-dup pair: the expression plan's
    // a < b drops the pair, and the kernel must not throw on it
    val withNull = Seq[(Option[Long], String)](
      (Some(1L), "the quick brown fox jumps over the lazy dog tonight"),
      (None, "the quick brown fox jumps over the lazy cat tonight"),
      (Some(4L), "the quick brown fox jumps over the lazy dog tonight"),
      (Some(5L), "short text")).toDF("doc_id", "text")
    def run(): Set[(Long, Long, Double)] =
      Dedup.prefixFilterJoinWith(withNull, "doc_id", "text", 3, 0.5)(
        _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet)
    withConf(GraftConf.PpjoinBroadcastRows -> Some("1000000")) { // force tier 1
      val (kernel, taken) = tiers(run())
      assert(taken == Seq("ppjoin.self" -> "tier1"))
      withConf(pastGate)(assert(tiers(run()) == (kernel, Seq("ppjoin.self" -> "distributed"))))
      assert(kernel.map(t => (t._1, t._2)) == Set((1L, 4L)))
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("containment and cross kernels drop null ids like the expression pipeline") {
    spark.catalog.clearCache()
    // three identical documents: every pair passes the threshold, and a
    // null id matches nothing in the expression plans' =!= and equi-joins
    val text = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq[(Option[Long], String)]((Some(1L), text), (None, text), (Some(4L), text))
      .toDF("doc_id", "text")
    def run(): (Set[(Long, Long, Double)], Set[(Long, Long, Double)]) = (
      Dedup.containmentPairsWith(docs, "doc_id", "text", 3, 0.5)(
        _.select("a", "b", "containment").as[(Long, Long, Double)].collect().toSet),
      Dedup.prefixFilterCrossJoinWith(docs.where(col("doc_id") === 1 || col("doc_id").isNull),
          docs.where(col("doc_id") === 4 || col("doc_id").isNull), "doc_id", "text")(
        _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet))
    withConf(GraftConf.PpjoinBroadcastRows -> Some("1000000")) { // force tier 1
      val (kernel, taken) = tiers(run())
      assert(taken == Seq("ppjoin.containment" -> "tier1", "ppjoin.crossindex" -> "tier1"))
      withConf(pastGate)(assert(tiers(run()) == (kernel, Seq("ppjoin.containment" -> "distributed",
        "ppjoin.crossindex" -> "distributed", "crossindex.vocab" -> "tier2"))))
      assert(kernel._1 == Set((1L, 4L, 1.0), (4L, 1L, 1.0)))
      assert(kernel._2 == Set((1L, 4L, 1.0)))
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("PrefixCrossIndex hands the caller's job description back on every tier") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val fresh = corpus.where(col("doc_id") % 2 === 0)
    val ref = corpus.where(col("doc_id") % 2 === 1)
    sc.setJobDescription("caller")
    try Seq(None, Some("0")).foreach { refRows => withConf(pastGate._1 -> refRows) { // tier 1, 2
      val (index, taken) = tiers(Dedup.buildPrefixCrossIndex(ref, "doc_id", "text"))
      try {
        assert(tierOf(index) == (if (refRows.isEmpty) 1 else 2))
        assert(taken == (if (refRows.isEmpty) Seq("ppjoin.crossindex" -> "tier1")
          else Seq("ppjoin.crossindex" -> "distributed", "crossindex.vocab" -> "tier2")))
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        assert(index.joinBatch(fresh).count() == 2)
        assert(index.joinBatchWith(fresh)(_.count()) == 2)
        assert(sc.getLocalProperty("spark.job.description") == "caller", refRows)
      } finally index.release()
    }} finally sc.setJobDescription(null)
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("PrefixCrossIndex tiers 2 and 3 (forced gates) equal a brute-force cross join") {
    spark.catalog.clearCache()
    // the default gates put any test-sized corpus on the tier-1 broadcast
    // kernel; force the distributed tiers so the prefix-kernel + frozen
    // verify layout (tier 2) and the shuffle-vocabulary fallback (tier 3)
    // keep their exactness contract too
    val fresh = corpus.where(col("doc_id") % 2 === 0)
    val ref = corpus.where(col("doc_id") % 2 === 1)
    def runBatched(tier: Int): Set[(Long, Long, Double)] = {
      val (index, taken) = tiers(Dedup.buildPrefixCrossIndex(ref, "doc_id", "text"))
      try {
        assert(tierOf(index) == tier)
        assert(taken == Seq("ppjoin.crossindex" -> "distributed", "crossindex.vocab" -> s"tier$tier"))
        Seq(fresh.where(col("doc_id") <= 2), fresh.where(col("doc_id") > 2))
          .flatMap(b => index.joinBatchWith(b)(
            _.select("a", "b", "jaccard").as[(Long, Long, Double)].collect()))
          .toSet
      } finally { index.release(); index.release() /* idempotent per tier */ }
    }
    val brute = bruteCrossJaccard(fresh, ref, 0.5)
    assert(brute.nonEmpty)
    withConf(pastGate) {
      assert(runBatched(2) == brute)
      withConf(noVocab)(assert(runBatched(3) == brute))
    }
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  // the dials that force the prefix joins' tiers
  private val pastGate = GraftConf.PpjoinBroadcastRows -> Some("0")
  private val noVocab = GraftConf.CrossindexBroadcastVocabRows -> Some("0")

  /** `body`'s result and the (op, choice) of every prefix-join tier
    * decision it posted, in order. */
  private def tiers[T](body: => T): (T, Seq[(String, String)]) = {
    val (out, decisions) = GraftDecision.recorded(spark)(body)
    (out, decisions.filter(d => d.op.startsWith("ppjoin.") || d.op == "crossindex.vocab")
      .map(d => d.op -> d.choice))
  }

  /** 1, 2 or 3: the tier a [[Dedup.PrefixCrossIndex]] was built on. */
  private def tierOf(index: Dedup.PrefixCrossIndex): Int = index.tier match {
    case _: Dedup.PrefixCrossIndex.DriverKernel => 1
    case d: Dedup.PrefixCrossIndex.Distributed => if (d.freq.isLeft) 2 else 3
  }

  /** Brute-force exact cross Jaccard (a = new id, b = ref id, jaccard) over
    * shingleSize-3 shingles. */
  private def bruteCrossJaccard(fresh: org.apache.spark.sql.DataFrame,
                                ref: org.apache.spark.sql.DataFrame,
                                t: Double): Set[(Long, Long, Double)] = {
    def sh(df: org.apache.spark.sql.DataFrame): Seq[(Long, Set[String])] =
      df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
        .as[(Long, Seq[String])].collect().toSeq.map { case (id, s) => id -> s.toSet }
    (for {
      (a, x) <- sh(fresh); (b, y) <- sh(ref)
      i = x.intersect(y).size.toDouble
      j = i / (x.size.toDouble + y.size.toDouble - i) if j >= t
    } yield (a, b, j)).toSet
  }

  test("every prefix-join mode and tier is bit-equal to a brute-force reference") {
    spark.catalog.clearCache()
    val docs = hostile.toDF("doc_id", "text")
    // cross sides with overlapping id namespaces: the odd docs are the new
    // side; each even doc joins the reference under its odd neighbour's id
    val fresh = docs.where(col("doc_id") % 2 === 1 || col("doc_id").isNull)
    val ref = docs.where(col("doc_id") % 2 === 0).withColumn("doc_id", col("doc_id") - 1)
      .unionByName(Seq[(Option[Long], Option[String])](None -> Some("solo")).toDF("doc_id", "text"))
    val (shDocs, shFresh, shRef) = (shingleMap(docs), shingleMap(fresh), shingleMap(ref))
    def bruteSelf(t: Double): Out = bruteSelfJaccard(shDocs, t)
    def bruteCross(t: Double): Out = (for {
      (a, x) <- shFresh; (b, y) <- shRef; j = jac(x, y) if j >= t
    } yield (a, b, bits(j))).sorted
    def bruteContain(t: Double): Out = (for {
      (a, x) <- shDocs; (b, y) <- shDocs if a != b
      c = x.intersect(y).size.toDouble / x.size.toDouble if c >= t
    } yield (a, b, bits(java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))).sorted
    val batches = Seq(fresh.where(col("doc_id") <= 3),
      fresh.where(col("doc_id") > 3 && col("doc_id") <= 9),
      fresh.where(col("doc_id") > 9 || col("doc_id").isNull))
    // `taken`: the choices of the case's tier decisions
    final case class Case(name: String, confs: Seq[(String, Option[String])], taken: Seq[String],
                          run: Double => Out, brute: Double => Out)
    val cases = Seq(
      Case("self tier 1", Nil, Seq("tier1"), t => Dedup.prefixFilterJoinWith(docs, "doc_id",
        "text", 1, t)(collectOut(_, "jaccard")), bruteSelf),
      Case("self distributed", Seq(pastGate), Seq("distributed"), t => Dedup.prefixFilterJoinWith(
        docs, "doc_id", "text", 1, t)(collectOut(_, "jaccard")), bruteSelf),
      Case("containment tier 1", Nil, Seq("tier1"), t => Dedup.containmentPairsWith(docs,
        "doc_id", "text", 1, t)(collectOut(_, "containment")), bruteContain),
      Case("containment distributed", Seq(pastGate), Seq("distributed"), t =>
        Dedup.containmentPairsWith(docs, "doc_id", "text", 1, t)(collectOut(_, "containment")),
        bruteContain),
      Case("cross tier 1", Nil, Seq("tier1"), t => Dedup.prefixFilterCrossJoinWith(fresh, ref,
        "doc_id", "text", 1, t)(collectOut(_, "jaccard")), bruteCross)) ++
      Seq((1, Nil, Seq("tier1")), (2, Seq(pastGate), Seq("distributed", "tier2")),
          (3, Seq(pastGate, noVocab), Seq("distributed", "tier3"))).map {
        case (tier, confs, taken) =>
          Case(s"index tier $tier", confs, taken, t => {
            val index = Dedup.buildPrefixCrossIndex(ref, "doc_id", "text", 1, t)
            try {
              assert(tierOf(index) == tier)
              batches.flatMap(b => index.joinBatchWith(b)(collectOut(_, "jaccard"))).sorted
            } finally index.release()
          }, bruteCross)
      }
    for (Case(name, confs, taken, run, brute) <- cases; t <- Seq(0.5, 0.7, 0.8)) {
      val expected = brute(t)
      assert(expected.nonEmpty, s"$name t=$t")
      val (got, decided) = withConf(confs: _*)(tiers(run(t)))
      assert(got == expected, s"$name t=$t")
      assert(decided.map(_._2) == taken, s"$name t=$t")
    }
    // the corpus reaches every boundary it is built for
    assert(bruteSelf(0.8).contains((3L, 4L, bits(0.8))))
    assert(bruteSelf(0.7).contains((5L, 6L, bits(0.7))))
    assert(bruteSelf(0.5).contains((1L, 2L, bits(0.5))))
    assert(bruteCross(0.5).contains((1L, 1L, bits(0.5))))
    assert(bruteContain(0.7).contains((13L, 5L, bits(0.7))))
    assert(bruteContain(0.8).contains((4L, 3L, bits(0.8))))
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a duplicate id throws on the driver tier and in the distributed plans") {
    spark.catalog.clearCache()
    // two different documents under id 2 (and two null ids, which pair with
    // nothing and are no duplicate)
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "the quick brown fox jumps over the lazy dog tonight"),
      (Some(2L), "the quick brown fox jumps over the lazy cat tonight"),
      (Some(2L), "an entirely different sentence about spark and scala engines"),
      (None, "short text"), (None, "other short text")).toDF("doc_id", "text")
    val ok = docs.where(col("doc_id") =!= 2 || col("doc_id").isNull)
    val runs = Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "self" -> (d => Dedup.prefixFilterJoinWith(d, "doc_id", "text")(_.collect())),
      "containment" -> (d => Dedup.containmentPairsWith(d, "doc_id", "text")(_.collect())),
      "cross" -> (d => Dedup.prefixFilterCrossJoinWith(ok, d, "doc_id", "text")(_.collect())))
    // (the gate's choice, the cross index's vocabulary tier)
    for ((tier, confs, (gate, vocab)) <- Seq(("tier 1", Nil, ("tier1", Nil)),
           ("tier 2", Seq(pastGate), ("distributed", Seq("tier2"))),
           ("tier 3", Seq(pastGate, noVocab), ("distributed", Seq("tier3"))));
         (mode, run) <- runs) withConf(confs: _*) {
      val (_, taken) = tiers(run(ok)) // unique non-null ids pass
      assert(taken.map(_._2) == gate +: (if (mode == "cross") vocab else Nil), s"$mode $tier")
      val e = intercept[Exception](run(docs))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("duplicate doc_id 2")), s"$mode $tier: $e")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the tier-1 gate routes an oversized token total to the distributed tier") {
    val heap = 8L << 30
    val fits = (heap * Dedup.DriverHeapShare / Dedup.DriverBytesPerToken).toLong
    val conf = GraftConf(spark)
    assert(Dedup.driverTier(rows = 5000, tokens = 260000, conf, maxHeap = heap))
    assert(Dedup.driverTier(rows = 100000, tokens = fits, conf, maxHeap = heap))
    // few rows, but too many shingles for the driver's maps
    assert(!Dedup.driverTier(rows = 10, tokens = fits + 1, conf, maxHeap = heap))
    assert(!Dedup.driverTier(rows = 100001, tokens = 10, conf, maxHeap = heap))
    withConf(pastGate)(
      assert(!Dedup.driverTier(rows = 1, tokens = 1, GraftConf(spark), maxHeap = heap)))
  }

  test("connectedComponents resolves pair graphs into min-labelled clusters") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    // two components {1,2,4} (via 1-2, 2-4) and {5,6}; 3 and 7 singletons
    val edges = Seq((1L, 2L), (2L, 4L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.connectedComponents(nodes, edges, "id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 3L -> 3L,
      5L -> 5L, 6L -> 6L, 7L -> 7L).updated(6L, 5L))
    // a chain needs label propagation across multiple rounds
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("a", "b")
    val chainNodes = (10L to 14L).toDF("id")
    val chainOut = Dedup.connectedComponents(chainNodes, chain, "id")
      .as[(Long, Long)].collect().toMap
    assert(chainOut.values.toSet == Set(10L))
  }

  test("nearDupComponents keeps exactly one canonical doc per dup cluster") {
    val out = Dedup.nearDupComponents(corpus, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> ((r._2, r._3))).toMap
    // {1,2,4} cluster (near/exact dups), 3 and 5 singletons
    assert(byId(1L) == ((1L, true)) && byId(2L) == ((1L, false)) && byId(4L) == ((1L, false)))
    assert(byId(3L) == ((3L, true)) && byId(5L) == ((5L, true)))
    assert(out.count(_._3) == 3)
  }

  test("minHashDedup with wide bands matches the exact join output") {
    val out = Dedup.minHashDedup(corpus, "doc_id", "text",
      shingleSize = 3, numHashes = 192, numBands = 64, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("minhash signature of identical texts is identical; jaccard=1 pair verified") {
    val withSh = corpus.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val sigs = withSh.withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
      .where("doc_id IN (1, 4)").select("sig").as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 64)
  }

  test("jaccard column computes |I|/|U|") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    assert(df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].head() == 0.5)
  }

  test("simHash is deterministic and identical for identical texts, near for near-dups") {
    val sh = corpus.withColumn("s", Dedup.simHash(col("text")))
      .select(col("doc_id"), col("s.hi"), col("s.lo")).as[(Long, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(sh(1L) == sh(4L))
    def bits(hl: (Long, Long)): Long = java.lang.Long.bitCount(hl._1 ^ sh(1L)._1) +
      java.lang.Long.bitCount(hl._2 ^ sh(1L)._2)
    assert(bits(sh(2L)) < bits(sh(3L))) // near-dup closer than unrelated
    assert((sh(1L)._1 | sh(1L)._2) >= 0 && sh(1L)._1 < (1L << 32))
  }

  test("minHashDedup default geometry has ~1.0 recall AT the threshold boundary") {
    // 100 pairs engineered to sit EXACTLY at jaccard = 0.5: each doc is a
    // set of 30 unique words (shingleSize = 1 -> shingles are the words),
    // the pair shares 20 of them -> |I|/|U| = 20/40 = 0.5. The default
    // r=3/b=64 geometry misses a boundary pair with prob 0.875^64 ~ 2e-4
    // (expected misses out of 100: 0.02); the r=4/b=32 geometry this test
    // guards against would miss ~13 of them.
    val rnd = new scala.util.Random(3)
    val docs = (0 until 100).flatMap { i =>
      val shared = (0 until 20).map(j => s"s${i}_$j")
      val onlyA = (0 until 10).map(j => s"a${i}_$j")
      val onlyB = (0 until 10).map(j => s"b${i}_$j")
      Seq((i.toLong * 2, rnd.shuffle(shared ++ onlyA).mkString(" ")),
        (i.toLong * 2 + 1, rnd.shuffle(shared ++ onlyB).mkString(" ")))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minHashDedup(docs, "doc_id", "text", shingleSize = 1, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.forall(_._3 == 0.5))
    val expected = (0 until 100).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    val recall = (pairs.map(p => (p._1, p._2)).toSet & expected).size.toDouble / expected.size
    assert(recall >= 0.99, s"boundary recall $recall")
  }

  test("simHashNearDup pairs exact duplicates at hamming 0 and skips unrelated docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated words about databases query engines and shuffles")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hamming chunked rep-pair verify (forced K=3) equals single-pass, caches released") {
    spark.catalog.clearCache()
    // families of 1-word variants produce Hamming 1-3 signature pairs across
    // distinct signatures (the chunked stage), plus exact clones (within)
    val docs = (0L until 24L).map { i =>
      val fam = i % 6
      val tweak = if (i < 12) "" else s" tail${i % 3}"
      (i, s"family $fam common words shared across variants$tweak")
    }.toDF("doc_id", "text")
    def canon = Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(_.toSeq.mkString("|")).toSet
    val single = canon
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chunked = withConf(GraftConf.VerifyChunks -> Some("3"))(canon)
    assert(chunked == single && single.nonEmpty)
    // the chunked path persists the keyed signature frame internally and
    // must release it (passes run eagerly inside the call). The K=3
    // localCheckpoint slice RDDs legitimately stay cached until the result
    // frame is GC'd (ContextCleaner owns them; isLocallyCheckpointed is
    // private[spark], so count rather than classify): any cache beyond
    // those 3 is a real leak (e.g. the keyed frame).
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 3, s"leaked caches beyond the 3 checkpoint slices: $leaked")
  }

  test("nearDupComponentsWith / nearDupKeepBestWith release their caches") {
    // pre-existing leaked caches from earlier tests can be reaped by the
    // ContextCleaner mid-test, so the invariant is "no NEW cached RDDs
    // survive the bracket", not set equality
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val comp = Dedup.nearDupComponentsWith(corpus, "doc_id", "text")(
      _.as[(Long, Long, Boolean)].collect().toSet)
    assert(comp.contains((1L, 1L, true)) && comp.contains((4L, 1L, false)))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    val best = Dedup.nearDupKeepBestWith(corpus, "doc_id", "text", length(col("text")))(
      _.as[(Long, Long, Boolean)].collect().toSet)
    assert(best.count(_._3) == 3) // one keeper per cluster/singleton
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("connectedComponents converges on a 35-diameter chain with bounded plan depth") {
    // A path graph: the min label travels one hop per round, so this needs
    // 35 propagation rounds — crossing seven localCheckpoint boundaries.
    // Without lineage truncation the logical plan doubles per round (labels
    // feeds both join inputs) and tree-walkers at round ~30 face 2^30 paths.
    val n = 36
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val ((result, release), taken) =
      decided("components")(Dedup.connectedComponentsImpl(nodes, edges, "id", maxRounds = 50))
    assert(taken == Seq("converged"))
    val out = result.as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(0L))
    // bounded plan depth: at most ~5 post-checkpoint rounds of lineage
    assert(result.queryExecution.analyzed.toString().linesIterator.size < 5000)
    release()
  }

  test("connectedComponents reports non-convergence when maxRounds cuts propagation short") {
    val nodes = (0L to 6L).toDF("id")
    val edges = (0L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val ((result, release), taken) =
      decided("components")(Dedup.connectedComponentsImpl(nodes, edges, "id", maxRounds = 2))
    assert(taken == Seq("partial")) // diameter 6 > 2 rounds: labels are partial
    assert(result.as[(Long, Long)].collect().toMap.values.toSet != Set(0L))
    release()
  }

  test("simHashNearDup collapses identical texts: clone clusters survive any cap") {
    // 20 clones + 1 near-dup + 1 unrelated. The clones are ONE distinct
    // signature, so even maxBucketSize = 1 (which drops every multi-sig
    // chunk bucket) keeps all 190 hamming-0 clone pairs — the cap only
    // gates CROSS-signature candidate generation.
    val clones = (1 to 20).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val docs = (clones :+ ((90L, "a quick brown fox jumps over the lazy dog again and again"))
      :+ ((91L, "completely unrelated words about databases query engines and shuffles")))
      .toDF("doc_id", "text")
    val (capped, capDecisions) = decided("simhash.cap")(Dedup.simHashNearDup(docs, "doc_id",
      "text", maxHamming = 3, maxBucketSize = 1))
    val cappedPairs = capped.as[(Long, Long, Long)].collect().toSet
    // all 190 clone-clone pairs intact (doc 90 may legitimately also land at
    // hamming 0 — one-word edits can leave the 64-bit signature unchanged)
    assert(cappedPairs.count(p => p._1 <= 20 && p._2 <= 20 && p._3 == 0L) == 190)
    assert(capDecisions.size == 1) // the capped call measured what the cap drops
    // uncapped output is a superset and contains no duplicates
    val full = Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(full.map(p => (p._1, p._2)).distinct.length == full.length)
    assert(cappedPairs.subsetOf(full.toSet))
    assert(full.forall(p => p._1 < p._2 && p._3 <= 3))
  }

  test("lshCandidates respects the bucket-size cap") {
    val same = (1 to 20).map(i => (i.toLong, "identical text for everyone here today")).toDF("doc_id", "text")
    val withSig = same.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", Dedup.minHashSignature(col("sh"), 16))
    val capped = Dedup.lshCandidates(withSig, "doc_id", "sig", 4, 4, maxBucketSize = 5)
    assert(capped.count() == 0) // every bucket has 20 ids > cap
    val uncapped = Dedup.lshCandidates(withSig, "doc_id", "sig", 4, 4, maxBucketSize = 100)
    assert(uncapped.count() == 190) // 20 choose 2
  }

  test("computeAtLeast: exact count iff it reaches needed, else -1 (property)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(42)
    def arr() = {
      val elems = Seq.fill(rnd.nextInt(30))(s"t${rnd.nextInt(40)}").distinct.sorted
      new GenericArrayData(elems.map(UTF8String.fromString).toArray[Any])
    }
    for (_ <- 1 to 2000) {
      val (a, b) = (arr(), arr())
      val exact = SortedIntersectCountExpr.compute(a, b)
      for (needed <- 0 to 12) {
        val got = SortedIntersectCountExpr.computeAtLeast(a, b, needed)
        assert(got == (if (exact >= needed) exact else -1),
          s"needed=$needed exact=$exact got=$got")
      }
    }
  }

  test("verifyPartitions: sys-prop escape hatch overrides explicit per-path targets") {
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // built-in default (150k/partition), floored at the session baseline
    assert(Dedup.verifyPartitions(spark, 1L) == base)
    assert(Dedup.verifyPartitions(spark, 15_000_000L) == 100)
    // explicit per-path target (the embedding verify passes 500k)
    assert(Dedup.verifyPartitions(spark, 15_000_000L, 500_000L) == 30)
    assert(Dedup.verifyPartitions(spark, 50_000_000L, 500_000L) == 100)
    // the operational override beats BOTH the default and the explicit
    // target — an escape hatch that some paths ignore is not one
    withConf(GraftConf.VerifyRowsPerPartition -> Some("10000")) {
      assert(Dedup.verifyPartitions(spark, 15_000_000L) == 1500)
      assert(Dedup.verifyPartitions(spark, 15_000_000L, 500_000L) == 1500)
      // cap holds regardless of the override
      assert(Dedup.verifyPartitions(spark, 1_000_000_000_000L, 500_000L) == 4096)
    }
  }

  test("verifyChunkCount: single pass under the budget, K passes above, cap at 64") {
    val conf = GraftConf(spark)
    assert(Dedup.verifyChunkCount(0L, conf) == 1)
    assert(Dedup.verifyChunkCount(25_000_000L, conf) == 1)   // under the 30M/pass budget
    // sf10 ppjoin measured 77.7M candidates: un-chunked (and twice-executed
    // by pagerank's edge union) it ENOSPC'd this box; 3 checkpointed passes
    // ran the whole query in 98 s (SCALE.md r14)
    assert(Dedup.verifyChunkCount(77_700_000L, conf) == 3)
    assert(Dedup.verifyChunkCount(300_000_000L, conf) == 10)
    assert(Dedup.verifyChunkCount(Long.MaxValue / 2, conf) == 64)
    withConf(GraftConf.VerifyChunks -> Some("7"))(
      assert(Dedup.verifyChunkCount(10L, conf) == 7)) // explicit K wins
  }

  test("chunked verify output equals single-pass output (ppjoin, containment, minhash)") {
    spark.catalog.clearCache()
    // enough docs that every chunk is non-trivially populated: clone pairs,
    // near-dup pairs, containment pairs across 30 docs
    val docs = (0L until 30L).map { i =>
      val fam = i % 10
      val text =
        if (fam < 4) s"alpha bravo charlie delta echo foxtrot golf hotel token$fam"
        else if (fam < 7) s"india juliet kilo lima mike november oscar papa extra$i word$fam"
        else (1 to 12).map(j => s"w${fam}_$j").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    def run[T](thunk: => T): T = thunk
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.mkString("|")).toSet
    // the three operators share the one shingle cache of `docs` instead of
    // asking to cache it again
    val warnings = cacheWarnings {
      val single = (
        canon(run(Dedup.prefixFilterJoin(docs, "doc_id", "text", 2, 0.5))),
        canon(run(Dedup.containmentPairs(docs, "doc_id", "text", 2, 0.6))),
        canon(run(Dedup.minHashDedup(docs, "doc_id", "text", 2, 64, 32, 0.5))))
      spark.catalog.clearCache()
      val chunked = try withConf(GraftConf.VerifyChunks -> Some("3")) {
        (
          canon(run(Dedup.prefixFilterJoin(docs, "doc_id", "text", 2, 0.5))),
          canon(run(Dedup.containmentPairs(docs, "doc_id", "text", 2, 0.6))),
          canon(run(Dedup.minHashDedup(docs, "doc_id", "text", 2, 64, 32, 0.5))))
      } finally spark.catalog.clearCache()
      assert(chunked._1 == single._1 && chunked._1.nonEmpty)
      assert(chunked._2 == single._2 && chunked._2.nonEmpty)
      assert(chunked._3 == single._3 && chunked._3.nonEmpty)
    }
    assert(warnings.isEmpty, warnings.mkString("\n"))
  }

  test("chunked verify releases each pass's shuffles before the next") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val docs = (0L until 20L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot tok${i % 5}")).toDF("doc_id", "text")
    try withConf(GraftConf.VerifyChunks -> Some("4")) {
      val before = org.apache.spark.GraftShuffleGc.snapshot(sc)
      Dedup.prefixFilterJoinWith(docs, "doc_id", "text", 2, 0.5)(_.count())
      val after = org.apache.spark.GraftShuffleGc.snapshot(sc)
      // the per-pass verify shuffles were cleaned as the passes finished;
      // what survives is candidate-gen + the final consumption, bounded well
      // under 4x a pass's shuffle count (8+ shuffles/pass if leaked)
      assert((after -- before).size < 20, s"leaked shuffles: ${after -- before}")
    } finally spark.catalog.clearCache()
  }
}

/** The differential references of the prefix joins, shared with the
  * session-isolation spec.
  */
object DedupSpec {
  import org.apache.spark.sql.DataFrame

  // Hostile corpus for the differential spec (word shingles, shingleSize 1):
  // a boilerplate phrase in every regular doc (the most frequent tokens),
  // pairs exactly at jaccard 0.5, 0.8 and the non-dyadic 0.7, containment
  // exactly at 0.5, 0.7 and 0.8, empty, one-word and null texts, null ids.
  private val bp = "bp1 bp2 bp3"
  private def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
  val hostile: Seq[(Option[Long], Option[String])] = Seq(
    Some(1L) -> Some(s"$bp ${words("a", 3)}"),                    // 6 tokens
    Some(2L) -> Some(s"$bp ${words("a", 3)} ${words("c", 6)}"),   // 12: j(1,2) = 0.5
    Some(3L) -> Some(s"$bp ${words("e", 5)}"),                    // 8
    Some(4L) -> Some(s"$bp ${words("e", 5)} f1 f2"),              // 10: j(3,4) = 0.8
    Some(5L) -> Some(s"$bp ${words("g", 4)} h1"),                 // 8
    Some(6L) -> Some(s"$bp ${words("g", 4)} k1 k2"),              // 9: j(5,6) = 0.7
    Some(7L) -> Some(""),
    Some(8L) -> Some(""),
    Some(9L) -> Some("solo"),
    Some(10L) -> Some("solo"),
    Some(11L) -> None,
    Some(12L) -> Some(s"$bp ${words("m", 9)}"),
    Some(13L) -> Some(s"$bp ${words("g", 4)} z1 z2 z3"),          // c(13->5) = 0.7
    None -> Some(s"$bp ${words("a", 3)}"),
    None -> Some("solo"))

  type Out = Seq[(Long, Long, Long)] // (a, b, raw bits of the score)

  def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  def collectOut(df: DataFrame, score: String): Out =
    df.select(col("a"), col("b"), col(score)).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)))).sorted

  /** (id, word set) of each non-empty document with an id (shingleSize 1). */
  def shingleMap(df: DataFrame): Seq[(Long, Set[String])] =
    df.select(col("doc_id"), Dedup.shingles(col("text"), 1).as("sh")).collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)

  def jac(x: Set[String], y: Set[String]): Double = {
    val i = x.intersect(y).size.toDouble
    i / (x.size.toDouble + y.size.toDouble - i)
  }

  /** Every pair (a < b) of `sh` with jaccard >= t, by brute force. */
  def bruteSelfJaccard(sh: Seq[(Long, Set[String])], t: Double): Out = (for {
    (a, x) <- sh; (b, y) <- sh if a < b; j = jac(x, y) if j >= t
  } yield (a, b, bits(j))).sorted
}
