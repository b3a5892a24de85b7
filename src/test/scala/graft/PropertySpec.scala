package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based checks of the engine's algebraic claims: cast round
  * trips, hash ranges/determinism, and — most importantly — PPJoin
  * candidate COMPLETENESS (the length + position filters must never drop a
  * pair whose exact Jaccard clears the threshold, for ANY corpus).
  *
  * Uses raw ScalaCheck generators with fixed seeds (the scalatest bridge
  * artifact is not in the offline cache); each property draws 5 corpora.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default.withSize(30)
    (0 until n).flatMap(i => g.apply(params, org.scalacheck.rng.Seed(1234L + 77L * i)))
  }

  test("stringify -> cast round-trips longs, doubles, and booleans exactly") {
    import graft.contract.{Contract, EntitySpec, FieldSpec}
    val gen = Gen.nonEmptyListOf(for {
      l <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)
      d <- Gen.chooseNum(-1e12, 1e12)
      b <- Gen.oneOf(true, false)
    } yield (l, d, b))
    samples(gen, 5).foreach { rows =>
      val df = rows.toDF("l", "d", "b")
      val spec = EntitySpec("t", Seq(
        FieldSpec("l", "long"), FieldSpec("d", "double"), FieldSpec("b", "bool")))
      val back = Contract.cast(Contract.stringify(df), spec)
        .as[(Long, Double, Boolean)].collect().toSet
      assert(back == rows.toSet)
    }
    // hostile strings in every typed column: a non-blank value gets a parse
    // error iff its typed value is NULL — for floats, iff it fails the
    // float regex (their cast also takes 1D, inf and NaN)
    val digitRun = Gen.chooseNum(17, 40).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString)
    val hostile = Gen.oneOf(
      digitRun, digitRun.map("-" + _), Gen.chooseNum(290, 420).map(e => s"1e$e"),
      Gen.oneOf("2024-01-01T", "2024-01-01 junk", "2024-01-01 23:30:00-05:00", "2024-02-30"),
      Gen.oneOf("10:00:00", "23:59", "T10:00"), Gen.oneOf("NaN", "inf", "-Infinity", "1D"),
      Gen.oneOf("", " ", "  "), Gen.oneOf("yes", "maybe", "\t7", "1.5", "+7", "1e3"))
    val types = Seq("l" -> "long", "d" -> "double", "b" -> "bool", "t" -> "date", "m" -> "decimal")
    val floatRe = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
    samples(Gen.nonEmptyListOf(Gen.listOfN(types.size, hostile)), 5).foreach { rows =>
      val df = graft.readers.Readers.addRecordIndex(
        rows.map { case Seq(l, d, b, t, m) => (l, d, b, t, m) }.toDF(types.map(_._1): _*))
      val spec = EntitySpec("t", types.map { case (n, t) => FieldSpec(n, t) })
      val failed = Contract.validate(df, spec).select("RecordIndex", "ErrorLocation")
        .as[(Long, String)].collect().toSet
      val raw = df.collect().map(r => r.getAs[Long](Contract.RecordIndexColumn) -> r).toMap
      for (typed <- Contract.cast(df, spec).collect(); ((n, t), i) <- types.zipWithIndex) {
        val ri = typed.getAs[Long](Contract.RecordIndexColumn)
        val v = raw(ri).getString(i)
        if (v.exists(_ != ' ')) { // Spark's trim strips spaces only
          val unparsed =
            if (t == "double") !v.replaceAll("^ +| +$", "").matches(floatRe) else typed.isNullAt(i)
          assert(failed((ri, n)) == unparsed, s"$t '$v' -> ${typed.get(i)}")
        }
      }
    }
  }

  test("minhash signatures are in [0, 2^31-1), fixed-length, deterministic") {
    val gen = Gen.nonEmptyListOf(
      Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "ee", "ff")).map(_.mkString(" ")))
    samples(gen, 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .select(col("id"), graft.text.Dedup.shingles(col("text"), 3).as("sh"))
        .select(graft.text.Dedup.minHashSignature(col("sh"), 32).as("sig"))
      val sigs = df.as[Seq[Long]].collect()
      val again = df.as[Seq[Long]].collect()
      assert(sigs.toSeq == again.toSeq)
      assert(sigs.flatten.forall(v => v >= 0L && v < (1L << 31)))
      assert(sigs.forall(_.length == 32))
    }
  }

  test("prefix-filter join is COMPLETE: finds exactly the pairs with jaccard >= t") {
    val word = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8")
    val doc = Gen.chooseNum(3, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.chooseNum(5, 20).flatMap(n => Gen.listOfN(n, doc))
    val t = 0.5
    def shingleSet(text: String): Set[String] = {
      val ws = text.split(" ")
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet else Set(text)
    }
    samples(corpus, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val got = graft.text.Dedup.prefixFilterJoin(df, "doc_id", "text", 3, t)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val sets = docs.map(shingleSet)
      val expected = (for {
        i <- docs.indices; j <- docs.indices if i < j
        inter = (sets(i) & sets(j)).size.toDouble
        uni = (sets(i) | sets(j)).size.toDouble
        if uni > 0 && inter / uni >= t
      } yield (i.toLong, j.toLong)).toSet
      assert(got == expected, s"docs=$docs")
    }
  }

  test("simhash halves stay within 32 bits and are deterministic") {
    val gen = Gen.nonEmptyListOf(
      Gen.listOfN(10, Gen.identifier).map(_.mkString(" ")))
    samples(gen, 5).foreach { texts =>
      val df = texts.toDF("text")
        .select(graft.text.Dedup.simHash(col("text")).as("sh"))
        .select(col("sh.hi"), col("sh.lo"))
      val rows = df.as[(Long, Long)].collect()
      val again = df.as[(Long, Long)].collect()
      assert(rows.toSeq == again.toSeq)
      assert(rows.flatMap(r => Seq(r._1, r._2)).forall(v => v >= 0L && v < (1L << 32)))
    }
  }

  test("heavyHitters equals the naive exact count for ANY corpus and threshold") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val doc = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.chooseNum(3, 25).flatMap(n => Gen.listOfN(n, doc))
    samples(corpus.flatMap(c => Gen.chooseNum(1, 8).map((c, _))), 5)
      .foreach { case (docs, threshold) =>
        val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
        // tiny bucket count forces collisions: the prune must stay a superset
        val got = graft.text.Retrieval.heavyHitters(df, "text", threshold.toLong, buckets = 4)
          .as[(String, Long)].collect().toMap
        val naive = docs.flatMap(_.split(" ")).groupBy(identity)
          .view.mapValues(_.size.toLong).filter(_._2 >= threshold).toMap
        assert(got == naive, s"threshold=$threshold docs=$docs")
      }
  }

  test("funnel stage counts are monotone: extending the stage list never increases completion") {
    val types = Seq("signup", "view", "purchase")
    val ev = for {
      u <- Gen.chooseNum(1, 5); t <- Gen.chooseNum(0, 1000); k <- Gen.oneOf(types)
    } yield (u.toLong, new java.sql.Timestamp(1700000000000L + t * 1000L), k)
    val gen = Gen.chooseNum(5, 30).flatMap(n => Gen.listOfN(n, ev))
    samples(gen, 5).foreach { events =>
      val df = events.toDF("user_id", "ts", "event_type")
      val short = graft.rules.Resample.funnel(df, "ts", "user_id", "event_type",
        Seq("signup", "view")).as[(Long, Long)].collect().toMap
      val long = graft.rules.Resample.funnel(df, "ts", "user_id", "event_type",
        Seq("signup", "view", "purchase")).as[(Long, Long)].collect().toMap
      assert(short.keySet == long.keySet)
      // a longer funnel can only ADD stages beyond the shorter one's count
      short.foreach { case (u, n) =>
        assert(long(u) >= n && long(u) <= n + 1, s"user $u: $n -> ${long(u)}")
      }
    }
  }

  test("collapsedPairs equals the direct pair set for ANY corpus and parameters") {
    // the clone-collapse must be row-for-row invisible: same pairs, same
    // distances, for random clone-heavy short-string corpora at several
    // (maxDist, keyLen) settings
    val word = Gen.oneOf("abcd", "abce", "bcde", "abc", "abcde", "zzzz")
    val text = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.chooseNum(4, 18).flatMap(n => Gen.listOfN(n, text))
    samples(corpus, 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      for ((maxDist, keyLen) <- Seq((0, 4), (1, 3), (2, 2))) {
        val collapsed = graft.text.EntityResolution
          .collapsedPairs(df, "id", "t", maxDist, keyLen)
          .as[(Long, Long, Long)].collect().toSet
        val direct = graft.text.EditDistance
          .editDistancePairs(df, "id", "t", maxDist, keyLen)
          .as[(Long, Long, Long)].collect().toSet
        assert(collapsed == direct,
          s"maxDist=$maxDist keyLen=$keyLen corpus=$texts")
      }
    }
  }

  test("intraDocLineDedup conserves lines; output is the first-occurrence subsequence") {
    val line = Gen.oneOf("aa", "bb", "cc", "dd", "ee bb", "")
    val doc = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, line))
    val gen = Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, doc))
    samples(gen, 5).foreach { docsLines =>
      val df = docsLines.zipWithIndex
        .map { case (ls, i) => (i.toLong, ls.mkString("\n")) }.toDF("id", "text")
      val out = graft.text.TextStats.intraDocLineDedup(df, "id", "text")
        .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
      docsLines.zipWithIndex.foreach { case (ls, i) =>
        val (_, nLines, nDups, dedup) = out(i.toLong)
        assert(nLines == ls.length)
        assert(nDups == ls.length - ls.distinct.length)
        // expected: first occurrences in original order
        assert(dedup == ls.distinct.mkString("\n"), s"doc $i: $ls")
      }
    }
  }

  test("dedupByPrompt: exactly one keeper per group for ANY conversation mix") {
    val prompt = Gen.oneOf("p1", "P1 ", "p2", " p2", "p3")
    val conv = for {
      p <- prompt; extra <- Gen.chooseNum(0, 3)
    } yield Seq(("user", p)) ++ (0 until extra).flatMap(k =>
      Seq(("assistant", s"a$k"), ("user", s"q$k"))) :+ ("assistant", "fin")
    val gen = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, conv))
    samples(gen, 5).foreach { convs =>
      val df = convs.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("id", "raw")
        .select(col("id"),
          expr("transform(raw, t -> struct(t._1 AS role, t._2 AS content))").as("turns"))
      val out = graft.text.Conversations.dedupByPrompt(df, "id", "turns",
        size(col("turns")).cast("double"))
        .as[(Long, String, Long, Boolean)].collect()
      assert(out.length == convs.length) // nothing dropped
      out.groupBy(_._2).foreach { case (_, rows) =>
        assert(rows.count(_._4) == 1, s"group with != 1 keeper: $rows")
        assert(rows.forall(_._3 == rows.length))
      }
    }
  }
}
