package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  private def vecs = {
    // 3 tight clusters around orthogonal axes + noise dimension
    val rnd = new scala.util.Random(7)
    (0 until 60).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 3) = 1.0f
      (i.toLong, base.map(v => v + rnd.nextFloat() * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("cosine matches a hand-computed value") {
    val df = Seq((Seq(1.0f, 0.5f), Seq(0.5f, 1.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(c - 0.8) < 1e-9)
  }

  test("hardNegatives bands out near-duplicates and easy negatives, hardest first") {
    val out = Similarity.hardNegatives(vecs, vecs.where("vec_id = 0"),
      "vec_id", "embedding", k = 10, floor = 0.05, ceiling = 0.9)
      .select("neighbor_id", "rank", "cosine").as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    // every same-cluster vector (cosine ~1 with query 0) is excluded;
    // every returned cosine sits inside the band
    assert(out.forall { case (_, _, c) => c >= 0.05 && c < 0.9 })
    assert(!out.exists { case (n, _, _) => n % 3 == 0 }) // cluster 0 members
    // rank 1 is the highest admissible cosine, descending thereafter
    val byRank = out.sortBy(_._2).map(_._3)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("bruteForceKnn returns k deterministic neighbors per query") {
    val out = Similarity.bruteForceKnn(vecs, vecs.where("vec_id < 3"), "vec_id", "embedding", 5)
    val grouped = out.select("query_id", "rank").as[(Long, Long)].collect().groupBy(_._1)
    assert(grouped.keySet == Set(0L, 1L, 2L))
    assert(grouped.values.forall(_.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
    // neighbors of query 0 (cluster 0) should be cluster-0 members (id % 3 == 0)
    val n0 = out.where("query_id = 0").select("neighbor_id").as[Long].collect()
    assert(n0.forall(_ % 3 == 0))
  }

  test("lshKnn achieves high recall vs brute force on clustered data") {
    val queries = vecs.where("vec_id < 6")
    val exact = Similarity.bruteForceKnn(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshKnn(vecs, queries, "vec_id", "embedding", 5, numPlanes = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("ivfKnn with cluster-representative centroids recovers exact neighbors") {
    val queries = vecs.where("vec_id < 3")
    val exact = Similarity.bruteForceKnn(vecs, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(vecs, queries, vecs.where("vec_id IN (0, 1, 2)"),
      "vec_id", "embedding", 3, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  // unit-norm copy of `vecs` (inner-product ranking == cosine ranking) and
  // per-cluster residuals against the representative centroids 0/1/2 — the
  // inputs a REAL IVF-PQ has: a residual-trained codebook, not raw vectors
  private def unitVecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    (0 until 60).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 3) = 1.0f
      val v = base.map(x => x + rnd.nextFloat() * 0.1f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n).toSeq)
    }
  }

  private def residualsOf(members: Seq[(Long, Seq[Float])],
                          keep: Long => Boolean = _ => true): Seq[(Long, Seq[Float])] = {
    val cents = (0 to 2).map(c => members.find(_._1 == c).get._2)
    members.collect { case (id, v) if keep(id) =>
      val c = cents((id % 3).toInt)
      (100L + id, v.zip(c).map { case (x, y) => x - y })
    }
  }

  test("ivfPqKnn with a full residual codebook recovers the exact KNN") {
    // every corpus residual is a codeword, so min-L2 code selection
    // reconstructs each vector exactly and the IVFADC score
    // dot(q,cent) + dot(q,recon) collapses to dot(q,v) — on unit vectors
    // that is the cosine ranking, so the result must equal brute force.
    // (The pre-fix score, which omitted dot(q,cent), fails this hard.)
    val members = unitVecs
    val data = members.toDF("vec_id", "embedding")
    val queries = data.where("vec_id < 3")
    val exact = Similarity.bruteForceKnn(data, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val out = Similarity.ivfPqKnn(data, queries,
      centroids = data.where("vec_id IN (0, 1, 2)"),
      codebook = residualsOf(members).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 8, numSubspaces = 2, k = 3, nProbe = 2)
    val approx = out.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall (expected ~1.0 with exact reconstruction)")
  }

  // Hierarchical unit-sphere corpus: 3 coarse clusters x 5 subgroups x 4
  // members — subgroup separation (0.35) >> intra-subgroup noise (0.02), so
  // quantization error stays well below the gaps KNN must resolve and
  // recall is a property of the operator under test, not of tiebreak luck.
  private def hierVecs(dim: Int = 16): Seq[(Long, Seq[Float])] = {
    val dirRnd = new scala.util.Random(13)
    val dirs = Array.tabulate(3, 5) { (_, _) =>
      val d = Array.fill(dim)(dirRnd.nextGaussian())
      d(0) = 0; d(1) = 0; d(2) = 0
      val n = math.sqrt(d.map(x => x * x).sum)
      d.map(x => (x / n).toFloat)
    }
    val rnd = new scala.util.Random(7)
    (0 until 60).map { i =>
      val c = i % 3; val g = (i / 3) % 5
      val base = Array.fill(dim)(0.0f)
      base(c) = 1.0f
      val v = base.indices.map(d =>
        base(d) + 0.35f * dirs(c)(g)(d) + 0.02f * rnd.nextGaussian().toFloat).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n).toSeq)
    }
  }

  test("ivfPqKnn answers from codes in probed cells with good recall") {
    // realistic setting: an approximate (1-per-subgroup) residual codebook
    // over the hierarchical corpus.
    val dim = 16
    val members = hierVecs(dim)
    val cents = (0 to 2).map(c => members.find(_._1 == c).get._2)
    val codebook = members.collect { case (id, v) if id >= 15 && id < 30 =>
      val c = cents((id % 3).toInt)
      (100L + id, v.zip(c).map { case (x, y) => x - y })
    }
    val data = members.toDF("vec_id", "embedding")
    val queries = data.where("vec_id < 3")
    val exact = Similarity.bruteForceKnn(data, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val out = Similarity.ivfPqKnn(data, queries,
      centroids = data.where("vec_id IN (0, 1, 2)"),
      codebook = codebook.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = dim, numSubspaces = 4, k = 3, nProbe = 2)
    val rows = out.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect()
    // dense 1..k ranks per query, never self
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    assert(byQ.values.forall(_.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L)))
    assert(rows.forall { case (q, n, _) => q != n })
    val approx = rows.map { case (q, n, _) => (q, n) }.toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("sqEncode quantizes each dimension linearly; codes hit the range ends") {
    val data = Seq(
      (0L, Seq(0.0f, 10.0f)),
      (1L, Seq(1.0f, 20.0f)),
      (2L, Seq(0.5f, 10.0f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.sqEncode(data, "vec_id", "embedding", dim = 2)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(codes((0L, 0L)) == 0L && codes((1L, 0L)) == 255L)
    assert(codes((2L, 0L)) == 128L) // 0.5 of the range, round half up
    assert(codes((0L, 1L)) == 0L && codes((1L, 1L)) == 255L && codes((2L, 1L)) == 0L)
  }

  test("sqKnn recall vs brute force on unit vectors") {
    // intra-cluster neighbor gaps here (~1e-3 on unit vectors) sit at the
    // SQ8 quantization error scale (range/255 per dim summed over 8 dims),
    // so this is the WORST case for scalar quantization — deterministic
    // recall 7/9; structures with gaps above the error are exact
    val data = unitVecs.toDF("vec_id", "embedding")
    val queries = data.where("vec_id < 3")
    val exact = Similarity.bruteForceKnn(data, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.sqKnn(data, queries, "vec_id", "embedding",
        dim = 8, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("semanticDedup resolves embedding clusters to one keeper each") {
    spark.catalog.clearCache()
    // earlier tests' non-With dedup calls legitimately leave localCheckpoint
    // blocks until GC (clearCache cannot reap those) — the invariant owned
    // HERE is "no NEW persisted RDDs survive the With bracket", as in
    // DedupSpec's cache-release test
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 3 orthogonal clusters: cluster-mates cos ~1, cross-cluster ~0 — at
    // threshold 0.8 each cluster is one component labelled by its min id
    val out = Similarity.semanticDedupWith(vecs, "vec_id", "embedding",
        threshold = 0.8, numPlanes = 6) {
      _.as[(Long, Long, Boolean)].collect()
    }
    assert(out.length == 60)
    assert(out.forall { case (id, comp, keep) =>
      comp == id % 3 && keep == (id == comp) })
    assert(out.count(_._3) == 3)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("binaryKnn: Hamming shortlist + exact rescore; full overscan equals brute force") {
    val queries = vecs.where("vec_id < 6")
    val exact = Similarity.bruteForceKnn(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // modest shortlist: high recall on clustered data
    val approx = Similarity.binaryKnn(vecs, queries, "vec_id", "embedding",
        numPlanes = 12, k = 5, overscan = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
    // overscan covering the whole corpus: the rescore stage sees every
    // candidate, so the result must EQUAL brute force (ranks included)
    val full = Similarity.binaryKnn(vecs, queries, "vec_id", "embedding",
        numPlanes = 12, k = 5, overscan = 12)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val exactRanked = Similarity.bruteForceKnn(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full == exactRanked)
  }

  test("semanticDecontaminate flags benchmark-similar vectors, keeps the rest") {
    // benchmark = three cluster-0 members; every cluster-0 corpus vector
    // is near-identical to one of them (cosine ~1 >= 0.95) and flags;
    // orthogonal clusters keep. Self-pairs (shared ids) are skipped, but
    // benchmark members still flag via their cluster-mates.
    val benchmark = vecs.where("vec_id IN (0, 3, 6)")
    val out = Similarity.semanticDecontaminate(vecs, benchmark,
        "vec_id", "embedding", threshold = 0.95)
      .as[(Long, Double, Boolean)].collect()
    assert(out.length == 60)
    val (c0, rest) = out.partition(_._1 % 3 == 0)
    assert(c0.forall { case (_, s, keep) => s >= 0.95 && !keep }, c0.mkString(","))
    assert(rest.forall { case (_, s, keep) => s < 0.5 && keep })
    // empty benchmark: nothing is contaminated, scores are 0
    val none = Similarity.semanticDecontaminate(vecs, vecs.where("vec_id < 0"),
        "vec_id", "embedding", threshold = 0.95)
      .as[(Long, Double, Boolean)].collect()
    assert(none.length == 60 && none.forall { case (_, s, k) => s == 0.0 && k })
  }

  test("seedQualityScore scores cluster-mates of seeds high, others low") {
    // seeds are cluster-0 members; cluster-0 vectors should score ~1 and
    // keep, orthogonal clusters ~0 and drop
    val seeds = vecs.where("vec_id IN (0, 3, 6, 9)")
    val out = Similarity.seedQualityScore(vecs, seeds, "vec_id", "embedding",
        k = 3, threshold = 0.5)
      .as[(Long, Double, Boolean)].collect()
    assert(out.length == 60)
    val (c0, rest) = out.partition(_._1 % 3 == 0)
    assert(c0.forall { case (_, s, keep) => s > 0.9 && keep })
    assert(rest.forall { case (_, s, keep) => s < 0.5 && !keep })
    // deterministic under repartition
    val again = Similarity.seedQualityScore(vecs.repartition(7), seeds,
      "vec_id", "embedding", k = 3, threshold = 0.5)
      .as[(Long, Double, Boolean)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("kmeansCentroids pulls seeds toward their cluster means, deterministically") {
    // seeds 0,1,2 are one member of each tight cluster; after refinement
    // every refined centroid should be ~the mean of its cluster (closer to
    // the cluster mean than the raw seed was)
    val seeds = vecs.where("vec_id IN (0, 1, 2)")
    val out = Similarity.kmeansCentroids(vecs, seeds, "vec_id", "embedding", iterations = 2)
    val refined = out.as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (c, rows) =>
        c -> rows.sortBy(_._2).map(_._3)
      }
    assert(refined.keySet == Set(0L, 1L, 2L))
    assert(refined.values.forall(_.length == 8))
    val members = vecs.as[(Long, Seq[Float])].collect()
    def clusterMean(cl: Long): Seq[Double] = {
      val vs = members.filter(_._1 % 3 == cl).map(_._2)
      (0 until 8).map(d => vs.map(_(d).toDouble).sum / vs.length)
    }
    def dist(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    (0L to 2L).foreach { cl =>
      val seed = members.find(_._1 == cl).get._2.map(_.toDouble).toSeq
      assert(dist(refined(cl).toSeq, clusterMean(cl)) < dist(seed, clusterMean(cl)),
        s"centroid $cl did not move toward its cluster mean")
    }
    // deterministic across runs
    val again = Similarity.kmeansCentroids(vecs, seeds, "vec_id", "embedding", iterations = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == out.as[(Long, Long, Double)].collect().toSet)
  }

  test("pqEncode assigns each subspace its nearest codeword (self-code for codebook rows)") {
    // 8-dim vectors, 2 subspaces of 4. Codebook: ids 0/1 point along
    // orthogonal directions in both subspaces.
    val cb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 1f)),
      // first half near codeword 1, second half near codeword 0
      (7L, Seq(0.1f, 0f, 1f, 0f, 0.1f, 1f, 0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(corpus, cb, "vec_id", "embedding",
      dim = 8, numSubspaces = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((0L, 0L, 0L)))
    assert(got(1) == ((1L, 1L, 1L)))
    assert(got(2) == ((7L, 1L, 0L)))
  }

  test("pqEncode argmax aggregates without a window sort (no Exchange beyond the final group)") {
    val cb = vecs.where("vec_id < 4")
    val plan = Similarity.pqEncode(vecs, cb, "vec_id", "embedding",
      dim = 8, numSubspaces = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("pqAdcKnn matches a hand-computed 4-vector ADC table") {
    // Independent of any replica oracle: dim=4, 2 subspaces of 2, codebook
    // codewords c0=(1,0|1,0), c1=(0,1|0,1); query q=(2,1|1,2).
    // Hand-built lookup table of per-subspace dots:
    //   sub0: dot(q0,c0)=2, dot(q0,c1)=1;  sub1: dot(q1,c0)=1, dot(q1,c1)=2.
    // Corpus codes (per-subspace nearest by cosine) and ADC scores:
    //   v10=(1,0,1,0) -> (c0,c0) -> 2+1=3     v11=(0,1,0,1) -> (c1,c1) -> 1+2=3
    //   v12=(1,0,0,1) -> (c0,c1) -> 2+2=4     v13=(0,1,1,0) -> (c1,c0) -> 1+1=2
    // Ranking (score desc, id asc): v12(4), v10(3), v11(3), v13(2).
    val cb = Seq(
      (0L, Seq(1f, 0f, 1f, 0f)),
      (1L, Seq(0f, 1f, 0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(1f, 0f, 1f, 0f)),
      (11L, Seq(0f, 1f, 0f, 1f)),
      (12L, Seq(1f, 0f, 0f, 1f)),
      (13L, Seq(0f, 1f, 1f, 0f))).toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(2f, 1f, 1f, 2f))).toDF("vec_id", "embedding")
    val out = Similarity.pqAdcKnn(corpus, cb, q, "vec_id", "embedding",
        dim = 4, numSubspaces = 2, k = 4)
      .select("neighbor_id", "rank", "score").as[(Long, Long, Double)]
      .collect().sortBy(_._2).toSeq
    assert(out == Seq((12L, 1L, 4.0), (10L, 2L, 3.0), (11L, 3L, 3.0), (13L, 4L, 2.0)))
  }

  test("pqAdcKnn recall vs brute force on the hierarchical corpus") {
    // Plain PQ (no coarse quantizer): codebook = the 15 subgroup
    // representatives (ids 15..29 cover each (cluster, subgroup) once), so
    // per-subspace quantization error ~ the 0.02 intra-subgroup noise while
    // neighbor gaps are the 0.35 subgroup separation — principled >= 0.8:
    // code-identical subgroup mates tie at the top and resolve by id, which
    // is also the brute-force order on near-equal cosines.
    val members = hierVecs()
    val data = members.toDF("vec_id", "embedding")
    val queries = data.where("vec_id < 3")
    val exact = Similarity.bruteForceKnn(data, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqAdcKnn(data,
        data.where("vec_id >= 15 AND vec_id < 30"), queries,
        "vec_id", "embedding", dim = 16, numSubspaces = 4, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("sqKnn recall vs brute force when neighbor gaps dominate quantization error") {
    // The hierarchical corpus's 0.35 subgroup separation is ~350x the SQ8
    // per-dim step (range ~1/255), so reconstruction-dot ranking must
    // recover the brute-force neighbor set essentially exactly — a
    // principled >= 0.9 (the companion worst-case test keeps the 7/9
    // gap-at-error-scale regime honest).
    val members = hierVecs()
    val data = members.toDF("vec_id", "embedding")
    val queries = data.where("vec_id < 3")
    val exact = Similarity.bruteForceKnn(data, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.sqKnn(data, queries, "vec_id", "embedding",
        dim = 16, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("pqAdcKnn retrieves same-cluster neighbors from codes alone") {
    // codebook = one representative per cluster; ADC scores see only the
    // codes, so same-cluster vectors rank first (ties by id).
    val cb = vecs.where("vec_id < 3")
    val out = Similarity.pqAdcKnn(vecs, cb, vecs.where("vec_id = 0"),
      "vec_id", "embedding", dim = 8, numSubspaces = 2, k = 5)
      .select("neighbor_id", "rank").as[(Long, Long)].collect()
    assert(out.length == 5)
    // vec 0 is in cluster 0 (vec_id % 3 == 0)
    assert(out.forall(_._1 % 3 == 0), out.mkString(","))
  }

  test("kmeansCentroids keeps an empty cell's previous centroid") {
    // a far-away seed that attracts no vectors keeps its original values
    val far = Seq((99L, Seq.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val seeds = vecs.where("vec_id IN (0, 1, 2)").unionByName(far)
    val out = Similarity.kmeansCentroids(vecs, seeds, "vec_id", "embedding", iterations = 1)
      .where(col("cell_id") === 99L).as[(Long, Long, Double)].collect()
    assert(out.length == 8 && out.forall(_._3 == -1.0))
  }

  test("cosineNearDupPairs: LSH-bucketed matches brute force on near-identical vectors") {
    val rnd = new scala.util.Random(11)
    // 10 base vectors, each with a jittered near-duplicate (cosine ~0.9999)
    val data = (0 until 10).flatMap { i =>
      val base = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      Seq((i.toLong * 2, base.toSeq),
        (i.toLong * 2 + 1, base.map(v => v + rnd.nextFloat() * 0.01f).toSeq))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(data, "vec_id", "embedding", 0.999,
        bruteForce = true).select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupPairs(data, "vec_id", "embedding", 0.999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.size == 10) // each jittered twin
    assert(lsh == exact)
  }

  test("adaptivePlanes holds occupancy: log2 growth, clamped, 8 at gate scales") {
    // driver-gate corpora (sf0.01: ~200 vectors; sf0.1: ~2k) stay at the
    // pinned geometry, so the subset_recall oracle sees recall exactly 1
    assert(Similarity.adaptivePlanes(200L) == 8)
    assert(Similarity.adaptivePlanes(2000L) == 8)
    assert(Similarity.adaptivePlanes(20000L) == 11)  // sf1
    assert(Similarity.adaptivePlanes(60000L) == 12)  // sf3
    assert(Similarity.adaptivePlanes(200000L) == 14) // sf10
    assert(Similarity.adaptivePlanes(Long.MaxValue) == 24) // clamp high
    assert(Similarity.adaptivePlanes(1L) == 8)             // clamp low
  }

  test("adaptive-geometry near-dup output is a subset of the pinned-8 output, high recall") {
    val rnd = new scala.util.Random(7)
    // 40 base vectors with jittered twins: enough rows that a 14-plane
    // geometry exercises real code paths while twins stay near-identical
    val data = (0 until 40).flatMap { i =>
      val base = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      Seq((i.toLong * 2, base.toSeq),
        (i.toLong * 2 + 1, base.map(v => v + rnd.nextFloat() * 0.01f).toSeq))
    }.toDF("vec_id", "embedding")
    val pinned = Similarity.cosineNearDupPairs(data, "vec_id", "embedding", 0.9, numPlanes = 8)
      .as[(Long, Long, Double)].collect().toSet
    val wide = Similarity.cosineNearDupPairs(data, "vec_id", "embedding", 0.9, numPlanes = 14)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.cosineNearDupPairs(data, "vec_id", "embedding", 0.9,
      bruteForce = true).as[(Long, Long, Double)].collect().toSet
    // structural subset property (the subset_recall oracle's precision leg):
    // 14-plane codes extend 8-plane codes, Hamming<=2 at 14 implies
    // Hamming<=2 on the 8-bit prefix — including identical cosine values
    assert(wide.subsetOf(pinned), s"wide \\ pinned: ${wide.diff(pinned)}")
    assert(pinned.subsetOf(exact))
    // recall floor vs the blocked-exact baseline on near-identical twins
    val twins = exact.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    val found = wide.count { case (a, b, _) => twins.exists(t => t._1 == a && t._2 == b) }
    assert(found.toDouble / twins.size >= 0.9,
      s"twin recall ${found.toDouble / twins.size}")
  }

  test("DoubleDotProductExpr codegen compiles with non-nullable array inputs") {
    // kmeansCentroids feeds dot() arrays built by transform(collect_list(..))
    // which Catalyst marks non-nullable; the expression can still produce
    // null (length mismatch), so without `nullable = true` no isNull slot is
    // allocated and janino fails -> silent interpreted fallback. Direct
    // generation throws on a compile error instead of falling back.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val at = ArrayType(DoubleType, containsNull = false)
    val expr = DoubleDotProductExpr(
      BoundReference(0, at, nullable = false),
      BoundReference(1, at, nullable = false))
    assert(expr.nullable)
    val proj = GenerateMutableProjection.generate(Seq(expr))
    val row = InternalRow(
      ArrayData.toArrayData(Array(1.0, 2.0)), ArrayData.toArrayData(Array(3.0, 4.0)))
    assert(proj(row).getDouble(0) == 11.0)
    // length mismatch still yields null even with non-nullable children
    val mismatch = InternalRow(
      ArrayData.toArrayData(Array(1.0)), ArrayData.toArrayData(Array(3.0, 4.0)))
    assert(proj(mismatch).isNullAt(0))
  }

  test("jlProject signs equal lshBits (same hyperplane table); cosine survives") {
    val both = vecs.select(
      Similarity.lshBits(col("embedding"), 8).as("bits"),
      Similarity.jlProject(col("embedding"), 8).as("proj"))
      .as[(Seq[Long], Seq[Double])].collect()
    assert(both.nonEmpty)
    both.foreach { case (bits, proj) =>
      assert(proj.length == 8)
      assert(bits == proj.map(v => if (v >= 0) 1L else 0L), s"$bits vs $proj")
    }
    // JL preserves relative similarity structure: same-cluster pairs stay
    // more similar than cross-cluster pairs after a 64->16 projection
    val rnd = new scala.util.Random(3)
    val wide = (0 until 30).map { i =>
      val base = Array.fill(64)(0.0f); base(i % 3) = 1.0f
      (i.toLong, base.map(v => v + rnd.nextFloat() * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
    val projected = wide.select(col("vec_id"),
      Similarity.jlProject(col("embedding"), 16).as("embedding"))
    val cos = projected.as("a").join(projected.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
    val (same, cross) = cos.partition { case (a, b, _) => a % 3 == b % 3 }
    assert(same.map(_._3).min > cross.map(_._3).max,
      s"JL lost cluster separation: same-min=${same.map(_._3).min} cross-max=${cross.map(_._3).max}")
  }

  test("jlProject null semantics and codegen with non-nullable input") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("tag", StringType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row("null_vec", null),
      Row("empty_vec", Seq.empty[Float]),
      Row("null_elem", Seq[java.lang.Float](1.0f, null, 2.0f)))
    val df = spark.createDataFrame(rows, schema)
    val out = df.select(col("tag"), Similarity.jlProject(col("embedding"), 4).as("p"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(out.values.forall(identity), s"all three poison cases must be null: $out")
    // codegen compiles with a non-nullable child even though the result
    // can be null (the DoubleDotProductExpr janino trap)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    val expr = JlProjectExpr(
      BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = false), 4)
    val proj = GenerateMutableProjection.generate(Seq(expr))
    assert(!proj(InternalRow(ArrayData.toArrayData(Array(1.0, 2.0)))).isNullAt(0))
    assert(proj(InternalRow(ArrayData.toArrayData(Array.empty[Double]))).isNullAt(0))
  }

  test("lshBits is deterministic across invocations") {
    val a = vecs.select(Similarity.lshBits(col("embedding"), 8)).as[Seq[Long]].collect()
    val b = vecs.select(Similarity.lshBits(col("embedding"), 8)).as[Seq[Long]].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(bits => bits.length == 8 && bits.forall(x => x == 0L || x == 1L)))
  }

  test("native lshCode packs exactly the HOF lshBits (MSB-first)") {
    val both = vecs.select(
      Similarity.lshBits(col("embedding"), 8).as("bits"),
      Similarity.lshCode(col("embedding"), 8).as("code"))
      .as[(Seq[Long], Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (bits, code) =>
      assert(bits.foldLeft(0L)((acc, b) => acc * 2 + b) == code)
    }
  }

  test("lshCode null/empty/null-element semantics vs the HOF spec") {
    // INTENDED divergence for a NULL vector: the HOF chain maps it to code
    // 0 (null folds -> bit 0), the native expression returns NULL, so
    // null-embedding rows drop out of candidate generation instead of
    // piling into bucket 0 — they could never verify anyway (cosine is
    // null). Empty vectors and null elements stay bit-for-bit HOF-parity
    // (code 0).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("tag", StringType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row("null_vec", null),
      Row("empty_vec", Seq.empty[Float]),
      Row("null_elem", Seq[java.lang.Float](1.0f, null, 2.0f)))
    val df = spark.createDataFrame(rows, schema)
    val out = df.select(col("tag"), Similarity.lshCode(col("embedding"), 8).as("code"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out("null_vec").isEmpty)       // native: NULL (documented divergence)
    assert(out("empty_vec").contains(0L)) // HOF parity
    assert(out("null_elem").contains(0L)) // HOF parity
    // and the analysis-time type check rejects a non-float/double array
    val bad = spark.range(1).select(array(lit(1), lit(2)).as("embedding"))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(Similarity.lshCode(col("embedding"), 8)).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>"))
  }

  test("kmeansParallelInit selects a deterministic seed set with full-coverage weights") {
    val a = Similarity.kmeansParallelInit(vecs, "vec_id", "embedding",
      oversample = 4, rounds = 2).as[(Long, Long)].collect().toMap
    // weights partition the corpus: every point votes exactly once
    assert(a.values.sum == 60L)
    assert(a.values.forall(_ > 0L))
    assert(a.contains(0L)) // the min-id seed always survives
    // seed count: 1 + ~oversample per round, never the whole corpus
    assert(a.size > 1 && a.size < 30, s"degenerate seed count ${a.size}")
    // deterministic under repartition — the whole point of hash draws
    val b = Similarity.kmeansParallelInit(vecs.repartition(7), "vec_id",
      "embedding", oversample = 4, rounds = 2).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("mmrTopK diversifies: both clusters represented where plain KNN returns one") {
    // query on the A/B bisector, cluster A tilted slightly toward it:
    // plain top-5 is all A (A outranks B on relevance), but A members are
    // near-identical so the marginal A score collapses to (λ-(1-λ))·rel
    // while B keeps ~λ·rel — the geometry MMR exists for
    val corpus = ((1 to 10).map(i =>
      (i.toLong, Seq(1.0f, 0.2f, 0.01f * i, 0.0f))) ++
      (11 to 20).map(i =>
        (i.toLong, Seq(0.1f, 1.0f, 0.0f, 0.01f * (i - 10))))).toDF("vec_id", "embedding")
    val query = Seq((0L, Seq(1.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(corpus, query, "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(knn.forall(_ <= 10), s"KNN control should be all cluster A: $knn")
    val mmr = Similarity.mmrTopK(corpus, query, "vec_id", "embedding",
      k = 5, shortlist = 20).select("vec_id").as[Long].collect().toSet
    assert(mmr.exists(_ > 10), s"MMR should reach cluster B: $mmr")
    assert(mmr.exists(_ <= 10), s"MMR must keep relevant cluster A members: $mmr")
    // deterministic under repartition
    val again = Similarity.mmrTopK(corpus.repartition(5), query, "vec_id",
      "embedding", k = 5, shortlist = 20).select("vec_id").as[Long].collect().toSet
    assert(again == mmr)
  }

  test("embeddingDrift: identical slices score ~0; a shifted slice lights up the shifted dim") {
    // 200 vectors; right slice == left distribution -> psi ~ 0 everywhere
    val base = (0 until 200).map { i =>
      // value keyed on i/2 so consecutive even/odd ids pair up: the two
      // parity slices carry literally identical value multisets
      (i.toLong, Seq.tabulate(4)(d => (((i / 2) * 7 + d * 13) % 10).toFloat))
    }.toDF("vec_id", "embedding")
    val flat = Similarity.embeddingDrift(base, "vec_id", "embedding",
      dim = 4, isLeft = col("vec_id") % 2 === 0, levels = 8)
      .as[(Long, Long)].collect().toMap
    assert(flat.values.forall(math.abs(_) < 50000L), s"expected ~0 psi: $flat") // < 0.05
    // shift dim 2 for the left slice only: that dim must dominate
    val shifted = base.withColumn("embedding",
      when(col("vec_id") % 2 === 0,
        expr("transform(embedding, (x, d) -> CAST(x + (CASE WHEN d = 2 THEN 40.0 ELSE 0.0 END) AS FLOAT))"))
        .otherwise(col("embedding")))
    val psi = Similarity.embeddingDrift(shifted, "vec_id", "embedding",
      dim = 4, isLeft = col("vec_id") % 2 === 0, levels = 8)
      .as[(Long, Long)].collect().toMap
    assert(psi(2L) > 200000L, s"shifted dim should exceed the 0.2 PSI alarm: $psi")
    assert(psi(2L) > 4 * math.max(math.abs(psi(0L)), math.abs(psi(1L))), s"$psi")
  }

  test("kmeansParallelInit on identical vectors degenerates to the single seed") {
    val same = (0 until 10).map(i => (i.toLong, Seq.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.kmeansParallelInit(same, "vec_id", "embedding",
      oversample = 4, rounds = 2).as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 10L)) // phi = 0 every round: no oversampling
  }

  test("blocked brute-force pair comparator equals the naive join formulation") {
    // naive reference: self-join a < b + the cosine expression — the exact
    // semantics bruteForcePairsBlocked must reproduce bit-for-bit
    val a = vecs.select(col("vec_id").as("a"), col("embedding").as("a_vec"))
    val b = vecs.select(col("vec_id").as("b"), col("embedding").as("b_vec"))
    val naive = a.join(b, col("a") < col("b"))
      .withColumn("cosine", Similarity.cosine(col("a_vec"), col("b_vec")))
      .where(col("cosine") >= 0.45)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.45, bruteForce = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked == naive)
    assert(blocked.nonEmpty)
    // and with a forced tiny block count the pairing/dedup logic still holds
    withConf(graft.GraftConf.BruteBlocks -> Some("3")) {
      val blocked3 = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.45, bruteForce = true)
        .as[(Long, Long, Double)].collect().toSet
      assert(blocked3 == naive)
    }
  }

  test("firstSharedProbeBucket keeps exactly the min shared probe bucket (exhaustive codes)") {
    // Brute-force reference: P(c) = {c} ∪ single-bit flips. For every code
    // pair (u, v) over the full 8-plane code space and every bucket both
    // sides emit, the predicate must admit EXACTLY the minimum of
    // P(u) ∩ P(v) — one row per colliding pair, zero when disjoint. This is
    // the closed-form case analysis (d=0 / |d|=1 / |d|=2) checked against
    // set arithmetic, including the edge codes (0, all-ones).
    val planes = 8
    def probes(c: Long): Set[Long] =
      Set(c) ++ (0 until planes).map(p => c ^ (1L << (planes - 1 - p)))
    val rows = for {
      u <- 0L until (1L << planes)
      v <- u until (1L << planes)
      w <- probes(u) ++ probes(v)
    } yield (u, v, w)
    val df = rows.toDF("u", "v", "w")
    val kept = df.where(Similarity.firstSharedProbeBucket(col("u"), col("v"), col("w")))
      .as[(Long, Long, Long)].collect().toSet
    val expected = (for {
      u <- 0L until (1L << planes)
      v <- u until (1L << planes)
      shared = probes(u) intersect probes(v)
      if shared.nonEmpty
    } yield (u, v, shared.min)).toSet
    assert(kept == expected)
    assert(expected.nonEmpty)
  }

  test("map-side candidate dedup: near-dup pairs are emitted exactly once") {
    // The production plan has NO dropDuplicates — a pair must materialize
    // from its single min-shared-bucket row. Duplicate (a, b) rows in the
    // output would mean the predicate admitted two buckets for one pair.
    val out = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 4)
      .select("a", "b").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.length == out.toSet.size,
      s"duplicate pair rows: ${out.groupBy(identity).filter(_._2.length > 1).keys.take(5)}")
  }

  test("chunked embedding verify equals the streaming plan (forced tiny pass budget)") {
    spark.catalog.clearCache()
    val base = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 4)
      .as[(Long, Long, Double)].collect().toSet
    // budget = 1 pair/pass: the occupancy bound trips, and the verify runs
    // as K released passes
    val (chunked, taken) = try withConf(graft.GraftConf.VerifyChunkRows -> Some("1")) {
      decided("verify.embed")(Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 4)
        .as[(Long, Long, Double)].collect().toSet)
    } finally spark.catalog.clearCache()
    assert(taken == Seq("chunked"))
    assert(chunked == base)
    assert(chunked.nonEmpty)
  }
}
