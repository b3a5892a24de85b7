package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three strategies:
  *   - [[bruteForceKnn]] — exact cosine top-k; the correctness baseline.
  *     Broadcast the (small) query set against the corpus: one narrow pass
  *     over the big side, a partial top-k per partition via window.
  *   - [[lshKnn]] — random-hyperplane (sign) LSH: bucket by bit code with
  *     multi-probe (Hamming-1 neighbors), exact re-rank inside candidate
  *     buckets only. The 100 TB path: candidate generation is an equi-join
  *     on the bucket key.
  *   - [[ivfKnn]] — IVF-style coarse quantization: assign vectors to their
  *     nearest centroid cell, probe the `nProbe` closest cells per query,
  *     exact re-rank within probed cells.
  *
  * All vector math is columnar (zip_with / aggregate fold in double), no
  * UDFs; element order of the fold is ascending index so results are
  * bit-reproducible across engines.
  */
object Similarity {

  /** Elementwise-double dot product, sequential (index order) — native
    * codegen expression; see [[DoubleDotProductExpr]].
    */
  def dot(a: Column, b: Column): Column = DoubleDotProductExpr.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity = dot / (||a|| * ||b||), matching
    * `list_cosine_similarity` arithmetic (double throughout).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] with the two norms precomputed per SIDE instead of per
    * pair: `dot(a, b) / (an * bn)`, where `an`/`bn` carry the same
    * `sqrt(dot(v, v))` doubles [[cosine]] evaluates inline. Bit-identical
    * output (identical IEEE ops on identical values), but a candidate
    * stream of P pairs evaluates P dot products instead of 3P — inline
    * norms re-derive each row's norm once per PARTNER (the broadcast
    * KNN/seed/decontaminate shapes are ~1B pairs at sf10, so the hoist
    * removes two 64-dim MAC loops per joined row from the suite's
    * hottest expression).
    */
  private def cosineN(a: Column, an: Column, b: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  /** Exact top-k by cosine for the rows of `queries` against `corpus`.
    * `queries` is broadcast (it is the small side by construction); the
    * corpus is scanned once, cosine computed per (query, vector) pair, and
    * top-k selected by window rank with a deterministic (cosine desc, id)
    * tiebreak.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("__qn__")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("__nn__"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineN(col("q_vec"), col("__qn__"), col("n_vec"), col("__nn__")))
    topK(scored, k)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors whose cosine lies in [floor, ceiling) —
    * below `ceiling` excludes near-duplicates/positives (which would be
    * FALSE negatives and poison the loss), above `floor` excludes easy
    * negatives with no gradient signal. Ranking happens AFTER the band
    * filter, so rank 1 is the hardest admissible negative.
    *
    * Same 100 TB shape as [[bruteForceKnn]] (broadcast query side, one
    * corpus scan, per-query heap window); for web-scale corpora swap the
    * candidate stage for [[lshKnn]]'s buckets and keep the band + rank.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, floor: Double,
                    ceiling: Double): DataFrame = {
    require(floor < ceiling, s"need floor < ceiling, got [$floor, $ceiling)")
    // fused kernel (bit-equal by BruteKernelSpec): banded per-partition
    // top-k heaps inside the scan task; the global TopKByAgg merge below
    // selects the identical final k (top-k is a semilattice)
    topK(BruteKernels.hardNegativeCandidates(
      corpus, queries, idCol, vecCol, k, floor, ceiling), k)
  }

  /** Expression formulation of [[hardNegatives]] — the bit-equality
    * reference for the kernel path (BruteKernelSpec).
    */
  private[similarity] def hardNegativesExpr(corpus: DataFrame, queries: DataFrame,
                                            idCol: String, vecCol: String, k: Int,
                                            floor: Double, ceiling: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("__qn__")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("__nn__"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineN(col("q_vec"), col("__qn__"), col("n_vec"), col("__nn__")))
      // band on the ROUNDED cosine (the cross-engine-stable value; the raw
      // double would make boundary rows engine-dependent)
      .withColumn("cosine", round(col("cosine"), 6))
      .where(col("cosine") >= floor && col("cosine") < ceiling)
    topK(scored, k)
  }

  /** Top-k per query via [[TopKByAgg]] — identical row selection and rank
    * numbering to `row_number() OVER (PARTITION BY query_id ORDER BY
    * cosine DESC, neighbor_id) <= k`, but partial-aggregated: the window
    * form exchanges + sorts the WHOLE candidate stream (~1B rows at sf10
    * for the brute/seed/IVF shapes) where this ships k rows per query.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(
        struct(col("cosine"), col("neighbor_id")), k).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")).as(Seq("__pos__", "__e__")))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        (col("__pos__") + 1).cast("bigint").as("rank"),
        round(col("__e__.cosine"), 6).as("cosine"))

  /** MINSTD → xorshift → MINSTD integer mix on [0, 2^31-1). Chosen over
    * xxhash64 because every step is exactly replicable in ANSI SQL integer
    * arithmetic — the DuckDB oracle recomputes the same hyperplanes, so the
    * bucketed LSH plan itself is hash-checkable end to end.
    */
  private[similarity] def mixHash(x: Column): Column = {
    val h = pmod(x * 48271L, lit(2147483647L))
    pmod(h.bitwiseXOR(shiftright(h, 15)) * 48271L, lit(2147483647L))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim),
    * uniform in [-1, 1): derived from [[mixHash]] so plans need no literal
    * weight arrays and oracles can replicate them.
    */
  private def planeComponent(plane: Column, dim: Column): Column =
    (pmod(mixHash(plane * 131071L + dim + 1L), lit(2000000L)) - 1000000L).cast("double") / 1000000.0

  /** Sign-LSH bit code (array of `numPlanes` 0/1 longs) for a vector — the
    * HOF reference formulation, kept as the executable spec of the
    * arithmetic (SimilaritySpec asserts [[lshCode]] packs exactly these
    * bits). Hot paths use [[lshCode]]: HOF lambdas are CodegenFallback and
    * this one evaluates ~numPlanes * dim interpreted nodes per row.
    */
  def lshBits(vec: Column, numPlanes: Int): Column =
    transform(sequence(lit(0), lit(numPlanes - 1)), p =>
      when(aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") * planeComponent(p, d)),
        lit(0.0), (acc, x) => acc + x) >= 0, 1L).otherwise(0L))

  /** MSB-first packed [[lshBits]] as one long — native codegen expression. */
  def lshCode(vec: Column, numPlanes: Int): Column = LshCodeExpr.code(vec, numPlanes)

  /** Johnson–Lindenstrauss random projection to `outDim` dims — native
    * codegen expression over the SAME deterministic hyperplane table as
    * [[lshCode]] (sign-LSH is exactly the sign of this map). The 100 TB
    * use: collapse a 1536-dim embedding column to 32-64 dims once, then
    * run every ANN/near-dup operator on the small vectors — JL preserves
    * pairwise angles with high probability, and cosine is invariant to
    * the 1/sqrt(outDim) scale.
    */
  def jlProject(vec: Column, outDim: Int): Column = JlProjectExpr.project(vec, outDim)

  /** Approximate top-k: candidates are corpus vectors sharing the query's
    * bucket or any Hamming-1 probe bucket; exact cosine re-rank inside
    * candidates. Recall tunes with `numPlanes` (fewer planes = bigger
    * buckets = higher recall, more compute).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, numPlanes: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("__nn__"),
      lshCode(col(vecCol), numPlanes).as("bucket"))
    // query probes: own bucket + every Hamming-1 bucket (flip one bit).
    // Code computed in its own projection so the probe array references the
    // column 9x instead of inlining the expression 9x (CollapseProject
    // keeps multi-referenced non-trivial aliases).
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        norm(col(vecCol)).as("__qn__"),
        lshCode(col(vecCol), numPlanes).as("__code__"))
      .select(col("query_id"), col("q_vec"), col("__qn__"),
        explode(probeCodes(col("__code__"), numPlanes)).as("probe"))
    // no dedup needed: a corpus vector has exactly ONE bucket code and the
    // numPlanes+1 probe values of a query are pairwise distinct (the base
    // code plus single-bit flips), so a (query, neighbor) pair satisfies
    // probe = bucket at most once — the candidate stream flows straight
    // into topK's partial aggregate.
    val scored = broadcast(probes).join(c, col("probe") === col("bucket")
        && col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineN(col("q_vec"), col("__qn__"), col("n_vec"), col("__nn__")))
    topK(scored, k)
  }

  /** Own bucket code plus all Hamming-1 codes. Flipping bit p of the packed
    * MSB-first code is `code xor (1 << (numPlanes-1-p))` — a static array of
    * bitwise ops over one long, no per-dim HOF work.
    */
  private def probeCodes(code: Column, numPlanes: Int): Column =
    array(code +: (0 until numPlanes).map(p =>
      code.bitwiseXOR(lit(1L << (numPlanes - 1 - p)))): _*)

  /** First-shared-bucket predicate: true iff `bucket` is the MINIMUM element
    * of P(u) ∩ P(v), where P(c) = {c} ∪ single-bit flips (the [[probeCodes]]
    * probe set). A multiprobe bucket self-join emits a candidate pair once
    * per shared bucket; keeping only the row whose bucket is the pair's
    * min shared bucket dedups the candidate stream MAP-SIDE — the whole
    * rawMass-row distinct exchange (6.6G rows at sf10's 8-plane/200k
    * geometry, the measured ENOSPC driver of SCALE.md r14) disappears from
    * the plan. The intersection has closed form by d = u xor v:
    *   - popcount(d)=0: P(u)=P(v) = {u} ∪ flips(u); the min is u with its
    *     highest SET bit cleared (clearing decreases, setting increases),
    *     or u itself when u=0 (every flip only sets a bit).
    *   - popcount(d)=1: exactly {u, v} (a one-flip of u equal to a one-flip
    *     of v would need two distinct single bits xor-ing to a single bit).
    *   - popcount(d)=2 (bits e, f): exactly {u^e, u^f} — the two one-flip
    *     meet points (u^e = v^f and u^f = v^e).
    *   - popcount(d)>2: empty — such pairs never meet in the join at all.
    * All plain bitwise/long ops: stays inside whole-stage codegen, ~flat
    * cost per joined row. Codes are non-negative (numPlanes < 63), so the
    * arithmetic shifts in the highest-bit smear are safe.
    */
  private[graft] def firstSharedProbeBucket(u: Column, v: Column, bucket: Column): Column = {
    val d = u.bitwiseXOR(v)
    // highest set bit of u via OR-smear: s = u|u>>1|...|u>>32; hb = s - s>>1
    val s = Seq(1, 2, 4, 8, 16, 32).foldLeft(u)((acc, i) => acc.bitwiseOR(shiftright(acc, i)))
    val hb = s - shiftright(s, 1)
    val e = d.bitwiseAND(-d) // lowest set bit of d
    when(d === 0L, bucket === when(u === 0L, lit(0L)).otherwise(u.bitwiseXOR(hb)))
      .when(bit_count(d) === 1, bucket === least(u, v))
      .when(bit_count(d) === 2,
        bucket === least(u.bitwiseXOR(e), u.bitwiseXOR(d.bitwiseXOR(e))))
      .otherwise(lit(false))
  }

  /** Embedding-cosine near-duplicate PAIRS (the dedup-flavored variant of
    * similarity search): candidates from shared sign-LSH buckets with
    * Hamming-1 probes, exact cosine verify at `threshold`. High-similarity
    * pairs land in the same bucket with probability (1 - theta/pi)^planes —
    * near 1 for near-duplicates; brute force over a.id < b.id is the exact
    * baseline for recall tests.
    *
    * `numPlanes` is the SCALE dial, same as MinHash banding geometry: 2^p
    * buckets must keep occupancy bounded or in-bucket pair enumeration
    * dominates — size p ≈ log2(n) - log2(target occupancy) as the corpus
    * grows. Measured at sf3 (60k vectors, NeardupGeomProbe): planes
    * 8 → 12 → 16 = 180 s → 14 s → 3.4 s wall at 96.1% / 94.8% of the
    * planes=8 pairs (saturated 256-bucket geometry vs scaled).
    */
  /** EXACT all-pairs cosine comparator, blocked: the naive formulation (a
    * self-join with `a < b` + per-pair cosine expression) pays per-ROW join
    * machinery on every one of N^2/2 pairs — 65 s at 20k vectors and ~1.8 h
    * at 200k, for a query whose only job is to certify the banded operator.
    * Here the corpus is packed into P id-hash blocks (struct arrays), block
    * PAIRS meet through one equi-join, and each block pair is scored in a
    * tight primitive-double loop with per-vector norms precomputed once —
    * identical arithmetic to [[cosine]] (sequential float->double
    * multiply-add dot, `dot / (sqrt(aa) * sqrt(bb))`, same raw-threshold
    * comparison), so the output is bit-equal to the join formulation. Still
    * O(N^2 d) FLOPs — quadratic BY SPECIFICATION — but at array-loop speed:
    * ~40x the pair throughput measured at sf1. Data movement is the block
    * replication (each block meets P-blk partners): N * P/2 vector copies,
    * all in one exchange; P grows as N/4000 (capped 16..48) so per-task
    * compute stays ~1 s while the exchange stays a few GB at 200k vectors.
    * The deliberate `flatMap` is the documented exception: a dense-vector
    * GEMM kernel no Catalyst expression shape reaches (same standing as the
    * multimodal decode lanes).
    */
  private def bruteForcePairsBlocked(corpus: DataFrame, idCol: String,
                                     vecCol: String, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    val n = corpus.count()
    val p = graft.GraftConf(spark).bruteBlocks.getOrElse(math.min(48L, math.max(16L, n / 4000L)).toInt)
    val packed = corpus
      .groupBy(pmod(xxhash64(col(idCol)), lit(p.toLong)).as("blk"))
      .agg(collect_list(struct(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))).as("items"))
    // every block meets each partner block ONCE (blk <= bj), via explode +
    // equi-join — never a non-equi BroadcastNestedLoop over payload rows
    val withPartners = packed.select(col("blk").as("bi"),
      explode(sequence(col("blk"), lit((p - 1).toLong))).as("bj"), col("items").as("items_i"))
    val joined = withPartners.join(
      packed.select(col("blk").as("bj"), col("items").as("items_j")), "bj")
    def unpack(rows: scala.collection.Seq[org.apache.spark.sql.Row])
        : (Array[Long], Array[Array[Double]], Array[Double]) = {
      val m = rows.length
      val ids = new Array[Long](m)
      val vecs = new Array[Array[Double]](m)
      val norms = new Array[Double](m)
      var i = 0
      while (i < m) {
        val r = rows(i)
        ids(i) = r.getLong(0)
        val v = r.getSeq[Double](1).toArray
        vecs(i) = v
        var s = 0.0
        var k = 0
        while (k < v.length) { s += v(k) * v(k); k += 1 }
        norms(i) = math.sqrt(s)
        i += 1
      }
      (ids, vecs, norms)
    }
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaDouble)
    joined.flatMap { row =>
      val same = row.getAs[Long]("bj") == row.getAs[Long]("bi")
      val (idsI, vecsI, normsI) = unpack(row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items_i"))
      val (idsJ, vecsJ, normsJ) =
        if (same) (idsI, vecsI, normsI)
        else unpack(row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items_j"))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < idsI.length) {
        val vi = vecsI(i)
        val ni = normsI(i)
        var j = if (same) i + 1 else 0
        while (j < idsJ.length) {
          val vj = vecsJ(j)
          var s = 0.0
          var k = 0
          while (k < vi.length) { s += vi(k) * vj(k); k += 1 }
          val c = s / (ni * normsJ(j))
          if (c >= threshold) {
            val a = math.min(idsI(i), idsJ(j))
            val b = math.max(idsI(i), idsJ(j))
            if (a != b) out += ((a, b, c))
          }
          j += 1
        }
        i += 1
      }
      out
    }(enc).toDF("a", "b", "cosine")
  }

  /** Scale-adaptive sign-LSH plane count: p ≈ log2(n / targetOccupancy),
    * clamped to [minPlanes, maxPlanes]. Fixed-plane geometry saturates as
    * the corpus grows — 2^p buckets at occupancy n/2^p generate
    * n²/2^(p+1) in-bucket pairs, so a pinned p pays quadratically for
    * corpus growth (measured: the 8-plane geometry is 25% of the sf10
    * suite) while p = log2(n) - log2(occupancy) holds expected occupancy
    * (and so candidate mass per vector) CONSTANT at any scale.
    *
    * Recall trade, stated honestly: more planes lower the per-pair
    * collision odds ((1 - theta/pi)^p with Hamming<=2 multiprobe slack),
    * so the adaptive geometry is the PRODUCTION dial, certified by
    * measurement (SimilaritySpec recall floor vs the blocked-exact
    * baseline; SCALE.md sf3/sf10 ratios vs the pinned-8 output). A
    * key containment property keeps certification cheap: plane p's bit is
    * a pure function of (vector, p), so a p-plane code is a PREFIX
    * EXTENSION of the 8-plane code, Hamming(p-bit codes) <= 2 implies
    * Hamming on the first 8 bits <= 2, and therefore the adaptive
    * candidate set (hence verified output) is ALWAYS A SUBSET of the
    * pinned-8 output with identical exact-cosine scores — the
    * subset_recall oracle mode certifies precision 1 against the 8-plane
    * SQL at every scale.
    */
  def adaptivePlanes(n: Long, targetOccupancy: Long = 16L,
                     minPlanes: Int = 8, maxPlanes: Int = 24): Int = {
    val needed = math.ceil(
      math.log(math.max(1L, n / math.max(1L, targetOccupancy)).toDouble) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** [[cosineNearDupPairs]] at the production geometry: one corpus count
    * picks [[adaptivePlanes]]. The pinned-plane form stays for callers
    * needing a reproducible fixed geometry (e.g. the hash-exact oracle).
    */
  def cosineNearDupPairsAuto(corpus: DataFrame, idCol: String, vecCol: String,
                             threshold: Double): DataFrame = {
    val n = corpus.count()
    val planes = adaptivePlanes(n)
    graft.GraftDecision.post(corpus.sparkSession, "neardup.planes", "adaptive",
      "rows" -> n, "planes" -> planes.toLong)
    cosineNearDupPairs(corpus, idCol, vecCol, threshold, planes)
  }

  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numPlanes: Int = 8,
                         bruteForce: Boolean = false): DataFrame = {
    if (bruteForce)
      return bruteForcePairsBlocked(corpus, idCol, vecCol, threshold)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
    val scored =
      {
        // Candidate generation shuffles only (id, bucket) pairs — the
        // vectors join back for the verify below, so the bucket self-join
        // and the dedup never move embedding payloads (at corpus scale the
        // candidate shuffle would otherwise carry 2 vectors per pair).
        // partitioning pinned on the join key (one shared helper — see
        // Dedup.pinPartitions for why AQE's input-sized coalescing is wrong
        // for candidate joins)
        val coded = graft.text.Dedup.pinPartitions(corpus
          .select(col(idCol), lshCode(col(vecCol), numPlanes).as("__code__"))
          .select(col(idCol), col("__code__"),
            explode(probeCodes(col("__code__"), numPlanes)).as("bucket")),
          col("bucket"))
        val x = coded.select(col(idCol).as("a"), col("__code__").as("__ca__"), col("bucket"))
        val y = coded.select(col(idCol).as("b"), col("__code__").as("__cb__"), col("bucket"))
        // per-side norms ride the vector joins (8 bytes next to a ~0.5 KB
        // vector) so the verify evaluates ONE dot per pair, not three
        val vecA = corpus.select(col(idCol).as("a"), col(vecCol).as("a_vec"),
          norm(col(vecCol)).as("a_norm"))
        val vecB = corpus.select(col(idCol).as("b"), col(vecCol).as("b_vec"),
          norm(col(vecCol)).as("b_norm"))
        val spark = corpus.sparkSession
        // Map-side candidate dedup: a pair materializes from exactly ONE
        // joined row (its min shared probe bucket) — distinct by
        // construction, so no dropDuplicates exchange exists anywhere in
        // this operator. The coded rows carry the 8-byte base code to make
        // the filter computable at the join.
        def rawPairs = x.join(y, Seq("bucket")).where(col("a") < col("b") &&
            firstSharedProbeBucket(col("__ca__"), col("__cb__"), col("bucket")))
          .select(col("a"), col("b"))
        // Demand-scaled verify parallelism, both vector-join exchanges
        // pinned (see Dedup.verifyPartitions): the exchanges below carry
        // a vector PER PAIR, and a fixed session partition count turns
        // into spill thrash once bucket occupancy makes candidates
        // outgrow it (the sf3 probe measured the cliff on the shingle
        // verify). Unlike the shingle paths, the demand signal here is
        // an UPPER BOUND computed from bucket occupancies — one narrow
        // aggregation over the coded rows (Σ n·(n-1)/2) instead of
        // materializing + counting the candidate frame itself, which
        // cost ~10 s at sf1 for no spill protection the bound doesn't
        // already give (over-provisioning partitions is cheap).
        val rawMass = coded.groupBy(col("bucket"))
          .agg(count(lit(1)).as("__n__"))
          .agg(coalesce(sum(col("__n__") * (col("__n__") - 1) / 2), lit(0)).cast("long"))
          .head.getLong(0)
        // each distinct pair is counted once PER shared probe bucket
        // (multiprobe emits numPlanes+1 codes per vector) — divide the
        // mass down to a distinct-pair estimate; this is a provisioning
        // signal, not a correctness bound, and the slack only moves the
        // partition count. The first-shared-bucket filter collapses the
        // rawMass join output to ~pairMass rows MAP-SIDE, so rawMass is
        // now compute (codegen long ops inside the join task), not disk:
        // the only exchanged rows on this path are the verify rows.
        val pairMass = rawMass / (numPlanes + 1)
        // Bounded-footprint chunking, embedding flavor: one verify
        // exchange carries two ~64-dim vectors per pair (~0.5 KB/row),
        // so pairMass × 0.5 KB can exceed free disk even with the
        // pre-dedup mass gone (738M distinct pairs ≈ 370 GB at sf10's
        // 8-plane/200k geometry). Chunk by hash(a): the slice filter
        // pushes below the bucket join into the coded x side, each pass
        // exchanges only its pairMass/K verify rows, released before the
        // next pass. Fixed-plane occupancy grows quadratically with
        // corpus — the production dial is more planes, but the operator
        // must stay disk-bounded at any geometry.
        val conf = graft.GraftConf(spark)
        val chunked = pairMass > conf.verifyChunkRows
        val k = if (chunked) graft.text.Dedup.verifyChunkCount(pairMass, conf) else 1
        graft.GraftDecision.post(spark, "verify.embed", if (chunked) "chunked" else "single",
          "pairMass" -> pairMass, "rawMass" -> rawMass, "chunks" -> k.toLong)
        if (chunked) {
          val n = graft.text.Dedup.verifyPartitions(spark, (pairMass + k - 1) / k, 500000L)
          return graft.text.Dedup.chunkedVerify(rawPairs, k) { slice =>
            scoreVerified(
              slice.repartition(n, col("a"))
                .join(vecA, "a")
                .repartition(n, col("b"))
                .join(vecB, "b"),
              threshold)
          }
        }
        // 500k rows/partition: a verify row carries two ~64-dim vectors
        // (~0.5 KB) vs the shingle paths' 2-4 KB arrays
        val n = graft.text.Dedup.verifyPartitions(spark, pairMass, 500000L)
        val base = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        // below the session baseline the pinned exchanges are pure
        // overhead (~3 s measured at sf1) — keep the streaming plan there
        if (n <= base) rawPairs.join(vecA, "a").join(vecB, "b")
        else rawPairs.repartition(n, col("a"))
          .join(vecA, "a")
          .repartition(n, col("b"))
          .join(vecB, "b")
      }
    scoreVerified(scored, threshold)
  }

  /** Exact-cosine verify projection shared by the streaming and chunked
    * plans: score, threshold on the RAW value, round for the output.
    */
  private def scoreVerified(pairsWithVecs: DataFrame, threshold: Double): DataFrame =
    pairsWithVecs
      .withColumn("cosine",
        cosineN(col("a_vec"), col("a_norm"), col("b_vec"), col("b_norm")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))

  /** SEMANTIC dedup (SemDeDup-style: Abbas et al. 2023 — duplicates by
    * embedding similarity rather than lexical overlap): resolve the cosine
    * near-dup pair graph into clusters by min-label propagation and keep
    * one canonical vector per cluster. Paraphrases and re-encodings that
    * share no n-grams still land in one cluster.
    *
    * Composition at scale: [[cosineNearDupPairs]] (sign-LSH buckets,
    * id-only candidate shuffles) feeds `Dedup.connectedComponents` label
    * propagation over PAIR-GRAPH NODES only — singletons (the overwhelming
    * majority) join back afterwards, so the iterative frames hold a few
    * percent of the corpus.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numPlanes: Int = 8): DataFrame =
    semanticDedupImpl(corpus, idCol, vecCol, threshold, numPlanes)._1

  /** [[semanticDedup]] with cache ownership — the pair/label caches are
    * released when `use` returns (see `Dedup.minHashDedupWith`).
    */
  def semanticDedupWith[T](corpus: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, numPlanes: Int = 8)
                          (use: DataFrame => T): T = {
    val (result, release) = semanticDedupImpl(corpus, idCol, vecCol, threshold, numPlanes)
    try use(result) finally release()
  }

  private def semanticDedupImpl(corpus: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, numPlanes: Int
                               ): (DataFrame, () => Unit) = {
    // pairs fan out to node extraction + both edge directions — persist or
    // the LSH pipeline re-runs per consumer (the nearDupComponents lesson)
    val pairs =
      cosineNearDupPairs(corpus, idCol, vecCol, threshold, numPlanes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    val pairNodes = pairs.select(col("a").as(idCol))
      .union(pairs.select(col("b").as(idCol))).distinct()
    val (comp, ccRelease) = graft.text.Dedup.connectedComponentsImpl(
      pairNodes, pairs.select("a", "b"), idCol, maxRounds = 50)
    // every propagation round ends in an action, so the labels are
    // materialized and the pair cache can be dropped here
    pairs.unpersist(blocking = false)
    val result = corpus.select(col(idCol)).join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("keep", col(idCol) === col("component"))
    (result, ccRelease)
  }

  /** IVF-style coarse quantization. `centroids` are any deterministic
    * sample of corpus rows (caller picks, e.g. `vec_id % 50 == 0`). Corpus
    * vectors are assigned to their nearest centroid (broadcast join —
    * centroid count is small); each query probes the `nProbe` nearest
    * cells and re-ranks exactly within them.
    */
  /** Lloyd (k-means) refinement of IVF centroids: assign every corpus
    * vector to its nearest centroid (cosine, deterministic cell-id
    * tiebreak), re-average each cell elementwise, repeat. Makes the IVF
    * index self-contained — callers seed with any deterministic sample
    * (e.g. `vec_id % 50 == 0`) and refine instead of shipping centroids
    * from outside.
    *
    * Shuffle shape per iteration: one broadcast of k centroids + one
    * (cell, dim)-keyed aggregation — both scale-safe (k and dim are small;
    * the corpus is touched once per iteration, never all-pairs).
    *
    * Determinism: the elementwise mean sums in DECIMAL, not double — IEEE
    * double addition is not associative, so a double sum depends on
    * partition order, while decimal addition is exact; the single
    * decimal→double cast afterwards gives a bit-reproducible mean across
    * engines and runs. Empty cells keep their previous centroid. Output is
    * the exploded (cell_id, dim, val) form, val rounded to 9 dp.
    */
  def kmeansCentroids(corpus: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String, iterations: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var cents = centroids.select(col(idCol).as("cell_id"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "cval")))
    for (_ <- 1 to iterations) {
      val cvecs = cents.groupBy("cell_id")
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("cval")))),
          x => x.getField("cval")).as("c_vec"))
        .withColumn("__cn__", norm(col("c_vec")))
      // 9-dp-rounded assignment cosine, the ivfKnn discipline: two engines'
      // dot products legitimately differ in the last ulp (accumulation
      // order), and an UNROUNDED near-tie then flips a vector's cell and
      // drifts the centroid mean — first measured at sf3 (2 of 76.8k
      // output values off by 1e-9). Rounding both sides to 9 dp with the
      // cell_id tiebreak makes the assignment engine-stable.
      // Argmax as max(struct(cos, -cell_id, …)) — identical selection to the
      // former row_number() over (partition idCol order by cell_cos desc,
      // cell_id) == 1, but partial-aggregated: the corpus × k assignment
      // stream collapses inside the broadcast-join task instead of being
      // exchanged + sorted whole per Lloyd round ([[argmaxAssign]]
      // discipline).
      val assigned = corpus.select(col(idCol), col(vecCol).as("__v__"),
          norm(col(vecCol)).as("__vn__"))
        .join(broadcast(cvecs))
        .select(col(idCol), struct(
          round(cosineN(col("__v__"), col("__vn__"), col("c_vec"), col("__cn__")), 9)
            .as("cell_cos"),
          (-col("cell_id")).cast("long").as("__neg__"),
          col("cell_id"), col("__v__")).as("__s__"))
        .groupBy(col(idCol))
        .agg(max(col("__s__")).as("__m__"))
        .select(col("__m__.cell_id").as("cell_id"), col("__m__.__v__").as("__v__"))
      // 9-dp EXACT mean, integer arithmetic end to end: the previous
      // sum(decimal)→double / count then round(…,9) left one ulp hole —
      // two engines' double quotients can straddle a half-up boundary
      // (first measured at sf3: 2 of 76,800 output values off by 1e-9).
      // Here u = s·10¹² is an exact integer (decimal ops only), den =
      // n·10³, q = |u| div den (+1 when 2·(|u| mod den) ≥ den — half away
      // from zero, matching round()), and q/1e9 is ONE correctly-rounded
      // double division of exact integers — identical in any IEEE engine.
      // The refined centroids are therefore "9-dp Lloyd updates" by
      // definition, on both the Spark and oracle sides.
      val mil = lit(1000000L).cast("decimal(7,0)")
      val agg = assigned
        .select(col("cell_id"), posexplode(col("__v__").cast("array<double>")).as(Seq("dim", "v")))
        .groupBy("cell_id", "dim")
        .agg(sum(col("v").cast("decimal(30,12)")).cast("decimal(20,12)").as("__s__"),
          count(lit(1)).as("__n__"))
      val u = ((col("__s__") * mil) * mil).cast("decimal(38,0)")
      val den = (col("__n__") * lit(1000L)).cast("decimal(38,0)")
      val aAbs = abs(u)
      val rem = aAbs % den
      val qExact = ((aAbs - rem) / den).cast("decimal(38,0)") +
        when(rem * lit(2) >= den, lit(1)).otherwise(lit(0))
      val means = agg.select(col("cell_id"), col("dim"),
        (when(u < 0, -qExact).otherwise(qExact).cast("double") / lit(1e9)).as("m"))
      // means is ≤ k × dim rows by construction — without the hint the
      // planner's post-aggregate size estimate picked a SortMergeJoin,
      // exchanging + sorting both sides of a k·dim-row join every round
      cents = cents.join(broadcast(means), Seq("cell_id", "dim"), "left")
        .select(col("cell_id"), col("dim"), coalesce(col("m"), col("cval")).as("cval"))
    }
    cents.select(col("cell_id"), col("dim").cast("bigint").as("dim"),
      round(col("cval"), 9).as("val"))
  }

  /** k-means|| SEEDING (Bahmani et al., "Scalable k-means++"): the
    * distributed replacement for sequential k-means++ when the corpus
    * cannot be scanned k times. Each of `rounds` passes oversamples
    * ~`oversample` points with probability ∝ their distance to the
    * current seed set, then every corpus point votes for its nearest
    * seed — the returned (center_id, weight) table is exactly what the
    * final small weighted clustering (a [[kmeansCentroids]] run over
    * tens of rows) consumes.
    *
    * Determinism (the operator's whole point here): the seed is the
    * minimum id, and the "probability ∝ distance" draw is the replicable
    * hash-threshold trick — keep x iff
    * hash(x:salt_r) * Σdi < oversample * di(x) * 10^6, with di the
    * micro-floored cosine distance and Σdi an exact BIGINT — so re-runs,
    * repartitions, and an external engine select the identical seed set.
    *
    * Scale shape: per round, one broadcast cross-score of the corpus
    * against the ≤ (1 + r*oversample)-row seed set (narrow, codegen dot),
    * one exact integer aggregate, and a per-row threshold filter. Driver
    * materialization is bounded by construction: the selected ids
    * (expected `oversample` per round — the set a real pipeline ships to
    * the final clustering anyway), never corpus rows.
    */
  def kmeansParallelInit(corpus: DataFrame, idCol: String, vecCol: String,
                         oversample: Int = 8, rounds: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(oversample > 0 && rounds >= 1)
    val seedId = corpus.agg(min(col(idCol))).head().get(0)
    var centerIds: Seq[Any] = Seq(seedId)
    for (r <- 1 to rounds) {
      val centers = broadcast(corpus.where(col(idCol).isin(centerIds: _*))
        .select(col(vecCol).as("__cvec__"), norm(col(vecCol)).as("__cn__")))
      val di = corpus.select(col(idCol), col(vecCol).as("__v__"),
          norm(col(vecCol)).as("__vn__"))
        .join(centers) // broadcast cross: |centers| rows per corpus row
        .groupBy(col(idCol))
        .agg(max(cosineN(col("__v__"), col("__vn__"), col("__cvec__"), col("__cn__")))
          .as("__maxcos__"))
        .select(col(idCol),
          floor(round(lit(1.0) - col("__maxcos__"), 6) * 1000000.0)
            .cast("long").as("__di__"))
      val phi = di.agg(sum(col("__di__"))).head().getLong(0)
      val sel =
        if (phi == 0L) Array.empty[org.apache.spark.sql.Row] // all mass on seeds
        else di
          .where(!col(idCol).isin(centerIds: _*))
          // DECIMAL(38,0) comparison: bucket∈[0,1e6) × phi can pass 2^63
          // around ~5M corpus rows (phi sums micro-floored distances up to
          // ~2e6/row) and BIGINT would wrap negative, silently selecting
          // far more than ~oversample ids into the driver collect. Decimal
          // keeps the inequality EXACT (same selected set wherever 64-bit
          // didn't overflow, so the oracle is unchanged) at any scale.
          .where(graft.text.Sampling.hashBucket(
            concat(col(idCol).cast("string"), lit(s":kmpp$r")), 1000000)
              .cast("decimal(38,0)") * lit(phi).cast("decimal(38,0)")
            < lit(oversample.toLong).cast("decimal(38,0)")
              * col("__di__").cast("decimal(38,0)") * lit(1000000L).cast("decimal(38,0)"))
          .select(col(idCol)).collect()
      centerIds = centerIds ++ sel.map(_.get(0))
    }
    val centers = broadcast(corpus.where(col(idCol).isin(centerIds: _*))
      .select(col(idCol).as("center_id"), col(vecCol).as("__cvec__"),
        norm(col(vecCol)).as("__cn__")))
    // nearest-seed vote as max(struct(cos9, -center_id, center_id)) —
    // identical selection to the former row_number() == 1 under
    // (round(cos, 9) desc, center_id asc), but the corpus × seeds stream
    // collapses map-side inside the broadcast-join task instead of being
    // exchanged + sorted whole ([[argmaxAssign]] discipline)
    corpus.select(col(idCol), col(vecCol).as("__v__"), norm(col(vecCol)).as("__vn__"))
      .join(centers)
      .select(col(idCol), struct(
        round(cosineN(col("__v__"), col("__vn__"), col("__cvec__"), col("__cn__")), 9)
          .as("__cos__"),
        (-col("center_id")).cast("long").as("__neg__"),
        col("center_id")).as("__s__"))
      .groupBy(col(idCol))
      .agg(max(col("__s__")).as("__m__"))
      .select(col("__m__.center_id").as("center_id"))
      .groupBy(col("center_id")).agg(count(lit(1)).as("weight"))
  }

  /** Maximal-marginal-relevance TOP-K (Carbonell & Goldstein): diversified
    * retrieval — greedily pick the candidate maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so the result covers the
    * query's neighborhood instead of returning k near-duplicates (the
    * failure mode of plain KNN over a deduplicated-but-clustered corpus).
    * λ = 7/10 held as integers: score = 7·rel_micro − 3·maxsim_micro,
    * with both cosines micro-floored — every comparison is BIGINT, so the
    * selection order is deterministic and engine-replicable (id
    * tiebreak).
    *
    * Scale shape — the standard two-phase MMR: relevance shortlisting is
    * distributed (one broadcast-query scoring pass + TakeOrdered top-m),
    * then the greedy runs on the m-row shortlist locally — m (default 50)
    * bounds BOTH the driver materialization and the O(k·m) pairwise sims;
    * the corpus-sized work never leaves the cluster.
    */
  def mmrTopK(corpus: DataFrame, query: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, shortlist: Int = 50): DataFrame = {
    require(k > 0 && shortlist >= k)
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = broadcast(query.select(col(vecCol).as("__q__")).limit(1)
      .withColumn("__qn__", norm(col("__q__"))))
    val short = corpus.select(col(idCol), col(vecCol).as("__v__"),
        norm(col(vecCol)).as("__vn__"))
      .join(q)
      .select(col(idCol), col("__v__"),
        cosineN(col("__v__"), col("__vn__"), col("__q__"), col("__qn__")).as("__cos__"))
      .orderBy(round(col("__cos__"), 9).desc, col(idCol))
      .limit(shortlist)
      .select(col(idCol), col("__v__"),
        floor(round(col("__cos__"), 6) * 1000000.0).cast("long").as("__rel__"))
      .collect() // bounded: `shortlist` rows by construction
    // Spark's round(col, 6) goes through BigDecimal.valueOf (the canonical
    // string form of the double), NOT the exact binary expansion — match
    // it exactly so local sims and the engine's rel column agree
    def micro6(x: Double): Long =
      math.floor(java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() * 1000000.0).toLong
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cand = short.map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
    val vecById = cand.map(c => c._1 -> c._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (id, score)
    val chosen = scala.collection.mutable.Set.empty[Long]
    val simCache = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (_ <- 1 to math.min(k, cand.length)) {
      val best = cand.iterator.filterNot(c => chosen(c._1)).map { case (id, v, rel) =>
        // true max over S (can be NEGATIVE — an anti-correlated selection
        // raises the score, the classic MMR behavior); only the EMPTY set
        // contributes 0, making step 1 pure relevance
        val sims = selected.iterator.map { case (sid, _) =>
          simCache.getOrElseUpdate((id, sid), micro6(cos(v, vecById(sid))))
        }
        val maxSim = if (selected.isEmpty) 0L else sims.max
        (id, 7L * rel - 3L * maxSim)
      }.minBy { case (id, s) => (-s, id) } // max score, id tiebreak
      selected += best
      chosen += best._1
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, s), i) => (i + 1L, id, s) }
      .toDF("rank", idCol, "score_micro")
  }

  /** Product-quantization ENCODE (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): split each `dim`-vector into
    * `numSubspaces` contiguous subvectors and replace each with the id of
    * its nearest codebook entry (argmax cosine, ties to the smallest code
    * id) — a vector becomes `numSubspaces` small integers, the ~100×
    * compression that makes billion-vector ANN indexes fit in memory.
    *
    * Scale shape: the codebook is broadcast (k codewords × dim — KB, the
    * trained artifact of [[kmeansCentroids]] per subspace in a real
    * pipeline); the corpus is scanned once, expanded to
    * (vector × subspace × codeword) scored rows that immediately collapse
    * through a partial-aggregated `max(struct(cos, -code))` argmax — the
    * shuffle carries one row per (vector, subspace), never the expansion.
    * No window sort, no self-join.
    */
  /** Per-row subspace slices: (id, sub, `out` = the sub'th `subDim`-slice). */
  private def subspaced(df: DataFrame, vecCol: String, id: String, out: String,
                        numSubspaces: Int, subDim: Int): DataFrame = df
    .select(col(id),
      explode(sequence(lit(0), lit(numSubspaces - 1))).as("sub"),
      col(vecCol).as("__full__"))
    .select(col(id), col("sub"),
      slice(col("__full__"), col("sub") * subDim + 1, lit(subDim)).as(out))

  /** Long-form PQ codes (id, sub, code) — see [[pqEncode]]. */
  def pqCodes(corpus: DataFrame, codebook: DataFrame, idCol: String,
              vecCol: String, dim: Int, numSubspaces: Int): DataFrame = {
    require(numSubspaces > 0 && dim % numSubspaces == 0,
      s"dim $dim must divide into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    val cb = broadcast(subspaced(
      codebook.select(col(idCol).as("code_id"), col(vecCol)),
      vecCol = vecCol, id = "code_id", out = "__cs__", numSubspaces, subDim)
      .withColumn("__csn__", norm(col("__cs__"))))
    val v = subspaced(corpus.select(col(idCol), col(vecCol)),
      vecCol, idCol, "__vs__", numSubspaces, subDim)
      .withColumn("__vsn__", norm(col("__vs__")))
    v.join(cb, "sub")
      .select(col(idCol), col("sub"),
        struct(cosineN(col("__vs__"), col("__vsn__"), col("__cs__"), col("__csn__")).as("cos"),
          (-col("code_id")).cast("long").as("nc")).as("__s__"))
      .groupBy(col(idCol), col("sub"))
      .agg(max(col("__s__")).as("__m__"))
      .select(col(idCol), col("sub"), (-col("__m__.nc")).as("code"))
  }

  def pqEncode(corpus: DataFrame, codebook: DataFrame, idCol: String,
               vecCol: String, dim: Int, numSubspaces: Int): DataFrame = {
    val perSub = pqCodes(corpus, codebook, idCol, vecCol, dim, numSubspaces)
    val codeCols = (0 until numSubspaces).map(s =>
      max(when(col("sub") === s, col("code"))).cast("long").as(s"code_$s"))
    perSub.groupBy(col(idCol)).agg(codeCols.head, codeCols.tail: _*)
  }

  /** PQ asymmetric-distance KNN (the SEARCH side of [[pqEncode]]): each
    * query builds a lookup table of per-subspace dot products against the
    * codebook, and a database vector's approximate score is the sum of the
    * `numSubspaces` table entries its codes select — reconstruction-dot
    * scoring that never touches a database float vector at query time,
    * which is the entire point of PQ at billion-vector scale.
    *
    * Scale shape: codes carry (id, sub, code) only; the lookup table
    * (queries × subspaces × codewords — KB for any sane setup) is
    * broadcast; scoring is an equi-join on (sub, code) followed by a
    * partial-aggregated per-(query, vector) sum. The per-subspace dots sum
    * in DECIMAL so the total is order-independent and cross-engine
    * reproducible (same discipline as [[kmeansCentroids]] means).
    */
  def pqAdcKnn(corpus: DataFrame, codebook: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, dim: Int, numSubspaces: Int,
               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / numSubspaces
    val codes = pqCodes(corpus, codebook, idCol, vecCol, dim, numSubspaces)
      .withColumnRenamed(idCol, "neighbor_id")
    val qSub = subspaced(queries.select(col(idCol).as("query_id"), col(vecCol)),
      vecCol, "query_id", "__qs__", numSubspaces, subDim)
    val cbSub = subspaced(
      codebook.select(col(idCol).as("code_id"), col(vecCol)),
      vecCol, "code_id", "__cs__", numSubspaces, subDim)
    val lut = broadcast(qSub.join(cbSub, "sub")
      .select(col("query_id"), col("sub"), col("code_id").as("code"),
        dot(col("__qs__"), col("__cs__")).cast("decimal(30,12)").as("__pd__")))
    // top-k per query via [[TopKByAgg]] (selection identical to the former
    // row_number() window under (score desc, neighbor_id asc)): ships k
    // rows per query instead of exchanging + sorting the full
    // queries × corpus ADC score stream a second time
    codes.join(lut, Seq("sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__pd__")).cast("double").as("score"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("score"), col("neighbor_id")), k).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")).as(Seq("__pos__", "__e__")))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        (col("__pos__") + 1).cast("long").as("rank"),
        round(col("__e__.score"), 6).as("score"))
  }

  /** Embedding-based QUALITY scoring against a curated seed set (the
    * classifier-free filtering step of pipelines like LAION's CLIP filter
    * or DCLM's fastText seed ranking): every corpus vector is scored by the
    * mean cosine of its `k` nearest seed vectors, and `keep` flags scores
    * >= `threshold`. Seeds are the small curated side by construction —
    * broadcast them; the corpus is scanned once, per-vector top-k via
    * window, no corpus-side self-join anywhere.
    *
    * Determinism: the top-k tiebreak is (cosine desc, seed id), and the
    * mean sums per-pair cosines ROUNDED to 6 dp as DECIMAL(10,6) — exact
    * addition in any order — then divides in double. An external engine
    * reproduces the score bit-for-bit ([[kmeansCentroids]] discipline).
    * Vectors also present in the seed set skip their self-pair.
    */
  def seedQualityScore(corpus: DataFrame, seeds: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       threshold: Double): DataFrame =
    // fused row-local kernel (bit-equal by BruteKernelSpec): top-k over
    // the broadcast seeds + exact decimal mean collapse inside the scan
    // task — the plan has ZERO exchanges (the expression form shuffled
    // two corpus-id-keyed aggregates)
    BruteKernels.seedQuality(corpus, seeds, idCol, vecCol, k, threshold)

  /** Expression formulation of [[seedQualityScore]] — the bit-equality
    * reference for the kernel path (BruteKernelSpec).
    */
  private[similarity] def seedQualityScoreExpr(corpus: DataFrame, seeds: DataFrame,
                                               idCol: String, vecCol: String, k: Int,
                                               threshold: Double): DataFrame = {
    val s = broadcast(seeds.select(col(idCol).as("seed_id"), col(vecCol).as("s_vec"),
      norm(col(vecCol)).as("__sn__")))
    // top-k via the partial aggregate, not a window: the corpus × seeds
    // stream never leaves the broadcast-join task — only k rows per corpus
    // vector reach the exchange (the window form shuffled + sorted the
    // whole stream; 493 s of the sf10 suite was exactly that sort). The
    // second aggregate reuses the first's (idCol) partitioning — explode
    // is narrow, so no extra exchange.
    corpus.select(col(idCol), col(vecCol).as("__v__"), norm(col(vecCol)).as("__vn__"))
      .join(s, col(idCol) =!= col("seed_id"))
      .select(col(idCol),
        round(cosineN(col("__v__"), col("__vn__"), col("s_vec"), col("__sn__")), 6).as("cos"),
        col("seed_id"))
      .groupBy(col(idCol))
      .agg(TopKByAgg.topKBy(struct(col("cos"), col("seed_id")), k).as("__top__"))
      .select(col(idCol), explode(col("__top__")).as("__e__"))
      .groupBy(col(idCol))
      .agg(
        round(sum(col("__e__.cos").cast("decimal(10,6)")).cast("double")
          / count(lit(1)), 6).as("seed_score"))
      .withColumn("keep", col("seed_score") >= threshold)
  }

  /** BINARY-quantization retrieval — the "binary embeddings + rescore"
    * two-stage pattern production vector stores ship as their cheapest
    * rung: every vector compresses to a `numPlanes`-bit sign code (the
    * shared deterministic hyperplane table of sign-LSH/JL), stage 1 ranks
    * the corpus by HAMMING distance to the query's code (one bit_count
    * per candidate over packed longs — the scan never touches a float
    * vector), stage 2 reranks the top `k * overscan` shortlist with exact
    * cosine. Completes the quantization ladder next to SQ8/PQ/IVF-PQ:
    * coarser than all of them, and the only one whose stage-1 state is
    * 8 bytes per vector.
    *
    * Scale shape: codes are (id, long); the query side broadcasts; the
    * Hamming stage is a broadcast nested-loop over longs with a per-query
    * top-(k*overscan) window; only the shortlist (k*overscan rows per
    * query) joins vectors back for the exact rescore. Ties break by
    * neighbor id at both stages — deterministic, engine-replicable.
    */
  def binaryKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, numPlanes: Int, k: Int,
                overscan: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numPlanes >= 1 && numPlanes <= 63, s"numPlanes must be 1..63, got $numPlanes")
    require(overscan >= 1, s"overscan must be >= 1, got $overscan")
    val cCodes = corpus.select(col(idCol).as("neighbor_id"),
      lshCode(col(vecCol), numPlanes).as("__cc__"))
    val qCodes = broadcast(queries.select(col(idCol).as("query_id"),
      lshCode(col(vecCol), numPlanes).as("__qc__")))
    // Hamming shortlist via ASCENDING [[TopKByAgg]] — identical row set to
    // the former row_number() <= k·overscan under (hamming asc, neighbor_id
    // asc), but the queries × corpus Hamming stream collapses to k·overscan
    // rows per query inside the broadcast-join task instead of being
    // exchanged + sorted whole (the ord double carries hamming exactly:
    // bit_count ≤ 63 is exact in double)
    val shortlist = qCodes.join(cCodes, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        bit_count(col("__qc__").bitwiseXOR(col("__cc__"))).cast("bigint"))
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(
        struct(col("hamming").cast("double").as("__hd__"), col("neighbor_id"),
          col("hamming")), k * overscan, ascending = true).as("__top__"))
      .select(col("query_id"), explode(col("__top__")).as("__e__"))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        col("__e__.hamming").as("hamming"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv__"),
      norm(col(vecCol)).as("__nn__"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv__"),
      norm(col(vecCol)).as("__qn__")))
    // rerank rank via [[TopKByAgg]]: same selection/numbering as the former
    // row_number() window under (cosine desc, neighbor_id asc)
    shortlist.join(cv, "neighbor_id").join(qv, "query_id")
      .withColumn("cosine", cosineN(col("__qv__"), col("__qn__"), col("__nv__"), col("__nn__")))
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("cosine"), col("neighbor_id")), k).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")).as(Seq("__pos__", "__e__")))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        (col("__pos__") + 1).cast("bigint").as("rank"),
        round(col("__e__.cosine"), 6).as("cosine"))
  }

  /** SEMANTIC benchmark decontamination — the embedding-space complement
    * of [[graft.text.Dedup.decontaminate]]'s n-gram overlap: a corpus
    * vector is contaminated when its cosine against ANY benchmark/eval
    * vector reaches `threshold` (paraphrased or reformatted eval items
    * that n-gram overlap misses). Scores are the max benchmark cosine,
    * rounded to 6 dp before the max so the aggregate is order-independent
    * and engine-exact; `keep` flags scores < threshold. Vectors sharing an
    * id with a benchmark row skip the self-pair ([[seedQualityScore]]
    * discipline).
    *
    * Scale shape: the benchmark side is small by construction (an eval
    * suite) — broadcast it; the corpus is scanned once with a per-id
    * partial-aggregated max. No corpus self-join, no shuffle of vectors.
    * For benchmark sets too large to broadcast, the LSH-bucketed
    * [[cosineNearDupPairs]] cross-family is the scale path.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val b = broadcast(benchmark.select(col(idCol).as("bench_id"), col(vecCol).as("b_vec"),
      norm(col(vecCol)).as("__bn__")))
    val scored = corpus.select(col(idCol), col(vecCol).as("__v__"),
        norm(col(vecCol)).as("__vn__"))
      .join(b, col(idCol) =!= col("bench_id"))
      .groupBy(col(idCol))
      .agg(max(round(cosineN(col("__v__"), col("__vn__"), col("b_vec"), col("__bn__")), 6))
        .as("max_bench_cosine"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("max_bench_cosine"), lit(0.0)).as("max_bench_cosine"),
        (coalesce(col("max_bench_cosine"), lit(0.0)) < threshold).as("keep"))
  }

  /** IVF-PQ (IVFADC — Jégou et al., the billion-vector layout used by
    * FAISS-style indexes): coarse-quantize every corpus vector to its
    * nearest centroid cell, PQ-encode the RESIDUAL (vector minus its cell
    * centroid) per subspace, and answer queries by probing the `nProbe`
    * nearest cells and summing per-subspace lookup-table entries over the
    * codes in those cells — search touches (cell_id, sub, code) integers
    * only, never a database float vector.
    *
    * Residuals are never materialized: by linearity,
    * `dot(v - cent, w) = dot(v, w) - dot(cent, w)`, so residual CODE
    * SELECTION is the database dot minus a (cell × subspace × codeword)
    * correction table that is tiny and broadcast. Codes minimize the
    * per-subspace reconstruction error `||r - w||^2` — expanded to
    * `argmax(dot(r, w) - ||w||^2 / 2)` (the `||r||^2` term is constant per
    * (vector, subspace)), the standard PQ training criterion, so
    * large-norm codewords are not systematically favored. The SEARCH score
    * follows FAISS inner-product IVFADC semantics:
    * `score(q, v) = dot(q, cent(v)) + Σ_sub dot(q_sub, code_sub)`
    * ≈ `dot(q, cent + recon(r)) ≈ dot(q, v)` — the coarse `dot(q, cent)`
    * term is credited once per probed cell, so cross-cell ranking is
    * comparable. All factors run through the native codegen dot
    * expression; the oracle computes the IDENTICAL arithmetic, so scores
    * are bit-reproducible (this is the defined arithmetic — it is NOT the
    * same doubles as a fused `dot(v - cent, w)` loop).
    *
    * Scale shape: centroids, codebook, and the centroid-codebook correction
    * are broadcast (all O(cells·m·k) — KB); database encoding is one corpus
    * scan whose (vector × subspace × codeword) expansion collapses through
    * a partial-aggregated argmax before any shuffle; the query LUT
    * (queries × probes × m × k) is broadcast; scoring is an equi-join on
    * (cell, sub, code) + a per-(query, vector) decimal sum. Per-subspace
    * terms sum in DECIMAL so totals are order-independent.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
               codebook: DataFrame, idCol: String, vecCol: String, dim: Int,
               numSubspaces: Int, k: Int, nProbe: Int = 3): DataFrame = {
    require(numSubspaces > 0 && dim % numSubspaces == 0,
      s"dim $dim must divide into $numSubspaces subspaces")
    // fused kernel (bit-equal by BruteKernelSpec): coarse assignment +
    // residual PQ codes + exact-pico LUT scoring per corpus row in one
    // scan task; the broadcast LUT/correction tables are precomputed once
    // from the collected (tiny) sides with the identical arithmetic
    BruteKernels.ivfPqCandidates(corpus, queries, centroids,
        codebook, idCol, vecCol, dim, numSubspaces, k, nProbe)
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("score"), col("neighbor_id")), k).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")).as(Seq("__pos__", "__e__")))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        (col("__pos__") + 1).cast("long").as("rank"),
        round(col("__e__.score"), 6).as("score"))
  }

  /** Expression formulation of [[ivfPqKnn]] — the bit-equality reference for
    * the kernel path (BruteKernelSpec).
    */
  private[similarity] def ivfPqKnnExpr(corpus: DataFrame, queries: DataFrame,
                                       centroids: DataFrame, codebook: DataFrame,
                                       idCol: String, vecCol: String, dim: Int,
                                       numSubspaces: Int, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / numSubspaces
    val cent = broadcast(centroids.select(col(idCol).as("cell_id"), col(vecCol).as("c_vec")))
    // nearest cell(s) by cosine, deterministic cell-id tiebreak — the same
    // coarse quantizer as ivfKnn ([[argmaxAssign]] / [[probeAssign]]: the
    // corpus-side keep=1 is a codegen argmax collapsed inside the
    // broadcast-join task; the query-side keep=nProbe is the TopKByAgg
    // partial aggregate). The assignment cosine is rounded to 9 dp before
    // the tiebreak so a last-ulp divergence between engines (Spark
    // sqrt(Σa²)·sqrt(Σb²) vs an oracle's sqrt(Σa²·Σb²)) cannot flip a
    // near-tied cell choice.
    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame =
      if (keep == 1) argmaxAssign(cent, df, id, vec)
      else probeAssign(cent, df, id, vec, keep)
    // per-subspace codeword slices + their squared norms (for the min-L2
    // code selection below)
    val cbSub = broadcast(subspaced(
      codebook.select(col(idCol).as("code_id"), col(vecCol)),
      vecCol, "code_id", "__cs__", numSubspaces, subDim)
      .withColumn("__cn__", dot(col("__cs__"), col("__cs__"))))
    // centroid-codebook correction: dot(cent_sub, code_sub) per
    // (cell, sub, code) — the residual arithmetic's broadcast half
    val centCb = broadcast(subspaced(
      centroids.select(col(idCol).as("cell_id"), col(vecCol)),
      vecCol, "cell_id", "__ts__", numSubspaces, subDim)
      .join(subspaced(codebook.select(col(idCol).as("code_id"), col(vecCol)),
        vecCol, "code_id", "__zs__", numSubspaces, subDim), "sub")
      .select(col("cell_id"), col("sub"), col("code_id").as("code"),
        dot(col("__ts__"), col("__zs__")).as("__cdot__")))
    // database codes: per (vector, subspace), argmin over codewords of the
    // residual reconstruction error ||r - w||^2, i.e. argmax of
    // (vdot - cdot) - cn/2 (||r||^2 is constant per group), collapsed via
    // partial-agg max(struct) — the shuffle carries one row per
    // (vector, subspace)
    val assigned = assign(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec")),
      "neighbor_id", "n_vec", 1)
    val codes = assigned
      .select(col("neighbor_id"), col("cell_id"),
        explode(sequence(lit(0), lit(numSubspaces - 1))).as("sub"), col("n_vec"))
      .select(col("neighbor_id"), col("cell_id"), col("sub"),
        slice(col("n_vec"), col("sub") * subDim + 1, lit(subDim)).as("__vs__"))
      .join(cbSub.withColumnRenamed("code_id", "code"), "sub")
      .join(centCb, Seq("cell_id", "sub", "code"))
      .select(col("neighbor_id"), col("cell_id"), col("sub"),
        struct((dot(col("__vs__"), col("__cs__")) - col("__cdot__")
            - lit(0.5) * col("__cn__")).as("rd"),
          (-col("code")).cast("long").as("nc")).as("__s__"))
      .groupBy(col("neighbor_id"), col("cell_id"), col("sub"))
      .agg(max(col("__s__")).as("__m__"))
      .select(col("neighbor_id"), col("cell_id"), col("sub"), (-col("__m__.nc")).as("code"))
    // query LUT: pd = dot(q_sub, code_sub) per (query, sub, code),
    // restricted to the probed (query, cell) pairs; the coarse
    // dot(q, cent) term is added once per (query, cell) below so the
    // total approximates dot(q, cent + recon) — FAISS IP-IVFADC semantics
    val probed = assign(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec", nProbe)
    val qd = subspaced(queries.select(col(idCol).as("query_id"), col(vecCol)),
      vecCol, "query_id", "__qs__", numSubspaces, subDim)
      .join(cbSub.withColumnRenamed("code_id", "code"), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("__qs__"), col("__cs__")).as("__qdot__"))
    // qd is bounded by (queries x subspaces x codewords) — the same bound
    // that makes the LUT broadcastable — so hint it: without the hint this
    // one-time LUT build planned as a SortMergeJoin on query_id
    val lut = broadcast(probed.select(col("query_id"), col("cell_id"))
      .join(broadcast(qd), "query_id")
      .select(col("query_id"), col("cell_id"), col("sub"), col("code"),
        col("__qdot__").cast("decimal(30,12)").as("__pd__")))
    // coarse per-(query, probed-cell) credit: dot(q, cent) in DECIMAL so
    // the final sum stays order-independent
    val qc = broadcast(probed.join(cent, "cell_id")
      .select(col("query_id"), col("cell_id"),
        dot(col("q_vec"), col("c_vec")).cast("decimal(30,12)").as("__qc__")))
    // top-k per query via [[TopKByAgg]] — identical selection and rank
    // numbering to the former row_number() window under (score desc,
    // neighbor_id asc), but partial-aggregated: only k rows per query
    // cross the final exchange instead of the whole ADC candidate stream
    // being exchanged + sorted a second time after the per-pair aggregate
    codes.join(lut, Seq("cell_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"), col("cell_id"))
      .agg(sum(col("__pd__")).as("__sum__"))
      .join(qc, Seq("query_id", "cell_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("__sum__") + col("__qc__")).cast("double").as("score"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("score"), col("neighbor_id")), k).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")).as(Seq("__pos__", "__e__")))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        (col("__pos__") + 1).cast("long").as("rank"),
        round(col("__e__.score"), 6).as("score"))
  }

  /** Scalar quantization (SQ8 — the FAISS `ScalarQuantizer` lane): each
    * dimension is linearly quantized to `levels` codes between the
    * corpus-wide per-dimension [min, max]. 4x smaller than float32 at
    * `levels = 256` with near-lossless recall for most embedding
    * distributions — the cheapest compression rung below PQ, and the one
    * production indexes reach for first.
    *
    * Long form (vec_id, dim, code): one corpus scan exploded per
    * dimension; the per-dimension stats are a broadcast `dim`-row
    * aggregate. `code = round(((v - mn) * (levels-1)) / (mx - mn))` in
    * exactly that double op order (oracle-replicable; round is
    * half-away-from-zero on the non-negative operand in both engines);
    * a constant dimension (mx == mn) codes 0.
    */
  def sqEncode(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               levels: Int = 256): DataFrame = {
    val longForm = corpus
      .select(col(idCol), explode(sequence(lit(0), lit(dim - 1))).as("dim"),
        col(vecCol).as("__v__"))
      .select(col(idCol), col("dim"),
        element_at(col("__v__"), col("dim") + 1).cast("double").as("__x__"))
    val stats = broadcast(longForm.groupBy(col("dim"))
      .agg(min(col("__x__")).as("__mn__"), max(col("__x__")).as("__mx__")))
    longForm.join(stats, "dim")
      .select(col(idCol), col("dim").cast("bigint").as("dim"),
        when(col("__mx__") > col("__mn__"),
          round((col("__x__") - col("__mn__")) * lit(levels - 1)
            / (col("__mx__") - col("__mn__"))))
          .otherwise(lit(0.0)).cast("bigint").as("code"))
  }

  /** Embedding-space DRIFT between two corpus slices (the retraining /
    * re-index trigger: has the incoming batch's embedding distribution
    * moved?): PSI per dimension over coarse scalar-quantized code
    * histograms — [[sqEncode]] at a few levels is the shared quantizer
    * (trained on the WHOLE corpus, so both slices bin identically), then
    * the same smoothed micro-floored PSI arithmetic as the text-side
    * [[graft.text.Importance.distributionShift]]. Output is one row per
    * dimension; drifted dimensions (psi above ~0.2 in conventional PSI
    * units = 200000 micro) localize WHICH embedding directions moved.
    *
    * Scale shape: the quantizer's dim-row stats broadcast; counts are one
    * (dim, code)-keyed partial aggregation of id-free rows; totals ride a
    * dim-partitioned window over the <= dim x levels count frame.
    */
  def embeddingDrift(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, isLeft: Column, levels: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flags = corpus.select(col(idCol).as("__id__"), isLeft.as("__l__"))
    val counts = sqEncode(corpus, idCol, vecCol, dim, levels)
      .join(flags, col(idCol) === col("__id__"))
      .groupBy(col("dim"), col("code"))
      .agg(sum(when(col("__l__"), 1L).otherwise(0L)).as("__ca__"),
        sum(when(col("__l__"), 0L).otherwise(1L)).as("__cb__"))
    val perDim = Window.partitionBy(col("dim"))
    val pa = (col("__ca__") + 1).cast("double") / (col("__na__") + levels).cast("double")
    val pb = (col("__cb__") + 1).cast("double") / (col("__nb__") + levels).cast("double")
    counts
      .withColumn("__na__", sum(col("__ca__")).over(perDim))
      .withColumn("__nb__", sum(col("__cb__")).over(perDim))
      .select(col("dim"),
        floor(lit(1000000.0) * ((pa - pb) * log(pa / pb))).cast("long").as("__c__"))
      .groupBy(col("dim"))
      .agg(sum(col("__c__")).as("psi_micro"))
  }

  /** KNN over SQ codes: score = dot(q, recon(v)) where
    * `recon_d = mn_d + code_d * step_d`, `step_d = (mx_d - mn_d)/(levels-1)`
    * — search touches (id, dim, code) integers plus the broadcast
    * `dim`-row stats table, never a database float vector (the SQ analog
    * of [[pqAdcKnn]]).
    *
    * Scale shape: each database vector is decompressed ONCE into its
    * reconstruction array (one narrow (id, dim, recon) shuffle collapsing
    * to `corpus` rows), then scored against the broadcast query side with
    * the native codegen dot product — per (query, vector) that is one
    * tight multiply-add loop, not `dim` decimal aggregate rows (the first
    * cut summed DECIMAL per dimension: 64x more aggregate rows, each a
    * BigDecimal allocation — ~15x slower at a 40k-vector probe). The dot
    * accumulates in ascending dim order, so scores stay bit-reproducible
    * cross-engine.
    */
  def sqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, dim: Int, k: Int, levels: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val longForm = corpus
      .select(col(idCol), explode(sequence(lit(0), lit(dim - 1))).as("dim"),
        col(vecCol).as("__v__"))
      .select(col(idCol), col("dim"),
        element_at(col("__v__"), col("dim") + 1).cast("double").as("__x__"))
    val stats = broadcast(longForm.groupBy(col("dim"))
      .agg(min(col("__x__")).as("__mn__"), max(col("__x__")).as("__mx__"))
      .select(col("dim"), col("__mn__"),
        ((col("__mx__") - col("__mn__")) / lit(levels - 1)).as("__step__")))
    val codes = sqEncode(corpus, idCol, vecCol, dim, levels)
      .select(col(idCol).as("neighbor_id"), col("dim").cast("int").as("dim"),
        col("code"))
    val recon = codes.join(stats, "dim")
      .select(col("neighbor_id"), col("dim"),
        (col("__mn__") + col("code") * col("__step__")).as("__rv__"))
      .groupBy(col("neighbor_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("__rv__")))),
        s => s.getField("__rv__")).as("__r_vec__"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__q__")))
    // top-k per query via [[TopKByAgg]] (selection identical to the former
    // row_number() window under (score desc, neighbor_id asc)): the
    // queries × corpus reconstruction-dot stream collapses to k rows per
    // query inside the broadcast-join task instead of being exchanged +
    // sorted whole
    q.join(recon, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("__q__"), col("__r_vec__")).as("score"))
      .groupBy(col("query_id"))
      .agg(TopKByAgg.topKBy(struct(col("score"), col("neighbor_id")), k).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")).as(Seq("__pos__", "__e__")))
      .select(col("query_id"), col("__e__.neighbor_id").as("neighbor_id"),
        (col("__pos__") + 1).cast("bigint").as("rank"),
        round(col("__e__.score"), 6).as("score"))
  }

  def ivfKnn(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String, k: Int, nProbe: Int = 3): DataFrame =
    // fused kernel (bit-equal by BruteKernelSpec): nearest-cell argmax +
    // probed-cell scoring + per-partition top-k heaps in one scan task;
    // the expression form paid one BigDecimal round(_, 9) per
    // (corpus row x centroid), the kernel only within the proven margin
    topK(BruteKernels.ivfCandidates(
      corpus, queries, centroids, idCol, vecCol, k, nProbe), k)

  /** Expression formulation of [[ivfKnn]] — the bit-equality reference for
    * the kernel path (BruteKernelSpec).
    */
  private[similarity] def ivfKnnExpr(corpus: DataFrame, queries: DataFrame,
                                     centroids: DataFrame, idCol: String, vecCol: String,
                                     k: Int, nProbe: Int): DataFrame = {
    val cent = broadcast(centroids.select(col(idCol).as("cell_id"), col(vecCol).as("c_vec")))
    // assignment cosine rounded to 9 dp before the tiebreak — see ivfPqKnn
    val c = argmaxAssign(cent, corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("n_vec")), "neighbor_id", "n_vec")
    val q = probeAssign(cent, queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")), "query_id", "q_vec", nProbe)
    // no dedup needed: argmaxAssign puts each corpus vector in EXACTLY one
    // cell, so a (query, neighbor) pair matches the cell equi-join at most
    // once (iff the neighbor's unique cell is among the query's probes) —
    // the stream flows straight into topK's partial aggregate with no
    // exchange of its own.
    val scored = broadcast(q.withColumn("__qn__", norm(col("q_vec"))))
      .join(c.withColumn("__nn__", norm(col("n_vec"))), Seq("cell_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineN(col("q_vec"), col("__qn__"), col("n_vec"), col("__nn__")))
    topK(scored, k)
  }

  /** Nearest-cell assignment (keep = 1) as a codegen argmax: group by the
    * vector id and `max(struct(cell_cos, -cell_id, cell_id, vec))` — the
    * struct ordering IS (cosine desc, cell_id asc), the rounded-to-9dp
    * cosine keeps the tiebreak engine-stable (see ivfPqKnn), and the
    * partial aggregate collapses the (vectors × centroids) stream inside
    * the broadcast-join task, where the window form exchanged + sorted all
    * of it (~800M rows at sf10). Same argmax discipline as pqCodes.
    */
  private def argmaxAssign(cent: DataFrame, df: DataFrame,
                           id: String, vec: String): DataFrame =
    df.withColumn("__dn__", norm(col(vec)))
      .join(cent.withColumn("__cn__", norm(col("c_vec"))))
      .select(col(id), struct(
        round(cosineN(col(vec), col("__dn__"), col("c_vec"), col("__cn__")), 9).as("cos"),
        (-col("cell_id")).as("neg"),
        col("cell_id"),
        col(vec)).as("__s__"))
      .groupBy(col(id))
      .agg(max(col("__s__")).as("__m__"))
      .select(col(id), col("__m__.cell_id").as("cell_id"), col(s"__m__.$vec").as(vec))

  /** nProbe-nearest-cells assignment for the QUERY side (queries are the
    * small frame — centroids × queries rows): [[TopKByAgg]] on
    * (cell_cos desc, cell_id asc), identical selection to the former
    * window `cell_rank <= keep`.
    */
  private def probeAssign(cent: DataFrame, df: DataFrame, id: String,
                          vec: String, keep: Int): DataFrame =
    df.withColumn("__dn__", norm(col(vec)))
      .join(cent.withColumn("__cn__", norm(col("c_vec"))))
      .select(col(id), col(vec),
        round(cosineN(col(vec), col("__dn__"), col("c_vec"), col("__cn__")), 9)
          .as("cell_cos"), col("cell_id"))
      .groupBy(col(id), col(vec))
      .agg(TopKByAgg.topKBy(struct(col("cell_cos"), col("cell_id")), keep).as("__top__"))
      .select(col(id), col(vec), explode(col("__top__")).as("__e__"))
      .select(col(id), col(vec), col("__e__.cell_id").as("cell_id"))
}
