package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{GraftConf, GraftDecision, JobDescription}

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Three tiers, all bucketed (never all-pairs at scale):
  *   - exact dedup: hash group-by on normalized text;
  *   - exact set-similarity join: prefix filtering (PPJoin-style candidate
  *     generation — complete for a Jaccard threshold, see [[prefixFilterJoin]]);
  *   - approximate: MinHash signatures + LSH banding with an exact verify
  *     pass over bucket-cohabiting candidates only.
  *
  * Past their tier-1 gates the plans are native Catalyst expressions over
  * array columns (no UDFs); candidate generation shuffles on band/token keys
  * so they scale horizontally. Within the gate ([[driverTier]]) the exact
  * prefix joins collect the indexed side once to the driver and probe its
  * broadcast postings in one narrow pass. Beyond-parity operator (reference
  * has no dedup; driver brief requires it for the 100 TB training-data
  * path).
  */
object Dedup {

  /** Distinct word n-gram shingles of a whitespace-tokenized text column.
    * Documents shorter than `n` words contribute their whole text as a
    * single shingle so they still participate in joins. Computed by the
    * native [[ShinglesExpr]] — the HOF formulation re-evaluated the split
    * per element access when interpreted (~60 ms/doc, multiplied by every
    * plan subtree that referenced the shingle projection).
    */
  def shingles(textCol: Column, n: Int): Column = ShinglesExpr.shingles(textCol, n)

  /** MinHash signature (array<bigint> of length `numHashes`) over a shingle
    * array column. Base hash = 31-bit Murmur3 of the shingle bytes;
    * permutation i is h -> (a_i * h + b_i) mod (2^31 - 1), products bounded
    * well inside int64. Computed by a native codegen Catalyst expression
    * ([[MinHashSignatureExpr]]) — one pass, |shingles| hashes +
    * |shingles| * numHashes multiply-mods, inside whole-stage codegen.
    */
  def minHashSignature(shingleCol: Column, numHashes: Int, seed: Long = 42L): Column =
    MinHashSignatureExpr.signature(shingleCol, numHashes, seed)

  /** Explode a signature into (bandIndex, bandHash) rows: `numBands` bands of
    * `rowsPerBand` signature positions each. Pairs agreeing on any full band
    * become candidates; P(candidate) = 1 - (1 - s^r)^b.
    */
  def bandColumns(sigCol: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numBands - 1)),
      j => xxhash64(j, slice(sigCol, j * rowsPerBand + 1, lit(rowsPerBand))))

  /** Candidate pairs (idA < idB) from LSH banding. Bucketed: pairs are only
    * generated inside a (band, bandHash) bucket; `maxBucketSize` caps the
    * quadratic blow-up on pathological buckets (skew guard — at 100 TB a
    * degenerate shingle set would otherwise explode one reducer).
    *
    * Pairs come from a self equi-join on the bucket key, NOT from
    * collect_list + per-row pair expansion: a grouped pair array puts a
    * bucket's entire O(n^2) output into ONE row computed by ONE task (a
    * 10k-id bucket is a 50M-struct array — measured as a 20-CPU-minute
    * single task), while the join streams the same pairs across however
    * many tasks the shuffle gives it.
    */
  /** Pin a candidate frame's partitioning to the configured shuffle
    * parallelism on its join keys. AQE sizes post-shuffle partitions by the
    * join's INPUT bytes, and candidate inputs are byte-small (ids + hashes)
    * while the join OUTPUT can be quadratically larger on dup-heavy corpora
    * — the 10x scale probe measured a 2-task straggler stage writing a
    * coalesced candidate join's entire output. REPARTITION_BY_NUM is exempt
    * from AQE coalescing, so join parallelism follows the configured
    * partition count instead of the input size.
    */
  private[graft] def pinPartitions(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    df.repartition(n, keys: _*)
  }

  /** Partition count for a verify stage that fans per-doc payloads (shingle
    * arrays, embedding vectors) out to `candRows` candidate pairs: the
    * session's shuffle parallelism sizes the byte-small stages, but the
    * verify exchanges carry kilobytes PER PAIR, and a fixed count turns
    * into per-task spill thrash once candidates outgrow it — the sf3 probe
    * measured containment verify at 98 s on 37M candidates over 32
    * partitions vs 21 s over 256 (same values). AQE's byte-based sizing
    * under-provisions here too (39 s): shuffle bytes are lz4-compressed and
    * the stage is CPU-bound, so rows — not bytes — are the right unit.
    * Costs one extra count of the candidate frame (narrow ids; bounded by
    * candidate-gen itself, ~3 s at sf3 vs the ~80 s it saves; at sf0.01 it
    * is milliseconds). The cap bounds task-launch overhead.
    *
    * `rowsPerPartition <= 0` uses the built-in 150k default (sized for
    * shingle-array rows of 2-4 KB); payload-light verifies (embedding
    * vectors, ~0.5 KB/row) pass a larger target. The session's
    * `spark.graft.verify.rowsPerPartition`, when set, overrides BOTH: an
    * escape hatch must be authoritative on every verify path.
    */
  private[graft] def verifyPartitions(spark: org.apache.spark.sql.SparkSession,
                                      candRows: Long,
                                      rowsPerPartition: Long = 0L): Int = {
    val base = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val perPart = GraftConf(spark).verifyRowsPerPartition
      .getOrElse(if (rowsPerPartition > 0) rowsPerPartition else 150000L)
    math.max(base, math.min(4096L, (candRows + perPart - 1) / perPart).toInt)
  }

  /** Pass count for a bounded-footprint chunked verify: the verify join
    * fans kilobyte payloads out to every candidate pair, and its shuffle
    * files live until driver GC — at 10x the certified single-pass scale
    * the one-shot footprint (~300M pairs x 2-4 KB, lz4'd) exceeded this
    * box's free disk (ENOSPC with a healthy plan, SCALE.md r13). Splitting
    * the candidate frame into K deterministic hash(a) bands and releasing
    * each pass's shuffles before the next bounds peak disk at ~1/K, at the
    * cost of re-exchanging the (cached) doc-payload side K times. On a
    * disk-constrained cluster the same dial bounds per-executor shuffle
    * spill. [[GraftConf.verifyChunks]] forces K; [[GraftConf.verifyChunkRows]]
    * sets the per-pass row budget. Default 30M rows/pass, sized by MEASUREMENT
    * against shingle-array payloads (SCALE.md r14: 75M-row containment
    * passes wrote ~43 GB lz4'd, so ~0.6 KB/row on disk -> 30M rows ~ 17 GB
    * per pass). The chunk checkpoints also pin the verify to ONE execution
    * regardless of downstream fan-out: pagerank references the pair frame
    * twice (edge union), and at sf10 the un-chunked twice-executed verify
    * (2 x ~44 GB) is exactly what ENOSPC'd a ~70 GB-free box while the
    * single-consumer ngram query squeaked by. Each extra pass costs one
    * re-exchange of the (cached) doc-payload side — seconds per pass.
    */
  private[graft] def verifyChunkCount(candRows: Long, conf: GraftConf): Int =
    conf.verifyChunks.getOrElse {
      val perChunk = conf.verifyChunkRows
      math.min(64L, math.max(1L, (candRows + perChunk - 1) / perChunk)).toInt
    }

  /** [[verifyChunkCount]] under `spark`'s dials, posted as decision `op`
    * with the candidate figure `mass` it was sized by.
    */
  private[graft] def verifyChunks(spark: org.apache.spark.sql.SparkSession, op: String,
                                  mass: (String, Long)): Int = {
    val k = verifyChunkCount(mass._2, GraftConf(spark))
    GraftDecision.post(spark, op, if (k > 1) "chunked" else "single", mass, "chunks" -> k.toLong)
    k
  }

  /** Run `pass` over K hash-banded slices of the (persisted, counted)
    * candidate frame SEQUENTIALLY: each pass's small verified output is
    * eagerly materialized (`localCheckpoint`), then every shuffle the pass
    * registered is released ([[org.apache.spark.GraftShuffleGc]]) before
    * the next pass runs — peak shuffle disk is one pass's, not the sum.
    * Banding on `a` alone keeps every duplicate of a candidate pair in one
    * slice, so per-slice verify + the caller's dropDuplicates semantics are
    * unchanged; the union of slices is exactly the unchunked output.
    */
  private[graft] def chunkedVerify(cand: DataFrame, k: Int)
                                  (pass: DataFrame => DataFrame): DataFrame =
    chunkedVerifyOn(cand, k, col("a"))(pass)

  /** [[chunkedVerify]] generalized to any banding key — the slice filter
    * must key on a column that is CONSTANT per logical pair (so every
    * duplicate of a pair lands in one slice and per-slice dedup semantics
    * equal the global ones); pair-frames band on `a`, the
    * signature-banded Hamming path bands on its x-side representative.
    */
  private[graft] def chunkedVerifyOn(cand: DataFrame, k: Int, key: Column)
                                    (pass: DataFrame => DataFrame): DataFrame = {
    if (k <= 1) return pass(cand)
    val sc = cand.sparkSession.sparkContext
    val outs = (0 until k).map { i =>
      val before = org.apache.spark.GraftShuffleGc.snapshot(sc)
      val slice = cand.where(pmod(xxhash64(key), lit(k.toLong)) === lit(i.toLong))
      val out = pass(slice).localCheckpoint() // eager: the pass runs HERE
      org.apache.spark.GraftShuffleGc.cleanNewSince(sc, before)
      out
    }
    org.apache.spark.sql.graft.ExpressionBridge.flatUnion(outs)
  }

  /** Upper bound on a bucketed self-join's pair output: Σ n·(n-1)/2 over
    * the `keys` occupancies — one narrow aggregation, the provisioning
    * signal shared by every chunk-dial consumer (see cosineNearDupPairs'
    * rawMass for the multiprobe variant).
    */
  private[graft] def pairMassBound(df: DataFrame, keys: Column*): Long =
    df.groupBy(keys: _*).agg(count(lit(1)).as("__n__"))
      .agg(coalesce(sum(col("__n__") * (col("__n__") - 1) / 2), lit(0)).cast("long"))
      .head.getLong(0)

  def lshCandidates(docs: DataFrame, idCol: String, sigCol: String,
                    numBands: Int, rowsPerBand: Int,
                    maxBucketSize: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = pinPartitions(docs
      .select(col(idCol), posexplode(bandColumns(col(sigCol), numBands, rowsPerBand)).as(Seq("band", "band_hash"))),
      col("band"), col("band_hash"))
    // Bucket-size gate as a window count: ONE shuffle on (band, band_hash),
    // after which the rows sit hash-partitioned on exactly the self-join
    // keys — the join reuses that partitioning (sorts only, no further
    // exchange) and the second reference becomes a ReusedExchange. The
    // earlier groupBy+join formulation shuffled the banded rows twice more.
    val ok = banded
      .withColumn("__bucket_n__",
        count(lit(1)).over(Window.partitionBy(col("band"), col("band_hash"))))
      .where(col("__bucket_n__").between(2, maxBucketSize))
      .drop("__bucket_n__")
    ok.as("x").join(ok.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** Exact Jaccard over two array columns, computed as
    * |intersect| / |union| in double — identical arithmetic to the DuckDB
    * oracle (`len(list_intersect)/len(list_distinct(list_concat))`).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Adds an exact `jaccard` column over pre-sorted shingle columns
    * `sh_a`/`sh_b` and keeps rows with jaccard >= threshold — via the
    * early-exit kernel: jaccard >= t needs an intersection of at least
    * ceil(t/(1+t) * (|a|+|b|)) (same identity as the PPJoin alpha, same
    * 1e-9 ceil guard), so the merge bails as soon as the remaining tail
    * cannot reach it. ~99.9% of candidates fail verify at sf1; the bail
    * converts most of their merges from O(|a|+|b|) to the prefix that
    * proves failure. Kept rows always run to completion — their count and
    * jaccard are exact; the final threshold filter stays authoritative.
    */
  private def keepJaccardAtLeast(pairs: DataFrame, threshold: Double): DataFrame = {
    val needed = ceil(lit(threshold / (1 + threshold)) *
      (size(col("sh_a")) + size(col("sh_b"))).cast("double") - lit(1e-9)).cast("int")
    val i = col("__graft_i__").cast("double")
    pairs
      .withColumn("__graft_i__",
        SortedIntersectCountExpr.sortedIntersectAtLeast(col("sh_a"), col("sh_b"), needed))
      .where(col("__graft_i__") >= 0)
      .withColumn("jaccard",
        i / (size(col("sh_a")).cast("double") + size(col("sh_b")).cast("double") - i))
      .where(col("jaccard") >= threshold)
  }

  /** Verify candidate pairs with exact Jaccard over the shingle sets; keeps
    * pairs with jaccard >= threshold. Joins candidates back to the (small
    * relative to pairs) per-doc shingle table twice — shuffle joins on the
    * id keys, no broadcast assumption.
    */
  def verifyPairs(candidates: DataFrame, docShingles: DataFrame,
                  idCol: String, shingleCol: String, threshold: Double): DataFrame =
    verifyPairsOwned(candidates, docShingles, idCol, shingleCol, threshold)._1

  /** [[verifyPairs]] returning the candidate cache it creates, so `With`
    * owners can release it. The candidate frame is persisted and COUNTED
    * before the verify plan is built: the count sizes the verify exchanges
    * ([[verifyPartitions]] — a fixed partition count turns into spill
    * thrash once candidates outgrow it, measured 98 s → 21 s at sf3), and
    * the cache means candidate generation still executes exactly once (an
    * unpersisted count would re-run the whole candidate chain per action —
    * measured as a 3x regression on the PPJoin family at sf3, plus shuffle
    * files for both executions held on disk until JVM exit).
    */
  private[graft] def verifyPairsOwned(candidates: DataFrame, docShingles: DataFrame,
                                      idCol: String, shingleCol: String,
                                      threshold: Double): (DataFrame, DataFrame) = {
    // Sort once per DOC row (before the join fans each array out to its
    // candidates), merge-count once per PAIR: the sorted kernel does no
    // hashing and no per-pair allocation — the PPJoin probe measured the
    // hash-set formulation as the dominant stage at sf1.
    val left = docShingles.select(col(idCol).as("a"),
      sort_array(col(shingleCol)).as("sh_a"))
    val right = docShingles.select(col(idCol).as("b"),
      sort_array(col(shingleCol)).as("sh_b"))
    // Pin BOTH verify exchanges by number (REPARTITION_BY_NUM is exempt
    // from AQE coalescing), scaled to the measured candidate count: the
    // verify is CPU-bound set intersection, size-based coalescing would
    // collapse it onto one task (measured serial at sf0.1). The second pin
    // matters as much as the first: without it the exchange that hauls
    // sh_a to the b-side join falls back to the session partition count.
    val cand = candidates
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = releaseOnFailure(Seq(cand))(cand.count())
    val k = verifyChunks(cand.sparkSession, "verify.jaccard", "candidates" -> cnt)
    val n = verifyPartitions(candidates.sparkSession, (cnt + k - 1) / k)
    val result = chunkedVerify(cand, k) { slice =>
      keepJaccardAtLeast(
          slice.repartition(n, col("a"))
            .join(left, "a")
            .repartition(n, col("b"))
            .join(right, "b"),
          threshold)
        .select(col("a"), col("b"), col("jaccard"))
    }
    (result, cand)
  }

  /** Widen degenerate input partitioning before CPU-heavy per-row work: a
    * single small parquet file arrives as ONE partition, serializing the
    * shingling on one thread. No-op when the source already has enough
    * splits (any real-scale read does).
    */
  private def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** MinHash-LSH near-duplicate pair detection, end to end: shingle →
    * signature → banded buckets → candidate pairs → exact verify. The
    * default geometry is 192 hashes / 64 bands → r=3 rows per band: a pair
    * AT the 0.5 threshold misses with probability (1 - t^r)^b =
    * 0.875^64 ≈ 2e-4 (the boundary-recall spec asserts >= 0.99), while a
    * 10%-similar pair becomes a candidate with only 1-(1-0.001)^64 ≈ 6%
    * probability. Geometry is a recall/precision dial: r=2 at b=64 would
    * push boundary recall to ~1-1e-8 but admits ~47% of 10%-similar pairs
    * — the candidate set degenerates toward all-pairs (measured as a
    * 20-minute bench query at sf0.1); r=4 at b=32 misses ~13% at the
    * boundary.
    */
  def minHashDedup(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 192,
                   numBands: Int = 64, threshold: Double = 0.5,
                   seed: Long = 42L): DataFrame =
    minHashDedupImpl(docs, idCol, textCol, shingleSize, numHashes, numBands,
      threshold, seed)._1

  /** [[minHashDedup]] with cache ownership: runs `use` over the pair frame
    * and unpersists the shingle cache when it returns. Library callers not
    * running a per-query `spark.catalog.clearCache()` discipline (as Bench
    * does) use this form so the persisted intermediate cannot outlive the
    * computation — `use` must fully consume the frame before returning.
    */
  def minHashDedupWith[T](docs: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, numHashes: Int = 192,
                          numBands: Int = 64, threshold: Double = 0.5,
                          seed: Long = 42L)(use: DataFrame => T): T = {
    val (result, owned) = minHashDedupImpl(docs, idCol, textCol, shingleSize,
      numHashes, numBands, threshold, seed)
    try use(result) finally owned.foreach(_.unpersist(blocking = false))
  }

  private def minHashDedupImpl(docs: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int, numHashes: Int,
                               numBands: Int, threshold: Double,
                               seed: Long): (DataFrame, Seq[DataFrame]) = {
    val rowsPerBand = numHashes / numBands
    // persisted: the shingle table feeds candidate generation AND both sides
    // of the verify join — recomputing the shingling per consumer triples
    // the text-processing cost (same reason the reference checkpoints
    // between stages)
    val sh = shingleTable(docs, idCol, textCol, shingleSize)
    val withSig = sh.df.withColumn("sig", minHashSignature(col("sh"), numHashes, seed))
    val candidates = lshCandidates(withSig, idCol, "sig", numBands, rowsPerBand)
    val (verified, candCache) = verifyPairsOwned(candidates, sh.df, idCol, "sh", threshold)
    (verified, sh.owned :+ candCache)
  }

  /** CROSS-corpus near-duplicate join: (new, ref) pairs with Jaccard >=
    * `threshold` between a NEW corpus and a REFERENCE corpus — the
    * incremental-ingest primitive (dedup a fresh crawl against the corpus
    * already trained on) and the fuzzy big brother of [[decontaminate]].
    *
    * Same MinHash geometry and recall as [[minHashDedup]]; candidates come
    * from a band-key equi-join BETWEEN the sides only (never within a
    * side), so reference-internal duplicate mass generates no pairs and the
    * reference is never self-joined. `maxBucketSize` caps each side's rows
    * per band bucket (the [[lshCandidates]] skew guard).
    *
    * Output: (a = new id, b = ref id, jaccard). A new doc is "novel" iff it
    * has no row here — the caller anti-joins on `a`.
    */
  def minHashCrossDedup(newDocs: DataFrame, refDocs: DataFrame,
                        idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 192,
                        numBands: Int = 64, threshold: Double = 0.5,
                        seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame =
    minHashCrossDedupImpl(newDocs, refDocs, idCol, textCol, shingleSize,
      numHashes, numBands, threshold, seed, maxBucketSize)._1

  /** [[minHashCrossDedup]] with cache ownership — see [[minHashDedupWith]]. */
  def minHashCrossDedupWith[T](newDocs: DataFrame, refDocs: DataFrame,
                               idCol: String, textCol: String,
                               shingleSize: Int = 3, numHashes: Int = 192,
                               numBands: Int = 64, threshold: Double = 0.5,
                               seed: Long = 42L, maxBucketSize: Int = 10000)
                              (use: DataFrame => T): T = {
    val (result, owned) = minHashCrossDedupImpl(newDocs, refDocs, idCol, textCol,
      shingleSize, numHashes, numBands, threshold, seed, maxBucketSize)
    try use(result) finally owned.foreach(_.unpersist(blocking = false))
  }

  private def minHashCrossDedupImpl(newDocs: DataFrame, refDocs: DataFrame,
                                    idCol: String, textCol: String,
                                    shingleSize: Int, numHashes: Int, numBands: Int,
                                    threshold: Double, seed: Long, maxBucketSize: Int
                                   ): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val rowsPerBand = numHashes / numBands
    // each side's shingle table feeds banding AND its half of the verify
    // join — persisted for the same reason as minHashDedupImpl
    val newSide = shingleTable(newDocs, idCol, textCol, shingleSize)
    val refSide = shingleTable(refDocs, idCol, textCol, shingleSize)
    val (shNew, shRef) = (newSide.df, refSide.df)
    def banded(sh: DataFrame, out: String): DataFrame = {
      val b = pinPartitions(
        sh.withColumn("sig", minHashSignature(col("sh"), numHashes, seed))
          .select(col(idCol).as(out),
            posexplode(bandColumns(col("sig"), numBands, rowsPerBand)).as(Seq("band", "band_hash"))),
        col("band"), col("band_hash"))
      // per-side bucket cap (no >=2 floor: a singleton bucket on one side
      // still matches the other side). Window count = ONE shuffle that the
      // cross join below reuses — same shape as lshCandidates.
      b.withColumn("__bucket_n__",
          count(lit(1)).over(Window.partitionBy(col("band"), col("band_hash"))))
        .where(col("__bucket_n__") <= maxBucketSize)
        .drop("__bucket_n__")
    }
    val cand = banded(shNew, "a").join(banded(shRef, "b"), Seq("band", "band_hash"))
      .select(col("a"), col("b")).distinct()
    // exact verify; candidate partitioning pinned as in verifyPairs
    val n = cand.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val result = keepJaccardAtLeast(
        cand.repartition(n, col("a"))
          .join(shNew.select(col(idCol).as("a"), sort_array(col("sh")).as("sh_a")), "a")
          .join(shRef.select(col(idCol).as("b"), sort_array(col("sh")).as("sh_b")), "b"),
        threshold)
      .select(col("a"), col("b"), col("jaccard"))
    (result, newSide.owned ++ refSide.owned)
  }

  // ---- Exact prefix-filter joins: one core for the self, cross and
  // ---- containment modes and for every tier.
  //
  // Tokens are globally ordered RAREST-FIRST (corpus frequency, token
  // tiebreak — any total order is complete, but rare-first makes the emitted
  // prefix tokens the least-shared ones, collapsing the candidate count on
  // skewed vocabularies) and each document emits only its first
  // |S| - ceil(t*|S|) + 1 tokens. Two sets with Jaccard >= t must share
  // >= ceil(t*|S|) tokens, so they collide on at least one prefix token:
  // candidate generation is COMPLETE for the threshold, and the verify pass
  // is exact. Every ceil carries a 1e-9 guard: an epsilon-above-integer
  // double product would inflate it, shrinking a prefix or tightening a
  // prune past a just-qualifying pair (a completeness break at non-dyadic
  // thresholds).
  //
  // Tier 1 (the side built into postings fits the one gate, [[driverTier]])
  // is one driver collect ([[PrefixCrossIndex.driverKernel]]) and one narrow
  // probe pass ([[PrefixCrossIndex.kernelProbe]]). Past the gate the same
  // order, prefixes and prunes run as a distributed plan: [[sortedTokens]] →
  // [[prefixRows]] → token equi-join under [[jaccardPrunes]] → exact verify.
  // Every tier emits the same rows, scores bit-equal.
  //
  // Ids of the side built into postings must be unique among rows with a
  // non-null id; a duplicate throws in every tier (the driver build's map
  // `put`, or [[uniqueOr]] inside an aggregation on the id that needs no
  // exchange of its own). Rows with a null id pair with nothing.

  /** A shingle table (id, sh) with the two figures the tier gate reads.
    * `owned` is the cache this call created: empty when an earlier call
    * already cached the same plan, whose cache stays its creator's.
    */
  private final case class Shingled(df: DataFrame, owned: Seq[DataFrame],
                                    rows: Long, tokens: Long)

  /** The persisted (id, sh) shingle table of `docs`, materialized by ONE
    * aggregation that also measures rows and Σ |sh| — before the consumers
    * race to populate the same cache blocks (concurrent first-reads of an
    * unmaterialized persist stall each other — measured 50x on the
    * contract plane). Persists only a plan not cached yet ([[persistOnce]]),
    * so calls on one `docs` frame share a cache and no `With` form releases
    * another's.
    */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int): Shingled = {
    val df = widen(docs).select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
    val owned = persistOnce(df)
    val st = df.agg(count(lit(1)),
      coalesce(sum(when(col("sh").isNotNull, size(col("sh")))), lit(0L))).head()
    Shingled(df, owned, st.getLong(0), st.getLong(1))
  }

  /** `df` persisted, as the list of the caches this call owns: empty when
    * the plan is cached already (by an earlier call, or by a concurrent one
    * in another session of the context), whose cache stays its creator's.
    * The check and the persist hold one lock, so exactly one caller owns a
    * cache.
    */
  private[text] def persistOnce(df: DataFrame): Seq[DataFrame] = PersistLock.synchronized {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) Nil
    else Seq(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private object PersistLock

  /** `body`, unpersisting `owned` if it throws (a duplicate id fails the
    * build or the first action over the candidates).
    */
  private[text] def releaseOnFailure[T](owned: => Seq[DataFrame])(body: => T): T =
    try body catch {
      case e: Throwable =>
        owned.foreach(_.unpersist(blocking = false))
        throw e
    }

  /** Driver heap per shingle held by tier 1's three maps (frequencies,
    * postings, id → sorted shingles) plus their broadcast copy: measured
    * with heap before/after [[PrefixCrossIndex.driverKernel]] on a
    * `GenScale` corpus (SCALE.md, 2026-10-19 note), rounded up.
    */
  private[text] val DriverBytesPerToken = 160L

  /** Share of the driver's max heap tier 1's maps may take. */
  private[text] val DriverHeapShare = 0.25

  /** The one tier-1 gate, for the side built into driver postings (the
    * corpus of a self or containment join, the reference of the cross
    * index): tier 1 unless the side has more than
    * [[GraftConf.ppjoinBroadcastRows]] rows (default 100k; `0` keeps every
    * non-empty side off tier 1) or its estimated map bytes (`tokens` ×
    * [[DriverBytesPerToken]]) exceed [[DriverHeapShare]] of `maxHeap` —
    * ≤100k long documents must not OOM the driver.
    */
  private[text] def driverTier(rows: Long, tokens: Long, conf: GraftConf,
                               maxHeap: Long = Runtime.getRuntime.maxMemory): Boolean =
    rows <= conf.ppjoinBroadcastRows &&
      tokens.toDouble * DriverBytesPerToken <= maxHeap * DriverHeapShare

  /** [[driverTier]] for `sh` (only if `eligible`), posted as decision `op`:
    * `tier1` or `distributed`, by rows, Σ shingles and estimated driver
    * bytes against the session's caps.
    */
  private def gate(op: String, sh: Shingled, eligible: Boolean = true): Boolean = {
    val spark = sh.df.sparkSession
    val conf = GraftConf(spark)
    val maxHeap = Runtime.getRuntime.maxMemory
    val tier1 = eligible && driverTier(sh.rows, sh.tokens, conf, maxHeap)
    GraftDecision.post(spark, op, if (tier1) "tier1" else "distributed",
      "rows" -> sh.rows, "tokens" -> sh.tokens, "bytes" -> sh.tokens * DriverBytesPerToken,
      "rowCap" -> conf.ppjoinBroadcastRows, "byteCap" -> (maxHeap * DriverHeapShare).toLong)
    tier1
  }

  /** `value`, unless `n` > 1 rows share the non-null `id`: then the plan
    * raises an error naming the id — the distributed tiers' unique-id check,
    * evaluated inside an aggregation on the id.
    */
  private def uniqueOr(id: Column, n: Column, value: Column, idCol: String): Column =
    when(id.isNotNull && n > 1,
      raise_error(concat(lit(s"duplicate $idCol "), id.cast("string")))).otherwise(value)

  /** Corpus document frequency of each exploded (id, tok) row as a window
    * count: one shuffle on tok, instead of a count aggregation joined back
    * on (a second shuffle of the same frame).
    */
  private def windowFreq(ex: DataFrame): DataFrame =
    ex.withColumn("cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))

  /** The one expression prefix chain, first half: explode `sh`, attach each
    * token's frequency (`freq` adds `cnt`), and regroup per document as
    * `sh_sorted` = sort_array(struct(cnt, tok)) — struct order is the global
    * rare-first total order with a deterministic tiebreak. With `unique`,
    * the regrouping aggregation also rejects a duplicate id.
    */
  private def sortedTokens(sh: DataFrame, idCol: String, freq: DataFrame => DataFrame,
                           unique: Boolean = true): DataFrame = {
    val ex = sh.select(col(idCol), posexplode(col("sh")).as(Seq("__p__", "tok")))
    val sorted = freq(ex).groupBy(col(idCol)).agg(
      sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sh_sorted"),
      count(when(col("__p__") === 0, true)).as("__docs__"))
    sorted.select(col(idCol),
      (if (unique) uniqueOr(col(idCol), col("__docs__"), col("sh_sorted"), idCol)
       else col("sh_sorted")).as("sh_sorted"))
  }

  /** The chain's second half: each document's rare-first prefix rows
    * (id, sz, pos, tok) — the first |S| - ceil(t*|S|) + 1 tokens, or every
    * token with `full` — pinned on tok (the candidate join's output is
    * quadratic in bucket occupancy while its input is byte-small; see
    * [[pinPartitions]]).
    */
  private def prefixRows(sorted: DataFrame, idCol: String, threshold: Double,
                         full: Boolean = false): DataFrame = {
    val sz = size(col("sh_sorted"))
    val toks =
      if (full) col("sh_sorted")
      else slice(col("sh_sorted"), lit(1),
        (sz - ceil(lit(threshold) * sz - lit(1e-9)).cast("int") + 1).cast("int"))
    pinPartitions(sorted.select(col(idCol), sz.as("sz"),
        posexplode(transform(toks, x => x.getField("tok"))).as(Seq("pos", "tok"))),
      col("tok"))
  }

  /** `side`'s length prune: a partner needs at least ceil(t*|side|) tokens. */
  private def minSize(threshold: Double, side: String): Column =
    ceil(lit(threshold) * col(s"$side.sz") - lit(1e-9))

  /** The PPJoin prunes between prefix rows `x` and `y` (Xiao et al. 2008),
    * both completeness-preserving and indifferent to pair orientation, so
    * they hold for self and cross pairs alike:
    *  - length: jaccard >= t implies |I| >= t*|U| >= t*max(|x|,|y|) and
    *    |I| <= min(|x|,|y|), so min >= t*max;
    *  - position: jaccard >= t needs overlap alpha = ceil(t/(1+t)*(|x|+|y|));
    *    a collision at 0-based prefix positions (i, j) supports at most
    *    1 + min(|x|-i-1, |y|-j-1) overlap. The earliest shared token gives
    *    the loosest bound, so a qualifying pair survives at least once.
    */
  private def jaccardPrunes(threshold: Double): Column = {
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("x.sz") + col("y.sz")) - lit(1e-9))
    col("y.sz") >= minSize(threshold, "x") && col("x.sz") >= minSize(threshold, "y") &&
      alpha <= lit(1) + least(col("x.sz") - col("x.pos") - 1, col("y.sz") - col("y.pos") - 1)
  }

  /** Exact Jaccard-threshold self-join via prefix filtering (PPJoin-style):
    * every pair (a < b) of `docs` with jaccard >= `threshold`, none missed.
    * Candidates come from an equi-join on prefix tokens (shuffle on the
    * token key), never all-pairs; the frequency order costs one narrow
    * token-count window. Integral ids within the tier-1 gate run the driver
    * kernel. `idCol` must be unique among non-null ids (a duplicate throws).
    */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    prefixFilterJoinImpl(docs, idCol, textCol, shingleSize, threshold)._1

  /** [[prefixFilterJoin]] with cache ownership — see [[minHashDedupWith]]. */
  def prefixFilterJoinWith[T](docs: DataFrame, idCol: String, textCol: String,
                              shingleSize: Int = 3, threshold: Double = 0.5)
                             (use: DataFrame => T): T = {
    val (result, owned) = prefixFilterJoinImpl(docs, idCol, textCol, shingleSize, threshold)
    try use(result) finally owned.foreach(_.unpersist(blocking = false))
  }

  private def prefixFilterJoinImpl(docs: DataFrame, idCol: String, textCol: String,
                                   shingleSize: Int, threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val sh = shingleTable(docs, idCol, textCol, shingleSize)
    releaseOnFailure(sh.owned)(selfPairs(sh, idCol, threshold))
  }

  private def selfPairs(sh: Shingled, idCol: String,
                        threshold: Double): (DataFrame, Seq[DataFrame]) = {
    // the kernel orders pairs a < b as longs, like Catalyst's numeric <
    val idIntegral = sh.df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (gate("ppjoin.self", sh, eligible = idIntegral))
      return (PrefixCrossIndex.kernelProbe(sh.df, idCol, threshold,
        PrefixCrossIndex.driverKernel(sh.df, idCol, threshold), PrefixCrossIndex.SelfJaccard),
        sh.owned)
    val prefixes = prefixRows(sortedTokens(sh.df, idCol, windowFreq), idCol, threshold)
    val candidates = prefixes.as("x").join(prefixes.as("y"),
        col("x.tok") === col("y.tok") && col(s"x.$idCol") < col(s"y.$idCol") &&
          jaccardPrunes(threshold))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
    // A pair sharing k prefix tokens appears k times — but the position
    // filter leaves only ~5% duplicates (measured at sf0.1), so verifying
    // dups and deduplicating the (tiny) verified output is cheaper than a
    // full-shuffle distinct over the candidate set.
    val (verified, candCache) = verifyPairsOwned(candidates, sh.df, idCol, "sh", threshold)
    (verified.dropDuplicates("a", "b"), sh.owned :+ candCache)
  }

  /** EXACT cross-corpus Jaccard-threshold join via prefix filtering — the
    * deterministic counterpart of [[minHashCrossDedup]]: every (new, ref)
    * pair with jaccard >= `threshold`, none missed, at any corpus size.
    *
    * LSH banding is probabilistic per pair (miss odds ~(1-t^r)^b), so a
    * corpus large enough to hold many just-at-threshold pairs WILL drop
    * one — measured at 30x the design scale, where the banded operator
    * first diverged from the exact oracle. Prefix filtering has no such
    * term. This is one probe of a [[PrefixCrossIndex]] over `refDocs`.
    *
    * Output: (a = new id, b = ref id, jaccard), exact. The id namespaces
    * may overlap; ref ids must be unique among non-null ids (a duplicate
    * throws), new ids should be unique.
    */
  def prefixFilterCrossJoin(newDocs: DataFrame, refDocs: DataFrame,
                            idCol: String, textCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    buildPrefixCrossIndex(refDocs, idCol, textCol, shingleSize, threshold).joinBatch(newDocs)

  /** [[prefixFilterCrossJoin]] releasing the index and the probe's caches
    * when `use` returns — see [[minHashDedupWith]].
    */
  def prefixFilterCrossJoinWith[T](newDocs: DataFrame, refDocs: DataFrame,
                                   idCol: String, textCol: String,
                                   shingleSize: Int = 3, threshold: Double = 0.5)
                                  (use: DataFrame => T): T = {
    val index = buildPrefixCrossIndex(refDocs, idCol, textCol, shingleSize, threshold)
    try index.joinBatchWith(newDocs)(use) finally index.release()
  }

  /** Pre-built reference-side index for REPEATED exact prefix-filter cross
    * joins against one immutable corpus: [[prefixFilterCrossJoin]] probes it
    * once, the streaming front door ([[graft.streaming.Streaming]]
    * crossDedupSink) once per micro-batch — re-deriving the reference's
    * shingle table, token frequencies and rare-first prefixes per batch was
    * most of the per-batch cost (the r14 2.3× exactness-upgrade tax).
    *
    * The shared total order is (REFERENCE-corpus token frequency, token),
    * with batch tokens unseen in the reference ordered first (cnt 0). The
    * prefix-filter completeness lemma holds for ANY total order applied
    * identically to both sides; this one is a pure token function, so it
    * is frozen with the index. A token shared by a qualifying (new, ref)
    * pair is by definition in the reference, so it carries a real
    * frequency on both sides; unseen-in-ref tokens occupy early prefix
    * slots on the batch side only and can never collide — they cost
    * nothing and drop nothing. Prunes are [[jaccardPrunes]]; the verify is
    * exact Jaccard.
    *
    * Three tiers, chosen at build:
    *  1. the reference passes [[driverTier]]: driver-built postings, and
    *     every batch is one narrow [[PrefixCrossIndex.kernelProbe]] pass;
    *  2. its vocabulary fits [[GraftConf.crossindexBroadcastVocabRows]]
    *     (default 4M tokens, ~40 B each): the frequencies are a broadcast
    *     map, both sides' prefixes come from [[PrefixCrossIndex.prefixKernel]], and
    *     the reference prefixes and verify side are persisted once;
    *  3. otherwise the persisted token counts feed the expression chain.
    *
    * Release with [[PrefixCrossIndex.release]] (or a session
    * `catalog.clearCache()`).
    */
  final class PrefixCrossIndex private[text] (
      idCol: String, textCol: String, shingleSize: Int, threshold: Double,
      private[text] val tier: PrefixCrossIndex.Tier) {
    import PrefixCrossIndex._

    /** Exact cross pairs (a = new id, b = ref id, jaccard) for one batch
      * of new documents against the indexed reference.
      */
    def joinBatch(newDocs: DataFrame): DataFrame =
      joinBatchImpl(newDocs)._1

    /** [[joinBatch]] releasing the per-batch caches (batch shingles +
      * verified-candidate cache) when `use` returns; the index's own
      * caches live on for the next batch.
      */
    def joinBatchWith[T](newDocs: DataFrame)(use: DataFrame => T): T = {
      val (result, owned) = joinBatchImpl(newDocs)
      // the jobs `use` starts run the probe (tier 1) or the verify
      val phase = tier match {
        case _: DriverKernel => "xdedup: kernel probe"
        case _: Distributed => "xdedup: verify+sink"
      }
      try JobDescription.scoped(newDocs.sparkSession.sparkContext, phase)(use(result))
      finally owned.foreach(_.unpersist(blocking = false))
    }

    private def joinBatchImpl(newDocs: DataFrame): (DataFrame, Seq[DataFrame]) = tier match {
      case DriverKernel(rk) =>
        // no batch-side persist, count or candidate frame: the kernel's
        // per-row candidate set is already (a, b)-distinct
        val shNew = widen(newDocs).select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
        (kernelProbe(shNew, idCol, threshold, rk, CrossJaccard), Nil)
      case d: Distributed =>
        // the row count also drives the verify's batch-side broadcast decision
        val sh = JobDescription.scoped(newDocs.sparkSession.sparkContext, "xdedup: batch shingles")(
          shingleTable(newDocs, idCol, textCol, shingleSize))
        releaseOnFailure(sh.owned)(distributedProbe(sh, d))
    }

    private def distributedProbe(sh: Shingled, d: Distributed): (DataFrame, Seq[DataFrame]) = {
      val sc = sh.df.sparkSession.sparkContext
      val newPrefixes = d.freq match {
        case Left(bc) => pinPartitions(prefixKernel(sh.df, idCol, threshold, bc), col("tok"))
        case Right(tokenCounts) =>
          prefixRows(sortedTokens(sh.df, idCol, ex =>
            ex.join(tokenCounts, Seq("tok"), "left")
              .withColumn("cnt", coalesce(col("cnt"), lit(0L))), unique = false),
            idCol, threshold)
      }
      val candidates = newPrefixes.as("x").join(d.refPrefixes.as("y"),
          col("x.tok") === col("y.tok") && jaccardPrunes(threshold))
        .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      val (verified, candCache) = JobDescription.scoped(sc, "xdedup: candidates")(
        verifyAgainstIndex(candidates, sh.df, sh.rows, d))
      (verified.dropDuplicates("a", "b"), sh.owned :+ candCache)
    }

    /** Per-batch exact-Jaccard verify against the PRE-SORTED, PRE-PARTITIONED
      * reference verify side: the batch side (small by construction in a
      * streaming probe) attaches by broadcast when it fits, and the candidate
      * stream is the only thing exchanged — hash(b) into the reference's
      * frozen layout. Chunk-dial semantics preserved ([[chunkedVerify]]);
      * oversized batches or chunk slices fall back to the demand-sized
      * two-exchange join (bounded per-task pair fan-out, the sf3 lesson),
      * still reusing the pre-sorted right side.
      */
    private def verifyAgainstIndex(candidates: DataFrame, shNew: DataFrame,
                                   batchRows: Long, d: Distributed): (DataFrame, DataFrame) = {
      val spark = candidates.sparkSession
      val left = shNew.select(col(idCol).as("a"), sort_array(col("sh")).as("sh_a"))
      val cand = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cnt = releaseOnFailure(Seq(cand))(cand.count())
      val k = verifyChunks(spark, "verify.crossindex", "candidates" -> cnt)
      val perChunk = (cnt + k - 1) / k
      val leftBroadcastable = batchRows <= BroadcastBatchRows
      // per-task pair fan-out stays within the verify row target when the
      // chunk slice spreads over the reference's frozen partition count
      val perPart = GraftConf(spark).verifyRowsPerPartition.getOrElse(150000L)
      val fitsFrozenLayout = perChunk <= perPart * d.refVerifyParts
      val result = chunkedVerify(cand, k) { slice =>
        val joined =
          if (leftBroadcastable && fitsFrozenLayout)
            slice.join(org.apache.spark.sql.functions.broadcast(left), "a")
              .repartition(d.refVerifyParts, col("b"))
              .join(d.refVerify, "b")
          else {
            val n = verifyPartitions(spark, perChunk)
            slice.repartition(n, col("a")).join(left, "a")
              .repartition(n, col("b")).join(d.refVerify, "b")
          }
        keepJaccardAtLeast(joined, threshold)
          .select(col("a"), col("b"), col("jaccard"))
      }
      (result, cand)
    }

    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Releases what the tier owns, once; later calls are no-ops. */
    def release(): Unit = if (released.compareAndSet(false, true)) tier.release()
  }

  object PrefixCrossIndex {
    /** Batch rows whose shingle arrays (~2-4 KB/row) the verify broadcasts. */
    private[text] val BroadcastBatchRows = 100000L

    /** Where an index keeps its reference. */
    private[text] sealed trait Tier { def release(): Unit }

    /** Tier 1: the reference's maps, broadcast from the driver. */
    private[text] final case class DriverKernel(rk: RefKernel) extends Tier {
      def release(): Unit = rk.destroy()
    }

    /** Tiers 2 and 3: the reference's rare-first prefix rows (pinned on
      * tok) and its verify side (b, sorted sh_b) hash-partitioned on b into
      * `refVerifyParts`, both persisted; `freq` is the frozen vocabulary, a
      * broadcast map (tier 2) or the persisted token counts (tier 3).
      * `owned` lists every cache the tier holds, the shingle table's too.
      */
    private[text] final case class Distributed(
        refPrefixes: DataFrame, refVerify: DataFrame, refVerifyParts: Int,
        freq: Either[org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]],
          DataFrame],
        owned: Seq[DataFrame]) extends Tier {
      def release(): Unit = {
        owned.foreach(_.unpersist(blocking = false))
        freq.fold(_.destroy(), _ => ())
      }
    }

    /** What a tier-1 probe pairs: one corpus's Jaccard pairs (a < b,
      * integral ids), Jaccard pairs across two corpora, or ordered
      * containment pairs (a != b).
      */
    private[text] sealed trait Mode extends Serializable
    private[text] case object SelfJaccard extends Mode
    private[text] case object CrossJaccard extends Mode
    private[text] case object Containment extends Mode

    /** Compact postings list for one token: the rows whose rare-first
      * PREFIX (every token, for containment) contains it, as parallel
      * arrays (id boxed — the operator is id-type-generic; sz/pos
      * primitive).
      */
    private[text] final case class Postings(ids: Array[Any], sz: Array[Int], pos: Array[Int])

    /** Tier-1 broadcast index: frozen token frequencies, the token →
      * postings map, and every indexed doc's rare-first shingles (id →
      * tokens).
      */
    private[text] final case class RefKernel(
        tokFreq: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]],
        postings: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, Postings]],
        refShingles: org.apache.spark.broadcast.Broadcast[java.util.HashMap[Any, Array[String]]],
        refIdField: org.apache.spark.sql.types.StructField) {
      def destroy(): Unit = { tokFreq.destroy(); postings.destroy(); refShingles.destroy() }
    }

    /** `toks` sorted by (frozen frequency asc, UTF-8 byte order asc) — the
      * shared rare-first total order, EXACTLY sort_array's over
      * struct(cnt: long, tok: string) (binary string collation = unsigned
      * UTF-8 byte order; shingles are distinct, so equal keys cannot
      * reorder observable output). Unseen tokens take cnt 0.
      */
    private[text] def rareFirst(toks: scala.collection.Seq[String],
                                freq: java.util.HashMap[String, java.lang.Long]): Array[String] = {
      val n = toks.length
      val keyed = new Array[(Long, Array[Byte], String)](n)
      var i = 0
      while (i < n) {
        val s = toks(i)
        val c = freq.get(s)
        keyed(i) = (if (c == null) 0L else c.longValue(),
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8), s)
        i += 1
      }
      java.util.Arrays.sort(keyed, new java.util.Comparator[(Long, Array[Byte], String)] {
        override def compare(x: (Long, Array[Byte], String),
                             y: (Long, Array[Byte], String)): Int =
          if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
          else java.util.Arrays.compareUnsigned(x._2, y._2)
      })
      val out = new Array[String](n)
      i = 0
      while (i < n) { out(i) = keyed(i)._3; i += 1 }
      out
    }

    /** Rare-first prefix length — the same arithmetic as [[prefixRows]]:
      * n - cast(ceil(t*n - 1e-9) as int) + 1, clamped to [0, n].
      */
    private[text] def prefixLen(n: Int, t: Double): Int =
      math.max(0, math.min(n - math.ceil(t * n - 1e-9).toInt + 1, n))

    /** Rare-first prefix rows (id, sz, pos, tok) of a shingle table under a
      * frozen frequency map, as one narrow pass — row for row the output of
      * [[prefixRows]] over [[sortedTokens]] with the same frequencies. Rows
      * with a null id are dropped (they pair with nothing).
      */
    private[text] def prefixKernel(
        sh: DataFrame, idCol: String, threshold: Double,
        freq: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]]
    ): DataFrame = {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val outSchema = StructType(Seq(
        sh.schema(idCol),
        StructField("sz", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("tok", StringType, nullable = true)))
      sh.select(col(idCol), col("sh")).mapPartitions { it =>
        val m = freq.value
        it.flatMap { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
          else {
            val sorted = rareFirst(r.getSeq[String](1), m)
            val n = sorted.length
            Iterator.tabulate(prefixLen(n, threshold))(p =>
              org.apache.spark.sql.Row(r.get(0), n, p, sorted(p)))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }

    /** The one tier-1 probe: for each row of `sh`, derive the rare-first
      * prefix under the frozen order, scan the postings of each prefix
      * token, keep each entry passing the mode's prunes ONCE (LinkedHashSet),
      * and verify it with an exact intersection count. The prunes and scores
      * carry the distributed plans' arithmetic (ceil with the 1e-9 guard,
      * double division), so the output equals theirs bit-for-bit:
      *  - Jaccard modes: [[jaccardPrunes]] (plus a < b as longs in
      *    [[SelfJaccard]], the expression plan's orientation) and
      *    i / (|a| + |b| - i) >= t, as [[keepJaccardAtLeast]];
      *  - [[Containment]]: the one-sided length prune |b| >= ceil(t*|a|)
      *    and a != b, then C(a->b) = i / |a| >= t, emitted as Spark's
      *    `round(_, 6)` ([[graft.similarity.BruteKernels.round6]]).
      * Emits (a, b, jaccard | containment), (a, b)-distinct by construction.
      */
    private[text] def kernelProbe(sh: DataFrame, idCol: String, threshold: Double,
                                  rk: RefKernel, mode: Mode): DataFrame = {
      val containment = mode == Containment
      val selfOrdered = mode == SelfJaccard
      val score = if (containment) "containment" else "jaccard"
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        sh.schema(idCol).copy(name = "a"),
        rk.refIdField.copy(name = "b"),
        org.apache.spark.sql.types.StructField(score,
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      val t = threshold
      val tFrac = threshold / (1 + threshold)
      sh.select(col(idCol), col("sh")).mapPartitions { it =>
        val freq = rk.tokFreq.value
        val posts = rk.postings.value
        val refSh = rk.refShingles.value
        it.flatMap { r =>
          // a null id matches nothing in the expression plans (a < b,
          // a =!= b, the verify's equi-joins); the postings hold none
          if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
          else {
            val a = r.get(0)
            val aLong = if (selfOrdered) a.asInstanceOf[Number].longValue() else 0L
            val sorted = rareFirst(r.getSeq[String](1), freq)
            val n = sorted.length
            val minSz = math.ceil(t * n - 1e-9)
            val take = prefixLen(n, t)
            val cands = new java.util.LinkedHashSet[Any]()
            var p = 0
            while (p < take) {
              val post = posts.get(sorted(p))
              if (post != null) {
                var j = 0
                while (j < post.ids.length) {
                  val b = post.ids(j)
                  val szY = post.sz(j)
                  val keep =
                    if (containment) szY >= minSz && b != a
                    else (!selfOrdered || aLong < b.asInstanceOf[Number].longValue()) &&
                      szY >= minSz && n >= math.ceil(t * szY - 1e-9) &&
                      math.ceil(tFrac * (n + szY) - 1e-9) <=
                        1L + math.min(n - p - 1, szY - post.pos(j) - 1)
                  if (keep) cands.add(b)
                  j += 1
                }
              }
              p += 1
            }
            if (cands.isEmpty) Iterator.empty
            else {
              val set = new java.util.HashSet[String](n * 2)
              var i = 0
              while (i < n) { set.add(sorted(i)); i += 1 }
              val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
              val itc = cands.iterator()
              while (itc.hasNext) {
                val b = itc.next()
                val bSh = refSh.get(b)
                var inter = 0
                var k = 0
                while (k < bSh.length) {
                  if (set.contains(bSh(k))) inter += 1
                  k += 1
                }
                val s =
                  if (containment) inter.toDouble / n.toDouble
                  else inter.toDouble / (n.toDouble + bSh.length.toDouble - inter.toDouble)
                if (s >= t) out += org.apache.spark.sql.Row(a, b,
                  if (containment) graft.similarity.BruteKernels.round6(s) else s)
              }
              out.iterator
            }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }

    /** The one driver index: one collect of an (id, sh) shingle table →
      * broadcast [[RefKernel]]. Token document frequencies count every row
      * (per-doc shingles are DISTINCT, so rows per token == the expression
      * plan's count over the exploded stream); postings hold each non-null
      * id's rare-first prefix (every token with `fullPostings`, which the
      * containment probe needs: it joins a's prefix against b's full token
      * set). A duplicate non-null id throws.
      */
    private[text] def driverKernel(sh: DataFrame, idCol: String, threshold: Double,
                                   fullPostings: Boolean = false): RefKernel = {
      val sc = sh.sparkSession.sparkContext
      val rows = sh.select(col(idCol), col("sh")).collect()
      val freqMap = new java.util.HashMap[String, java.lang.Long]()
      rows.foreach { r =>
        if (!r.isNullAt(1)) {
          val toks = r.getSeq[String](1)
          var i = 0
          while (i < toks.length) {
            val c = freqMap.get(toks(i))
            freqMap.put(toks(i),
              java.lang.Long.valueOf(if (c == null) 1L else c.longValue() + 1L))
            i += 1
          }
        }
      }
      val refShMap = new java.util.HashMap[Any, Array[String]](
        math.max(16, rows.length * 4 / 3))
      val postBuild = new java.util.HashMap[String,
        scala.collection.mutable.ArrayBuffer[(Any, Int, Int)]]()
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val id = r.get(0)
          val sorted = rareFirst(r.getSeq[String](1), freqMap)
          val n = sorted.length
          val prev = refShMap.put(id, sorted)
          require(prev == null, s"duplicate $idCol $id")
          val take = if (fullPostings) n else prefixLen(n, threshold)
          var p = 0
          while (p < take) {
            var buf = postBuild.get(sorted(p))
            if (buf == null) {
              buf = scala.collection.mutable.ArrayBuffer.empty[(Any, Int, Int)]
              postBuild.put(sorted(p), buf)
            }
            buf += ((id, n, p))
            p += 1
          }
        }
      }
      val postings = new java.util.HashMap[String, Postings](
        math.max(16, postBuild.size() * 4 / 3))
      postBuild.forEach { (tok, buf) =>
        postings.put(tok, Postings(
          buf.map(_._1).toArray, buf.map(_._2).toArray, buf.map(_._3).toArray))
      }
      RefKernel(sc.broadcast(freqMap), sc.broadcast(postings),
        sc.broadcast(refShMap), sh.schema(idCol))
    }
  }

  /** Build a [[PrefixCrossIndex]] over an immutable reference corpus: its
    * token frequencies and rare-first prefixes are derived ONCE for every
    * subsequent [[PrefixCrossIndex.joinBatch]]. `idCol` must be unique
    * among the reference's non-null ids: a duplicate throws here on tier 1,
    * in the first probe on tiers 2 and 3.
    */
  def buildPrefixCrossIndex(refDocs: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.5): PrefixCrossIndex =
    JobDescription.scoped(refDocs.sparkSession.sparkContext, "xdedup: build index")(
      buildPrefixCrossIndexImpl(refDocs, idCol, textCol, shingleSize, threshold))

  private def buildPrefixCrossIndexImpl(refDocs: DataFrame, idCol: String, textCol: String,
                                        shingleSize: Int, threshold: Double): PrefixCrossIndex = {
    val sh = shingleTable(refDocs, idCol, textCol, shingleSize)
    val tier = releaseOnFailure(sh.owned) {
      if (gate("ppjoin.crossindex", sh)) {
        val rk = PrefixCrossIndex.driverKernel(sh.df, idCol, threshold)
        sh.owned.foreach(_.unpersist(blocking = false)) // the maps hold it all
        PrefixCrossIndex.DriverKernel(rk)
      } else distributedTier(sh, idCol, threshold)
    }
    new PrefixCrossIndex(idCol, textCol, shingleSize, threshold, tier)
  }

  /** Tiers 2 and 3 of [[buildPrefixCrossIndex]]; the tier owns the
    * reference's shingle cache too (the first probe derives the persisted
    * prefixes from it).
    */
  private def distributedTier(sh: Shingled, idCol: String,
                              threshold: Double): PrefixCrossIndex.Distributed = {
    val owned = scala.collection.mutable.ArrayBuffer.from(sh.owned)
    // persisted, and materialized by the first probe (its one consumer)
    def kept(df: DataFrame): DataFrame = {
      owned += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    releaseOnFailure(owned.toSeq) {
      // Reference VERIFY side, sorted + hash-partitioned on b ONCE: every
      // batch's verify joins into this frozen layout instead of re-sorting
      // and re-exchanging the reference. Partition count follows the
      // reference rows (the rows-not-bytes rule of verifyPartitions); the
      // groupBy reuses that partitioning and rejects a duplicate id.
      val refVerifyParts = verifyPartitions(sh.df.sparkSession, sh.rows)
      val refVerify = kept(sh.df
        .select(col(idCol).as("b"), col("sh"))
        .repartition(refVerifyParts, col("b"))
        .groupBy(col("b")).agg(first(col("sh")).as("sh"), count(lit(1)).as("__n__"))
        .select(col("b"), uniqueOr(col("b"), col("__n__"), sort_array(col("sh")), idCol).as("sh_b")))
      // groupBy(tok) leaves the counts hash-partitioned on tok, and the
      // persisted relation keeps that partitioning: tier 3's per-batch
      // lookup join then shuffles only the batch tokens. Σ|sh| bounds the
      // vocabulary, so the counts are persisted and counted only when that
      // bound passes the gate.
      val tokenCounts = sh.df.select(explode(col("sh")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val spark = sh.df.sparkSession
      val vocabGate = GraftConf(spark).crossindexBroadcastVocabRows
      val vocabRows = if (sh.tokens <= vocabGate) sh.tokens else kept(tokenCounts).count()
      GraftDecision.post(spark, "crossindex.vocab", if (vocabRows > vocabGate) "tier3" else "tier2",
        "vocabRows" -> vocabRows, "vocabCap" -> vocabGate)
      val freq =
        if (vocabRows > vocabGate) Right(tokenCounts)
        else {
          val m = new java.util.HashMap[String, java.lang.Long](
            math.max(16, (vocabRows * 4 / 3).toInt))
          tokenCounts.collect().foreach(r =>
            m.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1))))
          tokenCounts.unpersist(blocking = false)
          owned -= tokenCounts
          Left(spark.sparkContext.broadcast(m))
        }
      val refPrefixes = kept(freq match {
        case Left(bc) => pinPartitions(PrefixCrossIndex.prefixKernel(sh.df, idCol, threshold, bc),
          col("tok"))
        case Right(_) => prefixRows(sortedTokens(sh.df, idCol, windowFreq), idCol, threshold)
      })
      PrefixCrossIndex.Distributed(refPrefixes, refVerify, refVerifyParts, freq, owned.toSeq)
    }
  }

  /** Asymmetric CONTAINMENT near-dup pairs: ordered pairs (a, b) with
    * `C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| >= threshold` — a document
    * embedded in a longer one (quoted posts, aggregator pages, boilerplate
    * wrappers). Symmetric Jaccard misses these: a 10x-longer container
    * caps jaccard at ~0.1 while containment is ~1.
    *
    * Candidate generation is the one-sided prefix filter: if
    * C(a→b) >= t then fewer than t*|a| of a's tokens are outside its
    * rare-first prefix of length |a| - ceil(t*|a|) + 1, so at least one
    * PREFIX token of `a` is shared with b — probing a full token index of
    * the container side finds every qualifying pair (only the probe side
    * can be prefix-pruned for containment because |b| is unbounded). A size
    * filter (`|b| >= ceil(t*|a|)` — the intersection needs that many
    * tokens in b) prunes the rest. The container-side index is the corpus
    * token table — the documented skew remedy is the LSH family's:
    * pre-collapse exact dups first. `idCol` must be unique among non-null
    * ids (a duplicate throws).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.8): DataFrame =
    containmentPairsImpl(docs, idCol, textCol, shingleSize, threshold)._1

  /** [[containmentPairs]] with cache ownership — see [[minHashDedupWith]]. */
  def containmentPairsWith[T](docs: DataFrame, idCol: String, textCol: String,
                              shingleSize: Int = 3, threshold: Double = 0.8)
                             (use: DataFrame => T): T = {
    val (result, owned) = containmentPairsImpl(docs, idCol, textCol, shingleSize, threshold)
    try use(result) finally owned.foreach(_.unpersist(blocking = false))
  }

  private def containmentPairsImpl(docs: DataFrame, idCol: String, textCol: String,
                                   shingleSize: Int, threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val sh = shingleTable(docs, idCol, textCol, shingleSize)
    releaseOnFailure(sh.owned)(containmentOf(sh, idCol, threshold))
  }

  private def containmentOf(sh: Shingled, idCol: String,
                            threshold: Double): (DataFrame, Seq[DataFrame]) = {
    if (gate("ppjoin.containment", sh))
      return (PrefixCrossIndex.kernelProbe(sh.df, idCol, threshold,
        PrefixCrossIndex.driverKernel(sh.df, idCol, threshold, fullPostings = true),
        PrefixCrossIndex.Containment), sh.owned)
    val sorted = sortedTokens(sh.df, idCol, windowFreq)
    // A pair surfaces once PER SHARED PREFIX TOKEN of `a` (the container
    // index is the full token table, so high-containment pairs share many)
    // — dedupe the id-only candidates BEFORE hauling both shingle arrays
    // through the verify joins; unlike prefixFilterJoin's ~5%-dup position
    // filter, duplication here scales with the overlap itself.
    val candidates = prefixRows(sorted, idCol, threshold).as("x")
      .join(prefixRows(sorted, idCol, threshold, full = true).as("y"),
        col("x.tok") === col("y.tok") && col(s"x.$idCol") =!= col(s"y.$idCol") &&
          col("y.sz") >= minSize(threshold, "x"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .dropDuplicates("a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = sh.df.select(col(idCol).as("a"), sort_array(col("sh")).as("sh_a"))
    val right = sh.df.select(col(idCol).as("b"), sort_array(col("sh")).as("sh_b"))
    // demand-scaled verify parallelism, both exchanges pinned — see
    // [[verifyPairsOwned]] (the sf3 spill cliff was measured HERE: 98 s →
    // 21 s; the persist keeps candidate generation at one execution), and
    // bounded-footprint K-pass chunking past the single-pass disk budget
    // (the sf10 ENOSPC wall — see [[verifyChunkCount]]/[[chunkedVerify]])
    val cnt = releaseOnFailure(Seq(candidates))(candidates.count())
    val k = verifyChunks(sh.df.sparkSession, "verify.containment", "candidates" -> cnt)
    val n = verifyPartitions(sh.df.sparkSession, (cnt + k - 1) / k)
    // early-exit verify: C(a->b) >= t needs an intersection of at least
    // ceil(t * |a|) (one-sided denominator; same ceil guard as alpha)
    val neededC = ceil(lit(threshold) * size(col("sh_a")).cast("double") - lit(1e-9)).cast("int")
    def onePass(slice: DataFrame): DataFrame = {
      slice.repartition(n, col("a")).join(left, "a")
        .repartition(n, col("b")).join(right, "b")
        .withColumn("__graft_i__",
          SortedIntersectCountExpr.sortedIntersectAtLeast(col("sh_a"), col("sh_b"), neededC))
        .where(col("__graft_i__") >= 0)
        .withColumn("containment",
          col("__graft_i__").cast("double") / size(col("sh_a")).cast("double"))
        .where(col("containment") >= threshold)
        .select(col("a"), col("b"), round(col("containment"), 6).as("containment"))
        .dropDuplicates("a", "b")
    }
    val verified = chunkedVerify(candidates, k)(onePass)
    (verified, sh.owned :+ candidates)
  }

  /** Connected components of an undirected pair graph (near-dup pairs →
    * duplicate CLUSTERS) by iterative min-label propagation: every node
    * starts labelled with its own id; each round every node takes the min
    * of its own label and its neighbours' labels; at fixpoint the label is
    * the component's minimum id. Converges in O(max component diameter)
    * rounds — near-dup clusters are dense and shallow (a clone cluster has
    * diameter 1), so rounds stay single-digit at corpus scale. Each round
    * is one shuffle join + one aggregation over (id, label) pairs only; the
    * label frame is persisted per round (lineage cut) and the previous
    * round's cache released. The per-round driver `count` is a convergence
    * check, not a data path.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String, maxRounds: Int = 50): DataFrame =
    connectedComponentsImpl(nodes, edges, idCol, maxRounds)._1

  /** [[connectedComponents]] internals: returns (result, a release thunk
    * freeing the final label blocks). Label propagation needs O(max
    * component diameter) rounds; when `maxRounds` cuts it short the labels
    * are PARTIAL (one real cluster can carry several labels), so
    * non-convergence is loudly logged. The outcome is posted as a
    * `components` decision, `converged` or `partial`, with the rounds
    * taken (Bench reports them next to the query's seconds).
    *
    * Every frame that survives a round boundary is `localCheckpoint`ed to a
    * LogicalRDD — including the EDGE frame and the SEED labels, which
    * otherwise carry the caller's full upstream plan (e.g. the whole PPJoin
    * pipeline) into every round's tree. The driver stringifies the round
    * plan once per action (SQL-start explainString), once per persist
    * (CachedRDDBuilder.cachedName = cachedPlan.toString) and once per
    * checkpoint, and shared subtrees print once per PATH, so an
    * un-truncated tree costs O(2^rounds × upstream plan) of pure
    * single-thread driver string building — jstack-measured 12-22 s of
    * TreeNode.generateTreeString per q_dedup_components run at sf0.1 (r16)
    * on top of the CcProbe r13 blow-up (sf1, every-5 cadence: rounds of
    * 1.6 s, 2.4 s, 14.8 s, 32.6 s while the frames SHRINK). Checkpointing
    * costs the same single materialization the old persist+count flow paid,
    * and the convergence count then scans the checkpoint blocks. Superseded
    * checkpoint blocks are dropped eagerly; the LAST one is released by the
    * returned thunk once the caller has consumed the labels. (Unpersisting
    * a localCheckpointed RDD that will never be recomputed is safe;
    * recomputing one is not — hence thunk-on-consume.)
    */
  private[graft] def connectedComponentsImpl(nodes: DataFrame, edges: DataFrame,
                                             idCol: String, maxRounds: Int
                                            ): (DataFrame, () => Unit) = {
    def cpRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val symRdd = cpRdd(sym)
    var labels = nodes.select(col(idCol).as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var lastCp: Option[org.apache.spark.rdd.RDD[_]] = cpRdd(labels)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val neighborMin = sym
        .join(labels.select(col("id").as("b"), col("label").as("nlabel")), "b")
        .groupBy(col("a")).agg(min(col("nlabel")).as("nmin"))
      val next = labels
        .join(neighborMin.select(col("a").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("__chg__"))
      // checkpoint FIRST (the round's one materialization, eager), then
      // count convergence over the checkpoint blocks — no CacheManager
      // entry, no cachedName toString, constant-size plans throughout
      val cp = next.localCheckpoint()
      changed = cp.agg(count(when(col("__chg__"), true))).head().getLong(0)
      lastCp.foreach(_.unpersist(blocking = false)) // superseded checkpoint
      lastCp = cpRdd(cp)
      labels = cp.drop("__chg__")
      round += 1
    }
    symRdd.foreach(_.unpersist(blocking = false))
    val converged = changed == 0L
    GraftDecision.post(nodes.sparkSession, "components", if (converged) "converged" else "partial",
      "rounds" -> round.toLong, "changed" -> changed, "maxRounds" -> maxRounds.toLong)
    if (!converged)
      System.err.println(s"[components] label propagation did NOT converge in " +
        s"$maxRounds rounds ($changed labels still changing) — a component with " +
        s"diameter > $maxRounds carries PARTIAL labels; raise maxRounds")
    val finalCp = lastCp
    val release = () => finalCp.foreach(_.unpersist(blocking = false))
    (labels.withColumnRenamed("id", idCol).withColumnRenamed("label", "component"), release)
  }

  /** Near-duplicate cluster resolution: exact PPJoin pairs at `threshold`
    * → connected components → one canonical keeper per cluster (the
    * minimum id — swap in a quality argmax upstream if needed). This is
    * the step that turns pair DETECTION into actual deduplication: emit
    * every doc with its cluster id and a keep flag.
    */
  def nearDupComponents(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    nearDupComponentsImpl(docs, idCol, textCol, shingleSize, threshold)._1

  /** [[nearDupComponents]] with cache ownership — see [[minHashDedupWith]]:
    * the final label + membership caches are released when `use` returns,
    * so long-lived library callers do not leak cached frames per call.
    * `use` must fully consume the frame before returning.
    */
  def nearDupComponentsWith[T](docs: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int = 3, threshold: Double = 0.5)
                              (use: DataFrame => T): T = {
    val (result, release) = nearDupComponentsImpl(docs, idCol, textCol, shingleSize, threshold)
    try use(result) finally release()
  }

  private def nearDupComponentsImpl(docs: DataFrame, idCol: String, textCol: String,
                                    shingleSize: Int, threshold: Double
                                   ): (DataFrame, () => Unit) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Exact duplicates collapse FIRST: identical texts are near-dups at any
    // threshold, and a clone cluster of k docs otherwise costs O(k^2) in
    // the PPJoin and k graph nodes (the 20x probe measured the pair graph
    // quadrupling per corpus doubling on a clone-heavy corpus). One row
    // per DISTINCT text — its minimum id — runs the expensive pipeline;
    // members map through their representative afterwards. Labels are
    // UNCHANGED by the collapse: every member's id >= its group's rep id,
    // so min-of-cluster is the same value either way.
    val memb = docs.select(col(idCol), sha2(col(textCol).cast("binary"), 256).as("__ch__"))
      .withColumn("__rep__", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__ch__"))))
      .select(col(idCol), col("__rep__"))
      .persist(lvl)
    memb.count() // materialize before the two consumers below
    val repDocs = docs.join(
      memb.where(col(idCol) === col("__rep__")).select(idCol), Seq(idCol), "left_semi")
    // Materialized once: the pair frame fans out to the node extraction and
    // both directions of the edge symmetrization — without the persist the
    // whole PPJoin re-runs per consumer (measured 4-5x).
    val (rawPairs, ppjoinCaches) =
      prefixFilterJoinImpl(repDocs, idCol, textCol, shingleSize, threshold)
    val pairs = rawPairs.persist(lvl)
    pairs.count()
    // the PPJoin's shingle + candidate caches served their purpose
    // materializing `pairs`
    ppjoinCaches.foreach(_.unpersist(blocking = false))
    // Propagate labels only over representatives that HAVE a near-dup pair:
    // singletons (the overwhelming majority at corpus scale) are their own
    // component by construction and join back afterwards — the iterative
    // frames hold a few percent of the corpus instead of all of it.
    val pairNodes = pairs.select(col("a").as(idCol))
      .union(pairs.select(col("b").as(idCol))).distinct()
    val (comp, ccRelease) =
      connectedComponentsImpl(pairNodes, pairs.select("a", "b"), idCol, maxRounds = 50)
    // the component labels are materialized (every round ends in an action),
    // so the pair cache can go too; the final label cache/checkpoint +
    // membership cache remain with the returned frame
    pairs.unpersist(blocking = false)
    val result = memb
      .join(comp.withColumnRenamed(idCol, "__rep__"), Seq("__rep__"), "left")
      .select(col(idCol), coalesce(col("component"), col("__rep__")).as("component"))
      .withColumn("keep", col(idCol) === col("component"))
    (result, () => { ccRelease(); memb.unpersist(blocking = false) })
  }

  /** [[nearDupComponents]] with a QUALITY-aware keeper: within each dup
    * cluster the row maximizing `scoreCol` survives (min id tiebreak) —
    * "keep the best-written copy", the usual policy when near-dups differ
    * in truncation or boilerplate. One extra per-component window over the
    * component frame; everything stays keyed on component.
    */
  def nearDupKeepBest(docs: DataFrame, idCol: String, textCol: String,
                      scoreCol: Column,
                      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    nearDupKeepBestImpl(docs, idCol, textCol, scoreCol, shingleSize, threshold)._1

  /** [[nearDupKeepBest]] with cache ownership — see [[nearDupComponentsWith]]. */
  def nearDupKeepBestWith[T](docs: DataFrame, idCol: String, textCol: String,
                             scoreCol: Column,
                             shingleSize: Int = 3, threshold: Double = 0.5)
                            (use: DataFrame => T): T = {
    val (result, release) =
      nearDupKeepBestImpl(docs, idCol, textCol, scoreCol, shingleSize, threshold)
    try use(result) finally release()
  }

  private def nearDupKeepBestImpl(docs: DataFrame, idCol: String, textCol: String,
                                  scoreCol: Column, shingleSize: Int, threshold: Double
                                 ): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val (compFull, release) =
      nearDupComponentsImpl(docs, idCol, textCol, shingleSize, threshold)
    val comp = compFull.select(col(idCol), col("component"))
    val scored = docs.select(col(idCol), scoreCol.as("__score__")).join(comp, idCol)
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__score__").desc, col(idCol))
    val result = scored
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("component"), col("keep"))
    (result, release)
  }

  /** Benchmark decontamination: flag documents sharing ANY word n-gram
    * shingle with a benchmark/evaluation corpus (the standard n-gram-overlap
    * decontamination step of training-data pipelines). Candidate detection
    * is a token equi-join on the shingle (the benchmark side is small —
    * typically broadcast); output is every document with a `contaminated`
    * flag so callers choose between dropping and auditing.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchmarkTextCol: String,
                    shingleSize: Int = 3): DataFrame = {
    val docSh = docs.select(col(idCol), explode(shingles(col(textCol), shingleSize)).as("tok"))
    val benchSh = benchmark.select(explode(shingles(col(benchmarkTextCol), shingleSize)).as("tok")).distinct()
    val contaminated = docSh.join(benchSh, "tok").select(col(idCol)).distinct()
      .withColumn("__c__", lit(true))
    docs.select(col(idCol))
      .join(contaminated, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__c__"), lit(false)).as("contaminated"))
  }

  /** Exact-duplicate grouups: hash group-by on (optionally normalized) text.
    * Output: one row per distinct text, the surviving (minimum) id and the
    * duplicate count. Shuffles on the 256-bit content hash only.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol).cast("binary"), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // --- SimHash ------------------------------------------------------------

  /** Deterministic 32-bit polynomial word hash (h = h*31 + codepoint mod
    * 2^32, seed 17) — chosen to be replicable in ANSI SQL by the oracle
    * (fold over codepoints), unlike xxhash64. Computed by the native
    * [[PolyHashExpr]] (the HOF char-fold formulation is CodegenFallback).
    */
  def wordHash(word: Column): Column = TextHashExpressions.fingerprint(word)

  /** SimHash near-duplicate pairs at a Hamming-distance threshold: the
    * 64-bit signature splits into four 16-bit chunks; by pigeonhole, two
    * signatures within Hamming distance 3 agree on at least one whole chunk,
    * so candidate generation is COMPLETE for `maxHamming <= 3` and is an
    * equi-join on (chunk index, chunk value) — never all-pairs. The verify
    * is an exact popcount over the xor of the halves, carried through the
    * join (two longs per row — no payload concern).
    *
    * Skew hardening (the 10x scale probe's one scale-killer): identical
    * texts hash to identical signatures, and a templated corpus concentrates
    * thousands of them in one chunk bucket — quadratic candidates from rows
    * that are ONE logical node. So pairing runs over DISTINCT signatures:
    *   - same-signature pairs (Hamming 0) come from a members self-join on
    *     the full signature — output-bounded, never speculative;
    *   - cross-signature candidates come from the chunk equi-join over one
    *     representative per signature, then fan back out to member pairs.
    * A clone-heavy bucket now costs O(distinct sigs^2) candidates instead of
    * O(docs^2).
    *
    * A set `maxBucketSize` is never silent: one aggregation job at call time
    * measures the work the cap drops, posted as a `simhash.cap` decision.
    */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val members = widen(docs).select(col(idCol), simHash(col(textCol)).as("sh"))
      .select(col(idCol), col("sh.hi").as("hi"), col("sh.lo").as("lo"))
    hammingNearDupPairs(members, idCol, maxHamming, maxBucketSize)
  }

  /** Hamming near-dup pairing over ANY 64-bit signature presented as
    * non-negative 32-bit halves (id, hi, lo) — the banding engine behind
    * [[simHashNearDup]], reused verbatim by the image perceptual-hash
    * pairing ([[graft.multimodal.Multimodal.decodeAHash]] output). Chunk
    * banding is pigeonhole-complete for Hamming <= 3; identical signatures
    * are pre-collapsed so clone clusters cost one node.
    */
  def hammingNearDupPairs(members: DataFrame, idCol: String,
                          maxHamming: Int = 3,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding is only complete for maxHamming <= 3")
    // Same-signature pairs: Hamming 0 by definition, one equi-join on the
    // full signature. Output-inherent cost (these ARE near-dup pairs).
    val pinnedMembers = pinPartitions(members, col("hi"), col("lo"))
    val withinPairs = pinnedMembers.as("x").join(pinnedMembers.as("y"),
        col("x.hi") === col("y.hi") && col("x.lo") === col("y.lo") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"), lit(0L).as("hamming"))
    // One representative per DISTINCT signature drives the chunk join.
    val sigs = members.groupBy(col("hi"), col("lo")).agg(min(col(idCol)).as("rep"))
    val chunks = posexplode(array(
      shiftright(col("hi"), 16), col("hi").bitwiseAND(lit(65535L)),
      shiftright(col("lo"), 16), col("lo").bitwiseAND(lit(65535L)))).as(Seq("ci", "cv"))
    val chunked = pinPartitions(
      sigs.select(col("rep"), col("hi"), col("lo"), chunks), col("ci"), col("cv"))
    // Optional skew guard over DISTINCT-signature bucket occupancy. Capping
    // trades the Hamming<=3 completeness GUARANTEE on the capped buckets for
    // bounded work; a signature pair dropped here is only lost if the capped
    // chunk was its sole agreeing chunk. NEVER silent: the dropped mass is
    // measured and posted.
    val bucketN = {
      import org.apache.spark.sql.expressions.Window
      count(lit(1)).over(Window.partitionBy(col("ci"), col("cv")))
    }
    if (maxBucketSize != Int.MaxValue) {
      val r = chunked.withColumn("__bucket_n__", bucketN).agg(
        coalesce(sum(when(col("__bucket_n__") > maxBucketSize, 1L)), lit(0L)),
        coalesce(count_distinct(when(col("__bucket_n__") > maxBucketSize,
          struct(col("ci"), col("cv")))), lit(0L)),
        coalesce(max(col("__bucket_n__")), lit(0L))).head()
      // pairs whose only agreeing chunk was capped are lost
      GraftDecision.post(members.sparkSession, "simhash.cap",
        if (r.getLong(0) > 0) "dropped" else "kept", "maxBucketSize" -> maxBucketSize.toLong,
        "droppedChunkRows" -> r.getLong(0), "droppedBuckets" -> r.getLong(1),
        "maxBucketN" -> r.getLong(2))
    }
    val keyed =
      if (maxBucketSize == Int.MaxValue) chunked
      else chunked.withColumn("__bucket_n__", bucketN)
        .where(col("__bucket_n__") <= maxBucketSize)
        .drop("__bucket_n__")
    // Distinct signatures differ in >= 1 bit, so every rep pair here has
    // Hamming in [1, maxHamming] — the Hamming-0 pairs are withinPairs'.
    def repPairsFrom(xSide: DataFrame, ySide: DataFrame): DataFrame =
      xSide.as("x").join(ySide.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
            col("x.rep") < col("y.rep"))
        .select(col("x.hi").as("hi_a"), col("x.lo").as("lo_a"),
          col("y.hi").as("hi_b"), col("y.lo").as("lo_b"))
        .dropDuplicates("hi_a", "lo_a", "hi_b", "lo_b")
        .withColumn("hamming",
          (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
            bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("bigint"))
        .where(col("hamming") <= maxHamming)
    // Bounded-footprint chunking, Hamming flavor: the rep-pair self-join's
    // output (Σ n·(n-1)/2 over chunk-bucket occupancies of DISTINCT
    // signatures) crosses ONE dropDuplicates exchange before the Hamming
    // filter prunes it — at 10×+ the certified scale that single exchange
    // is the same disk wall the shingle verifies hit (SCALE.md r14). Above
    // the shared budget dial, slice the x side by hash(rep) — a pair's
    // duplicates across agreeing chunks all carry the same (smaller)
    // x.rep, so per-slice dropDuplicates equals the global one — and
    // release each pass's shuffles before the next (chunkedVerifyOn).
    // Only the quadratic rep-pair stage is chunked; the member fan-out
    // below runs once over the Hamming-filtered survivors (output-bounded,
    // and `members` — possibly a decode lane — is not recomputed per pass).
    val survivors = {
      val mass = pairMassBound(keyed, col("ci"), col("cv"))
      val k = verifyChunks(keyed.sparkSession, "verify.hamming", "pairMass" -> mass)
      if (k <= 1) repPairsFrom(keyed, keyed)
      else {
        val keyedP = keyed
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        keyedP.count() // materialize once for the K x-slices + full y side
        try chunkedVerifyOn(keyedP, k, col("rep"))(xSlice =>
          repPairsFrom(xSlice, keyedP))
        finally keyedP.unpersist(blocking = false) // passes ran eagerly
      }
    }
    // Fan the surviving signature pairs back out to member pairs — two
    // shuffle joins keyed on the signature, output-bounded by the true
    // pair count.
    val mA = members.select(col(idCol).as("__ma__"), col("hi").as("hi_a"), col("lo").as("lo_a"))
    val mB = members.select(col(idCol).as("__mb__"), col("hi").as("hi_b"), col("lo").as("lo_b"))
    val crossPairs = pinPartitions(survivors, col("hi_a"), col("lo_a"))
      .join(mA, Seq("hi_a", "lo_a"))
      .join(mB, Seq("hi_b", "lo_b"))
      .select(least(col("__ma__"), col("__mb__")).as("a"),
        greatest(col("__ma__"), col("__mb__")).as("b"), col("hamming"))
    withinPairs.union(crossPairs)
  }

  /** 64-bit SimHash of a whitespace-tokenized text column, returned as a
    * struct(hi, lo) of two non-negative 32-bit halves (avoids int64 sign
    * pitfalls across engines). Bit i of the signature is the sign of the
    * term-frequency-weighted vote sum of bit i of each word's derived
    * bit-hash g_i(w) = ((h(w)*(2i+1) + i^2*2654435761) mod 2^32) >> 31,
    * where h is [[wordHash]] and words are single-space splits (empty words
    * vote with the seed hash, matching split's limit=-1 semantics).
    * Computed by the native [[SimHashExpr]] in one scan per document.
    */
  def simHash(textCol: Column): Column = TextHashExpressions.simHashColumn(textCol)
}
