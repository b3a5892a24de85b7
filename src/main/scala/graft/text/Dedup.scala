package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.JobDescription

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Three tiers, all bucketed (never all-pairs at scale):
  *   - exact dedup: hash group-by on normalized text;
  *   - exact set-similarity join: prefix filtering (PPJoin-style candidate
  *     generation — complete for a Jaccard threshold, see [[prefixFilterJoin]]);
  *   - approximate: MinHash signatures + LSH banding with an exact verify
  *     pass over bucket-cohabiting candidates only.
  *
  * All heavy lifting stays in Spark SQL higher-order functions over array
  * columns (no UDFs, no driver collection); candidate generation shuffles on
  * band/token keys so the plans scale horizontally. Beyond-parity operator
  * (reference has no dedup; driver brief requires it for the 100 TB
  * training-data path).
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
    * is milliseconds). `graft.verify.rowsPerPartition` overrides the
    * per-partition target; the cap bounds task-launch overhead.
    */
  /** `rowsPerPartition <= 0` uses the built-in 150k default (sized for
    * shingle-array rows of 2-4 KB); payload-light verifies (embedding
    * vectors, ~0.5 KB/row) pass a larger target. The
    * `graft.verify.rowsPerPartition` system property, when set, overrides
    * BOTH — it is the operational escape hatch and must be authoritative
    * on every verify path, including ones with an explicit target (it was
    * previously ignored wherever a caller passed one).
    */
  private[graft] def verifyPartitions(spark: org.apache.spark.sql.SparkSession,
                                      candRows: Long,
                                      rowsPerPartition: Long = 0L): Int = {
    val base = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val perPart = longProp("graft.verify.rowsPerPartition")
      .getOrElse(if (rowsPerPartition > 0) rowsPerPartition else 150000L)
    math.max(base, math.min(4096L, (candRows + perPart - 1) / perPart).toInt)
  }

  /** Positive-long system property with malformed-value tolerance: a typo
    * in an operational knob degrades to the built-in default with a stderr
    * warning instead of a NumberFormatException on every verify path.
    */
  private[graft] def longProp(name: String): Option[Long] =
    sys.props.get(name).flatMap { s =>
      scala.util.Try(s.trim.toLong).toOption.filter(_ > 0L).orElse {
        System.err.println(s"[dedup] ignoring malformed $name='$s' (want a positive long)")
        None
      }
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
    * spill. `graft.verify.chunks` forces K; `graft.verify.chunkRows` sets
    * the per-pass row budget. Default 30M rows/pass, sized by MEASUREMENT
    * against shingle-array payloads (SCALE.md r14: 75M-row containment
    * passes wrote ~43 GB lz4'd, so ~0.6 KB/row on disk -> 30M rows ~ 17 GB
    * per pass). The chunk checkpoints also pin the verify to ONE execution
    * regardless of downstream fan-out: pagerank references the pair frame
    * twice (edge union), and at sf10 the un-chunked twice-executed verify
    * (2 x ~44 GB) is exactly what ENOSPC'd a ~70 GB-free box while the
    * single-consumer ngram query squeaked by. Each extra pass costs one
    * re-exchange of the (cached) doc-payload side — seconds per pass.
    */
  private[graft] def verifyChunkCount(candRows: Long): Int =
    longProp("graft.verify.chunks").map(_.toInt).getOrElse {
      val perChunk = longProp("graft.verify.chunkRows").getOrElse(30000000L)
      math.min(64L, math.max(1L, (candRows + perChunk - 1) / perChunk)).toInt
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
    val debug = sys.props.get("graft.verify.debug").nonEmpty
    val outs = (0 until k).map { i =>
      val t0 = System.nanoTime()
      val before = org.apache.spark.GraftShuffleGc.snapshot(sc)
      val slice = cand.where(pmod(xxhash64(key), lit(k.toLong)) === lit(i.toLong))
      val out = pass(slice).localCheckpoint() // eager: the pass runs HERE
      val cleaned = org.apache.spark.GraftShuffleGc.cleanNewSince(sc, before)
      if (debug) System.err.println(
        f"[chunked-verify] pass ${i + 1}/$k ${(System.nanoTime() - t0) / 1e9}%.1f s " +
          s"cleaned ${cleaned.size} shuffles")
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

  /** Exact Jaccard for arrays KNOWN element-distinct (shingle sets are, by
    * [[ShinglesExpr]] construction): one native intersection-count pass —
    * `|a ∪ b| = |a| + |b| - i` — instead of materializing both the
    * intersection and union arrays. Same arithmetic, same value as
    * [[jaccard]] on distinct inputs; ~the whole verify stage at sf1 was the
    * two array materializations.
    */
  def jaccardDistinct(a: Column, b: Column): Column = {
    val i = IntersectCountExpr.intersectCount(a, b).cast("double")
    i / (size(a).cast("double") + size(b).cast("double") - i)
  }

  /** [[jaccardDistinct]] over arrays PRE-SORTED in Spark string order:
    * allocation-free merge-count kernel — see [[SortedIntersectCountExpr]].
    */
  def jaccardSortedDistinct(a: Column, b: Column): Column = {
    val i = SortedIntersectCountExpr.sortedIntersectCount(a, b).cast("double")
    i / (size(a).cast("double") + size(b).cast("double") - i)
  }

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

  /** [[verifyPairs]] with cache ownership: under the scaled path the verify
    * persists the candidate frame (see [[verifyPairsOwned]]); this form
    * releases that cache when `use` returns. Callers without a per-query
    * `spark.catalog.clearCache()` discipline use this, or the cache lives
    * until session cache clear.
    */
  private[graft] def verifyPairsWith[T](candidates: DataFrame, docShingles: DataFrame,
                                        idCol: String, shingleCol: String,
                                        threshold: Double)(use: DataFrame => T): T = {
    val (result, cache) =
      verifyPairsOwned(candidates, docShingles, idCol, shingleCol, threshold)
    try use(result) finally cache.unpersist(blocking = false)
  }

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
                                      threshold: Double): (DataFrame, DataFrame) =
    verifyPairsSidesOwned(candidates, docShingles, docShingles, idCol,
      shingleCol, threshold)

  /** [[verifyPairsOwned]] with DISTINCT shingle tables per pair side —
    * the cross-corpus form, where `a` ids resolve only against the new
    * side and `b` ids only against the reference (the two id namespaces
    * may legitimately overlap). Self-join callers pass the same table
    * twice via [[verifyPairsOwned]].
    */
  private[graft] def verifyPairsSidesOwned(candidates: DataFrame,
                                           aShingles: DataFrame,
                                           bShingles: DataFrame,
                                           idCol: String, shingleCol: String,
                                           threshold: Double): (DataFrame, DataFrame) = {
    // Sort once per DOC row (before the join fans each array out to its
    // candidates), merge-count once per PAIR: the sorted kernel does no
    // hashing and no per-pair allocation — the PPJoin probe measured the
    // hash-set formulation as the dominant stage at sf1.
    val left = aShingles.select(col(idCol).as("a"),
      sort_array(col(shingleCol)).as("sh_a"))
    val right = bShingles.select(col(idCol).as("b"),
      sort_array(col(shingleCol)).as("sh_b"))
    // Pin BOTH verify exchanges by number (REPARTITION_BY_NUM is exempt
    // from AQE coalescing), scaled to the measured candidate count: the
    // verify is CPU-bound set intersection, size-based coalescing would
    // collapse it onto one task (measured serial at sf0.1). The second pin
    // matters as much as the first: without it the exchange that hauls
    // sh_a to the b-side join falls back to the session partition count.
    val cand = candidates
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = cand.count()
    val k = verifyChunkCount(cnt)
    if (sys.props.get("graft.verify.debug").nonEmpty)
      System.err.println(s"[verify] candidates=$cnt chunks=$k")
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
    val withShingles = widen(docs).select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize once before the three consumers race to populate the
    // same cache blocks (concurrent first-reads of an unmaterialized
    // persist stall each other — measured 50x on the contract plane)
    withShingles.count()
    val withSig = withShingles.withColumn("sig", minHashSignature(col("sh"), numHashes, seed))
    val candidates = lshCandidates(withSig, idCol, "sig", numBands, rowsPerBand)
    val (verified, candCache) =
      verifyPairsOwned(candidates, withShingles, idCol, "sh", threshold)
    (verified, Seq(withShingles, candCache))
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
    def prep(docs: DataFrame): DataFrame = {
      val sh = widen(docs)
        .select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sh.count()
      sh
    }
    val shNew = prep(newDocs)
    val shRef = prep(refDocs)
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
    (result, Seq(shNew, shRef))
  }

  /** Exact Jaccard-threshold self-join via prefix filtering (PPJoin-style).
    *
    * Tokens are globally ordered RAREST-FIRST (corpus frequency, token
    * tiebreak — any total order is correct for completeness, but rare-first
    * makes the emitted prefix tokens the least-shared ones, collapsing the
    * candidate count on skewed vocabularies) and each document emits only
    * its first |S| - ceil(t*|S|) + 1 tokens. Two sets with Jaccard >= t
    * must share >= ceil(t*|S|) tokens, so they must collide on at least one
    * prefix token — candidate generation is COMPLETE for the threshold, and
    * the verify pass is exact. Candidates are generated by an equi-join on
    * token (shuffle on token key), never all-pairs; the extra cost of the
    * frequency ordering is one narrow token-count aggregation.
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
    val withShingles = widen(docs).select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRows = withShingles.count() // materialize before concurrent consumers (see minHashDedup)
    // Tier-1 broadcast kernel (measured gate, same budget shape as the
    // streaming cross index): when the corpus fits the broadcast budget and
    // ids are integral, the whole prefix/candidate/verify pipeline runs as
    // one narrow self-ordered kernel pass — bit-equal output (see
    // PrefixCrossIndex.selfKernelPairs), zero candidate exchanges. Beyond
    // the gate (or -Dgraft.ppjoin.kernel=off) the distributed expression
    // pipeline below is the scale path.
    val kernelOff = sys.props.get("graft.ppjoin.kernel").contains("off")
    val kernelGate = longProp("graft.ppjoin.broadcastRows").getOrElse(100000L)
    val idIntegral = withShingles.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (!kernelOff && idIntegral && nRows <= kernelGate)
      return (PrefixCrossIndex.selfKernelPairs(withShingles, idCol, threshold),
        Seq(withShingles))
    val exploded = withShingles.select(col(idCol), explode(col("sh")).as("tok"))
    // corpus frequency as a window count: one shuffle of the exploded rows
    // on tok, instead of a count aggregation joined back on (a second
    // shuffle of the same frame)
    val withCnt = exploded.withColumn("cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
    // per-doc shingles sorted by (corpus count, token): struct order gives
    // the global rare-first total order with a deterministic tiebreak
    val sorted = withCnt
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sh_sorted"))
    // The ceil here (and in every length filter below) carries the same
    // 1e-9 guard as alpha: an epsilon-above-integer double product would
    // inflate the ceil, shrinking the prefix / tightening the length
    // filter past a just-qualifying pair — a completeness break for
    // non-dyadic thresholds.
    val prefixLen = (size(col("sh_sorted")) - ceil(lit(threshold) * size(col("sh_sorted")) - lit(1e-9)).cast("int") + 1).cast("int")
    // partitioning pinned on the join key: the candidate join's output is
    // quadratic in bucket occupancy while its input is byte-small — see
    // pinPartitions (AQE would otherwise coalesce the exchange)
    val prefixes = pinPartitions(sorted
      .select(col(idCol), size(col("sh_sorted")).as("sz"),
        posexplode(transform(slice(col("sh_sorted"), lit(1), prefixLen), x => x.getField("tok")))
          .as(Seq("pos", "tok"))),
      col("tok"))
    // Two candidate prunes, both completeness-preserving (PPJoin, Xiao et
    // al. 2008):
    //  - length filter: jaccard >= t implies |I| >= t*|U| >= t*max(|x|,|y|)
    //    and |I| <= min(|x|,|y|), so min >= t*max;
    //  - position filter: jaccard >= t needs overlap
    //    alpha = ceil(t/(1+t) * (|x|+|y|)); a collision at 0-based prefix
    //    positions (i, j) can contribute at most
    //    1 + min(|x|-i-1, |y|-j-1) total overlap, so collisions too deep in
    //    both prefixes cannot support a qualifying pair. The earliest shared
    //    token gives the loosest bound, so a truly similar pair always
    //    survives at least one collision.
    // The 1e-9 guard keeps ceil exact when t/(1+t)*(|x|+|y|) is an exact
    // integer that double arithmetic rounds UP past (e.g. t where the
    // product lands epsilon above an integer): an inflated alpha would drop
    // a pair whose true overlap is exactly alpha — a completeness break.
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("x.sz") + col("y.sz")) - lit(1e-9))
    val candidates = prefixes.as("x").join(prefixes.as("y"),
        col("x.tok") === col("y.tok") && col(s"x.$idCol") < col(s"y.$idCol")
          && col("y.sz") >= ceil(lit(threshold) * col("x.sz") - lit(1e-9))
          && col("x.sz") >= ceil(lit(threshold) * col("y.sz") - lit(1e-9))
          && alpha <= lit(1) + least(col("x.sz") - col("x.pos") - 1, col("y.sz") - col("y.pos") - 1))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
    // A pair sharing k prefix tokens appears k times — but the position
    // filter leaves only ~5% duplicates (measured at sf0.1), so verifying
    // dups and deduplicating the (tiny) verified output is cheaper than a
    // full-shuffle distinct over the candidate set.
    val (verified, candCache) =
      verifyPairsOwned(candidates, withShingles, idCol, "sh", threshold)
    (verified.dropDuplicates("a", "b"), Seq(withShingles, candCache))
  }

  /** EXACT cross-corpus Jaccard-threshold join via prefix filtering — the
    * deterministic counterpart of [[minHashCrossDedup]]: every (new, ref)
    * pair with jaccard >= `threshold`, none missed, at any corpus size.
    *
    * LSH banding is probabilistic per pair (miss odds ~(1-t^r)^b), so a
    * corpus large enough to hold many just-at-threshold pairs WILL drop
    * one — measured at 30x the design scale, where the banded operator
    * first diverged from the exact oracle. Prefix filtering has no such
    * term: with both corpora's tokens in ONE shared rare-first total
    * order (union document frequency — any single order is complete, but
    * it must be the same on both sides so qualifying pairs collide on a
    * prefix token), the [[prefixFilterJoin]] length/position prunes apply
    * verbatim to cross pairs, and candidate generation stays a token-key
    * equi-join between the two prefix streams — never all-pairs, no
    * bucket-occupancy cap to breach.
    *
    * Output: (a = new id, b = ref id, jaccard), exact. The id namespaces
    * may overlap (each side resolves against its own shingle table).
    */
  def prefixFilterCrossJoin(newDocs: DataFrame, refDocs: DataFrame,
                            idCol: String, textCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    prefixFilterCrossJoinImpl(newDocs, refDocs, idCol, textCol, shingleSize, threshold)._1

  /** [[prefixFilterCrossJoin]] with cache ownership — see [[minHashDedupWith]]. */
  def prefixFilterCrossJoinWith[T](newDocs: DataFrame, refDocs: DataFrame,
                                   idCol: String, textCol: String,
                                   shingleSize: Int = 3, threshold: Double = 0.5)
                                  (use: DataFrame => T): T = {
    val (result, owned) =
      prefixFilterCrossJoinImpl(newDocs, refDocs, idCol, textCol, shingleSize, threshold)
    try use(result) finally owned.foreach(_.unpersist(blocking = false))
  }

  private def prefixFilterCrossJoinImpl(newDocs: DataFrame, refDocs: DataFrame,
                                        idCol: String, textCol: String,
                                        shingleSize: Int, threshold: Double
                                       ): (DataFrame, Seq[DataFrame]) = {
    def prep(docs: DataFrame): DataFrame = {
      val sh = widen(docs)
        .select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sh.count() // materialize before concurrent consumers (see minHashDedup)
      sh
    }
    val shNew = prep(newDocs)
    val shRef = prep(refDocs)
    // Tier-1 broadcast kernel: when the REFERENCE side fits the broadcast
    // budget, the pair set is one narrow probe pass of the new side against
    // driver-built reference maps (see PrefixCrossIndex.crossKernelPairs —
    // output-identical under the order change; -Dgraft.ppjoin.kernel=off
    // keeps the distributed pipeline, the only path past the gate).
    val kernelOff = sys.props.get("graft.ppjoin.kernel").contains("off")
    val refGate = longProp("graft.crossindex.broadcastRefRows").getOrElse(100000L)
    if (!kernelOff && shRef.count() <= refGate)
      return (PrefixCrossIndex.crossKernelPairs(shNew, shRef, idCol, threshold),
        Seq(shNew, shRef))
    // Union document frequency as a window count over BOTH sides' exploded
    // tokens: one shuffle on tok yields the shared order AND feeds the
    // per-(side, id) re-sort — same single-exchange shape as
    // prefixFilterJoinImpl's count. The side tag keeps overlapping id
    // namespaces apart until the candidate join.
    val ex = shNew.select(lit(0).as("side"), col(idCol), explode(col("sh")).as("tok"))
      .unionByName(
        shRef.select(lit(1).as("side"), col(idCol), explode(col("sh")).as("tok")))
    val withCnt = ex.withColumn("cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
    val sorted = withCnt
      .groupBy(col("side"), col(idCol))
      .agg(sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sh_sorted"))
    // same 1e-9 ceil guard as the self-join path (completeness at
    // non-dyadic thresholds)
    val prefixLen = (size(col("sh_sorted")) - ceil(lit(threshold) * size(col("sh_sorted")) - lit(1e-9)).cast("int") + 1).cast("int")
    val prefixes = pinPartitions(sorted
      .select(col("side"), col(idCol), size(col("sh_sorted")).as("sz"),
        posexplode(transform(slice(col("sh_sorted"), lit(1), prefixLen), x => x.getField("tok")))
          .as(Seq("pos", "tok"))),
      col("tok"))
    // Length + position prunes exactly as in prefixFilterJoinImpl (both
    // completeness-preserving; the PPJoin argument never uses a < b
    // ordering, so it holds for cross pairs unchanged — including the
    // 1e-9 ceil guard).
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("x.sz") + col("y.sz")) - lit(1e-9))
    val candidates = prefixes.where(col("side") === 0).as("x")
      .join(prefixes.where(col("side") === 1).as("y"),
        col("x.tok") === col("y.tok")
          && col("y.sz") >= ceil(lit(threshold) * col("x.sz") - lit(1e-9))
          && col("x.sz") >= ceil(lit(threshold) * col("y.sz") - lit(1e-9))
          && alpha <= lit(1) + least(col("x.sz") - col("x.pos") - 1, col("y.sz") - col("y.pos") - 1))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
    val (verified, candCache) =
      verifyPairsSidesOwned(candidates, shNew, shRef, idCol, "sh", threshold)
    (verified.dropDuplicates("a", "b"), Seq(shNew, shRef, candCache))
  }

  /** Pre-built, persisted reference-side index for REPEATED exact
    * prefix-filter cross joins against one immutable corpus — the
    * streaming front door ([[graft.streaming.Streaming]] crossDedupSink)
    * probes the same reference every micro-batch, and re-deriving its
    * shingle table, token frequencies and rare-first prefixes per batch
    * was most of the per-batch cost (the r14 2.3× exactness-upgrade tax).
    *
    * Order change vs [[prefixFilterCrossJoin]], exactness preserved: the
    * shared total order is (REFERENCE-corpus token frequency, token), with
    * batch tokens unseen in the reference ordered first (cnt 0). The
    * prefix-filter completeness lemma holds for ANY total order applied
    * identically to both sides; this one is a pure token function, so it
    * can be frozen with the index instead of recomputed over the union per
    * batch. A token shared by a qualifying (new, ref) pair is by
    * definition in the reference, so it carries a real frequency on both
    * sides; unseen-in-ref tokens occupy early prefix slots on the batch
    * side only and can never collide (the reference has no such token) —
    * they cost nothing and drop nothing. Length and position prunes are
    * verbatim [[prefixFilterJoin]]; the verify pass is exact Jaccard.
    *
    * Release with [[PrefixCrossIndex.release]] (or a session
    * `catalog.clearCache()`).
    */
  final class PrefixCrossIndex private[text] (
      private[text] val idCol: String,
      private[text] val textCol: String,
      private[text] val shingleSize: Int,
      private[text] val threshold: Double,
      private[text] val shRef: DataFrame,
      private[text] val tokenCounts: DataFrame,
      private[text] val refPrefixes: DataFrame,
      private[text] val vocabBroadcastable: Boolean,
      // r16 per-batch-cost additions (joinBatchImpl uses them when present):
      // the frozen vocabulary as a DRIVER-BROADCAST map (token -> ref doc
      // frequency), so a batch's rare-first prefix derivation is one narrow
      // kernel pass instead of broadcast-build + lookup join + groupBy
      // re-sort PER BATCH; and the reference VERIFY side (b, sorted sh_b)
      // sorted + hash-partitioned on b ONCE — the r15 code re-sorted and
      // re-exchanged the full reference shingle table every micro-batch,
      // an O(|ref|) per-batch cost that dominated the isolated profile
      // (4.2 s of 9.8 s at sf0.1; JobProfiler r16).
      private[text] val tokFreq: Option[org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]]],
      private[text] val refVerify: DataFrame,
      private[text] val refVerifyParts: Int,
      // Tier-1 full-kernel structures (present when the WHOLE reference fits
      // the broadcast budget, measured at build): the per-batch probe then
      // runs candidates + position/length prunes + exact-Jaccard verify as
      // ONE narrow pass against broadcast postings and shingle sets — zero
      // per-batch exchanges, one write job per micro-batch (the same
      // broadcast-small-side shape as the r16 brute-cosine kernels).
      private[text] val refKernel: Option[PrefixCrossIndex.RefKernel]) {

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
      val phase = if (refKernel.isDefined) "xdedup: kernel probe" else "xdedup: verify+sink"
      try JobDescription.scoped(newDocs.sparkSession.sparkContext, phase)(use(result))
      finally owned.foreach(_.unpersist(blocking = false))
    }

    private def joinBatchImpl(newDocs: DataFrame): (DataFrame, Seq[DataFrame]) = {
      val sc = newDocs.sparkSession.sparkContext
      refKernel match {
        case Some(rk) =>
          // Tier 1: no batch-side persist, count, or candidate frame — the
          // kernel's per-row candidate set is already (a, b)-distinct, so
          // the downstream dropDuplicates contract is met by construction.
          val shNew = widen(newDocs)
            .select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
          return (PrefixCrossIndex.kernelProbe(shNew, idCol, threshold, rk), Nil)
        case None => ()
      }
      val shNew = widen(newDocs)
        .select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize before the multiple consumers below (see minHashDedup);
      // the row count also drives the verify's batch-side broadcast decision
      val batchRows = JobDescription.scoped(sc, "xdedup: batch shingles")(shNew.count())
      // Batch tokens take the FROZEN reference frequency (unseen tokens get
      // cnt 0 = rarest) — the shared (cnt, tok) total order the index's own
      // prefixes were sorted under.
      val newPrefixes = tokFreq match {
        // One narrow kernel pass per batch row: look the frequency up in the
        // broadcast map, sort by (cnt, tok-utf8-bytes) — bit-equal to
        // sort_array over struct(cnt, tok) (long asc, then binary-collation
        // string asc; shingles are DISTINCT so equal keys cannot reorder
        // observable output) — and emit the rare-first prefix slots. The
        // r15 formulation spent a broadcast BUILD, a lookup join and a
        // groupBy(id) re-sort exchange on this, PER BATCH.
        case Some(bc) => prefixKernel(shNew, bc)
        case None =>
          // scale-out vocabulary: the r15 shuffle-join chain against the
          // tok-partitioned cache
          val exNew = shNew.select(col(idCol), explode(col("sh")).as("tok"))
          val withCnt = exNew.join(tokenCounts, Seq("tok"), "left")
            .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
          val sorted = withCnt
            .groupBy(col(idCol))
            .agg(sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sh_sorted"))
          val prefixLen = (size(col("sh_sorted"))
            - ceil(lit(threshold) * size(col("sh_sorted")) - lit(1e-9)).cast("int") + 1).cast("int")
          sorted.select(col(idCol), size(col("sh_sorted")).as("sz"),
            posexplode(transform(slice(col("sh_sorted"), lit(1), prefixLen),
              x => x.getField("tok"))).as(Seq("pos", "tok")))
      }
      // Length + position prunes verbatim from prefixFilterCrossJoinImpl
      // (completeness-preserving for cross pairs under any shared order,
      // 1e-9 ceil guards throughout).
      val pinnedPrefixes = pinPartitions(newPrefixes, col("tok"))
      val alpha = ceil(lit(threshold / (1 + threshold)) * (col("x.sz") + col("y.sz")) - lit(1e-9))
      val candidates = pinnedPrefixes.as("x").join(refPrefixes.as("y"),
          col("x.tok") === col("y.tok")
            && col("y.sz") >= ceil(lit(threshold) * col("x.sz") - lit(1e-9))
            && col("x.sz") >= ceil(lit(threshold) * col("y.sz") - lit(1e-9))
            && alpha <= lit(1) + least(col("x.sz") - col("x.pos") - 1, col("y.sz") - col("y.pos") - 1))
        .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      val (verified, candCache) = JobDescription.scoped(sc, "xdedup: candidates")(
        verifyAgainstIndex(candidates, shNew, batchRows))
      (verified.dropDuplicates("a", "b"), Seq(shNew, candCache))
    }

    /** Rare-first prefix rows (id, sz, pos, tok) for one batch, as a single
      * narrow pass with the frozen vocabulary map — the kernel counterpart
      * of the broadcast-join + groupBy + sort_array + posexplode chain (see
      * [[joinBatchImpl]]). Sort order is EXACTLY sort_array's over
      * struct(cnt: long, tok: string): ascending cnt, ties by the string's
      * BINARY collation = unsigned UTF-8 byte order.
      */
    private def prefixKernel(
        shNew: DataFrame,
        bc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]]): DataFrame = {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val t = threshold
      val outSchema = StructType(Seq(
        shNew.schema(idCol),
        StructField("sz", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("tok", StringType, nullable = true)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      shNew.select(col(idCol), col("sh")).mapPartitions { it =>
        val m = bc.value
        it.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val id = r.get(0)
            val sh = r.getSeq[String](1)
            val n = sh.length
            if (n == 0) Iterator.empty
            else {
              val toks = new Array[(Long, Array[Byte], String)](n)
              var i = 0
              while (i < n) {
                val s = sh(i)
                val c = m.get(s)
                toks(i) = (if (c == null) 0L else c.longValue(),
                  s.getBytes(java.nio.charset.StandardCharsets.UTF_8), s)
                i += 1
              }
              java.util.Arrays.sort(toks, new java.util.Comparator[(Long, Array[Byte], String)] {
                override def compare(x: (Long, Array[Byte], String),
                                     y: (Long, Array[Byte], String)): Int = {
                  if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
                  else java.util.Arrays.compareUnsigned(x._2, y._2)
                }
              })
              // same arithmetic as the expression plan: prefixLen =
              // n - cast(ceil(t*n - 1e-9) as int) + 1, sliced to [1, prefixLen]
              val prefixLen = n - math.ceil(t * n - 1e-9).toInt + 1
              val take = math.max(0, math.min(prefixLen, n))
              Iterator.tabulate(take)(p =>
                org.apache.spark.sql.Row(id, n, p, toks(p)._3))
            }
          }
        }
      }(enc)
    }

    /** Per-batch exact-Jaccard verify against the PRE-SORTED, PRE-PARTITIONED
      * reference verify side: the batch side (small by construction in a
      * streaming probe) attaches by broadcast when it fits, and the candidate
      * stream is the only thing exchanged — hash(b) into the reference's
      * frozen layout. The r15 path re-sorted and re-exchanged the whole
      * reference shingle table per batch AND double-exchanged the candidates.
      * Chunk-dial semantics preserved ([[chunkedVerify]]); oversized batches
      * or chunk slices fall back to the demand-sized two-exchange join
      * (bounded per-task pair fan-out, the sf3 lesson), still reusing the
      * pre-sorted right side.
      */
    private def verifyAgainstIndex(candidates: DataFrame, shNew: DataFrame,
                                   batchRows: Long): (DataFrame, DataFrame) = {
      val spark = candidates.sparkSession
      val left = shNew.select(col(idCol).as("a"), sort_array(col("sh")).as("sh_a"))
      val cand = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cnt = cand.count()
      val k = verifyChunkCount(cnt)
      if (sys.props.get("graft.verify.debug").nonEmpty)
        System.err.println(s"[verify] candidates=$cnt chunks=$k (indexed)")
      val perChunk = (cnt + k - 1) / k
      // broadcast budget for the batch-side shingle arrays (~2-4 KB/row);
      // override with graft.crossindex.broadcastBatchRows
      val leftBroadcastable = batchRows <=
        longProp("graft.crossindex.broadcastBatchRows").getOrElse(100000L)
      // per-task pair fan-out stays within the verify row target when the
      // chunk slice spreads over the reference's frozen partition count
      val perPart = longProp("graft.verify.rowsPerPartition").getOrElse(150000L)
      val fitsFrozenLayout = perChunk <= perPart * refVerifyParts
      val result = chunkedVerify(cand, k) { slice =>
        val joined =
          if (leftBroadcastable && fitsFrozenLayout)
            slice.join(org.apache.spark.sql.functions.broadcast(left), "a")
              .repartition(refVerifyParts, col("b"))
              .join(refVerify, "b")
          else {
            val n = verifyPartitions(spark, perChunk)
            slice.repartition(n, col("a")).join(left, "a")
              .repartition(n, col("b")).join(refVerify, "b")
          }
        keepJaccardAtLeast(joined, threshold)
          .select(col("a"), col("b"), col("jaccard"))
      }
      (result, cand)
    }

    // release() must stay idempotent (unpersist always was; Broadcast.destroy
    // throws on a second call), and in tier 1 `refKernel.tokFreq` is the SAME
    // broadcast instance as `tokFreq` — destroy each broadcast exactly once.
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)

    def release(): Unit = if (released.compareAndSet(false, true)) {
      shRef.unpersist(blocking = false)
      tokenCounts.unpersist(blocking = false)
      refPrefixes.unpersist(blocking = false)
      refVerify.unpersist(blocking = false)
      tokFreq.foreach(_.destroy())
      refKernel.foreach { rk =>
        if (!tokFreq.exists(_ eq rk.tokFreq)) rk.tokFreq.destroy()
        rk.postings.destroy(); rk.refShingles.destroy()
      }
    }
  }

  object PrefixCrossIndex {
    /** Compact postings list for one token: the reference rows whose
      * rare-first PREFIX contains it, as parallel arrays (id boxed — the
      * operator is id-type-generic; sz/pos primitive).
      */
    private[text] final case class Postings(ids: Array[Any], sz: Array[Int], pos: Array[Int])

    /** Tier-1 broadcast index: frozen token frequencies, the token → prefix
      * postings map, and every reference doc's shingle set (id → tokens).
      */
    private[text] final case class RefKernel(
        tokFreq: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]],
        postings: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, Postings]],
        refShingles: org.apache.spark.broadcast.Broadcast[java.util.HashMap[Any, Array[String]]],
        refIdField: org.apache.spark.sql.types.StructField)

    /** Sort `toks` in place-equivalent fashion by (frozen frequency asc,
      * UTF-8 byte order asc) — the shared rare-first total order. Returns
      * the sorted token array.
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

    /** Rare-first prefix length — the same arithmetic as the expression
      * plan: n - cast(ceil(t*n - 1e-9) as int) + 1, clamped to [0, n].
      */
    private[text] def prefixLen(n: Int, t: Double): Int =
      math.max(0, math.min(n - math.ceil(t * n - 1e-9).toInt + 1, n))

    /** The tier-1 per-batch probe: for each batch row, derive the rare-first
      * prefix under the frozen order, probe the broadcast postings with the
      * PPJoin length + position prunes (same ceil/1e-9 arithmetic as the
      * join conditions), collect the candidate reference ids ONCE each, and
      * verify with exact Jaccard (i / (|a| + |b| - i) in double — identical
      * to [[keepJaccardAtLeast]]'s arithmetic). Emits (a, b, jaccard),
      * (a, b)-distinct by construction.
      */
    private[text] def kernelProbe(shNew: DataFrame, idCol: String, threshold: Double,
                                  rk: RefKernel, selfOrdered: Boolean = false): DataFrame = {
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        shNew.schema(idCol).copy(name = "a"),
        rk.refIdField.copy(name = "b"),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val t = threshold
      val tFrac = threshold / (1 + threshold)
      shNew.mapPartitions { it =>
        val freq = rk.tokFreq.value
        val posts = rk.postings.value
        val refSh = rk.refShingles.value
        it.flatMap { r =>
          // a null id on either side matches nothing in the expression
          // plans (the self join's a < b, the cross verify's equi-joins),
          // so its pairs are dropped here too
          if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
          else {
            val a = r.get(0)
            // self-join mode (one corpus on both sides): keep only a < b,
            // the expression plan's pair-orientation condition — integral
            // ids only (the tier gate checks), compared as longs like
            // Catalyst's numeric <
            val aLong = if (selfOrdered) a.asInstanceOf[Number].longValue() else 0L
            val sh = r.getSeq[String](1)
            val n = sh.length
            if (n == 0) Iterator.empty
            else {
              val sorted = rareFirst(sh, freq)
              val take = prefixLen(n, t)
              val cands = new java.util.LinkedHashSet[Any]()
              var p = 0
              while (p < take) {
                val post = posts.get(sorted(p))
                if (post != null) {
                  var j = 0
                  val m = post.ids.length
                  while (j < m) {
                    val szY = post.sz(j)
                    // non-null id, pair orientation (self mode), then
                    // length filter (both directions), then position filter
                    if (post.ids(j) != null && (!selfOrdered ||
                          aLong < post.ids(j).asInstanceOf[Number].longValue()) &&
                        szY >= math.ceil(t * n - 1e-9) &&
                        n >= math.ceil(t * szY - 1e-9)) {
                      val alpha = math.ceil(tFrac * (n + szY) - 1e-9)
                      if (alpha <= 1L + math.min(n - p - 1, szY - post.pos(j) - 1))
                        cands.add(post.ids(j))
                    }
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
                  if (bSh != null) {
                    var inter = 0
                    var k = 0
                    while (k < bSh.length) {
                      if (set.contains(bSh(k))) inter += 1
                      k += 1
                    }
                    val jac = inter.toDouble /
                      (n.toDouble + bSh.length.toDouble - inter.toDouble)
                    if (jac >= t) out += org.apache.spark.sql.Row(a, b, jac)
                  }
                }
                out.iterator
              }
            }
          }
        }
      }(enc).toDF("a", "b", "jaccard")
    }

    /** Tier-1 SELF-join kernel ([[prefixFilterJoin]]'s broadcast gate): one
      * driver collect of the (already persisted and counted) shingle table
      * builds the frozen frequency map, the prefix postings, and the
      * id → shingles map — the same structures [[buildPrefixCrossIndex]]
      * derives for the streaming cross index — then the pair set is one
      * narrow [[kernelProbe]] pass in self-ordered mode (a < b, exactly the
      * expression join's pair orientation). Candidate prunes and the exact
      * Jaccard verify carry the identical ceil/1e-9 arithmetic, so the
      * output equals the expression plan's bit-for-bit; candidates are
      * (a, b)-distinct by construction (LinkedHashSet per probing row), so
      * the caller's dropDuplicates contract is met without a shuffle.
      * Broadcasts are released by the ContextCleaner when the result frame
      * is GC'd (the BruteKernels per-call pattern — the long-lived destroy
      * discipline is only for the streaming index).
      */
    private[text] def selfKernelPairs(sh: DataFrame, idCol: String,
                                      threshold: Double): DataFrame = {
      val rk = driverKernel(sh, idCol, threshold)
      kernelProbe(sh, idCol, threshold, rk, selfOrdered = true)
    }

    /** Tier-1 CROSS kernel ([[prefixFilterCrossJoin]]'s broadcast gate):
      * the REFERENCE side's maps are driver-built under the (ref frequency,
      * token-bytes) order — unseen batch tokens sort first (cnt 0), the
      * completeness argument documented at [[buildPrefixCrossIndex]] — and
      * the new side probes in one narrow pass. The shared order DIFFERS
      * from the expression pipeline's union frequency, which changes only
      * which collisions generate each candidate, never the output: any
      * single total order applied to both sides is complete, and the
      * verify (exact Jaccard, identical double arithmetic) decides
      * membership.
      */
    private[text] def crossKernelPairs(shNew: DataFrame, shRef: DataFrame,
                                       idCol: String, threshold: Double): DataFrame = {
      val rk = driverKernel(shRef, idCol, threshold)
      kernelProbe(shNew, idCol, threshold, rk)
    }

    /** Tier-1 CONTAINMENT kernel ([[containmentPairs]]' broadcast gate):
      * postings index EVERY token (the expression plan joins a's prefix
      * against b's FULL token table), the probe applies the one-sided
      * length prune `|b| >= ceil(t*|a| - 1e-9)` and a != b, and the verify
      * computes C(a->b) = |a∩b| / |a| with the same double division and
      * Spark `round(_, 6)` (HALF_UP on the canonical decimal form,
      * [[graft.similarity.BruteKernels.roundAt]]) as the expression plan.
      * Emits (a, b, containment), (a, b)-distinct by construction.
      */
    private[text] def containmentKernelPairs(sh: DataFrame, idCol: String,
                                             threshold: Double): DataFrame = {
      val rk = driverKernel(sh, idCol, threshold, fullPostings = true)
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        sh.schema(idCol).copy(name = "a"),
        sh.schema(idCol).copy(name = "b"),
        org.apache.spark.sql.types.StructField("containment",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val t = threshold
      sh.mapPartitions { it =>
        val freq = rk.tokFreq.value
        val posts = rk.postings.value
        val refSh = rk.refShingles.value
        it.flatMap { r =>
          // a null id matches nothing in the expression plan's a =!= b
          if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
          else {
            val a = r.get(0)
            val shA = r.getSeq[String](1)
            val n = shA.length
            if (n == 0) Iterator.empty
            else {
              val sorted = rareFirst(shA, freq)
              val take = prefixLen(n, t)
              val cands = new java.util.LinkedHashSet[Any]()
              var p = 0
              while (p < take) {
                val post = posts.get(sorted(p))
                if (post != null) {
                  var j = 0
                  val m = post.ids.length
                  while (j < m) {
                    // one-sided length prune + a != b (value equality, the
                    // expression plan's =!=, which no null id passes)
                    if (post.sz(j) >= math.ceil(t * n - 1e-9) && post.ids(j) != null &&
                        post.ids(j) != a)
                      cands.add(post.ids(j))
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
                  if (bSh != null) {
                    var inter = 0
                    var k = 0
                    while (k < bSh.length) {
                      if (set.contains(bSh(k))) inter += 1
                      k += 1
                    }
                    val c = inter.toDouble / n.toDouble
                    if (c >= t)
                      out += org.apache.spark.sql.Row(a, b,
                        graft.similarity.BruteKernels.round6(c))
                  }
                }
                out.iterator
              }
            }
          }
        }
      }(enc).toDF("a", "b", "containment")
    }

    /** One driver collect of an (id, sh) shingle table → broadcast
      * [[RefKernel]]: frozen token document frequencies (per-doc shingles
      * are DISTINCT, so row-count per token == the expression plan's
      * count(1) over the exploded (id, tok) stream), rare-first prefix
      * postings (or the FULL token postings for the containment kernel),
      * and the id → sorted-shingles map.
      */
    private[text] def driverKernel(sh: DataFrame, idCol: String, threshold: Double,
                                   fullPostings: Boolean = false): RefKernel = {
      val sc = sh.sparkSession.sparkContext
      val idField = sh.schema(idCol)
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
        if (!r.isNullAt(1)) {
          val id = r.get(0)
          val sorted = rareFirst(r.getSeq[String](1), freqMap)
          val n = sorted.length
          refShMap.put(id, sorted)
          // fullPostings: index EVERY token (the containment operator joins
          // a's prefix against b's full token table), else the prefix only
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
        sc.broadcast(refShMap), idField)
    }
  }

  /** Build a [[PrefixCrossIndex]] over an immutable reference corpus: its
    * shingle table, token document frequencies, and rare-first prefix
    * stream are computed ONCE and persisted for every subsequent
    * [[PrefixCrossIndex.joinBatch]].
    */
  def buildPrefixCrossIndex(refDocs: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.5): PrefixCrossIndex =
    JobDescription.scoped(refDocs.sparkSession.sparkContext, "xdedup: build index")(
      buildPrefixCrossIndexImpl(refDocs, idCol, textCol, shingleSize, threshold))

  private def buildPrefixCrossIndexImpl(refDocs: DataFrame, idCol: String, textCol: String,
                                        shingleSize: Int, threshold: Double): PrefixCrossIndex = {
    val sc = refDocs.sparkSession.sparkContext
    val shRef = widen(refDocs)
      .select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val refRows = shRef.count()
    val ex = shRef.select(col(idCol), explode(col("sh")).as("tok"))
    // groupBy(tok) leaves the counts hash-partitioned on tok, and the
    // persisted InMemoryRelation PRESERVES that outputPartitioning — every
    // per-batch frequency lookup join then shuffles only the (small) batch
    // token side, never the vocabulary. Same for refPrefixes below (already
    // pinned on tok by pinPartitions).
    val tokenCounts = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabRows = tokenCounts.count()
    // the materializing count doubles as the broadcastability measurement:
    // ~40 B/row keeps 4M tokens near 160 MB — inside executor broadcast
    // budgets; beyond that the lookup stays a shuffle join
    val vocabBroadcastable = vocabRows <=
      longProp("graft.crossindex.broadcastVocabRows").getOrElse(4000000L)
    // Frozen vocabulary as a driver map (broadcast once, looked up per batch
    // token in the prefix kernel) — same budget gate as the r15 broadcast
    // join it replaces. A scale-out vocabulary keeps the shuffle-join chain.
    val freqMap =
      if (vocabBroadcastable) {
        val m = new java.util.HashMap[String, java.lang.Long](
          math.max(16, (vocabRows * 4 / 3).toInt))
        tokenCounts.collect().foreach(r =>
          m.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1))))
        m
      } else null
    val tokFreq = Option(freqMap).map(sc.broadcast(_))
    // Tier 1: the whole reference fits the broadcast budget (measured rows;
    // ~2-4 KB of shingles per doc keeps the default 100k near a few hundred
    // MB — the guide's workable broadcast range). The postings + shingle-set
    // maps are derived ON THE DRIVER from one collect of the (persisted)
    // shingle table under the SAME frozen (freq, token-bytes) order, then
    // broadcast once; every micro-batch probe is a single narrow kernel
    // pass. Beyond the gate, tier 2/3 keep the distributed relations.
    val refKernelGate = longProp("graft.crossindex.broadcastRefRows").getOrElse(100000L)
    if (vocabBroadcastable && refRows <= refKernelGate) {
      val t = threshold
      val refShMap = new java.util.HashMap[Any, Array[String]](
        math.max(16, (refRows * 4 / 3).toInt))
      val postBuild = new java.util.HashMap[String,
        scala.collection.mutable.ArrayBuffer[(Any, Int, Int)]]()
      shRef.collect().foreach { r =>
        if (!r.isNullAt(1)) {
          val id = r.get(0)
          val sorted = PrefixCrossIndex.rareFirst(r.getSeq[String](1), freqMap)
          val n = sorted.length
          refShMap.put(id, sorted)
          val take = PrefixCrossIndex.prefixLen(n, t)
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
      val postings = new java.util.HashMap[String, PrefixCrossIndex.Postings](
        math.max(16, postBuild.size() * 4 / 3))
      postBuild.forEach { (tok, buf) =>
        postings.put(tok, PrefixCrossIndex.Postings(
          buf.map(_._1).toArray, buf.map(_._2).toArray, buf.map(_._3).toArray))
      }
      val refIdField = shRef.schema(idCol)
      shRef.unpersist(blocking = false)
      tokenCounts.unpersist(blocking = false)
      val rk = PrefixCrossIndex.RefKernel(
        tokFreq.get, sc.broadcast(postings), sc.broadcast(refShMap), refIdField)
      // distributed relations stay as UNMATERIALIZED plans (never persisted
      // in this tier); release() on them is a no-op
      return new PrefixCrossIndex(idCol, textCol, shingleSize, threshold,
        shRef, tokenCounts, shRef.limit(0), vocabBroadcastable,
        tokFreq, shRef.limit(0), 1, Some(rk))
    }
    val sorted = ex.join(tokenCounts, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sh_sorted"))
    val prefixLen = (size(col("sh_sorted"))
      - ceil(lit(threshold) * size(col("sh_sorted")) - lit(1e-9)).cast("int") + 1).cast("int")
    val refPrefixes = pinPartitions(sorted
      .select(col(idCol), size(col("sh_sorted")).as("sz"),
        posexplode(transform(slice(col("sh_sorted"), lit(1), prefixLen),
          x => x.getField("tok"))).as(Seq("pos", "tok"))),
      col("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    refPrefixes.count()
    // Reference VERIFY side, sorted + hash-partitioned on b ONCE: every
    // batch's exact-Jaccard verify joins into this frozen layout instead of
    // re-sorting and re-exchanging the full reference per batch. Partition
    // count is demand-sized from the measured reference row count (the same
    // rows-not-bytes rule as verifyPartitions).
    val refVerifyParts = verifyPartitions(refDocs.sparkSession, refRows)
    val refVerify = shRef
      .select(col(idCol).as("b"), sort_array(col("sh")).as("sh_b"))
      .repartition(refVerifyParts, col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    refVerify.count()
    new PrefixCrossIndex(idCol, textCol, shingleSize, threshold,
      shRef, tokenCounts, refPrefixes, vocabBroadcastable,
      tokFreq, refVerify, refVerifyParts, None)
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
    * the container side finds every qualifying pair (completeness
    * argument mirrors [[prefixFilterJoin]]; only the probe side can be
    * prefix-pruned for containment because |b| is unbounded). A size
    * filter (`|b| >= ceil(t*|a|)` — the intersection needs that many
    * tokens in b) prunes the rest. Shuffles are pinned equi-joins on the
    * token key; the container-side index is the corpus token table — the
    * documented skew remedy is the LSH family's: pre-collapse exact dups
    * first.
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
    val withShingles = widen(docs).select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRows = withShingles.count()
    // Tier-1 broadcast kernel, same gate/escape as prefixFilterJoinImpl
    // (no id-type restriction: the pair condition is a != b, not an order)
    if (!sys.props.get("graft.ppjoin.kernel").contains("off") &&
        nRows <= longProp("graft.ppjoin.broadcastRows").getOrElse(100000L))
      return (PrefixCrossIndex.containmentKernelPairs(withShingles, idCol, threshold),
        Seq(withShingles))
    val exploded = withShingles.select(col(idCol), explode(col("sh")).as("tok"))
    val withCnt = exploded.withColumn("cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
    val sorted = withCnt
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sh_sorted"))
    // same 1e-9 ceil guard as prefixFilterJoin (completeness at
    // non-dyadic thresholds)
    val prefixLen = (size(col("sh_sorted"))
      - ceil(lit(threshold) * size(col("sh_sorted")) - lit(1e-9)).cast("int") + 1).cast("int")
    val prefixes = pinPartitions(sorted
      .select(col(idCol).as("a"), size(col("sh_sorted")).as("a_sz"),
        explode(transform(slice(col("sh_sorted"), lit(1), prefixLen),
          x => x.getField("tok"))).as("tok")),
      col("tok"))
    val full = pinPartitions(sorted
      .select(col(idCol).as("b"), size(col("sh_sorted")).as("b_sz"),
        explode(transform(col("sh_sorted"), x => x.getField("tok"))).as("tok")),
      col("tok"))
    // A pair surfaces once PER SHARED PREFIX TOKEN of `a` (the container
    // index is the full token table, so high-containment pairs share many)
    // — dedupe the id-only candidates BEFORE hauling both shingle arrays
    // through the verify joins; unlike prefixFilterJoin's ~5%-dup position
    // filter, duplication here scales with the overlap itself.
    val candidates = prefixes.join(full,
        prefixes("tok") === full("tok") && col("a") =!= col("b")
          && col("b_sz") >= ceil(lit(threshold) * col("a_sz") - lit(1e-9)))
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = withShingles.select(col(idCol).as("a"), sort_array(col("sh")).as("sh_a"))
    val right = withShingles.select(col(idCol).as("b"), sort_array(col("sh")).as("sh_b"))
    val spark = withShingles.sparkSession
    // demand-scaled verify parallelism, both exchanges pinned — see
    // [[verifyPairsOwned]] (the sf3 spill cliff was measured HERE: 98 s →
    // 21 s; the persist keeps candidate generation at one execution), and
    // bounded-footprint K-pass chunking past the single-pass disk budget
    // (the sf10 ENOSPC wall — see [[verifyChunkCount]]/[[chunkedVerify]])
    val cnt = candidates.count()
    val k = verifyChunkCount(cnt)
    if (sys.props.get("graft.verify.debug").nonEmpty)
      System.err.println(s"[verify] containment candidates=$cnt chunks=$k")
    val n = verifyPartitions(spark, (cnt + k - 1) / k)
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
    (verified, Seq(withShingles, candidates))
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

  /** Rounds taken by the most recent [[connectedComponents]] call in this
    * JVM (-1 = never ran). The bench artifact reports rounds alongside
    * seconds for the iterative dedup queries, so cross-round comparisons
    * can separate "more rounds" from "slower rounds" without a re-run.
    * Bench executes queries sequentially; last-write-wins is the intended
    * read.
    */
  val lastRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** [[connectedComponents]] internals: returns (result, a release thunk
    * freeing the final label blocks, converged?). Label propagation needs
    * O(max component diameter) rounds; when `maxRounds` cuts it short the
    * labels are PARTIAL (one real cluster can carry several labels), so
    * non-convergence is loudly logged — callers needing a hard guarantee
    * check the flag.
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
                                            ): (DataFrame, () => Unit, Boolean) = {
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
    val ccDebug = sys.props.get("graft.cc.debug").nonEmpty
    while (changed > 0 && round < maxRounds) {
      val roundT0 = System.nanoTime()
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
      if (ccDebug) System.err.println(
        f"[components] round $round: ${(System.nanoTime() - roundT0) / 1e9}%.1f s changed=$changed")
    }
    symRdd.foreach(_.unpersist(blocking = false))
    lastRounds.set(round)
    // probe hook: -Dgraft.cc.debug=1 prints the round count (scale probes
    // verify "same rounds at 10x data" claims against this)
    if (sys.props.get("graft.cc.debug").nonEmpty)
      System.err.println(s"[components] converged=${changed == 0L} rounds=$round")
    val converged = changed == 0L
    if (!converged)
      System.err.println(s"[components] label propagation did NOT converge in " +
        s"$maxRounds rounds ($changed labels still changing) — a component with " +
        s"diameter > $maxRounds carries PARTIAL labels; raise maxRounds")
    val finalCp = lastCp
    val release = () => finalCp.foreach(_.unpersist(blocking = false))
    (labels.withColumnRenamed("id", idCol).withColumnRenamed("label", "component"),
      release, converged)
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
    val (comp, ccRelease, _) =
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

  /** Dropped-work accounting for [[simHashNearDup]]'s bucket cap — computed
    * and LOGGED whenever the cap engages, so capping is never silent.
    */
  final case class SimHashSkewStats(droppedChunkRows: Long, droppedBuckets: Long,
                                    maxBucketN: Long)

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
    */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Int = Int.MaxValue): DataFrame =
    simHashNearDupWithStats(docs, idCol, textCol, maxHamming, maxBucketSize)._1

  /** [[simHashNearDup]] returning the cap's dropped-work stats (None when
    * `maxBucketSize` is not set). Computing the stats runs one aggregation
    * job at call time — only on the opt-in capped path.
    */
  def simHashNearDupWithStats(docs: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3,
                              maxBucketSize: Int = Int.MaxValue): (DataFrame, Option[SimHashSkewStats]) = {
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
                          maxBucketSize: Int = Int.MaxValue): (DataFrame, Option[SimHashSkewStats]) = {
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
    // measured and logged (and returned to the caller).
    val bucketN = {
      import org.apache.spark.sql.expressions.Window
      count(lit(1)).over(Window.partitionBy(col("ci"), col("cv")))
    }
    val stats =
      if (maxBucketSize == Int.MaxValue) None
      else {
        val counted = chunked.withColumn("__bucket_n__", bucketN)
        val r = counted.agg(
          coalesce(sum(when(col("__bucket_n__") > maxBucketSize, 1L)), lit(0L)),
          coalesce(count_distinct(when(col("__bucket_n__") > maxBucketSize,
            struct(col("ci"), col("cv")))), lit(0L)),
          coalesce(max(col("__bucket_n__")), lit(0L))).head()
        val s = SimHashSkewStats(r.getLong(0), r.getLong(1), r.getLong(2))
        if (s.droppedChunkRows > 0)
          System.err.println(s"[simhash] maxBucketSize=$maxBucketSize dropped " +
            s"${s.droppedChunkRows} signature-chunk rows across ${s.droppedBuckets} " +
            s"buckets (largest bucket: ${s.maxBucketN} distinct signatures) — " +
            "pairs whose only agreeing chunk was capped are lost")
        Some(s)
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
      val k = verifyChunkCount(mass)
      if (sys.props.get("graft.verify.debug").nonEmpty)
        System.err.println(s"[verify] hamming pairMass=$mass chunks=$k")
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
    (withinPairs.union(crossPairs), stats)
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
