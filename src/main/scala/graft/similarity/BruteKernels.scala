package graft.similarity

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** Blocked/fused mapPartitions kernels for the broadcast-side brute-cosine
  * operators (seed quality, hard negatives, IVF, IVF-PQ) — the r16 follow-up
  * to `bruteForcePairsBlocked`'s 21-28x (guide §1.2 step 2 "per-task work",
  * §4 "do the heavy lifting in native code").
  *
  * Why these four: at sf10 the quartet was 493+448+440+433 s — each one a
  * broadcast-small-side x corpus shape whose per-pair work Catalyst evaluates
  * as one codegen'd projection per JOINED ROW (join machinery + UnsafeArray
  * accessors + a BigDecimal `round()` per pair on the quality/IVF paths) and
  * whose per-group top-k goes through a hash-aggregate probe per pair. Every
  * decision in these operators depends only on the corpus row and the
  * broadcast side, so the whole pipeline collapses into one tight
  * primitive-double loop per corpus row: dot products on unboxed arrays,
  * heap selection without hash probes, and BigDecimal rounding only on the
  * rare candidates that can actually affect the result (a proven-margin fast
  * reject skips it for the rest).
  *
  * BIT-EQUALITY CONTRACT (the same standing as `bruteForcePairsBlocked` and
  * the multimodal decode lanes): every kernel reproduces the expression
  * formulation's arithmetic exactly —
  *   - dot = sequential float->double multiply-add in ascending index order
  *     ([[DoubleDotProductExpr.compute]]); norms are `sqrt(dot(v, v))`
  *     hoisted per side exactly as the expression plans hoist them;
  *   - `round(x, s)` = NaN/Infinity unchanged, else
  *     `BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue` (verified
  *     against Spark 4.1.2 RoundBase bytecode);
  *   - double ordering is SQL ordering (NaN greatest, -0.0 == 0.0) via
  *     [[SQLOrderingUtil.compareDoubles]], ties always ascending id — the
  *     [[TopKByAgg]]/max(struct) selection semantics;
  *   - decimal sums are exact integer sums of the HALF_UP-scaled unscaled
  *     values (micros for decimal(10,6), picos for decimal(30,12)),
  *     converted back exactly as `Decimal.toDouble` does.
  * `BruteKernelSpec` pins each operator kernel bit-equal to the expression
  * formulation (same collected rows, compared by raw double bits); the
  * DuckDB hash oracle certifies the end queries.
  *
  * The per-partition top-k heaps emit at most k rows per (partition, group);
  * the global [[TopKByAgg]] merge then selects the identical final k because
  * top-k under a total order is a semilattice: topk(S1 ∪ S2) =
  * topk(topk(S1) ∪ topk(S2)).
  *
  * Scale shape: the corpus is scanned once with NO exchange before the
  * kernel (the former BroadcastNestedLoopJoin stage had the same
  * partitioning); only k rows per (partition, query) — or one row per corpus
  * vector for quality — leave the kernel. The broadcast sides are small by
  * construction (seeds / eval queries / trained centroids / codebooks), the
  * same sides the expression plans already collected into driver-built
  * broadcast relations.
  *
  * Assumes well-formed inputs (the operators' standing invariant): ids cast
  * losslessly to long, vectors non-null with equal lengths. Rows/pairs that
  * the expression form drops via null propagation (null id, null vector,
  * null element, length mismatch) are skipped identically here; degenerate
  * zero-norm vectors (NaN cosines) follow SQL NaN ordering identically in
  * the selection paths.
  */
private[graft] object BruteKernels {

  final case class SideVec(id: Long, vec: Array[Double], norm: Double)

  /** Sequential multiply-add in double, ascending index —
    * [[DoubleDotProductExpr.compute]] arithmetic on pre-widened arrays
    * (float->double widening is exact, so widening once per row instead of
    * once per pair changes nothing).
    */
  def dotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def normD(a: Array[Double]): Double = math.sqrt(dotD(a, a))

  /** Spark `round(x, s)` for doubles: NaN/Infinity unchanged, else decimal
    * HALF_UP on the canonical (valueOf) form — RoundBase semantics.
    */
  def roundAt(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  def round6(x: Double): Double = roundAt(x, 6)
  def round9(x: Double): Double = roundAt(x, 9)

  /** Exact unscaled value of `cast(x as decimal(p, s))` for a double —
    * Spark's Cast goes through BigDecimal.valueOf + HALF_UP changePrecision.
    * Callers guarantee range (cosines/dots of bounded embeddings).
    */
  def unscaled(x: Double, scale: Int): Long =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** `Decimal(unscaled, scale).toDouble` — exact BigDecimal -> double. */
  def decimalToDouble(unscaledSum: Long, scale: Int): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(unscaledSum), scale).doubleValue()

  /** negative when (o1, t1) ranks strictly better than (o2, t2) under
    * (ord desc, tie asc) — [[TopKByAgg.Buffer]]'s descending comparator.
    */
  def cmpDesc(o1: Double, t1: Long, o2: Double, t2: Long): Int = {
    val c = SQLOrderingUtil.compareDoubles(o2, o1)
    if (c != 0) c else java.lang.Long.compare(t1, t2)
  }

  /** Bounded (ord desc, tie asc) top-k — the [[TopKByAgg.Buffer]] selection
    * on (double, long) pairs without InternalRow payloads. `worstOrd` backs
    * the callers' proven-margin fast reject (skip BigDecimal rounding when
    * the raw value provably cannot reach the buffer).
    */
  final class LocalTopK(val k: Int) {
    val ords = new Array[Double](k)
    val ties = new Array[Long](k)
    var n = 0
    private var worstIdx = -1

    def full: Boolean = n == k
    def worstOrd: Double = ords(worstIdx)

    private def rescanWorst(): Unit = {
      var w = 0
      var i = 1
      while (i < n) {
        if (cmpDesc(ords(i), ties(i), ords(w), ties(w)) > 0) w = i
        i += 1
      }
      worstIdx = w
    }

    def insert(ord: Double, tie: Long): Unit = {
      if (n < k) {
        ords(n) = ord; ties(n) = tie
        n += 1
        if (n == k) rescanWorst()
      } else if (cmpDesc(ord, tie, ords(worstIdx), ties(worstIdx)) < 0) {
        ords(worstIdx) = ord; ties(worstIdx) = tie
        rescanWorst()
      }
    }
  }

  /** Boxed row array -> primitive doubles; null when any element is null
    * (the pair-null propagation of the expression form collapses to
    * row-skip because one null element nulls EVERY pair of the row).
    */
  def toDoubleArray(s: scala.collection.Seq[Any]): Array[Double] = {
    val n = s.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      s(i) match {
        case null                 => return null
        case f: java.lang.Float   => out(i) = f.toDouble
        case d: java.lang.Double  => out(i) = d.doubleValue()
        case x: java.lang.Number  => out(i) = x.doubleValue()
      }
      i += 1
    }
    out
  }

  /** Collect a small-by-construction side (the frames the expression plans
    * broadcast) into primitive arrays, id-ascending; norms precomputed with
    * the hoisted-norm arithmetic. Runs inside the operator call — i.e.
    * inside any timed region, exactly like the BroadcastExchange build it
    * replaces.
    */
  def collectSide(df: DataFrame, idCol: String, vecCol: String): Array[SideVec] =
    df.select(col(idCol).cast("long"), col(vecCol)).collect().iterator.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else {
        val v = toDoubleArray(r.getAs[scala.collection.Seq[Any]](1))
        if (v == null) None else Some(SideVec(r.getLong(0), v, normD(v)))
      }
    }.toArray.sortBy(_.id)

  private val longLongDouble =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
  private val longDoubleBoolean =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaBoolean)

  /** [[Similarity.seedQualityScore]] kernel: the entire operator is row-local
    * given the broadcast seed set (top-k over seeds, exact decimal mean), so
    * the output is one row per corpus vector straight out of the scan stage —
    * ZERO exchanges (the expression plan shuffled corpus-id-keyed topk + mean
    * aggregates).
    */
  def seedQuality(corpus: DataFrame, seeds: DataFrame, idCol: String, vecCol: String,
                  k: Int, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(collectSide(seeds, idCol, vecCol))
    corpus.select(col(idCol).cast("long"), col(vecCol)).mapPartitions { it =>
      val side = bc.value
      it.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val id = r.getLong(0)
          val v = toDoubleArray(r.getAs[scala.collection.Seq[Any]](1))
          if (v == null) Iterator.empty
          else {
            val vn = normD(v)
            val top = new LocalTopK(k)
            var i = 0
            while (i < side.length) {
              val s = side(i)
              if (s.id != id && s.vec.length == v.length) {
                val raw = dotD(v, s.vec) / (vn * s.norm)
                // fast reject: round6(raw) <= raw + 5.0e-7(1+eps), so
                // raw < worst - 6e-7 implies round6(raw) < worst — strictly
                // worse than the buffer's worst regardless of tie. NaN fails
                // the comparison and takes the exact path (NaN greatest).
                if (!(top.full && raw < top.worstOrd - 6e-7))
                  top.insert(round6(raw), s.id)
              }
              i += 1
            }
            if (top.n == 0) Iterator.empty
            else {
              // sum(cast(cos6 as decimal(10,6))) is the exact micro sum
              // (NaN casts to null and is skipped by sum but still counted
              // by count — contribute 0, identical)
              var micros = 0L
              var j = 0
              while (j < top.n) {
                if (!java.lang.Double.isNaN(top.ords(j)))
                  micros += unscaled(top.ords(j), 6)
                j += 1
              }
              val score = round6(decimalToDouble(micros, 6) / top.n.toDouble)
              Iterator.single((id, score, score >= threshold))
            }
          }
        }
      }
    }(longDoubleBoolean).toDF(idCol, "seed_score", "keep")
  }

  /** [[Similarity.hardNegatives]] kernel: per corpus row, score every
    * broadcast query, band-filter on the ROUNDED cosine, feed per-partition
    * per-query top-k heaps; at most k rows per (partition, query) reach the
    * global [[TopKByAgg]] merge. Proven-margin fast paths skip the
    * per-pair BigDecimal for out-of-band and can't-reach-heap candidates.
    */
  def hardNegativeCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                             vecCol: String, k: Int, floor: Double,
                             ceiling: Double): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(collectSide(queries, idCol, vecCol))
    corpus.select(col(idCol).cast("long"), col(vecCol)).mapPartitions { it =>
      val qs = bc.value
      val heaps = new Array[LocalTopK](qs.length)
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val id = r.getLong(0)
          val v = toDoubleArray(r.getAs[scala.collection.Seq[Any]](1))
          if (v != null) {
            val vn = normD(v)
            var qi = 0
            while (qi < qs.length) {
              val q = qs(qi)
              if (q.id != id && q.vec.length == v.length) {
                val raw = dotD(q.vec, v) / (q.norm * vn)
                var heap = heaps(qi)
                // fast rejects (all false for NaN -> exact path, where the
                // band predicate is false for NaN exactly like SQL):
                //   raw < floor - 6e-7   => round6(raw) <  floor  (banded out)
                //   raw > ceiling + 6e-7 => round6(raw) >= ceiling (banded out)
                //   heap full && raw < worst - 6e-7 => can't enter the heap
                val cantReach = heap != null && heap.full && raw < heap.worstOrd - 6e-7
                if (!cantReach && !(raw < floor - 6e-7) && !(raw > ceiling + 6e-7)) {
                  val c6 = round6(raw)
                  if (c6 >= floor && c6 < ceiling) {
                    if (heap == null) { heap = new LocalTopK(k); heaps(qi) = heap }
                    heap.insert(c6, id)
                  }
                }
              }
              qi += 1
            }
          }
        }
      }
      Iterator.range(0, qs.length).flatMap { qi =>
        val heap = heaps(qi)
        if (heap == null) Iterator.empty
        else Iterator.range(0, heap.n).map(j => (qs(qi).id, heap.ties(j), heap.ords(j)))
      }
    }(longLongDouble).toDF("query_id", "neighbor_id", "cosine")
  }

  /** [[Similarity.ivfKnn]] kernel: fused nearest-cell assignment (argmax
    * over broadcast centroids, 9-dp-rounded cosine, cell-id tiebreak) +
    * probed-cell exact scoring against the broadcast query side, with
    * per-partition per-query top-k heaps. The expression plan paid one
    * BigDecimal `round(_, 9)` per (corpus row x centroid); here the argmax
    * rounds only candidates within the proven half-ulp-of-9dp margin of the
    * incumbent best.
    */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    val cells = collectSide(centroids, idCol, vecCol)
    val qs = collectSide(queries, idCol, vecCol)
    // query probe sets — probeAssign arithmetic: round9 cosine, TopKByAgg
    // (cell_cos desc, cell_id asc), keep nProbe; inverted to cell -> queries
    val cellQueries = probeMap(cells, qs, nProbe)
    val bcCells = spark.sparkContext.broadcast(cells)
    val bcQs = spark.sparkContext.broadcast(qs)
    val bcCellQ = spark.sparkContext.broadcast(cellQueries)
    corpus.select(col(idCol).cast("long"), col(vecCol)).mapPartitions { it =>
      val cls = bcCells.value
      val queries = bcQs.value
      val cellQ = bcCellQ.value
      val heaps = new Array[LocalTopK](queries.length)
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val id = r.getLong(0)
          val v = toDoubleArray(r.getAs[scala.collection.Seq[Any]](1))
          if (v != null) {
            val vn = normD(v)
            val cell = argmaxCell(cls, v, vn)
            if (cell >= 0) {
              val probers = cellQ(cell)
              var pi = 0
              while (pi < probers.length) {
                val qi = probers(pi)
                val q = queries(qi)
                if (q.id != id && q.vec.length == v.length) {
                  val raw = dotD(q.vec, v) / (q.norm * vn)
                  var heap = heaps(qi)
                  if (heap == null) { heap = new LocalTopK(k); heaps(qi) = heap }
                  heap.insert(raw, id)
                }
                pi += 1
              }
            }
          }
        }
      }
      Iterator.range(0, queries.length).flatMap { qi =>
        val heap = heaps(qi)
        if (heap == null) Iterator.empty
        else Iterator.range(0, heap.n).map(j => (queries(qi).id, heap.ties(j), heap.ords(j)))
      }
    }(longLongDouble).toDF("query_id", "neighbor_id", "cosine")
  }

  /** argmaxAssign selection over the collected centroid array: max by
    * (round9(cosine) desc SQL-order, cell_id asc). Cells are id-ascending,
    * so strict-greater keeps the smallest cell id among 9-dp ties. Returns
    * the winning INDEX, or -1 when no centroid pairs validly (all-null
    * propagation drop). Fast path: a candidate with
    * raw < best9 - 6e-10 cannot round to >= best9 (|round9(x) - x| <=
    * 5.0e-10(1+eps)), so only near-incumbent candidates pay BigDecimal.
    */
  def argmaxCell(cells: Array[SideVec], v: Array[Double], vn: Double): Int = {
    var bestIdx = -1
    var best9 = 0.0
    var ci = 0
    while (ci < cells.length) {
      val c = cells(ci)
      if (c.vec.length == v.length) {
        val raw = dotD(v, c.vec) / (vn * c.norm)
        if (bestIdx < 0) { best9 = round9(raw); bestIdx = ci }
        else if (!(raw < best9 - 6e-10)) {
          val c9 = round9(raw)
          if (SQLOrderingUtil.compareDoubles(c9, best9) > 0) { best9 = c9; bestIdx = ci }
        }
      }
      ci += 1
    }
    bestIdx
  }

  /** probeAssign selection, computed locally over the collected sides:
    * per query the nProbe cells by (round9(cosine) desc SQL-order, cell_id
    * asc), inverted into cell-index -> array of query indexes.
    */
  def probeMap(cells: Array[SideVec], qs: Array[SideVec], nProbe: Int): Array[Array[Int]] = {
    val out = Array.fill(cells.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var qi = 0
    while (qi < qs.length) {
      val q = qs(qi)
      val top = new LocalTopK(nProbe)
      var ci = 0
      while (ci < cells.length) {
        val c = cells(ci)
        if (c.vec.length == q.vec.length)
          top.insert(round9(dotD(q.vec, c.vec) / (q.norm * c.norm)), c.id)
        ci += 1
      }
      // ties are cell IDS; map back to indexes (cells is id-ascending)
      var j = 0
      while (j < top.n) {
        val idx = java.util.Arrays.binarySearch(cells.map(_.id), top.ties(j))
        out(idx) += qi
        j += 1
      }
      qi += 1
    }
    out.map(_.toArray)
  }

  /** [[Similarity.ivfPqKnn]] kernel: fused coarse assignment + residual PQ
    * code selection + LUT scoring per corpus row, all against broadcast
    * tables precomputed once from the collected (tiny) centroid/codebook/
    * query sides with the exact expression arithmetic:
    *   - codes: per subspace, argmax of (dot(v_s, c_s) - cdot - cn/2) with
    *     code-id-ascending ties (the max(struct(rd, -code)) selection);
    *   - score: exact pico sum (decimal(30,12)) of the per-subspace LUT
    *     entries + the per-(query, cell) coarse credit, converted to double
    *     exactly as Decimal.toDouble.
    */
  def ivfPqCandidates(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                      codebook: DataFrame, idCol: String, vecCol: String, dim: Int,
                      numSubspaces: Int, k: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    val subDim = dim / numSubspaces
    val cells = collectSide(centroids, idCol, vecCol)
    val codes = collectSide(codebook, idCol, vecCol) // id-ascending => code-id-ascending
    val qs = collectSide(queries, idCol, vecCol)
    // per-subspace codeword slices + squared norms: cs(sub)(c), cn(sub)(c)
    val cs = Array.tabulate(numSubspaces, codes.length) { (sub, c) =>
      codes(c).vec.slice(sub * subDim, sub * subDim + subDim)
    }
    val cn = Array.tabulate(numSubspaces, codes.length) { (sub, c) => dotD(cs(sub)(c), cs(sub)(c)) }
    // centroid-codebook correction: cdot(cellIdx)(sub)(c)
    val cdot = Array.tabulate(cells.length, numSubspaces, codes.length) { (cell, sub, c) =>
      dotD(cells(cell).vec.slice(sub * subDim, sub * subDim + subDim), cs(sub)(c))
    }
    // query LUT in exact picos: pd(qi)(sub)(c) = cast(dot(q_sub, c_sub) as decimal(30,12))
    val pd = Array.tabulate(qs.length, numSubspaces, codes.length) { (qi, sub, c) =>
      unscaled(dotD(qs(qi).vec.slice(sub * subDim, sub * subDim + subDim), cs(sub)(c)), 12)
    }
    // coarse credit per (query, cell): cast(dot(q_vec, c_vec) as decimal(30,12))
    val qc = Array.tabulate(qs.length, cells.length) { (qi, cell) =>
      unscaled(dotD(qs(qi).vec, cells(cell).vec), 12)
    }
    val cellQueries = probeMap(cells, qs, nProbe)
    val bcCells = spark.sparkContext.broadcast(cells)
    val bcQs = spark.sparkContext.broadcast(qs)
    val bcTabs = spark.sparkContext.broadcast((cs, cn, cdot, pd, qc, cellQueries))
    corpus.select(col(idCol).cast("long"), col(vecCol)).mapPartitions { it =>
      val cls = bcCells.value
      val queries = bcQs.value
      val (csL, cnL, cdotL, pdL, qcL, cellQ) = bcTabs.value
      val heaps = new Array[LocalTopK](queries.length)
      val rowCodes = new Array[Int](numSubspaces)
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val id = r.getLong(0)
          val v = toDoubleArray(r.getAs[scala.collection.Seq[Any]](1))
          if (v != null && v.length == dim) {
            val vn = normD(v)
            val cell = argmaxCell(cls, v, vn)
            if (cell >= 0 && cellQ(cell).length > 0) {
              // residual PQ codes: per sub, argmax over codewords of
              // rd = dot(v_s, c_s) - cdot(cell, sub, c) - cn(sub, c)/2,
              // ties to the smallest code id (codes are id-ascending)
              var sub = 0
              while (sub < numSubspaces) {
                val vs = v.slice(sub * subDim, sub * subDim + subDim)
                var bestC = -1
                var bestRd = 0.0
                var c = 0
                while (c < csL(sub).length) {
                  val rd = dotD(vs, csL(sub)(c)) - cdotL(cell)(sub)(c) - 0.5 * cnL(sub)(c)
                  if (bestC < 0 || SQLOrderingUtil.compareDoubles(rd, bestRd) > 0) {
                    bestRd = rd; bestC = c
                  }
                  c += 1
                }
                rowCodes(sub) = bestC
                sub += 1
              }
              val probers = cellQ(cell)
              var pi = 0
              while (pi < probers.length) {
                val qi = probers(pi)
                val q = queries(qi)
                if (q.id != id) {
                  var picos = qcL(qi)(cell)
                  var s = 0
                  while (s < numSubspaces) { picos += pdL(qi)(s)(rowCodes(s)); s += 1 }
                  var heap = heaps(qi)
                  if (heap == null) { heap = new LocalTopK(k); heaps(qi) = heap }
                  heap.insert(decimalToDouble(picos, 12), id)
                }
                pi += 1
              }
            }
          }
        }
      }
      Iterator.range(0, queries.length).flatMap { qi =>
        val heap = heaps(qi)
        if (heap == null) Iterator.empty
        else Iterator.range(0, heap.n).map(j => (queries(qi).id, heap.ties(j), heap.ords(j)))
      }
    }(longLongDouble).toDF("query_id", "neighbor_id", "score")
  }
}
