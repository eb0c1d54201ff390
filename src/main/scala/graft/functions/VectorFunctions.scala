package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType` embedding columns — higher-order
  * Catalyst expressions (`zip_with` / `aggregate`) for the per-pair
  * scoring math, plus JVM kernels ([[int8Quantize]], [[l2Normalize]])
  * where a lambda spelling would re-evaluate a whole-vector
  * subexpression per element. Accumulation is in double regardless of
  * the storage element type so results are engine-stable.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity; null-safe via division (0-norm yields null). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine through the codegen'd native `cosine_sim` expression (the HOF
    * [[cosine]] is CodegenFallback — interpreted per element). Both
    * accumulate left-to-right and both yield null on zero-norm input, so
    * results are bit-identical.
    */
  def cosineBest(a: Column, b: Column): Column =
    call_function("cosine_sim", a.cast("array<double>"), b.cast("array<double>"))

  /** Euclidean distance. */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, v) => acc + v))

  /** Quantized vector: integer codes + the per-vector scale. */
  case class Int8Quantized(codes: Array[Long], scale: Double)

  /** Int8 scalar quantization: `struct(codes array<long>, scale double)` with
    * `scale = max|xᵢ|/127` and `codesᵢ = floor(xᵢ/scale + 0.5)` — symmetric
    * round-half-up into [-127, 127], the standard 4×-memory-cut embedding
    * storage form. `floor(x+0.5)` (not `round`) because both engines floor
    * identically on IEEE doubles, whereas round-half semantics differ.
    * Zero vectors quantize to all-zero codes with scale 0. Reconstruction
    * error is bounded by scale/2 per element.
    *
    * One-pass JVM kernel, NOT a `transform` lambda: a HOF lambda
    * re-evaluates every non-lambda subexpression PER ELEMENT, so the
    * max-abs scan inside it runs dim times — O(dim²)/row, measured 12×
    * SLOWER than the unquantized cosine at 2M×64 (PLANS.md probe). The
    * kernel does the identical IEEE arithmetic in O(dim).
    */
  def int8Quantize(v: Column): Column =
    int8QuantizeUdf(v.cast("array<double>"))

  private[functions] def int8QuantizeKernel(v: Seq[Double]): Int8Quantized = {
    val n = v.length
    var mx = 0.0
    var i = 0
    while (i < n) { val a = math.abs(v(i)); if (a > mx) mx = a; i += 1 }
    val scale = mx / 127.0
    val codes = new Array[Long](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) { codes(i) = math.floor(v(i) / scale + 0.5).toLong; i += 1 }
    }
    Int8Quantized(codes, scale)
  }

  private val int8QuantizeUdf = udf((v: Seq[Double]) =>
    if (v == null) null else int8QuantizeKernel(v))

  /** Dequantize int8 codes back to doubles: `codesᵢ · scale`. */
  def int8Dequantize(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))

  /** `v/‖v‖₂` as a one-pass kernel (a transform-lambda would re-fold the
    * O(dim) norm per element); norm accumulates in dim order from 0.0,
    * matching the SQL `list_reduce(list_prepend(0.0, ...))` spelling.
    * Zero-norm and null input → null.
    */
  def l2Normalize(v: Column): Column = l2NormalizeUdf(v.cast("array<double>"))

  private[functions] def l2NormalizeKernel(p: Seq[Double]): Array[Double] = {
    var i = 0
    var s = 0.0
    while (i < p.length) { s += p(i) * p(i); i += 1 }
    val nrm = math.sqrt(s)
    if (nrm == 0.0) null
    else {
      val out = new Array[Double](p.length)
      i = 0
      while (i < p.length) { out(i) = p(i) / nrm; i += 1 }
      out
    }
  }

  private val l2NormalizeUdf = udf((p: Seq[Double]) =>
    if (p == null) null else l2NormalizeKernel(p))

  /** Rademacher sign for (input dim `i`, output dim `j`): ±1 from pure
    * integer arithmetic — `1 − 2·(((i+1)·2654435761 + (j+1)·40503) mod 97
    * mod 2)` — so ANY engine regenerates the identical projection matrix
    * from the formula alone (no RNG state to ship, unlike a seeded
    * gaussian). Knuth's multiplicative constants; the mod-97 pass decouples
    * the parity from the low bits of the linear form.
    */
  private[graft] def rademacherSign(i: Int, j: Int): Double =
    if ((((i + 1).toLong * 2654435761L + (j + 1).toLong * 40503L) % 97 % 2) == 0L)
      1.0
    else -1.0

  private[functions] def hashProjectKernel(v: Seq[Double], outDim: Int): Array[Double] = {
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var i = 0
      while (i < v.length) {
        acc += v(i) * rademacherSign(i, j)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    out
  }

  private def hashProjectUdf(outDim: Int) =
    udf((v: Seq[Double]) => if (v == null) null else hashProjectKernel(v, outDim))

  /** Sparse random projection (Achlioptas 2003 / feature hashing): maps a
    * `dim`-vector to `outDim` sums `yⱼ = Σᵢ vᵢ·s(i,j)` with deterministic
    * ±1 [[rademacherSign]]s — the Johnson-Lindenstrauss distance-sketch
    * that compresses embeddings (e.g. 64→8 dims) for coarse clustering
    * and LSH at a fraction of the scan width. A JVM kernel (one O(dim·
    * outDim) pass per row, accumulated in input-index order): the HOF
    * spelling re-evaluates non-lambda subexpressions per element. Pure
    * per-row math — no shuffle; null vectors project to null.
    */
  def hashProject(v: Column, outDim: Int): Column =
    hashProjectUdf(outDim)(v.cast("array<double>"))

  /** One selected row of an MMR re-rank (see [[mmrSelect]]). */
  case class MmrPick(pick_rank: Int, doc_id: Long, rel: Double, mmr: Double)

  /** Greedy maximal-marginal-relevance selection over ONE query's bounded
    * candidate list (Carbonell & Goldstein 1998): repeatedly take the
    * candidate maximizing `λ·rel − (1−λ)·max_{s∈selected} cos(cand, s)`
    * (the diversity penalty is 0 for the first pick). Ties break to the
    * smaller doc id; every comparison is a strict (score, id) order, so
    * the result is independent of the input list's order — collect_list's
    * nondeterministic ordering cannot change the picks. Pairwise cosine is
    * the same fused left-to-right dot/norm loop as the `cosine_sim`
    * kernel, so an oracle replaying `list_dot_product` arithmetic matches
    * bit-for-bit. `rel` should be the (rounded) retrieval score; `mmr` is
    * returned unrounded.
    */
  private[graft] def mmrSelect(lambda: Double, m: Int,
      cands: Seq[(Long, Double, Seq[Double])]): Seq[MmrPick] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var i = 0
      var d = 0.0
      var na = 0.0
      var nb = 0.0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
    while (out.length < m && remaining.nonEmpty) {
      var bestIdx = -1
      var bestScore = 0.0
      var bestId = 0L
      var j = 0
      while (j < remaining.length) {
        val (id, rel, emb) = remaining(j)
        var maxSim = 0.0
        var k = 0
        while (k < selected.length) {
          val s = cos(emb, selected(k)._2)
          if (k == 0 || s > maxSim) maxSim = s
          k += 1
        }
        val score = lambda * rel - (1.0 - lambda) * maxSim
        if (bestIdx < 0 || score > bestScore ||
            (score == bestScore && id < bestId)) {
          bestIdx = j; bestScore = score; bestId = id
        }
        j += 1
      }
      val (id, rel, emb) = remaining.remove(bestIdx)
      selected += ((id, emb))
      out += MmrPick(out.length + 1, id, rel, bestScore)
    }
    out.toSeq
  }

  private[graft] def mmrSelectUdf(lambda: Double, m: Int) =
    udf((cands: Seq[org.apache.spark.sql.Row]) =>
      if (cands == null) Seq.empty[MmrPick]
      else mmrSelect(lambda, m, cands.map(r =>
        (r.getLong(0), r.getDouble(1), r.getSeq[Double](2)))))

  /** Sign bit of `a · hyperplane` — building block for random-hyperplane LSH
    * (1 when non-negative).
    */
  def hyperplaneSign(a: Column, hyperplane: Seq[Double]): Column = {
    val h = array(hyperplane.map(lit): _*)
    when(dot(a, h) >= 0, 1).otherwise(0)
  }

  /** Pack `nBits` hyperplane signs into one long bucket id. Hyperplanes are
    * generated from a seeded xorshift so buckets are deterministic.
    */
  def lshBucket(a: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Seq.fill(nBits)(Seq.fill(dim)(rng.nextGaussian()))
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (plane, i)) =>
      acc + hyperplaneSign(a, plane).cast("long") * lit(1L << i)
    }
  }

  /** JVM twin of `round(cosine_sim(cast float→double), 6)`: the fused
    * left-to-right dot/norm loop of
    * [[graft.functions.expressions.CosineSimilarity]] over float inputs
    * widened per element (exactly what the Column path's
    * `cast("array<double>")` does), then [[Rounding.droundDouble]] —
    * bit-identical to the Column spelling by construction (both twins
    * are property-pinned elsewhere). NaN for zero-norm/empty input (the
    * expression's null; callers must treat NaN as no-match).
    */
  def cosineFloatsRounded(a: Array[Float], b: Array[Float], scale: Int): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = a(i).toDouble
      val yv = b(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN
    else Rounding.droundDouble(dot / (math.sqrt(na) * math.sqrt(nb)), scale)
  }

  /** Double-input twin of [[cosineFloatsRounded]]: the identical
    * left-to-right loop, no widening needed. Bit-identical to the float
    * twin on exactly-widened floats (same operation sequence).
    */
  def cosineDoublesRounded(a: Array[Double], b: Array[Double], scale: Int): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = a(i)
      val yv = b(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN
    else Rounding.droundDouble(dot / (math.sqrt(na) * math.sqrt(nb)), scale)
  }

  /** One LSH bucket's verified near-dup pairs, fused in-kernel: all
    * (id-sorted, `maxBucket`-capped) pairs whose EXACT rounded cosine
    * clears `minCosine` — (id_a, id_b, cosine) with id_a < id_b. `vecs`
    * is the already-unboxed DOUBLE matrix (the [[bucketPairsCosine]] /
    * [[bucketPairsCosineDoubles]] entry points widen float elements at
    * unbox time, exactly the Column path's `cast("array<double>")`, so
    * both physical embedding dtypes produce identical pairs).
    *
    * Fusing verification into the bucket aggregate means each vector
    * crosses the bucket exchange ONCE (float columns keep their ≈4·dim-
    * byte wire format), instead of riding a candidate-pair join once per
    * pair — on a bucket of m vectors the join spelling ships m·(m−1)
    * vector copies. Zero-norm vectors (NaN cosine) match nothing, like
    * the Column path's null.
    */
  private def bucketPairsCore(idArr: Array[Long], order: Array[Int],
                              vecs: Array[Array[Double]], n: Int,
                              minCosine: Double,
                              scale: Int): Array[(Long, Long, Double)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val c = cosineDoublesRounded(vecs(i), vecs(j), scale)
        if (c >= minCosine) out += ((idArr(order(i)), idArr(order(j)), c))
        j += 1
      }
      i += 1
    }
    out.toArray
  }

  private def unboxIds(ids: Seq[Long]): (Array[Long], Array[Int]) = {
    val m = ids.length
    val idArr = new Array[Long](m)
    var x = 0
    while (x < m) { idArr(x) = ids(x); x += 1 }
    (idArr, Array.range(0, m).sortBy(idArr))
  }

  /** Float-column entry point: widens each capped vector to a double
    * array once at unbox time — the O(n²·dim) loop never touches boxed
    * Seq accessors or re-widens per pair. `ids`/`vs` come from two
    * collect_lists in ONE aggregation pass, so they are aligned.
    */
  def bucketPairsCosine(ids: Seq[Long], vs: Seq[Seq[Float]], maxBucket: Int,
                        minCosine: Double,
                        scale: Int): Array[(Long, Long, Double)] = {
    require(ids.length == vs.length,
      s"bucketPairsCosine: ids (${ids.length}) and vs (${vs.length}) " +
        "misaligned — a null id or vector leaked past the caller's filter")
    val (idArr, order) = unboxIds(ids)
    val n = math.min(ids.length, maxBucket)
    val vecs = new Array[Array[Double]](n)
    var y = 0
    while (y < n) {
      val s = vs(order(y))
      val a = new Array[Double](s.length)
      var i = 0
      while (i < s.length) { a(i) = s(i).toDouble; i += 1 }
      vecs(y) = a
      y += 1
    }
    bucketPairsCore(idArr, order, vecs, n, minCosine, scale)
  }

  /** Double-column entry point (a regenerated embeddings table may ship
    * list<double> — the [[graft.sources]] schema-robustness contract).
    */
  def bucketPairsCosineDoubles(ids: Seq[Long], vs: Seq[Seq[Double]],
                               maxBucket: Int, minCosine: Double,
                               scale: Int): Array[(Long, Long, Double)] = {
    require(ids.length == vs.length,
      s"bucketPairsCosineDoubles: ids (${ids.length}) and vs (${vs.length}) " +
        "misaligned — a null id or vector leaked past the caller's filter")
    val (idArr, order) = unboxIds(ids)
    val n = math.min(ids.length, maxBucket)
    val vecs = new Array[Array[Double]](n)
    var y = 0
    while (y < n) { vecs(y) = vs(order(y)).toArray; y += 1 }
    bucketPairsCore(idArr, order, vecs, n, minCosine, scale)
  }

  /** One SemDeDup cluster's per-id lower-neighbor stats, fused in-kernel:
    * for each id (ascending) the rounded-cosine max and the ≥ tau count
    * over all SMALLER ids of the same cluster — (id, n_dups_lower,
    * max_cos_lower), with max_cos_lower null for the cluster's smallest
    * id (and for ids all of whose lower cosines are NaN — zero-norm
    * vectors match nothing, like the Column path's null).
    *
    * Same fusion argument as [[bucketPairsCosine]]: each vector crosses
    * the cluster exchange ONCE, where the join spelling shipped both
    * vectors once per PAIR — m·(m−1) copies for a cluster of m, the
    * whole cost of SemDeDup once clusters fill up. `maxCluster` caps the
    * O(m²) scan at the smallest-id `maxCluster` members (deterministic);
    * ids past the cap emit no stats row (the caller's left join reports
    * them kept with null stats). The k ∝ N contract
    * ([[graft.ScaleContract.semanticClusters]]) keeps m far below the
    * cap; the cap is the backstop, not the design.
    */
  def clusterSemanticStats(ids: Seq[Long], vs: Seq[Seq[Double]],
                           maxCluster: Int, tau: Double, scale: Int):
      Array[(Long, Long, java.lang.Double)] = {
    require(ids.length == vs.length,
      s"clusterSemanticStats: ids (${ids.length}) and vs (${vs.length}) " +
        "misaligned — a null id or vector leaked past the caller's filter")
    if (ids.length > maxCluster)
      // a binding cap means the caller's k is mis-parameterized (rows past
      // the cap keep kept=true with null stats — correct but lossy); make
      // that observable in executor logs instead of only in the scaladoc
      org.slf4j.LoggerFactory.getLogger("graft.VectorFunctions").warn(
        s"clusterSemanticStats: cluster of ${ids.length} exceeds " +
          s"maxCluster=$maxCluster — ${ids.length - maxCluster} rows get " +
          "null stats; derive k/maxCluster via graft.ScaleContract")
    val (idArr, order) = unboxIds(ids)
    val n = math.min(ids.length, maxCluster)
    val vecs = new Array[Array[Double]](n)
    var y = 0
    while (y < n) { vecs(y) = vs(order(y)).toArray; y += 1 }
    val out = new Array[(Long, Long, java.lang.Double)](n)
    var i = 0
    while (i < n) {
      val idI = idArr(order(i))
      var nd = 0L
      var mx = 0.0
      var has = false
      var j = 0
      while (j < i) {
        // STRICTLY smaller ids only: duplicate input ids sit adjacent in
        // the sorted order and must not pair with each other (the join
        // spelling's id_lo < id)
        if (idArr(order(j)) < idI) {
          val c = cosineDoublesRounded(vecs(j), vecs(i), scale)
          if (!c.isNaN) {
            if (!has || c > mx) { mx = c; has = true }
            if (c >= tau) nd += 1
          }
        }
        j += 1
      }
      out(i) = (idI, nd,
        if (has) java.lang.Double.valueOf(mx) else null)
      i += 1
    }
    out
  }

  def clusterSemanticStatsUdf(maxCluster: Int, tau: Double, scale: Int):
      org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((ids: Seq[Long], vs: Seq[Seq[Double]]) =>
      clusterSemanticStats(ids, vs, maxCluster, tau, scale))

  def bucketPairsCosineUdf(maxBucket: Int, minCosine: Double,
                           scale: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((ids: Seq[Long], vs: Seq[Seq[Float]]) =>
      bucketPairsCosine(ids, vs, maxBucket, minCosine, scale))

  def bucketPairsCosineDoublesUdf(maxBucket: Int, minCosine: Double,
                                  scale: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((ids: Seq[Long], vs: Seq[Seq[Double]]) =>
      bucketPairsCosineDoubles(ids, vs, maxBucket, minCosine, scale))
}
