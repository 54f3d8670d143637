package graft.tsne

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** High-dimensional affinity computation (ref: `TsneHelpers.scala:162-196,
  * 434-504` and the sparse-row assembly at `Tsne.scala:119-129`).
  */
object Affinities {

  // ---------------- O21: per-point perplexity calibration (pure math) ----

  /** Entropy H(Pᵢ) at a given β = 1/2σ² (ref `TsneHelpers.scala:490-495`):
    * H = log ΣP + β · Σ(d·P)/ΣP with ΣP floored at 1e-7. */
  private[tsne] def computeH(dists: Array[Double], beta: Double): Double = {
    var sumP = 0.0
    var sumDP = 0.0
    var k = 0
    while (k < dists.length) {
      val p = math.exp(-dists(k) * beta)
      sumP += p
      sumDP += dists(k) * p
      k += 1
    }
    if (sumP == 0.0) sumP = 1e-7
    math.log(sumP) + beta * sumDP / sumP
  }

  /** Normalized conditional probabilities p_{j|i} at a given β
    * (ref `TsneHelpers.scala:497-504`, same 1e-7 zero-sum guard). */
  private[tsne] def computeP(dists: Array[Double], beta: Double): Array[Double] = {
    val p = new Array[Double](dists.length)
    var sumP = 0.0
    var k = 0
    while (k < dists.length) { p(k) = math.exp(-dists(k) * beta); sumP += p(k); k += 1 }
    if (sumP == 0.0) sumP = 1e-7
    k = 0
    while (k < dists.length) { p(k) /= sumP; k += 1 }
    p
  }

  /** 50-iteration bisection on β to hit H(Pᵢ) = log(perplexity) within 1e-5
    * (ref `TsneHelpers.scala:434-488`): doubles β while unbounded above,
    * halves while unbounded below, bisects once bracketed. Iterative rather
    * than the reference's recursion — same sequence of β values. */
  private[tsne] def calibrateBeta(dists: Array[Double], perplexity: Double,
                                  maxIter: Int = 50, tol: Double = 1e-5): Array[Double] = {
    val targetH = math.log(perplexity)
    var beta = 1.0
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    var iter = maxIter
    var h = computeH(dists, beta)
    while (math.abs(h - targetH) >= tol && iter > 0) {
      if (h - targetH > 0) {
        // entropy too high -> raise beta; current guess becomes lower bound
        lo = beta
        beta = if (hi.isInfinite) beta * 2 else (beta + hi) / 2
      } else {
        hi = beta
        beta = if (lo.isInfinite) beta / 2 else (beta + lo) / 2
      }
      h = computeH(dists, beta)
      iter -= 1
    }
    computeP(dists, beta)
  }

  // ---------------- O10: pairwise affinities ----------------------------

  /** Conditional distribution p_{j|i} from kNN distances
    * (ref `TsneHelpers.scala:162-180`): one shuffle on `i`, then the pure
    * per-group binary search. `flatMapGroups` is the Spark form of the
    * reference's `groupBy(i).reduceGroup`. Each row is calibrated over its
    * neighbours in `(dist, j)` order, so p does not depend on the order in
    * which the shuffle delivers them. */
  def pairwiseAffinities(knn: Dataset[Neighbor], perplexity: Double): Dataset[Neighbor] =
    nearestAffinities(knn, Int.MaxValue, perplexity)

  /** The kNN merge fused with β calibration: one group-by-i pass over
    * per-point candidates ([[Knn.candidates]]) keeps the `k` best by
    * `(dist, j)` ([[Knn.nearest]]) and calibrates β on them, in that order.
    * Equal, bit for bit, to [[pairwiseAffinities]] over the merged kNN
    * lists, with one shuffle fewer. */
  def nearestAffinities(candidates: Dataset[Neighbor], k: Int,
                        perplexity: Double): Dataset[Neighbor] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    Exchanges.groupedBy[Long, Neighbor](candidates, "i")
      .flatMapGroups { (i, rows) =>
        val arr = Knn.nearest(rows, k)
        val p = calibrateBeta(arr.map(_.dist), perplexity)
        arr.indices.iterator.map(m => Neighbor(i, arr(m).j, p(m)))
      }
  }

  // ---------------- O11 + O12: symmetric sparse rows ---------------------

  /** Symmetrize and assemble sparse rows in ONE shuffle
    * (ref `TsneHelpers.scala:182-196` and the row assembly at
    * `Tsne.scala:119-129`): every conditional p_{j|i} is sent to row i and,
    * transposed, to row j; a single group-by-i then sorts each row by
    * j and sums the contributions per column, p_{j|i} + p_{i|j} (at most
    * two for kNN input; ties on j are summed in ascending value order, so
    * the result does not depend on shuffle fetch order). The rows are NOT
    * normalized: P = rows / ΣP, with ΣP from [[rowStats]].
    *
    * (The reference's `max(_, Double.MinValue)` clamps at `:191,194` are
    * no-ops — scala `Double.MinValue` is −1.8e308 — so plain division is
    * faithful; SURVEY.md §2 O11.) */
  def symmetricRows(p: Dataset[Neighbor]): Dataset[AffinityRow] = {
    val spark = p.sparkSession
    import spark.implicits._
    Exchanges.groupedBy[Long, Neighbor](p.flatMap(n => Iterator(n, Neighbor(n.j, n.i, n.dist))), "i")
      .mapGroups { (i, rows) =>
        val sorted = rows.toArray.sortBy(n => (n.j, n.dist))
        val js = new Array[Long](sorted.length)
        val ps = new Array[Double](sorted.length)
        var m = -1
        var k = 0
        while (k < sorted.length) {
          val n = sorted(k)
          if (m >= 0 && js(m) == n.j) ps(m) += n.dist
          else { m += 1; js(m) = n.j; ps(m) = n.dist }
          k += 1
        }
        AffinityRow(i, js.take(m + 1), ps.take(m + 1))
      }
  }

  /** (|P|, rows, ΣP) of un-normalized rows in one job: per-partition
    * partials folded on the driver. |P| and the row count route the
    * optimizer; ΣP is the normalizer, summed exactly ([[exactSum]]). */
  def rowStats(rows: Dataset[AffinityRow]): (Long, Long, Double) = {
    val (entries, n, total) = rows.rdd.mapPartitions { it =>
      var entries = 0L
      var n = 0L
      var total = java.math.BigDecimal.ZERO
      it.foreach { r => entries += r.js.length; n += 1; total = exactSum(total, r.ps) }
      Iterator((entries, n, total))
    }.collect().foldLeft((0L, 0L, java.math.BigDecimal.ZERO)) {
      case ((e, n, t), (e1, n1, t1)) => (e + e1, n + n1, t.add(t1))
    }
    (entries, n, total.doubleValue)
  }

  /** `acc` + Σ ps with no rounding: every double enters as its exact
    * decimal expansion, and the caller rounds the total once. ΣP — and so
    * every bit of P — is then the same however the rows are partitioned
    * or ordered; a floating-point running sum is not, and the optimizer
    * amplifies a last-bit difference in P into a different embedding. */
  private[tsne] def exactSum(acc: java.math.BigDecimal, ps: Array[Double]): java.math.BigDecimal = {
    var s = acc
    var k = 0
    while (k < ps.length) { s = s.add(new java.math.BigDecimal(ps(k))); k += 1 }
    s
  }

  /** One row of P = rows / ΣP — the only place P is normalized. */
  def normalize(row: AffinityRow, total: Double): AffinityRow =
    AffinityRow(row.id, row.js, row.ps.map(_ / total))

  /** O11 in COO form, p_ij = (p_{j|i} + p_{i|j}) / ΣP: the normalized
    * [[symmetricRows]], one entry per (i, j). */
  def jointDistribution(p: Dataset[Neighbor]): Dataset[Neighbor] =
    jointDistributionWithRelease(p)._1

  /** [[jointDistribution]] plus a release handle for its cached rows. ΣP
    * needs one pass over the rows before the divide, so the rows are
    * persisted and ΣP is taken eagerly with [[rowStats]] (one job); the
    * result then reads the cache. Call the handle once the result has
    * been consumed. (Measured on a 600-point, k = 30 input, `local[4]`: a
    * lazy 1-row cross join of ΣP over the same rows, with the row exchange
    * reused and no cache, collected in 529 ms against 372 ms for this.) */
  def jointDistributionWithRelease(p: Dataset[Neighbor]): (Dataset[Neighbor], () => Unit) = {
    val spark = p.sparkSession
    import spark.implicits._
    val rows = symmetricRows(p).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, _, total) = rowStats(rows)
    val joint = rows.flatMap { r =>
      val n = normalize(r, total)
      n.js.indices.iterator.map(k => Neighbor(n.id, n.js(k), n.ps(k)))
    }
    (joint, () => { rows.unpersist(); () })
  }

  /** Group a COO joint distribution by row id into parallel (j, p) arrays,
    * sorted by j (ref `Tsne.scala:119-129` builds a Breeze SparseVector of
    * fake capacity n²; only the active entries matter). One hash shuffle. */
  def toAffinityRows(joint: Dataset[Neighbor]): Dataset[AffinityRow] = {
    val spark = joint.sparkSession
    import spark.implicits._
    joint.groupByKey(_.i)
      .mapGroups { (i, rows) =>
        val sorted = rows.toArray.sortBy(_.j)
        AffinityRow(i, sorted.map(_.j), sorted.map(_.dist))
      }
  }
}
