package graft.tsne

/** Pure per-row gradient kernels (ref: `TsneHelpers.scala:221-318,341-369`).
  *
  * These are shared by every execution path in [[Optimizer]], so the
  * golden-value tests pin down a single implementation of the math. The
  * driver-local loop calls the `*Csr` forms, which index neighbours by
  * position instead of id and repeat the same arithmetic in the same
  * order; `OptimizerSpec` pins the paths to each other.
  * All kernels are 2-D (nComponents = 2) like the reference's gradient,
  * whose bounds/tree code indexes components 0 and 1 only
  * (`TsneHelpers.scala:228`, `QuadTree.scala:156`).
  */
object Gradient {

  /** Attractive force for one sparse row pᵢ· (ref `TsneHelpers.scala:284-305`):
    * F_attr(i) = Σ_j p_ij · q_ij · (yᵢ − yⱼ) with q_ij = 1/(1 + metric(yᵢ, yⱼ)).
    */
  def attractiveForce(
      js: Array[Long], ps: Array[Double],
      yi: Array[Double], yOf: Long => Array[Double],
      metric: (Array[Double], Array[Double]) => Double): (Double, Double) = {
    var fx = 0.0; var fy = 0.0
    var k = 0
    while (k < js.length) {
      val yj = yOf(js(k))
      val q = 1.0 / (1.0 + metric(yi, yj))
      val pq = ps(k) * q
      fx += pq * (yi(0) - yj(0))
      fy += pq * (yi(1) - yj(1))
      k += 1
    }
    (fx, fy)
  }

  /** [[attractiveForce]] over row `i` of a CSR matrix whose column indices
    * are positions in `y` (the driver-local loop's layout): the same
    * summation, without id lookups. */
  def attractiveForceCsr(
      cols: Array[Int], ps: Array[Double], from: Int, until: Int,
      yi: Array[Double], y: Array[Array[Double]],
      metric: (Array[Double], Array[Double]) => Double): (Double, Double) = {
    var fx = 0.0; var fy = 0.0
    var k = from
    while (k < until) {
      val yj = y(cols(k))
      val q = 1.0 / (1.0 + metric(yi, yj))
      val pq = ps(k) * q
      fx += pq * (yi(0) - yj(0))
      fy += pq * (yi(1) - yj(1))
      k += 1
    }
    (fx, fy)
  }

  /** KL-loss contribution of one sparse row at a known global sumQ
    * (ref `TsneHelpers.scala:297-300`): Σ_j p_ij · log(p_ij / (q_ij/sumQ)). */
  def lossPart(
      js: Array[Long], ps: Array[Double],
      yi: Array[Double], yOf: Long => Array[Double],
      metric: (Array[Double], Array[Double]) => Double,
      sumQ: Double): Double = {
    var loss = 0.0
    var k = 0
    while (k < js.length) {
      val q = 1.0 / (1.0 + metric(yi, yOf(js(k))))
      loss += ps(k) * math.log(ps(k) / (q / sumQ))
      k += 1
    }
    loss
  }

  /** [[lossPart]] over row `i` of the CSR layout of [[attractiveForceCsr]]. */
  def lossPartCsr(
      cols: Array[Int], ps: Array[Double], from: Int, until: Int,
      yi: Array[Double], y: Array[Array[Double]],
      metric: (Array[Double], Array[Double]) => Double,
      sumQ: Double): Double = {
    var loss = 0.0
    var k = from
    while (k < until) {
      val q = 1.0 / (1.0 + metric(yi, y(cols(k))))
      loss += ps(k) * math.log(ps(k) / (q / sumQ))
      k += 1
    }
    loss
  }

  /** The sumQ-independent decomposition of [[lossPart]]: returns
    * (Σⱼ p·log(p/q), Σⱼ p). Since log(p/(q/sumQ)) = log(p/q) + log(sumQ),
    * the full loss is Σ lossPre + (Σ pSum)·log(sumQ) — computable in the
    * same pass that evaluates the forces, *before* the global sumQ is
    * known, so the distributed optimizer needs no second job over P on
    * loss supersteps. */
  def lossPartsPreSumQ(
      js: Array[Long], ps: Array[Double],
      yi: Array[Double], yOf: Long => Array[Double],
      metric: (Array[Double], Array[Double]) => Double): (Double, Double) = {
    var pre = 0.0
    var psum = 0.0
    var k = 0
    while (k < js.length) {
      val q = 1.0 / (1.0 + metric(yi, yOf(js(k))))
      pre += ps(k) * math.log(ps(k) / q)
      psum += ps(k)
      k += 1
    }
    (pre, psum)
  }

  /** Delta-bar-delta update for one point (ref `TsneHelpers.scala:346-367`):
    * per component, gain shrinks ×0.8 when current gradient and previous
    * *step* agree in sign, else grows +0.2 (floored at minGain); the step is
    * momentum·prevStep − η·gain·grad; the new position is y + step.
    * Returns (newY, newStep, newGains). */
  def update(
      y: Array[Double], prevStep: Array[Double], gains: Array[Double],
      grad: Array[Double], minGain: Double, momentum: Double,
      learningRate: Double): (Array[Double], Array[Double], Array[Double]) = {
    val newY = y.clone()
    val newStep = prevStep.clone()
    val newGains = gains.clone()
    var k = 0
    while (k < grad.length) {
      updateComponent(newY, newStep, newGains, k, grad(k), minGain, momentum, learningRate)
      k += 1
    }
    (newY, newStep, newGains)
  }

  /** Component `d` of [[update]], in place: `step`, `gains` and `y` hold
    * the previous values on entry and the new ones on return. */
  def updateComponent(
      y: Array[Double], step: Array[Double], gains: Array[Double], d: Int,
      grad: Double, minGain: Double, momentum: Double, learningRate: Double): Unit = {
    val gain =
      if ((grad > 0.0) == (step(d) > 0.0)) math.max(gains(d) * 0.8, minGain)
      else math.max(gains(d) + 0.2, minGain)
    gains(d) = gain
    step(d) = momentum * step(d) - learningRate * gain * grad
    y(d) = step(d) + y(d)
  }
}
