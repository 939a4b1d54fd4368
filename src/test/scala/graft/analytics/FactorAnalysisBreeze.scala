package graft.analytics

import breeze.linalg.{diag, eigSym, inv, DenseMatrix, DenseVector}

/** The reference twin of [[FactorAnalysisEM]]'s driver half, on Breeze:
  * the same covariance-space EM with LAPACK's `eigSym`, and the score
  * projection through Breeze's `inv`. Its factor signs are whatever
  * LAPACK returns; compare after [[FactorAnalysisEM.signFixed]].
  */
object FactorAnalysisBreeze {

  final case class Model(
      components: DenseMatrix[Double], // k×d
      noiseVariance: DenseVector[Double],
      logLikelihood: Seq[Double],
      nIter: Int)

  private val Small = 1e-12

  def em(
      prepared: FactorAnalysisEM.Prepared,
      nComponents: Int,
      tol: Double = 1e-2,
      maxIter: Int = 1000
  ): Model = {
    val n = prepared.n
    val d = prepared.cols.length
    val cov = DenseMatrix.tabulate(d, d)((i, j) => prepared.cov(i)(j))
    val k = math.min(nComponents, d - 1).max(1)
    val varDiag = diag(cov).copy
    val llconst = d * math.log(2 * math.Pi) + k

    var psi = DenseVector.ones[Double](d)
    var w = DenseMatrix.zeros[Double](k, d)
    var oldLl = Double.NegativeInfinity
    val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val sqrtPsi = psi.map(math.sqrt(_) + Small)
      val m = DenseMatrix.tabulate(d, d)((i, j) =>
        cov(i, j) / (sqrtPsi(i) * sqrtPsi(j)))
      val es = eigSym(m)
      val order = (0 until d).sortBy(i => -es.eigenvalues(i))
      val topIdx = order.take(k)
      val s = topIdx.map(es.eigenvalues(_)).toArray
      val unexpVar = order.drop(k).map(es.eigenvalues(_)).sum
      w = DenseMatrix.tabulate(k, d) { (i, j) =>
        math.sqrt(math.max(s(i) - 1.0, 0.0)) *
          es.eigenvectors(j, topIdx(i)) * sqrtPsi(j)
      }
      var ll = llconst + s.map(math.log).sum + unexpVar +
        psi.toArray.map(math.log).sum
      ll *= -n / 2.0
      lls += ll
      if (ll - oldLl < tol && iter > 0) converged = true
      else {
        oldLl = ll
        val wsq = DenseVector.tabulate(d)(j =>
          (0 until k).map(i => w(i, j) * w(i, j)).sum)
        psi = DenseVector.tabulate(d)(j =>
          math.max(varDiag(j) - wsq(j), Small))
      }
      iter += 1
    }
    Model(w, psi, lls.toSeq, iter)
  }

  /** P = Ψ⁻¹Wᵀ(I + WΨ⁻¹Wᵀ)⁻¹, d×k. */
  def projection(components: DenseMatrix[Double], noiseVariance: DenseVector[Double]): DenseMatrix[Double] = {
    val k = components.rows
    val wpsi = DenseMatrix.tabulate(k, components.cols)((i, j) =>
      components(i, j) / noiseVariance(j))
    val covZ = inv(DenseMatrix.eye[Double](k) + wpsi * components.t)
    wpsi.t * covZ
  }
}
