package graft.analytics

import breeze.linalg.DenseMatrix
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[FactorAnalysisEM]]'s plain-array numerics against the Breeze twin
  * ([[FactorAnalysisBreeze]]): the Jacobi [[FactorAnalysisEM.eigSym]]
  * against LAPACK's `eigSym` on generated symmetric matrices (d = 1…16;
  * dense, diagonal, repeated eigenvalues, rank-deficient, all-zero), then
  * the EM and the score projection against the twin on generated factor
  * data, after both have the one sign rule applied.
  */
class FactorAnalysisJacobiSpec extends SparkSpec {

  private type M = Array[Array[Double]]

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def mul(a: M, b: M): M =
    Array.tabulate(a.length, b.head.length)((i, j) => b.indices.map(x => a(i)(x) * b(x)(j)).sum)

  private def frob(a: M): Double = math.sqrt(a.map(_.map(x => x * x).sum).sum)

  private def minus(a: M, b: M): M = a.zip(b).map { case (x, y) => x.zip(y).map(p => p._1 - p._2) }

  private def rows(m: DenseMatrix[Double]): M = Array.tabulate(m.rows, m.cols)((i, j) => m(i, j))

  /** A random orthogonal d×d matrix: Gram–Schmidt on uniform columns. */
  private def orthogonal(d: Int, u: Seq[Double]): M = {
    val cols = Array.tabulate(d)(j => Array.tabulate(d)(i => u(j * d + i)))
    for (j <- 0 until d) {
      for (p <- 0 until j) {
        val dot = cols(j).zip(cols(p)).map(x => x._1 * x._2).sum
        cols(j) = cols(j).zip(cols(p)).map(x => x._1 - dot * x._2)
      }
      val norm = math.sqrt(cols(j).map(x => x * x).sum)
      cols(j) = if (norm > 1e-8) cols(j).map(_ / norm)
        else Array.tabulate(d)(i => if (i == j) 1.0 else 0.0)
    }
    cols.transpose
  }

  /** Q diag(λ) Qᵀ, symmetrized exactly. */
  private def spectral(q: M, lambda: Seq[Double]): M = {
    val d = lambda.length
    val a = Array.tabulate(d, d)((i, j) => (0 until d).map(x => q(i)(x) * lambda(x) * q(j)(x)).sum)
    Array.tabulate(d, d)((i, j) => if (i <= j) a(i)(j) else a(j)(i))
  }

  /** Symmetric matrices with entries in [-1, 1], labelled by kind. */
  private val symmetric: Gen[(String, M)] = for {
    d <- Gen.choose(1, 16)
    u <- Gen.listOfN(d * d, Gen.choose(-1.0, 1.0))
    kind <- Gen.oneOf("dense", "diagonal", "repeated", "rank-deficient", "zero")
    r <- Gen.choose(0, d - 1)
  } yield kind -> (kind match {
    case "dense" => Array.tabulate(d, d)((i, j) => u(math.min(i, j) * d + math.max(i, j)))
    case "diagonal" => Array.tabulate(d, d)((i, j) => if (i == j) u(i) else 0.0)
    case "repeated" => // at most three distinct eigenvalues
      spectral(orthogonal(d, u), (0 until d).map(i => Seq(0.75, -0.25, 0.5)(i % 3)))
    case "rank-deficient" => // rank r < d, eigenvalues in [0, 1]
      spectral(orthogonal(d, u), (0 until d).map(i => if (i < r) math.abs(u(i)) else 0.0))
    case _ => Array.ofDim[Double](d, d)
  })

  test("generated symmetric matrices: Jacobi eigenpairs == LAPACK eigSym") {
    val kinds = (1 to 300).map { s =>
      val (kind, a) = sample(symmetric, s.toLong)
      val d = a.length
      val label = s"seed $s ($kind, d=$d)"
      val (values, vectors) = FactorAnalysisEM.eigSym(a)
      val ref = breeze.linalg.eigSym(DenseMatrix.tabulate(d, d)((i, j) => a(i)(j)))
      val refValues = ref.eigenvalues.toArray.sorted.reverse
      val norm = frob(a)
      values.zip(refValues).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12 * norm, s"$label: eigenvalue $x vs LAPACK $y")
      }
      assert(values.toSeq == values.sorted.reverse.toSeq, s"$label: not descending")
      val lambda = Array.tabulate(d, d)((i, j) => if (i == j) values(i) else 0.0)
      val residual = frob(minus(mul(a, vectors), mul(vectors, lambda)))
      assert(residual <= 1e-12, s"$label: ‖AV − VΛ‖ = $residual")
      val eye = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      val orth = frob(minus(mul(vectors.transpose, vectors), eye))
      assert(orth <= 1e-12, s"$label: ‖VᵀV − I‖ = $orth")
      kind
    }
    assert(kinds.distinct.size == 5, kinds.distinct)
  }

  test("degenerate matrices: 1×1, all-zero, identity, one huge off-diagonal ratio") {
    assert(FactorAnalysisEM.eigSym(Array(Array(-3.5)))._1.toSeq == Seq(-3.5))
    val (zv, zvec) = FactorAnalysisEM.eigSym(Array.ofDim[Double](4, 4))
    assert(zv.forall(_ == 0.0) && zvec.indices.forall(i => zvec(i)(i) == 1.0))
    val (iv, _) = FactorAnalysisEM.eigSym(Array.tabulate(3, 3)((i, j) => if (i == j) 1.0 else 0.0))
    assert(iv.toSeq == Seq(1.0, 1.0, 1.0))
    val a = Array(Array(0.0, 1e-200), Array(1e-200, 1e100))
    val (hv, hvec) = FactorAnalysisEM.eigSym(a)
    assert(hv(0) == 1e100 && math.abs(hv(1)) <= 1e-290, hv.toSeq)
    assert(math.abs(math.abs(hvec(1)(0)) - 1.0) <= 1e-15, hvec.map(_.toSeq).toSeq)
  }

  test("sign rule: each factor's largest-|loading| variable is positive, ties to the lowest index") {
    val w = Array(Array(0.1, -0.9, 0.3), Array(-0.5, 0.5, 0.2), Array(0.4, -0.2, 0.0),
      Array(0.0, 0.0, 0.0))
    val fixed = FactorAnalysisEM.signFixed(w)
    assert(fixed(0).toSeq == Seq(-0.1, 0.9, -0.3))
    assert(fixed(1).toSeq == Seq(0.5, -0.5, -0.2))
    assert(fixed(2).toSeq == Seq(0.4, -0.2, 0.0))
    assert(fixed(3).toSeq == Seq(0.0, 0.0, 0.0))
  }

  private def signRuleHolds(w: M): Boolean = w.forall { row =>
    val top = row.map(math.abs).max
    row.find(x => math.abs(x) == top).forall(_ >= 0.0)
  }

  /** n rows of d columns from a kTrue-factor model with per-column scales,
    * as row arrays.
    */
  private val factorData: Gen[(Array[Array[Double]], Int)] = for {
    d <- Gen.choose(2, 11)
    kTrue <- Gen.choose(1, math.min(3, d))
    n <- Gen.choose(60, 400)
    nComponents <- Gen.choose(1, 5)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val r = new scala.util.Random(seed)
    val load = Array.fill(kTrue, d)((0.5 + 1.5 * r.nextDouble()) * (if (r.nextBoolean()) 1 else -1))
    val noise = Array.fill(d)(0.2 + r.nextDouble())
    val scale = Array.fill(d)(math.pow(10, r.nextInt(4) - 1))
    val data = Array.fill(n) {
      val z = Array.fill(kTrue)(r.nextGaussian())
      Array.tabulate(d)(j =>
        scale(j) * ((0 until kTrue).map(f => z(f) * load(f)(j)).sum + noise(j) * r.nextGaussian()))
    }
    (data, nComponents)
  }

  /** The prepared statistics `prepare` computes, on the driver. */
  private def prepared(data: Array[Array[Double]]): FactorAnalysisEM.Prepared = {
    val (n, d) = (data.length, data.head.length)
    val mean = Array.tabulate(d)(j => data.map(_(j)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) => data.map(x => x(i) * x(j)).sum / n - mean(i) * mean(j))
    FactorAnalysisEM.Prepared((0 until d).map(j => s"c$j"), Seq.fill(d)(0.0), n.toLong, mean, cov)
  }

  private def close(label: String, what: String, a: Seq[Double], b: Seq[Double], tol: Double): Unit = {
    assert(a.length == b.length, s"$label $what: ${a.length} vs ${b.length} values")
    val scale = math.max(1.0, b.map(math.abs).max)
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) <= tol * scale, s"$label $what: $x vs twin $y (scale $scale)")
    }
  }

  /** EM and projection == the twin's, after the twin's signs are fixed. */
  private def checkEm(p: FactorAnalysisEM.Prepared, model: FactorAnalysisEM.FAModel,
      nComponents: Int, label: String): Unit = {
    val twin = FactorAnalysisBreeze.em(p, nComponents)
    assert(model.nIter == twin.nIter, s"$label: nIter ${model.nIter} vs twin ${twin.nIter}")
    model.logLikelihood.zip(twin.logLikelihood).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.abs(y), s"$label: log-likelihood $x vs twin $y")
    }
    assert(signRuleHolds(model.components), s"$label: sign rule")
    val twinW = FactorAnalysisEM.signFixed(rows(twin.components))
    close(label, "loadings", model.components.flatten.toSeq, twinW.flatten.toSeq, 1e-9)
    close(label, "Ψ", model.noiseVariance.toSeq, twin.noiseVariance.toArray.toSeq, 1e-9)
    val twinP = FactorAnalysisBreeze.projection(
      DenseMatrix.tabulate(twinW.length, model.d)((i, j) => twinW(i)(j)), twin.noiseVariance)
    close(label, "projection", FactorAnalysisEM.projection(model).flatten.toSeq,
      rows(twinP).flatten.toSeq, 1e-9)
  }

  test("generated factor data: EM trajectory, loadings, Ψ and projection == Breeze twin") {
    (1 to 60).foreach { s =>
      val (data, nComponents) = sample(factorData, s.toLong)
      val p = prepared(data)
      checkEm(p, FactorAnalysisEM.em(p, nComponents), nComponents,
        s"seed $s (n=${data.length}, d=${data.head.length}, k=$nComponents)")
    }
  }

  test("fit on generated frames == Breeze twin on the same prepared statistics") {
    (1 to 4).foreach { s =>
      val (data, nComponents) = sample(factorData, 1000L + s)
      val d = data.head.length
      val schema = StructType((0 until d).map(j => StructField(s"c$j", DoubleType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data.toSeq.map(r => Row.fromSeq(r.toSeq)), 3), schema)
      val p = FactorAnalysisEM.prepare(df)
      checkEm(p, FactorAnalysisEM.fit(df, nComponents), nComponents, s"frame seed $s")
    }
  }
}
