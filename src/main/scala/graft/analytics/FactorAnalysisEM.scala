package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Cleaning

/** Gold stage: Factor Analysis (latent linear-Gaussian factors).
  * Re-expresses sklearn.decomposition.FactorAnalysis as used by
  * python-service/scripts/factor_analysis.py:96-255.
  *
  * sklearn's fit iterates an SVD of the Ψ-scaled, centered data matrix. The
  * same update depends on the data ONLY through the d×d MLE covariance S:
  * the singular values/vectors of X·diag(1/(√ψ·√n)) are exactly the
  * eigenpairs of Ψ^{-1/2} S Ψ^{-1/2}. So we compute (n, μ, S) in ONE
  * distributed aggregate (sums of outer products — d ≤ tens, so the d×d
  * state is tiny; `prepare` shares it with the low-variance filter) and
  * run the EM on the driver with a cyclic Jacobi eigensolver on plain
  * arrays ([[eigSym]]). Data never leaves the cluster; the driver handles
  * an 11×11 matrix, and a linear-algebra library would cost more to load
  * (about 2 s of class initialisation per cold JVM) than the EM takes.
  *
  * Scores are the posterior means E[z|x] = (x−μ)ᵀ Ψ⁻¹W̃ᵀ(I + W̃Ψ⁻¹W̃ᵀ)⁻¹ —
  * computed per-row as plain Column linear combinations (codegen'd, no UDF),
  * which also sidesteps the reference's fragile positional concat
  * (factor_analysis.py:221-224, SURVEY.md §2.4 J2).
  */
object FactorAnalysisEM {

  /** Matrices are row arrays: `components(i)(j)` is factor i's loading on
    * column j, each factor's sign fixed by [[signFixed]].
    */
  final case class FAModel(
      cols: Seq[String],
      mean: Array[Double],
      components: Array[Array[Double]], // k×d, sklearn components_
      noiseVariance: Array[Double], // Ψ, length d
      logLikelihood: Seq[Double],
      nIter: Int,
      medianFill: Seq[Double] // per-column impute value (median, like fit)
  ) {
    def k: Int = components.length
    def d: Int = noiseVariance.length
  }

  private val Small = 1e-12 // sklearn SMALL

  /** The EM's input: the kept columns (in schema order), their medians
    * and the sufficient statistics n, mean and MLE covariance (÷n, d×d
    * rows) of the median-filled kept columns.
    */
  final case class Prepared(
      cols: Seq[String],
      medians: Seq[Double],
      n: Long,
      mean: Array[Double],
      cov: Array[Array[Double]])

  /** Numeric subset → median-impute → drop near-constant (std ≤ 0.01,
    * sample std like pandas .std()): factor_analysis.py:178-185.
    * The medians are the per-kept-column impute values, so `transform`
    * imputes the same way fit did (sklearn scores the median-filled matrix).
    *
    * Two passes over the data: one [[OrderStats]] scan gives every
    * numeric column's median (the builtin `percentile`'s value on NaN-free
    * columns, -0.0 read as 0.0), and one declarative aggregate over the filled
    * columns gives each column's sample std together with the moments —
    * count, d column sums and d(d+1)/2 product sums, inside whole-stage
    * codegen with map-side partial aggregation. The kept columns' moments
    * are read out of it; the sums of a column do not depend on which
    * other columns share the aggregate.
    */
  def prepare(df: DataFrame): Prepared = {
    val numeric = Cleaning.numericCols(df)
    if (numeric.isEmpty) return Prepared(Nil, Nil, 0L, Array.empty, Array.empty)
    val sub = df.select(numeric.map(col): _*)
    val med = Summary.exactPercentilesHist(sub, numeric.map(_ -> Seq(0.5)))
    val medians = numeric.map(c => med(c).head)
    val filled = numeric.zip(medians).foldLeft(sub) { case (d, (c, m)) =>
      m.fold(d)(v => d.na.fill(Map(c -> v)))
    }
    val d = numeric.length
    val x = numeric.map(c => coalesce(col(c).cast("double"), lit(0.0)))
    val aggs = count(lit(1)) +: (numeric.map(c => stddev_samp(col(c))) ++
      x.map(sum) ++ (for { i <- 0 until d; j <- 0 to i } yield sum(x(i) * x(j))))
    val row = filled.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    def at(k: Int): Double = if (row.isNullAt(k)) 0.0 else row.getDouble(k)
    val kept = (0 until d).filter(i => !row.isNullAt(1 + i) && row.getDouble(1 + i) > 0.01)
    val mean = kept.map(i => at(1 + d + i) / n).toArray
    val cov = Array.tabulate(kept.length, kept.length) { (a, b) =>
      val (i, j) = (math.max(kept(a), kept(b)), math.min(kept(a), kept(b)))
      at(1 + 2 * d + i * (i + 1) / 2 + j) / n - mean(math.max(a, b)) * mean(math.min(a, b))
    }
    Prepared(kept.map(numeric), kept.map(i => medians(i).getOrElse(0.0)), n, mean, cov)
  }

  /** Covariance-based EM, faithful to sklearn's update & stopping rule
    * (tol on log-likelihood delta, Ψ floor at 1e-12, ll constant
    * d·log(2π)+k).
    */
  def fit(
      df: DataFrame,
      nComponents: Int,
      tol: Double = 1e-2,
      maxIter: Int = 1000
  ): FAModel = em(prepare(df), nComponents, tol, maxIter)

  /** [[fit]]'s driver half: the EM on prepared statistics. */
  private[graft] def em(
      prepared: Prepared,
      nComponents: Int,
      tol: Double = 1e-2,
      maxIter: Int = 1000
  ): FAModel = {
    val Prepared(cols, medians, n, mean, cov) = prepared
    require(cols.nonEmpty, "no usable numeric columns for factor analysis")
    val k = math.min(nComponents, cols.length - 1).max(1)
    val d = cols.length
    val varDiag = Array.tabulate(d)(i => cov(i)(i)) // np.var(X, axis=0), ddof=0
    val llconst = d * math.log(2 * math.Pi) + k

    var psi = Array.fill(d)(1.0)
    var w = Array.ofDim[Double](k, d)
    var oldLl = Double.NegativeInfinity
    val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val sqrtPsi = psi.map(math.sqrt(_) + Small)
      // M = Ψ^{-1/2} S Ψ^{-1/2}; eigenpairs of M == squared singular values
      // of the scaled data matrix sklearn decomposes each iteration.
      val m = Array.tabulate(d, d)((i, j) => cov(i)(j) / (sqrtPsi(i) * sqrtPsi(j)))
      val (values, vectors) = eigSym(m) // descending
      val s = values.take(k)
      val unexpVar = values.drop(k).sum
      // W = sqrt(max(s-1,0)) * Vt * sqrt_psi  (k×d)
      w = Array.tabulate(k, d) { (i, j) =>
        math.sqrt(math.max(s(i) - 1.0, 0.0)) * vectors(j)(i) * sqrtPsi(j)
      }
      var ll = llconst + s.map(math.log).sum + unexpVar + psi.map(math.log).sum
      ll *= -n / 2.0
      lls += ll
      if (ll - oldLl < tol && iter > 0) converged = true
      else {
        oldLl = ll
        // Ψ = max(var - colSums(W∘W), SMALL)
        psi = Array.tabulate(d)(j =>
          math.max(varDiag(j) - (0 until k).map(i => w(i)(j) * w(i)(j)).sum, Small))
      }
      iter += 1
    }
    FAModel(cols, mean, signFixed(w), psi, lls.toSeq, iter, medians)
  }

  /** Each factor's one fixed sign. An eigenvector's sign is arbitrary (it
    * differs between eigensolvers and LAPACK builds), so a factor is
    * negated when its largest-|loading| variable — the lowest index on a
    * tie — loads negatively. The log-likelihood and Ψ do not depend on it.
    */
  private[graft] def signFixed(w: Array[Array[Double]]): Array[Array[Double]] =
    w.map { row =>
      val top = row.indices.foldLeft(0)((b, j) => if (math.abs(row(j)) > math.abs(row(b))) j else b)
      if (row.nonEmpty && row(top) < 0) row.map(-_) else row
    }

  /** Eigenpairs of the symmetric matrix `a` by cyclic Jacobi rotations:
    * the eigenvalues in descending order, and the unit eigenvectors as the
    * matching columns of the second array (`vectors(j)(i)` is entry j of
    * eigenvector i). Each rotation zeroes one off-diagonal entry; sweeps
    * repeat until one finds every off-diagonal entry zero or below the
    * rounding of both diagonal entries it couples (convergence is
    * quadratic: a handful of sweeps at d ≤ 20).
    */
  private[graft] def eigSym(a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = a.map(_.clone)
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def negligible(x: Double, diag: Double): Boolean =
      math.abs(diag) + 100 * math.abs(x) == math.abs(diag)
    var rotated = true
    var sweep = 0
    while (rotated && sweep < 100) {
      rotated = false
      for (p <- 0 until d; q <- p + 1 until d if m(p)(q) != 0.0) {
        val apq = m(p)(q)
        if (!(negligible(apq, m(p)(p)) && negligible(apq, m(q)(q)))) {
          rotated = true
          // t = tan θ, the smaller root of t² + 2τt − 1 = 0 (Golub & Van Loan 8.5)
          val tau = (m(q)(q) - m(p)(p)) / (2 * apq)
          val t =
            if (math.abs(tau) > 1e150) 0.5 / tau
            else (if (tau >= 0) 1.0 else -1.0) / (math.abs(tau) + math.sqrt(1 + tau * tau))
          val c = 1 / math.sqrt(1 + t * t)
          val s = t * c
          var r = 0
          while (r < d) {
            if (r != p && r != q) {
              val (arp, arq) = (m(r)(p), m(r)(q))
              m(r)(p) = c * arp - s * arq; m(p)(r) = m(r)(p)
              m(r)(q) = s * arp + c * arq; m(q)(r) = m(r)(q)
            }
            val (vrp, vrq) = (v(r)(p), v(r)(q))
            v(r)(p) = c * vrp - s * vrq
            v(r)(q) = s * vrp + c * vrq
            r += 1
          }
          m(p)(p) -= t * apq
          m(q)(q) += t * apq
        }
        m(p)(q) = 0.0; m(q)(p) = 0.0
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -m(i)(i))
    (order.map(i => m(i)(i)).toArray, Array.tabulate(d, d)((j, i) => v(j)(order(i))))
  }

  /** X = G⁻¹B for a symmetric positive definite G (Cholesky, lower
    * triangle read), B given as rows.
    */
  private def solveSpd(g: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val k = g.length
    val l = Array.ofDim[Double](k, k)
    for (i <- 0 until k; j <- 0 to i) {
      val s = g(i)(j) - (0 until j).map(x => l(i)(x) * l(j)(x)).sum
      l(i)(j) = if (i == j) math.sqrt(s) else s / l(j)(j)
    }
    b.head.indices.map { c =>
      val y = new Array[Double](k) // L y = b(·)(c), then Lᵀ x = y
      for (i <- 0 until k) y(i) = (b(i)(c) - (0 until i).map(x => l(i)(x) * y(x)).sum) / l(i)(i)
      for (i <- k - 1 to 0 by -1) y(i) = (y(i) - (i + 1 until k).map(x => l(x)(i) * y(x)).sum) / l(i)(i)
      y
    }.toArray.transpose
  }
  /** ENGINE-PORTABLE fixed-iteration factor analysis — q42's registered
    * form since r6 (VERDICT r5 #1): Rubin–Thayer covariance-space EM with
    * k = 2 factors and `iters` FIXED iterations from a fixed init, run on
    * the CORRELATION matrix of integer-quantized values, so every number
    * in the fold is a deterministic IEEE sequence a DuckDB oracle replays
    * expression-for-expression:
    *
    *  - values quantize to floor(v·100 + 0.5) CENTI-UNIT longs and are
    *    CENTERED by the integer mean (pass 1: sums → shift = s div n;
    *    pass 2: centered moments) so every product sum FITS int64 through
    *    the sf0.1 bench tier (Σz² ≈ n·var: ~6e18 at 600k rows) — int64 →
    *    double casts are correctly rounded in BOTH engines,
    *    where an int128-backed wide decimal → double cast is not
    *    guaranteed to be; overflow past the envelope errors LOUDLY
    *    (longValueExact / CAST AS BIGINT), never silently diverges;
    *  - covariance/correlation/EM updates are fixed-shape +,−,×,÷,sqrt
    *    chains (closed-form 2×2 inverses — NO eigendecomposition, which
    *    is why sklearn's eigen-EM [[fit]] itself cannot be oracled);
    *  - ψ floors via max(·, 1e-12), left-associated 4-term sums, raw
    *    (unrounded) double outputs — negative loadings round differently
    *    across engines, raw doubles are bit-identical when shapes match.
    *
    * The sklearn-faithful [[fit]] stays the production form (x42 channel,
    * golden-pinned loadings); q71 pins the DECIMAL-routed moments. Scale
    * shape: ONE codegen aggregate pass (count + 4 sums + 10 product sums)
    * — the only part that touches data — then driver math on a 4×4.
    */
  def fitPortableLoadings(
      spark: SparkSession,
      df: DataFrame,
      iters: Int = 5
  ): DataFrame = {
    val cols = Cleaning.numericCols(df)
    require(cols.length == 4, "portable EM fold is generated for d=4, k=2")
    val d = 4
    val dec = DecimalType(18, 0)
    val q = cols.map(c =>
      floor(coalesce(col(c).cast("double"), lit(0.0)) * lit(100) + lit(0.5))
        .cast("long"))
    // pass 1: count + raw centi sums → integer shifts (positive operands:
    // JVM / and DuckDB // agree — truncation)
    val aggs1 = count(lit(1)) +: (0 until d).map(i => sum(q(i)))
    val row1 = df.agg(aggs1.head, aggs1.tail: _*).head()
    val n = row1.getLong(0)
    require(n > 0, "portable EM on empty input")
    val nD = n.toDouble
    val shift = Array.tabulate(d)(i => row1.getLong(1 + i) / n)
    // pass 2: centered moments — every sum fits int64 (longValueExact
    // errors loudly past the envelope, mirroring the oracle's BIGINT cast)
    val z = (0 until d).map(i => q(i) - lit(shift(i)))
    val aggs2 = (0 until d).map(i => sum(z(i))) ++
      (for { i <- 0 until d; j <- 0 to i }
        yield sum(z(i).cast(dec) * z(j).cast(dec)))
    val row = df.agg(aggs2.head, aggs2.tail: _*).head()
    val sD = Array.tabulate(d)(i => row.getLong(i).toDouble)
    val pD = Array.ofDim[Double](d, d)
    var idx = d
    var i = 0
    while (i < d) {
      var j = 0
      while (j <= i) {
        val v = row.getDecimal(idx).longValueExact.toDouble
        pD(i)(j) = v; pD(j)(i) = v
        idx += 1; j += 1
      }
      i += 1
    }
    // fixed shapes mirrored 1:1 in the oracle SQL (StatQueries): change
    // an association order here and the q42 hash breaks
    val cov = Array.tabulate(d, d)((a, b) =>
      pD(a)(b) / nD - (sD(a) / nD) * (sD(b) / nD))
    val r = Array.tabulate(d, d)((a, b) =>
      cov(a)(b) / (math.sqrt(cov(a)(a)) * math.sqrt(cov(b)(b))))
    var w = Array(Array(1.0, 0.5, 0.5, 0.5), Array(0.5, 1.0, 0.5, 0.5))
    var p = Array(1.0, 1.0, 1.0, 1.0)
    def s4(f: Int => Double): Double = f(0) + f(1) + f(2) + f(3)
    var it = 0
    while (it < iters) {
      val m11 = 1.0 + (s4(j => w(0)(j) * w(0)(j) / p(j)))
      val m12 = s4(j => w(0)(j) * w(1)(j) / p(j))
      val m22 = 1.0 + (s4(j => w(1)(j) * w(1)(j) / p(j)))
      val det = m11 * m22 - m12 * m12
      val g11 = m22 / det
      val g12 = (0.0 - m12) / det
      val g22 = m11 / det
      val b = Array.tabulate(2, d)((fi, j) =>
        ((if (fi == 0) g11 else g12) * w(0)(j) +
          (if (fi == 0) g12 else g22) * w(1)(j)) / p(j))
      val bs = Array.tabulate(2, d)((fi, j) => s4(l => b(fi)(l) * r(l)(j)))
      val e11 = g11 + (s4(j => bs(0)(j) * b(0)(j)))
      val e12 = g12 + (s4(j => bs(0)(j) * b(1)(j)))
      val e22 = g22 + (s4(j => bs(1)(j) * b(1)(j)))
      val dete = e11 * e22 - e12 * e12
      val h11 = e22 / dete
      val h12 = (0.0 - e12) / dete
      val h22 = e11 / dete
      val wn = Array.tabulate(2, d)((fi, j) =>
        (if (fi == 0) h11 else h12) * bs(0)(j) +
          (if (fi == 0) h12 else h22) * bs(1)(j))
      val pn = Array.tabulate(d)(j =>
        math.max(r(j)(j) - (bs(0)(j) * wn(0)(j) + bs(1)(j) * wn(1)(j)), 1e-12))
      w = wn
      p = pn
      it += 1
    }
    import spark.implicits._
    cols.zipWithIndex.map { case (c, j) => (c, w(0)(j), w(1)(j), p(j)) }
      .toDF("index", "factor_1_loading", "factor_2_loading", "uniqueness")
      .orderBy("index")
  }

  /** Per-variable loadings table: `index` + Factor_i_loading, rounded 4
    * (factor_analysis.py:205-209).
    */
  def loadingsDF(spark: SparkSession, model: FAModel): DataFrame = {
    val schema = StructType(
      StructField("index", StringType) +:
        (1 to model.k).map(i =>
          StructField(s"Factor_${i}_loading", DoubleType)))
    val rows = model.cols.zipWithIndex.map { case (c, j) =>
      Row.fromSeq(
        c +: (0 until model.k).map(i =>
          BigDecimal(model.components(i)(j))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Score projection matrix P (d×k, rows): scores = (x−μ)ᵀ P, the
    * sklearn `transform` posterior mean Ψ⁻¹Wᵀ(I + WΨ⁻¹Wᵀ)⁻¹, from one
    * k×k solve (Pᵀ = G⁻¹ WΨ⁻¹ with G = I + WΨ⁻¹Wᵀ symmetric).
    */
  def projection(model: FAModel): Array[Array[Double]] = {
    val w = model.components
    val wpsi = w.map(_.zip(model.noiseVariance).map { case (x, psi) => x / psi }) // k×d
    val g = Array.tabulate(model.k, model.k)((a, b) =>
      (if (a == b) 1.0 else 0.0) + wpsi(a).zip(w(b)).map { case (x, y) => x * y }.sum)
    solveSpd(g, wpsi).transpose
  }

  /** Append Factor_i_score columns — per-row linear combinations, pure
    * Column arithmetic (whole-stage codegen), no positional concat. Nulls
    * are median-imputed exactly as during fit (sklearn scores the
    * median-filled matrix).
    */
  def transform(df: DataFrame, model: FAModel): DataFrame = {
    val p = projection(model)
    (1 to model.k).foldLeft(df) { (d, i) =>
      val expr = model.cols.zipWithIndex
        .map { case (c, j) =>
          (coalesce(col(c).cast("double"), lit(model.medianFill(j))) -
            lit(model.mean(j))) * lit(p(j)(i - 1))
        }
        .reduce(_ + _)
      d.withColumn(s"Factor_${i}_score", expr)
    }
  }

  /** Full gold stage: fit on merged data, return (scored table, loadings). */
  def apply(
      spark: SparkSession,
      merged: DataFrame,
      nComponents: Int = 5
  ): (DataFrame, DataFrame) = {
    val model = fit(merged, nComponents)
    (transform(merged, model), loadingsDF(spark, model))
  }
}
