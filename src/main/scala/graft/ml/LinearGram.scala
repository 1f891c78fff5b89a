package graft.ml

import scala.collection.mutable

import org.apache.spark.ml.optim.graft.LinearBridge
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Sufficient statistics of least squares over the rows `[1, x_1..x_p, y]`:
  * the packed upper triangle of their Gram matrix (entry (i, j), i ≤ j, at
  * `j(j+1)/2 + i`), then each feature's min, then its max. The Gram of a
  * union of rows is the sum of their Grams, so a fold is a sum of per-key
  * Grams. The min and max tell a constant column exactly: from the sums
  * alone, `Σx² − (Σx)²/n` leaves rounding noise for a constant such as
  * `month_sin`, where MLlib's std is exactly 0.
  */
final class Gram private[ml] (val p: Int, private val v: Array[Double])
    extends Serializable {
  private def tri = (p + 2) * (p + 3) / 2

  /** Entry (i, j) over `[1, x_1..x_p, y]`: `n` at (0, 0), y at index p+1. */
  def apply(i: Int, j: Int): Double =
    if (i <= j) v(j * (j + 1) / 2 + i) else v(i * (i + 1) / 2 + j)
  def n: Double = v(0)
  def constant(f: Int): Boolean = v(tri + f) == v(tri + p + f)

  def +(o: Gram): Gram = {
    val s = v.clone()
    LinearGram.merge(s, o.v, p)
    new Gram(p, s)
  }

  /** Σ(y − b − w·x)² over the rows, as a quadratic form in the Gram. */
  def sse(w: Array[Double], b: Double): Double = {
    val u = (-b +: w.map(-_)) :+ 1.0
    var s = 0.0
    for (j <- u.indices; i <- u.indices) s += u(i) * u(j) * apply(i, j)
    math.max(s, 0.0)
  }

  /** Σ(y − ȳ)²: the denominator of R². */
  def centeredYY: Double = {
    val sy = apply(0, p + 1)
    apply(p + 1, p + 1) - sy * (sy / n)
  }
}

/** Linear regression from one aggregation plus local solves: the
  * approach of "Building Advanced SQL Analytics From Low-Level Plan
  * Operators" (SIGMOD 2021). [[byKey]] sums the Grams in one pass;
  * [[scaler]] and [[fit]] reproduce MLlib's `StandardScaler` and
  * `LinearRegression` (normal solver) from them.
  */
object LinearGram {

  /** `LinearRegression`'s defaults for its quasi-Newton solve. */
  private[ml] val MaxIter = 100
  private val Tol = 1e-6

  private def zero(p: Int): Array[Double] = {
    val t = (p + 2) * (p + 3) / 2
    Array.fill(t)(0.0) ++ Array.fill(p)(Double.PositiveInfinity) ++
      Array.fill(p)(Double.NegativeInfinity)
  }

  def empty(p: Int): Gram = new Gram(p, zero(p))

  /** Adds one row `(key, x_1..x_p, y)` to the buffer `a`: the row's
    * field j is the Gram's index j for every j ≥ 1.
    */
  private def add(a: Array[Double], p: Int, r: Row): Array[Double] = {
    var k = 0
    var j = 0
    while (j < p + 2) {
      val zj = if (j == 0) 1.0 else r.getDouble(j)
      var i = 0
      while (i <= j) {
        a(k) += (if (i == 0) 1.0 else r.getDouble(i)) * zj
        k += 1; i += 1
      }
      j += 1
    }
    var f = 0
    while (f < p) {
      val x = r.getDouble(f + 1)
      a(k + f) = math.min(a(k + f), x)
      a(k + p + f) = math.max(a(k + p + f), x)
      f += 1
    }
    a
  }

  private[ml] def merge(a: Array[Double], b: Array[Double], p: Int): Unit = {
    val t = (p + 2) * (p + 3) / 2
    var k = 0
    while (k < t) { a(k) += b(k); k += 1 }
    while (k < t + p) { a(k) = math.min(a(k), b(k)); k += 1 }
    while (k < a.length) { a(k) = math.max(a(k), b(k)); k += 1 }
  }

  /** One pass over `df`: the Gram of `[1, features, target]` per value of
    * the integer `key`. Rows with a null or NaN feature or target are
    * skipped, as `VectorAssembler`'s `handleInvalid = "skip"` skips them.
    *
    * One `treeAggregate` of packed triangles, not one SQL `sum` per entry:
    * on a 40-household × 60-day input (23 features, 3 folds, 325 sums per
    * fold), warm on a 4-vCPU host, `groupBy(fold).agg(325 × sum)` took
    * 1.1–1.8 s in 2 jobs, this aggregate 0.05–0.07 s in 1 job.
    */
  def byKey(df: DataFrame, key: Column, features: Seq[String],
            target: String): Map[Int, Gram] = {
    val p = features.length
    val xy = (features :+ target).map(c => col(c).cast("double"))
    val valid = (key.isNotNull +: xy.map(c => c.isNotNull && !isnan(c)))
      .reduce(_ && _)
    df.filter(valid).select(key.cast("int") +: xy: _*).rdd
      .treeAggregate(mutable.HashMap.empty[Int, Array[Double]])(
        (m, r) => { add(m.getOrElseUpdate(r.getInt(0), zero(p)), p, r); m },
        (m, o) => {
          o.foreach { case (k, b) =>
            m.get(k).fold(m(k) = b)(merge(_, b, p))
          }
          m
        })
      .map { case (k, a) => k -> new Gram(p, a) }.toMap
  }

  /** A `StandardScaler` (`withMean = false`, `withStd = true`) fit on the
    * rows of `g`: (sample std, mean) per feature, std exactly 0 for a
    * constant column, as MLlib's `Summarizer` gives it.
    */
  def scaler(g: Gram): (Array[Double], Array[Double]) = {
    val n = g.n
    val mean = Array.tabulate(g.p)(f => g(0, f + 1) / n)
    val std = Array.tabulate(g.p) { f =>
      if (n <= 1 || g.constant(f)) 0.0
      else math.sqrt(math.max(
        (g(f + 1, f + 1) - g(0, f + 1) * mean(f)) / (n - 1), 0.0))
    }
    (std, mean)
  }

  /** `StandardScalerModel`'s multipliers: 1/std, 0 where std is 0. */
  def scale(std: Array[Double]): Array[Double] =
    std.map(s => if (s == 0.0) 0.0 else 1.0 / s)

  /** MLlib's `LinearRegression` (fitIntercept, standardization, solver
    * `auto`, i.e. `WeightedLeastSquares` with unit weights) fit on the
    * scaled rows `(x * scale, y)` of `g`: (coefficients, intercept) over
    * the scaled features. Mirrors `WeightedLeastSquares.fit` after its
    * aggregation: standardize, add the L2 term to the diagonal, solve,
    * de-standardize. A constant label gives, as there, the intercept-only
    * model: zero coefficients and the label's mean.
    */
  def fit(g: Gram, scale: Array[Double], regParam: Double,
          elasticNet: Double): (Array[Double], Double) = {
    val p = g.p
    val w = g.n
    require(w > 0, "cannot fit a linear regression on no rows")
    val bBarRaw = g(0, p + 1) / w
    val bStd = math.sqrt(math.max(g(p + 1, p + 1) / w - bBarRaw * bBarRaw, 0.0))
    if (bStd == 0.0) return (Array.fill(p)(0.0), bBarRaw)
    // the aggregator's means over the scaled features z = x * scale
    val aBarRaw = Array.tabulate(p)(i => g(0, i + 1) * scale(i) / w)
    val aStd = Array.tabulate(p) { i =>
      val aa = g(i + 1, i + 1) * scale(i) * scale(i) / w
      math.sqrt(math.max(aa - aBarRaw(i) * aBarRaw(i), 0.0))
    }
    // a feature with no spread standardizes to 0, as in MLlib
    def div(i: Int, x: Double, by: Double) = if (aStd(i) == 0.0) 0.0 else x / by
    val aBar = Array.tabulate(p)(i => div(i, aBarRaw(i), aStd(i)))
    val abBar = Array.tabulate(p)(i =>
      div(i, g(i + 1, p + 1) * scale(i) / w, aStd(i) * bStd))
    val effReg = regParam / bStd
    val l1 = elasticNet * effReg
    val l2 = (1.0 - elasticNet) * effReg
    val aaBar = for (j <- 0 until p; i <- 0 to j) yield {
      val s =
        if (aStd(i) == 0.0 || aStd(j) == 0.0) 0.0
        else g(i + 1, j + 1) * scale(i) * scale(j) / w / (aStd(i) * aStd(j))
      if (i == j) s + l2 else s
    }
    val sol = LinearBridge.solve(bBarRaw / bStd,
      g(p + 1, p + 1) / w / (bStd * bStd), abBar :+ (bBarRaw / bStd),
      (aaBar ++ aBar :+ 1.0).toArray, aBar,
      quasiNewton = elasticNet != 0.0 && regParam != 0.0,
      l1 = if (l1 == 0.0) None else Some(i => if (i == p) 0.0 else l1),
      MaxIter, Tol)
    val coef = Array.tabulate(p)(i =>
      sol(i) * (if (aStd(i) != 0.0) bStd / aStd(i) else 0.0))
    (coef, sol(p) * bStd)
  }
}
