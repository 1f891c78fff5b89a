package org.apache.spark.ml.optim.graft

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.feature.StandardScalerModel
import org.apache.spark.ml.linalg.{DenseVector, Vector}
import org.apache.spark.ml.optim.{CholeskySolver, QuasiNewtonSolver,
  SingularMatrixException}
import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.ml.util.Identifiable

/** Bridge to MLlib's package-private normal-equation solvers and model
  * constructors, so [[graft.ml.LinearGram]] can fit a `LinearRegression`
  * from sums it aggregated itself and still hand back MLlib's own model
  * types. Same access-modifier-only pattern as
  * [[org.apache.spark.graft.ListenerBridge]].
  */
object LinearBridge {

  /** The solve step of `WeightedLeastSquares.fit` (solver `auto`, with an
    * intercept) on the standardized normal equations: `QuasiNewtonSolver`
    * when `quasiNewton` (elastic net with L1), else `CholeskySolver`,
    * falling back to an unregularized `QuasiNewtonSolver` on a singular
    * matrix. Returns the coefficients, the intercept last.
    */
  def solve(bBar: Double, bbBar: Double, ab: Array[Double],
            aa: Array[Double], aBar: Array[Double], quasiNewton: Boolean,
            l1: Option[Int => Double], maxIter: Int, tol: Double)
      : Array[Double] = {
    // the solvers factor aa and ab in place: every attempt gets copies
    def dv(a: Array[Double]) = new DenseVector(a.clone())
    def qn(reg: Option[Int => Double]) =
      new QuasiNewtonSolver(true, maxIter, tol, reg)
        .solve(bBar, bbBar, dv(ab), dv(aa), dv(aBar))
    val solution =
      if (quasiNewton) qn(l1)
      else try new CholeskySolver().solve(bBar, bbBar, dv(ab), dv(aa), dv(aBar))
      catch { case _: SingularMatrixException => qn(None) }
    solution.coefficients
  }

  def scalerModel(std: Vector, mean: Vector): StandardScalerModel =
    new StandardScalerModel(Identifiable.randomUID("stdScal"), std, mean)

  def linearModel(coefficients: Vector, intercept: Double)
      : LinearRegressionModel =
    new LinearRegressionModel(Identifiable.randomUID("linReg"), coefficients,
      intercept)

  def pipelineModel(stages: Array[Transformer]): PipelineModel =
    new PipelineModel(Identifiable.randomUID("pipeline"), stages)
}
