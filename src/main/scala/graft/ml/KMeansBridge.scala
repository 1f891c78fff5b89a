package org.apache.spark.mllib.clustering.graft {

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.clustering.{DistanceMeasure, KMeansModel,
  LocalKMeans, VectorWithNorm}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils,
  XORShiftRandom}

/** MLlib's `KMeans.fit` replayed inside one task, for an input of one
  * partition: the k-means‖ initialization and the Lloyd loop that
  * `runWithWeight` runs as ~28 one-task jobs, here as one. Every step calls
  * MLlib's own code (norms, `DistanceMeasure`, `LocalKMeans`, the samplers
  * and seeds `takeSample` and `initKMeansParallel` use), in the order MLlib
  * calls it on a one-partition RDD, so centers, cost and iteration count are
  * MLlib's bit for bit. Same access-modifier-only pattern as
  * [[org.apache.spark.ml.optim.graft.LinearBridge]].
  */
object KMeansBridge {

  /** The MLlib model `KMeans.runWithWeight` fits on `rows` (vector, weight)
    * with these parameters and k-means‖ init, fitted in one job; `None`
    * when `rows` is not one partition or is a case MLlib fits differently
    * (an empty input, center statistics computed in jobs), so the caller
    * runs MLlib.
    */
  def fit(rows: RDD[(Vector, Double)], k: Int, maxIter: Int, steps: Int,
          tol: Double, seed: Long, measure: String): Option[KMeansModel] =
    if (rows.getNumPartitions != 1) None
    else rows.mapPartitions { it =>
      val points = it.map { case (v, w) =>
        new VectorWithNorm(v, Vectors.norm(v, 2.0), w)
      }.toArray
      Iterator(local(points, k, maxIter, steps, tol, seed,
        DistanceMeasure.decodeFromString(measure)))
    }.collect().head.map { case (centers, cost, iterations) =>
      new KMeansModel(centers, measure, cost, iterations)
    }

  /** `runAlgorithmWithWeight` with `initKMeansParallel` over one partition's
    * points: the centers, the training cost and the iteration count.
    */
  private def local(points: Array[VectorWithNorm], k: Int, maxIter: Int,
                    steps: Int, tol: Double, seed: Long, dm: DistanceMeasure)
      : Option[(Array[Vector], Double, Int)] = {
    val n = points.length
    val d = if (n == 0) 0 else points(0).vector.size
    // an empty input fails in MLlib; and from k²·d = 1e6 MLlib computes the
    // center statistics in jobs of their own
    if (n == 0 || !DistanceMeasure.shouldComputeStatisticsLocally(k, d))
      return None

    // initKMeansParallel: the first center by takeSample(false, 1, s)
    val s = new XORShiftRandom(seed).nextInt()
    val rand = new java.util.Random(s)
    val first =
      if (n == 1) points(0) // takeSample collects and shuffles the one row
      else {
        val fraction = SamplingUtils.computeFractionForSampleSize(1, n, false)
        // RDD.sample: a PartitionwiseSampledRDD, whose partition 0 seeds a
        // BernoulliSampler with the first long of Random(its seed)
        def draw() = {
          val sampler = new BernoulliSampler[VectorWithNorm](fraction)
          sampler.setSeed(new java.util.Random(rand.nextInt()).nextLong())
          sampler.sample(points.iterator).toArray
        }
        var sample = draw()
        while (sample.isEmpty) sample = draw()
        Utils.randomizeInPlace(sample, rand).head
      }
    val candidates = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(first.toDense)
    candidates ++= newCenters
    val costs = Array.fill(n)(Double.PositiveInfinity)
    var step = 0
    while (step < steps) {
      var sumCosts = 0.0
      var i = 0
      while (i < n) {
        costs(i) = math.min(dm.pointCost(newCenters, points(i)), costs(i))
        sumCosts += costs(i)
        i += 1
      }
      val pick = new XORShiftRandom(s ^ (step << 16) ^ 0) // ^ partition 0
      newCenters = points.indices.filter { i =>
        pick.nextDouble() < 2.0 * costs(i) * k / sumCosts
      }.map(points(_).toDense).toArray
      candidates ++= newCenters
      step += 1
    }
    val distinct = candidates.map(_.vector).distinct
      .map(new VectorWithNorm(_)).toArray
    val centers =
      if (distinct.length <= k) distinct
      else {
        val counts = new Array[Long](distinct.length)
        points.foreach(p => counts(dm.findClosest(distinct, p)._1) += 1)
        LocalKMeans.kMeansPlusPlus(0, distinct, counts.map(_.toDouble), k, 30)
      }

    // the Lloyd loop
    val dims = centers.head.vector.size
    val withStats = DistanceMeasure.shouldComputeStatistics(centers.length)
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIter && !converged) {
      val stats =
        if (withStats) Some(dm.computeStatistics(centers)) else None
      val sums = Array.fill(centers.length)(Vectors.zeros(dims))
      val weights = new Array[Double](centers.length)
      var iterCost = 0.0
      points.foreach { p =>
        val (best, c) = dm.findClosest(centers, stats, p)
        iterCost += c * p.weight
        dm.updateClusterSum(p, sums(best))
        weights(best) += p.weight
      }
      converged = true
      centers.indices.filter(weights(_) > 0).foreach { j =>
        val center = dm.centroid(sums(j), weights(j))
        if (converged && !dm.isCenterConverged(centers(j), center, tol))
          converged = false
        centers(j) = center
      }
      cost = iterCost
      iteration += 1
    }
    Some((centers.map(_.vector), cost, iteration))
  }
}
}

package org.apache.spark.ml.clustering.graft {

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.util.DatasetUtils
import org.apache.spark.mllib.clustering.graft.KMeansBridge
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.sql.{Dataset, Row}

/** The ml half of [[org.apache.spark.mllib.clustering.graft.KMeansBridge]]:
  * the rows and the model of ml's `KMeans.fit`, through ml's package-private
  * input checks and model constructor.
  */
object KMeansFit {

  /** The model `km.fit(dataset)` returns, fitted in one job, or `None` when
    * [[KMeansBridge]] does not cover the input or `km` is not a k-means‖
    * estimator with the row solver. The model has the estimator's uid,
    * parent, set params and training summary; the cluster sizes `fit`
    * counts only to log them are not counted.
    */
  def oneTask(km: KMeans, dataset: Dataset[_]): Option[KMeansModel] = {
    if (km.getInitMode != KMeans.K_MEANS_PARALLEL ||
        km.getSolver != KMeans.ROW) return None
    // the rows trainWithRow reads, with its NaN and weight checks
    val rows = dataset.select(
      DatasetUtils.checkNonNanVectors(
        DatasetUtils.columnToVector(dataset, km.getFeaturesCol)),
      DatasetUtils.checkNonNegativeWeights(km.get(km.weightCol))).rdd
      .map { case Row(v: Vector, w: Double) => (Vectors.fromML(v), w) }
    KMeansBridge.fit(rows, km.getK, km.getMaxIter, km.getInitSteps,
      km.getTol, km.getSeed, km.getDistanceMeasure).map { parent =>
      val set = km.params.filter(km.isSet).foldLeft(ParamMap.empty) {
        (m, p) => m.put(p.asInstanceOf[Param[Any]], km.getOrDefault(p))
      }
      val model = new KMeansModel(km.uid, parent).copy(set).setParent(km)
      model.createSummary(model.transform(dataset), parent.numIter,
        parent.trainingCost)
      model
    }
  }
}
}
