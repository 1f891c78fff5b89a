package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Whole-surface plan lint: every declared query's EXECUTED plan is walked
  * for the three patterns that kill a job at 100 TB but pass silently at
  * test SF —
  *
  *  1. unbounded nested-loop joins (`CartesianProduct` /
  *     `BroadcastNestedLoopJoin`): O(n·m) row pairs unless one side is
  *     provably tiny;
  *  2. single-partition windows (`Window`/`WindowGroupLimit` fed by an
  *     `Exchange SinglePartition`): the whole stream funnels through ONE
  *     task;
  *  3. `ScalaUDF` in the plan: per-row boxing, opaque to codegen and
  *     pushdown.
  *
  * Each allowance below names the query and the reason the pattern is safe
  * THERE (a declared-tiny side, a capped baseline) — adding a new query
  * that trips a rule forces either a better plan or a written
  * justification here. Global aggregates are NOT flagged: their
  * final-merge `Exchange SinglePartition` moves partial-agg rows (one per
  * upstream partition), which is exactly how a distributed global
  * aggregate should look.
  *
  * The ML family (`q_ml_*`) is covered too (its final transform/serve plan
  * — the training jobs `.fit` drives internally are separate jobs audited
  * by MlSpec). Its one nuance: `model.transform` injects Spark
  * ML's OWN prediction ScalaUDFs (library internals we cannot
  * expression-ize without reimplementing the models), so the UDF lint
  * distinguishes authorship — a repo-authored (`graft.*`) ScalaUDF is
  * unconditional failure everywhere with no allowance possible, while
  * library-internal UDFs need a per-query allowance naming their origin.
  */
class ScaleAuditSpec extends SparkSpec {

  /** Queries allowed a nested-loop join, with the reason it is bounded.
    * These are the ONLY nested-loop shapes on the whole surface.
    */
  private val nestedLoopOk: Map[String, String] = Map(
    "q_ann_bruteforce" ->
      ("the declared capped brute-force baseline: the probe side is " +
        "limited before the cross join, the exact-scan kernel other ANN " +
        "variants are validated against"),
    "q_bm25" ->
      ("1-row corpus-stats frame (n_docs, avg_len) broadcast under the " +
        "postings stream — a scalar attach, not a pair explosion"),
    "q_ann_multiprobe" ->
      ("IVF probe selection: the coarse-centroid codebook (|buckets| rows " +
        "by construction) broadcast under the query stream; the candidate " +
        "join itself stays a bucket equi-join"),
    "q_ann_ivf_sq8" ->
      ("same centroid-codebook broadcast as q_ann_multiprobe (the composed " +
        "pipeline's probe stage); the SQ8 candidate join and both re-rank " +
        "joins are equi-joins"),
    "q_ann_ivf_pq" ->
      ("same centroid-codebook broadcast as q_ann_multiprobe (the composed " +
        "pipeline's probe stage); the PQ candidate join and both re-rank " +
        "joins are equi-joins"),
    "q_ann_ivf_pq_res" ->
      ("same centroid-codebook broadcast as q_ann_multiprobe (the probe " +
        "stage, plus the k-row cell-mean broadcast the residual subtraction " +
        "joins by bucket); the residual-ADC candidate join and both " +
        "re-rank joins are equi-joins"),
    "q_ann_search" ->
      ("q_ann_ivf_pq_res's probe-stage centroid broadcast with the corpus " +
        "and query roles split — the external query stream crosses only " +
        "the |cells|-row codebook; all candidate/re-rank joins stay " +
        "equi-joins"),
    "q_ann_index_add" ->
      ("q_ann_search's probe-stage centroid-codebook broadcast, " +
        "inherited unchanged, plus the frozen-geometry add-encode's " +
        "|cells|-row centroid broadcast under the delta stream (the " +
        "AnnIndex.add kernel — a codebook scalar attach, not a pair " +
        "explosion); every candidate/re-rank join stays equi-key and " +
        "the added codes join the serve plan by the same bucket " +
        "equi-key as built codes"),
    "q_rolling_actives" ->
      ("range join with the |days|-sized calendar pinned as the BROADCAST " +
        "side; fan-out bounded at 7 calendar rows per activity row"),
    "q_hard_negatives" ->
      ("q_ann_search's probe-stage centroid-codebook broadcast, inherited " +
        "unchanged (the mining tail adds only a window on the retrieval's " +
        "existing partitioning — zero new joins or exchanges)"),
    "q_quality_nb" ->
      ("two 1-row scalar attaches (class token totals + vocab size under " +
        "the scoring stream, class priors onto the per-doc aggregate) and " +
        "the |groups|-row temperature-normalizer pattern; the vocab-sized " +
        "NB model itself joins by token equi-key"),
    "q_temperature_mix" ->
      ("1-row normalizer/total frame (Σ n^α, Σ n) broadcast under the " +
        "|groups|-row counts frame — a scalar attach; realization joins " +
        "the |groups|-row targets by equi-key"),
    "q_ann_recall" ->
      ("recall evaluation: the exact-baseline cross join's probe side is " +
        "the 20% hash-sampled query panel (bounded before the join — the " +
        "only honest way to afford ground truth at scale), plus " +
        "q_ann_ivf_pq_res's inherited centroid-codebook broadcast; the " +
        "hit join is equi-key"),
    "q_corpus_build" ->
      ("the composed corpus-build recipe inherits EXACTLY its stages' " +
        "existing allowances — q_quality_nb's 1-row scalar attaches " +
        "(class totals + priors) and q_temperature_mix's 1-row " +
        "normalizer attach — with zero new shapes: every gate join is a " +
        "doc_id left-semi equi-join, the dedup keeper is a groupBy, and " +
        "the BPE/pack tail joins the broadcast dictionary by word " +
        "equi-key"),
    "q_mixture_incr" ->
      ("q_temperature_mix's 1-row normalizer attach (Σ n^α, Σ n broadcast " +
        "under the |groups|-row counts frame), inherited unchanged by " +
        "mixtureOverCorpus — the incremental prefix (two chained deltas) " +
        "adds only equi-joins and the q_quality_nb scalar attaches " +
        "q_corpus_build_incr already carries"),
    "q_corpus_build_batched" ->
      ("q_corpus_build's inherited allowances, unchanged — the batched " +
        "trainer swap happens UPSTREAM of the composition (driver-side " +
        "pool/conflict selection, the q_bpe_batch contract) and hands " +
        "the plan the same broadcast dictionary shape"),
    "q_corpus_build_b16" ->
      ("q_corpus_build_batched's inherited allowances at the production " +
        "batch width — identical composition, only the trainer's " +
        "driver-side pool/batch knobs differ (B=16, pool 64), so the " +
        "plan carries the same 1-row scalar attaches and broadcast " +
        "dictionary shape and nothing else"),
    "q_ann_index_filtered" ->
      ("q_ann_search's probe-stage centroid-codebook broadcast, " +
        "inherited unchanged — the allowlist is ONE uid left-semi " +
        "equi-join on the codes frame before the probe (the tombstone " +
        "cut's shape); every candidate/re-rank join stays equi-key"),
    "q_ann_index_rekey" ->
      ("q_ann_search's probe-stage centroid-codebook broadcast, " +
        "inherited unchanged — the twin is the same index-parts + serve " +
        "plan over the post-supersession LIVE unit vectors (the " +
        "rebuild's input); every candidate/re-rank join stays equi-key " +
        "and the supersession itself contributes zero joins here (the " +
        "live set is a filter + union of two scans)"),
    "q_mixture_shards" ->
      ("q_mixture_incr's inherited allowances, unchanged — the " +
        "temperature realization's 1-row normalizer attach plus the " +
        "q_quality_nb scalar attaches from the two chained deltas; the " +
        "shard tail (mixtureOverCorpusShards) adds only a doc_id " +
        "left-semi equi-join, the broadcast-dictionary encode, and the " +
        "stream-key shard window"),
    "q_ann_index_filtered_rekey" ->
      ("the composed q_ann_index_rekey × q_ann_index_filtered shape: " +
        "q_ann_search's probe-stage centroid-codebook broadcast " +
        "inherited unchanged over the post-supersession live set, the " +
        "allowlist a ONE-column uid left-semi equi-join on the codes " +
        "frame before the probe (the tombstone cut's shape); every " +
        "candidate/re-rank join stays equi-key"))

  /** Queries allowed a single-partition window, with the tiny-frame bound.
    * Currently NONE: every window on the surface rides a hash-partitioned
    * exchange (q_decile_stats' former global ntile was the last one).
    */
  private val singlePartitionWindowOk: Map[String, String] = Map()

  /** Queries allowed a LIBRARY-INTERNAL ScalaUDF, with its origin. Repo-
    * authored UDFs can never be allowed here (asserted by authorship, not
    * by name): the repo's last own ScalaUDF — the centroid distance in
    * `ml/Anomaly` — became the codegen'd `CentroidDist` expression.
    */
  private val scalaUdfOk: Map[String, String] = Map(
    "q_ml_forecast" -> SparkMlTransformUdf,
    "q_ml_forecast_keys" -> SparkMlTransformUdf,
    "q_ml_anomaly" -> SparkMlTransformUdf,
    "q_ml_anomaly_keys" -> SparkMlTransformUdf)
  private lazy val SparkMlTransformUdf =
    "Spark ML model.transform's own prediction ScalaUDF " +
      "(org.apache.spark.ml internals — not expressible without " +
      "reimplementing the model's serve path)"

  /** Final-plan walk incl. distinct cached subplans (reference-identity
    * dedup on the shared CachedRDDBuilder — same contract as
    * PhysicalSpec.finalOpsWithCaches).
    */
  private def allOps(p: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def finalOps(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => finalOps(a.executedPlan)
      case q: QueryStageExec => q +: finalOps(q.plan)
      case i: InMemoryTableScanExec => Seq(i)
      case r: ReusedExchangeExec => Seq(r)
      // subqueries: a scalar/IN subquery's plan hangs off the expression
      // tree, not children — a UDF (or nested-loop join) hiding inside
      // one must not escape the lint
      case other => other +:
        (other.children ++ other.subqueries).flatMap(finalOps)
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val top = finalOps(p)
      val caches = top
        .collect { case i: InMemoryTableScanExec => i.relation }
        .filter(r => seen.add(r.cacheBuilder))
        .map(_.cachedPlan)
      top ++ caches.flatMap(walk)
    }
    walk(p)
  }

  /** A Window/WindowGroupLimit is single-partition when the nearest
    * exchange below it (through narrow ops, descending into AQE query
    * stages and reused exchanges) declares SinglePartition. Typed on the
    * partitioning, not plan strings: AQE wraps the exchange in a
    * ShuffleQueryStage whose string form hides it. A hash exchange that
    * AQE merely COALESCED to one partition at runtime is not flagged —
    * that is small data meeting an adaptive plan, not a plan defect.
    */
  private def feedsSinglePartition(p: SparkPlan): Boolean = p match {
    case q: QueryStageExec => feedsSinglePartition(q.plan)
    case r: ReusedExchangeExec => feedsSinglePartition(r.child)
    case e: org.apache.spark.sql.execution.exchange.Exchange =>
      e.outputPartitioning ==
        org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    case other => other.children.exists(feedsSinglePartition)
  }

  private def windowOverSinglePartition(ops: Seq[SparkPlan]): Boolean =
    ops.exists { o =>
      val s = o.simpleString(8)
      (s.startsWith("Window") || s.startsWith("WindowGroupLimit")) &&
        o.children.exists(feedsSinglePartition)
    }

  private val dir = TestSpark.sf0001

  test("the lint itself detects a single-partition window (not vacuous)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val bad = graft.io.Tables.events(spark, dir)
      .withColumn("r", row_number().over(Window.orderBy(col("ts"))))
    bad.collect()
    assert(windowOverSinglePartition(allOps(bad.queryExecution.executedPlan)),
      "detector missed a global-window plan — the whole lint is vacuous")
  }

  SparkEntry.queries.toSeq.sortBy(_._1)
    .foreach { case (name, fn) =>
      test(s"scale lint: $name") {
        // collect and walk inside the query's CacheScope, as Bench runs
        // it: the walk reads the cached plans while they are registered
        graft.ext.CacheScope.scoped {
          val df = fn(spark, dir)
          df.collect()
          val ops = allOps(df.queryExecution.executedPlan)
          val lines = ops.map(_.simpleString(8))
          val nested = lines.exists(l =>
            l.startsWith("CartesianProduct") ||
              l.startsWith("BroadcastNestedLoopJoin"))
          if (nested && !nestedLoopOk.contains(name))
            fail(s"unjustified nested-loop join in $name:\n" +
              df.queryExecution.executedPlan)
          if (windowOverSinglePartition(ops) &&
              !singlePartitionWindowOk.contains(name))
            fail(s"unjustified single-partition window in $name:\n" +
              df.queryExecution.executedPlan)
          // typed expression walk, not string matching — simpleString(8)
          // truncates wide projections and would hide a UDF past field 8
          val udfs = ops.flatMap(_.expressions.flatMap(_.collect {
            case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
          }))
          // authorship split: a graft-authored UDF is a plan defect NOWHERE
          // an allowance can excuse — the function's class name pins where
          // the lambda was compiled
          val ours = udfs.filter(_.function.getClass.getName.startsWith("graft"))
          if (ours.nonEmpty)
            fail(s"repo-authored ScalaUDF in $name (" +
              ours.map(_.function.getClass.getName).distinct.mkString(", ") +
              ") — write a codegen'd Expression instead:\n" +
              df.queryExecution.executedPlan)
          if (udfs.nonEmpty && !scalaUdfOk.contains(name))
            fail(s"unjustified ScalaUDF in $name:\n" +
              df.queryExecution.executedPlan)
        }
      }
    }
}
