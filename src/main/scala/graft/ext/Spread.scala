package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

/** Partition-spreading for CPU-dense narrow stages.
  *
  * Parquet splits are sized by BYTES (`spark.sql.files.maxPartitionBytes`),
  * which is right for IO-bound scans and wrong for compute-bound ones: a
  * few MB of text scan as ONE split, so every CPU-heavy projection rooted
  * on that scan — shingling, per-token hashing, regex stats — runs as a
  * single task no matter how many cores the cluster has (measured 7× on
  * the MinHash signature stage at sf0.1 on local[32]).
  *
  * [[cpu]] hash-repartitions the frame on `key` up to the session default
  * parallelism, ONLY when the scan yields fewer partitions: at real corpus
  * scale the scan already has thousands of splits and this is a no-op.
  * When it does fire, the shuffle is usually free anyway — downstream
  * per-`key` aggregations are satisfied by the introduced hash
  * partitioning and skip their own exchange.
  *
  * Safe on arbitrary inputs: the partition-count probe (`rdd`) only runs
  * for BATCH frames whose plan is a narrow project/filter chain over a
  * file scan. Streaming frames (`rdd` would throw) and post-shuffle frames
  * (`rdd` under AQE would eagerly execute the upstream stages — a silent
  * double run of the DAG) pass through untouched; their parallelism is
  * already governed by the stream source or the upstream exchange.
  */
object Spread {
  def cpu(df: DataFrame, key: String): DataFrame = {
    // analyzed, not logical: a raw `spark.read.parquet` Dataset keeps a
    // lazy UnresolvedDataSource as its logical plan (Spark 4) — only
    // analysis resolves it to the LogicalRelation the chain walk matches
    if (df.isStreaming || !scanRooted(df.queryExecution.analyzed)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
      else df
    }
  }

  /** Narrow project/filter/alias chain over a file relation — the only
    * shape where the rdd probe is both safe and meaningful.
    */
  private def scanRooted(p: LogicalPlan): Boolean = p match {
    case Project(_, c)       => scanRooted(c)
    case Filter(_, c)        => scanRooted(c)
    case SubqueryAlias(_, c) => scanRooted(c)
    case _: LogicalRelation  => true
    case _                   => false
  }
}
