package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.CacheScope.Cacheable

/** Distributed exact ranking — the replacement for unpartitioned ranking
  * windows, which funnel the whole frame through ONE task (at 10⁸ rows
  * that task is the job).
  *
  * Shape: (1) ~`buckets` approx-quantile cut points split the VALUE space
  * into coarse range buckets — bucket order IS global value order, ties
  * on the value share a bucket; (2) per-bucket counts (≤ buckets+1 rows)
  * collect to the driver, giving each bucket its exact global rank
  * offset; (3) `row_number` PER BUCKET (parallel, expected max partition
  * ≈ n/buckets) plus the offset is the exact global rank; (4) ntile's own
  * integer split (first n mod t tiles carry ⌈n/t⌉ rows) maps rank → tile.
  * Bit-identical to the single-window `ntile` for any input, including
  * heavy ties — the tie columns order rows WITHIN a bucket exactly as the
  * global window would, and value ties never straddle buckets.
  *
  * Degenerate inputs degrade gracefully, never wrongly: a constant value
  * column yields one bucket (one partition — correctness holds, the
  * parallelism win is gone, as for any total-order rank of a constant).
  */
object Ranks {

  /** `df` plus an int `tileCol` = `ntile(nTiles)` over
    * `ORDER BY valueCol, tieCols…` — computed without a global window.
    * `tieCols` must make the total order unique (e.g. a key column);
    * `valueCol` must be numeric (approx-quantile domain). NULL values
    * sort FIRST (bucket −1), matching the window form's default
    * asc_nulls_first order — approxQuantile ignores nulls, so without
    * the explicit bucket they would silently fall through to the LAST
    * bucket and break the ntile equivalence.
    *
    * Cache contract: the input is cached and stays cached after return
    * — the returned plan still reads it, so it cannot be unpersisted here
    * without re-executing the input lineage three times. The enclosing
    * [[CacheScope.scoped]] releases the entry on exit; callers outside a
    * scope should unpersist the INPUT frame once the result is
    * materialized.
    */
  def distributedNtile(df: DataFrame, valueCol: String, tieCols: Seq[String],
                       nTiles: Int, tileCol: String = "tile",
                       buckets: Int = 32): DataFrame = {
    require(nTiles > 0, s"nTiles=$nTiles must be positive")
    require(!df.columns.contains(tileCol),
      s"input already has a $tileCol column — pass a different tileCol")
    // collision-free internal rank column: any input column set stays
    // valid, exactly as before the rank refactor
    val rc = Iterator.from(0).map(i => s"__gr$i")
      .find(c => !df.columns.contains(c)).get
    val (ranked, n) = distributedRankWithCount(df, valueCol, tieCols,
      rankCol = rc, buckets = buckets)
    val nt = n / nTiles
    val rem = n % nTiles
    val rank = col(rc)
    // integer ceil-division split; when n < nTiles, nt = 0 and every rank
    // takes the first branch (tile = rank), matching ntile
    val tile = when(rank <= lit(rem * (nt + 1)),
        floor((rank + lit(nt)) / lit(nt + 1)))
      .otherwise(lit(rem) + floor((rank - lit(rem * (nt + 1))
        + lit(nt) - 1) / lit(math.max(nt, 1L))))
    ranked.withColumn(tileCol, tile.cast("int")).drop(rc)
  }

  /** `df` plus an exact 1-based GLOBAL rank (long `rankCol`) over
    * `ORDER BY valueCol, tieCols…` — the bucketed shape above without
    * the ntile mapping, plus the total row count (a free by-product of
    * the offset pass, so callers chaining on the count — e.g.
    * [[graft.api.Graft.withIngestIds]]'s next-base — pay no extra job).
    * Same contracts as [[distributedNtile]]: `valueCol` numeric, NULLs
    * rank first, `tieCols` must make the order unique for the rank to
    * be deterministic, and the input stays session-cached.
    */
  def distributedRankWithCount(df: DataFrame, valueCol: String,
                               tieCols: Seq[String],
                               rankCol: String = "rank",
                               buckets: Int = 32): (DataFrame, Long) = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    require(!df.columns.contains("__b"),
      "input already has a __b column — rename it before ranking")
    require(!df.columns.contains(rankCol),
      s"input already has a $rankCol column — pass a different rankCol")
    val cached = df.scopedCache() // three consumers: cuts, counts, the rank plan
    val cuts = cached.stat
      .approxQuantile(valueCol, (1 until buckets).map(_.toDouble / buckets)
        .toArray, 1e-3)
      .distinct.sorted
    val bucket = when(col(valueCol).isNull, lit(-1)).otherwise(
      cuts.zipWithIndex.foldRight(lit(cuts.length)) {
        case ((c, i), els) => when(col(valueCol) <= c, lit(i)).otherwise(els)
      })
    val withB = cached.withColumn("__b", bucket)
    val counts = withB.groupBy(col("__b")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.iterator.map(_._2).sum
    var before = 0L
    val offsets = counts.map { case (b, c) =>
      val o = before; before += c; (b, o)
    }
    val offset = offsets.foldRight(lit(0L)) { case ((b, o), els) =>
      when(col("__b") === b, lit(o)).otherwise(els)
    }
    val order = col(valueCol) +: tieCols.map(col)
    val rank = offset + row_number().over(
      Window.partitionBy(col("__b")).orderBy(order: _*))
    (withB.withColumn(rankCol, rank.cast("long")).drop("__b"), n)
  }
}
