package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Left as-of joins — for each left row, the latest right row with
  * `rightTime <= leftTime` (backward) or the earliest with
  * `rightTime >= leftTime` (forward), within the same key group. Spark has
  * no as-of operator; per the preference order (SURVEY.md §7.3) this
  * composes built-ins rather than adding a plan node: tag both sides,
  * union, and fill over a (key, time)-sorted window — right rows act as
  * state updates the left rows observe.
  *
  * Scale: exactly one shuffle (by key) + per-partition sort — the same cost
  * envelope as a sort-merge join, no point-in-time subquery per row. Ties
  * (`rightTime == leftTime`) sort so the same-instant right row IS visible
  * in both directions, matching DuckDB ASOF's inclusive comparators (the
  * test oracle).
  */
object AsOfJoin {

  /** Backward as-of: latest right row with `rightTime <= leftTime`.
    * @param payload right-side columns to carry to the left rows (renamed
    *                as given in the map: rightCol -> outputName).
    */
  def leftAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               payload: Map[String, String]): DataFrame =
    asOf(left, right, keys, leftTime, rightTime, payload, forward = false)

  /** FORWARD as-of: EARLIEST right row with `rightTime >= leftTime` —
    * "the next reading after this event". Same cost envelope; the fill
    * runs over the forward frame instead.
    */
  def leftAsOfForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String,
                      payload: Map[String, String]): DataFrame =
    asOf(left, right, keys, leftTime, rightTime, payload, forward = true)

  /** Shared machinery. Direction only changes three things: the tie order
    * of left vs right rows at equal time (the "visible same-instant" side),
    * the window frame, and `last` vs `first` for the fill. Same-instant
    * duplicate right rows resolve to the greatest orderable payload in
    * both directions.
    */
  private def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   payload: Map[String, String],
                   forward: Boolean): DataFrame = {
    val leftCols = left.columns.toSeq
    // internal slot names — a user column with one of these names would be
    // silently overwritten by the withColumns below, corrupting the result
    val reserved = Seq("__t", "__src", "__upd", "__upd_f")
    val clash = (left.columns ++ right.columns).filter(reserved.contains)
    require(clash.isEmpty,
      s"as-of join: input columns ${clash.mkString(", ")} collide with " +
        "reserved internal names (__t, __src, __upd, __upd_f) — rename them")
    val srcL = left
      .withColumn("__t", col(leftTime))
      .withColumn("__src", lit(1))
    // payload travels as ONE struct per right row: the struct is non-null
    // even when its fields are null, so the ignoreNulls fill matches the
    // nearest right ROW — a null payload VALUE on that row is faithfully
    // returned as null (DuckDB ASOF semantics), not skipped in favor of a
    // further non-null value
    val srcR0 = right.select(
      (keys.map(col) :+ col(rightTime).as("__t")) :+
        struct(payload.map { case (c, out) => col(c).as(out) }.toSeq: _*)
          .as("__upd"): _*)
      .withColumn("__src", lit(0))
    val withPayloadSlots = srcL.withColumn("__upd",
      lit(null).cast(srcR0.schema("__upd").dataType))
    val leftOnly = leftCols.filterNot(c => keys.contains(c))
    val alignedR = leftOnly.foldLeft(srcR0)((d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .select(withPayloadSlots.columns.map(col): _*)
    val unioned = withPayloadSlots.union(alignedR)
    // Backward: right rows sort BEFORE left rows at equal time, so the
    // trailing frame ending at the left row sees a same-instant update
    // (r.t <= l.t inclusive); the trailing __upd asc key makes last() pick
    // the greatest payload among identical (key, time) right rows.
    // Forward: left rows sort FIRST so the frame starting at the left row
    // includes same-instant rights (r.t >= l.t inclusive); __upd desc makes
    // first() pick the greatest payload — the same deterministic choice.
    // The payload key is only added when the type IS orderable — a
    // map-bearing payload would otherwise fail analysis, and for such
    // payloads same-instant duplicate resolution stays order-undefined
    // (documented, not a crash).
    val updOrderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(srcR0.schema("__upd").dataType)
    val srcOrder = if (forward) col("__src").desc else col("__src").asc
    val updOrder: Seq[Column] =
      if (!updOrderable) Nil
      else if (forward) Seq(col("__upd").desc_nulls_last)
      else Seq(col("__upd").asc_nulls_first)
    val w0 = Window.partitionBy(keys.map(col): _*)
      .orderBy(Seq(col("__t").asc, srcOrder) ++ updOrder: _*)
    val (w, fill) =
      if (forward)
        (w0.rowsBetween(Window.currentRow, Window.unboundedFollowing),
          first(col("__upd"), ignoreNulls = true))
      else
        (w0.rowsBetween(Window.unboundedPreceding, Window.currentRow),
          last(col("__upd"), ignoreNulls = true))
    val filled = unioned.withColumn("__upd_f", fill.over(w))
    filled.filter(col("__src") === 1)
      .select(leftCols.map(col) ++
        payload.values.map(out => col(s"__upd_f.$out").as(out)): _*)
  }

  /** Range join: left rows matched to right intervals [startCol, endCol)
    * sharing `keys`. Composed as an equi-join on keys + interval predicate;
    * Catalyst evaluates the range predicate post-join, and the equi-key
    * keeps the shuffle bounded (never a cross product).
    *
    * The two sides are aliased and their columns named through the
    * aliases: when both derive from one frame, `left(k) === right(k)`
    * would compare one attribute with itself (a trivially true predicate
    * that only Spark's self-join rewrite rescues).
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTime: String, start: String, end: String,
                how: String = "inner"): DataFrame = {
    def l(c: String) = col(s"__l.`${c.replace("`", "``")}`")
    def r(c: String) = col(s"__r.`${c.replace("`", "``")}`")
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      l(leftTime) >= r(start) && l(leftTime) < r(end)
    val joined = left.as("__l").join(right.as("__r"), cond, how)
    keys.foldLeft(joined)((d, k) => d.drop(r(k)))
  }
}
