package graft

import java.sql.Timestamp

import graft.ext.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val trades = Seq(
    (1L, "A", ts("2024-01-01 10:00:05"), 100.0),
    (2L, "A", ts("2024-01-01 10:00:10"), 101.0),
    (3L, "A", ts("2024-01-01 09:59:00"), 99.0), // before any quote
    (4L, "B", ts("2024-01-01 10:00:07"), 200.0)
  ).toDF("trade_id", "sym", "t", "price")

  private val quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 1.0),
    ("A", ts("2024-01-01 10:00:05"), 2.0), // same-instant as trade 1
    ("A", ts("2024-01-01 10:00:09"), 3.0),
    ("B", ts("2024-01-01 10:00:06"), 9.0)
  ).toDF("sym", "qt", "quote")

  test("as-of: latest right row with t <= left t, per key") {
    val got = AsOfJoin.leftAsOf(trades, quotes, Seq("sym"), "t", "qt",
        Map("quote" -> "asof_quote"))
      .orderBy("trade_id").collect()
    def q(i: Int) = if (got(i).isNullAt(4)) null else got(i).getDouble(4)
    assert(q(0) == 2.0) // same-instant quote IS visible (<= semantics)
    assert(q(1) == 3.0) // latest prior, not first
    assert(q(2) == null) // no quote yet → left-join null
    assert(q(3) == 9.0) // key isolation: B sees only B quotes
  }

  test("as-of: a null payload on the LATEST right row is returned as null") {
    val right = Seq(
      ("A", ts("2024-01-01 10:00:00"), Some(5.0)),
      ("A", ts("2024-01-01 10:00:06"), None) // latest update nulls the value
    ).toDF("sym", "qt", "quote")
    val got = AsOfJoin.leftAsOf(
      trades.filter($"trade_id" === 4L === false), right, Seq("sym"),
      "t", "qt", Map("quote" -> "q"))
      .orderBy("trade_id").collect()
    // trade 1 (10:00:05): only the 5.0 update applies
    assert(got(0).getDouble(4) == 5.0)
    // trade 2 (10:00:10): the null update is the latest row → null, NOT 5.0
    assert(got(1).isNullAt(4))
  }

  test("salted join rejects outer joins that would duplicate rows") {
    val l = Seq((1L, 1.0)).toDF("k", "v")
    val r = Seq((1L, "a")).toDF("k", "s")
    intercept[IllegalArgumentException] {
      graft.etl.Salting.saltedJoin(l, r, Seq("k"), 4, how = "full")
    }
  }

  test("as-of preserves every left row and adds only payload columns") {
    val got = AsOfJoin.leftAsOf(trades, quotes, Seq("sym"), "t", "qt",
      Map("quote" -> "asof_quote"))
    assert(got.count() == trades.count())
    assert(got.columns.toSeq ==
      trades.columns.toSeq :+ "asof_quote")
  }

  test("as-of rejects inputs using the reserved internal column names") {
    val bad = trades.withColumnRenamed("price", "__t")
    intercept[IllegalArgumentException] {
      AsOfJoin.leftAsOf(bad, quotes, Seq("sym"), "t", "qt",
        Map("quote" -> "asof_quote"))
    }
  }

  test("same-instant duplicate right rows resolve deterministically (max)") {
    val dupQuotes = quotes.union(Seq(
      ("A", ts("2024-01-01 10:00:00"), 0.5),
      ("A", ts("2024-01-01 10:00:00"), 1.5)).toDF("sym", "qt", "quote"))
    // three quotes at 10:00:00 {1.0, 0.5, 1.5} → greatest payload wins,
    // and repartitioning cannot change the answer
    for (parts <- Seq(1, 7)) {
      val got = AsOfJoin.leftAsOf(trades, dupQuotes.repartition(parts),
          Seq("sym"), "t", "qt", Map("quote" -> "asof_quote"))
        .filter($"trade_id" === 3L || $"trade_id" === 1L)
        .orderBy("trade_id").collect()
      assert(got(0).getDouble(4) == 2.0) // trade 1: same-instant 10:00:05
      assert(got(0).getLong(0) == 1L)
    }
    val t3 = AsOfJoin.leftAsOf(
      trades.filter($"trade_id" === 2L), dupQuotes.filter($"qt" ===
        ts("2024-01-01 10:00:00")), Seq("sym"), "t", "qt",
      Map("quote" -> "asof_quote")).head
    assert(t3.getDouble(4) == 1.5) // max of {1.0, 0.5, 1.5}
  }

  test("forward as-of: earliest right row with t >= left t, per key") {
    val r = AsOfJoin.leftAsOfForward(trades, quotes, Seq("sym"), "t", "qt",
        Map("quote" -> "q"))
      .orderBy("trade_id").collect()
      .map(x => x.getAs[Long]("trade_id") ->
        (if (x.isNullAt(x.fieldIndex("q"))) "-"
         else x.getDouble(x.fieldIndex("q")).toString))
    assert(r.toSeq == Seq(
      1L -> "2.0",  // same-instant quote IS visible (>= inclusive)
      2L -> "-",    // no quote at/after 10:00:10
      3L -> "1.0",  // before any quote → the first one
      4L -> "-"))   // B's only quote precedes the trade
  }

  test("range join: rows land in their [start, end) interval per key") {
    val intervals = Seq(
      ("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:08"), "w1"),
      ("A", ts("2024-01-01 10:00:08"), ts("2024-01-01 10:00:20"), "w2")
    ).toDF("sym", "s", "e", "win")
    val got = AsOfJoin.rangeJoin(trades, intervals, Seq("sym"), "t", "s", "e")
      .select("trade_id", "win").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "w1", 2L -> "w2")) // trade 3 outside, 4 wrong key
  }

  test("range join: each key compares a left and a right attribute, even " +
    "when both sides come from one frame") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val intervals = trades.select($"sym", $"t".as("s"),
      ($"t" + org.apache.spark.sql.functions.expr("INTERVAL 1 SECOND")).as("e"))
    val got = AsOfJoin.rangeJoin(trades, intervals, Seq("sym"), "t", "s", "e")
    val cond = got.queryExecution.analyzed.collectFirst { case j: Join =>
      j.condition.get }.get
    val keyEqs = cond.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name == "sym" && b.name == "sym" => (a.exprId, b.exprId)
    }
    assert(keyEqs.nonEmpty && keyEqs.forall { case (a, b) => a != b }, cond)
    assert(got.count() == 4) // each trade falls in its own [t, t + 1 s)
  }
}
