package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.StreamingEnergy

/** Streaming smoke via the memory sink + processAllAvailable (batch parquet
  * drives the stream synchronously).
  */
class StreamingSpec extends SparkSpec {

  // one-time: re-materialize events as micros-NTZ parquet through the
  // schema-adaptive Tables.events read, so the stream schema is a plain
  // TIMESTAMP_NTZ whatever era (nanos/micros) the fixture shipped in
  private lazy val srcDir: String = {
    val dir = Files.createTempDirectory("graft-stream-src").toString
    Tables.events(spark, TestSpark.sf0001).write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val schema =
    spark.read.parquet(srcDir).schema

  // total state rows after the last batch that reported state
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)

  test("streaming hourly agg matches the batch rollup") {
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val agg = StreamingEnergy.hourlyAgg(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hourly_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly_stream")
      val batch = Tables.events(spark, TestSpark.sf0001)
        .groupBy(date_trunc("hour", col("ts").cast("timestamp"))
          .as("hour_start"), col("user_id"))
        .agg(sum(col("value")).as("hourly_value"))
      assert(got.count() == batch.count())
      val joined = got.join(batch, Seq("hour_start", "user_id"))
      val bad = joined.filter(
        abs(got("hourly_value") - batch("hourly_value")) > 1e-9).count()
      assert(bad == 0)
    } finally q.stop()
  }

  test("stateful operators are provider-agnostic: RocksDB state store " +
      "produces the same results") {
    // the production provider (README "Streaming state at production key
    // counts") must be a pure swap: same watermarked agg and same
    // mapGroupsWithState totals, state off-heap. Conf is read at QUERY
    // start, so setting it per-test works against the shared session.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val stream = StreamingEnergy.readStream(spark, srcDir, schema)
      val q = StreamingEnergy.hourlyAgg(stream).writeStream
        .outputMode("complete").format("memory")
        .queryName("hourly_rocks").start()
      val totals = StreamingEnergy.runningTotals(spark,
          StreamingEnergy.readStream(spark, srcDir, schema)).toDF()
        .writeStream.outputMode("update").format("memory")
        .queryName("totals_rocks").start()
      try {
        q.processAllAvailable(); totals.processAllAvailable()
        // the running query really is on RocksDB, not silently defaulted
        assert(q.lastProgress.stateOperators.nonEmpty)
        val batchAgg = Tables.events(spark, TestSpark.sf0001)
          .groupBy(date_trunc("hour", col("ts").cast("timestamp"))
            .as("hour_start"), col("user_id"))
          .agg(sum(col("value")).as("hourly_value"))
        val gotAgg = spark.table("hourly_rocks")
        assert(gotAgg.count() == batchAgg.count())
        assert(gotAgg.join(batchAgg, Seq("hour_start", "user_id"))
          .filter(abs(gotAgg("hourly_value") - batchAgg("hourly_value"))
            > 1e-9).count() == 0)
        val gotTot = spark.table("totals_rocks")
          .groupBy("user_id").agg(max("n").as("n"), max("total").as("total"))
        val batchTot = Tables.events(spark, TestSpark.sf0001)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("value").as("total"))
        assert(gotTot.join(batchTot, "user_id")
          .filter(gotTot("n") =!= batchTot("n") ||
            abs(gotTot("total") - batchTot("total")) > 1e-6).count() == 0)
        assert(stateRows(totals) == batchTot.count(),
          "running-totals state must hold one row per key")
      } finally { q.stop(); totals.stop() }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mapGroupsWithState running totals equal batch totals") {
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val totals = StreamingEnergy.runningTotals(spark, stream)
    val q = totals.toDF().writeStream.outputMode("update")
      .format("memory").queryName("totals_stream").start()
    try {
      q.processAllAvailable()
      // last update per user = full running total (single source batch)
      val got = spark.table("totals_stream")
        .groupBy("user_id").agg(max("n").as("n"), max("total").as("total"))
      val batch = Tables.events(spark, TestSpark.sf0001)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("total"))
      val bad = got.join(batch, "user_id")
        .filter(got("n") =!= batch("n") ||
          abs(got("total") - batch("total")) > 1e-6).count()
      assert(bad == 0)
      // state is bounded by the key count, not by the readings
      assert(stateRows(q) == batch.count(),
        "running-totals state must hold one row per key")
    } finally q.stop()
  }

  test("stateful streaming features match batch lag/rolling on closed days") {
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val feats = StreamingEnergy.streamingDailyFeatures(spark, stream)
    val q = feats.toDF().writeStream.outputMode("append")
      .format("memory").queryName("feat_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("feat_stream")
      // batch twin: daily agg + lag/rolling, dropping each user's last day
      val daily = graft.queries.Parity.daily(spark, TestSpark.sf0001)
        .select(col("user_id"), col("date").cast("string").as("date"),
          col("daily_value"))
      val lastDay = daily.groupBy("user_id").agg(max("date").as("last_date"))
      val batch = graft.feat.Windows.addRolling(
          graft.feat.Windows.addLags(daily, "user_id", "date", "daily_value",
            lags = Seq(1)),
          "user_id", "date", "daily_value")
        .join(lastDay, "user_id").filter(col("date") < col("last_date"))
      assert(got.count() == batch.count())
      // daily_value in the stream is an UNROUNDED running sum (state
      // accumulates raw doubles); compare with tolerance vs the
      // decimal-exact batch value, exact on lag/rolling relationships
      val joined = got.alias("g").join(batch.alias("b"), Seq("user_id", "date"))
      val bad = joined.filter(
        abs(col("g.daily_value") - col("b.daily_value")) > 1e-6 ||
        abs(coalesce(col("g.rolling_sum_7d"), lit(0.0)) -
            coalesce(col("b.rolling_sum_7d"), lit(0.0))) > 1e-6 ||
        abs(coalesce(col("g.lag_1_day"), lit(-1.0)) -
            coalesce(col("b.lag_1_day"), lit(-1.0))) > 1e-6).count()
      assert(bad == 0)
    } finally q.stop()
  }

  test("stream-static join flags against a broadcast profile") {
    val profile = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(avg("value").as("profile_mean"),
        stddev("value").as("profile_std"))
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val flagged = StreamingEnergy.flagAgainstProfile(stream, profile, z = 2.0)
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("flags_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("flags_stream")
      assert(got.count() ==
        Tables.events(spark, TestSpark.sf0001).count())
      val rate = got.agg(avg(col("is_anomaly"))).head.getDouble(0)
      assert(rate > 0 && rate < 0.2)
    } finally q.stop()
  }

  test("streaming session_window matches the batch session rollup") {
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
    val sessions = graft.feat.Sessions.sessionWindows(
      stream, "user_id", "ts", gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("session_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("session_stream")
      val batch = graft.feat.Sessions.sessionWindows(
        spark.read.parquet(srcDir), "user_id", "ts", gapMinutes = 30)
      // append mode only emits sessions CLOSED by the watermark — every
      // emitted session must exist identically in the batch result, and
      // most sessions (all but each user's last open one) must have closed
      assert(got.count() > 0)
      assert(got.exceptAll(batch.select(got.columns.map(col): _*))
        .count() == 0)
      assert(got.count() >= batch.count() / 2)
    } finally q.stop()
  }

  test("foreachBatch upsert sink converges to the batch daily rollup") {
    // re-write the source as MANY files so the stream runs several
    // micro-batches — the upsert's newest-wins merge must be exercised
    // across batches, not just once
    val multiDir = Files.createTempDirectory("graft-upsert-src").toString
    Tables.events(spark, TestSpark.sf0001).repartition(8)
      .write.mode("overwrite").parquet(multiDir)
    val multiSchema = spark.read.parquet(multiDir).schema
    val stream = spark.readStream.schema(multiSchema)
      .option("maxFilesPerTrigger", "2").parquet(multiDir)
    val outDir = Files.createTempDirectory("graft-upsert-out").toString + "/state"
    val ckpt = Files.createTempDirectory("graft-upsert-ckpt").toString
    val q = StreamingEnergy.dailyUpsertSink(stream, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir)
      .select(col("user_id"), col("date"),
        col("dsum").cast("double").as("daily_value"), col("n"))
    val batch = graft.queries.Parity.daily(spark, TestSpark.sf0001)
      .select(col("user_id"), col("date"), col("daily_value"),
        col("num_readings").as("n"))
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0,
      "upserted state diverges from the batch rollup")
  }

  test("upsert sink survives trailing-slash outDir and null-date groups") {
    import spark.implicits._
    // hand-built source with a null-ts event (→ null date group) split
    // into several files for multiple micro-batches
    val rows = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")), 5.0),
      (1L, Some(java.sql.Timestamp.valueOf("2024-01-01 11:00:00")), 7.0),
      (1L, None, 3.0),
      (2L, Some(java.sql.Timestamp.valueOf("2024-01-02 09:00:00")), 4.0),
      (2L, None, 2.0))
    val srcDir2 = Files.createTempDirectory("graft-upsert-null-src").toString
    rows.toDF("user_id", "ts", "value").repartition(4)
      .write.mode("overwrite").parquet(srcDir2)
    val sc = spark.read.parquet(srcDir2).schema
    val stream = spark.readStream.schema(sc)
      .option("maxFilesPerTrigger", "1").parquet(srcDir2)
    val outBase = Files.createTempDirectory("graft-upsert-null-out").toString
    val outDir = outBase + "/state/" // trailing slash on purpose
    val ckpt = Files.createTempDirectory("graft-upsert-null-ckpt").toString
    val q = StreamingEnergy.dailyUpsertSink(stream, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outBase + "/state")
    // exactly one row per (user, date) INCLUDING the null-date groups —
    // a non-null-safe merge would duplicate those per re-emission
    assert(got.count() == 4)
    val nullRows = got.filter(col("date").isNull)
      .select(col("user_id"), col("dsum").cast("double"), col("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(nullRows == Set((1L, 3.0, 1L), (2L, 2.0, 1L)))
  }

  test("checkpointed stream resumes exactly-once across restart") {
    import org.apache.spark.sql.functions.input_file_name
    val src = Files.createTempDirectory("graft-cp-src").toString
    val out = Files.createTempDirectory("graft-cp-out").toString
    val cp = Files.createTempDirectory("graft-cp-meta").toString
    val ev = Tables.events(spark, TestSpark.sf0001)
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    half1.write.mode("append").parquet(src)
    def run(): Unit = {
      val q = spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .select(col("event_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == half1.count())
    // restart with MORE input: the checkpoint's file log must skip
    // everything already processed — no duplicates, no loss
    half2.write.mode("append").parquet(src)
    run()
    val ids = spark.read.parquet(out)
    assert(ids.count() == ev.count())
    assert(ids.distinct().count() == ev.count())
  }

  test("streaming funnel stages match the batch funnel counts") {
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val staged = StreamingEnergy.funnelStages(spark, stream)
    val q = staged.toDF().writeStream.outputMode("update")
      .format("memory").queryName("funnel_stream").start()
    try {
      q.processAllAvailable()
      // per-user max first: update mode appends one stage row per active
      // user per TRIGGER, so raw rows would double-count users if the file
      // source split the fixture across micro-batches (stages are
      // monotone, so max = final stage)
      val got = spark.table("funnel_stream")
        .groupBy("user_id").agg(max("stage").as("stage"))
        .filter(col("stage") >= 1) // batch funnel only counts viewers
        .groupBy("stage").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = SparkEntry.queries("q_funnel")(spark, TestSpark.sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming hopping windows match the batch hopping aggregation") {
    import org.apache.spark.sql.functions.window
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val agg = stream
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hopping_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hopping_stream")
      val batch = Tables.events(spark, TestSpark.sf0001)
        .groupBy(window(col("ts").cast("timestamp"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("n"))
      assert(got.count() == batch.count())
      assert(got.exceptAll(batch).count() == 0)
    } finally q.stop()
  }

  test("stateless text ops (chunking, stats, lang id) stream unchanged") {
    // a corpus-ingest stream: every round-3 text operator is a narrow
    // stateless projection, so the SAME code runs on readStream with no
    // watermark/output-mode ceremony and must produce batch-identical rows
    val docsB = Tables.documents(spark, TestSpark.sf0001)
    val dir = Files.createTempDirectory("graft-doc-stream").toString
    docsB.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docsB.schema).parquet(dir)
    val chunked = graft.ext.Packing.chunkTokens(
      graft.ext.TextAnalysis.withLanguageId(stream, "text")
        .select(col("doc_id"), col("text")), "text", "doc_id", 32, 24)
    val q = chunked.writeStream.outputMode("append")
      .format("memory").queryName("doc_chunks_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("doc_chunks_stream")
      val batch = graft.ext.Packing.chunkTokens(docsB, "text", "doc_id",
        32, 24)
      assert(got.count() == batch.count())
      // exact row equality, not just counts
      assert(got.exceptAll(batch).count() == 0)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates, keeps the rest") {
    // duplicate the source twice → every event_id appears 2x within the
    // same batch window; the deduped stream must equal the distinct count
    val dupDir = Files.createTempDirectory("graft-stream-dup").toString
    val src = spark.read.parquet(srcDir)
    src.union(src).write.mode("overwrite").parquet(dupDir)
    val stream = StreamingEnergy.readStream(spark, dupDir, schema)
    val deduped = StreamingEnergy.dedupStream(stream, Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == src.count())
      assert(spark.table("dedup_stream").select("event_id").distinct()
        .count() == src.count())
    } finally q.stop()
  }

  test("day-state eviction bounds state across a long replay, same output") {
    import StreamingEnergy.{DayState, advanceDayState}
    val frame = 7
    val days = (0 until 200).map(i =>
      java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString)
    val value = (i: Int) => 10.0 + (i % 13)
    // replay one day per micro-batch; track state size each step
    var state = DayState(Map.empty, Set.empty)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[
      StreamingEnergy.DailyFeatures]
    days.zipWithIndex.foreach { case (d, i) =>
      val (next, out) = advanceDayState(1L, state,
        Iterator((1L, d, value(i))), frame)
      state = next
      emitted ++= out
      assert(state.sums.size <= frame + 1, s"sums unbounded at step $i")
      assert(state.emitted.size <= frame + 1, s"emitted unbounded at step $i")
    }
    // every closed day emitted exactly once, in order
    assert(emitted.map(_.date) == days.dropRight(1))
    // features equal the unbounded-state reference computation
    emitted.zipWithIndex.foreach { case (f, i) =>
      assert(f.daily_value == value(i))
      assert(f.lag_1_day == (if (i >= 1) Some(value(i - 1)) else None))
      val fr = (math.max(0, i - frame) until i).map(value)
      assert(f.rolling_sum_7d == (if (fr.nonEmpty) Some(fr.sum) else None))
    }
    // a day older than the retained horizon is dropped, not re-emitted
    val (afterLate, lateOut) = advanceDayState(1L, state,
      Iterator((1L, days.head, 999.0)), frame)
    assert(lateOut.isEmpty && afterLate.sums == state.sums)
    // BEFORE any eviction, out-of-order days must still be accepted and
    // emitted (nothing has been finalized yet — watermark only advances
    // when eviction actually drops a day)
    val (s1, o1) = advanceDayState(2L, DayState(Map.empty, Set.empty),
      Iterator((2L, "2024-01-10", 5.0)), frame)
    assert(o1.isEmpty)
    val (s2, o2) = advanceDayState(2L, s1,
      Iterator((2L, "2024-01-09", 3.0)), frame)
    assert(o2.map(f => (f.date, f.daily_value)) == Seq(("2024-01-09", 3.0)))
    assert(s2.sums.keySet == Set("2024-01-09", "2024-01-10"))
  }

  test("streaming scale lint: executed micro-batch plans carry no " +
      "nested-loop join, single-partition window, or repo-authored UDF") {
    import org.apache.spark.sql.execution.SparkPlan
    // the micro-batch analogues of ScaleAuditSpec's three killers; stream
    // plans have no AQE/cache wrappers, so a plain child walk suffices
    def allOps(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(allOps)
    def feedsSinglePartition(p: SparkPlan): Boolean = p match {
      case e: org.apache.spark.sql.execution.exchange.Exchange =>
        e.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition
      case other => other.children.exists(feedsSinglePartition)
    }
    def lint(name: String, plan: SparkPlan): Unit = {
      val ops = allOps(plan)
      val lines = ops.map(_.simpleString(8))
      assert(!lines.exists(l => l.startsWith("CartesianProduct") ||
        l.startsWith("BroadcastNestedLoopJoin")),
        s"nested-loop join in streaming $name:\n$plan")
      assert(!ops.exists { o =>
        val s = o.simpleString(8)
        (s.startsWith("Window") || s.startsWith("WindowGroupLimit")) &&
          o.children.exists(feedsSinglePartition)
      }, s"single-partition window in streaming $name:\n$plan")
      val ours = ops.flatMap(_.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
            if u.function.getClass.getName.startsWith("graft") => u
      }))
      assert(ours.isEmpty, s"repo-authored ScalaUDF in streaming $name")
    }
    val profile = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(avg("value").as("profile_mean"),
        stddev("value").as("profile_std"))
    def src() = StreamingEnergy.readStream(spark, srcDir, schema)
    val ops: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      ("hourlyAgg", StreamingEnergy.hourlyAgg(src()), "complete"),
      ("runningTotals",
        StreamingEnergy.runningTotals(spark, src()).toDF(), "update"),
      ("streamingDailyFeatures",
        StreamingEnergy.streamingDailyFeatures(spark, src()).toDF(), "append"),
      ("flagAgainstProfile",
        StreamingEnergy.flagAgainstProfile(src(), profile, z = 2.0), "append"),
      ("sessionWindows", graft.feat.Sessions.sessionWindows(
        src().withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "2 hours"), "user_id", "ts", 30), "append"),
      ("funnelStages",
        StreamingEnergy.funnelStages(spark, src()).toDF(), "update"),
      ("dedupStream",
        StreamingEnergy.dedupStream(src(), Seq("event_id")), "append"),
      ("clickAttribution",
        StreamingEnergy.clickAttribution(src(), windowMinutes = 30), "append"))
    var sawStateful = false
    ops.foreach { case (name, df, mode) =>
      val q = df.writeStream.outputMode(mode)
        .format("memory").queryName(s"lint_$name").start()
      try {
        q.processAllAvailable()
        val plan = org.apache.spark.sql.graft.StreamProbe.lastExecutedPlan(q)
        // non-vacuity: these must be real executed micro-batch plans —
        // the stateful ops must show their state stores (a stateless op's
        // LAST batch can legitimately be a tiny empty-batch plan)
        assert(allOps(plan).nonEmpty, s"empty plan for $name")
        sawStateful |= plan.toString.contains("StateStore")
        lint(name, plan)
      } finally q.stop()
    }
    assert(sawStateful,
      "no StateStore in any plan — lint walked the wrong plans")
  }

  test("stream-stream interval join matches the batch attribution join") {
    val stream = StreamingEnergy.readStream(spark, srcDir, schema)
    val joined = StreamingEnergy.clickAttribution(stream, windowMinutes = 30)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr_stream")
      val ev = Tables.events(spark, TestSpark.sf0001)
        .withColumn("ts", col("ts").cast("timestamp"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"),
          col("event_id").as("view_id"))
      val batch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .join(views, "user_id")
        .filter(col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("v_ts") < col("p_ts"))
      // every batch pair must stream out exactly once (no watermark drops:
      // the source is one ordered replay, late data never crosses 1 hour)
      assert(batch.count() > 0)
      // exceptAll (multiset): a duplicated emission must not be able to
      // mask a dropped pair behind matching counts + set equality
      assert(got.select("purchase_id", "view_id")
        .exceptAll(batch.select("purchase_id", "view_id")).count() == 0)
      assert(batch.select("purchase_id", "view_id")
        .exceptAll(got.select("purchase_id", "view_id")).count() == 0)
    } finally q.stop()
  }

  test("BPE token counting streams unchanged: static trained dict, " +
      "stream-static broadcast join, batch-equal totals") {
    import graft.ext.Bpe
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // tokenizer state is trained BATCH-side (the nightly job); the stream
    // consumes it as a static broadcast — no retraining in-flight
    val (_, dict) = Bpe.train(docs, "text", 4)
    val batchCounts = Bpe.docTokenCounts(docs, "text", "doc_id", dict,
      Seq("lang"))
    val inDir = Files.createTempDirectory("graft-bpe-stream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$inDir/b1")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 8).parquet(s"$inDir/*")
    // the SAME operator, unchanged, over the streaming frame
    val counts = Bpe.docTokenCounts(stream, "text", "doc_id", dict,
      Seq("lang"))
    val q = counts.writeStream.format("memory").queryName("bpe_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val half = spark.sql("SELECT count(*) FROM bpe_stream")
        .head().getLong(0)
      assert(half == batchCounts.filter(col("doc_id") % 2 === 0).count())
      // late-arriving docs are absorbed; totals converge to the batch run
      docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$inDir/b2")
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream")
      assert(streamed.exceptAll(batchCounts).count() == 0 &&
        batchCounts.exceptAll(streamed).count() == 0,
        "streamed BPE token counts diverged from the batch run")
    } finally q.stop()
  }

  test("streaming ANN index: stateless cell assignment is batch-exact, " +
      "exactly-once across incremental files, and serves top-k") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val inDir = Files.createTempDirectory("graft-idx-in").toString
    val outDir = Files.createTempDirectory("graft-idx-out").toString
    val ckpt = Files.createTempDirectory("graft-idx-ckpt").toString
    val firstHalf = emb.filter(col("vec_id") % 2 === 0)
    val secondHalf = emb.filter(col("vec_id") % 2 === 1)
    firstHalf.write.parquet(s"$inDir/batch1")
    // flatten: file source watches a directory tree; write under subdirs
    val schema = emb.schema
    val q = graft.streaming.StreamingIndex.run(spark, s"$inDir/*", outDir,
      ckpt, schema, "embedding", dim = 64, nPlanes = 4)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(outDir)
      assert(idx1.count() == firstHalf.count())
      // vectors landing LATER are absorbed incrementally, nothing re-emits
      secondHalf.write.parquet(s"$inDir/batch2")
      q.processAllAvailable()
      val idx = spark.read.parquet(outDir)
      assert(idx.count() == emb.count())
      // the streamed assignment IS the batch assignment, row for row —
      // stateless projection, no learned state to drift
      val batch = graft.streaming.StreamingIndex.assignCells(emb,
        "embedding", dim = 64, nPlanes = 4)
        .select(col("vec_id"), col("cell"))
      assert(idx.select(col("vec_id"), col("cell"))
        .exceptAll(batch).count() == 0)
      assert(batch.exceptAll(idx.select(col("vec_id"), col("cell")))
        .count() == 0)
      // and the accumulated index serves the same top-k the batch
      // hyperplane facade path computes over the full corpus
      val fromIndex = graft.streaming.StreamingIndex.topK(spark, outDir,
        "vec_id", "embedding", k = 5)
      val fromBatch = graft.api.Graft.annTopKHyperplane(emb, "vec_id",
        "embedding", k = 5, dim = 64, nPlanes = 4)
      assert(fromIndex.exceptAll(fromBatch).count() == 0 &&
        fromBatch.exceptAll(fromIndex).count() == 0,
        "index-served top-k diverged from the batch hyperplane path")
    } finally q.stop()
  }

  test("streaming persisted-index loop: latest-wins add/supersede per " +
    "micro-batch, exactly-once on retry, drift-policy rebuild after " +
    "the marker") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val SC = graft.streaming.StreamingCorpus
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val vd = col("embedding").cast("array<double>")
    def keyedRows(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id"), vd.as("embedding"))
    // build-time corpus: the even half, keyed k-<vec_id>
    val built = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-idxloop").toString +
      "/idx"
    A.build(graft.ext.Similarity.kmeansBuckets(built, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    SI.seedIndexKeymap(spark, indexDir, keyedRows(built), "key", "vec_id")
    // seeding a live keymap refuses — the slot is pre-loop only
    val eSeed = intercept[IllegalArgumentException] {
      SI.seedIndexKeymap(spark, indexDir, keyedRows(built), "key",
        "vec_id")
    }
    assert(eSeed.getMessage.contains("already holds a committed version"))
    val inDir = Files.createTempDirectory("graft-idxloop-in").toString
    val ckpt = Files.createTempDirectory("graft-idxloop-ckpt").toString
    // batch 0: fresh keys; batch 1: RE-EMBEDS of built keys (reversed
    // vectors = changed content) under shifted NEW uids
    val fresh = keyedRows(emb.filter(col("vec_id") % 4 === 1))
    val off = 9000000L
    val reembeds = emb.filter(col("vec_id") % 8 === 0)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        (col("vec_id") + off).as("vec_id"),
        reverse(vd).as("embedding"))
    val oldUids = emb.filter(col("vec_id") % 8 === 0).select(col("vec_id"))
    fresh.write.parquet(s"$inDir/d1")
    val q = SI.runPersistedIndexLoop(spark, s"$inDir/*", indexDir, ckpt,
      fresh.schema, "key", "vec_id", "embedding")
    try {
      q.processAllAvailable()
      assert(A.stats(spark, indexDir).head()
        .getAs[Long]("n_tombstoned") == 0L,
        "fresh keys must not supersede anything")
      reembeds.write.parquet(s"$inDir/d2")
      q.processAllAvailable()
    } finally q.stop()
    // the re-embedded keys' OLD vectors retired the moment the batch
    // landed; the new ones serve
    val nTomb = A.stats(spark, indexDir).head().getAs[Long]("n_tombstoned")
    assert(nTomb == oldUids.count(),
      s"expected ${oldUids.count()} tombstones, got $nTomb")
    val panel = emb.limit(30)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val served = A.search(spark, indexDir, panel, "vec_id", "embedding",
      k = 5, nProbe = 2, maxBucket = 4096)
    assert(served.count() > 0)
    assert(served.join(oldUids.select(col("vec_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_semi").isEmpty,
      "a corpus-superseded uid still serves from the index")
    // the keymap maps every re-embedded key to its NEW uid and carries
    // every other key forward
    val km = SI.readKeymapView(spark, indexDir).get
    assert(km.count() == built.count() + fresh.count(),
      "keymap must hold exactly one live uid per key ever seen")
    val reKm = km.join(reembeds.select(col("key")), Seq("key"),
      "left_semi")
    assert(reKm.count() == reembeds.count() &&
      reKm.filter(col("uid") < off).isEmpty,
      "a re-embedded key still maps to its retired uid")
    // EXACTLY-ONCE: a completed batch re-delivered (same batchId) is a
    // no-op — the keymap version's OWN commit marker is the skip key
    // (NOT the committer's _SUCCESS, which marker-suppressing
    // deployments drop; the own marker is written by the absorb itself
    // so it exists everywhere)
    val fsIdx = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsIdx.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=2/" +
        graft.io.StateDir.CommitMarker)),
      "no own commit marker under the committed keymap version")
    val stBefore = A.stats(spark, indexDir).head().toSeq
    SI.writeIndexBatch(reembeds, 1L, indexDir, "key", "vec_id",
      "embedding", 2.0, 0.0)
    assert(A.stats(spark, indexDir).head().toSeq == stBefore,
      "re-delivering a committed batch mutated the index")
    // retry of a PARTIALLY-applied batch converges: drop the marker
    // (keymap v=2 — batch 1 owns it) and replay — supersede is
    // idempotent, the add skips (all uids coded), the keymap rewrites
    // identically
    val kmBefore = km.orderBy(col("key")).collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(s"$indexDir/keymap/v=2")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/keymap/v=2"), true)
    SI.writeIndexBatch(reembeds, 1L, indexDir, "key", "vec_id",
      "embedding", 2.0, 0.0)
    assert(A.stats(spark, indexDir).head().toSeq == stBefore,
      "the partial-batch retry drifted the index state")
    val kmAfter = SI.readKeymapView(spark, indexDir).get
      .orderBy(col("key")).collect().toSeq
    assert(kmAfter == kmBefore, "the retry rewrote a different keymap")
    // a re-delivered key re-using its RETIRED uid refuses loudly
    val eReuse = intercept[IllegalArgumentException] {
      SI.writeIndexBatch(
        emb.filter(col("vec_id") % 8 === 0).limit(1)
          .select(concat(lit("k-"), col("vec_id")).as("key"),
            (col("vec_id") + off).as("vec_id"), vd.as("embedding")),
        2L, indexDir, "key", "vec_id", "embedding", 2.0, 0.0)
    }
    assert(eReuse.getMessage.contains("NEW uid"),
      s"wrong failure mode: ${eReuse.getMessage}")
    // the refused batch wrote no marker — nothing mutated
    assert(A.stats(spark, indexDir).head().toSeq == stBefore)
    // DRIFT-POLICY rebuild: an empty batch with a threshold the
    // accumulated drift crosses rebuilds AFTER its marker commits —
    // tombstones purged, budgets reset, the keymap untouched
    SI.writeIndexBatch(fresh.limit(0), 3L, indexDir, "key", "vec_id",
      "embedding", 2.0, 0.001)
    assert(A.currentRoot(spark, indexDir) == s"$indexDir/r=1",
      "the drift policy must have rebuilt")
    val stR = A.stats(spark, indexDir).head()
    assert(stR.getAs[Long]("n_tombstoned") == 0L &&
      stR.getAs[Long]("n_added") == 0L)
    assert(spark.read.parquet(s"$indexDir/r=1/vectors")
      .join(oldUids.select(col("vec_id").as("uid")), Seq("uid"),
        "left_semi").isEmpty,
      "the policy rebuild kept a tombstoned vector")
    assert(SI.readKeymapView(spark, indexDir).get
      .orderBy(col("key")).collect().toSeq == kmBefore,
      "an empty batch must not change the keymap's content")
    // KEYMAP ROW BOUND (documented invariant): every version holds
    // EXACTLY one row per key ever delivered — re-deliveries REPLACE
    // their key's row (carry-forward anti-join + delta), superseded
    // uids keep no history row, so the state is bounded by distinct
    // keys, independent of re-delivery count
    val kmFinal = SI.readKeymapView(spark, indexDir).get
    assert(kmFinal.groupBy(col("key")).count()
      .filter(col("count") > 1).isEmpty,
      "keymap carries more than one row for some key")
    assert(kmFinal.count() == built.count() + fresh.count(),
      "keymap row count must equal distinct keys ever delivered")
  }

  test("segmented keymap fold: delta-only segments collapse into the " +
    "base with the view unchanged, folded re-deliveries converge, the " +
    "seed refusal survives the fold, and post-fold absorbs land above " +
    "the watermark") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val vd = col("embedding").cast("array<double>")
    def keyedRows(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id"), vd.as("embedding"))
    val built = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-kmfold").toString +
      "/idx"
    A.build(graft.ext.Similarity.kmeansBuckets(built, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    SI.seedIndexKeymap(spark, indexDir, keyedRows(built), "key", "vec_id")
    val off = 9000000L
    val b0 = keyedRows(emb.filter(col("vec_id") % 4 === 1))
    val b1 = emb.filter(col("vec_id") % 8 === 0)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        (col("vec_id") + off).as("vec_id"), reverse(vd).as("embedding"))
    // fold every 2 batches: batch 0 leaves segments, batch 1 folds
    SI.writeIndexBatch(b0, 0L, indexDir, "key", "vec_id", "embedding",
      2.0, 0.0, keymapFoldEveryBatches = 2)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the segment write is DELTA-SIZED: v=1 holds only batch 0's rows
    assert(spark.read.parquet(s"$indexDir/keymap/v=1").count() ==
      b0.count(),
      "a keymap segment must hold only its batch's delta")
    SI.writeIndexBatch(b1, 1L, indexDir, "key", "vec_id", "embedding",
      2.0, 0.0, keymapFoldEveryBatches = 2)
    // the fold ran: base committed, folded segments deleted, and the
    // NEWEST segment (v=2 — batch 1's own, still inside its
    // checkpoint-commit window) kept alive with its skip marker
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymapbase/v=0/" + graft.io.StateDir.CommitMarker)),
      "fold must commit a base version")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=0")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/keymap/v=1")),
      "fold must delete the segments it folded")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=2/" + graft.io.StateDir.CommitMarker)),
      "fold must keep the newest segment and its re-delivery marker")
    // the view is the same map the unfolded log would serve: every b0
    // key still present, every b1 key at its NEW uid, built keys intact
    val view = SI.readKeymapView(spark, indexDir).get
    val expected = keyedRows(built)
      .select(col("key"), col("vec_id").as("uid"))
      .unionByName(b0.select(col("key"), col("vec_id").as("uid")))
      .join(b1.select(col("key")), Seq("key"), "left_anti")
      .unionByName(b1.select(col("key"), col("vec_id").as("uid")))
    assert(view.exceptAll(expected).isEmpty &&
      expected.exceptAll(view).isEmpty,
      "the folded view diverged from the latest-wins map")
    // RE-DELIVERY of batch 1 after the fold: the newest segment's skip
    // marker survived the fold (the crash-between-marker-and-checkpoint
    // window), so the re-delivery is the marker no-op — stats and view
    // unchanged, no uid-reuse trip on the batch's own folded result
    val stBefore = A.stats(spark, indexDir).head().toSeq
    SI.writeIndexBatch(b1, 1L, indexDir, "key", "vec_id", "embedding",
      2.0, 0.0, keymapFoldEveryBatches = 0)
    assert(A.stats(spark, indexDir).head().toSeq == stBefore,
      "re-delivering the newest batch after a fold mutated the index")
    assert(SI.readKeymapView(spark, indexDir).get
      .orderBy(col("key")).collect().toSeq ==
        view.orderBy(col("key")).collect().toSeq,
      "re-delivering the newest batch after a fold changed the view")
    // the seed refusal survives a fully-folded keymap (the committed
    // state lives in the base now)
    val eSeed = intercept[IllegalArgumentException] {
      SI.seedIndexKeymap(spark, indexDir, keyedRows(built), "key",
        "vec_id")
    }
    assert(eSeed.getMessage.contains("already holds a committed version"))
    // a post-fold BATCH FACADE absorb allocates above the watermark and
    // is visible through the view (a sub-watermark slot would be
    // silently invisible — the exact bug the allocation rule prevents)
    val b2 = keyedRows(emb.filter(col("vec_id") % 4 === 3).limit(7))
    graft.api.Graft.annIndexAbsorbKeyedDelta(spark, indexDir, b2, "key",
      "vec_id", "embedding")
    val view2 = SI.readKeymapView(spark, indexDir).get
    assert(view2.join(b2.select(col("key")), Seq("key"), "left_semi")
      .count() == 7L,
      "a post-fold absorb's keys are invisible — segment landed below " +
        "the fold watermark")
    assert(view2.count() == built.count() + b0.count() + 7L)
  }

  test("legacy keymap migration: a pre-r17 version committed by the " +
    "committer's _SUCCESS alone still reads, and re-deliveries " +
    "supersede uids that live only in it") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val vd = col("embedding").cast("array<double>")
    def keyedRows(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id"), vd.as("embedding"))
    val built = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-kmlegacy").toString +
      "/idx"
    A.build(graft.ext.Similarity.kmeansBuckets(built, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    SI.seedIndexKeymap(spark, indexDir, keyedRows(built), "key", "vec_id")
    // age the seed into the pre-r17 shape: committer _SUCCESS only
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=0/" + graft.io.StateDir.CommitMarker), false))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=0/_SUCCESS")),
      "fixture broken: the committer never wrote _SUCCESS here")
    // the legacy version still counts committed for the seed refusal
    val eSeed = intercept[IllegalArgumentException] {
      SI.seedIndexKeymap(spark, indexDir, keyedRows(built), "key",
        "vec_id")
    }
    assert(eSeed.getMessage.contains("already holds a committed version"))
    // a re-delivery of a BUILT key supersedes the uid that lives only
    // in the legacy version — the migration's load-bearing read
    val off = 9000000L
    val batch = built.orderBy(col("vec_id")).limit(2)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        (col("vec_id") + off).as("vec_id"), reverse(vd).as("embedding"))
    SI.writeIndexBatch(batch, 0L, indexDir, "key", "vec_id", "embedding",
      2.0, 0.0)
    assert(A.stats(spark, indexDir).head()
      .getAs[Long]("n_tombstoned") == 2L,
      "legacy-version uids must supersede on re-delivery")
    val view = SI.readKeymapView(spark, indexDir).get
    assert(view.count() == built.count(),
      "the view must stay one row per key across the legacy boundary")
    assert(view.join(batch.select(col("key"),
        col("vec_id").as("uid")), Seq("key", "uid"), "left_semi")
      .count() == 2L,
      "re-delivered keys must map to their new uids")
  }

  test("index loop torn seed: a keymap v=0 without its commit marker " +
    "fails the first batch LOUDLY instead of serving a map with holes") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val vd = col("embedding").cast("array<double>")
    val built = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-tornseed").toString +
      "/idx"
    A.build(graft.ext.Similarity.kmeansBuckets(built, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    // simulate the crashed seed: a v=0 with a partial part file and no
    // commit marker (the committer's _SUCCESS is absent mid-crash too)
    val v0 = new org.apache.hadoop.fs.Path(s"$indexDir/keymap/v=0")
    val fs = v0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(v0)
    val part = fs.create(new org.apache.hadoop.fs.Path(v0,
      "part-00000-torn.parquet"), true)
    part.write("torn".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    part.close()
    val delta = emb.filter(col("vec_id") % 4 === 1).limit(5)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id"), vd.as("embedding"))
    val e = intercept[IllegalStateException] {
      SI.writeIndexBatch(delta, 0L, indexDir, "key", "vec_id",
        "embedding", 2.0, 0.0)
    }
    assert(e.getMessage.contains("carries no commit marker") &&
      e.getMessage.contains("seedIndexKeymap"),
      s"wrong failure mode: ${e.getMessage}")
    // the named fix works: re-running the seed replaces the torn v=0,
    // and the batch then proceeds with the complete map
    SI.seedIndexKeymap(spark, indexDir,
      built.select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id")), "key", "vec_id")
    SI.writeIndexBatch(delta, 0L, indexDir, "key", "vec_id",
      "embedding", 2.0, 0.0)
    assert(SI.readKeymapView(spark, indexDir).get.count() ==
      built.count() + 5L)
  }

  test("index loop poison-batch fix: a keymap-mapped uid already retired " +
    "out-of-band and PURGED by a rebuild is skipped, not an error — the " +
    "re-delivery converges instead of refailing forever") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val vd = col("embedding").cast("array<double>")
    val built = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-poison").toString +
      "/idx"
    A.build(graft.ext.Similarity.kmeansBuckets(built, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    SI.seedIndexKeymap(spark, indexDir,
      built.select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id")), "key", "vec_id")
    // OUT-OF-BAND retirement (the corpus feed consumer's shape) of the
    // % 8 == 0 uids, then a rebuild that physically purges them — the
    // keymap still maps those keys to the now-absent uids, which is the
    // documented corpus→index composition, not an anomaly
    val retired = built.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id"))
    A.supersede(spark, indexDir, retired, "vec_id")
    A.rebuild(spark, indexDir, nBuckets = 8, iters = 2)
    assert(A.stats(spark, indexDir).head()
      .getAs[Long]("n_tombstoned") == 0L, "rebuild must purge")
    // the poison shape: one re-delivered key whose old uid was PURGED,
    // one whose old uid is still LIVE — the batch must retire exactly
    // the live one and absorb both re-embeds
    val off = 9000000L
    val purgedKey = built.filter(col("vec_id") % 8 === 0)
      .orderBy(col("vec_id")).limit(1)
    val liveKey = built.filter(col("vec_id") % 8 === 4)
      .orderBy(col("vec_id")).limit(1)
    val batch = purgedKey.unionByName(liveKey)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        (col("vec_id") + off).as("vec_id"),
        reverse(vd).as("embedding"))
    // pre-fix this threw AnnIndex.supersede's exists guard on the purged
    // uid — and every checkpoint retry refailed identically
    SI.writeIndexBatch(batch, 0L, indexDir, "key", "vec_id",
      "embedding", 2.0, 0.0)
    val root = A.currentRoot(spark, indexDir)
    val tombs = A.readTombstones(spark, root)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(tombs == Set(liveKey.head().getLong(0)),
      s"exactly the LIVE old uid must tombstone; got $tombs")
    // both re-embeds entered under their new uids
    assert(spark.read.parquet(s"$root/codes")
      .filter(col("uid") >= off).count() == 2L)
    // and the keymap maps both keys to the new uids
    val km = SI.readKeymapView(spark, indexDir).get
    assert(km.join(batch.select(col("key"), col("vec_id").as("uid")),
      Seq("key", "uid"), "left_semi").count() == 2L)
  }

  test("applySupersessionFeed: the corpus loop's published feed retires " +
    "exactly the served uids — absent ids skip, re-apply is idempotent, " +
    "no feed is a no-op") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-feedapply").toString
    A.build(graft.ext.Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    val corpusOut = Files.createTempDirectory("graft-feedsrc").toString
    // no feed published yet: a no-op, not an error
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (0L, 0L))
    // the corpus retired: some uids the index serves (% 8 == 0), some
    // it never held (odd ids = docs without embeddings in this index) —
    // published across two micro-batch partitions like the real loop
    val served = emb.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("ingest_id"))
    val unheld = emb.filter(col("vec_id") % 2 === 1)
      .orderBy(col("vec_id")).limit(7)
      .select(col("vec_id").as("ingest_id"))
    // deterministic split: an unordered limit evaluated twice may pick
    // DIFFERENT rows per action, leaking an id out of both batches
    val first3 = served.orderBy(col("ingest_id")).limit(3)
    first3.write.parquet(s"$corpusOut/superseded/batch_id=1")
    served.join(first3, Seq("ingest_id"), "left_anti").unionByName(unheld)
      .write.parquet(s"$corpusOut/superseded/batch_id=2")
    val (nFeed, nRetired) =
      SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(nFeed == served.count() + unheld.count(),
      s"feed count $nFeed")
    assert(nRetired == served.count(),
      s"retired $nRetired — must retire exactly the SERVED feed ids")
    // the retired uids never rank; everything else still serves
    val panel = emb.limit(30)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val res = A.search(spark, indexDir, panel, "vec_id", "embedding",
      k = 5, nProbe = 2, maxBucket = 4096)
    assert(res.count() > 0)
    assert(res.join(served.select(col("ingest_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_semi").isEmpty,
      "a corpus-retired uid still serves")
    // CURSOR-COVERED re-apply reads NOTHING: the applied-through cursor
    // (persisted beside the index) cuts the feed listing to batches
    // above it, so the cron-cadence cost is the delta, not the history
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (0L, 0L),
      "a cursor-covered re-apply must read no feed rows at all")
    assert(SI.readAppliedThrough(spark, indexDir) == 2L,
      "the cursor must sit at the newest applied batch id")
    // a LATER batch applies delta-sized: nFeed counts ONLY the new
    // batch's ids — the IO proof that history below the cursor is
    // never re-read (the pre-cursor code would report the full feed)
    val late = emb.filter(col("vec_id") % 8 === 4)
      .orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("ingest_id"))
    late.write.parquet(s"$corpusOut/superseded/batch_id=7")
    val (nLate, rLate) =
      SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(nLate == 5L, s"apply after the cursor saw $nLate ids — it " +
      "must read only the unapplied batch")
    assert(rLate == 5L)
    assert(SI.readAppliedThrough(spark, indexDir) == 7L)
    // LOST-CURSOR overlap (the crash-between-supersede-and-advance
    // window): the whole feed re-reads but the tombstone set absorbs it
    // — cursor for cost, tombstones for correctness
    val fsC = new org.apache.hadoop.fs.Path(s"$indexDir/feedcursor")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsC.delete(new org.apache.hadoop.fs.Path(s"$indexDir/feedcursor"), true)
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (nFeed + 5L, 0L),
      "a cursor-less re-apply must converge via tombstone idempotence")
    assert(A.stats(spark, indexDir).head()
      .getAs[Long]("n_tombstoned") == nRetired + 5L)
  }

  test("supersession feed compaction: consumed batch dirs fold into one " +
    "archive snapshot the cursor cut still prunes; re-fold converges; " +
    "fresh consumers read folded history") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val G = graft.api.Graft
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val indexDir = Files.createTempDirectory("graft-feedcpt-idx").toString
    A.build(graft.ext.Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    val corpusOut = Files.createTempDirectory("graft-feedcpt").toString
    // nothing to fold: a clean no-op
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 0L)
    val served = emb.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("ingest_id"))
      .orderBy(col("ingest_id"))
    val b1 = served.limit(3)
    val b2 = served.join(b1, Seq("ingest_id"), "left_anti")
    b1.write.parquet(s"$corpusOut/superseded/batch_id=1")
    b2.write.parquet(s"$corpusOut/superseded/batch_id=2")
    val (nFeed, nRet) = SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(nFeed == served.count() && nRet == served.count())
    // fold the consumed batches; the dirs are gone, the archive holds
    // their rows WITH batch_id (the cursor's pruning axis)
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 2L)
    val fs = new org.apache.hadoop.fs.Path(corpusOut)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=1")))
    val arch = spark.read.parquet(s"$corpusOut/superseded_archive/v=0")
    assert(arch.count() == served.count() &&
      arch.select("batch_id").distinct().count() == 2)
    // the applied consumer still reads nothing (archive rows sit at or
    // below its cursor — stat-pruned, and semantically covered)
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (0L, 0L), "folded history below the cursor must stay unread")
    // a FRESH consumer (new index, no cursor) reads the folded history
    // from the archive — late joiners lose nothing to compaction
    val indexDir2 = Files.createTempDirectory("graft-feedcpt-idx2").toString
    A.build(graft.ext.Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir2, dim = 64)
    val (nF2, nR2) = SI.applySupersessionFeed(spark, corpusOut, indexDir2)
    assert(nF2 == served.count() && nR2 == served.count(),
      "a fresh consumer must see the archived feed in full")
    // live batches published AFTER a fold compose with the archive:
    // the fresh-er cursor cuts both sides
    val b3 = emb.filter(col("vec_id") % 8 === 4)
      .orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("ingest_id"))
    b3.write.parquet(s"$corpusOut/superseded/batch_id=3")
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (4L, 4L))
    // PARTIAL fold (uptoBatchId): publish two more batches, fold only
    // the older one — the newer stays a live dir, and an apply composes
    // archive + dirs under one cursor cut
    val b4 = emb.filter(col("vec_id") % 8 === 2)
      .orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("ingest_id"))
    val b5 = emb.filter(col("vec_id") % 8 === 6)
      .orderBy(col("vec_id")).limit(2)
      .select(col("vec_id").as("ingest_id"))
    b4.write.parquet(s"$corpusOut/superseded/batch_id=4")
    b5.write.parquet(s"$corpusOut/superseded/batch_id=5")
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut,
      uptoBatchId = 4L) == 2L) // folds 3 and 4; 5 stays a dir
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=5")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=4")))
    // re-fold carried archived rows exactly once (the anti-join dedup —
    // a crash between snapshot and delete replays this exact shape)
    val arch2 = spark.read.parquet(s"$corpusOut/superseded_archive/v=1")
    assert(arch2.count() == served.count() + 4L + 3L,
      "re-fold must carry archived rows exactly once")
    // the consumer (cursor at 3 from the earlier apply) reads archived
    // batch 4 AND live dir 5 in one apply — the mixed composition
    val (nMix, rMix) = SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(nMix == 5L && rMix == 5L,
      s"mixed archive+dir apply saw ($nMix, $rMix), expected (5, 5)")
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (0L, 0L))
  }

  test("torn feed batch (part files, no commit record): its visible ids " +
    "apply but the cursor never advances through it — re-read until " +
    "committed, never skipped") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val indexDir = Files.createTempDirectory("graft-tornfeed-idx").toString
    A.build(graft.ext.Similarity.kmeansBuckets(emb, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    val corpusOut = Files.createTempDirectory("graft-tornfeed").toString
    val fs = new org.apache.hadoop.fs.Path(corpusOut)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b1 = emb.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("ingest_id"))
    val b2 = emb.orderBy(col("vec_id").desc).limit(3)
      .select(col("vec_id").as("ingest_id"))
    b1.write.parquet(s"$corpusOut/superseded/batch_id=1")
    b2.write.parquet(s"$corpusOut/superseded/batch_id=2")
    // simulate the mid-job-commit crash on the NEWEST batch: part files
    // visible, no commit record of any kind (a real crash never wrote
    // _SUCCESS; pre-fix the apply read the partial dir AND advanced the
    // cursor to 2, permanently skipping the ids in its missing files)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=2/_SUCCESS"), false)
    val (n1, r1) = SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(n1 == 7L && r1 == 7L,
      s"visible ids of the torn batch must still retire: ($n1, $r1)")
    assert(SI.readAppliedThrough(spark, indexDir) == 1L,
      "the cursor must NOT advance through the uncommitted newest batch")
    // the next apply re-reads exactly the suspect batch (self-healing:
    // a publisher retry that lands more part files gets them applied
    // here instead of skipped forever); the tombstone set absorbs the
    // overlap
    val (n2, r2) = SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(n2 == 3L && r2 == 0L,
      s"re-read of the uncommitted batch: ($n2, $r2)")
    // the publisher commits the batch (marker stamped LAST) — the
    // cursor passes it and applies go quiet
    fs.create(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=2/" + graft.io.StateDir.CommitMarker),
      true).close()
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (3L, 0L))
    assert(SI.readAppliedThrough(spark, indexDir) == 2L)
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (0L, 0L))
    // a batch BELOW a newer dir is committed by the serial-publisher
    // rule even with no marker at all — pre-r18 feeds on deployments
    // that suppress _SUCCESS keep draining to the last-but-one batch
    val b3 = emb.filter(col("vec_id") % 7 === 3).limit(2)
      .select(col("vec_id").as("ingest_id"))
    b3.write.parquet(s"$corpusOut/superseded/batch_id=3")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=3/_SUCCESS"), false)
    b1.limit(1).write.parquet(s"$corpusOut/superseded/batch_id=4")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=4/_SUCCESS"), false)
    val (n3, _) = SI.applySupersessionFeed(spark, corpusOut, indexDir)
    assert(n3 == 3L, s"batches 3+4 above the cursor: $n3 ids")
    assert(SI.readAppliedThrough(spark, indexDir) == 3L,
      "below-a-newer-dir batches advance; the marker-less newest holds")
  }

  test("feed archive snapshots commit by marker: a torn snapshot reads " +
    "as absent, a crashed first compact converges, and a marker-less " +
    "complete archive refuses loudly instead of stranding history") {
    val SI = graft.streaming.StreamingIndex
    val G = graft.api.Graft
    val A = graft.ext.AnnIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpusOut = Files.createTempDirectory("graft-archcommit").toString
    val fs = new org.apache.hadoop.fs.Path(corpusOut)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b1 = emb.orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("ingest_id"))
    val b2 = emb.orderBy(col("vec_id").desc).limit(2)
      .select(col("vec_id").as("ingest_id"))
    b1.write.parquet(s"$corpusOut/superseded/batch_id=1")
    b2.write.parquet(s"$corpusOut/superseded/batch_id=2")
    // IN-PROTOCOL crash: a first compact died after its snapshot write,
    // before marker and deletes — raw dirs intact, snapshot torn.
    // Simulate: hand-write v=0 holding only batch 1's rows, no markers.
    spark.read.option("basePath", s"$corpusOut/superseded")
      .parquet(s"$corpusOut/superseded/batch_id=1")
      .withColumn("batch_id", col("batch_id").cast("long"))
      .write.parquet(s"$corpusOut/superseded_archive/v=0")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=0/_SUCCESS"), false)
    // a FRESH consumer ignores the torn snapshot and reads the raw dirs
    val indexDir = Files.createTempDirectory("graft-archcommit-i").toString
    A.build(graft.ext.Similarity.kmeansBuckets(emb, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (5L, 5L),
      "a torn archive snapshot must read as absent (raw dirs cover it)")
    // the compact RETRY converges unattended: the coverage check passes
    // (raw dirs intact), the new snapshot lands ABOVE the torn slot
    // with the marker stamped before any delete
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=1/" + graft.io.StateDir.CommitMarker)),
      "the snapshot's own commit marker must be stamped")
    assert(spark.read.parquet(s"$corpusOut/superseded_archive/v=1")
      .count() == 5L)
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (0L, 0L))
    // AMBIGUOUS case: markers stripped from the COMPLETE archive whose
    // raw dirs are GONE (a pre-r18 archive on a marker-suppressing
    // deployment) — compact must refuse loudly, never silently write a
    // snapshot that strands the unmarked history
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=1/" + graft.io.StateDir.CommitMarker),
      false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=1/_SUCCESS"), false)
    val b3 = emb.filter(col("vec_id") % 5 === 2).limit(2)
      .select(col("vec_id").as("ingest_id"))
    b3.write.parquet(s"$corpusOut/superseded/batch_id=3")
    val e = intercept[IllegalArgumentException] {
      G.corpusSupersessionFeedCompact(spark, corpusOut)
    }
    assert(e.getMessage.contains("commit marker"),
      s"wrong refusal: ${e.getMessage}")
    // the named resolution works: stamp the marker by hand, retry folds
    fs.create(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=1/" + graft.io.StateDir.CommitMarker),
      true).close()
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 1L)
    assert(spark.read.parquet(s"$corpusOut/superseded_archive/v=2")
      .count() == 7L, "carried history + the new batch")
  }

  test("ambiguous-archive arbitration is SHARED by apply and compact " +
    "(ADVICE r18): an unmarked snapshot NEWER than the committed one " +
    "refuses loudly when its uniquely-folded history is uncovered; the " +
    "in-protocol torn retry still converges; a fresh consumer never " +
    "silently skips folded history") {
    val SI = graft.streaming.StreamingIndex
    val G = graft.api.Graft
    val A = graft.ext.AnnIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpusOut = Files.createTempDirectory("graft-archcover").toString
    val fs = new org.apache.hadoop.fs.Path(corpusOut)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ids(mod: Int, n: Int) = emb.filter(col("vec_id") % 11 === mod)
      .orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("ingest_id"))
    ids(1, 3).write.parquet(s"$corpusOut/superseded/batch_id=1")
    ids(2, 2).write.parquet(s"$corpusOut/superseded/batch_id=2")
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 2L)
    // IN-PROTOCOL: a second compact crashed after its snapshot write,
    // before marker and deletes — newest v=1 unmarked, but batch 3's
    // raw dir is intact and batches 1-2 live in committed v=0, so the
    // coverage arbitration passes and the retry converges unattended
    ids(3, 2).write.parquet(s"$corpusOut/superseded/batch_id=3")
    spark.read.parquet(s"$corpusOut/superseded_archive/v=0")
      .unionByName(spark.read
        .option("basePath", s"$corpusOut/superseded")
        .parquet(s"$corpusOut/superseded/batch_id=3")
        .withColumn("batch_id", col("batch_id").cast("long")))
      .write.parquet(s"$corpusOut/superseded_archive/v=1")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=1/_SUCCESS"), false)
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 1L,
      "torn-crash retry must converge (content still covered)")
    // OUT-OF-PROTOCOL: strip the markers from the NEWEST committed
    // snapshot (v=2, which uniquely folds batch 3 — its raw dir is now
    // gone and committed v=0 never held it): a marker-suppressing
    // config flipped mid-life. Pre-r19 the guard fired only when NO
    // committed version existed — compact silently carried from v=0
    // and the apply silently read v=0, both stranding batch 3 forever.
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=2/" + graft.io.StateDir.CommitMarker),
      false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=2/_SUCCESS"), false)
    ids(4, 2).write.parquet(s"$corpusOut/superseded/batch_id=4")
    val eC = intercept[IllegalArgumentException] {
      G.corpusSupersessionFeedCompact(spark, corpusOut)
    }
    assert(eC.getMessage.contains("covered neither"),
      s"wrong compact refusal: ${eC.getMessage}")
    // the SAME arbitration guards a fresh/late-joining consumer's
    // apply — before r19 it treated the unmarked archive as absent and
    // served batch 3's stale vectors forever (ADVICE r18, medium)
    val indexDir = Files.createTempDirectory("graft-archcover-i").toString
    A.build(graft.ext.Similarity.kmeansBuckets(emb, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    val eA = intercept[IllegalArgumentException] {
      SI.applySupersessionFeed(spark, corpusOut, indexDir)
    }
    assert(eA.getMessage.contains("covered neither"),
      s"wrong apply refusal: ${eA.getMessage}")
    // named resolution: stamp the snapshot by hand — both paths proceed
    // and the full history (archive batches 1-3 + live batch 4) applies
    fs.create(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded_archive/v=2/" + graft.io.StateDir.CommitMarker),
      true).close()
    assert(SI.applySupersessionFeed(spark, corpusOut, indexDir) ==
      (9L, 9L), "archive + live history must all retire")
    assert(G.corpusSupersessionFeedCompact(spark, corpusOut) == 1L)
  }

  test("consumer-aware feed retention: compaction folds only below the " +
    "slowest registered consumer's cursor; a fresh consumer holds " +
    "everything; an empty registry refuses; unregistering releases") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val G = graft.api.Graft
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpusOut = Files.createTempDirectory("graft-careg").toString
    val fs = new org.apache.hadoop.fs.Path(corpusOut)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshIdx(tag: String): String = {
      val d = Files.createTempDirectory(s"graft-careg-$tag").toString
      A.build(graft.ext.Similarity.kmeansBuckets(emb, "vec_id",
          "embedding", k = 8, iters = 2, bucketCol = "kb"),
        "vec_id", "embedding", "kb", d, dim = 64)
      d
    }
    val fast = freshIdx("fast")
    val slow = freshIdx("slow")
    // feed ids the index never held (negative): the applies are pure
    // feed reads, so the test isolates RETENTION — which dirs survive —
    // from retirement mechanics (covered elsewhere)
    def publish(b: Long): Unit =
      spark.range(-1000L * (b + 1) - 10, -1000L * (b + 1))
        .select(col("id").as("ingest_id"))
        .coalesce(1).write.parquet(s"$corpusOut/superseded/batch_id=$b")
    publish(0)
    // empty registry refuses — silently folding everything is the
    // operator-guessed behavior the registered fold exists to replace
    val eReg = intercept[IllegalArgumentException] {
      G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
    }
    assert(eReg.getMessage.contains("no registered consumers"))
    G.corpusFeedRegisterConsumer(spark, corpusOut, fast)
    G.corpusFeedRegisterConsumer(spark, corpusOut, slow)
    // fresh consumers (no cursor anywhere): everything is held
    assert(G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      == 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=0")))
    // slow applies batch 0 only; fast drains everything
    SI.applySupersessionFeed(spark, corpusOut, slow)
    publish(1); publish(2)
    SI.applySupersessionFeed(spark, corpusOut, fast)
    assert(SI.readAppliedThrough(spark, slow) == 0L)
    assert(SI.readAppliedThrough(spark, fast) == 2L)
    // the registered fold moves ONLY batch 0 (min cursor) — the history
    // slow hasn't applied stays in the raw dirs, its apply stays
    // archive-free
    assert(G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=2")))
    // slow catches up from the raw dirs; the next registered fold
    // releases them
    SI.applySupersessionFeed(spark, corpusOut, slow)
    assert(SI.readAppliedThrough(spark, slow) == 2L)
    assert(G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=2")))
    // a retired consumer must not hold retention back forever:
    // unregister releases its hold
    publish(3)
    SI.applySupersessionFeed(spark, corpusOut, fast)
    assert(G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      == 0L, "slow (cursor 2) must hold batch 3")
    G.corpusFeedUnregisterConsumer(spark, corpusOut, slow)
    assert(G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$corpusOut/superseded/batch_id=3")))
  }

  test("dead-consumer staleness (VERDICT r18 #5): the registered fold " +
    "names each laggard (dir + batches behind) on stderr and still " +
    "refuses to fold past its cursor; unregistering is the takeover") {
    import spark.implicits._
    val G = graft.api.Graft
    val corpusOut = Files.createTempDirectory("graft-stale").toString
    def publish(b: Long): Unit =
      spark.range(-1000L * (b + 1) - 10, -1000L * (b + 1))
        .select(col("id").as("ingest_id"))
        .coalesce(1).write.parquet(s"$corpusOut/superseded/batch_id=$b")
    val live = Files.createTempDirectory("graft-stale-live").toString
    val dead = Files.createTempDirectory("graft-stale-dead").toString
    G.corpusFeedRegisterConsumer(spark, corpusOut, live)
    G.corpusFeedRegisterConsumer(spark, corpusOut, dead)
    (0L to 12L).foreach(publish)
    // live's cursor at the head (the persisted cursor format); dead
    // registered but never applied — the forever-pinning scenario
    Seq(12L).toDF("applied_through").coalesce(1)
      .write.parquet(s"$live/feedcursor/v=0")
    val lags = G.feedLaggards(spark, corpusOut, warnLagBatches = 10L)
    assert(lags.map(_._1) == Seq(dead), s"laggards: $lags")
    assert(lags.head._2 == -1L && lags.head._3 == 13L, s"lag: $lags")
    // a threshold the lag doesn't exceed names nobody
    assert(G.feedLaggards(spark, corpusOut, warnLagBatches = 13L).isEmpty)
    // the registered fold WARNS (named dir + batches behind) and still
    // refuses to fold anything past the dead cursor — retention
    // correctness is not traded for the warning
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    val folded =
      try {
        System.setErr(new java.io.PrintStream(errBuf, true))
        G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      } finally System.setErr(oldErr)
    assert(folded == 0L, "dead consumer (no cursor) must hold everything")
    val msg = errBuf.toString
    assert(msg.contains(dead) && msg.contains("13 batches behind"),
      s"warning must name the laggard and its lag; got: $msg")
    val fs = new org.apache.hadoop.fs.Path(corpusOut)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 12L).foreach(b => assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$corpusOut/superseded/batch_id=$b"))))
    // the documented takeover path: unregister the dead consumer, the
    // next registered fold releases the pinned history
    G.corpusFeedUnregisterConsumer(spark, corpusOut, dead)
    assert(G.corpusSupersessionFeedCompactRegistered(spark, corpusOut)
      == 13L)
  }

  test("orphan keeper flips (crash between the flips write and the " +
    "segment marker) do not drop documents: flips apply only at marked " +
    "segment versions") {
    import spark.implicits._
    val S = graft.streaming.StreamingCorpus
    val outDir = Files.createTempDirectory("graft-orphanflip").toString
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def keeperRows(rows: Seq[(Long, String, String, String, Boolean,
        Boolean, Long)]) =
      rows.toDF("ingest_id", "ukey", "content_hash", "lang", "kept",
        "live", "n_tokens")
    // batch 0 committed: two live docs
    keeperRows(Seq((0L, "a", "h0", "en", true, true, 5L),
        (1L, "b", "h1", "en", true, true, 7L)))
      .write.parquet(s"$outDir/keepers/v=0")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$outDir/keepers/v=0/" + graft.io.StateDir.SegmentMarker), true).close()
    // batch 1 CRASHED between its flips write and its segment marker:
    // the flip retires ingest 0, but the replacement row (ingest 2)
    // sits in the torn, marker-less segment
    Seq(0L).toDF("ingest_id").write
      .parquet(s"$outDir/keeperflips/v=1")
    keeperRows(Seq((2L, "a", "h2", "en", true, true, 6L)))
      .write.parquet(s"$outDir/keepers/v=1") // no segment marker
    val st = S.readRekeyedKeeperState(spark, outDir).get
    assert(st.count() == 2L, "the torn segment must read as absent")
    assert(st.filter(col("ingest_id") === 0L && col("live"))
      .count() == 1L,
      "an orphan flip must NOT retire a doc whose replacement never " +
        "committed — that silently drops the document from the " +
        "compacted state")
    // the batch's retry completes it: marker stamped, the flip applies
    fs.create(new org.apache.hadoop.fs.Path(
      s"$outDir/keepers/v=1/" + graft.io.StateDir.SegmentMarker), true).close()
    val st2 = S.readRekeyedKeeperState(spark, outDir).get
    assert(st2.count() == 3L)
    assert(st2.filter(col("ingest_id") === 0L && col("live")).isEmpty)
    assert(st2.filter(col("ingest_id") === 2L && col("live"))
      .count() == 1L)
  }

  test("a pre-r17 committed keymap version (_SUCCESS only) still skips " +
    "its re-delivered batch") {
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val indexDir =
      Files.createTempDirectory("graft-successskip").toString + "/idx"
    A.build(graft.ext.Similarity.kmeansBuckets(emb, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", indexDir, dim = 64)
    val vd = col("embedding").cast("array<double>")
    val batch = emb.filter(col("vec_id") % 16 === 0)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        (col("vec_id") + 7000000L).as("vec_id"),
        reverse(vd).as("embedding"))
    SI.writeIndexBatch(batch, 0L, indexDir, "key", "vec_id", "embedding",
      2.0, 0.0)
    // strip the own marker, leaving the committer's _SUCCESS — the
    // pre-r17 layout. The re-delivery must STILL skip: re-running the
    // absorb would trip the uid-reuse guard on the batch's own keymap
    // rows (the loud failure this test dies with pre-fix).
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=1/" + graft.io.StateDir.CommitMarker)
    assert(fs.exists(mk))
    fs.delete(mk, false)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/keymap/v=1/_SUCCESS")))
    SI.writeIndexBatch(batch, 0L, indexDir, "key", "vec_id", "embedding",
      2.0, 0.0) // must return silently (the completed-batch skip)
    assert(A.stats(spark, indexDir).head().getAs[Long]("n_tombstoned")
      == 0L, "the skip must not re-execute the absorb")
  }

  test("streaming media ingest: incremental file decode, exactly-once") {
    import java.nio.file.{Files => JFiles, Paths}
    val inDir = Files.createTempDirectory("graft-media-in").toString
    val outDir = Files.createTempDirectory("graft-media-out").toString
    val ckpt = Files.createTempDirectory("graft-media-ckpt").toString
    JFiles.write(Paths.get(inDir, "a.png"),
      graft.ext.Multimodal.Synthetic.png(24, 12, seed = 1L))
    JFiles.write(Paths.get(inDir, "b.gif"),
      graft.ext.Multimodal.Synthetic.gif(10, 8, 3, seed = 2L))
    val q = graft.streaming.StreamingMedia.run(spark, inDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val first = spark.read.parquet(outDir)
      assert(first.count() == 2)
      // real header decode ran inside the stream
      assert(first.filter(col("format") === "img/gif")
        .select("width", "n_frames").head().toSeq == Seq(10L, 3L))
      // a file landing LATER is picked up incrementally — and the two
      // already-processed files are not re-emitted (file-source
      // exactly-once bookkeeping via the checkpoint)
      JFiles.write(Paths.get(inDir, "c.tiff"),
        graft.ext.Multimodal.Synthetic.tiff(16, 16, 2, seed = 3L))
      q.processAllAvailable()
      val second = spark.read.parquet(outDir)
      assert(second.count() == 3)
      assert(second.filter(col("format") === "img/tiff")
        .select("n_frames").head().getLong(0) == 2L)
    } finally q.stop()
  }

  test("streaming corpus quality gate: stateless, incremental, and " +
    "identical to the batch gates") {
    import java.nio.file.{Files => JFiles}
    import graft.ext.{NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    // model fit OFFLINE on the batch corpus — the train-batch/
    // serve-stream split the operator exists for
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    // batch expectation: the same composed gate on the static frame
    val expected = graft.streaming.StreamingCorpus.qualityGate(
        docsAll, "text", "doc_id", model, minTokens = 10)
      .select("doc_id", "n_tokens", "margin", "pred")
    assert(expected.count() > 0 && expected.count() < docsAll.count(),
      "gate must drop some docs and keep some on the fixture")
    // stream the same docs in two halves; gate must be stateless
    // (zero StateStore in any executed micro-batch plan) and converge
    // to the batch result exactly
    val inDir = Files.createTempDirectory("graft-corpus-in").toString
    val outDir = Files.createTempDirectory("graft-corpus-out").toString
    val ckpt = Files.createTempDirectory("graft-corpus-ckpt").toString
    val half1 = docsAll.filter(col("doc_id") % 2 === 0)
    val half2 = docsAll.filter(col("doc_id") % 2 === 1)
    half1.write.parquet(s"$inDir/p1")
    val schema = docsAll.schema
    val q = graft.streaming.StreamingCorpus.run(spark, s"$inDir/p*",
      outDir, ckpt, schema, "text", "doc_id", model, minTokens = 10)
    try {
      q.processAllAvailable()
      val afterHalf = spark.read.parquet(outDir)
      assert(afterHalf.count() ==
        expected.filter(col("doc_id") % 2 === 0).count(),
        "first half's survivors diverged from the batch gate")
      half2.write.parquet(s"$inDir/p2")
      q.processAllAvailable()
      // stateless: the executed plan of the last micro-batch carries no
      // state store
      assert(!q.lastProgress.stateOperators.iterator.hasNext ||
        q.lastProgress.stateOperators.isEmpty,
        "quality gate must run with ZERO stateful operators")
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_tokens", "margin", "pred")
      assert(got.exceptAll(expected).count() == 0 &&
        expected.exceptAll(got).count() == 0,
        "streamed survivors diverged from the batch gate")
    } finally q.stop()
  }

  test("streaming corpus gate boots from a PERSISTED NB artifact: a " +
    "restarted serving job needs no retraining") {
    import graft.ext.{NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val live = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    // the deployment lifecycle: fit once, persist, and SERVE from the
    // artifact — the "fit offline" contract now means a separate process
    // can ride the stream without the training corpus in reach
    val modelDir = Files.createTempDirectory("graft-nb-art").toString
    NbClassifier.save(spark, live, modelDir)
    val model = NbClassifier.load(spark, modelDir)
    val expected = graft.streaming.StreamingCorpus.qualityGate(
        docsAll, "text", "doc_id", live, minTokens = 10)
      .select("doc_id", "n_tokens", "margin", "pred")
    val inDir = Files.createTempDirectory("graft-nbg-in").toString
    val outDir = Files.createTempDirectory("graft-nbg-out").toString
    val ckpt = Files.createTempDirectory("graft-nbg-ckpt").toString
    docsAll.write.parquet(s"$inDir/p1")
    val q = graft.streaming.StreamingCorpus.run(spark, s"$inDir/p*",
      outDir, ckpt, docsAll.schema, "text", "doc_id", model,
      minTokens = 10)
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_tokens", "margin", "pred")
      assert(got.exceptAll(expected).count() == 0 &&
        expected.exceptAll(got).count() == 0,
        "gate under the loaded artifact diverged from the live model")
    } finally q.stop()
  }

  test("streaming token-id encode: gated micro-batches export the SAME " +
    "dense id sequences as the batch encoder") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    // offline artifacts: the NB gate model and the trained dictionary
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val dict = Bpe.train(docsAll, "text", 8)._2
    // batch expectation: gate then encode on the static frame
    val gatedBatch = graft.streaming.StreamingCorpus.qualityGate(
      docsAll, "text", "doc_id", model, minTokens = 10)
    val expected = Bpe.encodeIds(gatedBatch, "text", "doc_id", dict)
      .select(col("doc_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    assert(expected.count() > 0, "no gated docs to encode on the fixture")
    // stream the corpus in two halves; id sequences must converge exactly
    val inDir = Files.createTempDirectory("graft-ids-in").toString
    val outDir = Files.createTempDirectory("graft-ids-out").toString
    val ckpt = Files.createTempDirectory("graft-ids-ckpt").toString
    docsAll.filter(col("doc_id") % 2 === 0).write.parquet(s"$inDir/p1")
    val q = graft.streaming.StreamingCorpus.runEncodeIds(spark,
      s"$inDir/p*", outDir, ckpt, docsAll.schema, "text", "doc_id",
      model, dict, minTokens = 10)
    try {
      q.processAllAvailable()
      docsAll.filter(col("doc_id") % 2 === 1).write.parquet(s"$inDir/p2")
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select(col("doc_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids"))
      assert(got.exceptAll(expected).count() == 0 &&
        expected.exceptAll(got).count() == 0,
        "streamed token-id sequences diverged from the batch encoder")
    } finally q.stop()
  }

  test("token-id sink is idempotent: a retried micro-batch write " +
    "REPLACES its output instead of duplicating rows") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (merges, dict) = Bpe.train(docsAll, "text", 8)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    val gated = graft.streaming.StreamingCorpus.qualityGate(
      docsAll, "text", "doc_id", model, minTokens = 10)
    val expected = tok.encodeIds(gated, "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val n = expected.count()
    assert(n > 0, "no gated docs on the fixture")
    val outDir = Files.createTempDirectory("graft-retry-out").toString
    // first write, then SIMULATED RETRY: the same batch id re-processes
    // the same input (the source-checkpoint contract) — output must stay
    // exactly one copy, not two
    graft.streaming.StreamingCorpus.writeEncodedBatch(
      gated, 7L, outDir, "text", "doc_id", tok)
    graft.streaming.StreamingCorpus.writeEncodedBatch(
      gated, 7L, outDir, "text", "doc_id", tok)
    val got = spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    assert(got.count() == n,
      s"retried batch duplicated rows: ${got.count()} vs $n")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "retried batch output diverged from the batch encoder")
  }

  test("streaming shard production: complete-shard micro-batches + " +
    "flush converge to the batch writer, and a retried batch replaces " +
    "its shards AND its state version") {
    import graft.ext.{Bpe, NbClassifier, Packing, Sampling,
      TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (merges, dict) = Bpe.train(docsAll, "text", 8)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    // batch ground truth: one-shot shards over the gated corpus
    val gated = graft.streaming.StreamingCorpus.qualityGate(
      docsAll, "text", "doc_id", model, minTokens = 10)
    val encAll = tok.encodeIds(gated, "text", "doc_id")
      .join(gated.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val expected = Packing.shardTokens(encAll, Seq("lang"), "doc_id", 256)
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    // stream the corpus in two ID-ORDERED halves (the convergence
    // precondition, as for the batch delta writer)
    val inDir = Files.createTempDirectory("graft-shard-in").toString
    val outDir = Files.createTempDirectory("graft-shard-out").toString
    val ckpt = Files.createTempDirectory("graft-shard-ckpt").toString
    docsAll.filter(col("doc_id") < 250).write.parquet(s"$inDir/p1")
    val q = graft.streaming.StreamingCorpus.runShards(spark, s"$inDir/p*",
      outDir, ckpt, docsAll.schema, "text", "doc_id", "lang", model, tok,
      ctxTokens = 256, minTokens = 10)
    try {
      q.processAllAvailable()
      docsAll.filter(col("doc_id") >= 250).write.parquet(s"$inDir/p2")
      q.processAllAvailable()
    } finally q.stop()
    val published = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val flushed = graft.streaming.StreamingCorpus.flushShards(spark,
        outDir, "lang", ctxTokens = 256)
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val got = published.unionByName(flushed)
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "streamed shards + flush diverged from the batch writer")
    // published shards are all COMPLETE — partials only ever ride state
    assert(published.filter(col("n_tokens") =!= 256).count() == 0,
      "a partial shard was published before flush")
    // simulated RETRY of the last micro-batch: recomputes from the same
    // prior state version and REPLACES its outputs — still convergent
    val batches = new java.io.File(s"$outDir/shards").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
    val lastId = batches.last
    graft.streaming.StreamingCorpus.writeShardBatch(
      docsAll.filter(col("doc_id") >= 250)
        .transform(d => graft.streaming.StreamingCorpus.qualityGate(
          d, "text", "doc_id", model, minTokens = 10)
          .select(d.columns.map(col): _*)),
      lastId, s"$outDir/shards", s"$outDir/state", "text", "doc_id",
      "lang", tok, ctxTokens = 256)
    val got2 = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
      .unionByName(graft.streaming.StreamingCorpus.flushShards(spark,
          outDir, "lang", ctxTokens = 256)
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids")))
    assert(got2.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got2).count() == 0,
      "retried micro-batch broke shard convergence")
  }

  test("streaming FULL corpus loop (gate + dedup-vs-state + encode + " +
    "shard writer) converges to the batch corpusShardsDelta, dropping a " +
    "cross-batch duplicate against the keeper state") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (merges, dict) = Bpe.train(docsAll, "text", 8)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    // re-crawl shape: the second half re-delivers a kept doc's text
    // under a fresh id — the keeper state must drop it
    val keptId = graft.streaming.StreamingCorpus.qualityGate(
        docsAll, "text", "doc_id", model, minTokens = 10)
      .agg(min(col("doc_id"))).head().getLong(0)
    val dup = docsAll.filter(col("doc_id") === keptId)
      .withColumn("doc_id", lit(999999L))
    // batch ground truth: ONE corpusShardsDelta pass over the union
    // (its dedup drops the same duplicate) + flush
    val (sAll, stAll) = graft.api.Graft.corpusShardsDelta(
      docsAll.unionByName(dup), "text", "doc_id", "lang", model, tok,
      state = None, minTokens = 10)
    val expected = sAll
      .unionByName(graft.api.Graft.tokenShardsFlush(stAll.shards,
        Seq("lang"), 256))
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val inDir = Files.createTempDirectory("graft-cshard-in").toString
    val outDir = Files.createTempDirectory("graft-cshard-out").toString
    val ckpt = Files.createTempDirectory("graft-cshard-ckpt").toString
    docsAll.filter(col("doc_id") < 250).write.parquet(s"$inDir/p1")
    val q = graft.streaming.StreamingCorpus.runCorpusShards(spark,
      s"$inDir/p*", outDir, ckpt, docsAll.schema, "text", "doc_id",
      "lang", model, tok, ctxTokens = 256, minTokens = 10)
    try {
      q.processAllAvailable()
      docsAll.filter(col("doc_id") >= 250).unionByName(dup)
        .write.parquet(s"$inDir/p2")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
      .unionByName(graft.streaming.StreamingCorpus.flushShards(spark,
          outDir, "lang", ctxTokens = 256)
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids")))
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "streaming full loop diverged from the batch corpusShardsDelta")
  }

  test("streaming full loop over THREE batches: duplicates in both later " +
    "batches AND a batch-internal duplicate all drop; keeper state is " +
    "monotone; closeShards publishes the tails exactly once (retry-safe)") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (merges, dict) = Bpe.train(docsAll, "text", 8)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    // two kept docs to re-deliver, plus a batch-INTERNAL duplicate pair
    val gatedIds = graft.streaming.StreamingCorpus.qualityGate(
        docsAll, "text", "doc_id", model, minTokens = 10)
      .select(col("doc_id")).orderBy(col("doc_id"))
      .limit(2).collect().map(_.getLong(0))
    val (kept1, kept2) = (gatedIds(0), gatedIds(1))
    def redeliver(id: Long, newId: Long) =
      docsAll.filter(col("doc_id") === id)
        .withColumn("doc_id", lit(newId))
    // batch 2 re-delivers kept1; batch 3 re-delivers kept2 AND carries
    // an internal duplicate pair (same text, two fresh ids — min wins)
    val dup2 = redeliver(kept1, 999901L)
    val dup3a = redeliver(kept2, 999902L)
    val dup3b = redeliver(kept2, 999903L)
    val b1 = docsAll.filter(col("doc_id") < 150)
    val b2 = docsAll.filter(col("doc_id") >= 150 && col("doc_id") < 300)
      .unionByName(dup2)
    val b3 = docsAll.filter(col("doc_id") >= 300)
      .unionByName(dup3a).unionByName(dup3b)
    // ground truth: one corpusShardsDelta pass over the whole delivery
    // (its dedup drops every duplicate the same way) + flush
    val (sAll, stAll) = graft.api.Graft.corpusShardsDelta(
      b1.unionByName(b2).unionByName(b3), "text", "doc_id", "lang",
      model, tok, state = None, minTokens = 10)
    val expected = sAll
      .unionByName(graft.api.Graft.tokenShardsFlush(stAll.shards,
        Seq("lang"), 256))
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val inDir = Files.createTempDirectory("graft-3b-in").toString
    val outDir = Files.createTempDirectory("graft-3b-out").toString
    val ckpt = Files.createTempDirectory("graft-3b-ckpt").toString
    b1.write.parquet(s"$inDir/p1")
    def numCached() =
      org.apache.spark.sql.graft.CacheProbe.numCachedEntries(spark)
    val cachedBefore = numCached()
    val q = graft.streaming.StreamingCorpus.runCorpusShards(spark,
      s"$inDir/p*", outDir, ckpt, docsAll.schema, "text", "doc_id",
      "lang", model, tok, ctxTokens = 256, minTokens = 10)
    val keeperCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def keeperCount(): Long = graft.streaming.StreamingCorpus
      .readRekeyedKeeperState(spark, outDir).map(_.count())
      .getOrElse(0L)
    try {
      q.processAllAvailable(); keeperCounts += keeperCount()
      b2.write.parquet(s"$inDir/p2")
      q.processAllAvailable(); keeperCounts += keeperCount()
      b3.write.parquet(s"$inDir/p3")
      q.processAllAvailable(); keeperCounts += keeperCount()
    } finally if (q.isActive) q.stop()
    // each micro-batch releases the caches it registers, so the loop
    // leaves the session cache registry as it found it
    assert(numCached() == cachedBefore,
      s"the loop left ${numCached() - cachedBefore} cache entries registered")
    // keeper state grows monotonically and NEVER counts a duplicate:
    // batch 2's only novel content is its non-duplicate docs, batch 3's
    // internal pair contributes ONE digest
    assert(keeperCounts.sliding(2).forall(w => w(0) <= w(1)),
      s"keeper state shrank across batches: $keeperCounts")
    val distinctDigests = graft.ext.Dedup.exactGroups(
      graft.streaming.StreamingCorpus.qualityGate(
        b1.unionByName(b2).unionByName(b3), "text", "doc_id", model,
        minTokens = 10), "text", "doc_id").count()
    assert(keeperCounts.last == distinctDigests,
      s"final keeper count ${keeperCounts.last} != distinct gated " +
        s"digests $distinctDigests")
    // ONE-CALL close: stop → flush → publish, idempotent under a retry
    // (counts materialized eagerly — the second close REPLACES the
    // first's files, so the first frame must be consumed before it)
    val nTails1 = graft.api.Graft.closeShards(spark, outDir, "lang",
      ctxTokens = 256, query = Some(q)).count()
    val nTails2 = graft.api.Graft.closeShards(spark, outDir, "lang",
      ctxTokens = 256).count() // retried close REPLACES, never duplicates
    assert(nTails1 == nTails2)
    val got = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "3-batch loop + closeShards diverged from the batch ground truth")
    // every duplicate id is absent from the published token streams'
    // provenance: the re-delivered ids never produced shards (their
    // content was already in the keeper state)
    // (shard rows don't carry ids, so assert via the state counter above
    // and the hash-exact stream equality — both would move on a leak)
  }

  test("KEYED streaming corpus loop: arbitrary string-keyed crawl files " +
    "re-id'd per micro-batch under the versioned ingest base, converging " +
    "on the batch loop over the same re-id'd deltas; retry re-assigns " +
    "identical ids") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    // the crawl shape: unique non-monotonic string keys, NO numeric id
    val keyed = Tables.documents(spark, TestSpark.sf0001)
      .withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
    val half1 = keyed.filter(col("doc_id") < 250).drop("doc_id")
    val half2k = keyed.filter(col("doc_id") >= 250).drop("doc_id")
    val docsAll = half1.unionByName(half2k)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ukey"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ukey", "label_weak")
    val (merges, dict) = Bpe.train(docsAll, "text", 8)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    // re-crawl: batch 2 re-delivers a GATE-SURVIVING batch-1 text under
    // a fresh key (deterministic pick), so the keeper state must drop it
    val dup = graft.streaming.StreamingCorpus.qualityGate(half1, "text",
        "ukey", model, minTokens = 10)
      .select(half1.columns.map(col): _*)
      .orderBy(col("ukey")).limit(1)
      .withColumn("ukey", lit("u-recrawled"))
    val b1 = half1
    val b2 = half2k.unionByName(dup)
    // batch ground truth: the SAME batch boundaries through
    // withIngestIds + corpusShardsDelta (shard content legitimately
    // depends on delivery boundaries — the contract is stream ≡ batch
    // over the same deltas, exactly like runShards' scaladoc)
    val G = graft.api.Graft
    val (r1, base1) = G.withIngestIds(b1, "ukey")
    val (r2, _) = G.withIngestIds(b2, "ukey", base = base1)
    val (s1, st1) = G.corpusShardsDelta(r1, "text", "ingest_id", "lang",
      model, tok, state = None, minTokens = 10, checkIdOrder = false)
    val (s2, st2) = G.corpusShardsDelta(r2, "text", "ingest_id", "lang",
      model, tok, state = Some(st1), minTokens = 10,
      checkIdOrder = false)
    val expected = s1.unionByName(s2)
      .unionByName(G.tokenShardsFlush(st2.shards, Seq("lang"), 256))
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val inDir = Files.createTempDirectory("graft-keyed-in").toString
    val outDir = Files.createTempDirectory("graft-keyed-out").toString
    val ckpt = Files.createTempDirectory("graft-keyed-ckpt").toString
    b1.write.parquet(s"$inDir/p1")
    val q = graft.streaming.StreamingCorpus.runCorpusShardsKeyed(spark,
      s"$inDir/p*", outDir, ckpt, b1.schema, "text", "ukey", "lang",
      model, tok, ctxTokens = 256, minTokens = 10)
    try {
      q.processAllAvailable()
      b2.write.parquet(s"$inDir/p2")
      q.processAllAvailable()
    } finally if (q.isActive) q.stop()
    val got = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
      .unionByName(graft.streaming.StreamingCorpus.flushShards(spark,
          outDir, "lang", ctxTokens = 256)
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids")))
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "keyed streaming loop diverged from the batch loop over the same " +
        "re-id'd deltas")
    // the ingest base advanced by the GATED delivery size (the stream
    // re-ids gate survivors; duplicates still consume ids — only the
    // keeper state drops them, AFTER id assignment)
    def gatedN(d: org.apache.spark.sql.DataFrame): Long =
      graft.streaming.StreamingCorpus.qualityGate(d, "text", "ukey",
        model, minTokens = 10).count()
    val baseState = graft.streaming.StreamingCorpus.latestShardState(
      spark, s"$outDir/ingest").get.head().getAs[Long]("next_base")
    assert(baseState == gatedN(b1) + gatedN(b2),
      s"ingest base $baseState != gated delivered docs")
    // RETRY of the last micro-batch: same versioned base → identical id
    // assignment → identical replaced outputs
    val batches = new java.io.File(s"$outDir/shards").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
    graft.streaming.StreamingCorpus.writeKeyedCorpusShardBatch(
      b2.transform(d => graft.streaming.StreamingCorpus.qualityGate(
        d, "text", "ukey", model, minTokens = 10)
        .select(d.columns.map(col): _*)),
      batches.last, outDir, "text", "ukey", "lang", tok,
      ctxTokens = 256, salt = "ingest")
    val got2 = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
      .unionByName(graft.streaming.StreamingCorpus.flushShards(spark,
          outDir, "lang", ctxTokens = 256)
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids")))
    assert(got2.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got2).count() == 0,
      "retried keyed micro-batch re-assigned different ids")
    // OWNERSHIP (r15): the ingest-base versioning is single-producer by
    // construction — a SECOND starter on the same outDir with a
    // DIFFERENT checkpoint must fail fast (before any state is touched),
    // while the same job restarting from its own checkpoint re-acquires
    val ckpt2 = Files.createTempDirectory("graft-keyed-ckpt2").toString
    val eOwner = intercept[IllegalStateException] {
      graft.streaming.StreamingCorpus.runCorpusShardsKeyed(spark,
        s"$inDir/p*", outDir, ckpt2, b1.schema, "text", "ukey", "lang",
        model, tok, ctxTokens = 256, minTokens = 10)
    }
    assert(eOwner.getMessage.contains("owned by another producer"),
      s"wrong failure mode: ${eOwner.getMessage}")
    val q3 = graft.streaming.StreamingCorpus.runCorpusShardsKeyed(spark,
      s"$inDir/p*", outDir, ckpt, b1.schema, "text", "ukey", "lang",
      model, tok, ctxTokens = 256, minTokens = 10)
    try q3.processAllAvailable() finally if (q3.isActive) q3.stop()
  }

  test("REKEYED streaming loop (latest-wins) over THREE batches: a " +
    "changed-content re-crawl supersedes; stream + compaction equals " +
    "the batch rekeyed loop; retry replaces identically") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val G = graft.api.Graft
    val keyed = Tables.documents(spark, TestSpark.sf0001)
      .withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
    // batch 3 = fresh keys PLUS re-crawls of earlier keys with CHANGED
    // content (every doc_id % 29 == 5 below 300)
    val b1 = keyed.filter(col("doc_id") < 150).drop("doc_id")
    val b2 = keyed.filter(col("doc_id") >= 150 && col("doc_id") < 300)
      .drop("doc_id")
    val b3 = keyed.filter(col("doc_id") >= 300).drop("doc_id")
      .unionByName(
        keyed.filter(col("doc_id") < 300 && col("doc_id") % 29 === 5)
          .withColumn("text", concat(col("text"), lit(" fresh revision")))
          .drop("doc_id"))
    val union = b1.unionByName(b2).unionByName(b3)
    val labeled = TA.withTokenStats(union, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ukey"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ukey", "label_weak")
    val (merges, dict) = Bpe.train(union, "text", 8)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    // batch ground truth over the SAME delivery boundaries: the stream
    // gates each batch THEN re-ids survivors — replay that exact order
    def gate(d: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingCorpus.qualityGate(d, "text", "ukey",
        model, minTokens = 10).select(d.columns.map(col): _*)
    val (r1, base1) = G.withIngestIds(gate(b1), "ukey")
    val (r2, base2) = G.withIngestIds(gate(b2), "ukey", base = base1)
    val (r3, _) = G.withIngestIds(gate(b3), "ukey", base = base2)
    val P = G.RekeyPolicy.LatestWins
    val (s1, st1) = G.corpusShardsDeltaRekeyed(r1, "text", "ingest_id",
      "ukey", "lang", model, tok, state = None, policy = P,
      minTokens = 10, checkIdOrder = false)
    val (s2, st2) = G.corpusShardsDeltaRekeyed(r2, "text", "ingest_id",
      "ukey", "lang", model, tok, state = Some(st1), policy = P,
      minTokens = 10, checkIdOrder = false)
    val (s3, st3) = G.corpusShardsDeltaRekeyed(r3, "text", "ingest_id",
      "ukey", "lang", model, tok, state = Some(st2), policy = P,
      minTokens = 10, checkIdOrder = false)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val expected = fp(G.corpusShardsRekeyedCompact(
      r1.unionByName(r2).unionByName(r3), "text", "ingest_id", "lang",
      tok, st3, s1.unionByName(s2).unionByName(s3)))
    // the stream: three files, processed as three micro-batches
    val inDir = Files.createTempDirectory("graft-rekey-in").toString
    val outDir = Files.createTempDirectory("graft-rekey-out").toString
    val ckpt = Files.createTempDirectory("graft-rekey-ckpt").toString
    // stage each batch OUTSIDE the watched glob and move it in whole:
    // the continuous trigger lists files as fast as it can, so writing
    // parquet directly into the glob can split one logical batch across
    // two micro-batches (partial listing mid-write) — the rename makes
    // every file of a batch appear atomically
    val stage = Files.createTempDirectory("graft-rekey-stage").toString
    def publish(d: org.apache.spark.sql.DataFrame, name: String): Unit = {
      d.write.parquet(s"$stage/$name")
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$stage/$name"),
        java.nio.file.Paths.get(s"$inDir/$name"))
      ()
    }
    publish(b1, "p1")
    val q = graft.streaming.StreamingCorpus.runCorpusShardsRekeyed(spark,
      s"$inDir/p*", outDir, ckpt, b1.schema, "text", "ukey", "lang",
      model, tok, policy = P, ctxTokens = 256, minTokens = 10)
    try {
      q.processAllAvailable()
      publish(b2, "p2")
      q.processAllAvailable()
      publish(b3, "p3")
      q.processAllAvailable()
    } finally if (q.isActive) q.stop()
    val S = graft.streaming.StreamingCorpus
    val streamState = G.KeyedCorpusShardsState(
      S.readRekeyedKeeperState(spark, outDir).get,
      S.latestShardState(spark, s"$outDir/state").get)
    val emitted = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids"))
    val got = fp(G.corpusShardsRekeyedCompact(
      r1.unionByName(r2).unionByName(r3), "text", "ingest_id", "lang",
      tok, streamState, emitted)).localCheckpoint(true)
    def diff(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): String =
      (a.exceptAll(b).limit(3).collect().map("got-only " + _) ++
        b.exceptAll(a).limit(3).collect().map("want-only " + _))
        .mkString("; ")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "rekeyed stream + compaction diverged from the batch rekeyed " +
        s"loop: ${diff(got, expected)}")
    // the supersession really happened in the STREAM's state
    assert(streamState.keepers.filter(col("kept") && !col("live"))
      .count() > 0, "no supersession recorded — fixture is vacuous")
    // the SUPERSESSION FEED is published per micro-batch
    // (outDir/superseded/batch_id=B) and equals the batch absorbs'
    // by-product union — the wire the persisted-index loop consumes,
    // reachable from a streaming deployment (not only in-process)
    val feedCols = Seq("ukey", "ingest_id", "lang", "superseded_by")
    val streamedFeed = spark.read.parquet(s"$outDir/superseded")
      .select(feedCols.map(col): _*)
    val batchFeed = Seq(st1, st2, st3).map(_.superseded.get)
      .reduce(_ unionByName _).select(feedCols.map(col): _*)
    assert(streamedFeed.count() > 0,
      "no supersession events published — fixture is vacuous")
    assert(streamedFeed.exceptAll(batchFeed).count() == 0 &&
      batchFeed.exceptAll(streamedFeed).count() == 0,
      "the streamed supersession feed diverged from the batch absorbs'")
    // every published feed dir carries the publisher's OWN commit marker
    // (r18): the consumer's cursor advances only past committed batches
    val fsFeed = new org.apache.hadoop.fs.Path(s"$outDir/superseded")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsFeed.listStatus(new org.apache.hadoop.fs.Path(s"$outDir/superseded"))
      .filter(_.getPath.getName.startsWith("batch_id=")).foreach { d =>
        assert(fsFeed.exists(new org.apache.hadoop.fs.Path(d.getPath,
          graft.io.StateDir.CommitMarker)),
          s"feed dir ${d.getPath.getName} has no publisher commit marker")
      }
    // RETRY of the last micro-batch: same versioned ingest base and
    // keeper state → identical replaced outputs
    val batches = new java.io.File(s"$outDir/shards").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
    S.writeRekeyedCorpusShardBatch(gate(b3), batches.last, outDir,
      "text", "ukey", "lang", tok, ctxTokens = 256, salt = "ingest",
      policy = P)
    val streamState2 = G.KeyedCorpusShardsState(
      S.readRekeyedKeeperState(spark, outDir).get,
      S.latestShardState(spark, s"$outDir/state").get)
    val got2 = fp(G.corpusShardsRekeyedCompact(
      r1.unionByName(r2).unionByName(r3), "text", "ingest_id", "lang",
      tok, streamState2,
      spark.read.parquet(s"$outDir/shards")
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          col("token_ids"))))
    // the exactly-once claim proper: the retry must leave the sink
    // IDENTICAL to the pre-retry state (got ≡ expected already held
    // above, so transitively got2 ≡ expected too)
    assert(got2.exceptAll(got).count() == 0 &&
      got.exceptAll(got2).count() == 0,
      s"retried rekeyed micro-batch drifted: ${diff(got2, got)}")
    // COMPACTION POLICY (r16). The pressure the per-batch alert logs is
    // observable from the state, and the fixture's re-crawl crossed it
    val unionR = r1.unionByName(r2).unionByName(r3)
    val fr = G.corpusRekeyedSupersededFractions(streamState2, "lang")
    assert(fr.filter(col("superseded_fraction") > 0).count() > 0,
      "no stream shows supersession pressure — alert would never fire")
    // a threshold ABOVE every stream's pressure compacts NOTHING: the
    // affected streams keep their emitted shards + flushed tails
    // verbatim (the append-only half of the split), diverging from the
    // live replay exactly by the retained stale tokens
    val emittedNow = spark.read.parquet(s"$outDir/shards")
      .select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids"))
    val nothing = fp(G.corpusShardsRekeyedCompact(unionR, "text",
      "ingest_id", "lang", tok, streamState2, emittedNow, 256,
      minSupersededFraction = 1.1)).localCheckpoint(true)
    val verbatim = fp(emittedNow.unionByName(
      graft.ext.Packing.shardTokensFlush(streamState2.shards,
        Seq("lang"), 256)))
    assert(nothing.exceptAll(verbatim).count() == 0 &&
      verbatim.exceptAll(nothing).count() == 0,
      "an above-pressure threshold still rewrote a stream")
    assert(nothing.exceptAll(expected).count() > 0 ||
      expected.exceptAll(nothing).count() > 0,
      "threshold control vacuous: verbatim equals the live replay")
    // COMPACTION-ON-CLOSE: one call stop → flush → tail-only compact →
    // publish; the final sink hash-matches the batch replay
    val closed = fp(S.closeShardsRekeyed(spark, outDir, unionR, "text",
      "lang", tok, ctxTokens = 256)).localCheckpoint(true)
    assert(closed.exceptAll(expected).count() == 0 &&
      expected.exceptAll(closed).count() == 0,
      s"closeShardsRekeyed diverged from the batch replay: " +
        diff(closed, expected))
    // repeated close recomputes from the same state and REPLACES
    // shards_final identically — the threshold-crossing streams compact
    // exactly once however often the close retries
    val closedAgain = fp(S.closeShardsRekeyed(spark, outDir, unionR,
      "text", "lang", tok, ctxTokens = 256))
    assert(closedAgain.exceptAll(closed).count() == 0 &&
      closed.exceptAll(closedAgain).count() == 0,
      "repeated closeShardsRekeyed drifted")
    // and the sink is fenced TERMINAL: a late micro-batch writer refuses
    val eClosed = intercept[IllegalStateException] {
      S.writeRekeyedCorpusShardBatch(gate(b3), 99L, outDir,
        "text", "ukey", "lang", tok, ctxTokens = 256, salt = "ingest",
        policy = P)
    }
    assert(eClosed.getMessage.contains("CLOSED"),
      s"wrong failure mode: ${eClosed.getMessage}")
    // FULL RECRAWL TOPOLOGY, FILES ONLY: a retrieval index maintained
    // purely from the loop's PUBLISHED artifacts — the keepers state
    // (accepted ids → build) and the supersession feed
    // (applySupersessionFeed → retire), which is all a real deployment
    // has — ends bit-equal to a fresh index over the live documents'
    // embeddings after the purging rebuild. The corpus→index wire,
    // end to end, with no in-memory state crossing the boundary.
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    def embOf(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("ingest_id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => pmod(xxhash64(col("ingest_id"), j), lit(1000L))
            .cast("double") / lit(500.0) - lit(1.0)).as("embedding"))
    val pubKeepers = S.readRekeyedKeeperState(spark, outDir).get
    val accepted = pubKeepers.filter(col("kept")).select(col("ingest_id"))
    val idxDir = Files.createTempDirectory("graft-topo-idx").toString
    A.build(graft.ext.Similarity.kmeansBuckets(embOf(accepted), "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", idxDir, dim = 64)
    val (nFeed, nRetired) = SI.applySupersessionFeed(spark, outDir, idxDir)
    val nSuperseded = pubKeepers.filter(col("kept") && !col("live")).count()
    assert(nRetired == nSuperseded && nRetired > 0,
      s"feed apply retired $nRetired of $nSuperseded superseded (feed " +
        s"$nFeed)")
    A.rebuild(spark, idxDir, nBuckets = 8, iters = 2)
    val liveIds = pubKeepers.filter(col("kept") && col("live"))
      .select(col("ingest_id"))
    val freshDir = Files.createTempDirectory("graft-topo-fresh").toString
    val unitLive = embOf(liveIds).select(col("vec_id"),
      graft.ext.Similarity.unitVec(col("embedding")).as("embedding"))
    A.build(graft.ext.Similarity.kmeansBuckets(unitLive, "vec_id",
        "embedding", k = 8, iters = 2, bucketCol = "kb"),
      "vec_id", "embedding", "kb", freshDir, dim = 64)
    val qPanel = embOf(liveIds.orderBy(col("ingest_id")).limit(25)
      .select((col("ingest_id") + 7000000L).as("ingest_id")))
    val servedT = A.search(spark, idxDir, qPanel, "vec_id", "embedding",
      k = 5, nProbe = 2, overfetch = 3, maxBucket = 4096)
    val freshT = A.search(spark, freshDir, qPanel, "vec_id", "embedding",
      k = 5, nProbe = 2, overfetch = 3, maxBucket = 4096)
    assert(servedT.exceptAll(freshT).count() == 0 &&
      freshT.exceptAll(servedT).count() == 0,
      "files-only maintained index diverged from the fresh live index")
  }

  test("closeShardsRekeyed compacts the keeper STATE at close: closed " +
    "state equals the manual compact, a post-close re-open absorb stays " +
    "hash-equal for all three policies, and the in-loop interval knob " +
    "matches") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val G = graft.api.Graft
    val S = graft.streaming.StreamingCorpus
    val allDocs = Tables.documents(spark, TestSpark.sf0001)
      .withColumn("ukey", concat(lit("u-"), col("doc_id").cast("string")))
    val keyed = allDocs.filter(col("doc_id") < 80)
    val m1 = keyed.filter(col("doc_id") < 40).drop("doc_id")
    // batch 2: fresh keys + UNCHANGED re-deliveries (the content-dropped
    // dead rows the retention compaction exists to bound) + one CHANGED
    // re-crawl (the LatestWins supersession)
    val m2 = keyed.filter(col("doc_id") >= 40).drop("doc_id")
      .unionByName(keyed
        .filter(col("doc_id") < 40 && col("doc_id") % 7 === 3)
        .drop("doc_id"))
      .unionByName(keyed.filter(col("doc_id") === 5)
        .withColumn("text", concat(col("text"), lit(" fresh revision")))
        .drop("doc_id"))
    // the post-close re-open delta: fresh keys + one changed re-crawl +
    // one unchanged re-delivery — every policy face over the COMPACTED
    // prior state
    val m3 = allDocs.filter(col("doc_id") >= 80 && col("doc_id") < 100)
      .drop("doc_id")
      .unionByName(keyed.filter(col("doc_id") === 3)
        .withColumn("text", concat(col("text"), lit(" later revision")))
        .drop("doc_id"))
      .unionByName(keyed.filter(col("doc_id") === 10).drop("doc_id"))
    val union = m1.unionByName(m2)
    val labeled = TA.withTokenStats(union, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ukey"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ukey", "label_weak")
    val (merges, dict) = Bpe.train(union, "text", 4)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    def gate(d: org.apache.spark.sql.DataFrame) =
      S.qualityGate(d, "text", "ukey", model, minTokens = 10)
        .select(d.columns.map(col): _*)
    def hash(df: org.apache.spark.sql.DataFrame) = {
      val a = df.select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
      a
    }
    for (policy <- Seq(G.RekeyPolicy.LatestWins, G.RekeyPolicy.FirstWins,
        G.RekeyPolicy.KeepAll)) {
      val outDir = Files.createTempDirectory(
        s"graft-closestate-$policy").toString
      S.writeRekeyedCorpusShardBatch(gate(m1), 0L, outDir, "text",
        "ukey", "lang", tok, 256, "ingest", policy)
      S.writeRekeyedCorpusShardBatch(gate(m2), 1L, outDir, "text",
        "ukey", "lang", tok, 256, "ingest", policy)
      val full = S.readRekeyedKeeperState(spark, outDir).get
        .localCheckpoint(true)
      val fullShards = S.latestShardState(spark, s"$outDir/state").get
        .localCheckpoint(true)
      // the batch-side control chain over the same gated deltas (the
      // loop's deterministic id assignment replayed)
      val (r1, bse1) = G.withIngestIds(gate(m1), "ukey")
      val (r2, bse2) = G.withIngestIds(gate(m2), "ukey", base = bse1)
      val (_, c1) = G.corpusShardsDeltaRekeyed(r1, "text", "ingest_id",
        "ukey", "lang", model, tok, None, policy, minTokens = 10,
        checkIdOrder = false)
      val (_, c2) = G.corpusShardsDeltaRekeyed(r2, "text", "ingest_id",
        "ukey", "lang", model, tok, Some(c1), policy, minTokens = 10,
        checkIdOrder = false)
      S.closeShardsRekeyed(spark, outDir, r1.unionByName(r2), "text",
        "lang", tok, 256)
      // closed state ≡ the manual compact of the pre-close chain
      val closedK = S.readRekeyedKeeperState(spark, outDir).get
      val manual = G.corpusRekeyedStateCompact(
        G.KeyedCorpusShardsState(full, fullShards), "ukey",
        "ingest_id").keepers
      assert(closedK.exceptAll(manual).isEmpty &&
        manual.exceptAll(closedK).isEmpty,
        s"$policy: closed state diverged from the manual compact")
      // the bound bites where dead rows exist: LatestWins/KeepAll carry
      // the unchanged re-deliveries as dead rows (FirstWins key-cuts
      // them before any row is written, so its chain is already tight)
      if (policy != G.RekeyPolicy.FirstWins)
        assert(closedK.count() < full.count(),
          s"$policy: close did not shrink the state " +
            s"(${closedK.count()} vs ${full.count()})")
      // post-close RE-OPEN (the batch absorb shape — the fenced sink
      // refuses stream writers): one more delta over the closed
      // compacted state ≡ the same delta over the full control chain
      val (r3, _) = G.withIngestIds(gate(m3), "ukey", base = bse2)
      val reopened = G.KeyedCorpusShardsState(closedK,
        S.latestShardState(spark, s"$outDir/state").get)
      val (sR, stR) = G.corpusShardsDeltaRekeyed(r3, "text", "ingest_id",
        "ukey", "lang", model, tok, Some(reopened), policy,
        minTokens = 10, checkIdOrder = false)
      val (sC, stCtl) = G.corpusShardsDeltaRekeyed(r3, "text",
        "ingest_id", "ukey", "lang", model, tok, Some(c2), policy,
        minTokens = 10, checkIdOrder = false)
      assert(hash(sR).exceptAll(hash(sC)).isEmpty &&
        hash(sC).exceptAll(hash(sR)).isEmpty,
        s"$policy: re-open absorb shards diverged over compacted state")
      val liveR = stR.keepers.filter(col("kept") && col("live"))
        .select(col("ingest_id"))
      val liveC = stCtl.keepers.filter(col("kept") && col("live"))
        .select(col("ingest_id"))
      assert(liveR.exceptAll(liveC).isEmpty &&
        liveC.exceptAll(liveR).isEmpty,
        s"$policy: re-open absorb live set diverged over compacted state")
      // the IN-LOOP interval knob (LatestWins): a loop compacting state
      // every batch publishes per-batch state ≡ compact(full chain) and
      // identical shard output
      if (policy == G.RekeyPolicy.LatestWins) {
        val outI = Files.createTempDirectory("graft-closestate-intv")
          .toString
        Seq(gate(m1) -> 0L, gate(m2) -> 1L).foreach { case (b, i) =>
          S.writeRekeyedCorpusShardBatch(b, i, outI, "text", "ukey",
            "lang", tok, 256, "ingest", policy,
            stateCompactEveryBatches = 1)
        }
        val kI = S.readRekeyedKeeperState(spark, outI).get
        // the in-loop fold keeps the NEWEST segment unfolded (the retry
        // window), so the view carries batch 1's dead rows — compacting
        // it must land exactly on compact(full chain)
        val kIC = G.corpusRekeyedStateCompact(
          G.KeyedCorpusShardsState(kI, kI), "ukey", "ingest_id").keepers
        assert(kIC.exceptAll(manual).isEmpty &&
          manual.exceptAll(kIC).isEmpty,
          "interval-folded state diverged from compact(full chain)")
        // and the fold really ran: a committed base exists and only the
        // newest segment remains in the log
        val fsI = new org.apache.hadoop.fs.Path(outI)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fsI.exists(new org.apache.hadoop.fs.Path(
          s"$outI/keepersbase/v=0/" +
            graft.io.StateDir.CommitMarker)),
          "interval fold never committed a base")
        assert(!fsI.exists(new org.apache.hadoop.fs.Path(
          s"$outI/keepers/v=0")),
          "interval fold left the folded segment behind")
        val shardsDefault = spark.read.parquet(s"$outDir/shards")
          .filter(col("batch_id") =!= S.FlushBatchId)
        val shardsI = spark.read.parquet(s"$outI/shards")
        assert(hash(shardsI).exceptAll(hash(shardsDefault)).isEmpty &&
          hash(shardsDefault).exceptAll(hash(shardsI)).isEmpty,
          "interval-compacting loop emitted different shards")
      }
    }
  }

  test("legacy keeper-state migration: a pre-r17 full-chain version " +
    "reads as the base, the first segmented batch stacks above it, and " +
    "the first fold retires it into the sidecar") {
    import graft.ext.Bpe
    import spark.implicits._
    val G = graft.api.Graft
    val S = graft.streaming.StreamingCorpus
    val docs1 = Seq(
      ("u-1", "alpha beta gamma delta epsilon", "en"),
      ("u-2", "zeta eta theta iota kappa", "en"),
      ("u-3", "lambda mu nu xi omicron", "fr")).toDF("ukey", "text", "lang")
    val docs2 = Seq(
      ("u-4", "pi rho sigma tau upsilon", "en"),
      ("u-3", "lambda mu nu xi omicron CHANGED", "fr")) // re-crawl
      .toDF("ukey", "text", "lang")
    val (merges, dict) = Bpe.train(docs1.unionByName(docs2), "text", 2)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    val P = G.RekeyPolicy.LatestWins
    val outDir = Files.createTempDirectory("graft-legacymig").toString
    // fabricate the PRE-r17 layout by hand: batch 0's FULL state
    // written unmarked (exactly what the old writer produced), plus the
    // matching shard/ingest states the loop would have committed
    val (r1, b1) = G.withIngestIds(docs1, "ukey", salt = "ingest")
    val (s1, st1) = G.rekeyedCore(r1, "text", "ingest_id", "ukey",
      "lang", tok, None, P, 256, checkIdOrder = false)
    s1.write.mode("overwrite").parquet(s"$outDir/shards/batch_id=0")
    st1.keepers.write.mode("overwrite").parquet(s"$outDir/keepers/v=0")
    st1.shards.write.mode("overwrite").parquet(s"$outDir/state/v=0")
    Seq(b1).toDF("next_base").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/ingest/v=0")
    // the legacy chain reads as the base at its own watermark
    val legacyView = S.readRekeyedKeeperState(spark, outDir).get
    assert(legacyView.count() == 3L)
    // the first SEGMENTED batch absorbs over it: the re-crawled key's
    // old version flips via the override file, not an in-place rewrite
    S.writeRekeyedCorpusShardBatch(docs2, 1L, outDir, "text", "ukey",
      "lang", tok, 256, "ingest", P)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(s"$outDir/keepers/v=1").count() == 2L,
      "the segmented batch must write only its delta")
    // materialized: the fold below deletes this lazy plan's input files
    // (the product paths re-read after folding; a test frame must too)
    val view = S.readRekeyedKeeperState(spark, outDir).get
      .localCheckpoint(true)
    assert(view.count() == 5L)
    val u3 = view.filter(col("ukey") === "u-3" && col("kept"))
      .select(col("ingest_id"), col("live"))
      .orderBy(col("ingest_id")).collect()
    assert(u3.length == 2 && !u3(0).getBoolean(1) && u3(1).getBoolean(1),
      "the legacy base's row must flip via the override, the new " +
        "version must be live")
    // a fold retires the legacy chain into a compacted sidecar base
    S.foldRekeyedKeeperState(spark, outDir, "ukey", includeNewest = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$outDir/keepers/v=0")),
      "the fold must retire the subsumed legacy full chain")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$outDir/keepersbase/v=0/" +
        graft.io.StateDir.CommitMarker)))
    val folded = S.readRekeyedKeeperState(spark, outDir).get
    assert(folded.exceptAll(view).isEmpty && view.exceptAll(folded)
      .isEmpty,
      "the fold changed the view (the tiny fixture has no dead rows " +
        "for the compaction to drop)")
  }

  test("digest keeper segments: the unkeyed loop writes delta-only " +
    "digest sets, the fold collapses them, and dedup keeps dropping " +
    "across the fold") {
    import graft.ext.Bpe
    import spark.implicits._
    val S = graft.streaming.StreamingCorpus
    val docs1 = Seq(
      (1L, "alpha beta gamma delta epsilon", "en"),
      (2L, "zeta eta theta iota kappa", "en"),
      (3L, "lambda mu nu xi omicron", "fr")).toDF("doc_id", "text", "lang")
    val docs2 = Seq(
      (4L, "pi rho sigma tau upsilon", "en"),
      (5L, "alpha beta gamma delta epsilon", "en"), // dup of doc 1
      (6L, "phi chi psi omega alef", "fr")).toDF("doc_id", "text", "lang")
    val docs3 = Seq(
      (7L, "zeta eta theta iota kappa", "fr"), // dup of doc 2, post-fold
      (8L, "bet gimel dalet he vav", "en")).toDF("doc_id", "text", "lang")
    val (merges, dict) = Bpe.train(docs1.unionByName(docs2), "text", 2)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    val outDir = Files.createTempDirectory("graft-digseg").toString
    // fold every 2 batches: batch 1 triggers it
    S.writeCorpusShardBatch(docs1, 0L, outDir, "text", "doc_id", "lang",
      tok, 8, keeperFoldEveryBatches = 2)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // segment v=0 holds ONLY batch 0's digests (3 rows, delta-sized)
    assert(spark.read.parquet(s"$outDir/keepers/v=0").count() == 3L)
    S.writeCorpusShardBatch(docs2, 1L, outDir, "text", "doc_id", "lang",
      tok, 8, keeperFoldEveryBatches = 2)
    // the dup inside batch 1 was dropped against segment state BEFORE
    // the fold; the fold then collapsed segment v=0 into the base
    // (newest segment v=1 kept — the retry window)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$outDir/keepersbase/v=0/" +
        graft.io.StateDir.CommitMarker)),
      "digest fold never committed a base")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$outDir/keepers/v=0")), "digest fold left the folded segment")
    assert(spark.read.parquet(s"$outDir/keepers/v=1").count() == 2L,
      "batch 1's segment must hold only its NEW digests (dup dropped)")
    // post-fold dedup: batch 2 re-delivers doc 2's content (now in the
    // BASE) — it must still drop, and the fresh doc enters
    S.writeCorpusShardBatch(docs3, 2L, outDir, "text", "doc_id", "lang",
      tok, 8, keeperFoldEveryBatches = 2)
    assert(spark.read.parquet(s"$outDir/keepers/v=2").count() == 1L,
      "a digest folded into the base was re-admitted")
    val view = S.readRekeyedKeeperState(spark, outDir).get
    assert(view.count() == 6L && view.distinct().count() == 6L,
      "digest view must be the exact distinct keeper set")
  }

  test("closeShards fences the sink TERMINAL: every micro-batch writer " +
    "refuses to write past the close marker") {
    import graft.ext.Bpe
    import spark.implicits._
    // tiny corpus: only the tokenizer matters — the writers under test
    // are exactly the foreachBatch bodies of runShards/runCorpusShards
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon"),
      (2L, "en", "zeta eta theta iota kappa"),
      (3L, "de", "lambda mu nu xi omicron"))
      .toDF("doc_id", "lang", "text")
    val (merges, dict) = Bpe.train(docs, "text", 2)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    val outDir = Files.createTempDirectory("graft-closed-out").toString
    val S = graft.streaming.StreamingCorpus
    S.writeShardBatch(docs.filter(col("doc_id") < 3), 0L,
      s"$outDir/shards", s"$outDir/state", "text", "doc_id", "lang",
      tok, ctxTokens = 8)
    graft.api.Graft.closeShards(spark, outDir, "lang", ctxTokens = 8)
    // the sink is now terminal: BOTH writer shapes fail loudly, and
    // nothing lands (the restarted stream's foreachBatch would carry
    // this exact error into the query failure)
    val e1 = intercept[IllegalStateException] {
      S.writeShardBatch(docs.filter(col("doc_id") === 3), 1L,
        s"$outDir/shards", s"$outDir/state", "text", "doc_id", "lang",
        tok, ctxTokens = 8)
    }
    assert(e1.getMessage.contains("CLOSED"),
      s"wrong failure mode: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] {
      S.writeCorpusShardBatch(docs.filter(col("doc_id") === 3), 1L,
        outDir, "text", "doc_id", "lang", tok, ctxTokens = 8)
    }
    assert(e2.getMessage.contains("CLOSED"))
    assert(!new java.io.File(s"$outDir/shards/batch_id=1").exists(),
      "a refused post-close batch must write nothing")
    // a RETRIED close stays idempotent (marker + flush are overwrite)
    val again = graft.api.Graft.closeShards(spark, outDir, "lang",
      ctxTokens = 8)
    assert(again.count() ==
      spark.read.parquet(s"$outDir/shards")
        .filter(col("batch_id") === S.FlushBatchId).count())
    // the marker is invisible to consumers: the shards read still works
    assert(spark.read.parquet(s"$outDir/shards").count() > 0)
  }

  test("flushShards/closeShards with NO state: typed empty shard frame, " +
    "so the unionByName consumer pattern contributes zero rows") {
    val outDir = Files.createTempDirectory("graft-nostate-out").toString
    val flushed = graft.streaming.StreamingCorpus.flushShards(spark,
      outDir, "lang", ctxTokens = 256)
    assert(flushed.columns.toSeq ==
      Seq("lang", "shard_id", "n_tokens", "token_ids"))
    assert(flushed.count() == 0)
    // the documented consumer pattern must not throw on the empty case
    import spark.implicits._
    val someShards = Seq(("en", 0L, 2L, Seq(1, 2)))
      .toDF("lang", "shard_id", "n_tokens", "token_ids")
    assert(someShards.unionByName(flushed).count() == 1)
    // closeShards on a never-started job publishes an empty (but
    // readable) tail set rather than throwing
    val published = graft.streaming.StreamingCorpus.closeShards(spark,
      outDir, "lang", ctxTokens = 256)
    assert(published.count() == 0)
  }

  test("token-id export boots ENTIRELY from disk artifacts: persisted " +
    "NB model + persisted tokenizer, zero training at boot") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val docsAll = Tables.documents(spark, TestSpark.sf0001)
    val labeled = TA.withTokenStats(docsAll, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (merges, dict) = Bpe.train(docsAll, "text", 8)
    // the offline half: persist BOTH artifacts
    val modelDir = Files.createTempDirectory("graft-art-nb").toString
    val tokDir = Files.createTempDirectory("graft-art-tok").toString
    NbClassifier.save(spark, model, modelDir)
    Bpe.save(merges, dict, tokDir)
    // batch expectation under the LIVE pair
    val gated = graft.streaming.StreamingCorpus.qualityGate(
      docsAll, "text", "doc_id", model, minTokens = 10)
    val expected = Bpe.encodeIds(gated, "text", "doc_id", dict)
      .select(col("doc_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    // the serving half: a "restarted job" that holds only directory
    // paths — no live model, no live dict, no training corpus
    val inDir = Files.createTempDirectory("graft-art-in").toString
    val outDir = Files.createTempDirectory("graft-art-out").toString
    val ckpt = Files.createTempDirectory("graft-art-ckpt").toString
    docsAll.filter(col("doc_id") % 2 === 0).write.parquet(s"$inDir/p1")
    val q = graft.streaming.StreamingCorpus.runEncodeIdsFromArtifacts(
      spark, s"$inDir/p*", outDir, ckpt, docsAll.schema, "text", "doc_id",
      modelDir, tokDir, minTokens = 10)
    try {
      q.processAllAvailable()
      docsAll.filter(col("doc_id") % 2 === 1).write.parquet(s"$inDir/p2")
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select(col("doc_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids"))
      assert(got.exceptAll(expected).count() == 0 &&
        expected.exceptAll(got).count() == 0,
        "artifact-booted export diverged from the live batch encoder")
    } finally q.stop()
  }
}
