package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize an N× scale-up of a testdata directory by
  * union-with-remap, preserving each table's problem STRUCTURE — the input
  * for the scaling-exponent study (SCALING.md). Usage:
  *
  *   ScaleGen <srcDir> <outDir> <factor> [tables]
  *
  * `tables` (optional, comma-separated) restricts generation to a subset —
  * e.g. `documents` for the 100× dedup probe, where scaling lineitem 100×
  * would burn disk for tables the probe never reads.
  *
  * Scaling model per table (copy 0 is the untouched original):
  *  - `events`: key-space scaling — event_id and user_id offset per copy,
  *    so user count grows N× with per-user history unchanged (the "more
  *    users, same window" growth a production stream sees). `ts` keeps
  *    whatever temporal encoding the source era shipped (int64 nanos under
  *    `nanosAsLong`, or native micros) — `Tables.events` dispatches on the
  *    read schema either way, so the scaled directory reads like the
  *    fixture.
  *  - `documents`: doc_id offset per copy; every token of a copied text is
  *    prefixed `c<copy>_`, a BIJECTION on shingles/tokens — intra-copy
  *    duplicate/near-dup structure (Jaccard values, signature collisions)
  *    is preserved exactly while cross-copy shingle overlap is ZERO, so
  *    near-dup pair density stays constant instead of exploding
  *    quadratically on identical copies. `n_chars` keeps the original
  *    value (length-band bucketing stays aligned across scales).
  *  - `orders`/`lineitem`: o_orderkey/l_orderkey share one offset (joins
  *    stay consistent), o_custkey aligns with the scaled customer keys;
  *    l_partkey is NOT remapped — the part catalog is a fixed dimension,
  *    so basket count grows N× over the same catalog (co-purchase graphs
  *    densify, the realistic model for fact-over-dim growth).
  *  - `customer`: c_custkey offset (matches orders).
  *  - `embeddings`: vec_id offset per copy; copies beyond the first get a
  *    per-copy signed dimension permutation (orthogonal — within-copy
  *    cosine structure exact, cross-copy scrambled) with `label` kept, so
  *    IVF cell population grows N× without near-dup cliques forming.
  *  - dims: copied unchanged.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1, s"factor=$factor")
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.Engine.session(
      confs = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    def raw(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name x$factor written")
    }
    def scaled(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => remap(df, c)).reduce(_.union(_))

    // offsets: one past the source max, so copies never collide. Cast to
    // long (an int-typed key column would throw on getLong) and refuse an
    // empty table (max = null would NPE into a meaningless offset).
    def maxOf(df: DataFrame, c: String): Long = {
      val r = df.agg(max(col(c).cast("long"))).head
      require(!r.isNullAt(0), s"cannot scale empty table: max($c) is null")
      r.getLong(0) + 1
    }

    if (want("events")) {
      val ev = raw("events")
      val (evOff, userOff) = (maxOf(ev, "event_id"), maxOf(ev, "user_id"))
      write(scaled(ev) { (d, c) =>
        d.withColumn("event_id", col("event_id") + lit(c * evOff))
          .withColumn("user_id", col("user_id") + lit(c * userOff))
      }, "events")
    }

    if (want("documents")) {
    val docs = raw("documents")
    val docOff = maxOf(docs, "doc_id")
    // the prefix bijection is only collision-free against a corpus with no
    // pre-existing c<k>_ tokens — a source token "c1_foo" would equal copy
    // 1's remap of "foo", silently re-creating cross-copy shingle overlap
    // and invalidating every scaling curve built on this data.
    // NOTE the (^|\s) anchor assumes the repo's \s+ tokenizers — a consumer
    // tokenizing on punctuation could still see a collision this check
    // misses (e.g. ".c1_foo"); acceptable while every tokenizer in
    // ext/TextAnalysis and ext/Dedup splits on whitespace only
    // (?i): several consumers (simhash, fingerprint, drift) lowercase
    // before tokenizing, so an UPPERCASE "C1_foo" source token would
    // collide after lower() even though the raw-text check missed it
    val collisions = docs
      .filter(col("text").rlike("(?i)(^|\\s)c[0-9]+_")).count()
    require(collisions == 0,
      s"$collisions source documents contain c<k>_ tokens — the copy-" +
        "prefix remap would collide; choose a different prefix scheme")
    write(scaled(docs) { (d, c) =>
      val remapped = d.withColumn("doc_id", col("doc_id") + lit(c * docOff))
      if (c == 0) remapped
      else remapped.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1"))
    }, "documents")
    }

    if (want("orders") || want("lineitem") || want("customer")) {
      val orders = raw("orders")
      val lineitem = raw("lineitem")
      val customer = raw("customer")
      val okOff = maxOf(orders, "o_orderkey")
      val custOff = maxOf(customer, "c_custkey")
      if (want("orders")) write(scaled(orders) { (d, c) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(c * okOff))
          .withColumn("o_custkey", col("o_custkey") + lit(c * custOff))
      }, "orders")
      if (want("lineitem")) write(scaled(lineitem) { (d, c) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(c * okOff))
      }, "lineitem")
      if (want("customer")) write(scaled(customer) { (d, c) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(c * custOff))
      }, "customer")
    }

    // embeddings: key-offset copies under a per-copy SIGNED PERMUTATION of
    // the dimensions (an orthogonal transform): within-copy inner products
    // — and therefore every cosine, near-dup pair, IVF cell geometry, and
    // SQ8 code structure — are preserved exactly (same products, reordered
    // summation), while cross-copy cosines are scrambled so copies do not
    // collapse into trivial near-dup cliques. `label` is kept, so coarse
    // cells grow N× in population — exactly the hot-bucket stress the
    // capPerBucket guard and the ANN scaling curves are meant to measure.
    // Signs/offsets only need generation-determinism (the oracle reads the
    // same parquet), so Spark's hash() is fine here.
    if (want("embeddings")) {
      val emb = raw("embeddings")
      val vecOff = maxOf(emb, "vec_id")
      // rectangularity guard: a varying or null dimension would silently
      // truncate/null-pad rotated copies and corrupt every ANN curve
      val dims = emb.agg(min(size(col("embedding"))),
        max(size(col("embedding")))).head
      require(!dims.isNullAt(0) && dims.getInt(0) == dims.getInt(1),
        s"embeddings must be rectangular non-null to rotate, got " +
          s"dims [${dims.get(0)}, ${dims.get(1)}]")
      val dim = dims.getInt(0)
      write(scaled(emb) { (d, c) =>
        val remapped = d.withColumn("vec_id", col("vec_id") + lit(c * vecOff))
        if (c == 0) remapped
        else remapped.withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)), i => {
            val src = pmod(i + lit(c * 7), lit(dim)).cast("int")
            val sgn = when(pmod(hash(i, lit(c)), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))
            (element_at(col("embedding"), src + 1) * sgn).cast("float")
          }))
      }, "embeddings")
    }

    Seq("supplier", "part", "nation", "region").filter(want)
      .foreach(n => write(raw(n), n))
    spark.stop()
  }
}
