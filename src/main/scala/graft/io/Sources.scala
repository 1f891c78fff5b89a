package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.types.StructType

/** Readers for every source format the reference consumes, Spark-first.
  *
  * Reference coverage (SURVEY.md §2.1):
  *  - S1/S2 CSV scan: `data_ingestion.py:59,74-104`. The reference folds 168
  *    per-file reads with `union`; a single multi-file `spark.read.csv(dir)`
  *    already parallelizes across files and avoids 168 plan nodes.
  *  - S3/S4 Parquet scan (+glob): `data_preprocessing.py:97` et al.
  *  - S5 Excel side-load: `data_preprocessing.py:57-64` — offline we ship the
  *    dim table as CSV/Parquet with an explicit schema (same 17,520-row
  *    contents), which is behaviorally identical once it is a DataFrame.
  *  - S6-S8, S10-S11 sinks: see [[Writers]].
  */
object Sources {

  /** CSV with an explicit schema — never `inferSchema` (that is a full extra
    * pass over the input, `data_ingestion.py:59`; see SURVEY.md §4).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).schema(schema)
      .csv(expandGlob(spark, path): _*)

  /** The paths a glob such as `csv/block_*.csv` matches (Spark expands
    * it to the same paths), or `path` itself when it matches nothing, so
    * the read still fails with "Path does not exist". Handed one glob,
    * Spark looks for a streaming sink's `_spark_metadata` under it and
    * logs a `FileNotFoundException` stack trace on every read. Spark globs
    * each path it is handed again, so a match's own glob characters (as in
    * `block_[1].csv`) are escaped to stand for themselves.
    */
  private def expandGlob(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val matched = Option(p.getFileSystem(spark.sessionState.newHadoopConf())
      .globStatus(p)).getOrElse(Array.empty)
    if (matched.isEmpty) Seq(path)
    else matched.map(_.getPath.toString.replaceAll("""([{}\[\]*?\\])""",
      """\\$1""")).toSeq
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON-lines with an explicit schema (schema inference on JSON is a full
    * scan, same trap as CSV).
    */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw text-lines source: one row per line (`value`) — the ingest path
    * for raw corpus dumps before any schema exists.
    */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Binary-file source — the standard multimodal ingest path: one row per
    * file with (path, modificationTime, length, content). The glob prunes
    * at listing time, BEFORE any bytes are read; pair with
    * `spark.sql.files.maxPartitionBytes` so one task doesn't swallow a
    * directory of large media files.
    */
  def binaryFiles(spark: SparkSession, path: String,
                  glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(path)
}

/** One accessor per driver testdata table (TESTDATA.md). */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Schema-adaptive read of `events` — `ts` has shipped as BOTH parquet
    * TIMESTAMP(NANOS) (older fixtures) and TIMESTAMP(MICROS, tz=naive)
    * (current fixtures), so we dispatch on what the file ACTUALLY contains
    * instead of hard-coding either era:
    *
    *  - NANOS: Spark has no native type for it — read as raw longs (legacy
    *    conf) and integer-divide down to a micros TIMESTAMP_NTZ. `div` not
    *    `/`: nanos exceed 2^53, double division would lose micros.
    *  - MICROS (naive): Spark reads TIMESTAMP_NTZ natively — pass through.
    *  - MICROS (instant, tz=UTC): reads as TIMESTAMP — cast to NTZ (the
    *    session runs in UTC, so the cast is a re-label, matching DuckDB's
    *    naive read of the same file).
    *
    * The NANOS case needs `spark.sql.legacy.parquet.nanosAsLong` set
    * BEFORE schema resolution (the file throws PARQUET_TYPE_ILLEGAL
    * otherwise, so the dispatch could never see LongType) — and the scan
    * re-consults the conf lazily at action time, so save-and-restore on
    * the caller's session would be WRONG. Containment: the caller's
    * session is NEVER mutated. Schema resolution is first attempted with
    * the caller's own conf (micros eras and raw-BIGINT ScaleGen output —
    * every current fixture — resolve cleanly, zero side effect); only a
    * genuinely NANOS-annotated file falls back to a memoized child
    * session (`spark.newSession()`, one per caller session) that carries
    * the legacy conf for its whole lifetime, so the lazy conf re-reads
    * stay consistent without ever touching the parent. The returned frame
    * then rides the child session — fine for DataFrame composition with
    * parent frames (the scan captures its own session), but
    * `createOrReplaceTempView` on it would land in the CHILD catalog;
    * SQL-first users on a legacy nanos fixture should run against the
    * frame, not a view.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    def shim(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampNTZType => raw
      case TimestampType =>
        raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other =>
        throw new IllegalStateException(
          s"events.ts read back as unsupported type $other — expected " +
            "parquet TIMESTAMP(NANOS) (as BIGINT via nanosAsLong), " +
            "TIMESTAMP_NTZ, or TIMESTAMP")
    }
    // Dataset creation analyzes eagerly, so the PARQUET_TYPE_ILLEGAL from
    // a NANOS file throws from the read call itself — wrap the whole probe
    val raw =
      try { val r = t(spark, dir, "events"); r.schema; Some(r) }
      catch {
        case e: Exception
          if String.valueOf(e.getMessage).contains("NANOS") &&
            String.valueOf(e.getMessage).toLowerCase.contains("parquet") =>
          None
      }
    raw match {
      case Some(r) => shim(r)
      case None =>
        shim(t(nanosSessions.computeIfAbsent(spark, newNanosSession), dir,
          "events"))
    }
  }

  /** One legacy-conf child session per caller session (weak keys — a
    * stopped parent drops its entry). The child inherits the parent's
    * BUILDER-time confs (timezone, shuffle partitions, AQE) via
    * `newSession()`; runtime-set confs do not carry over, which is exactly
    * the isolation wanted here.
    */
  private val nanosSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())
  private val newNanosSession =
    new java.util.function.Function[SparkSession, SparkSession] {
      def apply(parent: SparkSession): SparkSession = {
        val c = parent.newSession()
        c.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        c
      }
    }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}

/** Sinks (SURVEY.md §2.1 S6-S8, S10-S11 + §2.11 X1-X2 writer policies).
  *
  * The reference's partition counts (`coalesce(4)`,
  * `repartition(max(20, n/50000))`, `forecasting_model.py:547`,
  * `anomaly_detection.py:159-163`) are writer-side file-sizing policies; we
  * keep them as options, defaulting to AQE-coalesced output.
  */
object Writers {

  /** S6/S7: Parquet, overwrite, snappy (Spark's default codec). */
  def parquet(df: DataFrame, path: String, numFiles: Option[Int] = None): Unit = {
    val out = numFiles.fold(df)(n => df.coalesce(n))
    out.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** S8/S11: CSV with header (the reference's fallback sink,
    * `forecasting_model.py:554`; gzip per `merge_csv_for_mongodb.py:151`).
    */
  def csv(df: DataFrame, path: String, gzip: Boolean = false): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("header", "true")
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }

  /** Document-shaped export — the data contract of the reference's
    * MongoDB ingest (`merge_csv_for_mongodb.py:162-234` builds per-row
    * documents and inserts them) without the driver dependency SURVEY
    * §2.1 excludes: one JSON object per line, optionally gzipped, which
    * `mongoimport`, object-store loaders, and line-oriented tooling
    * consume directly. Spark's json writer streams row-by-row per
    * partition — no driver-side document building.
    */
  def jsonLines(df: DataFrame, path: String, gzip: Boolean = false): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** Date-partitioned parquet layout (SURVEY.md §4): time-range filters
    * then prune whole files/directories at plan time (`PartitionFilters`),
    * which is the difference between scanning a day and scanning 100 TB for
    * the reference's chronological train/test splits.
    */
  def parquetPartitioned(df: DataFrame, path: String,
                         partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table layout: pre-shuffles on the join/agg key at write time
    * so repeated joins/aggregations on that key skip their Exchange
    * entirely (SURVEY.md §7 "co-located joins via bucketing").
    */
  def bucketedTable(df: DataFrame, table: String, path: String,
                    bucketCol: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** Range-sorted parquet layout — the data-skipping write pattern for
    * non-partition-key predicates: repartitionByRange gives each output
    * file a DISJOINT key range, and the within-partition sort tightens
    * per-row-group min/max stats, so a point/range filter on the sort key
    * prunes whole files and row groups at scan time (parquet footer
    * stats). At 100 TB this is the difference between touching one file
    * and touching all of them for a "one household" query — without the
    * directory explosion high-cardinality `partitionBy` would cause.
    */
  def rangeSortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
                         numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** S14: small text sink (model metadata, manifests) through the Hadoop
    * FileSystem API so the file lands next to the tables for ANY path
    * scheme (local, hdfs://, s3a://…) — local java.nio would silently
    * write a URI-shaped local path.
    */
  def textFile(spark: SparkSession, path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** S10: head-sample CSV export (`convert_to_csv.py:62-76` reads one
    * part-file and takes 10k rows; the distributed form is an ordered
    * limit — TakeOrderedAndProject, no full collect).
    */
  def sampleCsv(df: DataFrame, path: String, n: Int = 10000,
                orderCol: Option[String] = None): Unit = {
    val lim = orderCol.fold(df.limit(n))(c =>
      df.orderBy(org.apache.spark.sql.functions.col(c)).limit(n))
    csv(lim.coalesce(1), path)
  }

  /** Small-files compaction — the table-maintenance pass every long-lived
    * dataset needs: streaming/micro-batch sinks and over-parallel writers
    * leave thousands of KB-sized files whose per-file open + footer-read
    * cost comes to dominate scan time. Sizes the output by ACTUAL input
    * bytes (⌈total / targetFileBytes⌉ files) and rewrites with a
    * round-robin repartition, so output files are evenly sized regardless
    * of how skewed the input layout was. The file-size listing is a
    * driver-side loop over FILE METADATA only — O(#files), which is
    * exactly the quantity being compacted away, and the same listing the
    * scan itself performs. Returns the output file count.
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0,
      s"targetFileBytes=$targetFileBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    // overlap guard on FULLY-QUALIFIED paths: a raw string compare lets
    // "/t/" vs "/t", "./t" vs "t", or "file:/t" vs "/t" through, and
    // SaveMode.Overwrite would then delete the files the lazy read is
    // still streaming. Nesting either way is just as destructive.
    val inP = new org.apache.hadoop.fs.Path(inPath)
    val inFs = inP.getFileSystem(conf)
    val inQ = inFs.makeQualified(inP).toString
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val outQ = outP.getFileSystem(conf).makeQualified(outP).toString
    require(outQ != inQ && !outQ.startsWith(inQ + "/") &&
      !inQ.startsWith(outQ + "/"),
      s"output $outQ overlaps input $inQ — in-place compaction would " +
        "overwrite the files being read")
    val df = spark.read.parquet(inPath)
    // ONE recursive metadata RPC for the byte total — a per-file
    // getFileStatus loop would pay N round-trips over exactly the
    // thousands of tiny files this pass exists to eliminate
    val totalBytes = inFs.getContentSummary(inP).getLength
    val n = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
    require(n <= Int.MaxValue,
      s"$n output files from $totalBytes bytes at $targetFileBytes/file — " +
        "raise targetFileBytes")
    df.repartition(n.toInt).write.mode(SaveMode.Overwrite).parquet(outPath)
    n.toInt
  }
}
