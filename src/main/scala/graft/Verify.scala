package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    new java.io.File(outDir).mkdirs()
    // dev-only filter (comma-separated names); driver sets nothing → all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // sorted with the memoized ML pair last (same as Bench) so the cache
    // clearing below never lands between the pair's two halves
    val (mlQs, plainQs) = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .partition(_._1.startsWith("q_ml_"))
    var mlStarted = false
    (plainQs ++ mlQs).foreach { case (name, fn) =>
      // same cache isolation as Bench: operators cache internal frames
      // they cannot unpersist, and ~90 queries of accumulated entries
      // would churn storage memory at higher SF. One extra clear runs
      // BEFORE the first ML query (so the last plain query's caches don't
      // pin storage through model training); none between the memoized ML
      // pair's halves (that would retrain the model).
      val isMl = name.startsWith("q_ml_")
      if (!isMl || !mlStarted) spark.catalog.clearCache()
      mlStarted |= isMl
      // CacheScope: the write materializes inside the scope, then the
      // operators' internal caches are released — the scoped-lifecycle
      // pattern for many-corpora sessions (the clearCache above stays as
      // the backstop for query-layer caches the scope doesn't own).
      // ML pair excluded: its memoized frames must outlive the first query.
      def run(): Unit =
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      if (isMl) run() else graft.ext.CacheScope.scoped(run())
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
