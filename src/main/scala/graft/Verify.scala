package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare. A failed query
  * is logged, every other result and oracle_sql.json are still written,
  * then the failed names print on one line and the exit code is 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    new java.io.File(outDir).mkdirs()
    // dev-only filter (comma-separated names); driver sets nothing → all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.runOrder(SparkEntry.queries.keys
        .filter(name => only.forall(_.contains(name)))).foreach {
      case (name, clear) =>
        if (clear) spark.catalog.clearCache()
        // CacheScope: the write materializes inside the scope, then the
        // operators' internal caches are released — the scoped-lifecycle
        // pattern for many-corpora sessions (the clearCache above stays as
        // the backstop for query-layer caches the scope doesn't own).
        // ML pair excluded: its memoized frames must outlive the first query.
        def run(): Unit =
          try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[verify] $name failed: " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        if (name.startsWith("q_ml_")) run() else graft.ext.CacheScope.scoped(run())
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
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED ${failed.size}: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
