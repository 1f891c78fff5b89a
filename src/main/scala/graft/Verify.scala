package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * in name order, plus oracle_sql.json, for the DuckDB compare. Each query
  * runs in its own [[graft.ext.CacheScope]]. A failed query
  * is logged, every other result and oracle_sql.json are still written,
  * then the failed names print on one line and the exit code is 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // dev-only filter (comma-separated names); driver sets nothing → all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name))).foreach { name =>
        // the write materializes inside the query's CacheScope, which then
        // releases every cache the query registered (the MlQueries memo's
        // frames are plain caches, so they outlive it)
        try graft.ext.CacheScope.scoped(SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED ${failed.size}: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped, losslessly — a tab or CR in query SQL or an error message
    * would otherwise make the JSON unparseable. Bench's output uses it too.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
