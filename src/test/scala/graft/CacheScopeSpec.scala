package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.{CacheScope, Dedup}

/** Scoped cache lifecycle (VERDICT r5 item 5): operator-internal caches
  * registered inside `CacheScope.scoped` are GONE when the scope closes.
  */
class CacheScopeSpec extends SparkSpec {

  private def entries: Int =
    org.apache.spark.sql.graft.CacheProbe.numCachedEntries(spark)

  test("scoped dedup pass releases its internal caches on exit") {
    spark.catalog.clearCache()
    assert(entries == 0)
    val docs = graft.io.Tables.documents(spark, TestSpark.sf0001)
    var inside = -1
    val n = CacheScope.scoped {
      val pairs = Dedup.ngramJaccardPairs(
        docs.select(col("doc_id"), col("text"), col("lang")),
        "text", "doc_id", Seq("lang"), threshold = 0.8)
      val c = pairs.count() // materialize INSIDE the scope
      inside = entries
      c
    }
    assert(n >= 0)
    assert(inside > 0, "operator registered no caches — test is vacuous")
    assert(entries == 0,
      s"$entries cache entries survived the scope — lifecycle leak")
  }

  test("nested scopes: inner releases only its own registrations") {
    spark.catalog.clearCache()
    import spark.implicits._
    val outerDf = Seq(1, 2, 3).toDF("a")
    CacheScope.scoped {
      CacheScope.cache(outerDf).count()
      val before = entries
      CacheScope.scoped {
        val innerDf = Seq(4, 5).toDF("b")
        CacheScope.cache(innerDf).count()
        assert(entries == before + 1)
      }
      assert(entries == before, "inner scope did not release its entry")
      assert(outerDf.storageLevel != StorageLevel.NONE,
        "inner scope wrongly released the outer scope's entry")
    }
    assert(outerDf.storageLevel == StorageLevel.NONE)
    assert(entries == 0)
  }

  test("nested scopes: a plan the outer scope also registered survives " +
      "the inner exit (cache registry is plan-keyed)") {
    spark.catalog.clearCache()
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("a")
    CacheScope.scoped {
      CacheScope.cache(df).count()
      CacheScope.scoped {
        // SAME logical plan, registered again by the inner scope — Spark's
        // registry holds ONE entry for it; the inner exit must not evict
        // the outer scope's claim
        CacheScope.cache(Seq(1, 2, 3).toDF("a")).count()
      }
      assert(df.storageLevel != StorageLevel.NONE,
        "inner scope evicted a plan the outer scope still owns")
    }
    assert(df.storageLevel == StorageLevel.NONE)
    assert(entries == 0)
  }

  test("outside any scope, scopedCache keeps the session-LRU default") {
    spark.catalog.clearCache()
    import spark.implicits._
    val df = Seq(1, 2).toDF("a")
    CacheScope.cache(df).count()
    assert(df.storageLevel != StorageLevel.NONE,
      "no-scope registration must still cache")
    df.unpersist(blocking = true)
  }

  test("scope releases on exception too") {
    spark.catalog.clearCache()
    import spark.implicits._
    val df = Seq(1, 2).toDF("a")
    intercept[RuntimeException] {
      CacheScope.scoped {
        CacheScope.cache(df).count()
        throw new RuntimeException("boom")
      }
    }
    assert(df.storageLevel == StorageLevel.NONE)
    assert(entries == 0)
  }

  test("cross-thread: un-adopted worker-thread cache falls back to " +
      "session-LRU (documented gap, warned, never mis-released)") {
    spark.catalog.clearCache()
    import spark.implicits._
    @volatile var escaped: org.apache.spark.sql.DataFrame = null
    CacheScope.scoped {
      val t = new Thread(() => {
        escaped = CacheScope.cache(Seq(9, 9).toDF("z"))
        escaped.count(): Unit
      })
      t.start(); t.join()
    }
    // the scope must NOT have claimed (and released) a registration it
    // never saw — the worker's cache stays registered until unpersisted
    assert(escaped.storageLevel != StorageLevel.NONE,
      "scope released a cache registered on a foreign thread")
    escaped.unpersist(blocking = true)
  }

  test("multi-corpus session soak: storage returns to baseline after " +
      "every scoped pass") {
    // the 100 TB session pattern CacheScope exists for: N sequential
    // corpora through the dedup + ANN families under one SparkSession,
    // storage memory drained between corpora — distinct plans per pass,
    // so a leak would ACCUMULATE ten corpora of cached signatures/codes
    spark.catalog.clearCache()
    assert(entries == 0)
    val docs = graft.io.Tables.documents(spark, TestSpark.sf0001)
    val emb = graft.io.Tables.embeddings(spark, TestSpark.sf0001)
    def storageBytes: Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    for (pass <- 0 until 10) {
      var peak = 0
      val n = CacheScope.scoped {
        val corpus = docs.filter(col("doc_id") % 10 === pass)
        val dd = Dedup.minHashLsh(corpus, "text", "doc_id").count()
        val ann = graft.ext.Similarity.sq8TopK(
          emb.filter(col("vec_id") % 10 === pass),
          "vec_id", "embedding", "label", k = 2).count()
        peak = entries
        dd + ann
      }
      assert(n >= 0)
      assert(peak > 0, s"pass $pass registered no caches — soak is vacuous")
      // unpersist is async (blocking=false): poll to baseline. The gc
      // nudge is for localCheckpoint blocks other suites' state objects
      // may still pin until driver GC (their documented lifecycle:
      // ContextCleaner unpersists once the state is unreachable) — a
      // REFERENCED leak still fails, GC cannot collect what CacheScope
      // should have dropped.
      val deadline = System.currentTimeMillis + 30000
      while ((entries != 0 || storageBytes != 0) &&
        System.currentTimeMillis < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(entries == 0, s"pass $pass leaked $entries cache entries")
      assert(storageBytes == 0,
        s"pass $pass left $storageBytes bytes in storage memory")
    }
  }
}
