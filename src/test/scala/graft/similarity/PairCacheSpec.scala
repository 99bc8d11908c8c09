package graft.similarity

import graft.SparkSpecBase
import org.apache.spark.storage.StorageLevel

/** Cross-operator reuse of the routed near-dup pair stream
  * ([[Similarity.cosineNearDupPairsCached]]) — the q70→q84 pipeline
  * shape: near-dup reporting and semantic-purge clustering share one
  * candidate-generation + verify pass instead of paying it twice. */
class PairCacheSpec extends SparkSpecBase {
  import spark.implicits._

  private def emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("cached pair stream: second call reuses the SAME persisted frame") {
    Similarity.pairMemo.clear()
    val a = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.4)
    val b = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.4)
    // identity, not equality: a hit returns the memoized frame itself,
    // so the second consumer's job reads the persisted partitions
    assert(a eq b)
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // and the reused stream is exactly the uncached router's output
    val direct = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cached = b.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cached === direct && cached.nonEmpty)
    Similarity.pairMemo.clear()
  }

  test("cached pair stream: distinct parameters are distinct entries") {
    Similarity.pairMemo.clear()
    val t04 = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.4)
    val t09 = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.9)
    assert(!(t04 eq t09))
    assert(t09.count() < t04.count()) // tighter threshold, fewer pairs
    Similarity.pairMemo.clear()
  }

  test("catalog.clearCache() between consumers: hit re-persists, stays exact") {
    Similarity.pairMemo.clear()
    val a = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.4)
    val before = a.count()
    // the harness convention between registered queries
    spark.catalog.clearCache()
    assert(a.storageLevel == StorageLevel.NONE)
    val b = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.4)
    assert(b eq a) // entry survives; storage was what clearCache dropped
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK) // re-persisted
    assert(b.count() === before)
    Similarity.pairMemo.clear()
  }

  test("LRU cap: oldest entry evicted and unpersisted after 5th insert") {
    Similarity.pairMemo.clear()
    val first = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.40)
    first.count() // materialize the persisted storage
    Seq(0.5, 0.6, 0.7, 0.8).foreach { t =>
      Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", t)
    }
    // cap is 4: inserting the 5th distinct key evicts + unpersists the 1st
    assert(first.storageLevel == StorageLevel.NONE)
    val again = Similarity.cosineNearDupPairsCached(emb, "vec_id", "embedding", 0.40)
    assert(!(again eq first)) // a fresh entry, not the evicted frame
    Similarity.pairMemo.clear()
  }

  test("q84 reuses q70's pairs in one session (the registry pipeline)") {
    Similarity.pairMemo.clear()
    val dir = "/root/testdata/sf0.001"
    val defs = graft.queries.VectorQueries.queries.toMap
    val pairs = defs("q70_embedding_neardup").fn(spark, dir)
    pairs.count()
    // q84's purge table is built on the SAME memoized pair frame —
    // cluster ids must agree with the pairs q70 just reported
    val purge = defs("q84_semantic_purge").fn(spark, dir).collect()
    val edges = Similarity
      .cosineNearDupPairsCached(
        graft.Tables.embeddings(spark, dir), "vec_id", "embedding", 0.4)
    assert(edges.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val linked = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val cluster = purge.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    linked.foreach { case (a, b) =>
      assert(cluster(a) === cluster(b), s"pair ($a,$b) split across clusters")
    }
    Similarity.pairMemo.clear()
  }

  test("q70 then q84 pays the candidate stages ONCE (stage-count proof)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val dir = "/root/testdata/sf0.001"
    val defs = graft.queries.VectorQueries.queries.toMap
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    // listener events post asynchronously: read the counter only after it
    // has stopped moving, so each delta covers exactly one query's jobs
    def settled(): Int = {
      var prev = -1; var cur = stages.get()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = stages.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // cold: q84 with an empty pair cache submits the full
      // candidate-generation + verify + clustering stage graph
      Similarity.pairMemo.clear(); spark.catalog.clearCache()
      val s0 = settled()
      val alone = defs("q84_semantic_purge").fn(spark, dir).collect()
      val cold = settled() - s0
      // pipeline: q70 first (materialized through the harness's noop
      // sink), then q84 — the memoized pair frame's cached partitions
      // truncate q84's lineage, so its candidate stages are never
      // SUBMITTED (DAGScheduler skips fully-cached parents)
      Similarity.pairMemo.clear(); spark.catalog.clearCache()
      defs("q70_embedding_neardup").fn(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val s1 = settled()
      val piped = defs("q84_semantic_purge").fn(spark, dir).collect()
      val warm = settled() - s1
      assert(warm < cold,
        s"q84 after q70 should skip candidate stages: warm=$warm cold=$cold")
      // and reuse changes the plan's runtime only, never the rows
      assert(piped.map(_.toString).sorted.toSeq ===
        alone.map(_.toString).sorted.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Similarity.pairMemo.clear()
    }
  }

  test("in-place table append invalidates the memoized pair stream") {
    Similarity.pairMemo.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_pairsig")
      .toString + "/emb.parquet"
    def v(seed: Int): Array[Float] =
      Array.tabulate(64)(j => (math.sin(seed * 97.0 + j) * 0.5).toFloat)
    Seq((1L, v(1)), (2L, v(1)), (3L, v(3)))
      .toDF("vec_id", "embedding").repartition(1)
      .write.mode("overwrite").parquet(dir)
    val a = Similarity.cosineNearDupPairsCached(spark.read.parquet(dir),
      "vec_id", "embedding", 0.9)
    val before = a.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before === Set((1L, 2L)))
    // append a NEW duplicate pair in place: the re-read sameResult-matches
    // the cached plan (rootPaths identity), so without the content
    // signature the memo would keep serving the OLD pair stream
    Seq((10L, v(10)), (11L, v(10)))
      .toDF("vec_id", "embedding").repartition(1)
      .write.mode("append").parquet(dir)
    val b = Similarity.cosineNearDupPairsCached(spark.read.parquet(dir),
      "vec_id", "embedding", 0.9)
    val after = b.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.contains((10L, 11L)),
      "pairs appended in place must appear on the next cached call")
    assert(after.contains((1L, 2L)))
    // and an unchanged re-read still HITS (same frame instance)
    val c = Similarity.cosineNearDupPairsCached(spark.read.parquet(dir),
      "vec_id", "embedding", 0.9)
    assert(c eq b, "unchanged re-read must still hit the memo")
    Similarity.pairMemo.clear()
    spark.catalog.clearCache()
  }
}
