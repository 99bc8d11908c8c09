package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase
import graft.dedup.Dedup

/** Streaming dedup vs the batch family: exact first-seen-wins across
  * micro-batches, and the near-dup operator's pair-for-pair parity with
  * batch `Dedup.minhashLsh` when the same corpus arrives in arbitrary
  * micro-batch splits (each pair exactly once, at second-member
  * arrival). RocksDB state store, the production configuration. */
class StreamingDedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact: first-seen canonical, duplicates flagged across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.exact(docs.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("exact_dedup").start()
    try {
      // batch 0: two distinct texts; 20 and 30 are same-batch dups of 10
      docs.addData(
        StreamingDedup.Doc(30L, "the quick brown fox"),
        StreamingDedup.Doc(10L, "the quick brown fox"),
        StreamingDedup.Doc(20L, "the quick brown fox"),
        StreamingDedup.Doc(11L, "something else entirely"))
      q.processAllAvailable()
      // batch 1: a cross-batch dup and a fresh text
      docs.addData(
        StreamingDedup.Doc(5L, "the quick brown fox"), // dup despite LOWER id
        StreamingDedup.Doc(12L, "third text"))
      q.processAllAvailable()
      val rows = spark.table("exact_dedup").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("isDuplicate"),
          r.getAs[Long]("canonicalId"), r.getAs[Long]("seen")))
        .sortBy(_._1)
      assert(rows.toSeq === Seq(
        (5L, true, 10L, 4L),   // first-SEEN wins, not global min id
        (10L, false, 10L, 1L), // min id within its arrival batch
        (11L, false, 11L, 1L),
        (12L, false, 12L, 1L),
        (20L, true, 10L, 2L),
        (30L, true, 10L, 3L)))
    } finally q.stop()
  }

  /** Clustered corpus: three near-dup groups + noise. Token-level edits
    * keep Jaccard high inside groups, ~0 across. */
  private val corpus: Seq[(Long, String)] = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      1L -> base,
      2L -> base.replace("eta", "ETA"),
      3L -> base, // exact dup of 1
      4L -> "one two three four five six seven eight nine ten",
      5L -> "one two three four five six seven eight nine TEN",
      6L -> "completely different words with no shared trigrams at all",
      7L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
  }

  test("nearDup: pair-for-pair parity with batch minhashLsh across batch splits") {
    implicit val sqlCtx = spark.sqlContext

    val expected = Dedup.minhashLsh(
      corpus.toDF("doc_id", "text"), "doc_id", "text",
      n = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        math.rint(r.getAs[Double]("jaccard") * 1e9)))
      .toSet
    assert(expected.nonEmpty, "corpus must contain near-dups for the test to bite")

    val docs = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.nearDup(docs.toDS(), n = 3, numHashes = 12,
      rowsPerBand = 3, threshold = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("near_dup").start()
    try {
      // Split the corpus so every group straddles a batch boundary.
      docs.addData(StreamingDedup.Doc(1L, corpus.toMap.apply(1L)),
        StreamingDedup.Doc(4L, corpus.toMap.apply(4L)))
      q.processAllAvailable()
      docs.addData(StreamingDedup.Doc(2L, corpus.toMap.apply(2L)),
        StreamingDedup.Doc(5L, corpus.toMap.apply(5L)),
        StreamingDedup.Doc(6L, corpus.toMap.apply(6L)))
      q.processAllAvailable()
      docs.addData(StreamingDedup.Doc(3L, corpus.toMap.apply(3L)),
        StreamingDedup.Doc(7L, corpus.toMap.apply(7L)))
      q.processAllAvailable()

      val got = spark.table("near_dup").collect()
        .map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"),
          math.rint(r.getAs[Double]("jaccard") * 1e9)))
      assert(got.length === got.toSet.size, "a pair was emitted twice")
      assert(got.toSet === expected)
    } finally q.stop()
  }

  test("nearDup: one-batch arrival equals the same split corpus (order-free)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.nearDup(docs.toDS(), threshold = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("near_dup_onebatch").start()
    try {
      docs.addData(corpus.map { case (i, t) => StreamingDedup.Doc(i, t) }: _*)
      q.processAllAvailable()
      val oneShot = spark.table("near_dup_onebatch").collect()
        .map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"))).toSet
      val batch = Dedup.minhashLsh(corpus.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(oneShot === batch)
    } finally q.stop()
  }
}
