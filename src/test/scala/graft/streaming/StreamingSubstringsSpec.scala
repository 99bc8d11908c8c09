package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase
import graft.dedup.ExactSubstrings

/** Streaming exact-substring dedup vs batch: the accumulated duplicated
  * window-site set equals batch `ExactSubstrings.duplicatedWindows` for
  * ANY micro-batch split of the same corpus, each site exactly once, at
  * second-occurrence exposure. RocksDB state store. */
class StreamingSubstringsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Near-dup corpus: repeated spans across docs and within one doc. */
  private val corpus: Seq[(Long, String)] = {
    val shared = ('a' to 'l').map(_.toString).mkString(" ") // 12 tokens
    Seq(
      1L -> (shared + " u1 u2 u3"),
      2L -> ("p q " + shared),
      3L -> "x y z m n o x y z m n o", // within-doc repeat
      4L -> "unique tokens only here nothing repeats at all")
  }

  private val K = 3

  private def batchSites: Set[(Long, Long)] =
    ExactSubstrings.duplicatedWindows(
        corpus.toDF("doc_id", "text"), "doc_id", "text", K)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def streamSites(splits: Seq[Seq[(Long, String)]]): Seq[(Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[StreamingSubstrings.Doc]
    val name = s"substr_${splits.length}_${splits.head.length}"
    val q = StreamingSubstrings.duplicatedWindows(docs.toDS(), K)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      splits.foreach { b =>
        docs.addData(b.map { case (id, t) => StreamingSubstrings.Doc(id, t) }: _*)
        q.processAllAvailable()
      }
      spark.table(name).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("pos"))).toSeq
    } finally q.stop()
  }

  test("one-batch split emits exactly the batch duplicated-window set") {
    val got = streamSites(Seq(corpus))
    assert(got.size === got.distinct.size) // each site exactly once
    assert(got.toSet === batchSites)
  }

  test("per-doc micro-batches emit the same set, each site once") {
    val got = streamSites(corpus.map(Seq(_)))
    assert(got.size === got.distinct.size)
    assert(got.toSet === batchSites)
  }

  test("uneven split parity and merged spans match the batch operator") {
    val got = streamSites(Seq(corpus.take(1), corpus.slice(1, 3), corpus.drop(3)))
    assert(got.toSet === batchSites)
    // spans derived from the accumulated stream = batch spans
    val streamed = ExactSubstrings.mergeSpans(
        got.toDF("doc_id", "pos"), "doc_id", K)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = ExactSubstrings.duplicatedSpans(
        corpus.toDF("doc_id", "text"), "doc_id", "text", K)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed === batch)
  }

  test("late third occurrence emits only the new site") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[StreamingSubstrings.Doc]
    val q = StreamingSubstrings.duplicatedWindows(docs.toDS(), K)
      .writeStream.outputMode("append").format("memory")
      .queryName("substr_late").start()
    try {
      docs.addData(StreamingSubstrings.Doc(1L, "a b c"))
      q.processAllAvailable()
      assert(spark.table("substr_late").count() === 0L) // first: silent
      docs.addData(StreamingSubstrings.Doc(2L, "a b c"))
      q.processAllAvailable()
      val afterSecond = spark.table("substr_late").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("seen"))).sortBy(_._1)
      assert(afterSecond.toSeq === Seq((1L, 2L), (2L, 2L))) // both exposed
      docs.addData(StreamingSubstrings.Doc(3L, "a b c"))
      q.processAllAvailable()
      val all = spark.table("substr_late").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("seen"))).sortBy(_._1)
      assert(all.toSeq === Seq((1L, 2L), (2L, 2L), (3L, 3L)))
    } finally q.stop()
  }
}
