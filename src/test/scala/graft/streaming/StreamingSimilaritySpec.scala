package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase
import graft.similarity.Similarity

/** Streaming embedding near-dup vs the batch LSH route: pair-for-pair
  * parity (same hyperplanes, same rounded-cosine cut, same pairs) when
  * the corpus arrives across micro-batches, each pair exactly once. */
class StreamingSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  /** 6 clusters of 3 near-identical vectors + unrelated noise. Values
    * go through Float once so the streaming path (fed doubles) sees the
    * EXACT doubles the batch path derives from its float column. */
  private val corpus: Seq[(Long, Array[Double])] = {
    def base(c: Int): Array[Double] =
      Array.tabulate(16)(j => math.sin(c * 37.0 + j * 1.7))
    val clustered = for {
      c <- 0 until 6; m <- 0 until 3
    } yield ((c * 3 + m).toLong,
      base(c).zipWithIndex.map { case (x, j) => x + m * 0.01 * math.cos(j) })
    val noise = (100L until 110L).map(i =>
      i -> Array.tabulate(16)(j => math.cos(i * 13.0 + j * 3.1)))
    (clustered ++ noise).map { case (i, v) =>
      i -> v.map(x => x.toFloat.toDouble)
    }
  }

  test("nearDup: pair-for-pair parity with the batch LSH route across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val batchDf = corpus.map { case (i, v) => (i, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
    val expected = Similarity.cosineNearDupPairsLsh(batchDf, "vec_id",
      "embedding", threshold = 0.9, planes = 6, tables = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine")))
      .toSet
    assert(expected.nonEmpty, "corpus must contain LSH-reachable near-dups")

    val embs = MemoryStream[StreamingSimilarity.EmbeddingRow]
    val q = StreamingSimilarity.nearDup(embs.toDS(), threshold = 0.9,
      planes = 6, tables = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_neardup").start()
    try {
      // split so every cluster straddles a micro-batch boundary
      val (first, rest) = corpus.partition(_._1 % 3 == 0)
      embs.addData(first.map { case (i, v) =>
        StreamingSimilarity.EmbeddingRow(i, v) }: _*)
      q.processAllAvailable()
      val (second, third) = rest.partition(_._1 % 3 == 1)
      embs.addData(second.map { case (i, v) =>
        StreamingSimilarity.EmbeddingRow(i, v) }: _*)
      q.processAllAvailable()
      embs.addData(third.map { case (i, v) =>
        StreamingSimilarity.EmbeddingRow(i, v) }: _*)
      q.processAllAvailable()

      val got = spark.table("stream_neardup").collect()
        .map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"),
          r.getAs[Double]("cosine")))
      assert(got.length === got.toSet.size, "a pair was emitted twice")
      assert(got.toSet === expected)
    } finally q.stop()
  }
}
