package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DIRECT form of [[Dedup.ngramJaccard]], kept as the parity witness
  * for the PPJoin path (DedupSpec proves result equality on clustered
  * corpora at several thresholds). */
object JaccardWitness {

  /** Hashed [[Dedup.cappedShingles]]: (id, shingle: long). */
  private def hashedShingles(df: DataFrame, id: String, text: String, n: Int,
                             maxDf: Int): DataFrame =
    Dedup.capByDf(Dedup.shingles(df, id, text, n)
      .select(col(id), Dedup.shingleHash.as("shingle")), maxDf)

  /** Inverted index → ALL co-occurring pairs via a two-sided self-join
    * (the oracle's own shape, generic over id types) → common counts →
    * inclusion-exclusion. Correct and fully distributed, but its
    * pair-occurrence stream is super-linear on one box (sf10 exponent
    * 0.72), which is why the library runs PPJoin instead. */
  def ngramJaccardDirect(df: DataFrame, id: String, text: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxDf: Int = Dedup.DefaultMaxDf): DataFrame = {
    val sh = hashedShingles(df, id, text, n, maxDf)
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val common = sh.select(col(id).as("id_a"), col("shingle"))
      .join(sh.select(col(id).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(id).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
