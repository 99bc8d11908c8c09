package graft.text

import graft.SparkSpecBase
import org.apache.spark.sql.functions.col

/** PMI co-occurrence: exact driver-model parity (counts + 6-dp PMI),
  * within-doc repeats counted once, minPairDf floor, sign semantics, and
  * partitioning independence. */
class CooccurSpec extends SparkSpecBase {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "x y x z"),   // distinct {x,y,z} — repeat of x counts once
    (2L, "x y"),
    (3L, "x z"),
    (4L, "w y"),
    (5L, "w"))

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def model(minPairDf: Long): Seq[(String, String, Long, Long, Long, Double)] = {
    val sets = corpus.map { case (_, t) => t.split(" ").distinct.toSet }
    val n = corpus.size.toLong
    val vocab = sets.flatten.distinct.sorted
    val dfm = vocab.map(t => t -> sets.count(_.contains(t)).toLong).toMap
    (for {
      a <- vocab; b <- vocab if a < b
      pdf = sets.count(s => s.contains(a) && s.contains(b)).toLong
      if pdf >= minPairDf
    } yield (a, b, pdf, dfm(a), dfm(b),
      r6(math.log((pdf.toDouble * n.toDouble) /
        (dfm(a).toDouble * dfm(b).toDouble)))))
      .sortBy(t => (t._1, t._2))
  }

  test("pairs, dfs and 6-dp PMI match the driver model exactly") {
    val got = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L)
      .orderBy(col("term_a"), col("term_b"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got === model(1L))
    // within-doc repeat of x did not inflate (x,y): only docs 1 and 2
    assert(got.find(t => t._1 == "x" && t._2 == "y").get._3 === 2L)
  }

  test("minPairDf floors the pair stream") {
    val got = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === model(2L).map(t => (t._1, t._2)).toSet)
    assert(got.contains(("x", "y")) && got.contains(("x", "z")))
    assert(!got.contains(("w", "y"))) // pair_df 1
  }

  test("PMI sign: always-together pair positive, independent-ish negative") {
    // x and z co-occur 2 of 5; x df 3, z df 2 → pmi = ln(2*5/(3*2)) > 0
    val got = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    assert(got(("x", "z")) > 0.0)
    // y and z only meet in doc 1: ln(1*5/(3*2)) < 0
    assert(got(("y", "z")) < 0.0)
  }

  test("maxDocVocab drops only the oversized doc's pairs; dfs stay exact") {
    // doc 1 has vocab {x,y,z} (3 distinct) — cap 2 excludes it from the
    // pair stream, so (y,z) — which only meets in doc 1 — vanishes and
    // (x,y)'s pair_df drops from 2 to 1; unary stats are untouched:
    // x's df stays 3 (docs 1,2,3 all counted).
    val got = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L, maxDocVocab = 2)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(!got.contains(("y", "z")))
    assert(got(("x", "y")) === ((1L, 3L)))   // pair_df 1, df_a(x) still 3
    assert(got(("w", "y")) === ((1L, 2L)))   // conforming docs unaffected
    // default cap is a no-op on a conforming corpus: byte-identical output
    val def1 = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L)
      .orderBy(col("term_a"), col("term_b")).collect().toSeq
    val def2 = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L, maxDocVocab = Int.MaxValue)
      .orderBy(col("term_a"), col("term_b")).collect().toSeq
    assert(def1 === def2)
  }

  test("guard observation surfaces dropped-doc count and max vocab") {
    // Round-13 advice: the cap must not fire silently. Same cap-2 cell as
    // above, now with an Observation attached: exactly one doc (doc 1,
    // vocab 3) is excluded, and the corpus's max vocab is visible.
    val obs = new org.apache.spark.sql.Observation("cooccur_guard")
    val guarded = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L, maxDocVocab = 2, guard = Some(obs))
      .orderBy(col("term_a"), col("term_b")).collect().toSeq
    assert(obs.get("dropped_docs") === 1L)
    assert(obs.get("max_doc_vocab") === 3L)
    // guarded plan is value-identical to the unguarded one
    val plainRows = Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minPairDf = 1L, maxDocVocab = 2)
      .orderBy(col("term_a"), col("term_b")).collect().toSeq
    assert(guarded === plainRows)
    // conforming corpus: the metric reads zero
    val obs2 = new org.apache.spark.sql.Observation("cooccur_guard_ok")
    Cooccur.pmiPairs(corpus.toDF("doc_id", "text"),
      "doc_id", "text", minPairDf = 1L, guard = Some(obs2)).collect()
    assert(obs2.get("dropped_docs") === 0L)
    assert(obs2.get("max_doc_vocab") === 3L)
  }

  test("independent of input partitioning") {
    val df = corpus.toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Cooccur.pmiPairs(d, "doc_id", "text", minPairDf = 1L)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
    assert(run(df.repartition(1)) === run(df.repartition(7)))
  }

  test("pinned doc exchange: AQE-exempt repartition, value-identical") {
    // The round-15 same-phase A/B finding: AQE coalesced the doc-keyed
    // exchange by INPUT bytes, blind to the per-doc quadratic inside the
    // stage. The default pins it via an explicit-count repartition —
    // REPARTITION_BY_NUM in the plan, the origin AQE never coalesces —
    // and the two routes must be row-identical.
    val df = corpus.toDF("doc_id", "text")
    def rows(pin: Boolean) =
      Cooccur.pmiPairs(df, "doc_id", "text", minPairDf = 1L,
          pinDocPartitions = pin)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
    assert(rows(pin = true) === rows(pin = false))
    val pinned = Cooccur.pmiPairs(df, "doc_id", "text", minPairDf = 1L)
    assert(pinned.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
    val unpinned = Cooccur.pmiPairs(df, "doc_id", "text", minPairDf = 1L,
      pinDocPartitions = false)
    assert(!unpinned.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
  }
}
