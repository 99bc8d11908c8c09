package graft.text

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-level co-occurrence / PMI association mining: for every
  * unordered term pair that co-occurs in at least `minPairDf` documents,
  * pmi = ln(P(a,b) / (P(a)·P(b))) over document frequencies — the
  * classic word-association signal (collocation discovery, topic drift
  * monitoring, tokenizer-merge candidates in a training-data pipeline).
  *
  * Scale shape: per-document DISTINCT terms explode once (map-side), term
  * document-frequencies are a word-count aggregate, and the pair stream is
  * a per-document self-join keyed on the doc id — quadratic in one
  * document's distinct vocabulary (inherent to co-occurrence counting).
  * That per-doc quadratic is ENFORCED bounded, not assumed: `maxDocVocab`
  * excludes any document whose distinct-token count exceeds the cap from
  * the pair stream, so one pathological un-curated doc (10^6 distinct
  * terms → 10^12 pairs in a single task) can never hang a stage. The
  * guard rides the same hash-partition-by-doc the self-join needs (an
  * unordered count window on `__doc` — no extra exchange), and it bounds
  * only the quadratic stage: the unary stats (term df, corpus N) are
  * linear and stay exact over ALL docs, so conforming corpora — every
  * doc under the cap — produce byte-identical output to an uncapped run.
  * The pair aggregate is map-side combined; nothing corpus-quadratic
  * exists anywhere.
  *
  * Determinism: all counts are exact longs; the PMI double is the
  * identical operation tree on both engines, rounded to 6 dp.
  */
object Cooccur {

  /** @param maxDocVocab skew guard on the per-doc quadratic: documents
    *        with more distinct tokens than this are dropped from the PAIR
    *        stream (their unary df/N contributions stay exact). The
    *        default (65536 → ≤ ~2·10^9 pairs from one doc, spread across
    *        that doc's task) is far above any curated document; it exists
    *        so an un-curated outlier degrades output, not the job.
    * @param pinDocPartitions keep the doc-keyed exchange feeding the
    *        self-join at the session's full `spark.sql.shuffle.partitions`
    *        width (an explicit-count repartition — REPARTITION_BY_NUM —
    *        which AQE never coalesces). MEASURED round 15
    *        (1M docs × 25 distinct terms,
    *        interleaved same-phase A/B): AQE's coalescing sizes that
    *        exchange by its INPUT bytes (~0.5 GB → single-digit
    *        partition counts at the 64 MB advisory) but the stage's
    *        work is the per-doc QUADRATIC — ×~25 row blow-up plus a
    *        pair-sized hash aggregate — and the warm coalesced cell ran
    *        a 31.0 s max task at 1.5 GB peak task memory vs the pinned
    *        cell's 5.5 s / 0.4 GB, wall 56.7 vs 33.2 s (1.7×). At
    *        cluster scale the unpinned shape is worse than slow: a
    *        task's pair hash-aggregate grows with the coalesced
    *        partition's doc count, the same unbounded-working-set class
    *        the maxDocVocab guard exists for. False restores the
    *        pre-round-15 adaptive behavior (harmless for tiny-doc
    *        corpora, where fewer tasks are cheaper).
    * @param guard OBSERVABILITY for that cap (round-13 advice: no silent
    *        caps): pass an [[Observation]] and, after the query's action,
    *        `guard.get` carries `dropped_docs` (exact count of documents
    *        the cap excluded from the pair stage) and `max_doc_vocab`
    *        (the corpus's largest distinct-token count — how close the
    *        corpus sails to the cap). `None` (the default) attaches
    *        nothing and leaves the measured q98 plan byte-identical; the
    *        guarded plan differs only in the window's sort key (ordered
    *        by term so an exact per-doc first-row marker exists) and a
    *        CollectMetrics node on one self-join branch.
    * @return (term_a, term_b, pair_df, df_a, df_b, pmi) with
    *         term_a < term_b, pair_df >= minPairDf, ordered by pair */
  def pmiPairs(docs: DataFrame, id: String, text: String,
      minPairDf: Long = 2L, maxDocVocab: Int = 1 << 16,
      guard: Option[Observation] = None,
      pinDocPartitions: Boolean = true): DataFrame = {
    val toksPlain = docs
      .select(col(id).as("__doc"),
        explode(array_distinct(split(col(text), " "))).as("term"))
    // Explicit-count repartition (REPARTITION_BY_NUM — exempt from AQE
    // coalescing) on the doc key: the window and the self-join both
    // reuse this one exchange, so the quadratic stage runs at the
    // session's full shuffle width instead of the input-byte-sized
    // partition count AQE would coalesce it to (see the param scaladoc
    // for the measured 8-task straggler this prevents).
    val toks =
      if (pinDocPartitions) toksPlain.repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("__doc"))
      else toksPlain

    val n = docs.select(col(id)).agg(count(lit(1)).cast("long").as("__n"))

    // df rides the PLAIN token stream: its term aggregate map-side
    // combines straight off the scan; routing it through the pinned doc
    // exchange would serialize it behind a shuffle it never needed.
    val dfT = toksPlain.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))

    // Vocab guard: a count window partitioned by doc reuses the
    // hash-partitioning the self-join shuffles on anyway, so enforcing the
    // bound costs no extra exchange. The two branches below are
    // value-identical; the guarded one also carries the drop metrics.
    val (a, b) = guard match {
      case None =>
        val bounded = toks
          .withColumn("__v",
            count(lit(1)).over(Window.partitionBy(col("__doc"))))
          .filter(col("__v") <= maxDocVocab)
          .drop("__v")
        (bounded.select(col("__doc"), col("term").as("term_a")),
          bounded.select(col("__doc"), col("term").as("term_b")))
      case Some(obs) =>
        // Ordered window: same partitioning, and row_number gives an
        // exact one-row-per-doc marker so dropped DOCS (not dropped
        // token rows) can be summed. count over the full frame equals
        // the unordered count. The observe node sits on exactly ONE
        // self-join branch (an Observation is single-use, and rows must
        // flow through it pre-filter, once).
        val w = Window.partitionBy(col("__doc")).orderBy(col("term"))
        val flagged = toks
          .withColumn("__v", count(lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("__rn", row_number().over(w))
        val observed = flagged.observe(obs,
          sum(when(col("__v") > maxDocVocab && col("__rn") === 1, 1L)
            .otherwise(0L)).as("dropped_docs"),
          max(col("__v")).as("max_doc_vocab"))
        def bound(d: DataFrame) = d.filter(col("__v") <= maxDocVocab)
          .drop("__v", "__rn")
        (bound(observed).select(col("__doc"), col("term").as("term_a")),
          bound(flagged).select(col("__doc"), col("term").as("term_b")))
    }

    val pairDf = a.join(b, "__doc")
      .filter(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).cast("long").as("pair_df"))
      .filter(col("pair_df") >= minPairDf)

    val pmi = log(
      (col("pair_df").cast("double") * col("__n").cast("double")) /
        (col("df_a").cast("double") * col("df_b").cast("double")))

    pairDf
      .join(dfT.select(col("term").as("term_a"), col("df").as("df_a")), "term_a")
      .join(dfT.select(col("term").as("term_b"), col("df").as("df_b")), "term_b")
      .crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("pair_df"),
        col("df_a"), col("df_b"), round(pmi, 6).as("pmi"))
  }
}
