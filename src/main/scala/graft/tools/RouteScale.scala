package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.{Clusters, Contamination, Dedup}

/** Scale witnesses for the two size-routed operators: run each on a
  * corpus large enough that the DISTRIBUTED branch is chosen by real data
  * volume (not by a spec pinning the threshold to zero), time it, and
  * prove the branch's output identical to the other branch at the same
  * full volume.
  *
  *  - Connected components ([[Clusters]]): the simhash near-dup pair
  *    stream of a ~50k-doc corpus carries >4M edges (16-bit fingerprints
  *    saturate: ~1% of doc pairs land within hamming 3, so the REAL pair
  *    stream crosses the cap at tens of thousands of docs — a 1M-doc
  *    corpus would emit ~10⁹ pairs and is the wrong witness), so the
  *    natural call takes the large-star/small-star route. Parity: the
  *    same edge set through a forced driver union-find (the cap is a
  *    comfort bound, not a correctness bound — the edges still collect).
  *  - Contamination ([[Contamination]]): a 25%-of-corpus eval slice of a
  *    ~1M-doc corpus (the "decontaminate against a held-out corpus" case
  *    the join route exists for) carries >8M distinct 13-gram hashes, so
  *    the natural call takes the inverted-index equi-join. Parity: forced
  *    broadcast branch at the same volume.
  *
  * The witnesses run as an OPT-IN spec (`graft.tools.RouteScaleSpec`,
  * gated on `SPARK_GRAFT_SCALE_SPECS=1`) over two `documents.parquet`
  * directories (e.g. ScaleUp ×10 and ×200 of sf0.1), so the route
  * evidence re-runs on one command instead of living only in notes.
  */
object RouteScale {

  /** CC route witness: determinant, route taken, and distributed-vs-
    * forced-union-find parity at full volume. */
  case class CcWitness(edges: Long, cap: Long, route: String, rounds: Int,
                       sec: Double, labels: Long, parityDiff: Long,
                       ufSec: Double)

  /** Contamination route witness: determinant, route taken, and
    * natural-vs-forced-broadcast parity at full volume. */
  case class ContWitness(evalHashes: Long, cap: Long, route: String,
                         sec: Double, rows: Long, parityDiff: Long,
                         bcSec: Double)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Materialize through the noop sink (full execution, nothing cached). */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Contamination witness: route decided by the real eval hash volume. */
  def contaminationWitness(spark: org.apache.spark.sql.SparkSession,
                           contDocsDir: String): ContWitness = {
    val docs = spark.read.parquet(s"$contDocsDir/documents.parquet")
    val evalSrcs = (0 until 5).map(i => s"src$i")
    val eval = docs.filter(col("source").isin(evalSrcs: _*))
    val train = docs.filter(!col("source").isin(evalSrcs: _*))
    val nEvalHashes = Dedup.docShingleArrays(eval, "doc_id", "text", 13)
      .select(explode(col("arr")).as("h")).distinct().count()
    val route =
      if (nEvalHashes > Contamination.MaxBroadcastHashes) "inverted-index join"
      else "broadcast"
    val (reportJoin, tJoin) = timed {
      val r = Contamination.ngramOverlap(train, eval, "doc_id", "text")
        .localCheckpoint(true)
      run(r); r
    }
    // Int.MaxValue - 1: the route probe runs limit(cap + 1) (see CC below).
    val (reportBc, tBc) = timed {
      val r = Contamination.ngramOverlap(train, eval, "doc_id", "text",
        maxBroadcastHashes = Int.MaxValue - 1).localCheckpoint(true)
      run(r); r
    }
    val contDiff = reportJoin.except(reportBc).count() +
      reportBc.except(reportJoin).count()
    ContWitness(nEvalHashes, Contamination.MaxBroadcastHashes, route, tJoin,
      reportJoin.count(), contDiff, tBc)
  }

  /** CC witness: route decided by the real simhash edge stream. */
  def ccWitness(spark: org.apache.spark.sql.SparkSession,
                ccDocsDir: String): CcWitness = {
    val ccDocs = spark.read.parquet(s"$ccDocsDir/documents.parquet")
    val pairs = Dedup.simhashPairs(ccDocs, "doc_id", "text")
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val nEdges = pairs.count()
    val (starLabels, tStar) = timed {
      val (labels, rounds) = Clusters.ccWithIterations(pairs, "id_a", "id_b")
      val out = labels.localCheckpoint(true)
      (out, rounds)
    }
    val (labelsStar, rounds) = starLabels
    val route = if (rounds == 0) "union-find" else s"star x$rounds"
    // Int.MaxValue - 1: the route probe runs limit(cap + 1), which must
    // not overflow Int.
    val ((labelsUf, ufRounds), tUf) = timed {
      val (l, r) = Clusters.ccWithIterations(pairs, "id_a", "id_b",
        unionFindMaxEdges = Int.MaxValue - 1)
      (l.localCheckpoint(true), r)
    }
    require(ufRounds == 0, "forced union-find branch still iterated")
    val ccDiff = labelsStar.except(labelsUf).count() +
      labelsUf.except(labelsStar).count()
    CcWitness(nEdges, Clusters.UnionFindMaxEdges, route, rounds, tStar,
      labelsStar.count(), ccDiff, tUf)
  }
}
