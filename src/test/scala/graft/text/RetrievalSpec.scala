package graft.text

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** BM25 search + TF-IDF extraction: exact driver-side model parity on a
  * hand corpus, top-k ordering/boundary semantics, non-matching docs never
  * surfacing, and partitioning independence. */
class RetrievalSpec extends SparkSpecBase {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple apple apple banana"),
    (4L, "durian cherry banana"),
    (5L, "elderberry"))

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-side BM25: same formula, same operation order. */
  private def bm25Model(query: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): Seq[(Long, Long, Double)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = toks.size.toLong
    val sumdl = toks.map(_._2.size.toLong).sum
    val avgdl = sumdl.toDouble / n.toDouble
    val dfs = query.distinct.map { term =>
      term -> toks.count(_._2.contains(term)).toLong
    }.toMap
    toks.flatMap { case (id, ts) =>
      val dl = ts.size.toLong
      val scores = query.distinct.flatMap { term =>
        val tf = ts.count(_ == term).toLong
        if (tf == 0L) None
        else {
          val df = dfs(term)
          val idf = math.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))
          Some(idf * (tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgdl)))
        }
      }
      if (scores.isEmpty) None
      else Some((id, scores.size.toLong, r6(scores.sum)))
    }.sortBy { case (id, _, s) => (-s, id) }
  }

  test("bm25 matches the driver-side model exactly (values + order)") {
    val got = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"), "doc_id",
        "text", query = Seq("apple", "cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === bm25Model(Seq("apple", "cherry")))
    // doc 5 matches nothing and must not appear
    assert(!got.exists(_._1 == 5L))
    // tf>1 handled: doc 3 (3×apple) outranks doc 1 (2×apple, shorter)?
    // — the model decides; just pin that both are present with n_terms=1
    assert(got.filter(t => t._1 == 1L || t._1 == 3L).forall(_._2 == 1L))
  }

  test("bm25 top-k truncates at k in score-desc, id-asc order") {
    val all = bm25Model(Seq("apple", "cherry", "banana"))
    val got = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"), "doc_id",
        "text", query = Seq("apple", "cherry", "banana"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === all.take(2))
  }

  test("bm25 matches the model for one, two and five query terms (values + order)") {
    val df = corpus.toDF("doc_id", "text")
    for (q <- Seq(Seq("apple"), Seq("apple", "cherry"),
        Seq("apple", "cherry", "banana", "durian", "elderberry"))) {
      val got = Retrieval.bm25TopK(df, "doc_id", "text", q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === bm25Model(q), s"model divergence for query $q")
    }
  }

  test("indexed bm25 ≡ per-query bm25 on the same corpus; cache reused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val df = corpus.toDF("doc_id", "text")
    Retrieval.buildPostingsIndex(df, "doc_id", "text", dir, sourceTag = "spec")
    for (q <- Seq(Seq("apple"), Seq("apple", "cherry", "banana"))) {
      val direct = Retrieval.bm25TopK(df, "doc_id", "text", q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val indexed = Retrieval.bm25FromIndex(spark, dir, q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(indexed === direct, s"index divergence for query $q")
    }
    // same tag → rebuild skipped (in-memory source: tag-only identity)
    Retrieval.buildPostingsIndex(df, "doc_id", "text", dir, sourceTag = "spec")
    assert(Retrieval.lastBuildInfo.mode === "noop")
    // changed tag → full rebuild under a different manifest config
    val cfgBefore =
      Retrieval.readSegmentManifest(spark, dir).get("config")
    Retrieval.buildPostingsIndex(df, "doc_id", "text", dir, sourceTag = "spec2")
    assert(Retrieval.lastBuildInfo.mode === "full")
    assert(Retrieval.readSegmentManifest(spark, dir).get("config")
      !== cfgBefore)
  }

  test("indexed tfidf ≡ per-query tfidf on the same corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_t").toString
    val df = corpus.toDF("doc_id", "text")
    Retrieval.buildPostingsIndex(df, "doc_id", "text", dir, sourceTag = "spec")
    for (m <- Seq(1, 2, 3)) {
      val indexed = Retrieval.tfidfFromIndex(spark, dir, m)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(indexed === tfidfModel(m).toSet, s"index divergence for m=$m")
    }
    // canonical id column name is `doc`
    assert(Retrieval.tfidfFromIndex(spark, dir, 1).columns.toSeq ===
      Seq("doc", "term", "rank", "tfidf"))
  }

  test("index freshness: in-place append serves fresh results incrementally") {
    val base = java.nio.file.Files.createTempDirectory("graft_fresh")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    val tag = corpusDir // same tag throughout — content must carry identity
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = tag)
    assert(Retrieval.lastBuildInfo.mode === "full")
    val before = Retrieval.bm25FromIndex(spark, idxDir, Seq("fig"), 10).count()
    assert(before === 0L) // no doc mentions fig yet
    // same corpus again → noop, nothing tokenized
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = tag)
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("noop", 1, 0))
    // APPEND a doc in place: same directory, same tag, new parquet file.
    // The build must tokenize ONLY the appended file (input-file
    // accounting via the manifest + the build-info counter), not the
    // whole corpus — the round-14 contract rebuilt everything here.
    Seq((6L, "fig fig banana")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = tag)
    assert(Retrieval.lastBuildInfo ===
      Retrieval.IndexBuildInfo("append", 2, 1))
    // the new segment's manifest entry covers exactly the appended file
    val m = Retrieval.readSegmentManifest(spark, idxDir).get
    assert(m("n_segments") === "2")
    assert(!m("seg.1.files").contains("\n"), "one appended file expected")
    val after = Retrieval.bm25FromIndex(spark, idxDir, Seq("fig"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(after === Seq(6L)) // the appended doc is served, not stale data
    // the merged index equals a from-scratch per-query run on the full
    // corpus — segment union must be value-invisible
    val direct = Retrieval.bm25TopK(spark.read.parquet(corpusDir),
        "doc_id", "text", Seq("banana", "fig"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexed = Retrieval.bm25FromIndex(spark, idxDir,
        Seq("banana", "fig"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed === direct)
    // a MODIFIED covered file breaks append identity → full rebuild
    spark.read.parquet(corpusDir).filter(col("doc_id") =!= 2L)
      .repartition(1).write.mode("overwrite").parquet(s"$base/docs2.parquet")
    // (rewrite the corpus dir in place with one doc dropped)
    spark.read.parquet(s"$base/docs2.parquet").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = tag)
    assert(Retrieval.lastBuildInfo.mode === "full")
    // crash safety: the rebuild landed in a FRESH directory (the old
    // manifest referenced seg_00000/seg_00001 — overwriting either
    // would let a crash before the manifest rename serve mixed data)
    assert(Retrieval.readSegmentManifest(spark, idxDir).get
      .apply("seg.0.dir") === "seg_00002")
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("cherry"), 10)
      .collect().map(_.getLong(0)).toSeq === Seq(4L)) // doc 2 gone
    // contentFingerprint=false restores the pure tag contract: the first
    // tag-only build rebuilds (different config), a SECOND after another
    // append must noop — stale by contract, caller owns versioning
    Seq((7L, "grape")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = tag, contentFingerprint = false)
    assert(Retrieval.lastBuildInfo.mode === "full")
    Seq((8L, "kiwi")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = tag, contentFingerprint = false)
    assert(Retrieval.lastBuildInfo.mode === "noop")
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("kiwi"), 10)
      .count() === 0L) // stale by contract
  }

  test("tiered compaction: small segments merge, large ones are never rewritten") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    // Filler docs make the base segment unambiguously the large tier
    // (tiering reads each segment's token count from its stats row).
    val fillers = (100L to 300L).map(i =>
      (i, s"fill$i " + (1 to 8).map(j => s"w${i}_$j").mkString(" ")))
    (corpus ++ fillers).toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    def build(): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir, maxSegments = 2)
    def manifest() = Retrieval.readSegmentManifest(spark, idxDir).get
    build()
    assert(Retrieval.lastBuildInfo.mode === "full")
    val bigDir = manifest()("seg.0.dir") // the 5-doc base segment
    Seq((6L, "fig fig banana")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    build()
    assert(Retrieval.lastBuildInfo ===
      Retrieval.IndexBuildInfo("append", 2, 1))
    // a third file would exceed maxSegments=2 → TIERED compaction: the
    // smallest existing segment (the 1-doc fig append) merges with the
    // new docs; the big base segment is untouched. Tokenizes ONLY the
    // newest file; result stays at 2 segments.
    Seq((7L, "grape fig")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    build()
    assert(Retrieval.lastBuildInfo ===
      Retrieval.IndexBuildInfo("compact", 2, 1))
    val m1 = manifest()
    assert(m1("n_segments") === "2")
    val dirsAfter = Seq(m1("seg.0.dir"), m1("seg.1.dir"))
    assert(dirsAfter.contains(bigDir),
      "the large segment must survive compaction un-rewritten")
    // compacted index serves the union exactly; stats summed correctly
    val direct = Retrieval.bm25TopK(spark.read.parquet(corpusDir),
        "doc_id", "text", Seq("fig", "banana"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexed = Retrieval.bm25FromIndex(spark, idxDir,
        Seq("fig", "banana"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed === direct)
    // and tfidf over the compacted index matches the per-query form
    val tDirect = Retrieval.tfidfTopTerms(spark.read.parquet(corpusDir),
        "doc_id", "text", m = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val tIndexed = Retrieval.tfidfFromIndex(spark, idxDir, m = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(tIndexed === tDirect)
    // repeated appends keep merging into the SMALL tier; the big
    // segment's directory persists through every compaction
    Seq((8L, "kiwi fig")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    build()
    assert(Retrieval.lastBuildInfo ===
      Retrieval.IndexBuildInfo("compact", 2, 1))
    val m2 = manifest()
    assert(Seq(m2("seg.0.dir"), m2("seg.1.dir")).contains(bigDir))
    // all three appended docs serve
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("fig"), 10)
      .collect().map(_.getLong(0)).toSet === Set(6L, 7L, 8L))
    // operability surface: per-segment doc counts sum to the corpus and
    // the big tier is visibly the big tier
    val status = Retrieval.indexStatus(spark, idxDir)
      .orderBy(col("n_docs").desc).collect()
    assert(status.length === 2)
    assert(status.map(_.getAs[Long]("n_docs")).sum === 209L) // 5+201+3
    assert(status(0).getAs[String]("segment") === bigDir)
    assert(status(1).getAs[Long]("n_docs") === 3L)
    assert(status.forall(_.getAs[Long]("n_files") > 0L))
  }

  test("index append falls back to a full rebuild for non-relocatable plans") {
    val base = java.nio.file.Files.createTempDirectory("graft_reloc")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    // a FILTERED source is not a bare scan: re-reading only new files
    // could not re-apply the predicate, so the append path must refuse
    def docs() = spark.read.parquet(corpusDir).filter(col("doc_id") =!= 4L)
    Retrieval.buildPostingsIndex(docs(), "doc_id", "text", idxDir,
      sourceTag = corpusDir)
    assert(Retrieval.lastBuildInfo.mode === "full")
    Seq((6L, "fig"), (7L, "fig")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    Retrieval.buildPostingsIndex(docs(), "doc_id", "text", idxDir,
      sourceTag = corpusDir)
    assert(Retrieval.lastBuildInfo.mode === "full",
      "filtered plan must not take the relocatable append path")
    // correctness holds either way — the filter is honored
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("durian"), 10)
      .count() === 0L)
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("fig"), 10)
      .count() === 2L)
    // while a bare scan (possibly repartitioned — the registry's
    // `balanced` shape) DOES take it
    Seq((9L, "mango")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir).repartition(4), "doc_id", "text",
      s"$base/idx2", sourceTag = corpusDir)
    assert(Retrieval.lastBuildInfo.mode === "full")
    Seq((10L, "papaya")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir).repartition(4), "doc_id", "text",
      s"$base/idx2", sourceTag = corpusDir)
    assert(Retrieval.lastBuildInfo ===
      Retrieval.IndexBuildInfo("append", 2, 1))
    assert(Retrieval.bm25FromIndex(spark, s"$base/idx2", Seq("papaya"), 10)
      .collect().map(_.getLong(0)).toSeq === Seq(10L))
  }

  /** Driver-side TF-IDF top-m. */
  private def tfidfModel(m: Int): Seq[(Long, String, Long, Double)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = toks.size.toLong
    val dfs = toks.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    toks.flatMap { case (id, ts) =>
      val dl = ts.size.toLong
      ts.groupBy(identity).toSeq.map { case (term, occ) =>
        val tfidf = r6(occ.size.toDouble / dl.toDouble *
          math.log(n.toDouble / dfs(term).toDouble))
        (term, tfidf)
      }.sortBy { case (term, s) => (-s, term) }
        .take(m).zipWithIndex
        .map { case ((term, s), i) => (id, term, (i + 1).toLong, s) }
    }.sortBy { case (id, _, rank, _) => (id, rank) }
  }

  test("tfidf top-m matches the driver-side model exactly") {
    val got = Retrieval.tfidfTopTerms(corpus.toDF("doc_id", "text"),
        "doc_id", "text", m = 2)
      .orderBy(col("doc_id"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === tfidfModel(2))
  }

  test("tfidf auto-route: census picks PLAIN below the task threshold") {
    // Exact census (fraction 1.0) on the spec corpus: max df = 3 (banana)
    // → 3 × 40 B ≪ 128 MB → the plain single term join, no hot/cold Union
    // in the plan. This pins the registered-corpus behavior: every sf0.1
    // certificate query keeps the measured-faster plain plan.
    val df = corpus.toDF("doc_id", "text")
    val out = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2,
      censusFraction = 1.0)
    assert(!out.queryExecution.analyzed.toString.contains("graft_hot_terms"))
    assert(out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet === tfidfModel(2).toSet)
  }

  test("tfidf auto-route: census picks HOT only when BOTH hazards hold") {
    // Shrink the task threshold so the spec corpus's hottest term (df 3
    // → 120 B) crosses it. With the session's default broadcast
    // threshold the df side (6 terms) broadcasts, so no term exchange
    // exists and the census must STILL pick plain; with the broadcast
    // threshold shrunk below the vocabulary too, the census must choose
    // the hot route — hot/cold Union present — with identical output.
    val df = corpus.toDF("doc_id", "text")
    val taskBound = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2,
      hotTaskBytes = 100L, censusFraction = 1.0)
    assert(!taskBound.queryExecution.analyzed.toString.contains("graft_hot_terms"),
      "routed despite a broadcastable df side")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
      val out = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2,
        hotTaskBytes = 100L, censusFraction = 1.0)
      assert(out.queryExecution.analyzed.toString.contains("graft_hot_terms"))
      assert(out.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet === tfidfModel(2).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    spark.catalog.clearCache() // hot route persists the df aggregate
    // decision function is the documented two-condition inequality
    val bc = 10L << 20
    assert(Retrieval.autoRouteHot(4000000L, 80000000L,
      Retrieval.DefaultHotTaskBytes, bc))
    assert(!Retrieval.autoRouteHot(3000000L, 80000000L,
      Retrieval.DefaultHotTaskBytes, bc), "task bound must gate")
    assert(!Retrieval.autoRouteHot(4000000L, 31L,
      Retrieval.DefaultHotTaskBytes, bc), "broadcastable df must gate")
  }

  test("tfidf indexed auto-route parity: postings census routes both ways") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_r").toString
    val df = corpus.toDF("doc_id", "text")
    Retrieval.buildPostingsIndex(df, "doc_id", "text", dir, sourceTag = "spec")
    def run(taskBytes: Long) =
      Retrieval.tfidfFromIndex(spark, dir, m = 2, hotTaskBytes = taskBytes,
        censusFraction = 1.0)
    val plain = run(Retrieval.DefaultHotTaskBytes)
    assert(!plain.queryExecution.analyzed.toString.contains("graft_hot_terms"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val hot = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
      run(100L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert(hot.queryExecution.analyzed.toString.contains("graft_hot_terms"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(plain) === tfidfModel(2).toSet)
    assert(rows(hot) === tfidfModel(2).toSet)
    spark.catalog.clearCache()
  }

  test("tfidf route parity: heavy-hitter routing ≡ plain term join") {
    // hotTerms routes: 0 = plain single join; 1 = only the hottest term
    // broadcasts (forces a real hot/cold union); default 4096 swallows
    // the whole spec vocabulary (pure broadcast side). All three must be
    // row-identical.
    val df = corpus.toDF("doc_id", "text")
    def run(hot: Int) =
      Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2, hotTerms = hot)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val plain = run(0)
    assert(run(1) === plain)
    assert(run(4096) === plain)
    assert(plain === tfidfModel(2).toSet)
  }

  test("tfidf: a term in every doc scores exactly zero (ln N/N)") {
    val df = Seq((1L, "x common"), (2L, "y common"), (3L, "z common"))
      .toDF("doc_id", "text")
    val got = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2)
      .filter(col("term") === "common").collect()
    assert(got.length === 3)
    assert(got.forall(_.getDouble(3) === 0.0))
    // and the rarer term ranks first in each doc
    val first = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 1)
      .collect().map(_.getString(1)).toSet
    assert(first === Set("x", "y", "z"))
  }

  test("autoRouteHot survives Long-overflow-grade estimates (safe direction)") {
    // The Chao1 estimate caps at Long.MaxValue and explodes as n1² on
    // singleton-dominated samples; the multiply form of the broadcast
    // test (estVocab × 32) wrapped negative above ~2.9e17 and silently
    // picked PLAIN on exactly the huge-vocabulary corpus the hot route
    // protects. The division form must route.
    val bc = 10L << 20
    assert(Retrieval.autoRouteHot(Long.MaxValue, Long.MaxValue,
      Retrieval.DefaultHotTaskBytes, bc))
    assert(Retrieval.autoRouteHot(4000000L, Long.MaxValue,
      Retrieval.DefaultHotTaskBytes, bc))
    // and a max-df estimate past the multiply-overflow point still gates
    // on the broadcastable-vocabulary condition
    assert(!Retrieval.autoRouteHot(Long.MaxValue, 31L,
      Retrieval.DefaultHotTaskBytes, bc))
    // broadcast disabled (threshold mapped to 0): any vocabulary routes
    // once the task bound holds
    assert(Retrieval.autoRouteHot(4000000L, 1L,
      Retrieval.DefaultHotTaskBytes, 0L))
  }

  test("census is memoized per (session, plan, fraction) — one job, not N") {
    Retrieval.censusMemo.clear()
    val df = corpus.toDF("doc_id", "text")
    val runs0 = Retrieval.censusRuns.get()
    val a = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2,
      censusFraction = 1.0)
    val afterFirst = Retrieval.censusRuns.get()
    assert(afterFirst === runs0 + 1, "first construction runs the census")
    val b = Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2,
      censusFraction = 1.0)
    assert(Retrieval.censusRuns.get() === afterFirst,
      "same-corpus repeat must hit the memo, not re-census")
    // the memoized decision serves identical results
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(a) === rows(b))
    // a different fraction is a different decision key
    Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 2,
      censusFraction = 0.9999)
    assert(Retrieval.censusRuns.get() === afterFirst + 1)
    // a semantically different source re-censuses
    Retrieval.tfidfTopTerms(df.filter(col("doc_id") =!= 5L), "doc_id",
      "text", m = 2, censusFraction = 1.0)
    assert(Retrieval.censusRuns.get() === afterFirst + 2)
    Retrieval.censusMemo.clear()
    assert(Retrieval.censusMemo.size === 0)
  }

  test("hot-route df cache is bounded and managed (no growth across calls)") {
    Retrieval.dfMemo.clear()
    import spark.implicits._
    def persistedCount(): Int = spark.sparkContext.getPersistentRDDs.size
    // distinct corpora, each forced onto the hot route: entries must not
    // grow past the LRU cap, and evictions must unpersist
    val base = persistedCount()
    for (i <- 1 to 6) {
      val df = (corpus :+ (100L + i, s"unique$i token$i"))
        .toDF("doc_id", "text")
      Retrieval.tfidfTopTerms(df, "doc_id", "text", m = 1, hotTerms = 1)
        .collect()
    }
    assert(Retrieval.dfMemo.size <= 4, "LRU cap must bound the entries")
    assert(persistedCount() - base <= 4,
      "evictions must unpersist the df aggregate")
    // repeat calls on ONE corpus: no new entries, no new storage, and the
    // heavy-hitter close is not re-collected (entry identity is stable)
    val one = corpus.toDF("doc_id", "text")
    Retrieval.tfidfTopTerms(one, "doc_id", "text", m = 1, hotTerms = 1)
      .collect()
    val sizeAfter = Retrieval.dfMemo.size
    val storeAfter = persistedCount()
    for (_ <- 1 to 3)
      Retrieval.tfidfTopTerms(one, "doc_id", "text", m = 1, hotTerms = 1)
        .collect()
    assert(Retrieval.dfMemo.size === sizeAfter)
    assert(persistedCount() === storeAfter)
    // clearCache empties storage but a later hit re-persists lazily and
    // still serves correct rows (the pair-cache convention)
    spark.catalog.clearCache()
    val got = Retrieval.tfidfTopTerms(one, "doc_id", "text", m = 2,
        hotTerms = 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === tfidfModel(2).toSet)
    Retrieval.dfMemo.clear()
    assert(Retrieval.dfMemo.size === 0)
  }

  test("both operators are independent of input partitioning") {
    val df = corpus.toDF("doc_id", "text")
    def bm(d: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25TopK(d, "doc_id", "text", Seq("apple", "banana"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def tt(d: org.apache.spark.sql.DataFrame) =
      Retrieval.tfidfTopTerms(d, "doc_id", "text", m = 2)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(bm(df.repartition(1)) === bm(df.repartition(7)))
    assert(tt(df.repartition(1)) === tt(df.repartition(7)))
  }
}
