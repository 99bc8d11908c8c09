package graft.text

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Round-16 index/cache maintenance contracts: content-signature
  * invalidation of the df and census memos after in-place corpus changes,
  * the one-generation deferred segment sweep (outstanding readers survive
  * a commit), empty-segment stats, manifest path escaping + gzip packing,
  * the batched directory listing, the single-writer lock, and the
  * decidable census-skip on the indexed TF-IDF form. */
class RetrievalMaintenanceSpec extends SparkSpecBase {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple apple apple banana"),
    (4L, "durian cherry banana"),
    (5L, "elderberry"))

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("hot-route df cache invalidates on in-place corpus change") {
    Retrieval.dfMemo.clear()
    val dir = s"${tmpDir("graft_dfsig")}/docs.parquet"
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(dir)
    // populate the cache from the original corpus (forced hot route)
    val r1 = Retrieval.tfidfTopTerms(spark.read.parquet(dir), "doc_id",
        "text", m = 2, hotTerms = 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(!r1.exists(_._2 == "zzz"))
    // append NEW terms in place: same path, so a re-read sameResult-matches
    // the cached tf plan — the round-15 cache then joined the fresh tf
    // against the STALE collected hotRows and STALE persisted dft, and
    // the new terms were silently dropped by the inner join
    Seq((100L, "zzz zzz qqq")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(dir)
    val fresh = spark.read.parquet(dir)
    val hot = Retrieval.tfidfTopTerms(fresh, "doc_id", "text", m = 2,
        hotTerms = 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val plain = Retrieval.tfidfTopTerms(fresh, "doc_id", "text", m = 2,
        hotTerms = 0)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(hot.exists(_._2 == "zzz"), "new terms must survive the df join")
    assert(hot === plain, "hot route must serve the FRESH corpus's df")
    Retrieval.dfMemo.clear()
    spark.catalog.clearCache()
  }

  test("census memo invalidates on in-place corpus change, hits otherwise") {
    Retrieval.censusMemo.clear()
    val dir = s"${tmpDir("graft_censig")}/docs.parquet"
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(dir)
    val runs0 = Retrieval.censusRuns.get()
    Retrieval.tfidfTopTerms(spark.read.parquet(dir), "doc_id", "text",
      m = 1, censusFraction = 1.0)
    assert(Retrieval.censusRuns.get() === runs0 + 1)
    // an unchanged RE-READ of the same path still hits the memo
    Retrieval.tfidfTopTerms(spark.read.parquet(dir), "doc_id", "text",
      m = 1, censusFraction = 1.0)
    assert(Retrieval.censusRuns.get() === runs0 + 1,
      "unchanged re-read must hit the census memo")
    // an in-place append breaks data identity: the route decision must be
    // recomputed from the fresh corpus, not served from stale estimates
    Seq((100L, "zzz zzz qqq")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(dir)
    Retrieval.tfidfTopTerms(spark.read.parquet(dir), "doc_id", "text",
      m = 1, censusFraction = 1.0)
    assert(Retrieval.censusRuns.get() === runs0 + 2,
      "in-place change must re-census")
    Retrieval.censusMemo.clear()
  }

  test("deferred sweep: readers of the previous generation survive one commit") {
    val base = tmpDir("graft_sweep")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(corpusDir)
    def build(): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir)
    def segDirExists(name: String): Boolean =
      new java.io.File(s"$idxDir/$name").exists()
    write(corpus)
    build() // gen 0: seg_00000
    // a lazy reader obtained under the gen-0 manifest
    val oldReader = Retrieval.bm25FromIndex(spark, idxDir, Seq("apple"), 10)
    // in-place MODIFY forces a full rebuild into seg_00001; the round-15
    // eager sweep deleted seg_00000 here and this reader died with
    // FileNotFoundException mid-plan
    write(corpus.filterNot(_._1 == 3L))
    build()
    assert(Retrieval.lastBuildInfo.mode === "full")
    assert(segDirExists("seg_00000"),
      "previous generation must survive one commit for outstanding readers")
    assert(oldReader.collect().map(_.getLong(0)).toSet === Set(1L, 3L),
      "gen-0 reader must still serve gen-0 data")
    val gen1Reader = Retrieval.bm25FromIndex(spark, idxDir, Seq("apple"), 10)
    // a second commit: gen 0 is now two generations back → swept; gen 1
    // is the new previous generation → kept
    write(corpus.filterNot(_._1 <= 2L))
    build()
    assert(Retrieval.lastBuildInfo.mode === "full")
    assert(!segDirExists("seg_00000"),
      "generation N−2 must be swept at commit N")
    assert(segDirExists("seg_00001"))
    assert(gen1Reader.collect().map(_.getLong(0)).toSet === Set(1L),
      "gen-1 reader must still serve through the gen-2 commit")
  }

  test("empty appended file: zero-row segment has sumdl 0 and never wedges") {
    val base = tmpDir("graft_empty")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    def build(maxSegments: Int = 8): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir, maxSegments = maxSegments)
    build()
    // append a ZERO-ROW parquet file (e.g. a micro-batch that emitted
    // only schema): sum(dl) over the empty frame is null, which the
    // round-15 stats write recorded as-is — the next compaction sort and
    // indexStatus then threw NullPointerException, wedging the index
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        corpus.toDF("doc_id", "text").schema)
      .coalesce(1).write.mode("append").parquet(corpusDir)
    build()
    assert(Retrieval.lastBuildInfo.mode === "append",
      "an appended empty file is still an append")
    val status = Retrieval.indexStatus(spark, idxDir)
      .orderBy(col("segment")).collect()
    assert(status.length === 2)
    assert(status(1).getAs[Long]("n_docs") === 0L)
    assert(status(1).getAs[Long]("n_tokens") === 0L)
    // compaction over the empty segment must not throw either
    Seq((6L, "fig")).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(corpusDir)
    build(maxSegments = 2)
    assert(Retrieval.lastBuildInfo.mode === "compact")
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("fig"), 10)
      .collect().map(_.getLong(0)).toSeq === Seq(6L))
  }

  test("tier-ratio compaction: one merge swallows the bottom tier, then appends") {
    // r17 write-amplification fix: at the segment cap the victim set
    // extends through the whole similar-size bottom tier, so ONE
    // compaction clears enough headroom that the following appends
    // commit as plain appends instead of re-compacting every batch —
    // while a big segment (> TierRatio × the bottom tier's total) is
    // still never rewritten.
    val base = tmpDir("graft_tier")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    // Big base: enough filler tokens to dominate every small tier.
    val fillers = (100L to 400L).map(i =>
      (i, s"fill$i " + (1 to 8).map(j => s"w${i}_$j").mkString(" ")))
    (corpus ++ fillers).toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    def build(): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir, maxSegments = 4)
    def manifest() = Retrieval.readSegmentManifest(spark, idxDir).get
    def append(id: Long, text: String): Unit =
      Seq((id, text)).toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(corpusDir)
    build()
    assert(Retrieval.lastBuildInfo.mode === "full")
    val bigDir = manifest()("seg.0.dir")
    // three small appends fill the cap (big + 3 smalls = 4 segments)
    append(6L, "fig banana"); build()
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("append", 2, 1))
    append(7L, "fig cherry"); build()
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("append", 3, 1))
    append(8L, "fig grape"); build()
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("append", 4, 1))
    // the 4th small append crosses the cap: the minimal victim set is 1
    // segment, but all three smalls sit in one size tier — the merge
    // takes the WHOLE tier and the count drops to 2 (big + merged smalls)
    append(9L, "fig kiwi"); build()
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("compact", 2, 1))
    val m1 = manifest()
    assert(Seq(m1("seg.0.dir"), m1("seg.1.dir")).contains(bigDir),
      "the big segment must survive the tier merge un-rewritten")
    // ...so the NEXT appends are plain appends, not compactions
    append(10L, "fig lime"); build()
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("append", 3, 1))
    append(11L, "fig mango"); build()
    assert(Retrieval.lastBuildInfo === Retrieval.IndexBuildInfo("append", 4, 1))
    // served results equal the from-scratch form over the same corpus
    val direct = Retrieval.bm25TopK(spark.read.parquet(corpusDir),
        "doc_id", "text", Seq("fig"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexed = Retrieval.bm25FromIndex(spark, idxDir, Seq("fig"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed === direct)
  }

  test("manifest file entries: separator-bearing paths round-trip, loud on corrupt") {
    val nasty = Seq(
      Retrieval.IndexFile("/plain/path/part-0.parquet", 10L, 20L),
      Retrieval.IndexFile("/has\nnewline/part-1.parquet", 11L, 21L),
      Retrieval.IndexFile("/has\u0001sep\u0001twice", 12L, 22L),
      Retrieval.IndexFile("/back\\slash\\end\\", 13L, 23L),
      Retrieval.IndexFile("/all\\three\n\u0001mixed", 14L, 24L))
    val encoded = Retrieval.encodeFiles(nasty)
    assert(Retrieval.decodeFiles(encoded) === nasty,
      "framing must survive embedded separators in paths")
    // escape-free paths stay byte-identical (old manifests decode as-is)
    val plain = Seq(Retrieval.IndexFile("/a/b c/d.parquet", 1L, 2L))
    assert(Retrieval.encodeFiles(plain).startsWith("/a/b c/d.parquet"))
    assert(Retrieval.unescapePath("/a/b c/d.parquet") === "/a/b c/d.parquet")
    // corrupt escapes fail loudly, never silently mis-decode
    intercept[java.io.IOException](Retrieval.unescapePath("bad\\q"))
    intercept[java.io.IOException](Retrieval.unescapePath("dangling\\"))
  }

  test("manifest file entries gzip-pack past the threshold and round-trip") {
    val many = (0 until 5000).map(i => Retrieval.IndexFile(
      f"/data/corpus/part-$i%05d-0000-c000.snappy.parquet", 1000L + i, 2000L + i))
    val packed = Retrieval.packFiles(many)
    assert(packed.startsWith("gz:"), "large listings must pack")
    assert(packed.length < Retrieval.encodeFiles(many).length / 5,
      "shared path prefixes must compress substantially")
    assert(Retrieval.unpackFiles(packed) === many)
    // small listings stay human-readable plain text
    val few = Seq(Retrieval.IndexFile("/a/part-0.parquet", 1L, 2L))
    assert(!Retrieval.packFiles(few).startsWith("gz:"))
    assert(Retrieval.unpackFiles(Retrieval.packFiles(few)) === few)
    // corrupt packed blobs are loud (never an empty listing)
    intercept[Exception](Retrieval.unpackFiles("gz:!!!not-base64!!!"))
  }

  test("fileListing batches: one listStatus per parent directory, not per file") {
    val dir = s"${tmpDir("graft_list")}/docs.parquet"
    corpus.toDF("doc_id", "text").repartition(6)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val nFiles = df.inputFiles.length
    assert(nFiles >= 2, "need a multi-file corpus for the batching claim")
    val calls0 = Retrieval.listingCalls.get()
    val listing = Retrieval.fileListing(df)
    assert(Retrieval.listingCalls.get() - calls0 === 1L,
      s"$nFiles files in one directory must cost ONE listStatus")
    assert(listing.size === nFiles)
    assert(listing.map(_.path) === df.inputFiles.sorted.toSeq,
      "manifest paths must be the scan's own path strings")
    assert(listing.forall(f => f.len > 0L && f.mtime > 0L))
  }

  test("single-writer lock: a live concurrent build fails fast; stale locks steal") {
    val base = tmpDir("graft_lock")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    val lock = new java.io.File(s"$idxDir/_build.lock")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    // a FRESH lock is a live builder: loud failure, index untouched
    val e = intercept[IllegalStateException] {
      Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
        "doc_id", "text", idxDir, sourceTag = corpusDir)
    }
    assert(e.getMessage.contains("single-writer"))
    assert(Retrieval.readSegmentManifest(spark, idxDir).isEmpty)
    // a STALE lock is a crashed builder's leftover: stolen, build proceeds
    assert(lock.setLastModified(
      System.currentTimeMillis() - graft.util.BuildLock.StaleMs - 60000L))
    Retrieval.buildPostingsIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", idxDir, sourceTag = corpusDir)
    assert(Retrieval.lastBuildInfo.mode === "full")
    assert(!lock.exists(), "the lock must be released after the build")
    assert(Retrieval.bm25FromIndex(spark, idxDir, Seq("apple"), 10)
      .count() === 2L)
  }

  test("legacy (pre-esc1) manifests decode paths verbatim; new ones escape") {
    // an r15-era manifest has no files_codec key and wrote paths
    // VERBATIM — running unescapePath over it would throw on a
    // legitimate backslash or silently alter the path, breaking append
    // identity. The codec flag gates the decode.
    val legacyRaw = "/data/a\\december/part-0.parquet\u00015\u00017"
    val legacy = Map(
      "config" -> "c", "n_segments" -> "1",
      "seg.0.dir" -> "seg_00000", "seg.0.files" -> legacyRaw)
    val decodedLegacy = Retrieval.decodeSegments(legacy)
    assert(decodedLegacy.head.files ===
      Seq(Retrieval.IndexFile("/data/a\\december/part-0.parquet", 5L, 7L)),
      "legacy paths must decode byte-verbatim, backslashes included")
    // the same blob under the esc1 codec IS interpreted (here: loudly)
    val esc1 = legacy + ("files_codec" -> "esc1")
    intercept[java.io.IOException](Retrieval.decodeSegments(esc1))
    // and a freshly-written manifest carries the codec marker
    val dir = tmpDir("graft_codec")
    Retrieval.buildPostingsIndex(corpus.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", sourceTag = "spec")
    assert(Retrieval.readSegmentManifest(spark, s"$dir/idx").get
      .get("files_codec").contains("esc1"))
  }

  test("indexed tfidf skips the census when the stats row bounds max-df") {
    val base = tmpDir("graft_skip")
    val idxDir = s"$base/idx"
    val df = corpus.toDF("doc_id", "text")
    Retrieval.buildPostingsIndex(df, "doc_id", "text", idxDir,
      sourceTag = "spec")
    val runs0 = Retrieval.censusRuns.get()
    // N = 5 docs → max possible df = 5 ≪ hotTaskBytes/PostingRowBytes:
    // the hot route can never fire, so the census job must be skipped
    val out = Retrieval.tfidfFromIndex(spark, idxDir, m = 2)
    assert(Retrieval.censusRuns.get() === runs0,
      "stats-bounded corpus must not pay the census job")
    assert(!out.queryExecution.analyzed.toString.contains("graft_hot_terms"))
    // and the skipped decision is value-identical to the forced plain one
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(out) ===
      rows(Retrieval.tfidfFromIndex(spark, idxDir, m = 2, hotTerms = 0)))
    // shrinking the task bound below N re-enables the census
    Retrieval.censusMemo.clear()
    Retrieval.tfidfFromIndex(spark, idxDir, m = 2, hotTaskBytes = 100L,
      censusFraction = 1.0)
    assert(Retrieval.censusRuns.get() === runs0 + 1,
      "above the bound the census must run as before")
    Retrieval.censusMemo.clear()
  }

  test("retention ledger: gen-0 reader survives keepGenerations commits") {
    val base = tmpDir("graft_retention")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(corpusDir)
    def build(): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir, keepGenerations = 3, graceMs = 0L)
    def segDirExists(name: String): Boolean =
      new java.io.File(s"$idxDir/$name").exists()
    write(corpus)
    build() // gen 1: seg_00000
    val gen0Reader = Retrieval.bm25FromIndex(spark, idxDir, Seq("apple"), 10)
    // three in-place MODIFY rebuilds — each retires the previous segment
    write(corpus.filterNot(_._1 == 3L)); build() // gen 2
    write(corpus.filterNot(_._1 <= 2L)); build() // gen 3
    write(corpus.filterNot(_._1 <= 3L)); build() // gen 4
    assert(segDirExists("seg_00000"),
      "gen-0 segment must survive keepGenerations=3 commits")
    assert(gen0Reader.collect().map(_.getLong(0)).toSet === Set(1L, 3L),
      "gen-0 reader must still serve gen-0 data after 3 commits")
    // the 4th commit puts gen 0 four generations back -> swept; the
    // ledger bounds retention: only the last keepGenerations retire dirs
    // remain on disk
    write(corpus.filterNot(_._1 <= 4L)); build() // gen 5
    assert(!segDirExists("seg_00000"),
      "generation N-4 must be swept once past keepGenerations=3")
    assert(segDirExists("seg_00004"), "live segment stays")
    val m = Retrieval.readSegmentManifest(spark, idxDir).get
    assert(Retrieval.decodeRetired(m).size <= 3,
      "ledger must hold at most keepGenerations retired dirs here")
  }

  test("retention ledger: graceMs keeps a just-retired dir past its generations") {
    val base = tmpDir("graft_grace")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(corpusDir)
    def build(graceMs: Long): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir, keepGenerations = 0, graceMs = graceMs)
    def segDirExists(name: String): Boolean =
      new java.io.File(s"$idxDir/$name").exists()
    write(corpus)
    build(graceMs = 3600000L) // gen 1
    write(corpus.filterNot(_._1 == 3L)); build(graceMs = 3600000L) // gen 2
    // keepGenerations=0 would sweep gen 0 here, but the 1 h grace holds it
    assert(segDirExists("seg_00000"),
      "a just-retired dir inside graceMs must survive even past its generations")
    // grace elapsed (0 ms): the next commit sweeps it
    write(corpus.filterNot(_._1 <= 2L)); build(graceMs = 0L) // gen 3
    assert(!segDirExists("seg_00000"),
      "once past generations AND grace the dir is swept")
  }

  test("rebuild with a changed id type serves the new type, not a stale schema") {
    val base = tmpDir("graft_idtype")
    val corpusDir = s"$base/docs.parquet"
    val idxDir = s"$base/idx"
    def build(): Unit = Retrieval.buildPostingsIndex(
      spark.read.parquet(corpusDir), "doc_id", "text", idxDir,
      sourceTag = corpusDir)
    def serve() = Retrieval.bm25FromIndex(spark, idxDir, Seq("apple"), k = 10)
      .select("doc").collect().map(_.get(0)).toSet
    corpus.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(corpusDir)
    build()
    assert(serve() === Set[Any](1L, 3L))
    // same path, same column names, doc_id now a string
    corpus.map { case (id, text) => (s"d$id", text) }.toDF("doc_id", "text")
      .repartition(1).write.mode("overwrite").parquet(corpusDir)
    build()
    assert(serve() === Set[Any]("d1", "d3"))
  }
}
