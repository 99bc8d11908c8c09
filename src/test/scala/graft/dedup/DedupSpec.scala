package graft.dedup

import graft.SparkSpecBase

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words here nothing shared at all today"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, canonical = min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length === 3)
    val dupGroup = out.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dupGroup.getAs[Long]("canonical_id") === 1L)
  }

  test("shingles produce distinct n-grams") {
    val sh = Dedup.shingles(docs.filter($"doc_id" === 1), "doc_id", "text", 3)
      .collect().map(_.getAs[String]("shingle")).toSet
    assert(sh.contains("the quick brown"))
    assert(sh.contains("over the lazy"))
    assert(sh.size === 7) // 9 tokens -> 7 trigrams, all distinct here
  }

  test("docShingleArrays matches the Catalyst shingle+hash path per doc") {
    import org.apache.spark.sql.functions._
    // odd corpus shapes: multi-space runs (empty tokens), < n tokens
    // (absent), repeated shingles (distinct), unicode text
    val tricky = docs.union(Seq(
      (10L, "a  b a  b a  b"), // empty tokens from double spaces, repeats
      (11L, "too short"),      // < 3 tokens -> absent
      (12L, "naïve café déjà vu naïve café déjà")
    ).toDF("doc_id", "text"))
    val want = Dedup.shingles(tricky, "doc_id", "text", 3)
      .select(col("doc_id"), Dedup.shingleHash.as("h"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("h"))).as("arr"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = Dedup.docShingleArrays(tricky, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.keySet === want.keySet) // doc 11 absent from both
    assert(!got.contains(11L))
    for ((k, w) <- want) assert(got(k) === w, s"doc $k arrays diverge")
  }

  test("simhash kernel matches the Catalyst witness bit-for-bit") {
    val tricky = docs.union(Seq(
      (10L, "a  b a  b"),          // empty tokens, repeats
      (12L, "naïve café déjà vu")  // unicode
    ).toDF("doc_id", "text"))
    for (bits <- Seq(16, 60)) {
      val want = Dedup.simhashCatalyst(tricky, "doc_id", "text", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = Dedup.simhash(tricky, "doc_id", "text", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"simhash($bits) diverges from the witness")
    }
  }

  test("ngram jaccard finds the planted near-dup and the exact dup") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).sortBy(p => (p._1, p._2))
    // (1,4) exact -> jaccard 1.0; (1,2)/(2,4) share 6 of 8 union trigrams
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j14 = pairs.find(p => (p._1, p._2) == (1L, 4L)).get._3
    assert(j14 === 1.0)
    val j12 = pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3
    assert(math.abs(j12 - 6.0 / 8.0) < 1e-12)
  }

  test("minhash LSH surfaces exact dup as candidate with jaccard 1.0") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 12, 3, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.contains((1L, 4L))) // identical docs always share every band
  }

  test("simhash: identical docs get identical fingerprints; disjoint docs differ") {
    val fp = Dedup.simhash(docs, "doc_id", "text", 32).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fp(1L) === fp(4L))
    assert(fp(1L) !== fp(3L))
  }

  test("simhash pairs finds identical pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 32, 3).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Number]("hamming").longValue())).toMap
    assert(pairs.get((1L, 4L)).contains(0L))
  }

  /** Clustered + background corpus for the simhash route parity specs:
    * 40 near-dup clusters of 5 single-token mutations (pairs at small
    * hamming) over 200 unrelated background docs (at bits=16 the narrow
    * fingerprint also yields accidental ≤ maxDist pairs across clusters —
    * exactly the collision regime the two-level route must preserve). */
  private def routeCorpus = {
    val clustered = (0 until 40).flatMap { c =>
      (0 until 5).map { v =>
        ((c * 5 + v).toLong,
          s"cluster$c alpha beta gamma delta epsilon zeta eta theta variant$v")
      }
    }
    val background = (0 until 200).map { i =>
      (1000L + i, s"unrelated$i text$i body$i with$i words$i entirely$i distinct$i")
    }
    spark.createDataFrame(clustered ++ background).toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Int]("hamming"))).toSet

  test("simhash pairs: two-level sub-segment route emits the identical set") {
    for ((bits, maxDist) <- Seq((16, 3), (60, 3), (60, 1), (32, 2))) {
      val one = pairSet(Dedup.simhashPairs(routeCorpus, "doc_id", "text",
        bits, maxDist, maxMeanOccupancy = Double.MaxValue))
      val two = pairSet(Dedup.simhashPairs(routeCorpus, "doc_id", "text",
        bits, maxDist, maxMeanOccupancy = 0.0))
      assert(two === one, s"route divergence at bits=$bits maxDist=$maxDist")
      assert(one.nonEmpty, s"degenerate spec: no pairs at bits=$bits maxDist=$maxDist")
    }
  }

  test("simhash pairs: default route agrees with both forced routes") {
    // bits=16/maxDist=3 → segBits=4 → occupancy 400/16 = 25 > 8 cap
    // routes two-level; the assertion is route-independent either way.
    val default = pairSet(Dedup.simhashPairs(routeCorpus, "doc_id", "text", 16, 3))
    val forced = pairSet(Dedup.simhashPairs(routeCorpus, "doc_id", "text", 16, 3,
      maxMeanOccupancy = 0.0))
    assert(default === forced)
  }

  test("simhash sub-layout: chunks are disjoint, cover all non-segment bits, near-equal") {
    for ((bits, maxDist) <- Seq((60, 3), (16, 3), (60, 1), (30, 4))) {
      val nSeg = maxDist + 1
      val segBits = bits / nSeg
      val (pos, masks) = Dedup.simhashSubLayout(bits, maxDist)
      assert(pos.length === nSeg)
      for (s <- 0 until nSeg) {
        val segRange = (s * segBits) until ((s + 1) * segBits)
        val all = pos(s).flatten
        assert(all.toSet === (0 until bits).toSet -- segRange.toSet)
        assert(all.length === all.toSet.size) // disjoint chunks
        val sizes = pos(s).map(_.length)
        assert(sizes.max - sizes.min <= 1)
        for (j <- 0 until nSeg)
          assert(masks(s)(j) ===
            pos(s)(j).foldLeft(0L)((m, p) => m | (1L << p)))
      }
    }
  }

  // ---- adversarial skew: one boilerplate phrase shared by every doc ----

  /** 1k docs, each: common 6-token boilerplate prefix + unique tail.
    * Uncapped, the boilerplate trigrams' posting lists hold all 1k docs →
    * ~500k candidate pairs PER HOT SHINGLE in one task; capped, they are
    * dropped before the self-join. */
  private def hotCorpus = {
    val rows = (1L to 1000L).map { i =>
      (i, s"terms of service apply to everything uniquely$i worded$i document$i body$i")
    }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  test("df cap drops hot shingles: every surviving posting list is bounded") {
    import org.apache.spark.sql.functions._
    val capped = Dedup.cappedShingles(hotCorpus, "doc_id", "text", 3, maxDf = 100)
    val maxPosting = capped.groupBy("shingle").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPosting <= 100, s"posting list of size $maxPosting survived the cap")
    // and the hot boilerplate shingle is indeed gone
    assert(capped.filter(col("shingle") === "terms of service").count() === 0)
  }

  // ---- hotAndStop: chunked two-pass pre-filter vs the exact groupBy ----

  /** The old exact form, kept in the spec as the reference: explode →
    * groupBy(shingle).count → filter df > b / df > maxDf. */
  private def hotAndStopReference(arrs: org.apache.spark.sql.DataFrame,
      bound: Int, maxDf: Int): (Seq[Long], Seq[Long]) = {
    import org.apache.spark.sql.functions._
    val b = math.min(bound, maxDf)
    val rows = arrs.select(explode(col("arr")).as("shingle"))
      .groupBy("shingle").count().filter(col("count") > b).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    (rows.map(_._1).sorted.toSeq,
      rows.filter(_._2 > maxDf).map(_._1).sorted.toSeq)
  }

  test("hotAndStop chunked path: finds hot + stop shingles exactly, no full exchange") {
    // 8k-occurrence stream in one partition, chunkSize 500 -> 16 chunks,
    // bound 100 >= 16 chunks: the pigeonhole pre-filter path runs (no
    // fallback) and must match the exact groupBy reference
    val arrs = Dedup.docShingleArrays(hotCorpus.repartition(1), "doc_id", "text", 3)
    val (hot, stop) = Dedup.hotAndStop(arrs, 100, 500, chunkSize = 500)
    val (refHot, refStop) = hotAndStopReference(arrs, 100, 500)
    assert(hot.toSeq === refHot)
    assert(stop.toSeq === refStop)
    assert(hot.nonEmpty, "boilerplate trigrams (df=1000) must be hot at bound 100")
    assert(stop.toSeq === refHot.intersect(refStop), "df=1000 > maxDf=500 -> also stop")
  }

  test("hotAndStop classifies hot-but-not-stop vs stop exactly") {
    // one shingle per doc: X df=10 (> maxDf 5 -> hot+stop), Y df=4
    // (> bound 3 -> hot only), Z df=2 (neither)
    val rows = (1 to 10).map(i => (i.toLong, "x x x")) ++
      (11 to 14).map(i => (i.toLong, "y y y")) ++
      (15 to 16).map(i => (i.toLong, "z z z"))
    val arrs = Dedup.docShingleArrays(
      rows.toDF("doc_id", "text").repartition(1), "doc_id", "text", 3)
    val (hot, stop) = Dedup.hotAndStop(arrs, 3, 5)
    val (refHot, refStop) = hotAndStopReference(arrs, 3, 5)
    assert(hot.toSeq === refHot)
    assert(stop.toSeq === refStop)
    assert(hot.length === 2 && stop.length === 1)
  }

  test("hotAndStop falls back to the exact form when chunks outgrow the bound") {
    // chunkSize 4 over an 8k stream -> ~2000 chunks > bound 100: the
    // pre-filter is unsound there, so the implementation must take the
    // exact groupBy path and still return the right sets
    val arrs = Dedup.docShingleArrays(hotCorpus.repartition(4), "doc_id", "text", 3)
    val (hot, stop) = Dedup.hotAndStop(arrs, 100, 500, chunkSize = 4)
    val (refHot, refStop) = hotAndStopReference(arrs, 100, 500)
    assert(hot.toSeq === refHot)
    assert(stop.toSeq === refStop)
  }

  test("hotAndStop on an empty corpus returns empty sets") {
    val arrs = Dedup.docShingleArrays(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", 3)
    val (hot, stop) = Dedup.hotAndStop(arrs, 10, 100)
    assert(hot.isEmpty && stop.isEmpty)
  }

  test("bandedCandidates matches the band self-join witness, pairs unique by construction") {
    // corpus with exact dups (same slots in every band -> candidates from
    // band 0 only), near dups (some bands agree), and unrelated docs
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup
      (4L, "totally different text with other words inside entirely"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta")  // exact dup of 1
    ).toDF("doc_id", "text")
    val arrs = Dedup.docShingleArrays(corpus, "doc_id", "text", 3)
    val mh = Dedup.minhashSignatureKernel(arrs, "doc_id", Array.empty,
      numHashes = 12, rowsPerBand = 3)
    val got = Dedup.bandedCandidates(mh, "doc_id", 12, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // witness: per band, bucket docs by the band's slot triple, emit all
    // in-bucket pairs, union + distinct — the old self-join shape
    val docs = mh.collect().map { r =>
      val slots = r.getSeq[Int](3).toArray
      (r.getLong(0), slots)
    }
    val expected = (for {
      b <- 0 until 4
      grouped = docs.groupBy(_._2.slice(b * 3, b * 3 + 3).toSeq)
      bucket <- grouped.values
      i <- bucket.indices; j <- (i + 1) until bucket.length
    } yield {
      val (x, y) = (bucket(i)._1, bucket(j)._1)
      (math.min(x, y), math.max(x, y))
    }).distinct.sorted
    assert(got.length === got.distinct.length,
      "kernel emitted a duplicate pair (lowest-band dedup broke)")
    assert(got.sorted.toSeq === expected)
    // the exact-dup cluster {1,2,5} is fully paired
    val gotSet = got.toSet
    assert(Set((1L, 2L), (1L, 5L), (2L, 5L)).subsetOf(gotSet))
  }

  test("hot-shingle corpus: capped jaccard and LSH emit no false pairs and stay bounded") {
    // 1000 docs sharing only boilerplate: with the cap, candidate fan-out
    // collapses and no pair clears the threshold (their real overlap is 0).
    val j = Dedup.ngramJaccard(hotCorpus, "doc_id", "text", 3, 0.5, maxDf = 100)
    assert(j.count() === 0)
    val l = Dedup.minhashLsh(hotCorpus, "doc_id", "text", 3, 12, 3, 0.5, maxDf = 100)
    assert(l.count() === 0)
  }

  test("prefix filter is lossless: matches a full inverted-index join exactly") {
    import org.apache.spark.sql.functions._
    // overlap-heavy corpus: 60 docs built from a sliding window over a
    // shared vocabulary, so jaccard values span the whole (0, 1] range
    val rows = (0 until 60).map { i =>
      val words = (0 until 12).map(w => s"w${(i / 3) * 2 + w}")
      (i.toLong, words.mkString(" "))
    }
    val corpus = spark.createDataFrame(rows).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.ngramJaccard(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
      // independent reference: FULL inverted-index self-join, no prefix
      val sh = Dedup.cappedShingles(corpus, "doc_id", "text", 3)
        .select(col("doc_id").cast("long").as("doc_id"), col("shingle"))
      val sizes = sh.groupBy("doc_id").count()
      val want = sh.select(col("doc_id").as("id_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
        .join(sizes.select(col("doc_id").as("id_a"), col("count").as("sz_a")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("count").as("sz_b")), Seq("id_b"))
        .withColumn("j", col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
        .filter(col("j") >= t)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          BigDecimal(r.getAs[Double]("j")).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
      assert(got === want, s"prefix filter lost/invented pairs at t=$t")
      assert(want.nonEmpty, s"degenerate reference set at t=$t")
    }
  }

  test("ppjoin parity with the direct witness at edge thresholds (0.9, 1.0)") {
    // high thresholds shrink prefixes to 1-2 shingles — the regime where
    // an off-by-one in prefix length or positional bound silently loses
    // true pairs. Corpus has exact dups (j=1.0) and heavy-overlap pairs.
    val rows = (0 until 40).map { i =>
      val words = (0 until 10).map(w => s"w${(i / 4) + w}")
      (i.toLong, words.mkString(" "))
    }
    val corpus = spark.createDataFrame(rows).toDF("doc_id", "text")
    // longer documents at a middle threshold, built so the prefix bound
    // is tight: each pair's shorter doc holds half of the longer one's
    // shingles (jaccard exactly 0.5), and every shingle only the longer
    // doc has sorts (ascending hash) before the shared ones, so a prefix
    // one shingle short holds no shared shingle and loses the pair
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash(ws: Seq[String]) = Dedup.shingleHashesOf(ws.mkString(" "), 3, md).head
    def grow(doc: Seq[String], tag: String, keep: Long => Boolean) =
      (0 until 18).foldLeft(doc) { (d, j) =>
        d :+ Iterator.from(0).map(k => s"$tag$j.$k")
          .find(w => keep(hash(d.takeRight(2) :+ w))).get
      }
    val halves = (0 until 8).flatMap { i =>
      val short = grow(Seq(s"a$i", s"b$i"), s"s$i.", _ >= (1L << 59))
      val long = grow(short, s"l$i.", _ < (1L << 59))
      Seq((100L + 2 * i, short.mkString(" ")), (101L + 2 * i, long.mkString(" ")))
    }
    val longer = spark.createDataFrame(halves).toDF("doc_id", "text")
    for ((docs, t) <- Seq((corpus, 0.9), (corpus, 1.0), (longer, 0.5))) {
      val got = Dedup.ngramJaccard(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = JaccardWitness.ngramJaccardDirect(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"ppjoin lost/invented pairs at t=$t")
      assert(want.nonEmpty, s"degenerate reference set at t=$t")
    }
  }

  test("ngram jaccard keeps string ids (no blind long cast) and matches the witness") {
    val rows = Seq(
      ("doc-a", "the quick brown fox jumps over the lazy dog"),
      ("doc-b", "the quick brown fox jumps over the lazy cat"),
      ("doc-c", "completely different words here nothing shared at all today"),
      ("doc-d", "the quick brown fox jumps over the lazy dog"))
    val corpus = spark.createDataFrame(rows).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.4)
    assert(out.schema("id_a").dataType ===
      org.apache.spark.sql.types.StringType)
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = JaccardWitness.ngramJaccardDirect(corpus, "doc_id", "text", 3, 0.4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === want)
    assert(got.contains(("doc-a", "doc-d")))
  }

  test("ngram jaccard rejects non-orderable id types loudly") {
    val corpus = spark.createDataFrame(Seq((1.5, "a b c d e")))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.5)
    }
    assert(e.getMessage.contains("integral or string"))
  }

  test("minhash LSH jaccard values agree with the exact pairwise witness") {
    // every pair LSH surfaces must carry the same exact-jaccard value the
    // direct inverted-index computation assigns it (the array verify is a
    // physical rewrite, not a semantic one)
    val rows = (0 until 40).map { i =>
      val words = (0 until 12).map(w => s"w${(i / 4) * 2 + w}")
      (i.toLong, words.mkString(" "))
    }
    val corpus = spark.createDataFrame(rows).toDF("doc_id", "text")
    val lsh = Dedup.minhashLsh(corpus, "doc_id", "text", 3, 12, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = JaccardWitness.ngramJaccardDirect(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j), s"pair $pair: lsh=$j exact=${exact.get(pair)}")
    }
  }

  test("df cap above the corpus size is a no-op (oracle-compat guarantee)") {
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.4, maxDf = 10000)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).sortBy(p => (p._1, p._2)).toSeq
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.4, maxDf = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).sortBy(p => (p._1, p._2)).toSeq
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("editNearDup: sequence-level cut separates edits from reorderings") {
    // 1↔2: identical (edit_sim 1.0). 1↔3: one word changed mid-doc
    // (small char edit — passes a high cut). 1↔4: the SAME token
    // multiset with the two halves swapped — shingle-Jaccard stays high
    // (order-blind) but half the characters move, so the sequence-level
    // verify drops it. That separation is the operator's contract.
    val half1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val half2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val corpus = Seq(
      (1L, s"$half1 $half2"),
      (2L, s"$half1 $half2"),
      (3L, s"$half1 $half2".replace("echo", "ecko")),
      (4L, s"$half2 $half1")
    ).toDF("doc_id", "text")
    val jacc = Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // precondition: the order-blind candidate stage passes ALL of these
    assert(jacc.contains((1L, 2L)) && jacc.contains((1L, 4L)),
      s"jaccard floor should pass both the dup and the reordering: $jacc")
    val out = Dedup.editNearDup(corpus, "doc_id", "text", 3,
        jaccardFloor = 0.5, minEditSim = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("edit_sim")).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) === 1.0)
    assert(out.contains((1L, 3L)) && out((1L, 3L)) < 1.0)
    assert(!out.contains((1L, 4L)),
      "reordered halves passed the sequence-level cut")
    // symmetric closure sanity: 2 pairs with doc 2 mirror doc 1's
    assert(out.contains((2L, 3L)) && !out.contains((2L, 4L)))
  }

  test("editNearDup banding is lossless: equals the unbanded verify exactly") {
    import org.apache.spark.sql.functions._
    // Corpus with pairs straddling the cut from both sides, including a
    // boundary-ish small edit: the banded kernel (levenshtein thr form)
    // must emit the identical (pairs, values) set as a full O(len²)
    // verify over the same Jaccard candidates.
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, words),
      (2L, words),                                  // identical
      (3L, words.replace("w7", "x7")),              // 1-char edit
      (4L, words.replace("w7 w8 w9", "a7 b8 c9")),  // 3-token edit
      (5L, words.replace("w20", "w20x w20y"))       // insertion
    ).toDF("doc_id", "text")
    def unbanded(minSim: Double) = Dedup
      .ngramJaccardCached(corpus, "doc_id", "text", 3, 0.5)
      .join(corpus.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
      .join(corpus.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
      .withColumn("edit_sim", round(lit(1.0) -
        levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6))
      .filter(col("edit_sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        col("edit_sim"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
       r.getAs[Double]("jaccard"), r.getAs[Double]("edit_sim"))).toSet
    for (cut <- Seq(0.9, 0.97)) {
      val want = asSet(unbanded(cut))
      val probed = asSet(Dedup.editNearDup(corpus, "doc_id", "text", 3,
        jaccardFloor = 0.5, minEditSim = cut))
      val supplied = asSet(Dedup.editNearDup(corpus, "doc_id", "text", 3,
        jaccardFloor = 0.5, minEditSim = cut, maxTextLen = 100000))
      assert(probed === want, s"banded (probed Lmax) diverged at cut $cut")
      assert(supplied === want, s"banded (supplied Lmax) diverged at cut $cut")
      assert(want.nonEmpty || cut > 0.96) // the 0.9 cut must exercise output
    }
  }
}
