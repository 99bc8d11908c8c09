package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import graft.SparkSpecBase
import graft.dedup.Dedup
import graft.ops.{AsOfJoin, GlobalRank}
import graft.plans.NativeAsOf

/** Property-based checks (scalacheck) for the kernels whose correctness
  * arguments are subtle enough that fixed examples under-test them: the
  * three as-of paths against a first-principles model on RANDOM streams,
  * the PPJoin dedup path against its direct witness on random corpora,
  * the simhash banded-pair pigeonhole (exactness, not approximation),
  * and the two-pass global rank against the single-task window.
  *
  * Each property runs full Spark jobs, so cases are few and small —
  * the value is randomized STRUCTURE (key skew, ts collisions, empty
  * sides, duplicate docs), not volume.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def check(name: String, prop: Prop, cases: Int = 8): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      prop)
    assert(res.passed, s"$name: $res")
  }

  // ---- as-of: three engine paths vs a first-principles model ----

  // (key, ts) events and (key, ts, sig) signals as plain tuples — inner
  // case classes trip Dataset encoder TypeTags. About a third of the
  // sig values are NULL: a matched row's NULL must come back NULL, not
  // back-filled from an older row.
  private val genAsOf = for {
    nKeys <- Gen.choose(1, 3)
    keys = Seq("AAA", "BBB", "CCC").take(nKeys)
    left <- Gen.listOfN(25, for {
      k <- Gen.oneOf(keys); t <- Gen.choose(0L, 50L)
    } yield (k, t))
    right <- Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.oneOf(keys); t <- Gen.choose(0L, 50L)
      s <- Gen.frequency(1 -> Gen.const(None), 2 -> Gen.choose(0L, 9L).map(Some(_)))
    } yield (k, t, s)))
  } yield (left, right)

  private type Matched = Option[(Long, Option[Long])] // the (sig_ts, sig) row

  /** The contract: the WHOLE latest right row with ts <= left.ts per key;
    * among right rows SHARING that ts, the highest payload wins, NULL
    * lowest (the kernel's documented tie-break). */
  private def asOfModel(left: Seq[(String, Long)],
                        right: Seq[(String, Long, Option[Long])]): Seq[(String, Long, Matched)] =
    left.map { case (key, ts) =>
      val at = right.filter(s => s._1 == key && s._2 <= ts)
      (key, ts, if (at.isEmpty) None else Some(at.map(s => (s._2, s._3)).max))
    }.sorted

  /** The forward mirror: the whole earliest right row with ts >= left.ts;
    * among right rows sharing that minimal ts, the highest payload wins. */
  private def asOfForwardModel(left: Seq[(String, Long)],
                               right: Seq[(String, Long, Option[Long])]): Seq[(String, Long, Matched)] =
    left.map { case (key, ts) =>
      val at = right.filter(s => s._1 == key && s._2 >= ts)
      (key, ts, if (at.isEmpty) None else {
        val minTs = at.map(_._2).min
        Some((minTs, at.filter(_._2 == minTs).map(_._3).max))
      })
    }.sorted

  private val asOfPayload = Seq("sig_ts", "sig")

  /** (key, ts, matched row) per left row; sig_ts is null exactly when no
    * right row matched. */
  private def matchedRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Matched)] =
    df.select("key", "ts", "sig_ts", "sig").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))))
      .toSeq.sorted

  test("as-of property: idiom, salted, and native Catalyst paths all match the model") {
    check("asof", Prop.forAll(genAsOf) { case (left, right) =>
      val l = left.toDF("key", "ts")
      val r = right.toDF("key", "ts_r", "sig").withColumn("sig_ts", col("ts_r"))
      val expect = asOfModel(left, right)
      val idiom = matchedRows(AsOfJoin.backward(l, r, Seq("key"), "ts", "ts_r", asOfPayload))
      val salted = matchedRows(
        AsOfJoin.backwardSalted(l, r, Seq("key"), "ts", "ts_r", asOfPayload, 7L))
      val native = matchedRows(NativeAsOf.backward(l, r, Seq("key"), "ts", "ts_r", asOfPayload))
      (idiom == expect) :| s"idiom $idiom != $expect" &&
        (salted == expect) :| s"salted $salted != $expect" &&
        (native == expect) :| s"native $native != $expect"
    })
  }

  test("as-of property: FORWARD idiom and negated-native paths match the mirror model") {
    check("asof-fwd", Prop.forAll(genAsOf) { case (left, right) =>
      val l = left.toDF("key", "ts")
      val r = right.toDF("key", "ts_r", "sig").withColumn("sig_ts", col("ts_r"))
      val expect = asOfForwardModel(left, right)
      val idiom = matchedRows(AsOfJoin.forward(l, r, Seq("key"), "ts", "ts_r", asOfPayload))
      val native = matchedRows(NativeAsOf.forward(l, r, Seq("key"), "ts", "ts_r", asOfPayload))
      (idiom == expect) :| s"fwd idiom $idiom != $expect" &&
        (native == expect) :| s"fwd native $native != $expect"
    })
  }

  // ---- dedup: PPJoin path ≡ direct inverted-index witness ----

  private val genCorpus = for {
    n <- Gen.choose(2, 12)
    docs <- Gen.listOfN(n, Gen.listOfN(8,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
      .map(_.mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  /** First-principles model of the engine's shingle definition
    * (`Dedup.shingles`): split on single space, n-token sliding windows,
    * distinct; docs shorter than n tokens have no shingles. */
  private def shingleSet(text: String, n: Int): Set[String] =
    text.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  test("dedup property: full PPJoin equals a first-principles Jaccard on random clustered corpora") {
    val th = 0.35
    check("ppjoin", Prop.forAll(genCorpus) { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.ngramJaccard(df, "doc_id", "text", 3, th)
        .select("id_a", "id_b", "jaccard").collect()
        .map(x => (x.getLong(0), x.getLong(1),
          math.rint(x.getDouble(2) * 1e9))).toSet
      val sets = docs.map { case (i, t) => i -> shingleSet(t, 3) }.toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys
        if a < b && (sets(a) ++ sets(b)).nonEmpty
        j = (sets(a) & sets(b)).size.toDouble / (sets(a) ++ sets(b)).size
        if j >= th
      } yield (a, b, math.rint(j * 1e9))).toSet
      (got == expect) :| s"engine=${got.size} model=${expect.size}"
    }, cases = 6)
  }

  // ---- simhash banded pairs: EXACT within maxDist (pigeonhole) ----

  test("simhash property: banded pairs are exactly the hamming<=maxDist pairs, unique") {
    check("simhash", Prop.forAll(genCorpus) { docs =>
      val df = docs.toDF("doc_id", "text")
      val fps = Dedup.simhash(df, "doc_id", "text", bits = 16)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = (for {
        a <- fps.keys; b <- fps.keys if a < b
        if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
      } yield (a, b)).toSet
      val rows = Dedup.simhashPairs(df, "doc_id", "text", bits = 16, maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val got = rows.map(t => (t._1, t._2)).toSet
      (rows.length == got.size) :| "pairs not unique" &&
        (got == expect) :| s"got ${got.size} expect ${expect.size}" &&
        rows.forall { case (a, b, h) =>
          h == java.lang.Long.bitCount(fps(a) ^ fps(b))
        } :| "hamming column wrong"
    }, cases = 6)
  }

  // ---- global rank: two-pass ≡ single-task row_number ----

  test("global rank property: two-pass rank equals unpartitioned row_number") {
    val gen = Gen.listOf(Gen.choose(0, 999)).suchThat(_.nonEmpty)
      .map(_.zipWithIndex) // (value, uniqueTiebreak)
    check("rank", Prop.forAll(gen) { vals =>
      val df = vals.toDF("v", "uid").repartition(5)
      val ranked = GlobalRank.withRowNumber(df, Seq(col("v").asc, col("uid").asc), "rank")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val expect = vals.sortBy(t => (t._1, t._2)).zipWithIndex
        .map { case ((v, u), i) => (v, u, i + 1L) }.toSet
      (ranked == expect) :| s"$ranked != $expect"
    }, cases = 6)
  }

  // ---- currency: grouped base form ≡ java.text en-US reference ----

  test("currency property: EN base formatting matches DecimalFormat en-US on 2-dp amounts") {
    val fmt = new java.text.DecimalFormat("#,##0.00",
      java.text.DecimalFormatSymbols.getInstance(java.util.Locale.US))
    val gen = Gen.choose(-99999999L, 99999999L)
    check("currency", Prop.forAll(Gen.listOfN(50, gen)) { cents =>
      val amounts = cents.map(_ / 100.0)
      val got = amounts.toDF("amount")
        .select(graft.functions.CurrencyFormat
          .formatCurrency(col("amount"), lit("USD")))
        .collect().map(_.getString(0)).toSeq
      val expect = amounts.map(a => "$" + fmt.format(math.abs(a)))
      (got == expect) :| s"${got.take(3)} != ${expect.take(3)}"
    }, cases = 4)
  }
}
