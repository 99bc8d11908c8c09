package graft.util

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.SparkSpecBase

/** The [[PlanMemo]] policy on its own: racing misses, stale-signature
  * drops and LRU eviction. The callers' specs (JaccardCacheSpec,
  * PairCacheSpec, RetrievalSpec, RetrievalMaintenanceSpec) cover the
  * reuse each memo buys. */
class PlanMemoSpec extends SparkSpecBase {

  private def src = spark.range(5).toDF("x")

  /** Two threads call `getOrCompute` on one key; each compute waits at a
    * barrier until both have missed. Returns (what each call got, what
    * each compute made). */
  private def race(memo: PlanMemo[DataFrame], make: Int => DataFrame)
      : (Seq[DataFrame], Seq[DataFrame]) = {
    val barrier = new CyclicBarrier(2)
    val got = new Array[DataFrame](2)
    val made = new Array[DataFrame](2)
    val errors = new Array[Throwable](2)
    val threads = (0 until 2).map { i =>
      new Thread(() =>
        try got(i) = memo.getOrCompute(src, "p", "sig") {
          made(i) = make(i)
          barrier.await(60, TimeUnit.SECONDS) // both missed before either lands
          made(i)
        } catch { case t: Throwable => errors(i) = t })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.filter(_ != null).foreach(throw _)
    (got.toSeq, made.toSeq)
  }

  test("racing same-key misses share one frame and release the loser's") {
    val memo = new PlanMemo[DataFrame](4, Some(_))
    val (got, made) = race(memo, i => spark.range(3).selectExpr(s"id + $i as v"))
    assert(got(0) eq got(1), "both callers must get the winner's frame")
    val (winner, loser) =
      if (made(0) eq got(0)) (made(0), made(1)) else (made(1), made(0))
    assert(winner eq got(0))
    assert(winner.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(loser.storageLevel === StorageLevel.NONE,
      "the losing compute's frame must be unpersisted")
    assert(memo.size === 1)
    memo.clear()
    assert(winner.storageLevel === StorageLevel.NONE)
  }

  test("a racing loser with the winner's plan keeps the shared cache") {
    val memo = new PlanMemo[DataFrame](4, Some(_))
    val (got, made) = race(memo, _ => spark.range(3).selectExpr("id + 7 as v"))
    assert(got(0) eq got(1))
    assert(!(made(0) eq made(1)))
    // Spark caches one copy per plan: unpersisting the loser would have
    // unpersisted the winner too
    assert(got(0).storageLevel === StorageLevel.MEMORY_AND_DISK)
    memo.clear()
  }

  test("a changed signature drops and releases the entry on lookup") {
    val memo = new PlanMemo[DataFrame](4, Some(_))
    val a = memo.getOrCompute(src, "p", "bytes-1")(spark.range(3).toDF("a"))
    assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(memo.getOrCompute(src, "p", "bytes-1")(fail("must hit")) eq a)
    // the lookup itself drops the stale entry: a compute that fails
    // afterwards leaves no entry and no persisted frame behind
    intercept[IllegalStateException] {
      memo.getOrCompute(src, "p", "bytes-2")(throw new IllegalStateException("x"))
    }
    assert(a.storageLevel === StorageLevel.NONE)
    assert(memo.size === 0)
    val b = memo.getOrCompute(src, "p", "bytes-2")(spark.range(4).toDF("b"))
    assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(memo.size === 1)
    memo.clear()
  }

  test("values: a changed signature recomputes; plans and params key entries") {
    val memo = new PlanMemo[Int](8)
    val runs = new AtomicInteger
    def get(df: DataFrame, params: Any, sig: String) =
      memo.getOrCompute(df, params, sig)(runs.incrementAndGet())
    assert(get(src, 0.5, "s1") === 1)
    assert(get(src, 0.5, "s1") === 1, "same plan, params and bytes must hit")
    assert(get(src, 0.5, "s2") === 2, "changed bytes must recompute")
    assert(memo.size === 1)
    assert(get(src, 0.25, "s2") === 3)
    assert(get(src.filter("x > 1"), 0.5, "s2") === 4)
    assert(memo.size === 3)
  }

  test("LRU eviction past the cap unpersists the evicted frame") {
    val memo = new PlanMemo[DataFrame](2, Some(_))
    val f = (1 to 3).map(i => memo.getOrCompute(src, i, "")(
      spark.range(i).selectExpr(s"id * $i as v")))
    assert(memo.size === 2)
    assert(f(0).storageLevel === StorageLevel.NONE)
    assert(f.drop(1).forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
    // a hit after clearCache() re-persists the entry's frame
    spark.catalog.clearCache()
    assert(memo.getOrCompute(src, 3, "")(fail("must hit")) eq f(2))
    assert(f(2).storageLevel === StorageLevel.MEMORY_AND_DISK)
    memo.clear()
    assert(memo.size === 0)
  }
}
