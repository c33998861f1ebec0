package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.OpCache

/** The operator cache's contract: a hit is only ever served for the
  * same (session, site, input); a hit never re-runs the build; an entry
  * survives an EXTERNAL unpersist — `spark.catalog.clearCache()` (or an
  * unpersist of any plan-equal frame, since the cache manager matches
  * by plan) strips persistence out from under a live entry, and handing
  * it back unrepaired would make every later hit silently recompute the
  * full lineage.
  */
class OpCacheSpec extends SparkSpec {

  private def plan() = {
    import sqlImplicits._
    (1 to 100).toDF("n").groupBy((col("n") % 7).as("k")).count()
  }

  test("cached re-pins a live entry after an external clearCache") {
    val a = OpCache.cached(plan())
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    spark.catalog.clearCache() // the external rug-pull
    assert(a.storageLevel == StorageLevel.NONE)
    val b = OpCache.cached(plan())
    assert(b.storageLevel != StorageLevel.NONE,
      "a plan-equal hit must re-pin the unpersisted entry, not return a ghost")
    OpCache.clear()
  }

  test("byInput: an input-plan hit skips the typed build and re-pins; a new input builds its own entry") {
    import sqlImplicits._
    val in1 = (1 to 50).toDF("n")
    val in2 = (1 to 60).toDF("n")
    var builds = 0
    def build(in: DataFrame) = { builds += 1; in.groupBy().count() }
    val a = OpCache.byInput(Seq("opcachespec.byinput"), in1)(build(in1))
    a.count()
    assert(builds == 1 && a.storageLevel != StorageLevel.NONE)
    // plan-equal input (a fresh but identical frame): the by-name
    // build must NOT be forced — udaf-bearing typed plans can't compare
    // sameResult to their own re-construction, so the hit decision
    // can't involve them
    val b = OpCache.byInput(Seq("opcachespec.byinput"), (1 to 50).toDF("n"))(build(in1))
    assert(builds == 1, "an input-plan hit must not construct the typed plan")
    assert(b eq a)
    // external rug-pull: the hit must re-pin
    spark.catalog.clearCache()
    assert(a.storageLevel == StorageLevel.NONE)
    val c = OpCache.byInput(Seq("opcachespec.byinput"), in1)(build(in1))
    assert(c.storageLevel != StorageLevel.NONE, "an input hit must re-pin the unpersisted entry")
    assert(builds == 1)
    // a DIFFERENT input builds its own entry; the first one stays
    val d = OpCache.byInput(Seq("opcachespec.byinput"), in2)(build(in2))
    assert(builds == 2 && d.storageLevel != StorageLevel.NONE)
    assert((OpCache.byInput(Seq("opcachespec.byinput"), in1)(build(in1)) eq a) && builds == 2)
    OpCache.clear()
  }

  test("an entry is never served to another input or parameter; a repeated call hits") {
    // A fresh session: entries and miss counts are per session, so the
    // counts below see only this test's calls.
    val s = spark.newSession()
    import s.implicits._
    // the multiples of p in 1..n, counted by Spark through the cache
    // and, as the uncached reference, in Scala
    def call(n: Int, p: Int) = {
      val in = (1 to n).toDF("n")
      OpCache.byInput(Seq("opcachespec.alt", p), in)(in.filter(col("n") % p === 0).groupBy().count())
        .head().getLong(0)
    }
    // two inputs and two parameter values, in alternation
    val calls = for (p <- Seq(2, 3); n <- Seq(50, 60)) yield (n, p)
    calls.foreach { case (n, p) => assert(call(n, p) == (1 to n).count(_ % p == 0)) }
    val built = OpCache.misses(s)
    assert(built == 4, s"each (input, parameter) pair builds its own entry, got $built misses")
    calls.foreach { case (n, p) => assert(call(n, p) == (1 to n).count(_ % p == 0)) }
    assert(OpCache.misses(s) == built, "a repeated (input, parameter) pair must hit")
    // A memoized operator keyed on a parameter (the heavy-hitter sketch
    // on k): alternating k must give each k its own summary, as a
    // session that never saw the other k computes it.
    def hh(on: org.apache.spark.sql.SparkSession, k: Int) = {
      import on.implicits._
      val keys = Seq("a", "a", "a", "a", "b", "b", "b", "c", "c", "d").toDF("key")
      graft.operators.HeavyHitters.frequentKeys(keys, "key", k).collect().toSeq
    }
    val ks = Seq(1, 3, 1, 3)
    val fresh = ks.map(hh(spark.newSession(), _))
    assert(fresh(0) != fresh(1), "the fixture must tell the two k apart")
    assert(ks.map(hh(s, _)) == fresh)
    OpCache.clear()
  }

  test("an eager checkpoint is stored as it is, never persisted a second time") {
    val s = spark.newSession()
    import s.implicits._
    val in = (1 to 30).toDF("n")
    val cp = OpCache.byInput(Seq("opcachespec.checkpoint"), in)(in.localCheckpoint(true))
    assert(cp.storageLevel == StorageLevel.NONE,
      "a checkpointed value is already materialized; persisting it would store it twice")
    assert(OpCache.byInput(Seq("opcachespec.checkpoint"), in)(in.localCheckpoint(true)) eq cp)
    assert(OpCache.misses(s) == 1)
    OpCache.clear()
  }

  test("a local frame is stored as it is, never persisted") {
    val s = spark.newSession()
    import s.implicits._
    val in = (1 to 30).toDF("n")
    def local = Seq(1, 2, 3).toDF()
    val t = OpCache.byInput(Seq("opcachespec.local"), in)(local)
    assert(t.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(t.storageLevel == StorageLevel.NONE,
      "a local frame carries its rows in its plan; persisting it would store it twice")
    assert(OpCache.byInput(Seq("opcachespec.local"), in)(local) eq t)
    assert(OpCache.misses(s) == 1)
    OpCache.clear()
  }

  test("concurrent misses on one entry run its build once, outside the cache's lock") {
    import sqlImplicits._
    val in = (1 to 40).toDF("n")
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val slow = pool.submit(() => OpCache.byInput(Seq("opcachespec.slow"), in) {
        builds.incrementAndGet(); started.countDown(); release.await(); "built"
      })
      started.await()
      // the slow build holds no lock: another entry is served meanwhile
      assert(OpCache.byInput(Seq("opcachespec.other"), in)("other") == "other")
      val waiter = pool.submit(() => OpCache.byInput(Seq("opcachespec.slow"), in) {
        builds.incrementAndGet(); "built again"
      })
      release.countDown()
      assert(slow.get() == "built" && waiter.get() == "built" && builds.get() == 1)
    } finally {
      release.countDown()
      pool.shutdown()
      OpCache.clear()
    }
  }
}
