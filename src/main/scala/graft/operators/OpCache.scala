package graft.operators

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Reuse of operator intermediates within a session, under one bound.
  *
  * Every entry is found by one rule: (session, site, input), where the
  * input is an analyzed plan matched by `sameResult` — the equivalence
  * Spark's CacheManager matches persisted plans by.
  *  - [[cached]] persists a frame for its own plan. The site is empty
  *    and the input is the frame itself, so a plan-equal frame of the
  *    same session hits wherever it was built, and no call site needs a
  *    key.
  *  - [[byInput]] memoizes a build on its input: typed pipelines and
  *    udaf-bearing plans never compare `sameResult` to their own
  *    re-construction, and eager builds (checkpoints, training) do
  *    their work before there is a plan to match, so such an entry is
  *    keyed by the site's name and parameters plus the untyped input
  *    plan, and a hit never forces the by-name build.
  *
  * A site holds an entry per input it sees. The cache holds at most
  * [[MaxEntries]] entries over all sessions and releases the least
  * recently used first; Spark's MemoryStore spills the
  * `MEMORY_AND_DISK` blocks, so there is no byte budget. A built
  * frame is persisted unless it is already materialized — an eager
  * checkpoint, or a local frame whose rows travel in its plan — and
  * then it is stored as it is; a hit
  * re-pins a frame the cache persisted when an external `clearCache`
  * (or an unpersist of a plan-equal frame) dropped it. Builds run
  * outside the lock: a second caller of an entry under construction
  * waits for that build rather than running it again, and a failed
  * build leaves no entry. A build that needs another entry must not be
  * needed by that entry's build.
  */
object OpCache {

  /** Two construction passes over the declared query surface build 100
    * entries (at sf0.001), one corpus-curation chain 14.
    */
  private val MaxEntries = 256

  private final case class Key(spark: SparkSession, site: Seq[Any], planHash: Int)

  private final class Entry(val plan: LogicalPlan) {
    val value: Promise[Any] = Promise()
    @volatile var pinned = false
  }

  // access order: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true)
  // weak: a count never keeps a stopped session alive
  private val missCount = new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val clearHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** `df`, persisted; a plan-equal frame cached earlier in the session
    * is returned instead.
    */
  def cached(df: DataFrame): DataFrame = byInput(Nil, df)(df)

  /** The value `build` made for (`site`, `input`) in `input`'s session,
    * built now on a miss. `site` names the call site and every
    * parameter the build depends on besides `input`. A hit is served
    * only while `valid` holds; otherwise the build runs again.
    */
  def byInput[T](site: Seq[Any], input: DataFrame, valid: => Boolean = true)(build: => T): T = {
    val spark = input.sparkSession
    val plan = input.queryExecution.analyzed
    val key = Key(spark, site, plan.semanticHash())
    val intact = valid
    val (entry, miss, dropped) = synchronized {
      Option(entries.get(key)) match {
        case Some(e) if e.plan.sameResult(plan) && (intact || !e.value.isCompleted) =>
          (e, false, Nil)
        case stale =>
          val e = new Entry(plan)
          entries.put(key, e)
          missCount.put(spark, misses(spark) + 1)
          val out = scala.collection.mutable.ListBuffer.from(stale.map(spark -> _))
          val lru = entries.entrySet.iterator
          while (entries.size > MaxEntries) {
            val eldest = lru.next()
            lru.remove()
            out += eldest.getKey.spark -> eldest.getValue
          }
          (e, true, out.toList)
      }
    }
    dropped.foreach { case (s, e) => e.value.future.value.flatMap(_.toOption).foreach(release(s, _)) }
    if (miss) {
      try entry.value.success(store(entry, build))
      catch {
        case t: Throwable =>
          synchronized(entries.remove(key, entry))
          entry.value.failure(t)
          throw t
      }
    }
    Await.result(entry.value.future, Duration.Inf) match {
      case df: Dataset[_] if entry.pinned && df.storageLevel == StorageLevel.NONE =>
        df.persist(StorageLevel.MEMORY_AND_DISK).asInstanceOf[T]
      case v => v.asInstanceOf[T]
    }
  }

  private def store(entry: Entry, value: Any): Any = value match {
    case df: Dataset[_] if !materialized(df) =>
      entry.pinned = true
      df.persist(StorageLevel.MEMORY_AND_DISK)
    case other => other
  }

  /** An eager (local) checkpoint, whose blocks are already stored, or a
    * local relation, whose rows are in the plan: persisting either would
    * store it twice.
    */
  private def materialized(df: Dataset[_]): Boolean = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _: LocalRelation => true
    case _ => false
  }

  /** Cache misses `spark` has made: each one built an entry. */
  def misses(spark: SparkSession): Long = synchronized {
    Option(missCount.get(spark)).fold(0L)(_.longValue)
  }

  /** Run `hook` on every [[clear]], for state kept outside the cache. */
  def registerClearHook(hook: () => Unit): Unit = synchronized {
    clearHooks += hook
  }

  /** Drop every entry (end of session, test teardown). Safe after
    * `spark.stop()`: the cache is emptied and every hook runs before
    * any value is released.
    */
  def clear(): Unit = {
    val all = synchronized {
      val es = entries.asScala.toList
      entries.clear()
      es
    }
    synchronized(clearHooks.toList).foreach(_.apply())
    all.foreach { case (k, e) => e.value.future.value.flatMap(_.toOption).foreach(release(k.spark, _)) }
  }

  /** Unpersist a cached frame or broadcast of `spark`, unless its
    * context is stopped: the block manager is gone then (unpersist
    * throws) and so are the blocks.
    */
  private[graft] def release(spark: SparkSession, value: Any): Unit =
    if (!spark.sparkContext.isStopped) value match {
      case df: Dataset[_] => df.unpersist(blocking = false)
      case b: Broadcast[_] => b.unpersist(blocking = false)
      case _ =>
    }
}
