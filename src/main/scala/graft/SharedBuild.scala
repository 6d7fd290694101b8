package graft

import java.util.concurrent.CountDownLatch

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The engine's one cross-query memo: "build once, consume many" values
  * (the ratings view, ALS models, the pair/simhash/shingle/ANN/slice
  * stores, count-derived sizing scalars) keyed per (session, dir, params).
  *
  *   - Per-key build latch: one key builds exactly once while different
  *     keys build concurrently; a second caller of the same key awaits
  *     the first build. The double-checked read under a won latch stops a
  *     caller that missed before a concurrent insert from rebuilding the
  *     key (and orphaning the first entry's blocks). A failed build
  *     leaves no entry, so the next call rebuilds.
  *   - Owned blocks: each entry records the persisted block ids its value
  *     owns, read off the value's plan ([[frames]]) — never a
  *     `getPersistentRDDs` difference, which would also claim whatever
  *     another thread happened to cache during the build. Bench's and
  *     Verify's per-query release passes skip every id [[owns]] reports:
  *     a memoized localCheckpoint's lineage is truncated, so freeing it
  *     would break, not slow, every later consumer.
  *   - Optional entry cap: past `cap` entries the oldest COMPLETED entry
  *     is evicted and its blocks handed back (in-flight builds are never
  *     entries, so their waiters can always read the result).
  *   - [[clear]] drops one memo's entries and frees their blocks;
  *     [[SharedBuild.clearAll]] does that for every memo (cold bench mode,
  *     tests, data rewritten in place).
  *
  * Keys carry the session wherever the value holds session-bound blocks:
  * a later session on the same dir must rebuild, not inherit frames whose
  * blocks died with the old context. Block ids are per SparkContext; Bench
  * and Verify run one context per JVM. */
final class SharedBuild[K, V] private (cap: Int,
    owned: V => SharedBuild.Owned) {
  import SharedBuild.Owned

  private val done = TrieMap.empty[K, (V, Owned)]
  private val inFlight = TrieMap.empty[K, CountDownLatch]
  private val order = scala.collection.mutable.Queue.empty[K]

  def apply(key: K)(build: => V): V = done.get(key) match {
    case Some((v, _)) => v
    case None =>
      val latch = new CountDownLatch(1)
      inFlight.putIfAbsent(key, latch) match {
        case Some(other) =>
          other.await()
          apply(key)(build)
        case None =>
          try done.get(key) match {
            case Some((v, _)) => v
            case None =>
              val v = build
              insert(key, v, owned(v))
              v
          } finally {
            inFlight.remove(key)
            latch.countDown()
          }
      }
  }

  /** The completed entry for `key`, if there is one; never builds. */
  def get(key: K): Option[V] = done.get(key).map(_._1)

  private def insert(key: K, v: V, o: Owned): Unit = {
    val evicted = synchronized {
      done.put(key, (v, o))
      order.enqueue(key)
      val n = if (cap > 0) math.max(0, order.size - cap) else 0
      (1 to n).flatMap(_ => done.remove(order.dequeue()).map(_._2))
    }
    evicted.foreach(_.free())
  }

  /** Block ids owned by the completed entries. */
  def ownedIds: Set[Int] = done.values.flatMap(_._2.ids).toSet

  def clear(): Unit = {
    val all = synchronized {
      val es = done.values.map(_._2).toList
      done.clear(); order.clear()
      es
    }
    all.foreach(_.free())
  }
}

object SharedBuild {

  /** A memo key that compares frames the way `Dataset.sameSemantics`
    * does: two keys are equal when their analyzed plans have the same
    * canonical form, and the plan's semantic hash buckets them. It keeps
    * the analyzed plan only, so a memo entry never holds a frame's
    * executed plan (or the shuffles behind it). */
  final class SamePlan(df: DataFrame) {
    val plan: LogicalPlan = df.queryExecution.analyzed
    override val hashCode: Int = plan.semanticHash()
    override def equals(o: Any): Boolean = o match {
      case p: SamePlan => plan.sameResult(p.plan)
      case _ => false
    }
  }

  /** Persisted block ids an entry owns, and how to hand them back. */
  final case class Owned(ids: Set[Int], free: () => Unit)
  private val ownsNothing: Any => Owned = _ => Owned(Set.empty, () => ())

  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[
    SharedBuild[_, _]]()

  /** A new registered memo; `owned` reads the block ids off a built value
    * (default: the value holds no blocks). */
  def apply[K, V](cap: Int = 0)(owned: V => Owned = ownsNothing)
      : SharedBuild[K, V] = {
    val m = new SharedBuild[K, V](cap, owned)
    registry.add(m)
    m
  }

  private def memos: Iterator[SharedBuild[_, _]] = {
    import scala.jdk.CollectionConverters._
    registry.iterator.asScala
  }

  def clearAll(): Unit = memos.foreach(_.clear())

  /** Whether any memo owns the persisted block `rddId`. */
  def owns(rddId: Int): Boolean = memos.exists(_.ownedIds.contains(rddId))

  /** The persisted RDD ids behind frames, read off their plans: the
    * LogicalRDD a localCheckpoint leaves (a checkpointed Dataset's plan is
    * exactly one, over the materialized internal RDD) and the
    * InMemoryRelation behind a `cache()`d frame. */
  private def blockIds(dfs: DataFrame*): Set[Int] =
    dfs.flatMap(_.queryExecution.withCachedData.collect {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE =>
        lr.rdd.id
      case m: InMemoryRelation
          if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        m.cacheBuilder.cachedColumnBuffers.id
    }).toSet

  /** What a value made of checkpointed or cached frames owns. Freeing
    * uncaches the cached frames through the CacheManager (so a rebuild
    * caches afresh) and unpersists the checkpoints. */
  def frames(dfs: DataFrame*): Owned = {
    val ids = blockIds(dfs: _*)
    val sc = dfs.head.sparkSession.sparkContext
    val cached = dfs.filter(_.storageLevel != StorageLevel.NONE)
    Owned(ids, () => if (!sc.isStopped) {
      cached.foreach(_.unpersist(blocking = false))
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    })
  }
}
