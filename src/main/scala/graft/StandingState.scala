package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session-scoped ledger of the engine's standing artifacts — every
  * localCheckpointed RDD/Dataset and every built index, lineage, label
  * table or sidecar the engine keeps for a session (kNN trie, IVF
  * centroids, BM25 doc index, CC label tables, ledger lineages, …).
  *
  * ONE registry, [[standing]], holds them all. It is keyed
  * (applicationId, name, scope) and builds that key itself, so no
  * caller decides how an artifact is bound to its session: an artifact
  * built under one SparkContext is never served to another (a stopped
  * context's checkpoint blocks and LocalRelations are dead handles).
  * Standing artifacts are indexes, codebooks, tries, lineages and
  * sidecars — state a declared query READS. A declared query computes
  * its own output on every call and never returns a standing artifact
  * as its result (that would time a lookup, not the query);
  * DeterminismSpec checks this for every declared query.
  *
  * Two memo types are kept beside the registry because their
  * semantics differ, not their keying:
  *  - [[VersionedMemo]]: entries carry the version of the MUTABLE table
  *    they were built at, with stamp-advance rules for incremental
  *    refresh (KnnIncr, KnnPart's maintained trie);
  *  - [[BoundedMemo]]: an LRU bounded by a budget, whose serve-scope
  *    pin leases defer block release (KnnPart's per-value tries).
  * Folding them into the registry would make the shared code branch
  * on which caller it serves.
  *
  * At 100 TB these are write-once batch tables that live outside any
  * one driver; locally they pin executor block memory for the
  * application lifetime. A long-lived driver (the bench harness, a
  * notebook session) must be able to RELEASE them between workloads:
  * r5's sf100 two-pass bench needed a 96 GB heap precisely because
  * pass 1's accumulated checkpoints were still resident while pass 2
  * rebuilt nothing and added its own per-query materializations.
  * [[release]] unpersists every tracked checkpoint and empties the
  * registry and both memo types; correctness is unaffected (they hold
  * deterministic artifacts — subsequent queries rebuild them from
  * source), only the build cost is re-paid.
  */
object StandingState {
  private val rddLedger = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
  private val registry = TrieMap[(String, String, Any), Any]()
  private val versionedLedger =
    new java.util.concurrent.ConcurrentLinkedQueue[TrieMap[_, _]]()

  /** The standing artifact `name` over `scope` for this session: built
    * by `build` on first use, served from the registry until
    * [[release]]. `scope` is the rest of the artifact's identity (a
    * corpus dir, `(dir, threshold)`, a tag, a validation token, …). The
    * registry casts the stored value by name, so a name must mean one
    * type: each name is a string literal at exactly one call site
    * (ToolsSpec enforces it). */
  private[graft] def standing[V](spark: SparkSession, name: String, scope: Any)(
      build: => V): V =
    registry.getOrElseUpdate((spark.sparkContext.applicationId, name, scope), build)
      .asInstanceOf[V]

  /** Track a localCheckpointed RDD (the [[materializeStatsReset]] path). */
  private[graft] def trackRdd[T](rdd: RDD[T]): RDD[T] = { rddLedger.add(rdd); rdd }

  /** Track a `Dataset.localCheckpoint()` result: the persisted blocks
    * hang off the analyzed plan's LogicalRDD leaf, which is the only
    * handle that can unpersist them (`df.rdd` would deserialize into a
    * NEW RDD whose unpersist is a no-op on the checkpoint blocks). */
  private[graft] def trackCheckpointed(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => rddLedger.add(l.rdd)
      case _ => ()
    }
    df
  }

  /** `df.localCheckpointTracked()` — an eager localCheckpoint whose
    * blocks are registered in the ledger so [[release]] can free them.
    * Every engine call site uses this instead of the raw method. */
  private[graft] implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def localCheckpointTracked(): DataFrame = trackCheckpointed(df.localCheckpoint())
  }

  /** Materialize a small iteration table AND reset its plan statistics.
    * `Dataset.localCheckpoint` copies the origin plan's estimated
    * `sizeInBytes` into the resulting `LogicalRDD` — and join
    * estimates MULTIPLY child sizes, so inside an iterative join loop
    * the carried estimate squares every round. By ~iteration 15 the
    * BigInt behind the estimate has tens of thousands of bits and the
    * driver spends exponentially growing CPU in `BigInteger.multiply`
    * during planning (measured: 0.3 s rounds become 80 s by round 22).
    * Rebuilding the DataFrame from the checkpointed RDD drops the
    * inherited stats back to defaults, keeping every round's planning
    * O(1); the Row round-trip is irrelevant on id-pair-sized tables.
    * The checkpointed RDD is tracked, so [[release]] frees it. */
  private[graft] def materializeStatsReset(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    rdd.count()
    trackRdd(rdd)
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** A VERSION-STAMPED memo for standing artifacts over MUTABLE tables
    * (ledger-backed indexes). The session-keyed [[standing]] assumes an
    * immutable corpus — correct for the read-only testdata dirs, but a
    * memoized index over a LEDGER table that takes a merge would serve
    * stale results silently for the rest of the session. Entries here
    * carry the table version they were built at: a lookup at a newer
    * version MISSES and hands the builder the previous (version,
    * artifact) pair, so the artifact refreshes INCREMENTALLY from the
    * table's change feed (or bootstraps, on None) — merge-then-query is
    * fresh by construction, no manual release() required. Superseded
    * entries are replaced (their checkpoint blocks free at the next
    * [[release]], like every tracked artifact — the builder may also
    * unpersist the previous artifact's RDDs itself). */
  final class VersionedMemo[K, V] private[StandingState] (m: TrieMap[K, (Long, V)]) {
    def getOrRefresh(key: K, version: Long)(build: Option[(Long, V)] => V): V =
      m.get(key) match {
        case Some((v, art)) if v == version => art
        case prev =>
          val art = build(prev)
          m.put(key, (version, art))
          art
      }

    /** The current (version, artifact) pair, if any — for maintainers
      * that advance the stamp themselves (streaming refresh loops). */
    def peek(key: K): Option[(Long, V)] = m.get(key)

    /** Stamp `art` at `version` UNLESS the current stamp is already AT
      * OR PAST it — a streaming maintainer folding micro-batches must
      * never regress the stamp below what a concurrent batch refresh
      * advanced it to (a regressed stamp would make the next batch
      * refresh re-apply a feed range, and the batch path's signed
      * histogram delta is not idempotent), and an equal-stamp overwrite
      * is refused too: a maintainer that folded STALE versions can
      * arrive at the current stamp carrying regressed values (r11
      * ADVICE), and the artifact already stamped there is the correct
      * one. Returns whether the put landed; a refused put's artifact
      * was never seen by the memo, so its persisted blocks are the
      * CALLER's to release. */
    def advanceTo(key: K, version: Long, art: V): Boolean =
      m.get(key) match {
        case Some((v, _)) if v >= version => false
        case _ => m.put(key, (version, art)); true
      }

    /** [[advanceTo]] that ALSO accepts an equal-stamp REPLACEMENT —
      * for maintainers whose fold re-admits the stamped version's rows
      * (one commit's files can split across adjacent micro-batches: the
      * first part folds and stamps V, and refusing the second part's
      * equal-stamp artifact would drop it permanently — silent index
      * drift). Only safe when the replacing artifact was folded from
      * rows at or above the current stamp, so it can never carry a
      * version the stamp claims but the artifact lacks; a stamp
      * REGRESSION is still refused, exactly as [[advanceTo]]. */
    def advanceOrReplace(key: K, version: Long, art: V): Boolean =
      m.get(key) match {
        case Some((v, _)) if v > version => false
        case _ => m.put(key, (version, art)); true
      }
  }

  private[graft] def versionedMemo[K, V](): VersionedMemo[K, V] = {
    val m = TrieMap[K, (Long, V)]()
    versionedLedger.add(m)
    new VersionedMemo[K, V](m)
  }

  /** A BOUNDED standing-artifact registry: at most `budget()` entries,
    * least-recently-USED first out, `onEvict` releasing the evicted
    * artifact's persisted blocks. The unbounded [[standing]] is right for
    * artifacts whose key space is the session's corpus set (one kNN
    * trie per dir); it is wrong for artifacts keyed by a DATA VALUE —
    * one partition trie per predicate value over a high-cardinality
    * filter column is an unbounded standing cost, so those registries
    * carry a budget (r11 VERDICT #4). Eviction frees blocks, never
    * correctness: an evicted entry rebuilds from source on next use,
    * exactly like a [[release]]d artifact. `budget()` is re-read per
    * insertion so dial experiments can change it between calls.
    * Eviction is SAFE against in-flight serves: [[BoundedMemo.pinned]]
    * is a serve-scope lease that defers the evicted entry's block
    * release to the last unpin (r12 VERDICT #4 closed). */
  final class BoundedMemo[K, V] private[StandingState] (
      budget: () => Int, onEvict: (K, V) => Unit) {
    /** A slot's pin count is a SERVE-SCOPE LEASE (r12 VERDICT #4): a
      * budget overflow still removes a pinned slot from the map (the
      * budget bounds standing entries — a new lookup rebuilds), but its
      * `onEvict` — the block release — is DEFERRED to the last unpin,
      * so eviction can never unpersist frames an in-flight serve still
      * reads (unpersisting a localCheckpointed RDD destroys lineage;
      * the racing query would FAIL, not recompute). */
    private final class Slot(val key: K, val v: V) {
      var pins = 0; var doomed = false
    }
    private val m = new java.util.LinkedHashMap[K, Slot](16, 0.75f, true)

    /** Register a freshly built value (or yield to a race winner) and
      * trim to budget. Under the lock — `onEvict` is unpersist-cheap. */
    private def insertAndTrim(key: K, v: V, pin: Boolean): Slot = m.synchronized {
      Option(m.get(key)) match {
        case Some(winner) => // lost a build race: keep the winner
          onEvict(key, v)
          if (pin) winner.pins += 1
          winner
        case None =>
          val s = new Slot(key, v)
          if (pin) s.pins += 1
          m.put(key, s)
          while (m.size > math.max(1, budget())) {
            val it = m.entrySet().iterator()
            val e = it.next(); it.remove()
            val es = e.getValue
            if (es.pins > 0) es.doomed = true // release deferred to last unpin
            else onEvict(e.getKey, es.v)
          }
          s
      }
    }

    def getOrElseUpdate(key: K)(build: => V): V = {
      m.synchronized(Option(m.get(key))) match {
        case Some(s) => s.v
        case None =>
          val v = build // never under the lock: builds run Spark jobs
          insertAndTrim(key, v, pin = false).v
      }
    }

    /** Run `use` with the entry PINNED: concurrent inserts that
      * overflow the budget cannot release this value's blocks until
      * `use` returns (they mark the slot doomed; the last unpin runs
      * the deferred `onEvict`). The lease covers the CALL — a caller
      * returning a lazy plan over the entry's frames must make it
      * self-contained (materialize) before the lease ends. */
    def pinned[T](key: K)(build: => V)(use: V => T): T = {
      val slot = m.synchronized {
        Option(m.get(key)).map { s => s.pins += 1; s }
      }.getOrElse {
        val v = build // never under the lock: builds run Spark jobs
        insertAndTrim(key, v, pin = true)
      }
      try use(slot.v)
      finally {
        val deferred = m.synchronized {
          slot.pins -= 1
          if (slot.doomed && slot.pins == 0) { slot.doomed = false; true }
          else false
        }
        if (deferred) onEvict(slot.key, slot.v)
      }
    }

    /** Lookup without touching LRU order (test/diagnostic surface). */
    def peek(key: K): Option[V] = m.synchronized {
      m.entrySet().iterator().asScala.find(_.getKey == key).map(_.getValue.v)
    }
    /** A key's live pin count, 0 if absent (test/diagnostic surface). */
    private[graft] def pinCount(key: K): Int = m.synchronized {
      Option(m.get(key)).map(_.pins).getOrElse(0)
    }
    def size: Int = m.synchronized(m.size)
    private[StandingState] def clearAll(): Unit = m.synchronized(m.clear())
  }
  private val boundedLedger =
    new java.util.concurrent.ConcurrentLinkedQueue[BoundedMemo[_, _]]()

  private[graft] def boundedMemo[K, V](budget: () => Int,
      onEvict: (K, V) => Unit): BoundedMemo[K, V] = {
    val m = new BoundedMemo[K, V](budget, onEvict)
    boundedLedger.add(m)
    m
  }

  /** Checkpoints currently tracked (LEAKCHECK / diagnostics). */
  def trackedCheckpoints: Int = rddLedger.size

  /** Unpersist every tracked checkpoint and clear the registry and every
    * memo. Safe to call repeatedly; double-unpersist of an
    * already-released RDD is a no-op. Not safe concurrently with
    * in-flight queries that hold the memoized frames (the bench calls it
    * only between passes). */
  def release(blocking: Boolean = false): Unit = {
    var r = rddLedger.poll()
    while (r != null) {
      try r.unpersist(blocking)
      catch { case _: Throwable => () }
      r = rddLedger.poll()
    }
    registry.clear()
    versionedLedger.forEach(m => m.clear())
    boundedLedger.forEach(m => m.clearAll())
  }
}
