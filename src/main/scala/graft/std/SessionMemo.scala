package graft.std

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of pinned DataFrames, keyed (session, tag).
  *
  * The shared-frame memos ([[graft.queries.Merged.cleanedShared]], the
  * d5–d7 cluster resolution, the d8/t23 contamination profile) all need
  * the same lifecycle, and each had a gap when hand-rolled on a bare
  * `TrieMap.getOrElseUpdate`:
  *
  *  - `getOrElseUpdate` evaluates the builder OUTSIDE the insertion CAS,
  *    so two concurrent first calls (a streaming micro-batch alongside an
  *    interactive query — exactly what [[Materialize.scoped]] supports)
  *    both build; the losing frame's checkpoint blocks were never
  *    released. Here the loser goes through `putIfAbsent` and its pin is
  *    released immediately.
  *  - Strong session keys lived forever: a long-running JVM that creates
  *    and stops many sessions (the test suite does) retained every
  *    stopped session and its plans. Here every [[getOrBuild]] first
  *    sweeps entries whose context has stopped.
  *  - Release paths existed (or not) per memo and nothing called them.
  *    Every instance self-registers, so one
  *    [[SessionMemo.releaseSession]] call in driver/test teardown frees
  *    all memos for a session.
  *
  * Entries must be self-contained pinned frames (a [[Materialize
  * .pinUnregistered]] result, or a frame riding its own checkpoint):
  * [[release]] frees them with [[Materialize.releasePin]], which
  * unpersists every checkpoint RDD in the plan.
  *
  * SNAPSHOT SEMANTICS: a memoized frame is the data as of the FIRST call
  * per (session, tag) — the pin truncates lineage, so later changes to
  * the underlying files are invisible until [[release]] or session stop.
  * That is the right trade for the bench/verify drivers (immutable
  * testdata, ~12 reuses per session); library callers who need
  * re-read-on-every-query semantics use the declarative (un-memoized)
  * form of each query instead.
  *
  * @param stopped predicate marking a session as dead (injectable so the
  *                sweep is testable without stopping the JVM's one local
  *                SparkContext; production default is the real check).
  */
final class SessionMemo(
    stopped: SparkSession => Boolean = _.sparkContext.isStopped) {

  private val map = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  SessionMemo.register(this)

  /** Memoized build — see class doc for the race + sweep contract.
    * Every call lands in the process-wide hit/build counters
    * ([[SessionMemo.counters]]): the r17 driver bench read the
    * memo-consuming query families at 5–31× their committed values and
    * the record could not say whether the memos were rebuilt or the
    * host was slow — the counters make that machine-readable (a build
    * count above the expected one-per-tag means eviction/rebuild
    * happened mid-suite). A losing racer's build still counts: its
    * cost was paid even though its frame was released.
    */
  def getOrBuild(spark: SparkSession, tag: String)
                (build: => DataFrame): DataFrame = {
    sweep()
    val k = (spark, tag)
    map.get(k) match {
      case Some(v) => SessionMemo.recordHit(tag); v
      case None =>
        val v = build
        SessionMemo.recordBuild(tag)
        map.putIfAbsent(k, v) match {
          case Some(winner) =>
            Materialize.releaseQuietly(Materialize.releasePin(v))
            winner
          case None => v
        }
    }
  }

  /** Drop and release every entry belonging to `spark`. */
  def release(spark: SparkSession): Unit =
    map.keys.filter(_._1 eq spark).toList.foreach { k =>
      map.remove(k).foreach(f =>
        Materialize.releaseQuietly(Materialize.releasePin(f)))
    }

  /** Evict entries whose session has stopped. Their executor blocks died
    * with the context (the release attempt is belt-and-braces, so a
    * fake-stopped test session still frees real blocks); the map entry
    * holding the session + plan objects is what would otherwise leak.
    */
  private def sweep(): Unit =
    map.keys.filter(k => stopped(k._1)).toList.foreach { k =>
      map.remove(k).foreach(f =>
        Materialize.releaseQuietly(Materialize.releasePin(f)))
    }

  private[graft] def entryCount(spark: SparkSession): Int =
    map.count { case ((s, _), _) => s eq spark }
  private[graft] def size: Int = map.size
}

object SessionMemo {
  private val registry = scala.collection.mutable.ListBuffer.empty[SessionMemo]

  private def register(m: SessionMemo): Unit =
    synchronized { registry += m }

  // Process-wide per-tag (hits, builds): one flat map covers every
  // registered memo instance, so call sites MUST make tags globally
  // self-describing (a "site|" prefix). The first telemetry run caught
  // four sites keying on the bare sfDir — their four legitimate
  // one-time builds merged into a single counter row reading
  // "builds: 4", indistinguishable from the mid-suite rebuild signal
  // the counters exist to expose.
  private val stats =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  private def recordHit(tag: String): Unit = {
    val _ = stats.updateWith(tag) {
      case Some((h, b)) => Some((h + 1, b))
      case None         => Some((1L, 0L))
    }
  }

  private def recordBuild(tag: String): Unit = {
    val _ = stats.updateWith(tag) {
      case Some((h, b)) => Some((h, b + 1))
      case None         => Some((0L, 1L))
    }
  }

  /** Per-tag (hits, builds) since JVM start (or [[resetCounters]]).
    * [[graft.Bench]] emits this into BENCH_FULL.json so a slow
    * memo-consuming query is attributable from the record alone:
    * builds == 1 per tag → the memo held and the drift is host-side;
    * builds > 1 → the frame was rebuilt mid-suite.
    */
  def counters: Map[String, (Long, Long)] = stats.toMap

  private[graft] def resetCounters(): Unit = stats.clear()

  /** Release every registered memo's entries for `spark` — the one call
    * driver ([[graft.Bench]]/[[graft.Verify]]) and test teardown make
    * without having to name each memo site.
    */
  def releaseSession(spark: SparkSession): Unit =
    synchronized(registry.toList).foreach(_.release(spark))
}
