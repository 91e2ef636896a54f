package graft.wheel

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Process-wide build-once cache of wheel indexes and persisted-dir loads.
  * Mirrors the reference's build-once / query-many lifecycle: a wheel is
  * built one time, then serves thousands of range queries at microsecond
  * latency with no further Spark jobs.
  *
  * One map serves every family. An entry is keyed by (session, family
  * tag, key parts), and the caller names the builder at the call site:
  * {{{ WheelCatalog.cached(spark, "quantile", key, "ts", "value")(
  *       QuantileWheel.build(events, "ts", "value")) }}}
  * The family tag keeps, say, a distinct and a quantile wheel over the
  * same (source, ts, column) apart.
  *
  * Builds run outside the map's locks, one at a time per key: concurrent
  * callers of one key wait for the single build, other keys never wait,
  * a build may itself call back into the catalog, and a failed build is
  * not cached (the next caller builds again). */
object WheelCatalog {
  // Keyed by session identity as well as the logical source key: a
  // WheelIndex built from session A retains A's DataFrame as its
  // residue-scan fallback, so serving it to session B after A stops
  // would make unaligned queries fail (aligned ones never noticed).
  private final case class Key(session: SparkSession, family: String, parts: Seq[String])

  /** One key's build slot: the value once built, guarded by the entry's
    * own monitor so only that key's callers serialize on the build. */
  private final class Entry { @volatile var value: AnyRef = _ }

  private val cache = new ConcurrentHashMap[Key, Entry]()

  // Sweep when any tracked session stops (not just on the next call) —
  // otherwise a stopped session's pinned DataFrames are retained until
  // some future lookup happens to run.
  SessionSweeper.addSweep(() => sweepStopped())

  /** Build (or return the cached) value for (session, family, parts).
    * `build` is only evaluated on a miss. */
  def cached[T <: AnyRef](spark: SparkSession, family: String, parts: String*)(
      build: => T): T = getOrBuild(spark, family, parts: _*)(build)._1

  /** [[cached]], also reporting whether THIS call ran `build` (false:
    * the value was served from the cache, no Spark job ran). */
  def getOrBuild[T <: AnyRef](spark: SparkSession, family: String, parts: String*)(
      build: => T): (T, Boolean) = {
    sweepStopped()
    SessionSweeper.track(spark)
    val key = Key(spark, family, parts)
    var result: Option[(T, Boolean)] = None
    while (result.isEmpty) {
      val entry = cache.computeIfAbsent(key, _ => new Entry)
      result = entry.synchronized {
        if (entry.value != null) Some((entry.value.asInstanceOf[T], false))
        // the entry was dropped (failed build, clear, sweep) while this
        // caller waited: start over on whatever the map holds now
        else if (cache.get(key) ne entry) None
        else {
          val v = try build catch { case e: Throwable => cache.remove(key, entry); throw e }
          entry.value = v
          Some((v, true))
        }
      }
    }
    result.get
  }

  def clear(): Unit = cache.clear()

  /** Number of cached entries, built or building. */
  private[wheel] def size: Int = cache.size

  /** Build-once cache for PERSISTED-DIR loads: every dir-mode resolution
    * — the DSv2 wheel table's plan-time load and the persisted
    * registrations' reuse branch — would otherwise re-read and re-collect
    * the saved partials (a full Spark job each time). The cache key is
    * the PAYLOAD IDENTITY the sidecar records — the uniquely-named
    * `slots-<uuid>.parquet` plus its content fingerprint — so ANY re-save
    * (rebuild, tail refresh, overwrite) is a different key and loads
    * fresh; callers re-peek the sidecar every resolution, which is what
    * decides staleness. `variant` discriminates load flavors of one
    * payload (e.g. the rewrite path's residue-armed load vs the table's
    * minute-aligned load). Legacy dirs with no recorded payload
    * fingerprint are never cached (their payload file is overwritten in
    * place, so identity can't be proven cheap).
    *
    * Two deliberate semantics: (1) a cache hit still reports
    * [[graft.plans.WheelAcceleration]]'s FullReuse at the register sites
    * — FullReuse means "served from the saved artifact, no source scan",
    * which holds whether the load came from disk or from the session's
    * build-once copy of that same payload; (2) residue-armed loads close
    * over the FIRST registration's events DataFrame — safe because the
    * cache is only consulted after the caller proves sourceFingerprint
    * equality, so any later events argument reads the same data by
    * contract. */
  def cachedDirLoad[T <: AnyRef](spark: SparkSession,
      indexDir: String, meta: PersistentWheel.Meta, variant: String)(
      load: => T): T =
    if (meta.slotsFingerprint.isEmpty) load
    else {
      val family = s"dir:$variant"
      // a re-save supersedes the previous payload generation: evict
      // stale generations of this (session, dir, variant) so
      // rebuild/tail-refresh churn can't grow the cache unboundedly
      // over a long-lived session
      cache.keySet.removeIf(k => k.session == spark && k.family == family &&
        k.parts.head == indexDir &&
        k.parts.tail != Seq(meta.slotsDir, meta.slotsFingerprint))
      cached(spark, family, indexDir, meta.slotsDir, meta.slotsFingerprint)(load)
    }

  /** Drop entries owned by stopped sessions so they (and their pinned
    * DataFrames) can be collected — the map stays bounded by the live
    * sessions' working sets. */
  private def sweepStopped(): Unit =
    cache.keySet.removeIf(k => k.session.sparkContext.isStopped)
}
