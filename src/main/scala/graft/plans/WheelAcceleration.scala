package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.wheel.{AllAggregate, WheelIndex}

/** Transparent wheel-index acceleration for SQL/DataFrame queries — the
  * v2 stretch of SURVEY.md §4.2: where the reference picks its index path
  * by hand (two separate bench functions,
  * /root/reference/src/main.rs:67–68), this injects a Catalyst
  * `Rule[LogicalPlan]` that pattern-matches
  *
  * {{{ Aggregate(no grouping, [sum/min/max/count/avg(value)...],
  *       Filter(ts >= a AND ts < b, ...Scan(path))) }}}
  *
  * over a source with a registered [[WheelIndex]] and replaces the whole
  * subtree with a one-row [[LocalRelation]] computed from the index at
  * plan-optimization time (µs-scale, driver-local, no job, no scan —
  * the µWheel `combine_range_and_lower` fast path,
  * /root/reference/src/main.rs:212, behind an unchanged SQL interface).
  * A second pattern handles `GROUP BY (tsMs div w) * w` time-slot
  * rollups over the same sources: one LocalRelation row per non-empty
  * slot (time-bounded cardinality), partial edge slots combined from
  * clipped minute runs.
  *
  * Semantics guarded before rewriting (bail = leave the plan untouched):
  *  - the filter is EXACTLY a half-open `[a, b)` minute-aligned range on
  *    the registered timestamp column — extra conjuncts disqualify;
  *  - every aggregate is non-distinct sum/min/max/count/avg over the
  *    registered (never-null) measure column, or count(*)/count(1);
  *  - the plan between filter and leaf is projection-only, and the leaf
  *    is the registered file source.
  *
  * Registration contract: the index must be built from the same reading
  * pipeline the queries use (same ts/measure derivation) — enforced by
  * registering through [[WheelAcceleration.register]], which builds the
  * index from the caller's DataFrame.
  */
object WheelAcceleration {
  import graft.wheel.{CohortWheel, FrequencyWheel, KeyedSketchWheels, KeyedWheelIndex,
    PersistentWheel, QuantileWheel, RollupBuilder, WheelCatalog}

  private type Conf = org.apache.hadoop.conf.Configuration
  private type SqlRow = org.apache.spark.sql.Row

  /** Registration diagnostics: the stale-fingerprint notice at WARN, the
    * swallowed append-refresh and rewrite exceptions at DEBUG. */
  private[plans] val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.plans.WheelAcceleration")

  /** What every family's registration carries for the freshness check:
    * the source fingerprint it was built against, and the Hadoop conf to
    * re-list the source with. */
  private[plans] sealed trait Slot {
    def fingerprint: String
    def hadoopConf: Conf
  }

  /** The sum-family wheels of one source: measure column → index. */
  private[plans] final case class SumReg(tsCol: String, wheels: Map[String, WheelIndex],
      fingerprint: String, hadoopConf: Conf) extends Slot

  /** The PER-KEY index family of one source (GROUP BY keyCol × time-slot). */
  private[plans] final case class KeyedReg(keyCol: String, tsCol: String,
      wheels: Map[String, KeyedWheelIndex], fingerprint: String,
      hadoopConf: Conf) extends Slot {
    /** All wheels share one build, so span/keys/keyType agree. */
    def any: KeyedWheelIndex = wheels.valuesIterator.next()
  }

  /** COMPOSITE-dimension keyed wheels: the per-key index keyed on an
    * N-TUPLE of dimension columns, so `GROUP BY k1, k2, time-slot` — the
    * (country, event_type, day) dashboard shape — folds at plan time. The
    * tuple rides as ONE struct-valued key through the UNCHANGED
    * [[graft.wheel.KeyedWheelIndex]] machinery: `keyCols` is recorded only
    * so the rewrite can match the statement's separate grouping
    * attributes and re-emit each key COMPONENT as its own output literal. */
  private[plans] final case class Keyed2Reg(keyCols: Seq[String], tsCol: String,
      wheels: Map[String, KeyedWheelIndex], fingerprint: String,
      hadoopConf: Conf) extends Slot {
    def any: KeyedWheelIndex = wheels.valuesIterator.next()
  }

  /** The sketch wheels serving the APPROXIMATE SQL spellings for one
    * source, keyed by input column: Theta for `approx_count_distinct`,
    * KLL for `percentile_approx`, Misra-Gries for `approx_top_k`. */
  private[plans] final case class SketchReg(tsCol: String,
      distinct: Map[String, CohortWheel],
      quantile: Map[String, QuantileWheel],
      freq: Map[String, FrequencyWheel],
      fingerprint: String, hadoopConf: Conf) extends Slot {
    /** Indexed span [base, horizon) of any member wheel (all are built
      * from the same source, so the spans agree). */
    def span: Option[(Long, Long)] =
      distinct.valuesIterator.map(w => (w.baseMs, w.horizonMs)).nextOption()
        .orElse(quantile.valuesIterator.map(w => (w.baseMs, w.horizonMs)).nextOption())
        .orElse(freq.valuesIterator.map(w => (w.baseMs, w.horizonMs)).nextOption())
  }

  /** PER-DIMENSION-KEY sketch wheels for one source: the keyed analogue
    * of [[SketchReg]], serving the approximate spellings PER KEY inside
    * `GROUP BY keyCol × time-slot` rewrites. Maps are column →
    * (dimension value → wheel). */
  private[plans] final case class KeyedSketchReg(keyCol: String, tsCol: String,
      distinct: Map[String, Map[Any, CohortWheel]],
      quantile: Map[String, Map[Any, QuantileWheel]],
      freq: Map[String, Map[Any, FrequencyWheel]],
      fingerprint: String, hadoopConf: Conf) extends Slot {
    /** The unkeyed [[SketchReg]] view for ONE dimension value — every
      * downstream fold / clamp / accuracy-gate path is the proven
      * unkeyed one. Columns whose wheel map lacks this key simply drop
      * out (their aggregates bail to the scan). */
    def viewFor(key: Any): SketchReg = SketchReg(tsCol,
      distinct.flatMap { case (c, m) => m.get(key).map(c -> _) },
      quantile.flatMap { case (c, m) => m.get(key).map(c -> _) },
      freq.flatMap { case (c, m) => m.get(key).map(c -> _) },
      fingerprint, hadoopConf)
  }

  /** Everything registered for one source path: one optional slot per
    * wheel family. Every registration replaces only its own slot. */
  private[plans] final case class Registration(sum: Option[SumReg],
      keyed: Option[KeyedReg], composite: Option[Keyed2Reg],
      sketch: Option[SketchReg], keyedSketch: Option[KeyedSketchReg])
  private val Unregistered = Registration(None, None, None, None, None)

  /** How to read and replace one family's slot of a [[Registration]]. */
  private final case class SlotOf[S <: Slot](get: Registration => Option[S],
      set: (Registration, S) => Registration)
  private val SumSlot = SlotOf[SumReg](_.sum, (r, s) => r.copy(sum = Some(s)))
  private val KeyedSlot = SlotOf[KeyedReg](_.keyed, (r, s) => r.copy(keyed = Some(s)))
  private val CompositeSlot =
    SlotOf[Keyed2Reg](_.composite, (r, s) => r.copy(composite = Some(s)))
  private val SketchSlot = SlotOf[SketchReg](_.sketch, (r, s) => r.copy(sketch = Some(s)))
  private val KeyedSketchSlot =
    SlotOf[KeyedSketchReg](_.keyedSketch, (r, s) => r.copy(keyedSketch = Some(s)))

  /** Registered indexes keyed by the source's normalized path. */
  private val registry = new ConcurrentHashMap[String, Registration]()

  /** Replace `slot` of `path`'s registration with `next(current slot)`
    * and enable the rewrite on the session. `next` runs under the path's
    * registry entry, so two registrations of one path serialize and a
    * registry hit can hand back the current slot unchanged. Cached
    * freshness verdicts for the path are dropped, so the new slot is
    * judged on a fresh listing. */
  private def update[S <: Slot](spark: SparkSession, path: String, slot: SlotOf[S])(
      next: Option[S] => S): S = {
    val p = normalize(path)
    var out: Option[S] = None
    registry.compute(p, (_, old) => {
      val r = Option(old).getOrElse(Unregistered)
      val s = next(slot.get(r))
      out = Some(s)
      slot.set(r, s)
    })
    fpCache.keySet.removeIf(_._1 == p)
    enable(spark)
    out.get
  }

  /** `path`'s registration in one family's slot, validated against the
    * CURRENT source fingerprint — None (rule bails, scan path) if the
    * files changed since registration. */
  private[plans] def lookup[S <: Slot](path: String)(slot: Registration => Option[S]): Option[S] =
    registered(path)(slot).filter(r => fresh(path, r.fingerprint, r.hadoopConf))

  private def registered[S](path: String)(slot: Registration => Option[S]): Option[S] =
    Option(registry.get(normalize(path))).flatMap(slot)

  /** Source-data fingerprint: sorted (name, length, mtime) of every file
    * under `path`. Captured at registration; [[WheelSumRewrite]] bails on
    * any mismatch, so an overwritten/appended source silently falls back
    * to the (correct) scan path instead of serving stale index constants.
    *
    * The format is a '|'-joined token list, one token per file — shared
    * with [[graft.streaming.WheelIngest]]'s restart bootstrap, which
    * diffs a persisted fingerprint against the current listing to
    * aggregate only the uncovered tail files. */
  private[graft] def sourceFingerprint(path: String, conf: Conf): String =
    graft.wheel.SourceFingerprint.of(path, conf)

  /** What a registration call did for its path and family:
    * `FullReuse` — a persisted sidecar's fingerprint matched and the
    * saved partials loaded with NO source scan; `TailRefresh` — the
    * files the old wheels cover are a STRICT SUBSET of the files now on
    * disk (append-only growth), so only the uncovered tail files were
    * aggregated and merged in; `FullBuild` — anything else (first build,
    * mutated/deleted files, different columns, torn dir);
    * `CacheServed` — the build-once catalog already held the wheels, so
    * no source scan ran. Registry hits (unchanged fingerprint) record
    * nothing. */
  sealed trait PersistedOutcome
  case object FullReuse extends PersistedOutcome
  final case class TailRefresh(coveredFiles: Int, tailFiles: Seq[String])
    extends PersistedOutcome
  case object FullBuild extends PersistedOutcome
  case object CacheServed extends PersistedOutcome

  /** The wheel families whose registrations report a [[PersistedOutcome]].
    * The in-memory and persisted registrations of one family report to
    * the same slot. */
  sealed trait Family
  object Family {
    case object Sum extends Family
    case object Keyed extends Family
    case object Sketch extends Family
    case object KeyedSketch extends Family
  }

  private val outcomes = new ConcurrentHashMap[(String, Family), PersistedOutcome]()

  /** What the latest registration of `family` for `path` did. */
  def lastOutcome(path: String, family: Family): Option[PersistedOutcome] =
    Option(outcomes.get((normalize(path), family)))

  private def record(path: String, family: Family, outcome: PersistedOutcome): Unit = {
    outcomes.put((normalize(path), family), outcome)
    ()
  }

  /** The in-memory registration lifecycle every family shares: keep a
    * registry hit (same files and `hit`), else try the family's append
    * `refresh` of the old slot, else `build` through the catalog — and
    * record which happened for `family` (the refresh records itself). */
  private def registerInMemory[S <: Slot](spark: SparkSession, path: String,
      slot: SlotOf[S], family: Option[Family], fp: String)(hit: S => Boolean,
      refresh: S => Option[(S, TailRefresh)], build: Option[S] => (S, Boolean)): S =
    update(spark, path, slot) {
      case Some(old) if old.fingerprint == fp && hit(old) => old
      case old =>
        old.filter(_.fingerprint != fp).flatMap(refresh).map(_._1).getOrElse {
          val (s, built) = build(old)
          family.foreach(record(path, _, if (built) FullBuild else CacheServed))
          s
        }
    }

  /** Build (via the build-once [[graft.wheel.WheelCatalog]]) and
    * register an index for `path`, and enable the rewrite rule on the
    * session. `events` must be the same reading pipeline queries use.
    *
    * The registration captures the source files' fingerprint; if the
    * data at `path` later changes, the rewrite rule stops firing (scan
    * path, still correct). Re-`register` after a data change to rebuild
    * — or `unregister(path)` to drop acceleration explicitly. When the
    * change is a PROVABLE APPEND (the registered files all still listed
    * unchanged, plus strictly new ones), the re-register aggregates
    * only the tail files into the retained minute partials instead of
    * re-scanning the source, observable via [[lastOutcome]]. */
  def register(spark: SparkSession, path: String, events: => DataFrame,
      tsCol: String = "ts", valueCol: String = "value"): WheelIndex =
    registerSum(spark, path, events, tsCol, Seq(valueCol))(key =>
      WheelCatalog.getOrBuild(spark, "sum", key, tsCol, valueCol)(
        WheelIndex.build(events, tsCol, valueCol)) match {
        case (w, built) => (Map(valueCol -> w), built)
      })(valueCol)

  /** MULTI-MEASURE registration: one [[WheelIndex.buildMulti]] pass
    * indexes every listed measure column, and the rewrite rule then
    * folds SQL statements aggregating ANY MIX of them — e.g.
    * `SELECT SUM(l_quantity), AVG(l_tax) FROM …` — from the per-measure
    * wheels, at plan time. Same fingerprint/staleness discipline as
    * [[register]]. */
  def registerMulti(spark: SparkSession, path: String, events: => DataFrame,
      tsCol: String, valueCols: Seq[String]): Map[String, WheelIndex] =
    registerSum(spark, path, events, tsCol, valueCols)(key =>
      WheelCatalog.getOrBuild(spark, "summulti", key, tsCol, valueCols.mkString(","))(
        WheelIndex.buildMulti(events, tsCol, valueCols)))

  /** Shared step of [[register]]/[[registerMulti]]: `build` takes the
    * fingerprint-embedding catalog key, so re-registering after a data
    * change rebuilds instead of serving the stale cached index. */
  private def registerSum(spark: SparkSession, path: String, events: => DataFrame,
      tsCol: String, valueCols: Seq[String])(
      build: String => (Map[String, WheelIndex], Boolean)): Map[String, WheelIndex] = {
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    registerInMemory(spark, path, SumSlot, Some(Family.Sum), fp)(
      old => old.tsCol == tsCol && valueCols.forall(old.wheels.contains),
      old => tailRefreshSum(spark, path, old, events, tsCol, valueCols, fp, conf),
      _ => build(s"$path@$fp") match {
        case (wheels, built) => (SumReg(tsCol, wheels, fp, conf), built)
      }).wheels
  }

  /** Append-only refresh of an IN-MEMORY sum registration: the
    * replacement wheels merge the old index's retained minute partials
    * with the tail files' ones, driver-side and O(slots). Bails to the
    * full rebuild (None) for measures the old registration lacks or an
    * incomplete minute tier (retention-rotated spans can't reproduce
    * their partials). */
  private def tailRefreshSum(spark: SparkSession, path: String, old: SumReg,
      events: => DataFrame, tsCol: String, valueCols: Seq[String], fp: String,
      conf: Conf): Option[(SumReg, TailRefresh)] = {
    val oldWheels = valueCols.flatMap(old.wheels.get)
    if (old.tsCol != tsCol || oldWheels.size != valueCols.size ||
        oldWheels.exists(!_.minuteTierComplete)) None
    else appendRefresh(spark, path, Family.Sum, old.fingerprint, fp, conf, tsCol,
        events) { tail =>
      val head = oldWheels.head
      val (rows, fi) = mergeMinutePartials(Nil, valueCols,
        head.minuteEntries(head.baseMs, head.horizonMs).map { case (slot, a0) =>
          (Nil, slot, a0.rows, oldWheels.map(_.minuteAt(slot)).toArray) },
        RollupBuilder.minuteRollupMulti(tail, tsCol, valueCols))
      lazy val residueSource = RollupBuilder.normalizeTs(events, tsCol)
      SumReg(tsCol, WheelIndex.fromMultiPartials(rows, fi, valueCols, Map.empty,
        c => Some(WheelIndex.scanFallback(residueSource, tsCol, c))), fp, conf)
    }
  }

  /** The one append-refresh step every family shares. When `path`
    * provably grew by appended files only since `oldFp`, and `events` is
    * the raw read of `path`, the family's `merge` gets a read of ONLY the
    * tail files — the covered data is never re-read: the term that
    * matters when the covered portion is 100 TB and the tail is one day.
    * A success records and returns `TailRefresh` for `family`; any
    * failure routes to the caller's full rebuild (None), logged at
    * DEBUG. */
  private def appendRefresh[T](spark: SparkSession, path: String, family: Family,
      oldFp: String, fp: String, conf: Conf, tsCol: String, events: => DataFrame)(
      merge: DataFrame => T): Option[(T, TailRefresh)] =
    provableAppendTail(path, oldFp, fp, conf).flatMap { case (coveredN, tail) =>
      scala.util.Try {
        requireRawPipeline(spark, path, tsCol, events)
        merge(RollupBuilder.normalizeTs(spark.read.parquet(tail: _*), tsCol))
      }.fold(
        e => { log.debug(s"append refresh for $path fell back to full rebuild", e); None },
        v => {
          val outcome = TailRefresh(coveredN, tail)
          record(path, family, outcome)
          Some((v, outcome))
        })
    }

  /** The append-only diff: Some((covered-file count, tail file paths))
    * when the old fingerprint's every data token is still listed
    * unchanged and at least one new file appeared; None for anything
    * else (mutation, deletion, a listing that no longer matches `fp` — a
    * writer racing the registration). */
  private def provableAppendTail(path: String, oldFp: String, fp: String,
      conf: Conf): Option[(Int, Seq[String])] = {
    import graft.wheel.SourceFingerprint
    val current = SourceFingerprint.listTokens(path, conf)
    val currentTokens = current.map(_._1).toSet
    val covered = oldFp.split('|').toSet
      .filter(t => SourceFingerprint.isDataToken(SourceFingerprint.tokenRel(t)))
    val tail = current.collect { case (tok, p) if !covered(tok) => p }
    if (current.map(_._1).sorted.mkString("|") != fp || covered.isEmpty ||
        tail.isEmpty || !covered.subsetOf(currentTokens)) None
    else Some((covered.size, tail))
  }

  /** Guard for the append refresh: the tail files are aggregated through
    * a RAW `spark.read.parquet` restricted to just the new files — at
    * 100 TB filtering `events` by file name would scan the whole table —
    * so a refresh is only sound when that raw read is pipeline-equivalent
    * to the caller's `events`. Checked structurally: identical schemas
    * after ts normalization, which catches projections, renames, recasts
    * and derived columns (those throw here → the caller takes the full
    * rebuild, which uses `events` itself). A pipeline that only FILTERS
    * rows is schema-invisible and excluded by the registration contract:
    * `events` must carry every row of `path`. */
  private def requireRawPipeline(spark: SparkSession, path: String,
      tsCol: String, events: DataFrame): Unit = {
    import graft.wheel.RollupBuilder.normalizeTs
    val raw = normalizeTs(spark.read.parquet(path), tsCol).schema
    val ev = normalizeTs(events, tsCol).schema
    require(raw == ev,
      s"tail refresh requires the events pipeline to read $path raw " +
        s"(schemas differ: $ev vs $raw); rebuilding from events instead")
  }

  /** Column layout of minute partials: `keyCols`, slot, five stats per
    * measure, row count. */
  private def partialCols(keyCols: Seq[String], valueCols: Seq[String]): Seq[String] =
    (keyCols :+ "slot_ms") ++ valueCols.flatMap(c =>
      Seq(s"sum_$c", s"cnt_$c", s"min_$c", s"max_$c", s"m2_$c")) :+ "rows"

  /** Driver-side merge of two bounded minute-partial maps — an old
    * index's retained (key parts, slot, rows, per-measure aggregates)
    * entries and the `tail` rollup's rows — into partial rows in the
    * [[partialCols]] layout, with their field index. `keyCols` is empty
    * for the unkeyed index. */
  private def mergeMinutePartials(keyCols: Seq[String], valueCols: Seq[String],
      old: Iterator[(Seq[Any], Long, Long, Array[AllAggregate])], tail: DataFrame)
      : (Array[SqlRow], Map[String, Int]) = {
    val merged = scala.collection.mutable.HashMap
      .empty[(Seq[Any], Long), (Long, Array[AllAggregate])]
    old.foreach { case (k, slot, n, aggs) => merged((k, slot)) = (n, aggs) }
    def tfi(name: String): Int = tail.schema.fieldIndex(name)
    tail.collect().foreach { r =>
      // same never-null-ts contract as the builds: a failure here routes
      // to the full rebuild, which throws loudly
      require(!r.isNullAt(tfi("slot_ms")), "null ts in tail files")
      val k = (keyCols.map(c => r.get(tfi(c))), r.getLong(tfi("slot_ms")))
      val n = r.getLong(tfi("rows"))
      val aggs = valueCols.map { c =>
        // nullable measures: an all-null tail slot has null stats —
        // contribute the combine identity (rows ride separately)
        if (r.isNullAt(tfi(s"sum_$c"))) AllAggregate.identity.copy(rows = n)
        else AllAggregate(r.getDouble(tfi(s"sum_$c")), r.getLong(tfi(s"cnt_$c")),
          r.getDouble(tfi(s"min_$c")), r.getDouble(tfi(s"max_$c")),
          r.getDouble(tfi(s"m2_$c")), n)
      }.toArray
      merged(k) = merged.get(k) match {
        case Some((n0, a0)) => (n0 + n, a0.zip(aggs).map { case (x, y) => x.combine(y) })
        case None => (n, aggs)
      }
    }
    val rows = merged.toArray.sortBy { case ((k, slot), _) => (k.mkString(","), slot) }
      .map { case ((k, slot), (n, aggs)) =>
        // Seq[Any], element by element: a mixed Seq(double, long, …)
        // literal would numerically WIDEN the longs to doubles
        val vals = Seq.newBuilder[Any]
        vals ++= k; vals += slot
        aggs.foreach { a => vals += a.sum; vals += a.count; vals += a.min
          vals += a.max; vals += a.m2 }
        vals += n
        org.apache.spark.sql.Row.fromSeq(vals.result())
      }
    (rows, partialCols(keyCols, valueCols).zipWithIndex.toMap)
  }

  /** The persisted lifecycle every dir-backed registration shares:
    *  1. the sidecar at `dir` `matches` and records the current source
    *     fingerprint → LOAD through the build-once dir-load cache, no
    *     source scan — the term that matters at 100 TB;
    *  2. the source provably grew by appended files → the family's
    *     `refresh` of the saved dir (None: this dir can't be refreshed);
    *  3. anything else (first save, mutation, foreign or torn dir — a
    *     torn load throws and rebuilds) → full `save` from `events`.
    * Records and returns what happened for `family`. */
  private def resolvePersisted[W <: AnyRef](spark: SparkSession, path: String,
      dir: String, family: Family, fp: String, conf: Conf, tsCol: String,
      events: => DataFrame, variant: String)(matches: PersistentWheel.Meta => Boolean,
      load: => W, save: => W,
      refresh: PersistentWheel.Meta => Option[DataFrame => W]): (W, PersistedOutcome) = {
    val saved = PersistentWheel.peek(spark, dir).filter(matches)
    val loaded = saved.filter(_.sourceFingerprint == fp).flatMap(m =>
      scala.util.Try(WheelCatalog.cachedDirLoad(spark, dir, m, variant)(load)).toOption)
    loaded.map { w => record(path, family, FullReuse); (w, FullReuse) }
      .orElse(for {
        m <- saved if m.sourceFingerprint.nonEmpty
        merge <- refresh(m)
        refreshed <- appendRefresh(spark, path, family, m.sourceFingerprint, fp, conf,
          tsCol, events)(merge)
      } yield refreshed)
      .getOrElse {
        val w = save
        record(path, family, FullBuild)
        (w, FullBuild)
      }
  }

  /** PERSISTED registration: serve the index from a saved copy at
    * `indexDir` when it provably matches the current source —
    * [[graft.wheel.PersistentWheel]] records the source fingerprint at
    * save time, and a load is O(slots) (one tiny parquet read, NO source
    * scan). On append-only growth only the tail files are aggregated,
    * merged into the saved partials and re-saved; otherwise the index is
    * rebuilt from `events` and re-saved for the next caller. Same
    * registry, fingerprint and rewrite discipline as [[register]].
    * CONTRACT for the append refresh: `events` must read `path` raw — no
    * projections/renames/recasts (schema-checked against the raw read; a
    * mismatch takes the full rebuild) and no row filters
    * (schema-invisible, so on the caller's honor). */
  def registerPersisted(spark: SparkSession, path: String, indexDir: String,
      events: => DataFrame, tsCol: String = "ts",
      valueCols: Seq[String] = Seq("value")): Map[String, WheelIndex] = {
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    update(spark, path, SumSlot) {
      case Some(old) if old.fingerprint == fp && old.tsCol == tsCol &&
        valueCols.forall(old.wheels.contains) => old
      case _ => SumReg(tsCol, resolvePersisted(spark, path, indexDir, Family.Sum, fp,
          conf, tsCol, events, "accel-sum-residue")(
        m => m.kind == PersistentWheel.SumKind && m.tsCol == tsCol &&
          valueCols.forall(m.valueCols.contains),
        PersistentWheel.load(spark, indexDir, Some(events))._2,
        PersistentWheel.save(spark, indexDir, events, tsCol, valueCols, fp, path),
        m => Option.when(m.valueCols == valueCols) { (tail: DataFrame) =>
          val cols = partialCols(Nil, valueCols)
          // loadPartials validates version + slots fingerprint (torn
          // dirs throw -> full rebuild)
          val (_, persisted) = PersistentWheel.loadPartials(spark, indexDir)
          val merged = RollupBuilder.mergeMulti(
            persisted.select(cols.head, cols.tail: _*).unionByName(
              RollupBuilder.minuteRollupMulti(tail, tsCol, valueCols)
                .select(cols.head, cols.tail: _*)), valueCols)
          PersistentWheel.savePartials(spark, indexDir, merged, tsCol, valueCols, fp, path)
          // reload what was just written: round-trip validation plus
          // the residue fallback re-armed on the CURRENT source
          PersistentWheel.load(spark, indexDir, Some(events))._2
        })._1, fp, conf)
    }.wheels
  }

  /** Register an ALREADY-BUILT index for `path` — the refresh primitive
    * behind [[graft.streaming.WheelIngest]]'s live registration: the
    * ingest sink rebuilds the (O(slots), driver-local) index from its
    * accumulated partials after each committed micro-batch and swaps it
    * in here. `coveredFingerprint`, when provided, records the files
    * PROVABLY folded into the index (the ingest's covered-token set)
    * instead of a fresh listing — a file appended by a foreign writer
    * between the fold and this call then fails the freshness check and
    * takes the scan path, rather than being silently claimed as
    * indexed. Without it the source is fingerprinted as it stands right
    * now; anything racing a concurrent writer is caught by the usual
    * fingerprint check and falls back to the scan. */
  def registerPrebuilt(spark: SparkSession, path: String, tsCol: String,
      wheels: Map[String, WheelIndex],
      coveredFingerprint: Option[String] = None): Unit = {
    require(wheels.nonEmpty, "need at least one measure wheel")
    // uniform layout across a registration's measure wheels: the
    // multi-measure fold paths read SIBLING wheels at the head wheel's
    // slots, which is only sound when every wheel shares the span and
    // retention. The library's own builders always produce uniform
    // families; this guards a foreign map, loudly.
    val head = wheels.valuesIterator.next()
    wheels.foreach { case (c, w) =>
      require(w.baseMs == head.baseMs && w.horizonMs == head.horizonMs &&
        Seq(graft.wheel.Tier.Minute, graft.wheel.Tier.Hour,
          graft.wheel.Tier.Day).forall(t =>
          w.retainedStartMs(t) == head.retainedStartMs(t)),
        s"measure wheel '$c' does not share the registration's span/" +
          "retention layout — all wheels of one registration must be " +
          "built over the same source with the same retention policy")
    }
    val conf = spark.sessionState.newHadoopConf()
    val fp = coveredFingerprint.getOrElse(sourceFingerprint(path, conf))
    update(spark, path, SumSlot)(_ => SumReg(tsCol, wheels, fp, conf))
    ()
  }

  /** Keyed analogue of [[registerPrebuilt]]: swap an ALREADY-BUILT keyed
    * index in for `path` — the refresh primitive behind
    * [[graft.streaming.WheelIngest]]'s live KEYED registration. */
  def registerPrebuiltKeyed(spark: SparkSession, path: String,
      keyCol: String, tsCol: String, wheels: Map[String, KeyedWheelIndex],
      coveredFingerprint: Option[String] = None): Unit = {
    require(wheels.nonEmpty, "need at least one keyed measure wheel")
    val conf = spark.sessionState.newHadoopConf()
    val fp = coveredFingerprint.getOrElse(sourceFingerprint(path, conf))
    update(spark, path, KeyedSlot)(_ => KeyedReg(keyCol, tsCol, wheels, fp, conf))
    ()
  }

  /** Drop the registered indexes for `path` (the rewrite rule stops
    * firing for it; queries fall back to the scan path). Cached
    * freshness verdicts go with them, so a later re-registration is
    * judged on a fresh listing. */
  def unregister(path: String): Unit = {
    registry.remove(normalize(path))
    bailReasons.remove(normalize(path))
    fpCache.keySet.removeIf(_._1 == normalize(path))
    ()
  }

  /** Adds the requested sketch columns a registration lacks, each built
    * once through the catalog under `parts` (source key and the ts/dim
    * columns) plus the column; `built` reports whether any build ran. */
  private final class SketchColumns(spark: SparkSession, parts: Seq[String]) {
    var built = false
    def add[W <: AnyRef](have: Map[String, W], cols: Seq[String], family: String)(
        build: String => W): Map[String, W] =
      have ++ cols.filterNot(have.contains).map { c =>
        val (w, b) = WheelCatalog.getOrBuild(spark, family, parts :+ c: _*)(build(c))
        built |= b
        c -> w
      }
  }

  /** SKETCH-WHEEL registration: make the sketch-wheel family reachable
    * from the UNCHANGED SQL interface. [[WheelSumRewrite]] then folds,
    * over a registered half-open range,
    *
    *  - `approx_count_distinct(col)` from a per-slot Theta sketch wheel
    *    ([[graft.wheel.CohortWheel]] — exact while retained entries stay
    *    under the nominal 4096, the regime every shipped SF sits in),
    *  - `percentile_approx(col, p[, acc])` from the KLL quantile wheel
    *    ([[graft.wheel.QuantileWheel]] — exact below its k=200 buffer),
    *  - `approx_top_k(col, k[, tracked])` from the Misra-Gries
    *    frequent-items wheel ([[graft.wheel.FrequencyWheel]] — the same
    *    DataSketches frequent-items family Spark's own implementation
    *    accumulates; counts exact while distinct keys fit the budget).
    *
    * These functions are DECLARED approximate, so substituting one
    * mergeable sketch's estimate for another's is semantically honest —
    * unlike the exact spellings (`COUNT(DISTINCT …)`,
    * `percentile_disc`), which are never folded and always keep the
    * scan. Builds go through [[graft.wheel.WheelCatalog]] (build-once /
    * query-many); same fingerprint/staleness discipline as
    * [[register]]. Columns already registered for `path` are kept. */
  def registerSketches(spark: SparkSession, path: String, events: => DataFrame,
      tsCol: String = "ts", distinctCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil, freqCols: Seq[String] = Nil): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    def withColumns(base: SketchReg): (SketchReg, Boolean) = {
      val cols = new SketchColumns(spark, Seq(s"$path@$fp", tsCol))
      val reg = base.copy(
        distinct = cols.add(base.distinct, distinctCols, "cohort")(
          CohortWheel.build(events, tsCol, _)),
        quantile = cols.add(base.quantile, quantileCols, "quantile")(
          QuantileWheel.build(events, tsCol, _)),
        freq = cols.add(base.freq, freqCols, "frequency")(
          FrequencyWheel.build(events, tsCol, _)))
      (reg, cols.built)
    }
    registerInMemory(spark, path, SketchSlot, Some(Family.Sketch), fp)(
      old => old.tsCol == tsCol && distinctCols.forall(old.distinct.contains) &&
        quantileCols.forall(old.quantile.contains) && freqCols.forall(old.freq.contains),
      old => Option.when(old.tsCol == tsCol)(old)
        .flatMap(tailRefreshSketches(spark, path, _, events, fp, conf))
        .map { case (reg, outcome) => (withColumns(reg)._1, outcome) },
      old => withColumns(old.filter(o => o.fingerprint == fp && o.tsCol == tsCol)
        .getOrElse(SketchReg(tsCol, Map.empty, Map.empty, Map.empty, fp, conf))))
    ()
  }

  /** The SKETCH-FAMILY append refresh: each already-registered column's
    * new wheel is the old wheel's retained minute sketches merged with
    * one bounded slot-sketch job over ONLY the tail files — sound
    * because every family's merge (Theta union / KLL merge / Misra-Gries
    * merge) is associative, so old-then-tail equals a full rebuild.
    * Bails on an empty registration or an evicted minute tier. */
  private def tailRefreshSketches(spark: SparkSession, path: String,
      old: SketchReg, events: => DataFrame, fp: String,
      conf: Conf): Option[(SketchReg, TailRefresh)] = {
    val tsCol = old.tsCol
    val empty = old.distinct.isEmpty && old.quantile.isEmpty && old.freq.isEmpty
    val complete = old.distinct.valuesIterator.forall(_.minuteTierComplete) &&
      old.quantile.valuesIterator.forall(_.minuteTierComplete) &&
      old.freq.valuesIterator.forall(_.minuteTierComplete)
    if (empty || !complete) None
    else appendRefresh(spark, path, Family.Sketch, old.fingerprint, fp, conf, tsCol,
        events) { tail =>
      old.copy(
        distinct = old.distinct.map { case (c, w) =>
          c -> w.withTailMinutes(CohortWheel.slotSketches(tail, tsCol, c).collect()) },
        quantile = old.quantile.map { case (c, w) =>
          c -> w.withTailMinutes(QuantileWheel.slotSketches(tail, tsCol, c).collect()) },
        freq = old.freq.map { case (c, w) =>
          c -> w.withTailMinutes(FrequencyWheel.slotSketches(tail, tsCol, c).collect()) },
        fingerprint = fp)
    }
  }

  /** The persisted sketch columns of one registration, each resolved
    * load / tail-refresh / rebuild against its own subdir of
    * `indexBaseDir` (one [[graft.wheel.PersistentWheel]] kind per dir).
    * `keyCol` is None for the unkeyed family, whose sidecars record just
    * the column, and the dimension column for the keyed family, whose
    * sidecars record (dimension, column). [[summary]] is the
    * registration's worst-case work: FullBuild if ANY column scanned the
    * source, else TailRefresh if any read tail files, else FullReuse. */
  private final class SketchDirs(spark: SparkSession, path: String, family: Family,
      indexBaseDir: String, tsCol: String, keyCol: Option[String],
      events: => DataFrame) {
    val conf: Conf = spark.sessionState.newHadoopConf()
    val fp: String = sourceFingerprint(path, conf)
    private val outcomes = Seq.newBuilder[PersistedOutcome]

    def add[W <: AnyRef](cols: Seq[String], prefix: String, kind: String)(
        load: String => W, tailSlots: (DataFrame, String) => Array[SqlRow],
        mergeBytes: (Array[Byte], Array[Byte]) => Array[Byte],
        save: (String, String) => W): Map[String, W] =
      cols.map { c =>
        val dir = s"$indexBaseDir/${prefix}_$c"
        val (w, outcome) = resolvePersisted(spark, path, dir, family, fp, conf, tsCol,
            events, s"accel-$kind")(
          m => m.kind == kind && m.tsCol == tsCol && m.valueCols == keyCol.toSeq :+ c &&
            m.sourceFingerprint.nonEmpty,
          load(dir), save(dir, c),
          _ => Some { (tail: DataFrame) =>
            val refreshDir =
              if (keyCol.isEmpty) PersistentWheel.refreshSketchDir _
              else PersistentWheel.refreshKeyedSketchDir _
            refreshDir(spark, dir, kind, tailSlots(tail, c), mergeBytes, fp)
            load(dir)
          })
        outcomes += outcome
        c -> w
      }.toMap

    def summary: PersistedOutcome = {
      val all = outcomes.result()
      if (all.contains(FullBuild)) FullBuild
      else all.collectFirst { case t: TailRefresh => t }.getOrElse(FullReuse)
    }
  }

  /** PERSISTED sketch registration: the sketch-family mirror of
    * [[registerPersisted]]. Each requested column resolves against its
    * own subdir of `indexBaseDir` (`theta_<col>` / `kll_<col>` /
    * `mg_<col>`): load when the sidecar fingerprint matches the source,
    * tail-refresh on a provable append, else full build + save. The
    * loaded wheels replace any previous sketch registration for `path`
    * (same put-semantics as [[registerPrebuiltSketches]]), and
    * [[lastOutcome]] reports the registration's worst-case work. */
  def registerPersistedSketches(spark: SparkSession, path: String,
      indexBaseDir: String, events: => DataFrame, tsCol: String = "ts",
      distinctCols: Seq[String] = Nil, quantileCols: Seq[String] = Nil,
      freqCols: Seq[String] = Nil): Unit = {
    require(distinctCols.nonEmpty || quantileCols.nonEmpty || freqCols.nonEmpty,
      "need at least one sketch column")
    val P = PersistentWheel
    val dirs = new SketchDirs(spark, path, Family.Sketch, indexBaseDir, tsCol, None, events)
    val distinct = dirs.add(distinctCols, "theta", P.ThetaKind)(
      P.loadCohort(spark, _)._2,
      (df, c) => CohortWheel.slotSketches(df, tsCol, c).collect(), CohortWheel.mergeBytes,
      (d, c) => P.saveCohort(spark, d, events, tsCol, c, dirs.fp, path))
    val quantile = dirs.add(quantileCols, "kll", P.KllKind)(
      P.loadQuantile(spark, _)._2,
      (df, c) => QuantileWheel.slotSketches(df, tsCol, c).collect(), QuantileWheel.mergeBytes,
      (d, c) => P.saveQuantile(spark, d, events, tsCol, c, dirs.fp, path))
    val freq = dirs.add(freqCols, "mg", P.MgKind)(
      P.loadFrequency(spark, _)._2,
      (df, c) => FrequencyWheel.slotSketches(df, tsCol, c).collect(), FrequencyWheel.mergeBytes,
      (d, c) => P.saveFrequency(spark, d, events, tsCol, c, dirs.fp, path))
    update(spark, path, SketchSlot)(_ =>
      SketchReg(tsCol, distinct, quantile, freq, dirs.fp, dirs.conf))
    record(path, Family.Sketch, dirs.summary)
  }

  /** The KEYED mirror of [[registerPersistedSketches]]: per-dimension
    * sketch wheels resolved load / tail-refresh / rebuild against
    * `keyedtheta_<col>` / `keyedkll_<col>` / `keyedmg_<col>` subdirs of
    * `indexBaseDir`. Requires a [[registerKeyed]] registration on the
    * same key and ts columns for the keyed rewrite to enumerate keys
    * (same contract as [[registerKeyedSketches]]). */
  def registerPersistedKeyedSketches(spark: SparkSession, path: String,
      indexBaseDir: String, events: => DataFrame, keyCol: String,
      tsCol: String = "ts", distinctCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil, freqCols: Seq[String] = Nil): Unit = {
    require(distinctCols.nonEmpty || quantileCols.nonEmpty || freqCols.nonEmpty,
      "need at least one keyed sketch column")
    val P = PersistentWheel
    val K = KeyedSketchWheels
    val dirs = new SketchDirs(spark, path, Family.KeyedSketch, indexBaseDir, tsCol,
      Some(keyCol), events)
    val distinct = dirs.add(distinctCols, "keyedtheta", P.KeyedThetaKind)(
      P.loadKeyedCohort(spark, _)._2,
      (df, c) => K.cohortSlotSketches(df, keyCol, tsCol, c).collect(), CohortWheel.mergeBytes,
      (d, c) => P.saveKeyedCohort(spark, d, events, keyCol, tsCol, c, dirs.fp, path))
    val quantile = dirs.add(quantileCols, "keyedkll", P.KeyedKllKind)(
      P.loadKeyedQuantile(spark, _)._2,
      (df, c) => K.quantileSlotSketches(df, keyCol, tsCol, c).collect(),
      QuantileWheel.mergeBytes,
      (d, c) => P.saveKeyedQuantile(spark, d, events, keyCol, tsCol, c, dirs.fp, path))
    val freq = dirs.add(freqCols, "keyedmg", P.KeyedMgKind)(
      P.loadKeyedFrequency(spark, _)._2,
      (df, c) => K.frequencySlotSketches(df, keyCol, tsCol, c).collect(),
      FrequencyWheel.mergeBytes,
      (d, c) => P.saveKeyedFrequency(spark, d, events, keyCol, tsCol, c, dirs.fp, path))
    update(spark, path, KeyedSketchSlot)(_ =>
      KeyedSketchReg(keyCol, tsCol, distinct, quantile, freq, dirs.fp, dirs.conf))
    record(path, Family.KeyedSketch, dirs.summary)
  }

  /** Register ALREADY-BUILT sketch wheels for `path` — the live-ingest
    * refresh primitive for the approximate SQL spellings:
    * [[graft.streaming.WheelIngest]] rebuilds the per-column wheels
    * from its accumulated minute sketches after each committed batch
    * and swaps them in here, so `approx_count_distinct` /
    * `percentile_approx` / `approx_top_k` keep folding WITH the
    * just-ingested rows. `coveredFingerprint` has the same
    * foreign-writer semantics as [[registerPrebuilt]]. */
  def registerPrebuiltSketches(spark: SparkSession, path: String,
      tsCol: String,
      distinct: Map[String, CohortWheel] = Map.empty,
      quantile: Map[String, QuantileWheel] = Map.empty,
      freq: Map[String, FrequencyWheel] = Map.empty,
      coveredFingerprint: Option[String] = None): Unit = {
    require(distinct.nonEmpty || quantile.nonEmpty || freq.nonEmpty,
      "need at least one sketch wheel")
    val conf = spark.sessionState.newHadoopConf()
    val fp = coveredFingerprint.getOrElse(sourceFingerprint(path, conf))
    update(spark, path, SketchSlot)(_ =>
      SketchReg(tsCol, distinct, quantile, freq, fp, conf))
    ()
  }

  /** KEYED sketch-wheel registration: the keyed grid analogue of
    * [[registerSketches]] — after it, `GROUP BY keyCol, time-bucket`
    * statements aggregating `approx_count_distinct` /
    * `percentile_approx` / `approx_top_k` fold per (key, cell) from
    * per-dimension sketch wheels ([[graft.wheel.KeyedSketchWheels]]: one
    * two-stage build job per family, driver-resident under a hard entry
    * ceiling). Requires a [[registerKeyed]] registration on the same key
    * and ts columns — the keyed rewrite's key enumeration and
    * cell-emptiness checks run off the keyed SUM wheels. Same
    * fingerprint/staleness discipline and the same per-key accuracy gate
    * as the unkeyed folds. */
  def registerKeyedSketches(spark: SparkSession, path: String,
      events: => DataFrame, keyCol: String, tsCol: String = "ts",
      distinctCols: Seq[String] = Nil, quantileCols: Seq[String] = Nil,
      freqCols: Seq[String] = Nil): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    def sameCols(o: KeyedSketchReg) = o.keyCol == keyCol && o.tsCol == tsCol
    def withColumns(base: KeyedSketchReg): (KeyedSketchReg, Boolean) = {
      val cols = new SketchColumns(spark, Seq(s"$path@$fp", keyCol, tsCol))
      val reg = base.copy(
        distinct = cols.add(base.distinct, distinctCols, "keyedcohort")(
          KeyedSketchWheels.buildCohort(events, keyCol, tsCol, _)),
        quantile = cols.add(base.quantile, quantileCols, "keyedquantile")(
          KeyedSketchWheels.buildQuantile(events, keyCol, tsCol, _)),
        freq = cols.add(base.freq, freqCols, "keyedfrequency")(
          KeyedSketchWheels.buildFrequency(events, keyCol, tsCol, _)))
      (reg, cols.built)
    }
    registerInMemory(spark, path, KeyedSketchSlot, Some(Family.KeyedSketch), fp)(
      old => sameCols(old) && distinctCols.forall(old.distinct.contains) &&
        quantileCols.forall(old.quantile.contains) && freqCols.forall(old.freq.contains),
      old => Option.when(sameCols(old))(old)
        .flatMap(tailRefreshKeyedSketches(spark, path, _, events, fp, conf))
        .map { case (reg, outcome) => (withColumns(reg)._1, outcome) },
      old => withColumns(old.filter(o => o.fingerprint == fp && sameCols(o)).getOrElse(
        KeyedSketchReg(keyCol, tsCol, Map.empty, Map.empty, Map.empty, fp, conf))))
    ()
  }

  /** The KEYED sketch append refresh: one bounded keyed slot-sketch job
    * per family×column over ONLY the tail files; each dimension's tail
    * rows merge into that dimension's old wheel (associative family
    * merges), dims first seen in the tail get fresh wheels, untouched
    * dims keep theirs. The driver-resident ceiling is re-checked against
    * the merged entry count — past it the refresh routes to the full
    * rebuild's own loud failure. */
  private def tailRefreshKeyedSketches(spark: SparkSession, path: String,
      old: KeyedSketchReg, events: => DataFrame, fp: String,
      conf: Conf): Option[(KeyedSketchReg, TailRefresh)] = {
    val (keyCol, tsCol) = (old.keyCol, old.tsCol)
    val empty = old.distinct.isEmpty && old.quantile.isEmpty && old.freq.isEmpty
    val complete =
      old.distinct.valuesIterator.flatMap(_.valuesIterator).forall(_.minuteTierComplete) &&
      old.quantile.valuesIterator.flatMap(_.valuesIterator).forall(_.minuteTierComplete) &&
      old.freq.valuesIterator.flatMap(_.valuesIterator).forall(_.minuteTierComplete)
    def refreshFamily[W](oldMap: Map[Any, W], tailRows: Array[SqlRow],
        withTail: (W, Array[SqlRow]) => W,
        fresh: Array[SqlRow] => W, count: W => Int): Map[Any, W] = {
      // conservative merged-entry bound (in-slot merges counted twice);
      // past it the full rebuild's grouped() fill enforces the exact
      // ceiling with its own loud failure
      require(oldMap.valuesIterator.map(count).sum + tailRows.length <=
        KeyedSketchWheels.MaxEntries,
        "keyed sketch tail refresh would exceed the driver-resident " +
          s"entry ceiling (${KeyedSketchWheels.MaxEntries})")
      val byDim = tailRows.groupBy(_.get(0)).map { case (d, rs) =>
        d -> rs.map(r => org.apache.spark.sql.Row(r.getLong(1), r.getAs[Array[Byte]](2)))
      }
      (oldMap.keySet ++ byDim.keySet).iterator.map { d =>
        d -> ((oldMap.get(d), byDim.get(d)) match {
          case (Some(w), Some(rs)) => withTail(w, rs)
          case (Some(w), None) => w
          case (_, Some(rs)) => fresh(rs)
          case _ => throw new IllegalStateException("unreachable")
        })
      }.toMap
    }
    if (empty || !complete) None
    else appendRefresh(spark, path, Family.KeyedSketch, old.fingerprint, fp, conf, tsCol,
        events) { tail =>
      old.copy(
        distinct = old.distinct.map { case (c, m) =>
          c -> refreshFamily[CohortWheel](m,
            KeyedSketchWheels.cohortSlotSketches(tail, keyCol, tsCol, c).collect(),
            _.withTailMinutes(_), CohortWheel.fromMinuteSketches(_, Map.empty),
            _.minuteEntryCount) },
        quantile = old.quantile.map { case (c, m) =>
          c -> refreshFamily[QuantileWheel](m,
            KeyedSketchWheels.quantileSlotSketches(tail, keyCol, tsCol, c).collect(),
            _.withTailMinutes(_), QuantileWheel.fromMinuteSketches(_, Map.empty),
            _.minuteEntryCount) },
        freq = old.freq.map { case (c, m) =>
          c -> refreshFamily[FrequencyWheel](m,
            KeyedSketchWheels.frequencySlotSketches(tail, keyCol, tsCol, c).collect(),
            _.withTailMinutes(_), FrequencyWheel.fromMinuteSketches(_, Map.empty),
            _.minuteEntryCount) },
        fingerprint = fp)
    }
  }

  /** Swap ALREADY-BUILT keyed sketch wheels in for `path` — the
    * live-ingest refresh primitive for the KEYED approximate spellings
    * (the keyed analogue of [[registerPrebuiltSketches]]).
    * `coveredFingerprint` has the same foreign-writer semantics as
    * [[registerPrebuilt]]. */
  def registerPrebuiltKeyedSketches(spark: SparkSession, path: String,
      keyCol: String, tsCol: String,
      distinct: Map[String, Map[Any, CohortWheel]] = Map.empty,
      quantile: Map[String, Map[Any, QuantileWheel]] = Map.empty,
      freq: Map[String, Map[Any, FrequencyWheel]] = Map.empty,
      coveredFingerprint: Option[String] = None): Unit = {
    require(distinct.nonEmpty || quantile.nonEmpty || freq.nonEmpty,
      "need at least one keyed sketch wheel")
    val conf = spark.sessionState.newHadoopConf()
    val fp = coveredFingerprint.getOrElse(sourceFingerprint(path, conf))
    update(spark, path, KeyedSketchSlot)(_ =>
      KeyedSketchReg(keyCol, tsCol, distinct, quantile, freq, fp, conf))
    ()
  }

  /** Register a PER-KEY index for `path` (GROUP BY keyCol × time-slot
    * rewrites). Same fingerprint/staleness discipline as [[register]]. */
  def registerKeyed(spark: SparkSession, path: String, events: => DataFrame,
      keyCol: String, tsCol: String = "ts", valueCol: String = "value"): KeyedWheelIndex =
    registerKeyedMulti(spark, path, events, keyCol, tsCol, Seq(valueCol))(valueCol)

  /** N-measure keyed registration: ONE
    * [[graft.wheel.KeyedWheelIndex.buildMulti]] pass indexes every
    * listed measure per key, and `GROUP BY (key, time-slot)` SQL
    * aggregating ANY MIX of them folds at plan time — the keyed analogue
    * of [[registerMulti]]. Built once through the catalog: the
    * fingerprint-keyed cache serves re-registrations of unchanged data. */
  def registerKeyedMulti(spark: SparkSession, path: String, events: => DataFrame,
      keyCol: String, tsCol: String,
      valueCols: Seq[String]): Map[String, KeyedWheelIndex] = {
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    registerInMemory(spark, path, KeyedSlot, Some(Family.Keyed), fp)(
      old => old.keyCol == keyCol && old.tsCol == tsCol &&
        valueCols.forall(old.wheels.contains),
      old => tailRefreshKeyed(spark, path, old, events, keyCol, tsCol, valueCols, fp, conf),
      _ => WheelCatalog.getOrBuild(spark, "keyedmulti", s"$path@$fp", keyCol, tsCol,
          valueCols.mkString(","))(
          KeyedWheelIndex.buildMulti(events, keyCol, tsCol, valueCols)) match {
        case (wheels, built) => (KeyedReg(keyCol, tsCol, wheels, fp, conf), built)
      }).wheels
  }

  /** The KEYED in-memory append refresh: the new per-key wheels merge
    * the old index's retained (key, minute) partials with one bounded
    * keyed rollup of the tail files. The keyed index retains its full
    * minute map (no rotation), so no tier-completeness gate is needed;
    * the driver ceiling is re-checked by the shared fill
    * ([[graft.wheel.KeyedWheelIndex.fromMultiPartialRows]]), and a
    * merged state past it routes to the full rebuild's identical loud
    * failure. */
  private def tailRefreshKeyed(spark: SparkSession, path: String,
      old: KeyedReg, events: => DataFrame, keyCol: String, tsCol: String,
      valueCols: Seq[String], fp: String,
      conf: Conf): Option[(KeyedReg, TailRefresh)] = {
    val oldWheels = valueCols.flatMap(old.wheels.get)
    if (old.keyCol != keyCol || old.tsCol != tsCol || oldWheels.size != valueCols.size) None
    else appendRefresh(spark, path, Family.Keyed, old.fingerprint, fp, conf, tsCol,
        events) { tail =>
      val head = oldWheels.head
      val (rows, fi) = mergeMinutePartials(Seq(keyCol), valueCols,
        head.minuteEntries(head.baseMs, head.horizonMs).map { case (key, slot, a0) =>
          (Seq(key), slot, a0.rows, oldWheels.map(_.minuteAt(key, slot)).toArray) },
        RollupBuilder.keyedRollupMulti(tail, keyCol, tsCol, valueCols,
          graft.wheel.Tier.Minute))
      KeyedReg(keyCol, tsCol, KeyedWheelIndex.fromMultiPartialRows(
        rows, fi, keyCol, head.keyType, valueCols), fp, conf)
    }
  }

  /** PERSISTED keyed registration: the per-key index served from a
    * saved copy at `indexDir` when its recorded source fingerprint, key
    * and measure column match — an O(|keys| × slots) load with NO source
    * scan — and rebuilt+re-saved otherwise. The keyed analogue of
    * [[registerPersisted]]. */
  def registerPersistedKeyed(spark: SparkSession, path: String,
      indexDir: String, events: => DataFrame, keyCol: String,
      tsCol: String = "ts", valueCol: String = "value"): KeyedWheelIndex =
    registerPersistedKeyedWith(spark, path, indexDir, events, keyCol, tsCol,
        Seq(valueCol), PersistentWheel.KeyedKind, "accel-keyed")(
      Map(valueCol -> PersistentWheel.loadKeyed(spark, indexDir)._2),
      fp => Map(valueCol -> PersistentWheel.saveKeyed(
        spark, indexDir, events, keyCol, tsCol, valueCol, fp, path)),
      None)(valueCol)

  /** PERSISTED N-measure keyed registration: every listed measure's
    * per-key wheel served from a `keyedmulti` dir when its recorded
    * source fingerprint, key and measure columns match, tail-refreshed
    * on append-only growth (one keyedRollupMulti job over the new files,
    * merged into the saved (key, slot) partials and re-saved), and
    * rebuilt+re-saved otherwise. Because the live keyed ingest
    * checkpoints in exactly this format, a batch session can register
    * straight off `persistDir/keyed`. */
  def registerPersistedKeyedMulti(spark: SparkSession, path: String,
      indexDir: String, events: => DataFrame, keyCol: String,
      tsCol: String, valueCols: Seq[String]): Map[String, KeyedWheelIndex] =
    registerPersistedKeyedWith(spark, path, indexDir, events, keyCol, tsCol,
        valueCols, PersistentWheel.KeyedMultiKind, "accel-keyedmulti")(
      PersistentWheel.loadKeyedMulti(spark, indexDir)._2,
      PersistentWheel.saveKeyedMulti(
        spark, indexDir, events, keyCol, tsCol, valueCols, _, path),
      Some { (tail: DataFrame, fp: String) =>
        val cols = partialCols(Seq(keyCol), valueCols)
        val (_, persisted) = PersistentWheel.loadPartialsKeyedMulti(spark, indexDir)
        val merged = RollupBuilder.mergeKeyedMulti(
          persisted.select(cols.head, cols.tail: _*).unionByName(
            RollupBuilder.keyedRollupMulti(tail, keyCol, tsCol, valueCols,
              graft.wheel.Tier.Minute).select(cols.head, cols.tail: _*)),
          keyCol, valueCols)
        PersistentWheel.savePartialsKeyedMulti(
          spark, indexDir, merged, tsCol, keyCol, valueCols, fp, path)
        PersistentWheel.loadKeyedMulti(spark, indexDir)._2
      })

  /** Shared step of the persisted keyed registrations: `save` and
    * `refresh` take the current source fingerprint. */
  private def registerPersistedKeyedWith(spark: SparkSession, path: String,
      indexDir: String, events: => DataFrame, keyCol: String, tsCol: String,
      valueCols: Seq[String], kind: String, variant: String)(
      load: => Map[String, KeyedWheelIndex],
      save: String => Map[String, KeyedWheelIndex],
      refresh: Option[(DataFrame, String) => Map[String, KeyedWheelIndex]])
      : Map[String, KeyedWheelIndex] = {
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    update(spark, path, KeyedSlot) {
      case Some(old) if old.fingerprint == fp && old.keyCol == keyCol &&
        old.tsCol == tsCol && valueCols.forall(old.wheels.contains) => old
      case _ => KeyedReg(keyCol, tsCol, resolvePersisted(spark, path, indexDir,
          Family.Keyed, fp, conf, tsCol, events, variant)(
        m => m.kind == kind && m.tsCol == tsCol && m.valueCols == keyCol +: valueCols,
        load, save(fp), _ => refresh.map(r => r(_, fp)))._1, fp, conf)
    }.wheels
  }

  /** Synthetic struct column carrying the composite key through the
    * keyed build — never visible to queries. */
  private val CompositeKeyCol = "__graft_ckey"

  /** COMPOSITE-dimension keyed registration ([[Keyed2Reg]]): same build
    * ceiling (now over the tuple cardinality |k1 × k2 × …|), same
    * fingerprint/staleness discipline as [[registerKeyed]]. */
  def registerKeyedComposite(spark: SparkSession, path: String,
      events: => DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      valueCols: Seq[String] = Seq("value")): Unit = {
    require(keyCols.size >= 2,
      s"composite keyed registration needs >= 2 key columns, got $keyCols " +
        "(use registerKeyed for a single dimension)")
    val conf = spark.sessionState.newHadoopConf()
    val fp = sourceFingerprint(path, conf)
    import org.apache.spark.sql.functions.{col, struct}
    registerInMemory(spark, path, CompositeSlot, None, fp)(
      old => old.keyCols == keyCols && old.tsCol == tsCol &&
        valueCols.forall(old.wheels.contains),
      _ => None,
      // the same catalog family as registerKeyedMulti; the component
      // list folds into the key so (k1,k2) and (k2,k1) stay distinct
      _ => WheelCatalog.getOrBuild(spark, "keyedmulti",
          s"$path@$fp#${keyCols.mkString(",")}", CompositeKeyCol, tsCol,
          valueCols.mkString(","))(KeyedWheelIndex.buildMulti(
          events.withColumn(CompositeKeyCol, struct(keyCols.map(col): _*)),
          CompositeKeyCol, tsCol, valueCols)) match {
        case (wheels, built) => (Keyed2Reg(keyCols, tsCol, wheels, fp, conf), built)
      })
    ()
  }

  /** Why the most recent NON-FIRING rewrite attempt for `path` bailed:
    * queryable fold diagnostics. Recorded at the decisive bail points —
    * stale fingerprint, non-range filter shape, non-time-bucket grouping,
    * unsupported aggregate, ill-conditioned second moment, above-cap
    * unaligned sliding, swallowed exception (whose stack trace the
    * `graft.plans.WheelAcceleration` logger prints at DEBUG). The entry
    * answers "why didn't THAT query fold": a later successful fold for
    * the path does not erase it; `unregister`/`clear` do. Best-effort
    * diagnostics only — two queries racing on one path may interleave
    * reasons, never correctness. */
  def lastBailReason(path: String): Option[String] =
    Option(bailReasons.get(normalize(path)))

  /** One-stop operator answer to "why isn't my query accelerated?": what
    * every family holds for `path` — measures / sketch columns, indexed
    * span, fingerprint freshness — plus [[lastBailReason]].
    * Human-readable, for logs and consoles; the programmatic per-field
    * surface stays [[lastBailReason]] and the registration APIs
    * themselves. Freshness is evaluated with the same TTL-cached check
    * the rewrite uses, so the verdict shown is the verdict the next query
    * would get. */
  def accelerationStatus(path: String): String = {
    val p = normalize(path)
    def fmt(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    def cols(m: Map[String, Any]) = m.keys.toSeq.sorted.mkString("[", ", ", "]")
    def freshness(s: Slot) =
      if (fresh(path, s.fingerprint, s.hadoopConf)) "fingerprint FRESH"
      else "fingerprint STALE (scan path until re-registered)"
    def span(w: KeyedWheelIndex) = s" span [${fmt(w.baseMs)}, ${fmt(w.horizonMs)})"
    val reg = Option(registry.get(p)).getOrElse(Unregistered)
    val regs = reg.sum.map { r =>
      val span = r.wheels.valuesIterator.nextOption()
        .map(w => s" span [${fmt(w.baseMs)}, ${fmt(w.horizonMs)})").getOrElse("")
      s"  sum wheels: measures ${cols(r.wheels)}$span, ts=${r.tsCol}, ${freshness(r)}"
    } ++ reg.keyed.map { r =>
      s"  keyed wheels: key=${r.keyCol}, measures ${cols(r.wheels)}" +
        s"${span(r.any)}, ts=${r.tsCol}, ${freshness(r)}"
    } ++ reg.composite.map { r =>
      s"  composite keyed wheels: keys=${r.keyCols.mkString("(", ", ", ")")}, " +
        s"measures ${cols(r.wheels)}${span(r.any)}, ts=${r.tsCol}, ${freshness(r)}"
    } ++ reg.sketch.map { r =>
      s"  sketch wheels: distinct ${cols(r.distinct)}, quantile ${cols(r.quantile)}, " +
        s"freq ${cols(r.freq)}, ts=${r.tsCol}, ${freshness(r)}"
    } ++ reg.keyedSketch.map { r =>
      s"  keyed sketch wheels: key=${r.keyCol}, distinct ${cols(r.distinct)}, " +
        s"quantile ${cols(r.quantile)}, freq ${cols(r.freq)}, ts=${r.tsCol}, " +
        freshness(r)
    }
    val body = if (regs.isEmpty) Seq("  nothing registered (scan path)") else regs.toSeq
    val bail = "  last non-firing rewrite: " + lastBailReason(path).getOrElse("none recorded")
    (s"wheel acceleration for $p:" +: body :+ bail).mkString("\n")
  }

  private val bailReasons = new ConcurrentHashMap[String, String]()

  private[plans] def recordBail(path: String, reason: String): Unit = {
    bailReasons.put(normalize(path), reason)
    ()
  }

  /** Read-only view of an in-memory registration for external serving
    * (the DSv2 wheel table exposes a registered index as a queryable
    * DataFrame): (tsCol, measure → index). */
  def registeredWheels(path: String): Option[(String, Map[String, WheelIndex])] =
    registered(path)(_.sum).map(r => (r.tsCol, r.wheels))

  /** The registered KEYED index family for `path` (the DSv2 keyed wheel
    * table): (keyCol, tsCol, measure → keyed index). */
  def registeredKeyedWheels(path: String)
      : Option[(String, String, Map[String, KeyedWheelIndex])] =
    registered(path)(_.keyed).map(r => (r.keyCol, r.tsCol, r.wheels))

  def clear(): Unit = {
    registry.clear()
    // symmetry with unregister: a clear()+re-register inside the TTL
    // window must not act on a stale cached verdict, and the outcome map
    // must not grow unboundedly across distinct paths
    fpCache.clear()
    outcomes.clear()
    bailReasons.clear()
  }

  /** Per-session rewrite knob: the value of `key` from the QUERYING
    * session's SQLConf (set via `spark.conf.set(key, …)`), falling back
    * to the legacy JVM-global system property (`key` minus the `spark.`
    * prefix), then `default`. The optimizer runs with the session's
    * SQLConf active, so two sessions in one JVM hold independent
    * ceilings/TTLs — the sys.prop spelling worked single-tenant only. */
  private[plans] def confLong(key: String, default: Long): Long = {
    val fromConf =
      try Option(org.apache.spark.sql.internal.SQLConf.get.getConfString(key, null))
      catch { case _: Throwable => None }
    fromConf.orElse(sys.props.get(key.stripPrefix("spark.")))
      .map(_.toLong).getOrElse(default)
  }

  /** Idempotently add the rule to an already-built session (the
    * config-time path is `spark.sql.extensions=graft.plans.GraftExtensions`),
    * and register the SQL-visible introspection functions — "why didn't
    * acceleration fire" answerable from a SQL console:
    * {{{ SELECT graft_bail_reason('/data/events.parquet');
    *     SELECT graft_acceleration_status('/data/events.parquet'); }}} */
  def enable(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[WheelSumRewrite]))
      spark.experimental.extraOptimizations = existing :+ WheelSumRewrite()
    // once per session: every registration (each WheelIngest batch's
    // registerPrebuilt* swap included) lands here, and a re-register
    // replaces the function with a Spark WARN each time
    def missing(name: String): Boolean =
      !spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    if (missing("graft_bail_reason"))
      spark.udf.register("graft_bail_reason",
        (p: String) => lastBailReason(p).getOrElse(""))
    if (missing("graft_acceleration_status"))
      spark.udf.register("graft_acceleration_status",
        (p: String) => accelerationStatus(p))
  }

  /** Canonical registry key: URI → path, and RELATIVE paths resolved
    * against the working directory. A registration made with a relative
    * dir (`".bench/sf1/events.parquet"`) must match the plan's
    * `HadoopFsRelation` root, which always reports the ABSOLUTE `file:`
    * URI — otherwise the lookup silently misses and every query on a
    * relatively-registered source keeps the scan. */
  private def normalize(p: String): String = {
    val path = new java.net.URI(p).getPath match { case null => p; case s => s }
    if (new java.io.File(path).isAbsolute) path
    else java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString
  }

  /** Staleness checks list the source files — a metadata op, but at a
    * 100k-file table that's too expensive per optimizer invocation, so
    * verdicts are cached for a short TTL (session conf
    * `spark.graft.wheel.fingerprint.ttlMs`, legacy sys.prop
    * `graft.wheel.fingerprint.ttlMs`; default 5 s, 0 = check every
    * plan). The TTL bounds the stale-read window to seconds, vs.
    * silently-forever without the check; deployments preferring strict
    * freshness set 0. */
  private def fingerprintTtlMs: Long =
    confLong("spark.graft.wheel.fingerprint.ttlMs", 5000L)
  private final case class FpCheck(atMs: Long, ok: Boolean)
  private val fpCache = new ConcurrentHashMap[(String, String), FpCheck]()

  private def fresh(path: String, expected: String, conf: Conf): Boolean = {
    val key = (normalize(path), expected)
    val now = System.currentTimeMillis()
    val cached = fpCache.get(key)
    if (cached != null && now - cached.atMs < fingerprintTtlMs) cached.ok
    else {
      val ok = sourceFingerprint(path, conf) == expected
      fpCache.put(key, FpCheck(now, ok))
      if (!ok) {
        recordBail(path, "stale fingerprint: source files changed since " +
          "registration — re-register to rebuild")
        log.warn(s"wheel index for $path is stale (source files changed); " +
          "skipping rewrite — re-register to rebuild")
      }
      ok
    }
  }
}


/** Config-time injection: `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => WheelSumRewrite())
}

case class WheelSumRewrite() extends Rule[LogicalPlan] {

  private val MinuteMs = 60000L

  /** Interior pre-expansion ceiling for the sliding conditional hybrid
    * (round 17): below `entries × windows-per-slot` rows the interior
    * leg ships pre-enumerated (window, partials) rows and drops the
    * 60-projection Expand + membership Filter (a plan/codegen constant
    * measured at ~0.3 s per execution at sf0.1); above it the original
    * Expand stays so the ×windows work runs on executors instead of the
    * driver's row builder. Measured crossover sits between 86k (win)
    * and 432k (loss) rows. */
  private val PreExpandBound = 131072L

  /** Fine-grained note from the innermost fold helpers (foldRow /
    * mergeAggExprs set it; top-level rewrites attach it to the path via
    * [[bail]]). Best-effort diagnostics: per-session rule instance,
    * optimizer runs single-threaded per query — a cross-query race can
    * only garble the note, never the plan. */
  private var foldBailNote: String = ""

  /** Why [[slotGrid]] refused a shape that otherwise matched — the
    * TIMEZONE refusals: non-UTC NTZ sessions (the shift is in the
    * DATA the index was built over), unparseable zone ids, and zones
    * whose recurring rules are not minute-aligned/monotonic
    * ([[ZoneWalk]], round 14 — fixed offsets and sound region zones
    * now FOLD instead). Reset at the start of every rewrite attempt
    * (ADVICE r13) so a stale reason never attaches to an unrelated
    * query's bail; [[WheelAcceleration.lastBailReason]] NAMES the zone
    * instead of reporting the generic not-a-time-bucketing bail. */
  private var gridBailNote: String = ""

  /** A refusal note from the conditional-aggregate leg (round 14). The
    * main leg runs AFTER that leg and its generic foldRow note
    * (DISTINCT/FILTER, unsupported measure shape) would overwrite the
    * specific conditional diagnosis in the bail registry — so the
    * conditional leg stashes its note here and [[rewrite]] re-records
    * it once the whole orElse chain has refused. */
  private var condBailNote: String = ""

  private def gridNote(default: String): String = {
    val n = gridBailNote
    gridBailNote = ""
    if (n.isEmpty) default else n
  }

  private def foldNote(default: String): String = {
    val n = foldBailNote
    if (n.nonEmpty) n else default
  }

  private val ZoneUnsoundNote =
    "zone-walked grid: the range reaches before the zone's sound floor " +
      "(offsets there are not minute-aligned, or a transition regresses " +
      "the truncation) — scan kept"

  private val IllCondNote =
    "ill-conditioned second moment (per-group means far from the fold " +
      "range's mean with |mean - c| >> stddev): even the SHIFT-CENTERED " +
      "merge-form recombination (SUM of Σ(x-c)² partials around the " +
      "plan-time mean c) would lose the variance digits — scan kept " +
      "(Welford path). Plan-time folds are exempt (central m2, " +
      "Chan-combined), edge-free hybrids center each group on its own " +
      "mean (per-group shift columns; only a second moment clipped to a " +
      "sub-range is still gated, around that mean), and homogeneous data " +
      "at any magnitude folds everywhere"

  /** Record `reason` as the path's last bail when `opt` is empty —
    * the [[WheelAcceleration.lastBailReason]] feed. */
  private def bail[T](path: String, reason: => String)(opt: Option[T]): Option[T] = {
    if (opt.isEmpty) WheelAcceleration.recordBail(path, reason)
    opt
  }

  /** Ceiling on the rows a grouped/keyed fold may materialize at PLAN
    * time (round 10, VERDICT r9 #2). The per-cell fold iterates
    * |keys| × grid-cells — each a tier-walk index query executed
    * inside the optimizer — which is µs-fast at reporting shapes
    * (thousands of cells) but would stall planning for minutes on a
    * year-of-minutes × wide-dimension statement. Past the cap a
    * grouped or keyed fold ships the index's minute STATE (bounded by
    * the build ceiling, O(1) per entry to emit) as a LocalRelation of
    * partials through the two hybrid builders ([[residueHybrid]],
    * [[condHybrid]]) and a real Aggregate groups it on the cluster —
    * still scan-free, but the heavy grouping runs on executors instead
    * of the driver's optimizer thread.
    * Per-session override: `spark.conf.set(
    * "spark.graft.wheel.rewrite.maxFoldRows", N)` (tests set it low to
    * force the distributed plan); the legacy
    * `-Dgraft.wheel.rewrite.maxFoldRows=N` sys.prop still reads as a
    * JVM-wide fallback. */
  private def maxFoldRows: Long =
    WheelAcceleration.confLong("spark.graft.wheel.rewrite.maxFoldRows", 100000L)

  /** Number of grid slots intersecting `[a, b)`, counted no further
    * than `cap + 1` (the decision only needs "over or under"). */
  private def cellCount(grid: SlotGrid, a: Long, b: Long, cap: Long): Long = {
    var c = 0L
    val it = grid.starts(a, b)
    while (it.hasNext && c <= cap) { it.next(); c += 1 }
    c
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupings, aggExprs, child, _) =>
      // Any internal surprise (evicted retention span, odd shapes) must
      // leave the plan untouched, never fail optimization. The swallowed
      // exception is logged at DEBUG, so "why didn't acceleration fire"
      // is diagnosable.
      val attempt = scala.util.Try {
        // a stale note from a PREVIOUS aggregate's refused grid or
        // conditional leg must not attach to this one's bail (ADVICE r13)
        gridBailNote = ""
        condBailNote = ""
        if (groupings.isEmpty) rewrite(agg, aggExprs, child)
        else rewriteGrouped(agg, groupings, aggExprs, child)
      }
      attempt.failed.foreach { e =>
        // best-effort path attribution for lastBailReason (the leaf may
        // be unreachable through unusual shapes — then only the DEBUG
        // log line reports)
        scala.util.Try {
          findFilter(child).map(_._2).orElse(Option(child)).flatMap(sourcePath)
            .foreach(p => WheelAcceleration.recordBail(
              p, s"exception during rewrite (plan kept): $e"))
        }
        WheelAcceleration.log.debug("wheel rewrite bailed on exception (plan kept)", e)
      }
      attempt.toOption.flatten.getOrElse {
        // the conditional leg's diagnosis outranks whichever generic
        // note a LATER leg recorded for the same refused query
        if (condBailNote.nonEmpty) scala.util.Try {
          findFilter(child).map(_._2).orElse(Option(child)).flatMap(sourcePath)
            .foreach(p => WheelAcceleration.recordBail(p, condBailNote))
        }
        agg
      }
  }

  private def rewrite(
      agg: Aggregate,
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
   // NO-PREDICATE full-span fold (round 11): `SELECT agg FROM t` with
   // no WHERE folds as the [base, horizon) range — sound because every
   // index build asserts the never-null-ts contract (WheelIndex.build/
   // fromMultiPartials, WheelIngest.mergeRows), so the span provably
   // covers every source row, and the fingerprint guards data changes.
   // Restricted to SUM-registry wheels: the sketch builds carry no such
   // assertion, so a sketch-only registration keeps requiring a range.
   val filterOpt = findFilter(child)
   val below = filterOpt.map(_._2).getOrElse(child)
   rewriteOrRanges(agg, aggExprs, filterOpt, below)
    .orElse(rewriteConditional(agg, aggExprs, filterOpt, below))
    .orElse(for {
    path <- sourcePath(below)
    sumReg = WheelAcceleration.lookup(path)(_.sum)
    // sketch wheels (round 11): serve the approximate SQL spellings; a
    // sketch-only registration folds too, but when both exist they must
    // agree on the ts column (same reading pipeline)
    tsCol <- sumReg.map(_.tsCol)
      .orElse(WheelAcceleration.lookup(path)(_.sketch).map(_.tsCol))
    sketch = WheelAcceleration.lookup(path)(_.sketch).filter(_.tsCol == tsCol)
    wheels = sumReg.map(_.wheels).getOrElse(Map.empty[String, WheelIndex])
    (aOpt, bOpt) <- filterOpt match {
      // an OR of ranges over sum wheels was [[rewriteOrRanges]]' to
      // fold: its refusal note stands
      case Some((cond, _)) if wheels.nonEmpty &&
          orRangesUs(cond, tsCol).isDefined => None
      case Some((cond, _)) =>
        bail(path, "filter is not a bare half-open range on " +
          s"the registered ts column '$tsCol'")(rangeUs(cond, tsCol))
      case None =>
        bail(path, "no time predicate: full-span folds need a sum-wheel " +
          "registration (its build asserts the never-null-ts contract)")(
          if (wheels.nonEmpty) Some((None, None)) else None)
    }
    // a missing bound defaults to the index span (minute-aligned by
    // construction): lower-only = landmark window, upper-only = prefix.
    // Bounds are µS (round 14): direct-timestamp closed/strict bounds
    // (`ts <= TIMESTAMP 'x'` = `< x+1 µs`) now fold — aligned interior
    // + an exact-µs-literal edge scan via the hybrid path.
    (spanBase, spanHorizon) <- wheels.valuesIterator
      .map(w => (w.baseMs, w.horizonMs)).nextOption()
      .orElse(sketch.flatMap(_.span))
    aUs = aOpt.getOrElse(spanBase * 1000L)
    bUs = bOpt.getOrElse(spanHorizon * 1000L)
    if aUs <= bUs
    result <- {
      foldBailNote = ""
      val MinuteUs = MinuteMs * 1000L
      if (aUs % MinuteUs == 0 && bUs % MinuteUs == 0) {
        // one µs-scale index lookup per registered measure; foldRow
        // then resolves each aggregate against ITS measure's partials
        // (and each approximate aggregate against its sketch wheel)
        val (a, b) = (aUs / 1000L, bUs / 1000L)
        val alls = wheels.map { case (c, i) => c -> i.query(a, b) }
        bail(path, foldNote("aggregate list not foldable"))(
          foldRow(aggExprs, alls, Seq.empty, sketch, (a, b)))
          .map(r => LocalRelation(agg.output, Seq(InternalRow.fromSeq(r))))
      } else if (wheels.nonEmpty)
        bail(path, foldNote("unaligned range not foldable hybrid (no " +
          "whole-minute interior, or aggregates without a merge form)"))(
          residueHybrid("residue hybrid", aggExprs, below, tsCol,
            residueInterior(wheels), Seq((aUs, bUs)), Nil, None)
            .orElse {
              // round 17: an approximate spelling refuses the numeric
              // hybrid (no merge form) but folds through the residue
              // sketch seam — per-minute sketch bytes ∪ raw edge rows
              if (hasSketchAgg(aggExprs) && sketch.nonEmpty) {
                foldBailNote = ""
                foldConditionalResidue(aggExprs, below, tsCol,
                  wheels, Seq((aUs, bUs)), sketch)
              } else None
            })
      else None
    }
   } yield result)
  }

  /** OR-of-disjoint-ranges fold (round 13, VERDICT r12 #5): `WHERE
    * (ts ∈ [a,b)) OR (ts ∈ [c,d)) [OR …]` — the "this week vs same
    * week last year" analyst spelling — folds as the COMBINE of the
    * per-range index queries: [[graft.wheel.AllAggregate.combine]] is
    * the same associative merge the tier walk itself uses, so
    * SUM/MIN/MAX/COUNT/AVG (and the Chan-merged second moment) over the
    * union of ranges are exact. Overlapping or touching disjuncts are
    * MERGED first (a row in two disjuncts must count once — SQL OR
    * semantics, not multiset union). Every disjunct must be a fully
    * bounded conjunctive range in a [[rangeMs]]-accepted spelling and
    * minute-aligned; anything else keeps the scan with the generic
    * range bail. Approximate sketch spellings are NOT served here
    * (cross-range sketch composition is the sketch wheels' union job —
    * only the theta family could intersect; refusal keeps honesty). */
  private def rewriteOrRanges(
      agg: Aggregate, aggExprs: Seq[NamedExpression],
      filterOpt: Option[(Expression, LogicalPlan)],
      below: LogicalPlan): Option[LogicalPlan] = {
    val MinuteUs = MinuteMs * 1000L
    for {
      (cond, _) <- filterOpt
      path <- sourcePath(below)
      WheelAcceleration.SumReg(tsCol, wheels, _, _) <- WheelAcceleration.lookup(path)(_.sum)
      if wheels.nonEmpty
      ranges <- orRangesUs(cond, tsCol)
      merged = mergeRanges(ranges)
      if merged.forall { case (x, y) => x < y }
      result <- {
        foldBailNote = ""
        if (merged.forall { case (x, y) =>
          x % MinuteUs == 0 && y % MinuteUs == 0 }) {
          val ms = merged.map { case (x, y) => (x / 1000L, y / 1000L) }
          val alls = wheels.map { case (c, i) =>
            c -> ms.map { case (x, y) => i.query(x, y) }
              .reduce(_ combine _)
          }
          // approximate spellings fold too (round 13): every sketch
          // family is MERGEABLE, so the union-range sketch — per-range
          // range-sketches merged — equals one built over the
          // concatenated data; the gates judge the merged result
          val sketch = WheelAcceleration.lookup(path)(_.sketch).filter(_.tsCol == tsCol)
          bail(path, foldNote("OR-ranges fold: aggregate list not foldable"))(
            foldRow(aggExprs, alls, Seq.empty, sketch, ms.head, ms.tail))
            .map(r => LocalRelation(agg.output, Seq(InternalRow.fromSeq(r))))
        } else
          // UNALIGNED disjuncts (round 14): per-range whole-minute
          // interiors fold to partials rows; every sub-minute edge
          // window scans through ONE OR-of-windows filter — the
          // OR-of-BETWEENs analyst spelling no longer pays a full scan
          bail(path, foldNote("unaligned OR-ranges not foldable hybrid " +
            "(no whole-minute interior, or aggregates without a merge " +
            "form)"))(
            residueHybrid("OR-ranges residue hybrid", aggExprs, below, tsCol,
              residueInterior(wheels), merged, Nil, None)
              .orElse {
                // round 17: approximate spellings over unaligned OR
                // outers ride the residue sketch seam (the conditional
                // hybrid accepts any merged outer set)
                val sketch = WheelAcceleration.lookup(path)(_.sketch)
                  .filter(_.tsCol == tsCol)
                if (hasSketchAgg(aggExprs) && sketch.nonEmpty) {
                  foldBailNote = ""
                  foldConditionalResidue(aggExprs, below, tsCol,
                    wheels, merged, sketch)
                } else None
              })
      }
    } yield result
  }

  /** CONDITIONAL-AGGREGATE fold (round 14): the period-comparison
    * COLUMNS spelling —
    *
    * {{{ SELECT SUM(CASE WHEN ts ∈ [a,b) THEN v END) AS this_week,
    *            SUM(v) FILTER (WHERE ts ∈ [c,d))     AS prior_week, … }}}
    *
    * — each aggregate carries its OWN time range (a FILTER clause, or a
    * single-branch CASE WHEN with NULL else), so each folds to ITS OWN
    * index query over the intersection with the outer WHERE range
    * (absent = the full indexed span, sound under the never-null-ts
    * build contract). NULL-else semantics make this exact: SQL
    * aggregates ignore NULLs, so `SUM(CASE WHEN p THEN v END)` over the
    * outer range IS `SUM(v)` over the intersection; an empty
    * intersection yields each aggregate's empty-input value (NULL / 0).
    * `ELSE 0` additionally folds for SUM only (zeros contribute nothing
    * to the sum, but force a 0 — not NULL — result when the
    * intersection is empty and the outer range is not; for AVG/COUNT an
    * ELSE value changes the population, so they refuse). Approximate
    * sketch spellings ride their per-aggregate range through
    * [[sketchLit]]. Every range must be minute-aligned — unaligned
    * conditional edges would need one residue scan PER aggregate, a
    * deliberate pinned refusal — and any non-time condition,
    * multi-branch CASE, or DISTINCT keeps the scan. */
  private def rewriteConditional(
      agg: Aggregate, aggExprs: Seq[NamedExpression],
      filterOpt: Option[(Expression, LogicalPlan)],
      below: LogicalPlan): Option[LogicalPlan] = {
    val MinuteUs = MinuteMs * 1000L
    // quick structural gate: this leg only applies when some aggregate
    // actually carries a FILTER clause or a CASE WHEN argument
    if (!hasConditional(aggExprs)) return None
    for {
      path <- sourcePath(below)
      WheelAcceleration.SumReg(tsCol, wheels, _, _) <- WheelAcceleration.lookup(path)(_.sum)
      if wheels.nonEmpty
      (spanBase, spanHorizon) <- wheels.valuesIterator
        .map(w => (w.baseMs, w.horizonMs)).nextOption()
      // the outer WHERE may be a single range OR a disjunction of
      // ranges (round-14 continuation) — the retention spelling
      // `WHERE w1 OR w2` with per-window conditional aggregates;
      // missing bounds default to the indexed span
      outers <- filterOpt match {
        case Some((cond, _)) =>
          val r: Option[Seq[(Long, Long)]] = rangeUs(cond, tsCol)
            .map { case (lo, hi) =>
              Seq((lo.getOrElse(spanBase * 1000L),
                hi.getOrElse(spanHorizon * 1000L)))
            }
            .orElse(orRangesUs(cond, tsCol).map(mergeRanges))
            .filter(_.forall { case (a, b) => a <= b })
          if (r.isEmpty) {
            condBailNote = "conditional-aggregate fold: the outer WHERE " +
              s"is not a time range (or OR of ranges) on '$tsCol'"
            WheelAcceleration.recordBail(path, condBailNote)
          }
          r
        case None =>
          Some(Seq((spanBase * 1000L, spanHorizon * 1000L)))
      }
      result <- {
        foldBailNote = ""
        // UNALIGNED routing (round 16, VERDICT r15 "what's missing"
        // #2): any sub-minute bound — on the outer WHERE or on a
        // per-aggregate condition — routes to the conditional HYBRID,
        // which folds the whole-minute interiors and scans only the
        // sub-minute slivers; fully aligned statements keep the pure
        // plan-time row
        val anyUnaligned =
          outers.exists(o => o._1 % MinuteUs != 0 || o._2 % MinuteUs != 0) ||
            subMinuteAggCond(aggExprs, tsCol)
        val folded =
          if (anyUnaligned)
            foldConditionalResidue(aggExprs, below, tsCol, wheels,
              outers,
              WheelAcceleration.lookup(path)(_.sketch).filter(_.tsCol == tsCol))
          else foldConditionalRow(aggExprs, path, tsCol, wheels,
            outers, MinuteUs)
            .map(r => LocalRelation(agg.output,
              Seq(InternalRow.fromSeq(r))): LogicalPlan)
        if (folded.isEmpty) {
          condBailNote = foldNote("conditional-aggregate fold refused")
          WheelAcceleration.recordBail(path, condBailNote)
        }
        folded
      }
    } yield result
  }

  /** The minute-aligned interior of a µs span (ms domain) — None when
    * the span fits inside one minute. Shared by the conditional
    * hybrids (unkeyed and keyed). */
  private def minuteInteriorMs(a: Long, b: Long): Option[(Long, Long)] = {
    val MinuteUs = MinuteMs * 1000L
    val ai = Math.floorDiv(a + MinuteUs - 1, MinuteUs) * MinuteUs
    val bi = Math.floorDiv(b, MinuteUs) * MinuteUs
    if (ai < bi) Some((ai / 1000L, bi / 1000L)) else None
  }

  /** The sub-minute sliver windows of a µs span — the whole span when
    * no minute interior exists. */
  private def minuteSliversUs(a: Long, b: Long): Seq[(Long, Long)] =
    minuteInteriorMs(a, b) match {
      case None => Seq((a, b))
      case Some((ims, ime)) =>
        Seq((a, ims * 1000L), (ime * 1000L, b)).filter(w => w._1 < w._2)
    }

  /** A per-aggregate µs bound pair clipped against every outer range. */
  private def clipSpansUs(outersUs: Seq[(Long, Long)],
      lo: Option[Long], hi: Option[Long]): Seq[(Long, Long)] =
    outersUs.flatMap { case (oa, ob) =>
      val a = math.max(oa, lo.getOrElse(oa))
      val b = math.min(ob, hi.getOrElse(ob))
      if (a < b) Some((a, b)) else None
    }

  /** CONDITIONAL-AGGREGATE HYBRID for UNALIGNED ranges (round 16,
    * VERDICT r15 "what's missing" #2): a period-comparison statement
    * whose outer WHERE — or any per-aggregate condition — carries
    * sub-minute bounds, e.g.
    *
    * {{{ SELECT SUM(CASE WHEN ts ∈ [a+0.5s, b) THEN v END), AVG(v), …
    *     FROM t WHERE ts ∈ [A, B) }}}
    *
    * Pure plan-time folding is impossible (the wheel is
    * minute-granular), but the existing hybrid edge machinery applies
    * PER AGGREGATE: ship the outer interiors' minute states as
    * slot-tagged partials rows, union ONE bounded edge scan of the
    * merged sub-minute slivers (each row keeping its raw ts), and
    * rewrite every aggregate to merge form with ITS OWN filter —
    *
    *  - partials rows qualify when their whole minute lies inside the
    *    aggregate's range (`slot ∈ [ceil(a), floor(b))`, plan-time
    *    constants), and
    *  - edge rows qualify when their ts lies in the aggregate's own
    *    slivers `[a, ceil(a)) ∪ [floor(b), b)` — NEVER inside its
    *    interior, so a row scanned for one aggregate's sliver cannot
    *    double-count in another's interior.
    *
    * Each leg's rows carry the discriminating column the other leg
    * NULLs (slot vs ts), so SQL's NULL-is-false FILTER semantics keep
    * the legs disjoint per aggregate with no tag column. `ELSE 0`
    * NULL-vs-0 resolves from two more filtered row-count sums (the
    * ADVICE r14 semantics).
    *
    * ONE builder serves every shape: the shapes differ only in their
    * [[CondGroup]] columns — none (ungrouped), key, time cell, key ×
    * cell, composite keys × cell — and in their [[CondInterior]] walk
    * (unkeyed or keyed index). Interior rows are pre-keyed to their
    * groups, edge rows derive them from the raw row, and a real
    * executor-side Aggregate groups per tuple, so any group count is
    * served. With groups, the outer slivers scan unconditionally (group
    * presence: a group whose only rows fall there must still emit).
    * Approximate spellings ride the residue sketch seam when `sketch`
    * serves them. Refuses — note pinned — on non-range conditions,
    * DISTINCT, minute-tier eviction, and non-merge aggregates.
    *
    * Second moments and tight sketch requests depend on the edges:
    *
    *  - with edge windows, every group centers on the outer interior's
    *    GLOBAL mean (a raw edge row cannot know its group's) and each
    *    (group, aggregate range) is conditioning-gated, and sketch
    *    requests tighter than the wheels' worst case refuse statically;
    *  - EDGE-FREE (outers and every aggregate range whole minutes — an
    *    aligned OR outer, or any aligned shape above [[maxFoldRows]]),
    *    each group ships its OWN mean as a shift column, so only a
    *    second moment clipped to a sub-range is gated (around that
    *    mean), and a tighter KLL / Misra-Gries request folds when the
    *    pre-walk proves every (group, span) stays in the sketch's
    *    exact regime.
    *
    * Both run off [[condShifts]]' one pre-walk.
    *
    * Scale: the edge scan's ts bounds are pushed to the source, but the
    * reader still reads every row group it cannot skip — on a
    * `TIMESTAMP_NTZ` ts Spark skips none, so a sliver reads the whole
    * table. The partials relation is O(minute entries in the outer
    * range) — the same envelope as every other distributed interior. */
  private def condHybrid(noun: String, aggExprs: Seq[NamedExpression],
      below: LogicalPlan, tsCol: String, interior: CondInterior,
      outersUs: Seq[(Long, Long)], groups: Seq[CondGroup],
      sketch: CondSketch): Option[LogicalPlan] = {
    def refuse(msg: String): Option[LogicalPlan] = {
      if (foldBailNote.isEmpty) foldBailNote = msg
      None
    }
    // the interior ships as MINUTE states with per-aggregate slot
    // filters selecting whole minutes — a retained coarser tier can't
    // key to one minute, so KeepN eviction refuses (honest)
    if (!interior.minuteTierComplete)
      return refuse(s"$noun: the minute tier is " +
        "retention-evicted (evicted interiors keep the scan)")
    val measures = interior.measures
    val needCond = hasSecondMoment(aggExprs)
    val edgeFree = (outersUs ++ aggExprs.flatMap(_.collect {
      case ae: AggregateExpression => aggSpansUs(ae, tsCol, outersUs)
    }).flatten).forall { case (a, b) =>
      minuteSliversUs(a, b).forall(w => w._1 >= w._2) }
    val groupOf = (key: Any, slotMs: Long) => groups.map(_.interior(key, slotMs))
    val interiorMs = outersUs.flatMap { case (a, b) => minuteInteriorMs(a, b) }
    def prewalk(gates: Seq[CondGate]) = condShifts(interior.entries(interiorMs),
      measures, gates, (k, s) => Iterator.single(groupOf(k, s)), edgeFree)
    val shifts =
      if (edgeFree || !needCond) Map.empty[String, Double]
      else {
        val at = prewalk(varGates(aggExprs, tsCol, measures.toSet, outersUs,
          clippedOnly = false)).getOrElse(return None)
        measures.map(c => c -> at(null, c)).toMap
      }
    val cols = partialColsFor(measures, shifts, perRowShifts = edgeFree && needCond)
    val slotAttr = AttributeReference("__graft_slot", LongType,
      nullable = true)()
    // only an edge scan reads the raw ts (a no-predicate source may
    // have pruned it)
    val tsAttrSrc = below.output.find(t => t.name == tsCol &&
      (t.dataType == TimestampType || t.dataType == TimestampNTZType))
    if (tsAttrSrc.isEmpty && !edgeFree) return None
    val tsOut = AttributeReference("__graft_ts",
      tsAttrSrc.fold[DataType](TimestampType)(_.dataType), nullable = true)()
    val proofs = scala.collection.mutable.ListBuffer.empty[CondGate]
    // no edge scan, no raw column to check
    val cr = new CondResidue(noun, tsCol, measures.toSet, cols, outersUs,
      slotAttr, tsOut, sketchServed = sketch.served,
      rawSrcOk = if (edgeFree) (_, _) => true else residueRawSrcOk(below),
      proofs = Some(proofs).filter(_ => edgeFree))
    val newAggExprs = cr.rewriteAggExprs(aggExprs,
      groups.map(g => (g.spellings, g.out))).getOrElse(return None)
    val shiftOf: (Any, String) => Double =
      if (edgeFree && (needCond || proofs.nonEmpty))
        prewalk(varGates(aggExprs, tsCol, measures.toSet, outersUs,
          clippedOnly = true) ++ proofs).getOrElse(return None)
      else (_, c) => cols.shiftOf(c)
    val skCols = cr.sketchCols
    val skAttrs = skCols.flatMap { case (_, (b, r)) => Seq(b, r) }
    // interior leg: one slot-tagged partials row per interior entry
    // (sketch bytes where served), pre-keyed to its groups
    val rows = interior.entries(interiorMs).map { case (key, slotMs, alls) =>
      val g = groupOf(key, slotMs)
      InternalRow.fromSeq(g ++ (slotMs +: null +: cols.partialsRowShifted(
        alls, alls(measures.head).rows, c => shiftOf(g, c))) ++
        skCols.flatMap { case ((f, c), _) =>
          Seq(sketch.bytesAt(f, c, key, slotMs), null) })
    }.toList
    val interiorRel = LocalRelation(
      groups.map(_.out) ++ (slotAttr +: tsOut +: cols.partialAttrs) ++ skAttrs,
      rows)
    // edge leg: ONE bounded scan of the merged slivers; each row derives
    // its groups, keeps its raw ts and NULLs the slot tag — sketch
    // columns invert: the raw value rides (cast as the build casts),
    // the bytes are NULL
    val mergedWins = cr.mergedEdgeWindows(outerSlivers = groups.nonEmpty)
      .filter(w => w._1 < w._2)
    val edges = groups.flatMap(_.edge)
    val child: LogicalPlan =
      if (mergedWins.isEmpty) interiorRel
      else residueParts(below, tsCol, measures, mergedWins, shifts) match {
        case Some(parts) if edges.size == groups.size && tsAttrSrc.nonEmpty =>
          val edgeLeg = Project(
            groups.zip(edges).map { case (g, e) =>
              Alias(e, g.out.name)(): NamedExpression } ++
              (Alias(Literal(null, LongType), "__graft_slot")() +:
                Alias(tsAttrSrc.get, "__graft_ts")() +:
                parts.edgePartials) ++ sketchEdgeAliases(below, skCols),
            parts.edgeFilter)
          Union(Seq(interiorRel, edgeLeg))
        case _ =>
          return refuse(s"$noun: the source is missing the typed " +
            "ts/measure/group columns an edge scan needs")
      }
    Some(Aggregate(groups.map(_.out), newAggExprs, child))
  }

  /** One interior entry of a conditional hybrid: (key — null on an
    * unkeyed index —, minute slot ms, per-measure minute partials). */
  private type CondEntry = (Any, Long, Map[String, AllAggregate])

  /** A conditional hybrid's interior: its measures (the first one's
    * partial carries an entry's row count), whether every wheel keeps
    * its minute tier, and the walk over every non-empty minute of the
    * given ms ranges (a fresh iterator per call). */
  private final case class CondInterior(measures: Seq[String],
      minuteTierComplete: Boolean,
      entries: Seq[(Long, Long)] => Iterator[CondEntry])

  private def condInterior(wheels: Map[String, WheelIndex]): CondInterior =
    CondInterior(wheels.keys.toSeq,
      wheels.valuesIterator.forall(_.minuteTierComplete),
      ranges => {
        val (anyMeasure, anyIdx) = wheels.head
        ranges.iterator.flatMap { case (a, b) =>
          anyIdx.minuteEntries(a, b).map { case (slotMs, anyAll) =>
            (null: Any, slotMs, wheels.map {
              case (c, _) if c == anyMeasure => c -> anyAll
              case (c, i) => c -> i.minuteAt(slotMs)
            })
          }
        }
      })

  /** The keyed index has no retention policy — its minute tier is
    * always complete. */
  private def keyedCondInterior(
      wheels: Map[String, graft.wheel.KeyedWheelIndex]): CondInterior =
    CondInterior(wheels.keys.toSeq, minuteTierComplete = true,
      ranges => {
        val (anyMeasure, anyIdx) = wheels.head
        ranges.iterator.flatMap { case (a, b) =>
          anyIdx.minuteEntries(a, b).map { case (key, slotMs, anyAll) =>
            (key, slotMs, wheels.map {
              case (c, _) if c == anyMeasure => c -> anyAll
              case (c, i) => c -> i.minuteAt(key, slotMs)
            })
          }
        }
      })

  /** One GROUP column of a conditional hybrid: its union and output
    * attribute, its value on an interior entry (key, minute slot), its
    * edge-leg expression over the raw rows (None: not derivable there,
    * so an edge scan refuses), and the select-list spellings it
    * replaces. */
  private final case class CondGroup(out: AttributeReference,
      interior: (Any, Long) => Any, edge: Option[Expression],
      spellings: Seq[Expression])

  /** The time-cell group: interior minutes pre-keyed to their grid
    * cell, edge rows re-deriving it from the raw ts. */
  private def cellGroup(grid: SlotGrid, gExpr: Expression,
      spellings: Seq[Expression], child: LogicalPlan,
      below: LogicalPlan): CondGroup = {
    val cellVals = new java.util.HashMap[Long, Any]()
    CondGroup(
      AttributeReference("__graft_cell", gExpr.dataType,
        nullable = gExpr.nullable)(),
      (_, slotMs) => cellVals.computeIfAbsent(grid.floorOf(slotMs),
        s0 => slotLiteral(grid, s0, grid.end(s0)).value),
      rebaseOnto(child, below, gExpr), spellings)
  }

  /** One group per key column of a keyed registration: interior values
    * are `component(key, i)` as a literal of the column's type, edge
    * rows carry the typed raw key column (None when the source misses
    * it, so only an edge-free plan folds). */
  private def keyGroups(keyAttrs: Seq[AttributeReference],
      keyCols: Seq[String], keyTypes: Seq[DataType], below: LogicalPlan,
      component: (Any, Int) => Any): Seq[CondGroup] =
    keyAttrs.zip(keyCols).zip(keyTypes).zipWithIndex.map {
      case (((kA, kc), dt), i) =>
        val vals = new java.util.HashMap[Any, Any]()
        CondGroup(
          AttributeReference(s"__graft_key$i", dt, nullable = kA.nullable)(),
          (key, _) => vals.computeIfAbsent(key,
            k => Literal.create(component(k, i), dt).value),
          below.output.find(o => o.name == kc && o.dataType == dt), Seq(kA))
    }

  /** One check of the hybrids' pre-walk: per group, `measure`'s partial
    * over the whole minutes of `spans` must pass `ok` around the
    * group's shift center, else the fold refuses with `note`. */
  private final case class CondGate(measure: String, spans: Seq[(Long, Long)],
      ok: (AllAggregate, Double) => Boolean, note: String)

  /** The hybrids' ONE pre-walk over the interior entries: the shift
    * centers — the GLOBAL per-measure mean, or with `perGroup` each
    * group's own — and the per-(group, gate) checks. `groupsOf` names
    * the groups an entry feeds. Returns the shift of (group, measure);
    * None — note pinned — when a gate fails. */
  private def condShifts(entries: Iterator[CondEntry], measures: Seq[String],
      gates: Seq[CondGate], groupsOf: (Any, Long) => Iterator[Any],
      perGroup: Boolean): Option[(Any, String) => Double] = {
    val gateInteriors = gates.map(_.spans.flatMap { case (a, b) =>
      minuteInteriorMs(a, b) })
    val shiftAccs = new java.util.HashMap[(Any, String), AllAggregate]()
    val gateAccs = new java.util.HashMap[(Any, Int), AllAggregate]()
    entries.foreach { case (key, slotMs, alls) =>
      val gs = groupsOf(key, slotMs).toSeq
      measures.foreach { c =>
        (if (perGroup) gs else Seq(null)).foreach(g =>
          shiftAccs.merge((g, c), alls(c), (x, y) => x.combine(y)))
      }
      gates.indices.foreach { gi =>
        if (gateInteriors(gi).exists(r => slotMs >= r._1 && slotMs < r._2))
          gs.foreach(g => gateAccs.merge((g, gi), alls(gates(gi).measure),
            (x, y) => x.combine(y)))
      }
    }
    val shift = (g: Any, c: String) =>
      Option(shiftAccs.get((if (perGroup) g else null, c)))
        .filter(_.count > 0L).fold(0.0)(_.avg)
    import scala.jdk.CollectionConverters._
    gateAccs.asScala.collectFirst { case ((g, gi), al)
        if !gates(gi).ok(al, shift(g, gates(gi).measure)) => gates(gi).note
    } match {
      case None => Some(shift)
      case Some(note) =>
        if (foldBailNote.isEmpty) foldBailNote = note
        None
    }
  }

  /** The ungrouped conditional hybrid ([[condHybrid]] with no group). */
  private def foldConditionalResidue(aggExprs: Seq[NamedExpression],
      below: LogicalPlan, tsCol: String, wheels: Map[String, WheelIndex],
      outersUs: Seq[(Long, Long)],
      sketchOpt: Option[WheelAcceleration.SketchReg]): Option[LogicalPlan] =
    condHybrid("conditional hybrid", aggExprs, below, tsCol,
      condInterior(wheels), outersUs, Nil, condSketchOf(sketchOpt))

  private def isNullElseLit(e: Option[Expression]): Boolean = e match {
    case None => true
    case Some(Literal(null, _)) => true
    case _ => false
  }

  private def isZeroElseLit(e: Option[Expression]): Boolean = e match {
    case Some(Literal(d: Double, _)) => d == 0.0
    case Some(Literal(f: Float, _)) => f == 0.0f
    case Some(Literal(i: Int, _)) => i == 0
    case Some(Literal(l: Long, _)) => l == 0L
    case Some(Literal(d: org.apache.spark.sql.types.Decimal, _)) =>
      d.toBigDecimal.signum == 0
    case _ => false
  }

  /** One aggregate's conditional decomposition: (the aggregate function
    * with any CASE WHEN argument replaced by its branch value, its own
    * condition if any, whether an `ELSE 0` applies). None — with
    * foldBailNote set — on DISTINCT, multi-branch CASE, an ELSE value
    * outside NULL/0-under-SUM, or a FILTER combined with a CASE. */
  private def condParts(ae: AggregateExpression)
      : Option[(AggregateFunction, Option[Expression], Boolean)] = {
    if (ae.isDistinct) {
      if (foldBailNote.isEmpty) foldBailNote =
        "unsupported aggregate for plan-time fold: " +
          s"${ae.aggregateFunction.prettyName} with DISTINCT (exact " +
          "spellings never fold)"
      return None
    }
    val fn0 = ae.aggregateFunction
    val caseChildren = fn0.children.collect { case cw: CaseWhen => cw }
    val r: Option[(AggregateFunction, Option[Expression], Boolean)] =
      (ae.filter, caseChildren) match {
        case (Some(f), Seq()) => Some((fn0, Some(f), false))
        case (None, Seq(cw)) if cw.branches.size == 1 &&
            (isNullElseLit(cw.elseValue) ||
              (isZeroElseLit(cw.elseValue) && fn0.isInstanceOf[Sum])) =>
          val (c, v) = cw.branches.head
          val fn2 = fn0.withNewChildren(fn0.children.map {
            case ch if ch eq cw => v
            case ch => ch
          }).asInstanceOf[AggregateFunction]
          Some((fn2, Some(c), isZeroElseLit(cw.elseValue)))
        case (None, Seq()) => Some((fn0, None, false))
        case _ => None
      }
    if (r.isEmpty && foldBailNote.isEmpty)
      foldBailNote = "conditional-aggregate fold: only a FILTER clause " +
        "or a single-branch CASE WHEN with NULL else (0 else for SUM) folds"
    r
  }

  /** One output row for [[rewriteConditional]] — every aggregate
    * replaced by its own-range index literal, scalar wrappers
    * constant-folded. `outers` is the (merged, disjoint) outer range
    * set in µs: a per-aggregate condition clips against EVERY outer
    * range, plain aggregates answer over the whole set (per-span index
    * answers combined associatively; sketch spellings merge per-span
    * range sketches — the OR-ranges mergeability argument, which is
    * what makes the retention spelling `COUNT approx DISTINCT over w1 /
    * w2 / w1∪w2` fold). None (with foldBailNote set) on any
    * unsupported shape. */
  private def foldConditionalRow(
      aggExprs: Seq[NamedExpression], path: String, tsCol: String,
      wheels: Map[String, WheelIndex], outers: Seq[(Long, Long)],
      minuteUs: Long,
      // grouped callers (round 16): the slot-literal substitution for
      // grouping spellings in the select list — same contract as
      // [[foldRow]]'s groupSubst
      groupSubst: Seq[(Seq[Expression], Literal)] = Nil): Option[Seq[Any]] = {
    val sketch = WheelAcceleration.lookup(path)(_.sketch).filter(_.tsCol == tsCol)
    // per-span-set index answers, cached — aggregates often share a
    // range (SUM + COUNT over the same week)
    val allsCache = scala.collection.mutable
      .Map.empty[Seq[(Long, Long)], Map[String, AllAggregate]]
    def allsFor(spans: Seq[(Long, Long)]): Map[String, AllAggregate] =
      allsCache.getOrElseUpdate(spans,
        if (spans.isEmpty)
          wheels.map { case (c, _) => c -> AllAggregate.identity }
        else wheels.map { case (c, i) =>
          c -> spans.map { case (a, b) => i.query(a, b) }.reduce(_ combine _)
        })
    // aligned-µs → ms; None = some span unaligned (pinned refusal)
    def msSpans(spans: Seq[(Long, Long)]): Option[Seq[(Long, Long)]] =
      if (spans.forall { case (a, b) =>
        a % minuteUs == 0 && b % minuteUs == 0 })
        Some(spans.map { case (a, b) => (a / 1000L, b / 1000L) })
      else None
    // a per-aggregate condition's range clipped to every outer range
    // (SQL semantics: the aggregate sees only rows the WHERE admits)
    def clipToOuters(lo: Option[Long], hi: Option[Long]): Seq[(Long, Long)] =
      outers.flatMap { case (oa, ob) =>
        val a = math.max(oa, lo.getOrElse(oa))
        val b = math.min(ob, hi.getOrElse(ob))
        if (a < b) Some((a, b)) else None
      }
    var supported = true
    def refuse[T](msg: String, keep: T): T = {
      if (foldBailNote.isEmpty) foldBailNote = msg
      supported = false; keep
    }
    // SUM(CASE … ELSE 0) is 0 — not NULL — exactly when some outer row
    // MISSES the branch (so an ELSE 0 input exists); -1 = the outer
    // spans are unaligned and the count is unknowable from the index
    // (a conditional-only mix can still fold, so the NULL case below
    // must refuse rather than guess — ADVICE r14)
    lazy val outerRows: Long =
      msSpans(outers)
        .flatMap(s => allsFor(s).valuesIterator.nextOption().map(_.rows))
        .getOrElse(-1L)
    def condLit(ae: AggregateExpression): Expression = {
      if (!supported) return ae
      condParts(ae) match {
        case None =>
          supported = false; ae
        case Some((fn, condOpt, elseZero)) =>
          val spansOpt: Option[Seq[(Long, Long)]] = condOpt match {
            case None => Some(outers)
            case Some(c) => rangeUs(c, tsCol).map { case (lo, hi) =>
              clipToOuters(lo, hi) // empty = empty input, not a refusal
            }
          }
          spansOpt match {
            case None =>
              refuse("conditional-aggregate fold: a per-aggregate " +
                s"condition is not a bare time range on '$tsCol'", ae)
            case Some(spans) => msSpans(spans) match {
              case None =>
                refuse("conditional-aggregate fold: a per-aggregate " +
                  "range is not minute-aligned (per-aggregate residue " +
                  "scans are deliberately refused)", ae)
              case Some(ms) => aggFnLit(fn, allsFor(ms), sketch, ms) match {
                case Some(Literal(null, dt)) if elseZero =>
                  // SQL: NULL survives the ELSE 0 only when EVERY outer
                  // row hits the branch (and all its inputs are NULL) —
                  // i.e. no ELSE row exists. Rows hitting the branch =
                  // rows in the intersected spans (ADVICE r14).
                  val spanRows = allsFor(ms).valuesIterator.nextOption()
                    .map(_.rows).getOrElse(0L)
                  if (outerRows < 0L)
                    refuse("conditional-aggregate fold: SUM(… ELSE 0) " +
                      "under a non-minute-aligned outer range (outer " +
                      "row count unknowable, NULL-vs-0 undecidable)", ae)
                  else if (outerRows > spanRows) Literal(0.0, dt)
                  else Literal(null, dt)
                case Some(l) => l
                case None =>
                  refuse("unsupported aggregate for plan-time fold: " +
                    fn.prettyName, ae)
              }
            }
          }
      }
    }
    val folded = aggExprs.map { ne =>
      val substituted =
        if (groupSubst.isEmpty) ne
        else ne.transform {
          case e if groupSubst.exists(_._1.exists(e.semanticEquals)) =>
            groupSubst.find(_._1.exists(e.semanticEquals)).get._2
        }
      val replaced = substituted.transform {
        case e: AggregateExpression => condLit(e) }
      if (!supported) return None
      if (replaced.exists(_.isInstanceOf[Attribute])) return None
      replaced.asInstanceOf[Expression].eval(InternalRow.empty)
    }
    Some(folded)
  }

  /** KEYED CONDITIONAL fold (round 14): `GROUP BY keyCol` — NO time
    * bucketing in the grouping — over a keyed registration: the
    * cohort-comparison PIVOT shape
    *
    * {{{ SELECT key, SUM(CASE WHEN ts ∈ w1 THEN v END) AS wk1,
    *                 SUM(CASE WHEN ts ∈ w2 THEN v END) AS wk2
    *     FROM t WHERE ts ∈ [a,b) GROUP BY key }}}
    *
    * One output row per key with ≥ 1 row in the outer range (SQL GROUP
    * BY semantics — absent groups don't exist), each aggregate answered
    * from the KEY's wheel over its own intersected range. PLAIN
    * aggregates fold too — `GROUP BY key` over a time range previously
    * kept the scan outright, so the unconditioned spelling is served by
    * the same leg with every aggregate on the outer range. Keyed sketch
    * views serve approximate spellings per key. Minute-aligned single
    * ranges at or below [[maxFoldRows]] keys only: sub-minute bounds,
    * OR outers and wider key sets go to the keyed [[condHybrid]], whose
    * slot-tagged minute states clip each aggregate's range with a
    * FILTER and group per key on executors. */
  private def rewriteKeyedConditional(
      agg: Aggregate, grouping: Expression,
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val MinuteUs = MinuteMs * 1000L
    for {
      path <- sourcePath(child)
      reg <- WheelAcceleration.lookup(path)(_.keyed)
      keyAttr <- grouping match {
        case a: AttributeReference if a.name == reg.keyCol => Some(a)
        case _ => None
      }
      // the outer WHERE: a single range, or (round 16) a DISJUNCTION of
      // bounded ranges — the keyed retention spelling `WHERE w1 OR w2
      // GROUP BY key` routes through the keyed conditional hybrid,
      // whose relation takes any merged range set (aligned disjuncts
      // produce no slivers → pure partials + Aggregate, scan-free)
      outerRanges <- findFilter(child) match {
        case Some((cond, _)) =>
          val r: Option[Seq[(Long, Long)]] = rangeUs(cond, reg.tsCol)
            .map { case (lo, hi) =>
              Seq((lo.getOrElse(reg.any.baseMs * 1000L),
                hi.getOrElse(reg.any.horizonMs * 1000L)))
            }
            .orElse(orRangesUs(cond, reg.tsCol).map(mergeRanges))
            .filter(_.forall { case (a, b) => a <= b })
          if (r.isEmpty) {
            condBailNote = "keyed conditional fold: the outer WHERE is " +
              s"not a time range (or OR of ranges) on '${reg.tsCol}'"
            WheelAcceleration.recordBail(path, condBailNote)
          }
          r
        case None =>
          Some(Seq((reg.any.baseMs * 1000L, reg.any.horizonMs * 1000L)))
      }
      result <- {
        foldBailNote = ""
        val anyUnaligned =
          outerRanges.exists(o =>
            o._1 % MinuteUs != 0 || o._2 % MinuteUs != 0) ||
            subMinuteAggCond(aggExprs, reg.tsCol)
        val folded =
          if (anyUnaligned || outerRanges.size > 1 ||
              reg.any.keys.size.toLong > maxFoldRows)
            // per-(key, minute) partials ∪ one bounded sliver scan when
            // a bound is sub-minute; aligned outers leave no sliver, so
            // the plan is pure partials + an executor Aggregate
            foldKeyedConditionalResidue(keyAttr, aggExprs,
              findFilter(child).map(_._2).getOrElse(child), reg,
              outerRanges,
              WheelAcceleration.lookup(path)(_.keyedSketch).filter(r =>
                r.tsCol == reg.tsCol && r.keyCol == reg.keyCol))
          else foldKeyedConditionalRows(agg, keyAttr, aggExprs, path,
            reg, outerRanges.head._1 / 1000L, outerRanges.head._2 / 1000L)
        if (folded.isEmpty) {
          condBailNote = foldNote("keyed conditional fold refused")
          WheelAcceleration.recordBail(path, condBailNote)
        }
        folded
      }
    } yield result
  }

  /** Shared gate + expression construction of the RESIDUE SKETCH SEAM
    * (round 17): one approximate spelling's union-or-update merge
    * aggregate, or None — with the refusal note recorded via
    * `refuseMsg` when a GATE failed, silently when no fresh
    * registration serves the column (the caller pins its own
    * no-registration note). `served(family, col)` answers whether a
    * fresh wheel serves the (family, column) and whether EVERY serving
    * wheel's minute tier is complete; `rawSrcOk(col, integral)` checks
    * the source carries the typed raw column an edge update needs
    * (integral for the Theta/Misra-Gries long-key contract, numeric
    * for KLL); `sketchAttrs` allocates-or-returns the (bytes, raw)
    * relation attributes; `mkAgg` wraps the new aggregate function
    * with the caller's Complete + span FILTER. Accuracy gates are the
    * STATIC worst-case forms when the plan has edges: edge-row counts
    * are unknowable at plan time, so requests tighter than the wheels'
    * worst case refuse to the scan. An edge-free caller passes `prove`
    * instead: a tighter KLL or Misra-Gries request defers to its
    * per-(group, span) exact-regime proof — `prove(Some(col), limit,
    * note)` bounds the column's value count, `prove(None, …)` the row
    * count, and false means the bound is not provable. */
  private def residueSketchExpr(
      fn: AggregateFunction,
      served: (String, String) => Option[Boolean],
      rawSrcOk: (String, Boolean) => Boolean,
      sketchAttrs: (String, String, DataType) => (AttributeReference, AttributeReference),
      refuseMsg: String => Unit,
      mkAgg: AggregateFunction => Expression,
      prove: Option[(Option[String], Long, String) => Boolean]): Option[Expression] = {
    def inputCol(e: Expression): Option[String] = e match {
      case at: AttributeReference => Some(at.name)
      case _ => None
    }
    def gate(ok: Boolean, msg: => String): Option[Unit] =
      if (ok) Some(()) else { refuseMsg(msg); None }
    fn match {
      case hll: HyperLogLogPlusPlus => for {
        colName <- inputCol(hll.child)
        complete <- served("d", colName)
        if rawSrcOk(colName, true)
        _ <- gate(complete,
          "residue sketch seam: the Theta wheel's minute tier is " +
            "retention-evicted (no per-minute bytes to ship) — scan kept")
        _ <- gate(hll.relativeSD + 1e-12 >=
            graft.functions.SketchMergeAggs.ThetaWorstRse,
          f"approx_count_distinct requested rsd ${hll.relativeSD}%.4f " +
            f"tighter than the Theta wheel's worst-case " +
            f"${graft.functions.SketchMergeAggs.ThetaWorstRse}%.4f — " +
            "the residue hybrid gates statically, scan kept")
      } yield {
        val (bAttr, rAttr) = sketchAttrs("d", colName, LongType)
        mkAgg(graft.functions.ThetaUpdateMergeAgg(bAttr, rAttr))
      }
      case ap: ApproximatePercentile => for {
        colName <- inputCol(ap.child)
        complete <- served("q", colName)
        if rawSrcOk(colName, false)
        _ <- gate(complete,
          "residue sketch seam: the KLL wheel's minute tier is " +
            "retention-evicted — scan kept")
        requestedEps = ap.accuracyExpression.eval(InternalRow.empty) match {
          case i: java.lang.Integer => 1.0 / math.max(1, i.intValue())
          case l: java.lang.Long => 1.0 / math.max(1L, l.longValue()).toDouble
          case _ => 0.0 // unknown accuracy spelling: strictest reading
        }
        wheelEps = org.apache.datasketches.kll.KllSketch
          .getNormalizedRankError(graft.wheel.QuantileWheel.K, false)
        _ <- gate(requestedEps + 1e-12 >= wheelEps ||
            prove.exists(_(Some(colName), graft.wheel.QuantileWheel.K,
              "percentile_approx requested rank error tighter than the " +
                "KLL wheel's guarantee and a group's count exceeds the " +
                "provable exact regime " +
                s"(${graft.wheel.QuantileWheel.K} values) — scan kept")),
          f"percentile_approx requested rank error $requestedEps%.6f " +
            f"tighter than the KLL wheel's $wheelEps%.4f — " + (
            if (prove.isEmpty) "the residue hybrid gates statically " +
              "(edge-row counts are unknowable at plan time), scan kept"
            else "and its column has no registered measure wheel to " +
              "prove the exact regime per group — scan kept"))
        ps <- ap.percentageExpression.eval(InternalRow.empty) match {
          case d: java.lang.Double => Some((Seq(d.doubleValue()), true))
          case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
            Some((arr.toDoubleArray().toSeq, false))
          case _ => None
        }
        // the KLL wheel is a doubles sketch: only the double-typed
        // spelling keeps the output schema bit-identical
        _ <- if ((ps._2 && ap.dataType == DoubleType) ||
            (!ps._2 && (ap.dataType match {
              case ArrayType(DoubleType, _) => true
              case _ => false
            }))) Some(()) else None
      } yield {
        val (bAttr, rAttr) = sketchAttrs("q", colName, DoubleType)
        mkAgg(graft.functions.KllUpdateMergeAgg(bAttr, rAttr,
          ps._1, ps._2, ap.dataType))
      }
      case tk: ApproxTopK => for {
        _ <- if (tk.expr.dataType == LongType) Some(()) else None
        colName <- inputCol(tk.expr)
        complete <- served("f", colName)
        if rawSrcOk(colName, true)
        _ <- gate(complete,
          "residue sketch seam: the Misra-Gries wheel's minute tier is " +
            "retention-evicted — scan kept")
        k <- tk.k.eval(InternalRow.empty) match {
          case i: java.lang.Integer => Some(i.intValue())
          case l: java.lang.Long => Some(l.intValue())
          case _ => None
        }
        trackedEff = (tk.maxItemsTracked.eval(InternalRow.empty) match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.intValue()
          case _ => ApproxTopK.DEFAULT_MAX_ITEMS_TRACKED
        }) match {
          case t if t <= 0 => ApproxTopK.DEFAULT_MAX_ITEMS_TRACKED
          case t => t
        }
        mgCap = graft.wheel.FrequencyWheel.MaxMapSize * 3L / 4L
        _ <- gate(graft.wheel.FrequencyWheel.MaxMapSize >=
            ApproxTopK.calMaxMapSize(trackedEff) ||
            prove.exists(_(None, mgCap, "approx_top_k tracks more items " +
              "than the Misra-Gries wheel's budget and a group's row " +
              s"count exceeds the provable exact regime ($mgCap rows) — " +
              "scan kept")),
          s"approx_top_k tracks $trackedEff items (map size " +
            s"${ApproxTopK.calMaxMapSize(trackedEff)}) but the " +
            s"Misra-Gries wheel's budget is " +
            s"${graft.wheel.FrequencyWheel.MaxMapSize} — the residue " +
            "hybrid gates statically, scan kept")
      } yield {
        val (bAttr, rAttr) = sketchAttrs("f", colName, LongType)
        mkAgg(graft.functions.MgUpdateMergeAgg(bAttr, rAttr, k, tk.dataType))
      }
      case _ => None
    }
  }

  /** Does the edge scan's source carry the typed raw column an edge
    * update needs — integral for the Theta/Misra-Gries long-key
    * contract, any numeric for KLL (both mirror the builds' casts). */
  private def residueRawSrcOk(below: LogicalPlan)(
      col: String, integral: Boolean): Boolean =
    below.output.exists(at => at.name == col && (
      if (integral)
        Seq[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(at.dataType)
      else at.dataType.isInstanceOf[NumericType]))

  /** The RESIDUE SKETCH SEAM (round 17) as a conditional hybrid sees
    * one registration. Approximate spellings fold through the same
    * two-leg union: interior minutes ship the family's raw per-minute
    * sketch BYTES (one binary column per served (family, input
    * column)), edge rows ship the RAW sketched value (cast as the build
    * casts), and a union-or-update aggregate
    * ([[graft.functions.SketchUpdateAgg]]) unions bytes / updates raws
    * behind the same per-aggregate span FILTER that keeps the numeric
    * legs disjoint. `served(family, col)` is Some(every serving wheel
    * keeps its minute tier) when a fresh wheel serves the column, None
    * when unserved; `bytesAt(family, col, key, slotMs)` is an interior
    * entry's per-minute sketch bytes (null = empty minute — contributes
    * nothing). */
  private final case class CondSketch(
      served: (String, String) => Option[Boolean],
      bytesAt: (String, String, Any, Long) => Array[Byte])

  /** The seam over an UNKEYED sketch registration (entry keys unused). */
  private def condSketchOf(
      sketchOpt: Option[WheelAcceleration.SketchReg]): CondSketch =
    CondSketch(
      (family, col) => sketchOpt.flatMap(sk => family match {
        case "d" => sk.distinct.get(col).map(_.minuteTierComplete)
        case "q" => sk.quantile.get(col).map(_.minuteTierComplete)
        case _ => sk.freq.get(col).map(_.minuteTierComplete)
      }),
      (family, col, _, slotMs) => sketchOpt.map(sk => family match {
        case "d" => sk.distinct(col).minuteBytesAt(slotMs)
        case "q" => sk.quantile(col).minuteBytesAt(slotMs)
        case _ => sk.freq(col).minuteBytesAt(slotMs)
      }).orNull)

  /** The seam over a KEYED sketch registration — EVERY key's wheel must
    * retain its minute tier. */
  private def keyedCondSketchOf(
      keyedSk: Option[WheelAcceleration.KeyedSketchReg]): CondSketch =
    CondSketch(
      (family, col) => keyedSk.flatMap(sk => family match {
        case "d" => sk.distinct.get(col)
          .map(_.valuesIterator.forall(_.minuteTierComplete))
        case "q" => sk.quantile.get(col)
          .map(_.valuesIterator.forall(_.minuteTierComplete))
        case _ => sk.freq.get(col)
          .map(_.valuesIterator.forall(_.minuteTierComplete))
      }),
      (family, col, key, slotMs) => keyedSk.flatMap { sk =>
        (family match {
          case "d" => sk.distinct(col).get(key).map(_.minuteBytesAt(slotMs))
          case "q" => sk.quantile(col).get(key).map(_.minuteBytesAt(slotMs))
          case _ => sk.freq(col).get(key).map(_.minuteBytesAt(slotMs))
        }).flatMap(Option(_))
      }.orNull)

  /** The seam's edge-leg projection tail: NULL bytes + the cast raw
    * column per needed sketch, positionally matching the interior
    * relation's sketch attributes. */
  private def sketchEdgeAliases(below: LogicalPlan,
      skCols: Seq[((String, String), (AttributeReference, AttributeReference))])
      : Seq[NamedExpression] =
    skCols.flatMap { case ((f, c), (bAttr, rAttr)) =>
      val src = below.output.find(_.name == c).get
      val castType: DataType = if (f == "q") DoubleType else LongType
      Seq(Alias(Literal(null, BinaryType), bAttr.name)(),
        Alias(Cast(src, castType), rAttr.name)())
    }

  /** Shared select-list machinery of the conditional hybrids
    * ([[condHybrid]] and [[slidingCondResidue]]): per-aggregate span
    * filters over the union's (slot, ts) columns, the merged edge-window
    * set, ELSE-0 outer-row counting, the sketch seam, and the
    * select-list rewrite. Call [[rewriteAggExprs]] (which registers
    * every aggregate's slivers), then [[mergedEdgeWindows]]. */
  private final class CondResidue(
      noun: String, tsCol: String, measureNames: Set[String],
      cols: PartialCols, outersUs: Seq[(Long, Long)],
      slotAttr: AttributeReference, tsOut: AttributeReference,
      // round 17 sketch seam: (family, column) → Some(minute-tier
      // complete across every serving wheel) when a fresh registration
      // serves it, None when unserved; and whether the source carries
      // the typed raw column an edge update needs. Callers that wire
      // the seam must also emit the [[sketchCols]] attributes on both
      // union legs (bytes on interior rows, cast raws on edge rows).
      sketchServed: (String, String) => Option[Boolean] = (_, _) => None,
      rawSrcOk: (String, Boolean) => Boolean = (_, _) => false,
      // an edge-free caller's sink for the deferred exact-regime sketch
      // proofs; None keeps the static accuracy gates
      proofs: Option[scala.collection.mutable.Buffer[CondGate]] = None) {

    var supported = true
    private def fail[T](msg: String, keep: T): T = {
      if (foldBailNote.isEmpty) foldBailNote = msg
      supported = false; keep
    }

    private val edgeWins =
      scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]

    // the (family, column) → (bytes attr, raw attr) registry of every
    // sketch-served aggregate — populated while rewriting the select
    // list, consumed by the caller's interior/edge emission
    private val neededSketch = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (AttributeReference, AttributeReference)]
    private def sketchAttrs(family: String, colName: String,
        rawType: DataType): (AttributeReference, AttributeReference) =
      neededSketch.getOrElseUpdate((family, colName), (
        AttributeReference(s"__graft_skb_${family}_$colName", BinaryType,
          nullable = true)(),
        AttributeReference(s"__graft_skr_${family}_$colName", rawType,
          nullable = true)()))
    /** The sketch columns the rewritten select list needs — call AFTER
      * [[rewriteAggExprs]]; each entry is ((family, column), (bytes
      * attr, raw attr)) in first-need order. */
    def sketchCols: Seq[((String, String), (AttributeReference, AttributeReference))] =
      neededSketch.toSeq

    private def spanFilter(spans: Seq[(Long, Long)]): Expression = {
      val slivers = spans.flatMap { case (a, b) => minuteSliversUs(a, b) }
      edgeWins ++= slivers
      val slotConds = spans.flatMap { case (a, b) => minuteInteriorMs(a, b) }
        .map { case (ia, ib) =>
          And(GreaterThanOrEqual(slotAttr, Literal(ia, LongType)),
            LessThan(slotAttr, Literal(ib, LongType))): Expression
        }
      val tsConds = slivers.map { case (wa, wb) =>
        And(GreaterThanOrEqual(tsOut, Literal(wa, tsOut.dataType)),
          LessThan(tsOut, Literal(wb, tsOut.dataType))): Expression
      }
      (slotConds ++ tsConds).reduceOption(Or.apply)
        .getOrElse(Literal.FalseLiteral)
    }

    private def sumRowsAe(filter: Expression): Expression =
      AggregateExpression(Sum(cols.rowsAttr), Complete, isDistinct = false)
        .copy(filter = Some(filter))

    private def mergedCond(ae: AggregateExpression): Expression = {
      if (!supported) return ae
      condParts(ae) match {
        case None => supported = false; ae
        case Some((fn, condOpt, elseZero)) =>
          val spans = condOpt match {
            case None => outersUs
            case Some(c) => rangeUs(c, tsCol) match {
              case Some((lo, hi)) => clipSpansUs(outersUs, lo, hi)
              case None =>
                return fail(s"$noun: a per-aggregate " +
                  s"condition is not a bare time range on '$tsCol'", ae)
            }
          }
          fn match {
            case _: HyperLogLogPlusPlus | _: ApproximatePercentile
                 | _: ApproxTopK =>
              // round 17: ride the union-or-update seam when the
              // caller wired a serving registration
              return residueSketchExpr(fn,
                served = sketchServed, rawSrcOk = rawSrcOk,
                sketchAttrs = sketchAttrs,
                refuseMsg = msg => { fail(msg, ()); () },
                mkAgg = f =>
                  AggregateExpression(f, Complete, isDistinct = false)
                    .copy(filter = Some(spanFilter(spans))),
                prove = proofs.map(buf => (col, limit, note) =>
                  col.forall(measureNames.contains) && {
                    buf += CondGate(col.getOrElse(cols.measures.head), spans,
                      (al, _) => (if (col.isEmpty) al.rows else al.count) <= limit,
                      note)
                    true
                  })).getOrElse {
                if (supported)
                  fail(s"$noun: no fresh sketch registration serves " +
                    s"${fn.prettyName} on this column (or the source " +
                    "misses the typed raw column its edge updates " +
                    "need) — scan kept", ae)
                else ae
              }
            case _ => ()
          }
          val plain = AggregateExpression(fn, Complete, isDistinct = false)
          mergeAggExprs(cols, measureNames,
            Seq(Alias(plain, "__graft_m")()), Nil) match {
            case None => supported = false; ae // note set by mergeAggExprs
            case Some(Seq(alias)) =>
              val cond = spanFilter(spans)
              val filtered = alias.asInstanceOf[Alias].child.transformUp {
                case iae: AggregateExpression => iae.copy(filter = Some(cond))
              }
              if (!elseZero) filtered
              else {
                val outerRowsE = sumRowsAe(spanFilter(outersUs))
                val spanRowsE =
                  Coalesce(Seq(sumRowsAe(cond), Literal(0L, LongType)))
                If(And(IsNull(filtered), GreaterThan(outerRowsE, spanRowsE)),
                  Literal(0.0, filtered.dataType), filtered)
              }
            case Some(_) => supported = false; ae
          }
      }
    }

    /** The select list in merge form with per-aggregate span filters;
      * group spellings substituted per `subst` (match by semantic
      * equality against any listed spelling). None on any refusal
      * (note pinned) or a surviving foreign attribute. */
    def rewriteAggExprs(aggExprs: Seq[NamedExpression],
        subst: Seq[(Seq[Expression], Attribute)]): Option[Seq[NamedExpression]] = {
      val out = aggExprs.map { ne =>
        val substituted = ne.transform {
          case e if subst.exists(_._1.exists(e.semanticEquals)) =>
            subst.find(_._1.exists(e.semanticEquals)).get._2
        }
        val rewritten = substituted.transformUp {
          case e: AggregateExpression => mergedCond(e)
        }.asInstanceOf[NamedExpression]
        if (rewritten.exprId == ne.exprId) rewritten
        else Alias(rewritten, ne.name)(ne.exprId)
      }
      if (!supported) return None
      val allowed = cols.partialAttrs.map(_.exprId).toSet +
        slotAttr.exprId + tsOut.exprId ++ subst.map(_._2.exprId) ++
        neededSketch.valuesIterator.flatMap(p =>
          Seq(p._1.exprId, p._2.exprId))
      if (out.exists(_.exists {
        case at: Attribute => !allowed.contains(at.exprId)
        case _ => false
      })) None
      else Some(out)
    }

    /** The merged edge-window set — with `outerSlivers`, the outer
      * slivers join unconditionally (group presence: a group whose only
      * outer rows fall there must still emit, with every aggregate's own
      * FILTER excluding the extra rows from values). Call AFTER
      * [[rewriteAggExprs]]. */
    def mergedEdgeWindows(outerSlivers: Boolean): Seq[(Long, Long)] = {
      if (outerSlivers)
        edgeWins ++= outersUs.flatMap { case (a, b) => minuteSliversUs(a, b) }
      if (edgeWins.isEmpty) Nil else mergeRanges(edgeWins.toSeq)
    }
  }

  /** An aggregate's own time condition: its FILTER clause, or the
    * condition of a single-branch CASE WHEN argument. */
  private def aggCondOf(ae: AggregateExpression): Option[Expression] =
    ae.filter.orElse(ae.aggregateFunction.children.collectFirst {
      case cw: CaseWhen if cw.branches.size == 1 => cw.branches.head._1
    })

  /** True when some aggregate carries a FILTER clause or a CASE WHEN
    * argument — the conditional legs' structural cue. */
  private def hasConditional(aggExprs: Seq[NamedExpression]): Boolean =
    aggExprs.exists(_.exists {
      case ae: AggregateExpression => ae.filter.nonEmpty ||
        ae.aggregateFunction.children.exists(_.isInstanceOf[CaseWhen])
      case _ => false
    })

  /** True when some aggregate's own time range has a sub-minute bound. */
  private def subMinuteAggCond(aggExprs: Seq[NamedExpression],
      tsCol: String): Boolean =
    aggExprs.exists(_.exists {
      case ae: AggregateExpression =>
        aggCondOf(ae).flatMap(c => rangeUs(c, tsCol)).exists { case (lo, hi) =>
          (lo ++ hi).exists(_ % (MinuteMs * 1000L) != 0) }
      case _ => false
    })

  /** An aggregate's spans: its own time range clipped against every
    * outer range, or the outer ranges when it has none. */
  private def aggSpansUs(ae: AggregateExpression, tsCol: String,
      outersUs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    aggCondOf(ae).flatMap(c => rangeUs(c, tsCol)) match {
      case Some((lo, hi)) => clipSpansUs(outersUs, lo, hi)
      case None => outersUs
    }

  /** The conditioning gate of every second moment over a registered
    * measure, on its clipped spans — with `clippedOnly`, only those
    * clipped to a sub-range of the outers (a per-group shift already
    * centers the full-range ones exactly). */
  private def varGates(aggExprs: Seq[NamedExpression], tsCol: String,
      measureNames: Set[String], outersUs: Seq[(Long, Long)],
      clippedOnly: Boolean): Seq[CondGate] =
    aggExprs.flatMap(_.collect {
      case ae: AggregateExpression => ae
    }).flatMap { ae =>
      val fn = ae.aggregateFunction
      val spans = aggSpansUs(ae, tsCol, outersUs)
      fn match {
        case _: VariancePop | _: StddevPop | _: VarianceSamp | _: StddevSamp
            if !clippedOnly || spans != outersUs =>
          fn.children.flatMap(_.collect {
            case a: AttributeReference if measureNames.contains(a.name) =>
              CondGate(a.name, spans,
                (al, shift) => al.varWellConditionedAround(shift), IllCondNote)
          })
        case _ => Nil
      }
    }

  /** KEYED conditional hybrid (round 16): `GROUP BY key` with
    * sub-minute bounds on the outer WHERE or on per-aggregate
    * conditions — [[condHybrid]] grouped per key, so the path serves
    * ANY key cardinality (no per-key driver queries anywhere). Keys
    * present only in the slivers emerge from the edge rows. With edges,
    * heterogeneous key means far from the global shift center refuse
    * to the scan (the raw-edge-leg contract); edge-free — an aligned
    * OR outer, or any aligned outer past the key ceiling — each key
    * centers on its own mean. */
  private def foldKeyedConditionalResidue(keyAttr: AttributeReference,
      aggExprs: Seq[NamedExpression], below: LogicalPlan,
      reg: WheelAcceleration.KeyedReg, outersUs: Seq[(Long, Long)],
      keyedSk: Option[WheelAcceleration.KeyedSketchReg]): Option[LogicalPlan] =
    condHybrid("keyed conditional hybrid", aggExprs, below, reg.tsCol,
      keyedCondInterior(reg.wheels), outersUs,
      keyGroups(Seq(keyAttr), Seq(reg.keyCol), Seq(reg.any.keyType), below,
        (key, _) => key),
      keyedCondSketchOf(keyedSk))

  /** The per-key rows for [[rewriteKeyedConditional]]: for each
    * registered key with data in the outer range, every aggregate
    * replaced by that key's index answer over the aggregate's own
    * ms-range, the grouping attr by the key literal. */
  private def foldKeyedConditionalRows(
      agg: Aggregate, keyAttr: AttributeReference,
      aggExprs: Seq[NamedExpression], path: String,
      reg: WheelAcceleration.KeyedReg,
      outerAMs: Long, outerBMs: Long): Option[LogicalPlan] = {
    val keyedSk = WheelAcceleration.lookup(path)(_.keyedSketch)
      .filter(r => r.tsCol == reg.tsCol && r.keyCol == reg.keyCol)
    var supported = true
    def refuse[T](msg: String, keep: T): T = {
      if (foldBailNote.isEmpty) foldBailNote = msg
      supported = false; keep
    }
    // per-aggregate ms-range resolution happens ONCE; the per-key index
    // queries run inside the key loop below
    def msRangeOf(condOpt: Option[Expression]): Option[(Long, Long)] =
      condOpt match {
        case None => Some((outerAMs, outerBMs))
        case Some(c) => rangeUs(c, reg.tsCol) match {
          case Some((lo, hi)) =>
            val a = math.max(outerAMs * 1000L, lo.getOrElse(outerAMs * 1000L))
            val b = math.min(outerBMs * 1000L, hi.getOrElse(outerBMs * 1000L))
            val bb = math.max(a, b)
            if (a % (MinuteMs * 1000L) == 0 && bb % (MinuteMs * 1000L) == 0)
              Some((a / 1000L, bb / 1000L))
            else None
          case None => None
        }
      }
    val out = Seq.newBuilder[InternalRow]
    val keys = reg.any.keys.toSeq
    keys.foreach { key =>
      if (supported) {
        val allsCache = scala.collection.mutable.Map
          .empty[(Long, Long), Map[String, AllAggregate]]
        def allsFor(r: (Long, Long)): Map[String, AllAggregate] =
          allsCache.getOrElseUpdate(r,
            reg.wheels.map { case (c, i) => c -> i.query(key, r._1, r._2) })
        val outerRows = allsFor((outerAMs, outerBMs))
          .valuesIterator.nextOption().map(_.rows).getOrElse(0L)
        if (outerRows > 0L) { // SQL GROUP BY: absent keys emit no row
          val skView = keyedSk.map(_.viewFor(key))
          val keyLit = Literal.create(key, reg.any.keyType)
          def condLit(ae: AggregateExpression): Expression = {
            if (!supported) return ae
            condParts(ae) match {
              case None => supported = false; ae
              case Some((fn, condOpt, elseZero)) => msRangeOf(condOpt) match {
                case None =>
                  refuse("keyed conditional fold: a per-aggregate " +
                    "condition is not a bare minute-aligned time range " +
                    s"on '${reg.tsCol}'", ae)
                case Some(r) => aggFnLit(fn, allsFor(r), skView, Seq(r)) match {
                  case Some(Literal(null, dt)) if elseZero =>
                    // NULL survives the ELSE 0 only when every one of
                    // THIS key's outer rows hits the branch and its
                    // inputs are all NULL (all-null measure on a fully
                    // covered key — ADVICE r14); outerRows > 0 here by
                    // construction, so outerRows > spanRows ⟺ an ELSE
                    // row exists for this key.
                    val spanRows = allsFor(r).valuesIterator.nextOption()
                      .map(_.rows).getOrElse(0L)
                    if (outerRows > spanRows) Literal(0.0, dt)
                    else Literal(null, dt)
                  case Some(l) => l
                  case None =>
                    refuse("unsupported aggregate for plan-time fold: " +
                      fn.prettyName, ae)
                }
              }
            }
          }
          val vals = aggExprs.map { ne =>
            val substituted = ne.transform {
              case e if e.semanticEquals(keyAttr) => keyLit
            }
            val replaced = substituted.transform {
              case e: AggregateExpression => condLit(e)
            }
            if (!supported) return None
            if (replaced.exists(_.isInstanceOf[Attribute])) return None
            replaced.asInstanceOf[Expression].eval(InternalRow.empty)
          }
          out += InternalRow.fromSeq(vals)
        }
      }
    }
    if (supported) Some(LocalRelation(agg.output, out.result())) else None
  }

  /** The condition as a disjunction of ≥ 2 fully bounded µS ranges
    * (round 14 — closed raw-timestamp disjuncts included) — None when
    * it is anything else (single ranges take the ordinary path;
    * half-bounded disjuncts are refused). A top-level `IsNotNull(ts)`
    * conjunct (inferred by the optimizer from the range bounds) is
    * stripped; any OTHER conjunct alongside the disjunction refuses
    * (its semantics are not a pure time filter). */
  private def orRangesUs(cond: Expression,
      tsCol: String): Option[Seq[(Long, Long)]] = {
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    val core = conj(cond).filterNot {
      case IsNotNull(e) => isTsCol(e, tsCol) || isTsMs(e, tsCol)
      case _ => false
    }
    core match {
      case Seq(or: Or) =>
        def disjuncts(e: Expression): Seq[Expression] = e match {
          case Or(l, r) => disjuncts(l) ++ disjuncts(r)
          case x => Seq(x)
        }
        val ds = disjuncts(or)
        val rs = ds.map(d => rangeUs(d, tsCol).collect {
          case (Some(a), Some(b)) if a < b => (a, b)
        })
        if (rs.size >= 2 && rs.forall(_.isDefined)) Some(rs.flatten)
        else None
      case _ => None
    }
  }

  /** Sort + merge overlapping/touching half-open ranges. */
  private def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = rs.sortBy(_._1)
    sorted.tail.foldLeft(List(sorted.head)) { case (acc, (a, b)) =>
      val (ca, cb) = acc.head
      if (a <= cb) (ca, math.max(cb, b)) :: acc.tail
      else (a, b) :: acc
    }.reverse
  }

  /** The per-measure partial-column attributes (sum/min/max per
    * measure + the shared row count) that a merge-form Aggregate
    * ([[mergeAggExprs]]) reads — shared by the hybrids' union legs and
    * the sliding fallback's partials relation. */
  private final case class PartialCols(
      measures: Seq[String],
      sumAttrs: Map[String, AttributeReference],
      minAttrs: Map[String, AttributeReference],
      maxAttrs: Map[String, AttributeReference],
      sumsqAttrs: Map[String, AttributeReference],
      cntAttrs: Map[String, AttributeReference],
      rowsAttr: AttributeReference,
      shifts: Map[String, Double],
      // per-ROW shift columns: an edge-free hybrid ships each GROUP's
      // own mean as a column (constant within a group), so its variance
      // recombination is exact for ANY data — only a second moment
      // clipped to a sub-range is still gated. Empty for every plan
      // with edge legs (a raw edge row cannot know its group's shift);
      // those use the scalar `shifts` + gate.
      shiftAttrs: Map[String, AttributeReference] = Map.empty) {
    def shiftOf(c: String): Double = shifts.getOrElse(c, 0.0)
    def partialAttrs: Seq[AttributeReference] =
      measures.flatMap(c =>
        Seq(sumAttrs(c), minAttrs(c), maxAttrs(c), sumsqAttrs(c), cntAttrs(c))) ++
        (rowsAttr +: measures.flatMap(shiftAttrs.get))
    /** One partials row: per-measure (sum, min, max, shifted Σ(x−c)²,
      * cnt) + the shared COUNT(*) rows (+ the per-row shift columns
      * when this layout carries them). The shifted square is
      * reconstructed from the central m2 ([[AllAggregate.shiftedSq]]
      * around this fold's plan-time shift — the range's own mean when a
      * second moment is requested, 0 otherwise) so the executor-side
      * merge stays a plain SUM; every addend is stddev-scale instead of
      * mean-scale, which is what makes the recombination
      * well-conditioned for homogeneous data. A measure with no
      * non-null values in the partial emits SQL NULL stats (nullable
      * measures, round 11) so the merge-form SUM/MIN/MAX see exactly
      * what a scan's partial aggregation would hand them. */
    def partialsRow(alls: Map[String, AllAggregate], rows: Long): Seq[Any] =
      partialsRowShifted(alls, rows, shiftOf)
    /** [[partialsRow]] with an explicit per-call shift (the per-group
      * shift-column layout): the shifted square centers on `rowShift`
      * and the shift value rides along in its column. */
    def partialsRowShifted(alls: Map[String, AllAggregate], rows: Long,
        rowShift: String => Double): Seq[Any] =
      measures.flatMap { c =>
        val al = alls(c)
        if (al.count == 0L) Seq[Any](null, null, null, null, 0L)
        else Seq[Any](al.sum, al.min, al.max, al.shiftedSq(rowShift(c)), al.count)
      } ++ (rows +: measures.flatMap(c =>
        if (shiftAttrs.contains(c)) Seq[Any](rowShift(c)) else Seq.empty[Any]))
  }

  private def partialColsFor(measureCols: Seq[String],
      shifts: Map[String, Double] = Map.empty,
      perRowShifts: Boolean = false): PartialCols = {
    val measures = measureCols.sorted
    PartialCols(
      measures,
      measures.map(c => c ->
        AttributeReference(s"__graft_sum_$c", DoubleType, nullable = true)()).toMap,
      measures.map(c => c ->
        AttributeReference(s"__graft_min_$c", DoubleType, nullable = true)()).toMap,
      measures.map(c => c ->
        AttributeReference(s"__graft_max_$c", DoubleType, nullable = true)()).toMap,
      measures.map(c => c ->
        AttributeReference(s"__graft_sumsq_$c", DoubleType, nullable = true)()).toMap,
      measures.map(c => c ->
        AttributeReference(s"__graft_cnt_$c", LongType, nullable = false)()).toMap,
      AttributeReference("__graft_rows", LongType, nullable = false)(),
      shifts,
      if (!perRowShifts) Map.empty
      else measures.map(c => c ->
        AttributeReference(s"__graft_shift_$c", DoubleType, nullable = false)()).toMap)
  }

  /** Shared scaffolding for the hybrid residue folds (ungrouped and
    * grouped): the partial-column attributes the union legs agree on,
    * the edge-window Filter with directly-pushable ts bounds, and the
    * raw-row→partials projection list. None when the source misses the
    * typed ts/measure columns or the range is fully aligned. */
  private final case class ResidueParts(
      cols: PartialCols,
      edgePartials: Seq[NamedExpression],
      edgeFilter: Filter) {
    def measures: Seq[String] = cols.measures
    def partialAttrs: Seq[AttributeReference] = cols.partialAttrs
    def partialsRow(alls: Map[String, AllAggregate], count: Long): Seq[Any] =
      cols.partialsRow(alls, count)
  }

  /** Edge bounds are µS instants (round 14): the edge filters carry
    * exact µs literals, so direct-timestamp closed bounds (`<= x` =
    * `< x+1 µs`) scan exactly their sub-minute edges. `edges` is the
    * list of half-open sub-minute windows — two for a single range,
    * up to 2N for an OR of N ranges (disjoint by construction, so the
    * OR-of-windows filter never double-reads a row). */
  private def residueParts(below: LogicalPlan, tsCol: String,
      measureCols: Seq[String], edges: Seq[(Long, Long)],
      shifts: Map[String, Double] = Map.empty): Option[ResidueParts] = {
    val tsAttr = below.output.find(_.name == tsCol) match {
      case Some(t) if t.dataType == TimestampType ||
        t.dataType == TimestampNTZType => t
      case _ => return None
    }
    val cols = partialColsFor(measureCols, shifts)
    val measures = cols.measures
    val measureAttr = measures.flatMap(c =>
      below.output.find(o => o.name == c && o.dataType == DoubleType)
        .map(c -> _)).toMap
    if (measureAttr.size != measures.size) return None
    def usLit(us: Long) = Literal(us, tsAttr.dataType)
    val windows = edges.filter { case (lo, hi) => lo < hi }
      .map { case (lo, hi) =>
        And(GreaterThanOrEqual(tsAttr, usLit(lo)),
          LessThan(tsAttr, usLit(hi))): Expression
      }
    val edgeCond = windows.reduceOption(Or.apply) match {
      case Some(c) => c
      case None => return None // no edges = aligned, not a hybrid
    }
    Some(ResidueParts(
      cols,
      measures.flatMap { c =>
        val at = measureAttr(c)
        // the shifted square (x−c)² matches the interior partials'
        // [[AllAggregate.shiftedSq]] encoding; x−c is Sterbenz-exact in
        // the regime that matters (x ≈ c), so the edge leg loses
        // nothing the raw x² form kept
        val centered: Expression = cols.shiftOf(c) match {
          case 0.0 => at
          case s => Subtract(at, Literal(s, DoubleType))
        }
        Seq(Alias(at, s"__graft_sum_$c")(), Alias(at, s"__graft_min_$c")(),
          Alias(at, s"__graft_max_$c")(),
          Alias(Multiply(centered, centered), s"__graft_sumsq_$c")(),
          // non-null indicator: the edge leg's COUNT(col) contribution
          Alias(If(IsNull(at), Literal(0L, LongType), Literal(1L, LongType)),
            s"__graft_cnt_$c")())
      } :+ Alias(Literal(1L, LongType), "__graft_rows")(),
      Filter(edgeCond, below)))
  }

  /** The original result expressions rewritten to merge form over the
    * partial columns: SUM→SUM(sum), MIN→MIN(min), MAX→MAX(max),
    * COUNT(*)→coalesce(SUM(rows), 0), COUNT(col)→coalesce(SUM(cnt_col),
    * 0), AVG→SUM(sum)/SUM(cnt_col), and the second-moment family
    * VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP from
    * (SUM(sumsq) − SUM(sum)²/n)/n (the algebraic variance the partials
    * carry; clamped at 0, SAMP null below two rows) — per-measure
    * non-null counts ride the partials, so nullable measures fold with
    * SQL's exact COUNT(*)/COUNT(col) split (round 11).
    * `groupSubst` replaces grouping spellings with the union's slot
    * attribute (grouped path). None on any unsupported aggregate or a
    * surviving reference outside the union's columns. */
  private def mergeAggExprs(cols: PartialCols,
      measureNames: Set[String], aggExprs: Seq[NamedExpression],
      groupSubst: Seq[(Seq[Expression], Attribute)]): Option[Seq[NamedExpression]] = {
    var supported = true
    def merged(e: AggregateExpression): Expression = {
      if (!supported) return e
      if (e.isDistinct || e.filter.nonEmpty) {
        if (foldBailNote.isEmpty) foldBailNote =
          s"unsupported aggregate for merge-form fold: " +
            s"${e.aggregateFunction.prettyName} with DISTINCT/FILTER"
        supported = false; return e
      }
      def m(c: Expression): Option[String] = c match {
        case at: AttributeReference if measureNames.contains(at.name) => Some(at.name)
        case _ => None
      }
      def ae(f: AggregateFunction) =
        AggregateExpression(f, Complete, isDistinct = false)
      val sumRows = ae(Sum(cols.rowsAttr))
      def sumCnt(n: String) = ae(Sum(cols.cntAttrs(n)))
      val r: Option[Expression] = e.aggregateFunction match {
        case Sum(c, _) => m(c).map(n => ae(Sum(cols.sumAttrs(n))))
        case Min(c) => m(c).map(n => ae(Min(cols.minAttrs(n))))
        case Max(c) => m(c).map(n => ae(Max(cols.maxAttrs(n))))
        case Average(c, _) =>
          // the per-measure non-null count, NOT rows: AVG ignores NULLs
          m(c).map(n => Divide(ae(Sum(cols.sumAttrs(n))), Cast(sumCnt(n), DoubleType)))
        // COUNT(*) / COUNT(lit) count every row; COUNT(col) counts the
        // measure's non-null values (nullable measures, round 11).
        // Multi-arg COUNT(a, b) and COUNT(NULL) stay unsupported →
        // bail to the scan (constant folding ran, so foldables are
        // literals here).
        case Count(cs) if cs.size == 1 && m(cs.head).isDefined =>
          Some(Coalesce(Seq(sumCnt(m(cs.head).get), Literal(0L, LongType))))
        case Count(cs) if cs.forall {
            case Literal(v, _) => v != null
            case _ => false
          } =>
          Some(Coalesce(Seq(sumRows, Literal(0L, LongType))))
        // algebraic second moment: (Σx² − (Σx)²/n)/n over the summed
        // partials, clamped at 0 (the subtraction can go an ulp
        // negative on constant groups); SAMP divides by n−1 and is
        // NULL below two rows — fold only the default
        // nullOnDivideByZero=true spelling, matching that contract
        case VariancePop(c, _) => m(c).map(n => varMerge(n, samp = false))
        case StddevPop(c, _) => m(c).map(n => Sqrt(varMerge(n, samp = false)))
        case VarianceSamp(c, true) => m(c).map(n => varMerge(n, samp = true))
        case StddevSamp(c, true) => m(c).map(n => Sqrt(varMerge(n, samp = true)))
        case _ => None
      }
      r.getOrElse {
        if (foldBailNote.isEmpty) foldBailNote =
          s"unsupported aggregate for merge-form fold: ${e.aggregateFunction.prettyName}"
        supported = false; e
      }
    }
    def varMerge(n: String, samp: Boolean): Expression = {
      def ae(f: AggregateFunction) =
        AggregateExpression(f, Complete, isDistinct = false)
      val s = ae(Sum(cols.sumAttrs(n)))
      val q = ae(Sum(cols.sumsqAttrs(n)))
      // the measure's NON-NULL count (n in the variance formula);
      // rows would overcount under a nullable measure
      val rows = ae(Sum(cols.cntAttrs(n)))
      val cnt = Cast(rows, DoubleType)
      // the partials carry the SHIFTED square Σ(x−c)², so the matching
      // first moment is Σ(x−c) = Σx − n·c — with c ≈ the range mean
      // both sides of the subtraction are stddev-scale, which is the
      // whole point of shift-centering (round 11). Per-ROW shift
      // columns (the edge-free hybrids' layout) carry each GROUP's own
      // mean — constant within the group, so MAX reads it back —
      // making the recombination exact for any data.
      val sShifted: Expression = cols.shiftAttrs.get(n) match {
        case Some(shiftAt) =>
          Subtract(s, Multiply(cnt, ae(Max(shiftAt))))
        case None => cols.shiftOf(n) match {
          case 0.0 => s
          case c => Subtract(s, Multiply(cnt, Literal(c, DoubleType)))
        }
      }
      val num = Subtract(q, Divide(Multiply(sShifted, sShifted), cnt))
      val den = if (samp) Subtract(cnt, Literal(1.0, DoubleType)) else cnt
      val v = Greatest(Seq(Divide(num, den), Literal(0.0, DoubleType)))
      // Greatest SKIPS nulls, so the clamp alone would turn the
      // empty-measure group's NULL into 0.0 — guard on the non-null
      // count like the scan does (POP needs ≥1 value, SAMP ≥2). The
      // count itself is NULL — not 0 — when a slot FILTER (the
      // conditional hybrids) excludes every row, so coalesce before
      // comparing.
      If(LessThanOrEqual(Coalesce(Seq(rows, Literal(0L, LongType))),
        Literal(if (samp) 1L else 0L, LongType)),
        Literal(null, DoubleType), v)
    }
    val newAggExprs = aggExprs.map { ne =>
      val substituted =
        if (groupSubst.isEmpty) ne
        else ne.transform {
          case e if groupSubst.exists(_._1.exists(e.semanticEquals)) =>
            groupSubst.find(_._1.exists(e.semanticEquals)).get._2
        }
      // transformUp, NOT transformDown: the merge forms for AVG/COUNT
      // nest fresh AggregateExpressions inside Divide/Coalesce, and a
      // top-down transform would descend into the replacement and
      // reject its partial-column references as unknown measures
      val out = substituted.transformUp {
        case e: AggregateExpression => merged(e)
      }.asInstanceOf[NamedExpression]
      // a bare-attribute output replaced by the slot attr must keep the
      // ORIGINAL exprId — the parent plan (Sort, Project) references it
      if (out.exprId == ne.exprId) out else Alias(out, ne.name)(ne.exprId)
    }
    if (!supported) return None
    // any surviving reference outside the union's columns (a bare
    // column in the select list, a grouping leak) disqualifies
    val allowed =
      cols.partialAttrs.map(_.exprId).toSet ++ groupSubst.map(_._2.exprId)
    if (newAggExprs.exists(_.exists {
      case at: Attribute => !allowed.contains(at.exprId)
      case _ => false
    })) return None
    Some(newAggExprs)
  }

  /** Rebase `e` onto `below`'s output by inlining every Alias defined
    * in the projection nodes between `child` and `below` — the grouping
    * expression the analyzer produced may reference intermediate
    * aliases (e.g. a reading pipeline's `ts := cast(ts_ntz)` projection,
    * or TimeWindowing's window struct), while the hybrid edge leg
    * evaluates it directly over `below`'s raw rows. None when the
    * result still references anything outside `below`'s output. */
  private def rebaseOnto(child: LogicalPlan, below: LogicalPlan,
      e: Expression): Option[Expression] = {
    def aliases(p: LogicalPlan): Map[ExprId, Expression] =
      if (p eq below) Map.empty
      else p match {
        case Project(exprs, ch) =>
          exprs.collect { case a: Alias => a.exprId -> a.child }.toMap ++ aliases(ch)
        case SubqueryAlias(_, ch) => aliases(ch)
        case Filter(_, ch) => aliases(ch)
        case _ => Map.empty
      }
    val defs = aliases(child)
    var cur = e
    var rounds = 0
    var changed = true
    while (changed && rounds < 10) { // alias chains are shallow; bound anyway
      val next = cur.transformUp {
        case at: AttributeReference if defs.contains(at.exprId) => defs(at.exprId)
      }
      changed = !next.fastEquals(cur)
      cur = next
      rounds += 1
    }
    if (cur.references.subsetOf(below.outputSet)) Some(cur) else None
  }

  /** True when any output aggregate is a second-moment call — those
    * get SHIFT-CENTERED partials and a conditioning gate before any
    * MERGE-FORM fold (round 11, ADVICE r10): the merge expression
    * re-derives the variance algebraically from shipped
    * sum / Σ(x−c)² partials (the shifted square reconstructed from the
    * central m2 via [[AllAggregate.shiftedSq]] around `c` ≈ the fold
    * range's own mean, so executor recombination stays a plain SUM
    * with stddev-scale addends). Homogeneous data — any magnitude,
    * any spread — is now well-conditioned by construction, and every
    * EDGE-FREE hybrid ships PER-GROUP shifts (each group's own mean as
    * a column), exact for ANY data; only a second moment clipped to a
    * sub-range is still gated there, around its group's mean. Plans
    * with raw edge legs (which cannot know their group's shift) can
    * still cancel on heterogeneous group means far from the global `c`
    * with tiny within-group spread; those check the partials they are
    * about to ship ([[AllAggregate.varWellConditionedAround]] the same
    * `c`) and keep the scan when any fails. PLAN-TIME folds ([[foldRow]]) need no
    * gate or shift: their variance reads the Chan-combined central
    * moment directly and is Welford-exact. */
  private def hasSecondMoment(aggExprs: Seq[NamedExpression]): Boolean =
    aggExprs.exists(_.exists {
      case e: AggregateExpression => e.aggregateFunction match {
        case _: VariancePop | _: StddevPop | _: VarianceSamp | _: StddevSamp => true
        case _ => false
      }
      case _ => false
    })

  /** True when any select-list aggregate is an approximate sketch
    * spelling — the residue dispatch's cue to try the sketch seam
    * after the numeric hybrid refused (round 17). */
  private def hasSketchAgg(aggExprs: Seq[NamedExpression]): Boolean =
    aggExprs.exists(_.exists {
      case e: AggregateExpression => e.aggregateFunction match {
        case _: HyperLogLogPlusPlus | _: ApproximatePercentile
             | _: ApproxTopK => true
        case _ => false
      }
      case _ => false
    })

  /** Per-measure plan-time shift for the merge-form second moment: the
    * fold range's own mean (round 11 shift-centering). Empty — zero
    * shifts, the plain Σx² encoding — when no second moment is
    * requested; the extra index queries only run when they matter. */
  private def shiftsFor(needCond: Boolean, measures: Iterable[String],
      rangeAll: String => AllAggregate): Map[String, Double] =
    if (!needCond) Map.empty
    else measures.map { c =>
      val al = rangeAll(c)
      c -> (if (al.count == 0L) 0.0 else al.avg)
    }.toMap

  /** The combined range partial of a KEYED registration across ALL
    * keys — the shift source for keyed merge-form folds (one tier walk
    * per key, bounded by the build ceiling; only taken when the query
    * asks for a second moment). */
  private def keyedRangeAll(reg: WheelAcceleration.KeyedReg, c: String,
      a: Long, b: Long): AllAggregate =
    reg.any.keys.foldLeft(AllAggregate.identity)((acc, k) =>
      acc.combine(reg.wheels(c).query(k, a, b)))

  /** The RETAINED core of an unaligned range's whole-minute interior
    * (round 15): normally the minute-aligned `[aCeilMs, bFloorMs)`
    * itself, but under KeepN eviction a minute-aligned boundary may sit
    * where only coarser tiers are retained — no minute step fits there
    * and the whole hybrid used to fall back to a FULL scan. Instead the
    * interior SHRINKS to boundaries aligned for the tier retained at
    * each end (hour, then day), and the edge scans absorb the
    * difference — each edge window grows to at most one
    * coarsest-retained slot. Its ts bounds are pushed to the reader,
    * but the reader still reads every row group it cannot skip (all of
    * them on a `TIMESTAMP_NTZ` ts), so a wider window costs filtered
    * rows, not a bounded read. None when even the widened core has no
    * retained-tier cover: evicted state must keep the scan, never read
    * as empty. */
  private def retainedCoreMs(wheels: Map[String, WheelIndex],
      aCeilMs: Long, bFloorMs: Long): Option[(Long, Long)] = {
    val idx = wheels.valuesIterator.next()
    // EVERY wheel must cover the core (round 16, ADVICE r15): probing
    // only the head would send a mixed-retention registration into
    // per-wheel query() throws (Try-caught, scan kept) instead of this
    // clean refusal — same outcome, diagnosable note
    def allCover(a: Long, b: Long): Boolean =
      wheels.valuesIterator.forall(_.coverable(a, b))
    if (allCover(aCeilMs, bFloorMs)) return Some((aCeilMs, bFloorMs))
    import graft.wheel.Tier
    // the tier whose step is usable AT a boundary: for the range start
    // the step begins at the (ceiled) boundary itself; for the range
    // end the LAST step begins one slot earlier
    def tierAt(ms: Long, lastStep: Boolean): Tier =
      Seq(Tier.Minute, Tier.Hour, Tier.Day).find { t =>
        (if (lastStep) ms - t.ms else ms) >= idx.retainedStartMs(t)
      }.getOrElse(Tier.Day)
    val aT = tierAt(aCeilMs, lastStep = false).ms
    val a2 = Math.floorDiv(aCeilMs + aT - 1, aT) * aT
    val bT = tierAt(bFloorMs, lastStep = true).ms
    val b2 = Math.floorDiv(bFloorMs, bT) * bT
    if (a2 < b2 && allCover(a2, b2)) Some((a2, b2))
    else {
      if (foldBailNote.isEmpty) foldBailNote =
        "hybrid interior under minute retention: no retained-tier core " +
          "(an evicted span not covered by an aligned coarser tier " +
          "keeps the scan)"
      None
    }
  }

  /** RESIDUE HYBRID for unconditional aggregates over ranges with
    * SUB-MINUTE edges (round 9; OR-of-ranges round 14, retained cores
    * round 15). The wheel is minute-granular, so `[a, b)` with
    * sub-minute edges cannot fold to a constant — but its whole-minute
    * interior `[ceil(a), floor(b))` can. The Aggregate is rewritten to
    * merge form ([[mergeAggExprs]]) over the union of
    *
    *  - interior partials rows computed from the index at plan time,
    *    pre-keyed to their groups: ONE row per range when ungrouped,
    *    else one per (key, grid cell) — a tier walk per cell at or
    *    below [[maxFoldRows]], the index's tier entries above it (an
    *    entry feed that cannot conform to the grid refuses: the cap is
    *    a plan-time bound) — and
    *  - ONE edge leg: a scan filtered to the OR of every range's
    *    sub-minute windows, its rows deriving their groups from the raw
    *    row. A range with no retained core scans whole as one window;
    *    disjoint ranges (mergeRanges ran) mean no row is read twice.
    *    Aligned ranges leave no window and the plan is interior-only:
    *    that is also how every aligned grouped shape above the cap
    *    folds, the no-predicate full span included.
    *
    * ONE builder serves every shape — ungrouped, time cell, key × cell
    * and composite keys × cell, each over a single range or an OR of
    * ranges: the shapes differ only in their [[CondGroup]] columns and
    * their [[ResidueInterior]] (unkeyed or keyed index). With edges,
    * second moments center on the combined interior's mean and every
    * interior row must stay well-conditioned around it (raw edge rows
    * cannot know their group's shift), else the scan is kept with
    * [[IllCondNote]]. EDGE-FREE, each group ships its own mean as a
    * shift column ([[condShifts]]' per-group pre-walk) and folds any
    * data ungated.
    *
    * Scale: the edge scan's ts bounds are pushed to the reader, which
    * still reads every row group it cannot skip — on a `TIMESTAMP_NTZ`
    * ts Spark skips none, so the sliver reads the whole table. */
  private def residueHybrid(noun: String, aggExprs: Seq[NamedExpression],
      below: LogicalPlan, tsCol: String, interior: ResidueInterior,
      rangesUs: Seq[(Long, Long)], groups: Seq[CondGroup],
      grid: Option[SlotGrid]): Option[LogicalPlan] = {
    def refuse(msg: String): Option[LogicalPlan] = {
      if (foldBailNote.isEmpty) foldBailNote = msg
      None
    }
    // each range's retained whole-minute core (ms); a range without one
    // scans whole. No core at all keeps the scan with the retention
    // note; a per-range shrink or degrade is not a refusal
    val note = foldBailNote
    val cores = rangesUs.map { case (a, b) =>
      minuteInteriorMs(a, b).flatMap { case (x, y) => interior.core(x, y) } }
    val interiors = cores.flatten
    if (interiors.isEmpty) return None
    foldBailNote = note
    val edges = rangesUs.zip(cores).flatMap {
      case ((a, b), Some((x, y))) => Seq((a, x * 1000L), (y * 1000L, b))
      case (r, None) => Seq(r)
    }.filter(w => w._1 < w._2)
    val measures = interior.measures
    def merged(x: Map[String, AllAggregate], y: Map[String, AllAggregate]) =
      x.map { case (c, al) => c -> al.combine(y(c)) }
    val needCond = hasSecondMoment(aggExprs)
    val perGroup = needCond && edges.isEmpty
    // the edge plans' shift source: every key's tier walk over each
    // retained core
    lazy val combined = interiors.map { case (a, b) =>
      interior.keys.foldLeft(measures.map(_ -> AllAggregate.identity).toMap)(
        (acc, k) => merged(acc, interior.query(k, a, b)))
    }.reduce(merged)
    val shifts = shiftsFor(needCond && !perGroup, measures, c => combined(c))
    val parts =
      if (edges.isEmpty) None
      else residueParts(below, tsCol, measures, edges, shifts) match {
        case None => return refuse(s"$noun: the source is missing the " +
          "typed ts/measure columns an edge scan needs")
        case some => some
      }
    val edgeGroups = groups.flatMap(_.edge)
    if (parts.nonEmpty && edgeGroups.size != groups.size)
      return refuse(s"$noun: a group column is not derivable from the " +
        "raw rows the edge scan reads")
    val cols = parts.fold(partialColsFor(measures, shifts, perGroup))(_.cols)
    val newAggExprs = mergeAggExprs(cols, measures.toSet, aggExprs,
      groups.map(g => (g.spellings, g.out: Attribute))).getOrElse(return None)
    val overCap = grid.exists(g => interior.keys.size.toLong *
      interiors.map { case (a, b) => cellCount(g, a, b, maxFoldRows) }.sum >
      maxFoldRows)
    val entries: () => Iterator[CondEntry] =
      if (overCap) interior.entries(interiors, grid.get).getOrElse(return None)
      else {
        val cells = interior.keys.iterator.flatMap { key =>
          interiors.iterator.flatMap { case (a, b) =>
            grid.fold(Iterator.single((a, b)))(g => g.starts(a, b).map(s0 =>
              (math.max(a, s0), math.min(b, g.end(s0)))))
              .map { case (x, y) => (key, x, interior.query(key, x, y)) }
              .filter(_._3(measures.head).rows > 0L)
          }
        }.toList
        () => cells.iterator
      }
    val groupOf = (key: Any, slotMs: Long) => groups.map(_.interior(key, slotMs))
    val shiftOf: (Any, String) => Double =
      if (perGroup) condShifts(entries(), measures, Nil,
        (k, s) => Iterator.single(groupOf(k, s)), perGroup = true).get
      else (_, c) => cols.shiftOf(c)
    var conditioned = true
    val rows = entries().map { case (key, slotMs, alls) =>
      if (needCond && !perGroup && !alls.forall { case (c, al) =>
        al.varWellConditionedAround(cols.shiftOf(c)) }) conditioned = false
      val g = groupOf(key, slotMs)
      InternalRow.fromSeq(g ++ cols.partialsRowShifted(
        alls, alls(measures.head).rows, c => shiftOf(g, c)))
    }.toList
    if (!conditioned) { foldBailNote = IllCondNote; return None }
    val interiorRel = LocalRelation(groups.map(_.out) ++ cols.partialAttrs, rows)
    val child = parts.fold(interiorRel: LogicalPlan)(p => Union(Seq(interiorRel,
      Project(groups.zip(edgeGroups).map { case (g, e) =>
        Alias(e, g.out.name)(): NamedExpression } ++ p.edgePartials,
        p.edgeFilter))))
    Some(Aggregate(groups.map(_.out), newAggExprs, child))
  }

  /** A residue hybrid's interior: its measures, its keys (one null key
    * on an unkeyed index), one key's partials over a minute-aligned ms
    * span, the retained core of such a span (the keyed index has no
    * retention, so its core is the span), and the above-cap feed of
    * (key, slot ms, partials) entries over disjoint ms ranges, each
    * inside one grid cell, as a fresh iterator per call — None, note
    * pinned, when none conforms. */
  private final case class ResidueInterior(measures: Seq[String],
      keys: Seq[Any],
      query: (Any, Long, Long) => Map[String, AllAggregate],
      core: (Long, Long) => Option[(Long, Long)],
      entries: (Seq[(Long, Long)], SlotGrid) => Option[() => Iterator[CondEntry]])

  private def residueInterior(wheels: Map[String, WheelIndex]): ResidueInterior = {
    val head = wheels.keys.head
    ResidueInterior(wheels.keys.toSeq, Seq(null),
      (_, a, b) => wheels.map { case (c, i) => c -> i.query(a, b) },
      (a, b) => retainedCoreMs(wheels, a, b),
      // minutes when complete, the retained-tier cover under KeepN
      (ranges, grid) => interiorEntries(wheels, head, ranges, grid).map(feed =>
        () => feed().map { case (tier, slotMs, anyAll) =>
          (null: Any, slotMs, wheels.map {
            case (c, _) if c == head => c -> anyAll
            case (c, i) => c -> i.stateAt(tier, slotMs)
          })
        }))
  }

  private def keyedResidueInterior(
      wheels: Map[String, graft.wheel.KeyedWheelIndex]): ResidueInterior =
    ResidueInterior(wheels.keys.toSeq, wheels.head._2.keys,
      (key, a, b) => wheels.map { case (c, i) => c -> i.query(key, a, b) },
      (a, b) => Some((a, b)),
      (ranges, _) => Some(() => keyedCondInterior(wheels).entries(ranges)))

  /** GROUPED conditional hybrid (round 17, VERDICT r16 #1): `GROUP BY
    * time-cell` + per-aggregate range conditions, past the plan-time
    * cell ceiling AND/OR with sub-minute edges on the outer WHERE or any
    * per-aggregate condition — the year-of-days × per-window-aggregate
    * retention dashboard. [[condHybrid]] grouped per grid cell: minute
    * granularity keeps each aggregate's range clipping expressible as a
    * FILTER over `__graft_slot`, and an executor-side Aggregate serves
    * ANY cell count. Takes ANY merged outer range set, so single-range
    * and OR-of-ranges outers both land here. */
  private def foldGroupedConditionalResidue(groupKey: Expression,
      gExpr: Expression, grid: SlotGrid, aggExprs: Seq[NamedExpression],
      child: LogicalPlan, below: LogicalPlan, tsCol: String,
      wheels: Map[String, WheelIndex], outersUs: Seq[(Long, Long)],
      sketchOpt: Option[WheelAcceleration.SketchReg]): Option[LogicalPlan] =
    condHybrid("grouped conditional hybrid", aggExprs, below, tsCol,
      condInterior(wheels), outersUs,
      Seq(cellGroup(grid, gExpr, Seq(groupKey, gExpr), child, below)),
      condSketchOf(sketchOpt))

  /** GROUP BY time-slot over a registered source — answered from the
    * index as one [[LocalRelation]] row per non-empty slot (time-bounded
    * cardinality), the grouped analogue of the ungrouped fast path. The
    * single grouping expression must be `(tsMs div w) * w` with `w` a
    * positive multiple of the finest tier; any filter must be exactly
    * the half-open range shape (no filter = the index's full span).
    * Partial edge slots (range not aligned to `w`) combine clipped
    * minute runs, so results match the scan bit-for-bit. */
  private def rewriteGrouped(
      agg: Aggregate,
      groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = groupings.size match {
    case 1 => rewriteSlotGrouped(agg, groupings.head, aggExprs, child)
      .orElse(rewriteSlidingWindow(agg, groupings.head, aggExprs, child))
      // GROUP BY bare KEY (no time bucketing) — the cohort-comparison
      // pivot, per-aggregate ranges answered from the keyed wheels
      .orElse(rewriteKeyedConditional(agg, groupings.head, aggExprs, child))
    case 2 => rewriteKeyedGrouped(agg, groupings, aggExprs, child)
      .orElse(rewriteKeyedSlidingWindow(agg, groupings, aggExprs, child))
    // N dimension keys + one time-slot grouping (round 13): the
    // composite-keyed registration folds any grouping arity whose
    // non-slot members are exactly its registered key columns
    case n if n >= 3 => rewriteCompositeKeyed(agg, groupings, aggExprs, child)
    case _ => None
  }

  /** SLIDING-window SQL fold (round 10, VERDICT r9 #1):
    * `GROUP BY window(ts, size, slide)` with slide < size. The
    * TimeWindowing analyzer rule expands each row into its
    * size/slide overlapping windows via an [[Expand]] — one projection
    * per overlap `i`, each emitting
    *
    * {{{ named_struct('start', ptc((t − floorMod(t − startTime, slide))
    *                               − i·slide),
    *                  'end',   ptc(… + size)) }}}
    *
    * (no membership filter when slide divides size — the projections
    * are exact). Every projection is verified structurally: same
    * (slide, startTime, size) across all, offsets exactly
    * {0, slide, …, size−slide}, the ts inside is the registered
    * column, and size/slide/startTime are whole minutes. The whole
    * Aggregate+Expand subtree then folds to one [[LocalRelation]] row
    * per non-empty window — the O(windows) walk
    * [[WheelIndex.slidingSeries]] proves via the API path, behind the
    * unchanged SQL spelling. A window's contribution clips to the
    * pushed `[a, b)` range exactly as the scan's pre-Expand filter
    * does; sub-minute range edges go HYBRID through
    * [[slidingResidue]] (an edge row belongs to MULTIPLE windows, so
    * the edge leg re-enumerates them through the original Expand).
    * Bails (keeping the scan) on a non-divisible slide (a membership
    * Filter sits above the Expand — its semantics are not this
    * enumeration) or any unsupported aggregate. */
  private def rewriteSlidingWindow(
      agg: Aggregate, groupKey: Expression, aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val winAttr = groupKey match {
      case a: AttributeReference if a.dataType.isInstanceOf[StructType] => a
      case _ => return None
    }
    for {
      (expand, membership) <- findExpand(child)
      path <- sourcePath(expand.child)
      WheelAcceleration.SumReg(tsCol, wheels, _, _) <- WheelAcceleration.lookup(path)(_.sum)
      sketch = WheelAcceleration.lookup(path)(_.sketch).filter(_.tsCol == tsCol)
      if membership.forall(f => isMembershipFilter(f.condition, winAttr, expand, tsCol))
      (slideMs, offMs, sizeMs) <- slidingGridOf(expand, winAttr, tsCol,
        membership.nonEmpty)
      // the outer WHERE: a single range (ordinary path) — or an
      // OR-of-ranges disjunction (round 17, the sliding x OR matrix
      // cell), which routes to the conditional hybrid whatever the
      // aggregates are (its CondResidue span filters serve plain
      // aggregates over multi-range outers too)
      bounds <- findFilter(expand.child) match {
        case Some((cond, _)) =>
          rangeMs(cond, tsCol).map(scala.Left(_)).orElse(
            orRangesUs(cond, tsCol).map(rs => scala.Right(mergeRanges(rs))))
        case None => Some(scala.Left((None, None)))
      }
      any = wheels.valuesIterator.next()
      (aOpt, bOpt) = bounds match {
        case scala.Left(r) => r
        case scala.Right(rs) =>
          (Some(rs.head._1 / 1000L), Some(rs.last._2 / 1000L))
      }
      a = aOpt.getOrElse(any.baseMs)
      b = bOpt.getOrElse(any.horizonMs)
      if a < b
      hasCond = hasConditional(aggExprs)
      // a per-aggregate condition with sub-minute µs bounds — the
      // regime the per-window plan-time fold cannot clip (round 17:
      // routes to the sliding conditional hybrid's sliver leg)
      subMinuteCond = subMinuteAggCond(aggExprs, tsCol)
      result <-
        if (bounds.isRight)
          bail(path, foldNote("sliding OR-of-ranges outer not foldable " +
            "hybrid"))(
            slidingCondResidue(agg, winAttr, expand, membership, aggExprs,
              tsCol, wheels, slideMs, offMs, sizeMs,
              bounds.toOption.get, sketch))
        else
        // same plan-time ceiling as the grouped folds: each window is a
        // tier-walk query inside the optimizer. Past it (round 11,
        // VERDICT r10 #3) the ALIGNED shape goes DISTRIBUTED — minute
        // partials re-expanded through the original Expand on executors
        // — and the UNALIGNED shape goes hybrid-distributed (late round
        // 11: the same minute-partials Expand as the interior leg of
        // the edge union), so no sliding shape keeps the scan for a
        // registered range anymore. CONDITIONAL aggregates above the
        // cap, or with sub-minute edges anywhere, take the sliding
        // conditional hybrid (round 17) — the family's sliver leg.
        if ((b - a) / slideMs + sizeMs / slideMs > maxFoldRows) {
          if (hasCond)
            bail(path, foldNote("above-cap sliding conditional not " +
              "foldable hybrid"))(
              slidingCondResidue(agg, winAttr, expand, membership, aggExprs,
                tsCol, wheels, slideMs, offMs, sizeMs,
                Seq((a * 1000L, b * 1000L)), sketch))
          else if (a % MinuteMs == 0 && b % MinuteMs == 0)
            bail(path, foldNote("sliding shape not foldable distributed"))(
              distributedSliding(Seq(groupKey), winAttr, expand, membership,
                aggExprs, wheels, None, a, b)
                .orElse(slidingSketchFallback(agg, winAttr, expand,
                  membership, aggExprs, tsCol, wheels, slideMs, offMs,
                  sizeMs, a, b, sketch)))
          else
            bail(path, foldNote("above-cap sliding with sub-minute edges " +
              "not foldable hybrid-distributed"))(
              slidingResidue(agg, winAttr, expand, membership, aggExprs,
                tsCol, wheels, slideMs, offMs, sizeMs, a, b, None,
                aboveCap = true)
                .orElse(slidingSketchFallback(agg, winAttr, expand,
                  membership, aggExprs, tsCol, wheels, slideMs, offMs,
                  sizeMs, a, b, sketch)))
        } else if (hasCond &&
            (subMinuteCond || a % MinuteMs != 0 || b % MinuteMs != 0))
          // sub-minute edges (per-aggregate or outer) with conditional
          // aggregates: the sliding conditional hybrid (round 17 — was
          // the pinned "sliding windows have no sliver leg" refusal)
          bail(path, foldNote("sliding conditional with sub-minute edges " +
            "not foldable hybrid"))(
            slidingCondResidue(agg, winAttr, expand, membership, aggExprs,
              tsCol, wheels, slideMs, offMs, sizeMs,
              Seq((a * 1000L, b * 1000L)), sketch))
        else if (a % MinuteMs == 0 && b % MinuteMs == 0)
          bail(path, foldNote("sliding shape not foldable")) {
          foldBailNote = ""
          val winType = winAttr.dataType.asInstanceOf[StructType]
          // per-aggregate conditional windows under a SLIDING grouping
          // (round 17): each window folds through the conditional row
          // with the window∩outer as its outer range — same contract
          // as the round-16 per-cell grouped conditional (minute-
          // aligned per-aggregate ranges; ELSE-0 from the window's own
          // row count)
          val out = Seq.newBuilder[InternalRow]
          var ok = true
          val it = slidingStarts(a, b, slideMs, offMs, sizeMs)
          while (ok && it.hasNext) {
            val ws = it.next()
            val alls = wheels.map { case (c, i) =>
              c -> i.query(math.max(a, ws), math.min(b, ws + sizeMs)) }
            if (alls.valuesIterator.next().rows > 0L) {
              val subst = Seq((Seq(winAttr: Expression),
                Literal(InternalRow(ws * 1000L, (ws + sizeMs) * 1000L), winType)))
              val folded =
                if (hasCond)
                  foldConditionalRow(aggExprs, path, tsCol, wheels,
                    Seq((math.max(a, ws) * 1000L,
                      math.min(b, ws + sizeMs) * 1000L)),
                    MinuteMs * 1000L, groupSubst = subst)
                else foldRow(aggExprs, alls, subst,
                  sketch, (math.max(a, ws), math.min(b, ws + sizeMs)))
              folded match {
                case Some(vals) => out += InternalRow.fromSeq(vals)
                case None => ok = false
              }
            }
          }
          if (ok) Some(LocalRelation(agg.output, out.result())) else None
        } else slidingResidue(agg, winAttr, expand, membership, aggExprs,
          tsCol, wheels, slideMs, offMs, sizeMs, a, b, None)
          .orElse(slidingSketchFallback(agg, winAttr, expand, membership,
            aggExprs, tsCol, wheels, slideMs, offMs, sizeMs, a, b, sketch))
    } yield result
  }

  /** Round 17: a PLAIN approximate spelling (no conditional) refused
    * the numeric sliding path — ride the sliding conditional hybrid,
    * whose [[CondResidue]] seam serves sketch functions (per-minute
    * bytes through the Expand, raw edge updates). */
  private def slidingSketchFallback(
      agg: Aggregate, winAttr: AttributeReference, expand: Expand,
      membership: Option[Filter], aggExprs: Seq[NamedExpression],
      tsCol: String, wheels: Map[String, WheelIndex],
      slideMs: Long, offMs: Long, sizeMs: Long, aMs: Long, bMs: Long,
      sketchOpt: Option[WheelAcceleration.SketchReg]): Option[LogicalPlan] =
    if (hasSketchAgg(aggExprs) && sketchOpt.nonEmpty) {
      foldBailNote = ""
      slidingCondResidue(agg, winAttr, expand, membership, aggExprs,
        tsCol, wheels, slideMs, offMs, sizeMs,
        Seq((aMs * 1000L, bMs * 1000L)), sketchOpt)
    } else None

  /** KEYED sliding fold: `GROUP BY key, window(ts, size, slide)` over a
    * source with a registered keyed index — the keyed spelling of
    * [[rewriteSlidingWindow]], one row per (key, non-empty window). */
  private def rewriteKeyedSlidingWindow(
      agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val winAttrOpt = groupings.collectFirst {
      case a: AttributeReference if a.dataType.isInstanceOf[StructType] => a
    }
    for {
      winAttr <- winAttrOpt
      (expand, membership) <- findExpand(child)
      path <- sourcePath(expand.child)
      reg <- WheelAcceleration.lookup(path)(_.keyed)
      keyAttr <- groupings.collectFirst {
        case a: AttributeReference if a.name == reg.keyCol => a
      }
      if groupings.size == 2 && !(winAttr eq keyAttr)
      if membership.forall(f => isMembershipFilter(f.condition, winAttr, expand, reg.tsCol))
      (slideMs, offMs, sizeMs) <- slidingGridOf(expand, winAttr, reg.tsCol,
        membership.nonEmpty)
      // single range or OR-of-ranges (round 17: the keyed sliding x OR
      // cell routes to the keyed conditional hybrid below)
      bounds <- findFilter(expand.child) match {
        case Some((cond, _)) =>
          rangeMs(cond, reg.tsCol).map(scala.Left(_)).orElse(
            orRangesUs(cond, reg.tsCol).map(rs => scala.Right(mergeRanges(rs))))
        case None => Some(scala.Left((None, None)))
      }
      (aOpt, bOpt) = bounds match {
        case scala.Left(r) => r
        case scala.Right(rs) =>
          (Some(rs.head._1 / 1000L), Some(rs.last._2 / 1000L))
      }
      a = aOpt.getOrElse(reg.any.baseMs)
      b = bOpt.getOrElse(reg.any.horizonMs)
      if a < b
      hasCond = hasConditional(aggExprs)
      keyedSkOpt = WheelAcceleration.lookup(path)(_.keyedSketch)
        .filter(r => r.tsCol == reg.tsCol && r.keyCol == reg.keyCol)
      result <-
        // CONDITIONAL aggregates take the KEYED sliding conditional
        // hybrid in EVERY regime (round 17 — the plan-time per-(key,
        // window) fold refuses FILTER/CASE): interior (key, minute)
        // state + one bounded sliver scan, per-aggregate span filters,
        // a real executor Aggregate per (key, window) — so the cap is
        // irrelevant and sub-minute edges are the edge leg's job.
        // OR-of-ranges outers ride the same hybrid whatever the
        // aggregates are.
        if (hasCond || bounds.isRight)
          bail(path, foldNote("keyed sliding conditional/OR not foldable " +
            "hybrid"))(
            slidingCondResidue(agg, winAttr, expand, membership, aggExprs,
              reg.tsCol, Map.empty, slideMs, offMs, sizeMs,
              bounds.fold(_ => Seq((a * 1000L, b * 1000L)), identity), None,
              keyed = Some((keyAttr, reg)), keyedSk = keyedSkOpt))
        // |keys| x windows plan-time cap; past it the aligned shape
        // ships (key, minute) partials through the original Expand on
        // executors (round 11), and the unaligned shape goes
        // hybrid-distributed (late round 11) — neither keeps the scan
        else if (reg.any.keys.size.toLong * ((b - a) / slideMs + sizeMs / slideMs) > maxFoldRows) {
          if (a % MinuteMs == 0 && b % MinuteMs == 0)
            distributedSliding(groupings, winAttr, expand, membership,
              aggExprs, Map.empty, Some((keyAttr, reg)), a, b)
              .orElse(keyedSlidingSketchFallback(agg, winAttr, expand,
                membership, aggExprs, reg, slideMs, offMs, sizeMs, a, b,
                keyAttr, keyedSkOpt))
          else slidingResidue(agg, winAttr, expand, membership, aggExprs,
            reg.tsCol, Map.empty, slideMs, offMs, sizeMs, a, b,
            Some((keyAttr, reg)), aboveCap = true)
            .orElse(keyedSlidingSketchFallback(agg, winAttr, expand,
              membership, aggExprs, reg, slideMs, offMs, sizeMs, a, b,
              keyAttr, keyedSkOpt))
        } else if (a % MinuteMs == 0 && b % MinuteMs == 0) {
          val winType = winAttr.dataType.asInstanceOf[StructType]
          // per-key sketch views (late round 11): keyed approx
          // spellings fold per (key, window) through the same gate as
          // the unkeyed path
          val keyedSk = WheelAcceleration.lookup(path)(_.keyedSketch)
            .filter(r => r.tsCol == reg.tsCol && r.keyCol == reg.keyCol)
          val out = Seq.newBuilder[InternalRow]
          var ok = true
          reg.any.keys.foreach { key =>
            val keyLit = Literal.create(key, reg.any.keyType)
            val skView = keyedSk.map(_.viewFor(key))
            val it = slidingStarts(a, b, slideMs, offMs, sizeMs)
            while (ok && it.hasNext) {
              val ws = it.next()
              val alls = reg.wheels.map { case (c, i) =>
                c -> i.query(key, math.max(a, ws), math.min(b, ws + sizeMs)) }
              if (alls.valuesIterator.next().rows > 0L) {
                foldRow(aggExprs, alls, Seq(
                  (Seq(keyAttr), keyLit),
                  (Seq(winAttr),
                    Literal(InternalRow(ws * 1000L, (ws + sizeMs) * 1000L), winType))),
                  skView, (math.max(a, ws), math.min(b, ws + sizeMs))) match {
                  case Some(vals) => out += InternalRow.fromSeq(vals)
                  case None => ok = false
                }
              }
            }
          }
          if (ok) Some(LocalRelation(agg.output, out.result())) else None
        } else slidingResidue(agg, winAttr, expand, membership, aggExprs,
          reg.tsCol, Map.empty, slideMs, offMs, sizeMs, a, b,
          Some((keyAttr, reg)))
          .orElse(keyedSlidingSketchFallback(agg, winAttr, expand,
            membership, aggExprs, reg, slideMs, offMs, sizeMs, a, b,
            keyAttr, keyedSkOpt))
    } yield result
  }

  /** Round 17, keyed twin of [[slidingSketchFallback]]: a PLAIN keyed
    * approximate sliding spelling refused the numeric path — ride the
    * keyed sliding conditional hybrid's sketch seam (per-(key, minute)
    * bytes through the Expand, raw edge updates). */
  private def keyedSlidingSketchFallback(
      agg: Aggregate, winAttr: AttributeReference, expand: Expand,
      membership: Option[Filter], aggExprs: Seq[NamedExpression],
      reg: WheelAcceleration.KeyedReg,
      slideMs: Long, offMs: Long, sizeMs: Long, aMs: Long, bMs: Long,
      keyAttr: AttributeReference,
      keyedSk: Option[WheelAcceleration.KeyedSketchReg]): Option[LogicalPlan] =
    if (hasSketchAgg(aggExprs) && keyedSk.nonEmpty) {
      foldBailNote = ""
      slidingCondResidue(agg, winAttr, expand, membership, aggExprs,
        reg.tsCol, Map.empty, slideMs, offMs, sizeMs,
        Seq((aMs * 1000L, bMs * 1000L)), None,
        keyed = Some((keyAttr, reg)), keyedSk = keyedSk)
    } else None

  /** Sliding HYBRID residue (round 10): sub-minute range edges for the
    * sliding folds. The whole-minute interior folds per window from the
    * (keyed) index; the sub-minute edge rows go through the ORIGINAL
    * Expand re-rooted onto a bounded two-edge scan — each edge row
    * re-enumerates exactly the windows the scan would have given it —
    * and the final merge-form group-by combines both legs per
    * (key, window). Windows touching only the edges materialize from
    * the edge leg alone. `aboveCap = true` (late round 11) swaps the
    * per-window plan-time interior for the [[distributedSliding]]
    * machinery — minute partials re-expanded through the original
    * Expand on executors — so above-cap statements with sub-minute
    * edges stay scan-free too (the last sliding shape that used to
    * keep the scan). Measures are restricted to those the Expand
    * still carries (column pruning may have dropped unused ones). */
  private def slidingResidue(
      agg: Aggregate, winAttr: AttributeReference, expand: Expand,
      membership: Option[Filter],
      aggExprs: Seq[NamedExpression], tsCol: String,
      wheels: Map[String, WheelIndex], slideMs: Long, offMs: Long,
      sizeMs: Long, a: Long, b: Long,
      keyed: Option[(AttributeReference, WheelAcceleration.KeyedReg)],
      aboveCap: Boolean = false): Option[LogicalPlan] = {
    val aCeil = Math.floorDiv(a + MinuteMs - 1, MinuteMs) * MinuteMs
    val bFloor = Math.floorDiv(b, MinuteMs) * MinuteMs
    if (aCeil >= bFloor) return None
    // root the edge window BELOW the pushed range filter (on the raw
    // column, before any reading-pipeline cast projection), so its
    // bounds are pushed to the parquet reader (which still reads every
    // row group it cannot skip — all of them on a TIMESTAMP_NTZ ts) —
    // the same depth the grouped residues use; the chain between the
    // Expand and that point (range filter, cast projections) is
    // preserved above it
    val innerBelow = findFilter(expand.child).map(_._2).getOrElse(expand.child)
    val allMeasures = keyed.map(_._2.wheels.keys.toSeq).getOrElse(wheels.keys.toSeq)
    if (allMeasures.isEmpty) return None
    // the edge leg projects partials over the Expand's output — only
    // measures that survived column pruning are referencable there.
    // An EMPTY list is fine (late round 11): a COUNT(*)-only statement
    // prunes every measure out of the Expand, and the rows-only
    // partials layout still answers it (any measure-referencing
    // aggregate would bail in mergeAggExprs anyway)
    val measures = allMeasures.filter(c => expand.output.exists(_.name == c))
    val needCond = hasSecondMoment(aggExprs)
    val shifts = shiftsFor(needCond, measures,
      c => keyed match {
        case Some((_, reg)) => keyedRangeAll(reg, c, aCeil, bFloor)
        case None => wheels(c).query(aCeil, bFloor)
      })
    for {
      // the sliding family stays ms-domain; residueParts takes µs
      parts <- residueParts(innerBelow, tsCol, measures,
        Seq((a * 1000L, aCeil * 1000L), (bFloor * 1000L, b * 1000L)), shifts)
      slotAttr = AttributeReference(
        "__graft_slot", winAttr.dataType, nullable = winAttr.nullable)()
      keyOut = keyed.map { case (kA, reg) =>
        AttributeReference("__graft_key", reg.any.keyType,
          nullable = kA.nullable)()
      }
      subst = keyed.map(k =>
        Seq((Seq[Expression](k._1), keyOut.get.asInstanceOf[Attribute]))).getOrElse(Seq.empty) ++
        Seq((Seq[Expression](winAttr), slotAttr.asInstanceOf[Attribute]))
      newAggExprs <- mergeAggExprs(parts.cols, measures.toSet, aggExprs, subst)
      plan <- {
      var conditioned = true
      def check(alls: collection.Map[String, AllAggregate]): Unit =
        if (needCond && !alls.forall { case (c, al) =>
          al.varWellConditionedAround(parts.cols.shiftOf(c)) })
          conditioned = false
      def slotVal(ws: Long) = InternalRow(ws * 1000L, (ws + sizeMs) * 1000L)
      // interior leg: below the cap, one plan-time partials row per
      // non-empty window; ABOVE the cap (round 11, closing the last
      // sliding scan-keeper) the whole-minute interior ships as minute
      // state re-expanded through the ORIGINAL Expand on executors —
      // the distributedSliding machinery under the hybrid union, with
      // the leg's output re-aliased to the union's slot/key attributes
      val interiorOpt: Option[LogicalPlan] = if (aboveCap) {
        if (keyed.isEmpty && !wheels.valuesIterator.forall(_.minuteTierComplete))
          None
        else {
          val winIdx = expand.output.indexWhere(_.exprId == winAttr.exprId)
          val tsAttrOpt =
            if (winIdx < 0) None
            else expand.projections.head(winIdx).references.toSeq match {
              case Seq(t: AttributeReference)
                  if t.dataType == TimestampType ||
                    t.dataType == TimestampNTZType => Some(t)
              case _ => None
            }
          tsAttrOpt.map { tsAttr =>
            val rows = Seq.newBuilder[InternalRow]
            keyed match {
              case None =>
                val anyIdx = wheels(allMeasures.head)
                anyIdx.minuteEntries(aCeil, bFloor).foreach { case (slotMs, anyAll) =>
                  val alls = measures.map {
                    case c if c == allMeasures.head => c -> anyAll
                    case c => c -> wheels(c).minuteAt(slotMs)
                  }.toMap
                  check(alls)
                  rows += InternalRow.fromSeq(
                    (slotMs * 1000L) +: parts.cols.partialsRow(alls, anyAll.rows))
                }
              case Some((_, reg)) =>
                val keyVals = new java.util.HashMap[Any, Any]()
                val anyIdx = reg.any
                val anyMeasure = reg.wheels.find(_._2 eq anyIdx).get._1
                anyIdx.minuteEntries(aCeil, bFloor).foreach { case (key, slotMs, anyAll) =>
                  val kv = keyVals.computeIfAbsent(key,
                    k => Literal.create(k, anyIdx.keyType).value)
                  // only the PRUNED measures (the shift map and the
                  // shipped partials cover exactly those)
                  val alls = measures.map {
                    case c if c == anyMeasure => c -> anyAll
                    case c => c -> reg.wheels(c).minuteAt(key, slotMs)
                  }.toMap
                  check(alls)
                  rows += InternalRow.fromSeq(
                    (slotMs * 1000L) +: kv +: parts.cols.partialsRow(alls, anyAll.rows))
                }
            }
            // ts keeps the ORIGINAL exprId so the window projections
            // (which reference it) re-root verbatim, as in
            // distributedSliding; the key likewise re-exposes the
            // grouping attribute the membership-free projections ignore
            val passThrough = tsAttr +: (keyed.map(_._1).toSeq ++ parts.cols.partialAttrs)
            val relation = LocalRelation(passThrough, rows.result())
            // round 18: one Generate instead of the n-projection Expand
            val top: LogicalPlan = enumerateWindows(
              expand.projections.map(p => passThrough :+ p(winIdx)),
              passThrough :+ winAttr, passThrough.length, relation, membership)
            // re-alias onto the union's output ids: the final Aggregate
            // groups by slotAttr/keyOut and reads parts.cols attributes
            // from the FIRST union child — this leg
            Project(
              keyed.map { case (kA, _) =>
                Alias(kA, "__graft_key")(exprId = keyOut.get.exprId) }.toSeq ++
                (Alias(winAttr, "__graft_slot")(exprId = slotAttr.exprId) +:
                  parts.cols.partialAttrs),
              top)
          }
        }
      } else {
        val rows = Seq.newBuilder[InternalRow]
        keyed match {
          case None =>
            val it = slidingStarts(aCeil, bFloor, slideMs, offMs, sizeMs)
            while (it.hasNext) {
              val ws = it.next()
              val lo = math.max(aCeil, ws)
              val hi = math.min(bFloor, ws + sizeMs)
              // anyAll from the REGISTERED measure set: `measures` may
              // be empty for a COUNT(*)-only statement (rows-only fold)
              val anyAll = wheels(allMeasures.head).query(lo, hi)
              val alls = measures.map(c => c ->
                (if (c == allMeasures.head) anyAll else wheels(c).query(lo, hi))).toMap
              if (anyAll.rows > 0L) {
                check(alls)
                rows += InternalRow.fromSeq(
                  slotVal(ws) +: parts.partialsRow(alls, anyAll.rows))
              }
            }
          case Some((_, reg)) =>
            reg.any.keys.foreach { key =>
              val kv = Literal.create(key, reg.any.keyType).value
              val it = slidingStarts(aCeil, bFloor, slideMs, offMs, sizeMs)
              while (it.hasNext) {
                val ws = it.next()
                val lo = math.max(aCeil, ws)
                val hi = math.min(bFloor, ws + sizeMs)
                val anyAll = reg.wheels(allMeasures.head).query(key, lo, hi)
                val alls = measures.map(c => c ->
                  (if (c == allMeasures.head) anyAll
                   else reg.wheels(c).query(key, lo, hi))).toMap
                if (anyAll.rows > 0L) {
                  check(alls)
                  rows += InternalRow.fromSeq(
                    kv +: slotVal(ws) +: parts.partialsRow(alls, anyAll.rows))
                }
              }
            }
        }
        Some(LocalRelation(keyOut.toSeq ++ (slotAttr +: parts.partialAttrs),
          rows.result()))
      }
      if (!conditioned) { foldBailNote = IllCondNote; None } // keep the scan
      else interiorOpt.flatMap { interior =>
      val edgeChild =
        if (innerBelow eq expand.child) parts.edgeFilter
        else expand.child.transformUp {
          case p if p eq innerBelow => parts.edgeFilter
        }
      // non-divisible slides: the membership filter is part of the
      // enumeration semantics — the edge rows re-enumerate through it
      // too (round 18: one Generate instead of the n-projection Expand)
      val edgeTop: LogicalPlan = enumerateWindows(expand.projections,
        expand.output,
        expand.output.indexWhere(_.exprId == winAttr.exprId),
        edgeChild, membership)
      val keyProj = keyed.map { case (kA, _) => Alias(kA, "__graft_key")() }.toSeq
      val edgeLeg = Project(
        keyProj ++ (Alias(winAttr, "__graft_slot")() +: parts.edgePartials),
        edgeTop)
      Some(Aggregate(keyOut.toSeq :+ slotAttr, newAggExprs,
        Union(Seq(interior, edgeLeg))))
      }
      }
    } yield plan
  }

  /** SLIDING conditional hybrid (round 17): per-aggregate range
    * conditions under `GROUP BY window(ts, size, slide)` in the
    * regimes the per-window plan-time fold cannot serve — SUB-MINUTE
    * edges (on the outer WHERE or any per-aggregate condition) and/or
    * ABOVE the plan-time window cap. The sliding family finally gets
    * its sliver leg: BOTH union legs ride the ORIGINAL Expand —
    * interior minutes ship as slot-state partials rows whose synthetic
    * ts (= slot start, original exprId) re-enumerates their windows
    * exactly as [[distributedSliding]] proves, edge rows scan ONE
    * bounded merged-sliver Filter and re-expand through the same
    * projections (membership filter preserved on both legs) — and two
    * DISCRIMINATOR columns (`__graft_mslot` on interior rows,
    * `__graft_ets` on edge rows, each NULL on the other leg) feed the
    * shared [[CondResidue]] per-aggregate span filters, so each
    * aggregate reads its own whole minutes + slivers with SQL's
    * NULL-is-false FILTER semantics keeping the legs disjoint. The
    * whole-minute window grid guarantees a window contains a minute
    * iff it contains the minute's start, so minute-granular
    * enumeration is row-exact (non-divisible slides keep their
    * membership filter). ELSE-0 resolves per window from
    * exactly-counted outer rows; second moments center on the outer
    * interior's global mean and conditioning-gate per (window,
    * aggregate range) off one pre-walk; sketch spellings ride the
    * round-17 residue sketch seam (per-minute bytes through the
    * Expand, raw edge updates). A real executor-side Aggregate groups
    * per window — serves ANY window count, the distributed posture.
    * KEYED spelling (`GROUP BY key, window(...)`, round 17): interior
    * rows carry (key, minute) state from the keyed index, the key
    * rides the Expand untouched on both legs, the gate pre-walk and
    * the final Aggregate group per (key, window). `outersUs` is the
    * outer WHERE as MERGED disjoint µs ranges — a single range for the
    * ordinary spelling, ≥2 for an OR-of-ranges outer (round 17, the
    * sliding × OR matrix cell): interior minutes walk every range,
    * the edge set unions every range's slivers, and a window straddling
    * a gap combines contributions from both sides exactly as the
    * scan's OR filter would. */
  private def slidingCondResidue(
      agg: Aggregate, winAttr: AttributeReference, expand: Expand,
      membership: Option[Filter], aggExprs: Seq[NamedExpression],
      tsCol: String, wheels: Map[String, WheelIndex],
      slideMs: Long, offMs: Long, sizeMs: Long,
      outersUs: Seq[(Long, Long)],
      sketchOpt: Option[WheelAcceleration.SketchReg],
      keyed: Option[(AttributeReference, WheelAcceleration.KeyedReg)] = None,
      keyedSk: Option[WheelAcceleration.KeyedSketchReg] = None): Option[LogicalPlan] = {
    val noun = if (keyed.isEmpty) "sliding conditional hybrid"
      else "keyed sliding conditional hybrid"
    def refuse(msg: String): Option[LogicalPlan] = {
      if (foldBailNote.isEmpty) foldBailNote = msg
      None
    }
    val interior = keyed.fold(condInterior(wheels))(k =>
      keyedCondInterior(k._2.wheels))
    if (!interior.minuteTierComplete)
      return refuse(s"$noun: the minute tier is " +
        "retention-evicted (evicted interiors keep the scan)")
    // whole-minute interior of each outer range (ms; disjoint because
    // the ranges are merged)
    val outerInteriorsMs =
      outersUs.flatMap { case (x, y) => minuteInteriorMs(x, y) }
    val innerBelow = findFilter(expand.child).map(_._2).getOrElse(expand.child)
    val allMeasures = interior.measures
    if (allMeasures.isEmpty) return None
    // only measures the Expand still carries are referencable on the
    // edge leg (column pruning) — same restriction as slidingResidue
    val measures = allMeasures.filter(c => expand.output.exists(_.name == c))
    val winIdx = expand.output.indexWhere(_.exprId == winAttr.exprId)
    if (winIdx < 0) return None
    // the ts attribute the WINDOW PROJECTIONS reference — the reading
    // pipeline may cast between the prunable scan depth and the
    // Expand, so this is NOT necessarily innerBelow's ts attr; the
    // interior relation must re-expose THIS exprId for the projections
    // to re-root verbatim (same derivation as distributedSliding)
    val tsAttrProj = expand.projections.head(winIdx).references.toSeq match {
      case Seq(t: AttributeReference) if t.dataType == TimestampType ||
        t.dataType == TimestampNTZType => t
      case _ => return None
    }
    // every window containing this WHOLE minute (grid is whole-minute,
    // so containment of the start is containment of the minute)
    def windowsOf(slotMs: Long): Iterator[Long] = {
      val wsMax = Math.floorDiv(slotMs - offMs, slideMs) * slideMs + offMs
      Iterator.iterate(wsMax)(_ - slideMs)
        .takeWhile(ws => ws + sizeMs >= slotMs + MinuteMs)
    }
    // shift centers + the per-((key,) window, gate) conditioning check
    val shifts =
      if (!hasSecondMoment(aggExprs)) Map.empty[String, Double]
      else {
        val at = condShifts(interior.entries(outerInteriorsMs), measures,
          varGates(aggExprs, tsCol, allMeasures.toSet, outersUs,
            clippedOnly = false),
          (key, slotMs) => windowsOf(slotMs).map(ws => (key, ws)),
          perGroup = false).getOrElse(return None)
        measures.map(c => c -> at(null, c)).toMap
      }
    val cols = partialColsFor(measures, shifts)
    val mslotAttr = AttributeReference("__graft_mslot", LongType,
      nullable = true)()
    val etsAttr = AttributeReference("__graft_ets", tsAttrProj.dataType,
      nullable = true)()
    val winOut = AttributeReference("__graft_win", winAttr.dataType,
      nullable = winAttr.nullable)()
    val keyOut = keyed.map { case (kA, reg) =>
      AttributeReference("__graft_key", reg.any.keyType,
        nullable = kA.nullable)()
    }
    val sketch =
      if (keyed.isEmpty) condSketchOf(sketchOpt) else keyedCondSketchOf(keyedSk)
    val cr = new CondResidue(noun, tsCol,
      measures.toSet, cols, outersUs, mslotAttr, etsAttr,
      sketchServed = sketch.served,
      rawSrcOk = (colName, integral) =>
        residueRawSrcOk(innerBelow)(colName, integral) &&
          expand.output.exists(_.name == colName))
    val newAggExprs = cr.rewriteAggExprs(aggExprs,
      Seq((Seq[Expression](winAttr), winOut)) ++
        keyed.map(k => (Seq[Expression](k._1), keyOut.get: Attribute))) match {
      case Some(es) => es
      case None => return None
    }
    val skCols = cr.sketchCols
    val skAttrs = skCols.flatMap { case (_, (bAt, rAt)) => Seq(bAt, rAt) }
    // INTERIOR leg: one (synthetic ts = slot start, mslot, partials)
    // row per non-empty minute, re-expanded through the ORIGINAL
    // Expand so each minute lands in exactly its windows. ts keeps the
    // ORIGINAL exprId so the window projections re-root verbatim.
    val keyLits = new java.util.HashMap[Any, Any]()
    def keyLit(key: Any): Any = keyLits.computeIfAbsent(key,
      k => Literal.create(k, keyed.get._2.any.keyType).value)
    // Round 17: the interior leg PRE-ENUMERATES each minute's windows on
    // the driver instead of re-expanding through the ORIGINAL Expand —
    // `windowsOf` is already this path's trusted interior enumeration
    // (the conditional gate pre-walk accumulates through it), and
    // slidingGridOf enforces whole-minute slide/size/offset, under which
    // windowsOf(slot) ≡ Expand + membership Filter on ts = slot start
    // (a minute-aligned window contains the start iff it contains the
    // whole minute). Dropping the 60-projection struct-heavy Expand and
    // the membership Filter from this leg halves the plan's dominant
    // Catalyst/codegen constant (the edge leg still carries the original
    // Expand — raw edge rows must enumerate windows exactly as the scan
    // would). Values are bit-identical: the window struct is the same
    // (start, end) µs pair the Expand projections compute.
    //
    // REGIME-SPLIT (measured both ways at sf0.1): pre-expansion wins
    // while entries × windows stays driver-cheap (unkeyed day-of-minutes
    // × 60 windows = 86k rows: 1.52 → 1.26 s) and LOSES when the keyed
    // interior multiplies it past ~10⁵ (5 keys × 1440 × 60 = 432k rows:
    // building + shipping the LocalRelation costs more than the Expand
    // saved, 1.67 → 1.86 s) — above the bound the original Expand stays,
    // distributing the ×windows work to executors.
    val entries = interior.entries(outerInteriorsMs).toBuffer
    val windowsPerSlot = (sizeMs + slideMs - 1) / slideMs
    val preExpand = entries.length * windowsPerSlot <= PreExpandBound
    val rows = Seq.newBuilder[InternalRow]
    entries.foreach { case (key, slotMs, alls) =>
      val skVals = skCols.flatMap { case ((f, c), _) =>
        Seq(sketch.bytesAt(f, c, key, slotMs), null) }
      val keyVal = keyed.map(_ => keyLit(key)).toSeq
      val entryTail = ((slotMs * 1000L) +: keyVal) ++ (slotMs +: (null +:
        cols.partialsRow(alls, alls(allMeasures.head).rows))) ++ skVals
      if (preExpand) windowsOf(slotMs).foreach { ws =>
        rows += InternalRow.fromSeq(
          InternalRow(ws * 1000L, (ws + sizeMs) * 1000L) +: entryTail)
      } else rows += InternalRow.fromSeq(entryTail)
    }
    val passThrough = (tsAttrProj +: keyed.map(_._1).toSeq) ++
      (mslotAttr +: etsAttr +: (cols.partialAttrs ++ skAttrs))
    val interiorTop: LogicalPlan =
      if (preExpand) LocalRelation(winAttr +: passThrough, rows.result())
      else {
        val interiorRel = LocalRelation(passThrough, rows.result())
        // round 18: one Generate instead of the n-projection Expand
        enumerateWindows(
          expand.projections.map(p => passThrough :+ p(winIdx)),
          passThrough :+ winAttr, passThrough.length, interiorRel,
          membership)
      }
    val interiorLeg = Project(
      (Alias(winAttr, "__graft_win")(exprId = winOut.exprId) +:
        keyed.map { case (kA, _) =>
          Alias(kA, "__graft_key")(exprId = keyOut.get.exprId) }.toSeq) ++
        (mslotAttr +: etsAttr +: (cols.partialAttrs ++ skAttrs):
          Seq[NamedExpression]),
      interiorTop)
    // EDGE leg: the merged slivers of every aggregate's spans plus the
    // outer's own, scanned once at the prunable depth and re-expanded
    // through the ORIGINAL Expand (edge rows enumerate their true
    // windows; membership filter preserved; the key rides the Expand)
    val mergedWins = cr.mergedEdgeWindows(outerSlivers = true)
    val legs: Seq[LogicalPlan] =
      if (mergedWins.isEmpty) Seq(interiorLeg)
      else residueParts(innerBelow, tsCol, measures, mergedWins, shifts) match {
        case None =>
          return refuse(s"$noun: the source is " +
            "missing the typed ts/measure columns an edge scan needs")
        case Some(parts) =>
          val edgeChild =
            if (innerBelow eq expand.child) parts.edgeFilter
            else expand.child.transformUp {
              case pl if pl eq innerBelow => parts.edgeFilter
            }
          // the ts must survive above the Expand for the sliver
          // filters — append it as a passthrough when pruned away
          // (tsAttrProj is produced by the expand.child chain, so the
          // appended projection element is always resolvable)
          val tsInExpand = expand.output.exists(_.exprId == tsAttrProj.exprId)
          // round 18: one Generate instead of the n-projection Expand
          val (eProjs, eOut) =
            if (tsInExpand) (expand.projections, expand.output)
            else (expand.projections.map(_ :+ (tsAttrProj: Expression)),
              expand.output :+ tsAttrProj)
          val edgeTop: LogicalPlan = enumerateWindows(eProjs, eOut,
            eOut.indexWhere(_.exprId == winAttr.exprId), edgeChild,
            membership)
          val edgeLeg = Project(
            ((Alias(winAttr, "__graft_win")() +:
              keyed.map { case (kA, _) =>
                Alias(kA, "__graft_key")() }.toSeq) ++
              (Alias(Literal(null, LongType), "__graft_mslot")() +:
                Alias(tsAttrProj, "__graft_ets")() +:
                parts.edgePartials)) ++ sketchEdgeAliases(edgeTop, skCols),
            edgeTop)
          Seq(interiorLeg, edgeLeg)
      }
    val child2: LogicalPlan =
      if (legs.size == 1) legs.head else Union(legs)
    Some(Aggregate(winOut +: keyOut.toSeq, newAggExprs, child2))
  }

  /** ABOVE-CAP distributed fallback for the SLIDING folds (round 11,
    * VERDICT r10 #3): a year-of-minutes sliding statement is exactly
    * where the scan is most expensive, so past the plan-time window cap
    * the rewrite no longer keeps the scan. Instead the index's minute
    * STATE in `[a, b)` (bounded by the build ceiling, O(1) per entry)
    * ships as a LocalRelation of (ts = slot start, [key,] partials)
    * rows, and the ORIGINAL Expand is re-rooted over it — its window
    * projections reference the ts attribute by exprId, which the
    * partials relation re-exposes, so each minute partial re-enumerates
    * its candidate windows EXACTLY as the raw rows would have
    * (membership filter preserved for non-divisible slides; whole-
    * minute windows contain a minute iff they contain its start, so
    * minute-granular enumeration is row-exact). A merge-form
    * [[Aggregate]] over the original (key,) window groupings then
    * combines the partials on executors — scan-free, with the heavy
    * per-window work on the cluster instead of the optimizer thread;
    * the machinery proven on the hybrid edge legs ([[slidingResidue]])
    * and the above-cap grouped folds ([[residueHybrid]]). Bails (None →
    * scan) on a retention-evicted minute tier, a non-timestamp ts, or
    * an aggregate with no merge form. ALIGNED ranges only — sub-minute
    * edges above the cap take [[slidingResidue]]'s `aboveCap` variant
    * (the same minute-partials Expand as the interior leg of the edge
    * union). */
  private def distributedSliding(
      groupings: Seq[Expression], winAttr: AttributeReference,
      expand: Expand, membership: Option[Filter],
      aggExprs: Seq[NamedExpression], wheels: Map[String, WheelIndex],
      keyed: Option[(AttributeReference, WheelAcceleration.KeyedReg)],
      a: Long, b: Long): Option[LogicalPlan] = {
    if (keyed.isEmpty && !wheels.valuesIterator.forall(_.minuteTierComplete))
      return None
    val winIdx = expand.output.indexWhere(_.exprId == winAttr.exprId)
    if (winIdx < 0) return None
    // the window-struct projections reference exactly the ts attribute
    // (slidingGridOf verified the structure); re-expose it with the
    // SAME exprId so the projections re-root verbatim
    val winRefs = expand.projections.head(winIdx).references
    if (winRefs.size != 1) return None
    val tsAttr = winRefs.head match {
      case t: AttributeReference
          if t.dataType == TimestampType || t.dataType == TimestampNTZType => t
      case _ => return None
    }
    val measures = keyed.map(_._2.wheels.keys.toSeq).getOrElse(wheels.keys.toSeq)
    val needCond = hasSecondMoment(aggExprs)
    val shifts = shiftsFor(needCond, measures,
      c => keyed match {
        case Some((_, reg)) => keyedRangeAll(reg, c, a, b)
        case None => wheels(c).query(a, b)
      })
    val cols = partialColsFor(measures, shifts)
    val keyAttr = keyed.map(_._1)
    val subst = groupings.collect {
      case at: Attribute => (Seq[Expression](at), at)
    }
    mergeAggExprs(cols, measures.toSet, aggExprs, subst).flatMap { newAggExprs =>
      var conditioned = true
      def check(alls: collection.Map[String, AllAggregate]): Unit =
        if (needCond && !alls.forall { case (c, al) =>
          al.varWellConditionedAround(cols.shiftOf(c)) })
          conditioned = false
      val rows = Seq.newBuilder[InternalRow]
      keyed match {
        case Some((_, reg)) =>
          val anyIdx = reg.any
          val anyMeasure = reg.wheels.find(_._2 eq anyIdx).get._1
          val keyVals = new java.util.HashMap[Any, Any]()
          anyIdx.minuteEntries(a, b).foreach { case (key, slotMs, anyAll) =>
            val kv = keyVals.computeIfAbsent(key,
              k => Literal.create(k, anyIdx.keyType).value)
            val alls = reg.wheels.map {
              case (c, _) if c == anyMeasure => c -> anyAll
              case (c, i) => c -> i.minuteAt(key, slotMs)
            }
            check(alls)
            rows += InternalRow.fromSeq(
              (slotMs * 1000L) +: kv +: cols.partialsRow(alls, anyAll.rows))
          }
        case None =>
          val anyIdx = wheels(measures.head)
          anyIdx.minuteEntries(a, b).foreach { case (slotMs, anyAll) =>
            val alls = measures.map {
              case c if c == measures.head => c -> anyAll
              case c => c -> wheels(c).minuteAt(slotMs)
            }.toMap
            check(alls)
            rows += InternalRow.fromSeq(
              (slotMs * 1000L) +: cols.partialsRow(alls, anyAll.rows))
          }
      }
      if (!conditioned) { foldBailNote = IllCondNote; None } // keep the scan
      else {
        val passThrough = tsAttr +: (keyAttr.toSeq ++ cols.partialAttrs)
        val relation = LocalRelation(passThrough, rows.result())
        // round 18: one Generate instead of the n-projection Expand
        val topChild: LogicalPlan = enumerateWindows(
          expand.projections.map(p => passThrough :+ p(winIdx)),
          passThrough :+ winAttr, passThrough.length, relation, membership)
        Some(Aggregate(groupings, newAggExprs, topChild))
      }
    }
  }

  /** The Expand through projection-only nodes, plus the single Filter
    * above it when present — TimeWindowing emits a window-membership
    * Filter for non-divisible slides (slide ∤ size: the Expand's
    * ceil(size/slide) candidate windows over-enumerate and the filter
    * keeps the containing ones). Callers validate the captured filter
    * with [[isMembershipFilter]]; any other filter shape bails there.
    * Two stacked filters are never the TimeWindowing shape. */
  private def findExpand(p: LogicalPlan): Option[(Expand, Option[Filter])] = p match {
    case e: Expand => Some((e, None))
    case f @ Filter(_, ch) => findExpand(ch) match {
      case Some((e, None)) => Some((e, Some(f)))
      case _ => None
    }
    case Project(_, ch) => findExpand(ch)
    case SubqueryAlias(_, ch) => findExpand(ch)
    case _ => None
  }

  /** True iff `cond` is exactly TimeWindowing's membership predicate
    * for `winAttr`: conjuncts of IsNotNull(win.start/end) plus ONE
    * `ts >= win.start` and ONE `ts < win.end` (either operand order),
    * the ts side the registered column resolved from the Expand's own
    * output and matched by exprId (ADVICE r10: name-only matching would
    * accept a same-named foreign attribute if findExpand were ever
    * widened — the window-field checks were already exprId-exact).
    * Anything else — a user predicate on the window, another column, a
    * transformed ts — is not the enumeration semantics and keeps the
    * scan. */
  private def isMembershipFilter(cond: Expression,
      winAttr: AttributeReference, expand: Expand, tsCol: String): Boolean = {
    val tsAttr = expand.output.collectFirst {
      case a: AttributeReference if a.name == tsCol => a
    } match {
      case Some(a) => a
      case None => return false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def field(e: Expression, ord: Int): Boolean = e match {
      case GetStructField(a: AttributeReference, o, _) =>
        a.exprId == winAttr.exprId && o == ord
      case _ => false
    }
    def ts(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == tsAttr.exprId
      case _ => false
    }
    var ge = 0
    var lt = 0
    val ok = conjuncts(cond).forall {
      case IsNotNull(e) if field(e, 0) || field(e, 1) => true
      case GreaterThanOrEqual(t, sF) if ts(t) && field(sF, 0) => ge += 1; true
      case LessThanOrEqual(sF, t) if ts(t) && field(sF, 0) => ge += 1; true
      case LessThan(t, eF) if ts(t) && field(eF, 1) => lt += 1; true
      case GreaterThan(eF, t) if ts(t) && field(eF, 1) => lt += 1; true
      case _ => false
    }
    ok && ge == 1 && lt == 1
  }

  /** Verify `expand`'s projections are the exact sliding-window
    * enumeration for `winAttr` and return (slideMs, offMs, sizeMs):
    * same (slide, startTime, size) in every projection, one projection
    * per candidate with offsets exactly {0, slide, …}: size/slide
    * projections when slide | size, ceil(size/slide) under the
    * validated membership filter (non-divisible slides — the filter
    * restores exact enumeration, so the same per-window fold applies);
    * whole-minute grid, the registered ts column inside. */
  private def slidingGridOf(expand: Expand, winAttr: AttributeReference,
      tsCol: String, membershipFiltered: Boolean): Option[(Long, Long, Long)] = {
    val idx = expand.output.indexWhere(_.exprId == winAttr.exprId)
    if (idx < 0) return None
    val parsed = expand.projections.map(p => slidingStruct(p(idx), tsCol))
    if (!parsed.forall(_.isDefined)) return None
    val shapes = parsed.flatten
    shapes.map(s => (s._1, s._2, s._4)).distinct match {
      case Seq((slideUs, startUs, sizeUs))
          if sizeUs > 0 && slideUs > 0 &&
            (sizeUs % slideUs == 0 || membershipFiltered) &&
            shapes.size == ((sizeUs + slideUs - 1) / slideUs).toInt &&
            shapes.map(_._3).toSet ==
              (0 until shapes.size).map(_ * slideUs).toSet &&
            slideUs % (MinuteMs * 1000L) == 0 &&
            sizeUs % (MinuteMs * 1000L) == 0 &&
            startUs % (MinuteMs * 1000L) == 0 =>
        val slideMs = slideUs / 1000L
        Some((slideMs, math.floorMod(startUs / 1000L, slideMs), sizeUs / 1000L))
      case _ => None
    }
  }

  /** Round 18: the sliding-window [[Expand]] — one projection per
    * candidate offset k·slide, EACH recomputing the full lastStart
    * window arithmetic twice (start and end) — rebuilt as ONE
    * `Generate(Explode(<offsets literal>))` plus a Project computing
    * the window struct from the generated offset. The window
    * expression is planned/compiled ONCE instead of ceil(size/slide)
    * times, cutting the Catalyst+codegen constant the 60-projection
    * hour/minute grid pays on every edge and interior leg (the
    * residual the round-17 notes parked). Emission is row-for-row
    * identical to the Expand: the generator array holds the SAME
    * offsets in the SAME projection order (same multiplicity, n rows
    * per input row, null ts included — Explode of a non-null literal
    * array never filters), and the parameterized window struct is
    * PROVED equivalent projection-by-projection: substituting each
    * original offset back into it must reproduce that projection's
    * window expression up to `x − 0 ≡ x` (semanticEquals after
    * stripping zero-subtractions, the same normalization
    * [[stripWin]] applies). Any mismatch returns None and the caller
    * keeps the original Expand. */
  private def slidingGenerate(winExprs: Seq[Expression],
      output: Seq[Attribute], winIdx: Int,
      child: LogicalPlan): Option[LogicalPlan] = {
    if (winExprs.length < 2) return None
    val winAttr = output(winIdx)
    val kAttr = AttributeReference("__graft_woff", LongType,
      nullable = false)()
    // the k·slide offset a projection subtracts from the bucket —
    // TimeWindowing's `(bucket − k)` with bucket = ts − floorMod CASE;
    // k = 0 when the subtraction was simplified away entirely
    def kOf(we: Expression): Option[Long] = {
      var found: Option[Long] = None
      var uniform = true
      we.foreach {
        case Subtract(Subtract(_, _: CaseWhen, _), Literal(k: Long, LongType), _) =>
          if (found.exists(_ != k)) uniform = false else found = Some(k)
        case _ =>
      }
      if (uniform) Some(found.getOrElse(0L)) else None
    }
    val ks = winExprs.map(kOf)
    if (ks.exists(_.isEmpty)) return None
    val offs = ks.map(_.get)
    val tmplIdx = offs.indexWhere(_ != 0L)
    if (tmplIdx < 0) return None
    val tmplK = offs(tmplIdx)
    val winK = winExprs(tmplIdx).transform {
      case Subtract(b @ Subtract(_, _: CaseWhen, _), Literal(k: Long, LongType), f)
          if k == tmplK => Subtract(b, kAttr, f)
    }
    if (!winK.references.contains(kAttr)) return None
    def stripZeros(e: Expression): Expression = e.transform {
      case Subtract(x, Literal(0L, LongType), _) => x
    }
    val parity = winExprs.zip(offs).forall { case (we, k) =>
      val back = winK.transform {
        case a: AttributeReference if a.exprId == kAttr.exprId =>
          Literal(k, LongType)
      }
      stripZeros(back).semanticEquals(stripZeros(we))
    }
    if (!parity) return None
    val arr = Literal.create(offs.toArray,
      ArrayType(LongType, containsNull = false))
    val gen = Generate(Explode(arr), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(kAttr), child)
    val projList: Seq[NamedExpression] = output.zipWithIndex.map {
      case (a, i) if i == winIdx => Alias(winK, a.name)(exprId = a.exprId)
      case (a, _) => a
    }
    Some(Project(projList, gen))
  }

  /** Caller-facing swap for the sliding enumeration sites: the
    * [[Expand]]→Generate form when the projections qualify (window
    * expression at `winIdx`, every other position a verbatim
    * pass-through of `output`'s attribute), the original Expand
    * otherwise; the membership Filter — part of the enumeration
    * semantics for non-divisible slides — re-applied on top either
    * way, unchanged. */
  private def enumerateWindows(projections: Seq[Seq[Expression]],
      output: Seq[Attribute], winIdx: Int, child: LogicalPlan,
      membership: Option[Filter]): LogicalPlan = {
    val passOk = winIdx >= 0 && winIdx < output.length &&
      projections.forall(p => p.length == output.length &&
        p.indices.forall(i => i == winIdx || (p(i) match {
          case a: AttributeReference => a.exprId == output(i).exprId
          case _ => false
        })))
    val base =
      if (passOk)
        slidingGenerate(projections.map(_(winIdx)), output, winIdx, child)
      else None
    val node = base.getOrElse(Expand(projections, output, child))
    membership.map(f => Filter(f.condition, node)).getOrElse(node)
  }

  /** Starts of every sliding window intersecting `[a, b)`: the first
    * grid point whose window end reaches past `a`, stepping by slide. */
  private def slidingStarts(a: Long, b: Long, slideMs: Long, offMs: Long,
      sizeMs: Long): Iterator[Long] = {
    var ws0 = math.floorDiv(a - sizeMs - offMs, slideMs) * slideMs + offMs
    while (ws0 + sizeMs <= a) ws0 += slideMs
    Iterator.iterate(ws0)(_ + slideMs).takeWhile(_ < b)
  }

  /** One Expand projection's window struct, parsed to
    * (slideUs, startUs, overlapOffsetUs, sizeUs) — the sliding
    * analogue of [[windowSlot]]'s tumbling matcher. */
  private def slidingStruct(
      raw: Expression, tsCol: String): Option[(Long, Long, Long, Long)] =
    stripWin(raw) match {
      case s: CreateNamedStruct => s.children match {
        case Seq(Literal(n1, StringType), sE, Literal(n2, StringType), eE)
            if n1.toString == "start" && n2.toString == "end" =>
          (stripWin(sE), stripWin(eE)) match {
            case (PreciseTimestampConversion(sU, _, _),
                  PreciseTimestampConversion(eU, _, _)) =>
              // start inner: bucket − i·slide (the subtraction is
              // stripped entirely when i = 0)
              val bucketAndK: Option[(Expression, Long)] = stripWin(sU) match {
                case b @ Subtract(_, _: CaseWhen, _) => Some((b, 0L))
                case Subtract(b @ Subtract(_, _: CaseWhen, _), kLit, _) =>
                  usLongLit(kLit).map(k => (b, k))
                case _ => None
              }
              for {
                (bucket, kUs) <- bucketAndK
                (slideUs, startUs) <- bucketOfWin(bucket)
                sizeUs <- (stripWin(eU) match {
                  case Add(x, szLit, _)
                      if stripWin(x).semanticEquals(stripWin(sU)) =>
                    usLongLit(szLit)
                  case _ => None
                })
                if referencesOnlyTs(bucket, tsCol)
              } yield (slideUs, startUs, kUs, sizeUs)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

  private def rewriteSlotGrouped(
      agg: Aggregate,
      groupKey: Expression,
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    for {
      path <- sourcePath(child)
      WheelAcceleration.SumReg(tsCol, wheels, _, _) <- WheelAcceleration.lookup(path)(_.sum)
      sketch = WheelAcceleration.lookup(path)(_.sketch).filter(_.tsCol == tsCol)
      gExpr <- bail(path, "grouping is not a time-bucketing expression " +
        s"over the registered ts column '$tsCol'")(resolveGrouping(child, groupKey))
      grid <- bail(path, gridNote("grouping is not a time-bucketing " +
        s"expression over the registered ts column '$tsCol'"))(
        slotGrid(gExpr, tsCol))
      filterOpt = findFilter(child)
      any = wheels.valuesIterator.next()
      below = filterOpt.map(_._2).getOrElse(child)
      // per-aggregate conditional windows anywhere in the select list
      // (round 16, routed comprehensively round 17 — VERDICT r16 #1)
      hasCond = hasConditional(aggExprs)
      // ... and whether any per-aggregate range has SUB-MINUTE edges —
      // the per-cell plan-time fold deliberately refuses those; the
      // grouped conditional hybrid serves them with one bounded edge
      // scan (round 17)
      subMinuteCond = hasCond && subMinuteAggCond(aggExprs, tsCol)
      groupedCondResidue = (outers: Seq[(Long, Long)]) =>
        foldGroupedConditionalResidue(groupKey, gExpr, grid,
          aggExprs, child, below, tsCol, wheels, outers, sketch)
      // plain aggregates over sub-minute edges, or past the cell
      // ceiling: the residue hybrid per grid cell; an approximate
      // spelling it refuses rides the conditional hybrid's sketch seam
      groupedResidue = (rangesUs: Seq[(Long, Long)]) =>
        residueHybrid("grouped residue hybrid", aggExprs, below, tsCol,
          residueInterior(wheels), rangesUs,
          Seq(cellGroup(grid, gExpr, Seq(groupKey, gExpr), child, below)),
          Some(grid)).orElse {
          if (hasSketchAgg(aggExprs) && sketch.nonEmpty) {
            foldBailNote = ""
            groupedCondResidue(rangesUs)
          } else None
        }
      // Left = the ordinary single conjunctive range; Right = an
      // OR-of-disjoint-ranges predicate (round 13), pre-merged so a row
      // matched by two disjuncts counts once. BOTH in µS (round 14 —
      // direct-timestamp closed bounds route to the grouped hybrids)
      ranged <- (filterOpt match {
        case Some((cond, _)) =>
          rangeUs(cond, tsCol)
            .map { case (aO, bO) =>
              scala.util.Left((aO.getOrElse(any.baseMs * 1000L),
                bO.getOrElse(any.horizonMs * 1000L))) }
            .orElse(orRangesUs(cond, tsCol).map(rs => scala.util.Right(mergeRanges(rs))))
        case None =>
          Some(scala.util.Left((any.baseMs * 1000L, any.horizonMs * 1000L)))
      }): Option[Either[(Long, Long), Seq[(Long, Long)]]]
      // zone-walked grids (round 14) are only provably sound from the
      // zone's sound floor on — refuse earlier ranges, keep the scan
      _ <- bail(path, ZoneUnsoundNote)(
        if (ranged.fold(
          r => grid.soundFor(Math.floorDiv(r._1, 1000L), Math.floorDiv(r._2, 1000L)),
          rs => rs.forall(r => grid.soundFor(
            Math.floorDiv(r._1, 1000L), Math.floorDiv(r._2, 1000L)))))
          Some(()) else None)
      result <- ranged match {
       case scala.util.Left((aUs, bUs)) if aUs < bUs =>
        bail(path, foldNote("grouped shape not foldable")) {
        foldBailNote = ""
        val MinuteUs = MinuteMs * 1000L
        if (aUs % MinuteUs == 0 && bUs % MinuteUs == 0) {
          val (a, b) = (aUs / 1000L, bUs / 1000L)
          val overCap = cellCount(grid, a, b, maxFoldRows) > maxFoldRows
          // conditional windows past the cell ceiling, or with
          // sub-minute per-aggregate edges (round 17, VERDICT r16 #1):
          // the grouped conditional hybrid — per-minute slot-tagged
          // partials pre-keyed to their cells, per-aggregate FILTERs
          // over the slot column, one bounded sliver scan when edges
          // exist (none here for aligned conditions: pure fold)
          if (hasCond && (overCap || subMinuteCond))
            groupedCondResidue(Seq((aUs, bUs)))
          else if (overCap) groupedResidue(Seq((aUs, bUs)))
          else {
          val slotRows = Seq.newBuilder[InternalRow]
          var ok = true
          // per-aggregate conditional windows under a slot grouping
          // (round 16): `GROUP BY day` + `SUM(CASE WHEN ts ∈ w …)` —
          // each cell folds through the conditional row with the CELL
          // as its outer range, so per-aggregate ranges clip per cell
          // and ELSE-0 NULL-vs-0 resolves from the cell's row count
          val it = grid.starts(a, b)
          while (ok && it.hasNext) {
            val s0 = it.next()
            val s1 = grid.end(s0)
            val alls = wheels.map { case (c, i) =>
              c -> i.query(math.max(a, s0), math.min(b, s1)) }
            // every wheel in a registration shares one build, so the
            // per-slot row counts agree — any measure decides emptiness
            if (alls.valuesIterator.next().rows > 0L) {
              val subst = Seq((Seq(groupKey, gExpr), slotLiteral(grid, s0, s1)))
              val folded =
                if (hasCond)
                  foldConditionalRow(aggExprs, path, tsCol, wheels,
                    Seq((math.max(a, s0) * 1000L, math.min(b, s1) * 1000L)),
                    MinuteUs, groupSubst = subst)
                else foldRow(aggExprs, alls, subst,
                  sketch, (math.max(a, s0), math.min(b, s1)))
              folded match {
                case Some(vals) => slotRows += InternalRow.fromSeq(vals)
                case None => ok = false
              }
            }
          }
          if (ok) Some(LocalRelation(agg.output, slotRows.result())) else None
          }
        } else if (hasCond)
          // sub-minute OUTER edges with conditional aggregates
          // (round 17): same hybrid — the outer slivers scan once
          groupedCondResidue(Seq((aUs, bUs)))
        else groupedResidue(Seq((aUs, bUs)))
        }
       // GROUPED OR-ranges fold (round 13): per-cell contributions are
       // COMBINED across ranges (two disjoint sub-cell ranges can land
       // in the same grid cell — e.g. two week ranges under a month
       // grid), using the same associative AllAggregate merge as the
       // ungrouped [[rewriteOrRanges]]. Round 14 (VERDICT r13 #3):
       // SKETCH spellings fold too — each cell remembers its clipped
       // sub-ranges and [[foldRow]]'s spans form merges the per-span
       // range-sketches (every family is mergeable, same argument as
       // the ungrouped OR fold) — and ABOVE-CAP aligned shapes ship
       // their minute states through the residue hybrid (pre-merged
       // disjoint ranges, so the minute-state union never
       // double-counts). Unaligned disjuncts fold through the residue
       // hybrids (round 14).
       case scala.util.Right(rangesUs) =>
        bail(path, foldNote("grouped OR-ranges shape not foldable " +
          "(aggregate without a fold / merge form)")) {
          foldBailNote = ""
          val MinuteUs = MinuteMs * 1000L
          val aligned = rangesUs.forall { case (x, y) =>
            x % MinuteUs == 0 && y % MinuteUs == 0 && x < y }
          if (!aligned)
            // UNALIGNED disjuncts (round 14): per-(range, cell) interior
            // partials + ONE OR-of-windows edge leg, merged by slot key.
            // Conditional aggregates route through the grouped
            // conditional hybrid instead (round 17) — per-aggregate
            // clipping against EVERY disjunct plus the sliver scan
            (if (hasCond) groupedCondResidue(rangesUs)
            else groupedResidue(rangesUs))
          else {
          val ranges = rangesUs.map { case (x, y) => (x / 1000L, y / 1000L) }
          val cellsTotal =
            ranges.map { case (x, y) => cellCount(grid, x, y, maxFoldRows) }.sum
          if (hasCond && (cellsTotal > maxFoldRows || subMinuteCond))
            // conditional windows past the ceiling / with sub-minute
            // per-aggregate edges, multi-range outer (round 17)
            groupedCondResidue(rangesUs)
          else if (cellsTotal > maxFoldRows) groupedResidue(rangesUs)
          else {
            val cells = scala.collection.mutable.LinkedHashMap
              .empty[Long, (Map[String, AllAggregate], List[(Long, Long)])]
            ranges.foreach { case (x, y) =>
              val it = grid.starts(x, y)
              while (it.hasNext) {
                val s0 = it.next()
                val s1 = grid.end(s0)
                val span = (math.max(x, s0), math.min(y, s1))
                val alls = wheels.map { case (c, i) =>
                  c -> i.query(span._1, span._2) }
                if (alls.valuesIterator.next().rows > 0L)
                  cells(s0) = cells.get(s0) match {
                    case Some((prev, spans)) =>
                      (prev.map { case (c, al) => c -> al.combine(alls(c)) },
                        spans :+ span)
                    case None => (alls, List(span))
                  }
              }
            }
            val slotRows = Seq.newBuilder[InternalRow]
            var ok = true
            // round 16: conditional windows per cell under a
            // multi-range outer — each cell's outer set is its clipped
            // sub-ranges (same ELSE-0/clip semantics as the single-
            // range grouped conditional)
            cells.toSeq.sortBy(_._1).foreach { case (s0, (alls, spans)) =>
              val subst = Seq((Seq(groupKey, gExpr),
                slotLiteral(grid, s0, grid.end(s0))))
              val folded =
                if (hasCond)
                  foldConditionalRow(aggExprs, path, tsCol, wheels,
                    spans.map(s => (s._1 * 1000L, s._2 * 1000L)),
                    MinuteMs * 1000L, groupSubst = subst)
                else foldRow(aggExprs, alls, subst,
                  sketch, spans.head, spans.tail)
              if (ok) folded match {
                case Some(vals) => slotRows += InternalRow.fromSeq(vals)
                case None => ok = false
              }
            }
            if (ok) Some(LocalRelation(agg.output, slotRows.result()))
            else None
          }
          }
        }
       case _ => None
      }
    } yield result
  }

  /** The above-cap residue interior's entry feed ([[residueInterior]]):
    * a complete minute tier
    * streams minute states (the common case); under KeepN minute
    * eviction (round 15, VERDICT r14 #3) each range instead covers
    * through RETAINED coarser tiers via [[WheelIndex.coverEntries]] —
    * every shipped slot gated inside the Decompose walk to fit a
    * single grid cell, so slot keying stays exact — and the previous
    * blanket refusal narrows to ranges with no conforming retained
    * cover. `ranges` must be disjoint (mergeRanges ran) so no state
    * ships twice. Returns a FRESH iterator per call (the per-group
    * shift pre-pass and the emission pass both walk it). */
  private def interiorEntries(wheels: Map[String, WheelIndex],
      headMeasure: String, ranges: Seq[(Long, Long)], grid: SlotGrid)
      : Option[() => Iterator[(graft.wheel.Tier, Long, AllAggregate)]] = {
    val anyIdx = wheels(headMeasure)
    if (wheels.valuesIterator.forall(_.minuteTierComplete))
      Some(() => ranges.iterator.flatMap { case (a, b) =>
        anyIdx.minuteEntries(a, b).map { case (s, st) =>
          (graft.wheel.Tier.Minute: graft.wheel.Tier, s, st) } })
    else {
      // per-wheel retention validation (round 16, ADVICE r15): the
      // cover is computed against the HEAD wheel, but sibling measures
      // are then read at ITS (tier, slot)s — sound only when every
      // wheel retains the same layout. A foreign registerPrebuilt map
      // with mixed retention must refuse here, not fold zeros (stateAt
      // also throws on evicted slots as the last line of defense).
      val uniform = wheels.valuesIterator.forall { w =>
        w.baseMs == anyIdx.baseMs &&
          Seq[graft.wheel.Tier](graft.wheel.Tier.Minute, graft.wheel.Tier.Hour,
            graft.wheel.Tier.Day).forall(t =>
            w.retainedStartMs(t) == anyIdx.retainedStartMs(t))
      }
      if (!uniform) {
        if (foldBailNote.isEmpty) foldBailNote =
          "distributed interior under minute retention: the registration's " +
            "measure wheels do not share a retention layout (mixed " +
            "retainedStartMs/baseMs keep the scan)"
        return None
      }
      val fits = (t: graft.wheel.Tier, s: Long) =>
        grid.floorOf(s) == grid.floorOf(s + t.ms - 1)
      val covers = ranges.map { case (a, b) => anyIdx.coverEntries(a, b, fits) }
      if (covers.exists(_.isEmpty)) {
        if (foldBailNote.isEmpty) foldBailNote =
          "distributed interior under minute retention: no retained-tier " +
            "cover conforms to the grid (evicted minutes not covered by " +
            "an aligned coarser tier keep the scan)"
        None
      } else Some(() => covers.iterator.flatMap(_.get))
    }
  }

  /** GROUP BY (dimension key, time-slot) over a source with a registered
    * KEYED index: one LocalRelation row per (key, non-empty slot) —
    * cardinality bounded by |keys| × slots. The key grouping must be a
    * bare reference to the registered dimension column; the slot
    * grouping is the same `(tsMs div w) * w` shape, in either order. */
  private def rewriteKeyedGrouped(
      agg: Aggregate,
      groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    for {
      path <- sourcePath(child)
      reg <- WheelAcceleration.lookup(path)(_.keyed)
      // identify which grouping is the key and which the slot bucketing
      keyAttrOpt = groupings.collectFirst {
        case a: AttributeReference if a.name == reg.keyCol => a
      }
      keyAttr <- keyAttrOpt
      slotGroup <- groupings.find {
        case a: AttributeReference => a.name != reg.keyCol
        case _ => true
      }
      gExpr <- resolveGrouping(child, slotGroup)
      grid <- bail(path, gridNote("keyed grouping is not a time-bucketing " +
        s"expression over the registered ts column '${reg.tsCol}'"))(
        slotGrid(gExpr, reg.tsCol))
      filterOpt = findFilter(child)
      below = filterOpt.map(_._2).getOrElse(child)
      keyedSk = WheelAcceleration.lookup(path)(_.keyedSketch)
        .filter(r => r.tsCol == reg.tsCol && r.keyCol == reg.keyCol)
      // the (key, cell) group columns of both keyed-grouped hybrids
      groups = keyGroups(Seq(keyAttr), Seq(reg.keyCol), Seq(reg.any.keyType),
        below, (key, _) => key) :+
        cellGroup(grid, gExpr, Seq(slotGroup, gExpr), child, below)
      // per-aggregate conditional windows under the (key, cell) grid
      // (round 17 — the last conditional regime): EVERY regime routes
      // through the keyed-grouped conditional hybrid
      hasCond = hasConditional(aggExprs)
      keyedGroupedCond = (outers: Seq[(Long, Long)]) =>
        bail(path, foldNote("keyed-grouped conditional not foldable")) {
          foldBailNote = ""
          condHybrid("keyed-grouped conditional hybrid", aggExprs, below,
            reg.tsCol, keyedCondInterior(reg.wheels), outers, groups,
            keyedCondSketchOf(keyedSk))
        }
      // plain aggregates over sub-minute edges, or past the (key, cell)
      // ceiling: the residue hybrid per (key, cell); an approximate
      // spelling it refuses rides the conditional hybrid's sketch seam
      keyedResidue = (rangesUs: Seq[(Long, Long)]) =>
        bail(path, foldNote("keyed-grouped residue not foldable")) {
          foldBailNote = ""
          residueHybrid("keyed-grouped residue hybrid", aggExprs, below,
            reg.tsCol, keyedResidueInterior(reg.wheels), rangesUs, groups,
            Some(grid)).orElse {
            if (hasSketchAgg(aggExprs) && keyedSk.nonEmpty)
              keyedGroupedCond(rangesUs)
            else None
          }
        }
      // at or below the (key, cell) ceiling, aligned ranges fold per
      // (key, cell) at plan time ([[keyedCellsFold]])
      overCap = (ranges: Seq[(Long, Long)]) => reg.any.keys.size.toLong *
        ranges.map { case (x, y) => cellCount(grid, x, y, maxFoldRows) }.sum >
        maxFoldRows
      keyedFold = (rangesUs: Seq[(Long, Long)]) => {
        val ranges = rangesUs.map { case (x, y) => (x / 1000L, y / 1000L) }
        if (hasCond) keyedGroupedCond(rangesUs)
        else if (rangesUs.exists { case (x, y) =>
            x % (MinuteMs * 1000L) != 0 || y % (MinuteMs * 1000L) != 0 } ||
            overCap(ranges))
          keyedResidue(rangesUs)
        else bail(path, foldNote("keyed-grouped fold refused")) {
          foldBailNote = ""
          keyedCellsFold(agg, keyAttr, slotGroup, gExpr, grid, aggExprs, reg,
            ranges, keyedSk.filter(_ => ranges.size == 1))
        }
      }
      // KEYED OR-ranges (round 13): a disjunction of ranges folds like
      // one range, its disjuncts pre-merged so SQL OR semantics hold
      orFold = filterOpt.flatMap { case (cond, _) =>
        if (rangeUs(cond, reg.tsCol).isDefined) None
        else orRangesUs(cond, reg.tsCol).map(mergeRanges).flatMap { rangesUs =>
          if (!rangesUs.forall { case (x, y) =>
            grid.soundFor(Math.floorDiv(x, 1000L), Math.floorDiv(y, 1000L)) })
            None
          else keyedFold(rangesUs)
        }
      }
      // µS bounds (round 14): direct-timestamp closed bounds route to
      // the keyed grouped hybrid below
      (aOpt, bOpt) <- filterOpt match {
        case Some((cond, _)) =>
          // a successful OR fold short-circuits below; the placeholder
          // bounds only keep the comprehension alive to reach it
          rangeUs(cond, reg.tsCol)
            .orElse(orFold.map(_ => (Some(0L), Some(MinuteMs * 1000L))))
        case None => Some((None, None))
      }
      aUs = aOpt.getOrElse(reg.any.baseMs * 1000L)
      bUs = bOpt.getOrElse(reg.any.horizonMs * 1000L)
      if aUs < bUs
      // zone-walked grids (round 14): only the sound era folds (the OR
      // fold checked its own ranges)
      _ <- bail(path, ZoneUnsoundNote)(
        if (orFold.isDefined || grid.soundFor(
          Math.floorDiv(aUs, 1000L), Math.floorDiv(bUs, 1000L)))
          Some(()) else None)
      // a single range routes like a disjunction of one: conditional
      // aggregates in every regime to the conditional hybrid (round 17)
      result <- orFold.orElse(keyedFold(Seq((aUs, bUs))))
    } yield result
  }

  /** The per-(key, cell) plan-time fold of `GROUP BY key, time-slot`
    * over disjoint minute-aligned ms ranges: each key's cell
    * contributions combined across ranges by the associative
    * AllAggregate merge. Per-key sketch views serve approximate
    * spellings over a single range only (no single sketch view spans a
    * combined multi-range cell). */
  private def keyedCellsFold(
      agg: Aggregate, keyAttr: AttributeReference, slotGroup: Expression,
      gExpr: Expression, grid: SlotGrid, aggExprs: Seq[NamedExpression],
      reg: WheelAcceleration.KeyedReg, ranges: Seq[(Long, Long)],
      keyedSk: Option[WheelAcceleration.KeyedSketchReg]): Option[LogicalPlan] = {
    val out = Seq.newBuilder[InternalRow]
    var ok = true
    reg.any.keys.foreach { key =>
      val skView = keyedSk.map(_.viewFor(key))
      val cells = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Map[String, AllAggregate], (Long, Long))]
      ranges.foreach { case (x, y) =>
        val it = grid.starts(x, y)
        while (it.hasNext) {
          val s0 = it.next()
          val span = (math.max(x, s0), math.min(y, grid.end(s0)))
          val alls = reg.wheels.map { case (c, i) =>
            c -> i.query(key, span._1, span._2) }
          if (alls.valuesIterator.next().rows > 0L)
            cells(s0) = cells.get(s0) match {
              case Some((prev, sp)) =>
                (prev.map { case (c, al) => c -> al.combine(alls(c)) }, sp)
              case None => (alls, span)
            }
        }
      }
      cells.toSeq.sortBy(_._1).foreach { case (s0, (alls, span)) =>
        if (ok) foldRow(aggExprs, alls, Seq(
          (Seq(keyAttr), Literal.create(key, reg.any.keyType)),
          (Seq(slotGroup, gExpr), slotLiteral(grid, s0, grid.end(s0)))),
          skView, span) match {
          case Some(vals) => out += InternalRow.fromSeq(vals)
          case None => ok = false
        }
      }
    }
    if (ok) Some(LocalRelation(agg.output, out.result())) else None
  }

  /** COMPOSITE-keyed fold (round 13, VERDICT r12 #4): `GROUP BY k1, …,
    * kN, time-slot` over a source with a [[WheelAcceleration
    * .registerKeyedComposite]] registration — the (country, event_type,
    * day) dashboard shape. Every non-slot grouping must be a bare
    * reference to one of the registered key columns (each present
    * exactly once, any order); the remaining grouping is the slot
    * bucketing. One LocalRelation row per (tuple key, non-empty cell),
    * each key COMPONENT re-emitted as its own output literal from the
    * struct-valued index key.
    *
    * PAST THE PLAN-TIME CEILING, over sub-minute edges or over an OR of
    * ranges the shape goes through [[residueHybrid]] — the (tuple-key,
    * minute) partials ship with each key component as its own relation
    * column and a merge-form Aggregate groups them on the cluster, with
    * one bounded edge scan when an edge exists — so wide tuple
    * dimensions stay scan-free; conditional aggregates take
    * [[condHybrid]]. Only aggregates without a merge form bail, each
    * with a PINNED reason. */
  private def rewriteCompositeKeyed(
      agg: Aggregate,
      groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    for {
      path <- sourcePath(child)
      reg <- WheelAcceleration.lookup(path)(_.composite)
      if groupings.size == reg.keyCols.size + 1
      keyAttrs <- {
        val found = reg.keyCols.map(kc => groupings.collectFirst {
          case a: AttributeReference if a.name == kc => a
        })
        if (found.forall(_.isDefined)) Some(found.flatten) else None
      }
      slotGroup <- {
        val rest = groupings.filterNot {
          case a: AttributeReference => reg.keyCols.contains(a.name)
          case _ => false
        }
        if (rest.size == 1) rest.headOption else None
      }
      gExpr <- resolveGrouping(child, slotGroup)
      grid <- bail(path, gridNote("composite-keyed grouping is not a " +
        s"time-bucketing expression over the registered ts column " +
        s"'${reg.tsCol}'"))(slotGrid(gExpr, reg.tsCol))
      // single range (Left, µs) or a disjunction of disjoint ranges
      // (Right, round 17 — the composite OR-outer previously kept the
      // scan outright)
      ranged <- (findFilter(child) match {
        case Some((cond, _)) =>
          rangeUs(cond, reg.tsCol)
            .map { case (lo, hi) =>
              scala.util.Left((lo.getOrElse(reg.any.baseMs * 1000L),
                hi.getOrElse(reg.any.horizonMs * 1000L))) }
            .orElse(orRangesUs(cond, reg.tsCol)
              .map(rs => scala.util.Right(mergeRanges(rs))))
        case None =>
          Some(scala.util.Left((reg.any.baseMs * 1000L,
            reg.any.horizonMs * 1000L)))
      }): Option[Either[(Long, Long), Seq[(Long, Long)]]]
      allRangesUs = ranged.fold(r => Seq(r), identity)
      if allRangesUs.forall { case (x, y) => x < y }
      _ <- bail(path, ZoneUnsoundNote)(
        if (allRangesUs.forall { case (x, y) => grid.soundFor(
          Math.floorDiv(x, 1000L), Math.floorDiv(y + 999L, 1000L)) })
          Some(()) else None)
      below = findFilter(child).map(_._2).getOrElse(child)
      // the (k1, …, kn, cell) group columns of both composite hybrids,
      // each key COMPONENT its own column re-emitted from the
      // struct-valued index key
      groups = keyGroups(keyAttrs, reg.keyCols,
        reg.any.keyType.asInstanceOf[StructType].fields.toSeq.map(_.dataType),
        below, (key, i) => key.asInstanceOf[org.apache.spark.sql.Row].get(i)) :+
        cellGroup(grid, gExpr, Seq(slotGroup, gExpr), child, below)
      // per-aggregate conditional windows (round 17 — completes the
      // conditional matrix): every composite conditional regime is the
      // conditional hybrid
      hasCond = hasConditional(aggExprs)
      aUs = allRangesUs.head._1
      bUs = allRangesUs.last._2
      // ms bounds for the aligned single-range path (exact there:
      // aUs/bUs are whole-minute µs on that branch)
      a = aUs / 1000L
      b = bUs / 1000L
      compositeResidue = () => residueHybrid("composite-keyed residue hybrid",
        aggExprs, below, reg.tsCol, keyedResidueInterior(reg.wheels),
        allRangesUs, groups, Some(grid))
      result <-
        if (hasCond)
          bail(path, foldNote("composite-keyed conditional not foldable " +
            "(aggregate without a merge form / non-time condition / " +
            "missing typed key or ts columns)"))(
            condHybrid("composite-keyed conditional hybrid", aggExprs, below,
              reg.tsCol, keyedCondInterior(reg.wheels), allRangesUs, groups,
              condSketchOf(None)))
        else if (ranged.isRight ||
            aUs % (MinuteMs * 1000L) != 0 || bUs % (MinuteMs * 1000L) != 0)
          // SUB-MINUTE range edges (round 17, VERDICT r16 #2 — was the
          // pinned "no composite residue path") and OR outers: the
          // tuple-key residue hybrid — interior (tuple-key, cell)
          // partials + ONE bounded edge scan carrying every raw key
          // COLUMN (aligned disjuncts degenerate to a pure fold)
          bail(path, foldNote("composite-keyed residue not foldable " +
            "(aggregate without a merge form / missing typed key or ts " +
            "columns)")) {
            foldBailNote = ""
            compositeResidue()
          }
        else if (reg.any.keys.size.toLong *
            cellCount(grid, a, b, maxFoldRows) > maxFoldRows)
          // above the plan-time ceiling: the same hybrid, edge-free —
          // (tuple-key, minute) partials, a merge-form Aggregate
          bail(path, "composite-keyed fold above maxFoldRows not " +
            "foldable (aggregate without a merge form)") {
            foldBailNote = ""
            compositeResidue()
          }
        else {
          val keyFields =
            reg.any.keyType.asInstanceOf[StructType].fields
          val out = Seq.newBuilder[InternalRow]
          var ok = true
          reg.any.keys.foreach { key =>
            val row = key.asInstanceOf[org.apache.spark.sql.Row]
            val keySubst = keyAttrs.zipWithIndex.map { case (kA, i) =>
              (Seq[Expression](kA),
                Literal.create(row.get(i), keyFields(i).dataType))
            }
            val it = grid.starts(a, b)
            while (ok && it.hasNext) {
              val s0 = it.next()
              val s1 = grid.end(s0)
              val alls = reg.wheels.map { case (c, i) =>
                c -> i.query(key, math.max(a, s0), math.min(b, s1)) }
              if (alls.valuesIterator.next().rows > 0L) {
                foldRow(aggExprs, alls,
                  keySubst :+ ((Seq(slotGroup, gExpr), slotLiteral(grid, s0, s1)))) match {
                  case Some(vals) => out += InternalRow.fromSeq(vals)
                  case None => ok = false
                }
              }
            }
          }
          if (ok) Some(LocalRelation(agg.output, out.result())) else None
        }
    } yield result
  }

  /** The grouping expression itself, or — when the optimizer's
    * `PullOutGroupingExpressions` replaced it with a
    * `_groupingexpression` attribute — the aliased expression found in
    * the Project below the aggregate. */
  private def resolveGrouping(p: LogicalPlan, g: Expression): Option[Expression] =
    g match {
      case a: AttributeReference =>
        def find(pl: LogicalPlan): Option[Expression] = pl match {
          case Project(exprs, ch) =>
            exprs.collectFirst { case al @ Alias(e, _) if al.exprId == a.exprId => e }
              .orElse(find(ch))
          case SubqueryAlias(_, ch) => find(ch)
          case Filter(_, ch) => find(ch)
          case _ => None
        }
        find(p)
      case e => Some(e)
    }

  /** A time-bucketing grid the grouped rewrite can walk: every slot is
    * a half-open `[start, end)` run of whole minutes, enumerable over
    * any query range. Fixed grids (div-multiply keys, fixed-width
    * date_trunc tiers, `window()` buckets) step by a constant width;
    * calendar grids (month/quarter/year) step by java.time UTC
    * boundaries — variable width, but every boundary is day-aligned so
    * the same clipped index combines answer them exactly. */
  private sealed trait SlotGrid {
    def slotType: DataType
    /** Starts of every slot intersecting `[a, b)`, ascending; the first
      * may begin before `a` (callers clip). */
    def starts(a: Long, b: Long): Iterator[Long]
    /** End of the slot starting at `s0` (= next slot's start). */
    def end(s0: Long): Long
    /** Start of the slot containing `t`. */
    def floorOf(t: Long): Long
    /** True when every boundary this grid would walk over `[a, b)` is a
      * minute-aligned instant and the truncation is monotonic in the
      * instant — always true for the fixed/UTC grids; the zone-walked
      * grids (round 14) refuse ranges reaching before the zone's sound
      * horizon (pre-standardization offsets are second-resolution). */
    def soundFor(a: Long, b: Long): Boolean = true
  }

  /** Zone soundness for the region-zone grids (round 14, VERDICT r13
    * #1): a `date_trunc`/`CAST(ts AS DATE)` fold under a REAL timezone
    * (`America/New_York`) is sound exactly when, over the queried
    * range, (1) every offset in effect — and so every local-boundary
    * instant — is a whole number of minutes (the wheel is
    * minute-granular), and (2) no transition makes the truncated local
    * value REGRESS as the instant advances (a fall-back crossing a
    * truncation boundary would split one slot into disjoint instant
    * intervals, breaking the half-open-interval model; no modern zone
    * does this — fall-backs land exactly ON or strictly inside
    * boundaries). Both facts are static plan-time data in
    * `java.time.ZoneRules`, checked once per (zone, unit) and cached:
    * the result is the SOUND FLOOR — the first instant after the last
    * unsound historic transition (LMT→standard cutovers of the 1880s,
    * Liberia 1972, …), padded by three years so no slot can straddle
    * it — or None when the zone's RECURRING rules are themselves
    * unsound (no real zone today). Queries at/after the floor fold;
    * ranges reaching before it keep the scan with a pinned reason. */
  private object ZoneWalk {
    import java.time.{Instant, LocalDateTime, ZoneId}
    import java.time.zone.ZoneOffsetTransition

    /** Local-value truncation for `kind` ∈ {minute, hour, day, week}
      * or, with months > 0, the month/quarter/year calendar floor. */
    def trunc(kind: String, months: Int)(l: LocalDateTime): LocalDateTime =
      if (months > 0) {
        val m0 = (l.getMonthValue - 1) / months * months + 1
        LocalDateTime.of(l.getYear, m0, 1, 0, 0)
      } else kind match {
        case "minute" => l.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
        case "hour" => l.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
        case "day" => l.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
        case "week" => l.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
          .minusDays(l.getDayOfWeek.getValue - 1L)
      }

    private def transitionSound(t: ZoneOffsetTransition,
        tr: LocalDateTime => LocalDateTime): Boolean = {
      val aligned = t.getInstant.toEpochMilli % MinuteMs == 0 &&
        t.getOffsetBefore.getTotalSeconds % 60 == 0 &&
        t.getOffsetAfter.getTotalSeconds % 60 == 0
      // overlap (fall-back): attained locals before the transition run
      // up to (excluding) dateTimeBefore; regression iff the last
      // attained truncated value exceeds the post-transition one
      val monotonic = !t.isOverlap ||
        !tr(t.getDateTimeBefore.minusNanos(1)).isAfter(tr(t.getDateTimeAfter))
      aligned && monotonic
    }

    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Option[Long]]()

    /** Three years past the last unsound transition: no slot of any
      * supported grid (widest = year) can straddle the floor. */
    private val PadMs = 3L * 366L * 86400000L

    def soundFloor(zone: ZoneId, kind: String, months: Int): Option[Long] =
      cache.computeIfAbsent((zone.getId, kind, months), { _ =>
        val tr = trunc(kind, months) _
        val rules = zone.getRules
        import scala.jdk.CollectionConverters._
        // recurring rules govern every future year — any unsoundness
        // there has no floor (sample two years: rules alternate)
        val recurringOk = rules.getTransitionRules.asScala.forall { r =>
          Seq(2024, 2025).forall(y => transitionSound(r.createTransition(y), tr))
        }
        // a transition-free non-UTC zone (custom fixed offsets reach
        // here only when fixedOffsetMs filtered them out as unaligned)
        // has no sound era at all — its base offset never aligns
        val alignedBase = rules.getTransitions.size() > 0 ||
          rules.getTransitionRules.size() > 0 ||
          rules.getOffset(Instant.EPOCH).getTotalSeconds % 60 == 0
        if (!recurringOk || !alignedBase) None
        else Some(rules.getTransitions.asScala
          .filterNot(transitionSound(_, tr))
          .map(_.getInstant.toEpochMilli + PadMs)
          .maxOption.getOrElse(Long.MinValue))
      })
  }

  /** `dateShiftMs` (round 13): for DATE-typed slot keys under a
    * fixed-offset zone, the literal is the LOCAL date — days of
    * `s0 + dateShiftMs` — while the boundaries `k·w + off` stay UTC
    * instants (0 for the UTC grids, so the legacy rendering is
    * unchanged). */
  private final case class FixedGrid(w: Long, off: Long, slotType: DataType,
      dateShiftMs: Long = 0L)
      extends SlotGrid {
    def starts(a: Long, b: Long): Iterator[Long] =
      Iterator.iterate(math.floorDiv(a - off, w) * w + off)(_ + w).takeWhile(_ < b)
    def end(s0: Long): Long = s0 + w
    def floorOf(t: Long): Long = math.floorDiv(t - off, w) * w + off
  }

  /** Calendar-boundary grid: month / quarter / year slots. Boundaries
    * walk in `zone` — UTC by default; a FIXED offset zone (round 13)
    * shifts every boundary by the constant offset; a REGION zone
    * (round 14) walks true local-midnight instants through the zone's
    * transition rules (a month containing a DST change is 1 hour
    * shorter/longer in instants), sound from `soundFloorMs` on
    * ([[ZoneWalk.soundFloor]]). `atStartOfDay`'s gap/overlap
    * disambiguation (shift forward by the gap; earlier offset on
    * overlap) matches Spark's local→instant conversion, so the emitted
    * slot-start instant IS the date_trunc value the scan would group
    * by. */
  private final case class CalendarGrid(months: Int, slotType: DataType,
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC,
      soundFloorMs: Long = Long.MinValue)
      extends SlotGrid {
    private def date(ms: Long): java.time.LocalDate =
      java.time.Instant.ofEpochMilli(ms).atZone(zone).toLocalDate
    private def ms(d: java.time.LocalDate): Long =
      d.atStartOfDay(zone).toInstant.toEpochMilli
    private def floor(t: Long): Long = {
      val d = date(t)
      val m0 = (d.getMonthValue - 1) / months * months + 1
      ms(java.time.LocalDate.of(d.getYear, m0, 1))
    }
    def starts(a: Long, b: Long): Iterator[Long] =
      Iterator.iterate(floor(a))(s0 => end(s0)).takeWhile(_ < b)
    def end(s0: Long): Long = ms(date(s0).plusMonths(months.toLong))
    def floorOf(t: Long): Long = floor(t)
    override def soundFor(a: Long, b: Long): Boolean = a >= soundFloorMs
  }

  /** Fixed-UNIT grid under a REGION zone (round 14, VERDICT r13 #1):
    * minute/hour/day/week `date_trunc` tiers — and `CAST(ts AS DATE)`
    * day keys — whose boundaries walk true local instants through the
    * zone's transition rules. Slots have VARIABLE instant width (a
    * 23/25-hour day at each DST change; an hour slot spanning a
    * fall-back covers two instant-hours because both local hours
    * truncate to the same key under Spark's earlier-offset
    * disambiguation), which [[ZoneWalk.soundFloor]]'s monotonicity
    * check proves are still contiguous half-open runs. Local↔instant
    * conversions use `ZonedDateTime.ofLocal` semantics (via
    * `LocalDateTime.atZone`), the same disambiguation Spark's
    * `DateTimeUtils` applies, so emitted keys match the scan's
    * bit-for-bit. */
  private final case class ZoneTierGrid(kind: String, zone: java.time.ZoneId,
      slotType: DataType, soundFloorMs: Long)
      extends SlotGrid {
    import java.time.{Instant, LocalDateTime, ZonedDateTime}
    private val subDay = kind == "minute" || kind == "hour"
    private def zdt(t: Long): ZonedDateTime =
      Instant.ofEpochMilli(t).atZone(zone)
    private def truncL(l: LocalDateTime): LocalDateTime =
      ZoneWalk.trunc(kind, 0)(l)
    private def plusOne(l: LocalDateTime): LocalDateTime = kind match {
      case "minute" => l.plusMinutes(1L)
      case "hour" => l.plusHours(1L)
      case "day" => l.plusDays(1L)
      case "week" => l.plusWeeks(1L)
    }
    /** Spark's truncation instant for `t`. Sub-day tiers mirror
      * `DateTimeUtils.truncTimestamp`'s `ZonedDateTime.truncatedTo`:
      * ofLocal with the instant's OWN offset preferred, so during a
      * fall-back each repeated local hour keeps its own instant key.
      * Day/week mirror the date-based `LocalDate.atStartOfDay` path:
      * earlier offset on overlap, gap-shift forward. */
    def floorOf(t: Long): Long =
      if (subDay)
        zdt(t).truncatedTo(if (kind == "hour")
          java.time.temporal.ChronoUnit.HOURS
        else java.time.temporal.ChronoUnit.MINUTES).toInstant.toEpochMilli
      else truncL(zdt(t).toLocalDateTime).atZone(zone).toInstant.toEpochMilli
    def end(s0: Long): Long = {
      val z0 = zdt(s0)
      val nextL = plusOne(truncL(z0.toLocalDateTime))
      val e1 =
        if (subDay)
          // same preferred-offset resolution as the truncation itself
          ZonedDateTime.ofLocal(nextL, zone, z0.getOffset)
            .toInstant.toEpochMilli
        else nextL.atZone(zone).toInstant.toEpochMilli
      // a transition INSIDE [s0, e1) can start a new slot early: during
      // a fall-back the repeated local hour re-truncates to the NEW
      // offset's instant (≠ s0 for sub-day tiers); day/week slots
      // absorb the transition (their truncation resolves back to s0)
      val tr = zone.getRules.nextTransition(Instant.ofEpochMilli(s0))
      if (tr != null) {
        val tMs = tr.getInstant.toEpochMilli
        if (tMs < e1 && floorOf(tMs) != s0) tMs else e1
      } else e1
    }
    def starts(a: Long, b: Long): Iterator[Long] =
      Iterator.iterate(floorOf(a))(end).takeWhile(_ < b)
    /** DATE key for `CAST(ts AS DATE)` groupings: the LOCAL date of the
      * slot-start instant (= the truncation's own local date even when
      * midnight fell in a DST gap and `s0`'s local time is later). */
    def localDateDays(s0: Long): Int =
      truncL(zdt(s0).toLocalDateTime).toLocalDate.toEpochDay.toInt
    override def soundFor(a: Long, b: Long): Boolean = a >= soundFloorMs
  }

  /** `CAST(<timestamp-slotted grid> AS BIGINT)`: Spark's timestamp→long
    * cast yields epoch-SECONDS, not the epoch-ms the inner grid walks in,
    * so the emitted group key divides by 1000 (exact — every slot start
    * is minute-aligned). */
  private final case class SecondsKeyGrid(inner: SlotGrid) extends SlotGrid {
    def slotType: DataType = LongType
    def starts(a: Long, b: Long): Iterator[Long] = inner.starts(a, b)
    def end(s0: Long): Long = inner.end(s0)
    def floorOf(t: Long): Long = inner.floorOf(t)
    override def soundFor(a: Long, b: Long): Boolean = inner.soundFor(a, b)
  }

  /** `unix_millis(<timestamp-slotted grid>)`: epoch-MILLISECOND long
    * keys over a timestamp grid — the natural `GROUP BY
    * unix_millis(date_trunc(…))` spelling (round 10). The inner grid
    * already walks epoch ms, so the key is the slot start itself. */
  private final case class MillisKeyGrid(inner: SlotGrid) extends SlotGrid {
    def slotType: DataType = LongType
    def starts(a: Long, b: Long): Iterator[Long] = inner.starts(a, b)
    def end(s0: Long): Long = inner.end(s0)
    def floorOf(t: Long): Long = inner.floorOf(t)
    override def soundFor(a: Long, b: Long): Boolean = inner.soundFor(a, b)
  }

  /** The grid of a time-bucketing grouping expression: `(tsMs div w) *
    * w` (long epoch-ms slots), `date_trunc(unit, ts)` (timestamp slots
    * — fixed-width through week, calendar-stepped for month/quarter/
    * year; week slots sit at Monday boundaries, epoch-day zero is a
    * Thursday, so that grid is offset by 4 days), or Spark's
    * `window(ts, …)` struct ([[windowSlot]], offset = `startTime`).
    * Fixed widths must be positive multiples of the finest tier with
    * minute-aligned offsets; calendar boundaries are day-aligned by
    * construction. */
  private def slotGrid(e: Expression, tsCol: String): Option[SlotGrid] = e match {
    // Long-typed keys over a grid: a no-op re-cast of the div-multiply
    // shape keeps its epoch-ms keys; casting a timestamp-typed grid
    // (date_trunc tiers) switches the key domain to epoch-seconds
    // (Spark's timestamp→long semantics), handled by SecondsKeyGrid.
    // NTZ-typed grids don't fold here (CAST(ntz AS BIGINT) is not
    // value-equivalent across zones).
    case Cast(inner, LongType, _, _) =>
      slotGrid(inner, tsCol).collect {
        case g if g.slotType == LongType => g
        case g if g.slotType == TimestampType => SecondsKeyGrid(g)
      }
    // unix_millis over a timestamp-typed grid: epoch-ms long keys —
    // exactly the ms domain the grids already walk in
    case UnixMillis(inner) =>
      slotGrid(inner, tsCol).collect {
        case g if g.slotType == TimestampType => MillisKeyGrid(g)
      }
    // GROUP BY CAST(ts AS DATE) — the ubiquitous daily-rollup spelling
    // (round 12). Cast-to-date truncates tz timestamps in the cast's
    // zone and NTZ by wall clock; both equal the UTC day grid exactly
    // under the UTC guard (same reasoning as the date_trunc tiers; the
    // NTZ guard lives in isTsCol). DATE-typed slot keys render as
    // days-since-epoch literals in slotLiteral.
    case Cast(ts, DateType, tz, _) if isTsCol(ts, tsCol) =>
      if (ts.dataType == TimestampNTZType || tz.forall(isUtcZone))
        Some(FixedGrid(86400000L, 0L, DateType))
      else fixedOffsetMs(tz.getOrElse(sessionZone)) match {
        // FIXED offset (round 13): local-day boundaries are the UTC
        // instants k·day − o; the DATE key is the LOCAL date (s0 + o)
        case Some(o) =>
          Some(FixedGrid(86400000L, floorMod(-o, 86400000L), DateType,
            dateShiftMs = o))
        case None =>
          // REGION zone (round 14): walk true local-day boundaries
          // through the zone's transition rules when they are provably
          // minute-aligned and monotonic (ZoneWalk) — else pin the why
          zoneWalkGrid(tz.getOrElse(sessionZone), "day", 0, DateType,
            "CAST(ts AS DATE)")
      }
    case Multiply(IntegralDivide(ts, l1, _), l2, _) if isTsMs(ts, tsCol) =>
      for {
        w1 <- wideLit(l1)
        w2 <- wideLit(l2)
        if w1 == w2 && w1 > 0 && w1 % MinuteMs == 0
      } yield FixedGrid(w1, 0L, LongType)
    // date_trunc truncates in the SESSION time zone; epoch-ms slot
    // arithmetic is only equivalent in UTC (a zone with a fractional
    // offset shifts even hour boundaries), so require UTC explicitly.
    // TIMESTAMP_NTZ inputs carry no zone in the expression, but the
    // registered index was built via normalizeTs, whose NTZ→timestamp
    // cast reads naive values in the SESSION zone — so the NTZ branch
    // is only sound when the session zone is UTC too.
    case TruncTimestamp(Literal(fmt, StringType), ts, tz)
        if isTsCol(ts, tsCol) || (ts match {
          // non-UTC NTZ spellings: isTsCol refuses the column itself
          // (bare, or under the analyzer's NTZ→timestamp cast) —
          // recognize the name here only to pin the zone reason
          case a: AttributeReference => a.name == tsCol
          case Cast(a: AttributeReference, TimestampType, _, _) => a.name == tsCol
          case _ => false
        }) =>
      // NTZ stays UTC-only (the index's epoch domain itself was read in
      // the session zone by normalizeTs — a non-UTC shift is in the
      // DATA, not just the grid); tz-typed inputs fold under UTC or any
      // FIXED offset (round 13) — the offset is a constant shift of
      // every truncation boundary, expressed in the grid's `off` term
      // (fixed tiers) or by walking calendar boundaries in that zone —
      // and under a REGION zone (round 14) whose boundaries walk the
      // transition rules ([[ZoneTierGrid]]/zone-walked [[CalendarGrid]]).
      // Left(o) = constant shift, Right(z) = zone walk, None = refuse.
      val mode: Option[Either[Long, String]] =
        if (!isTsCol(ts, tsCol)) None // non-UTC NTZ: refuse below
        else if (ts.dataType == TimestampNTZType)
          (if (isUtcZone(sessionZone)) Some(scala.util.Left(0L)) else None)
        else if (tz.forall(isUtcZone)) Some(scala.util.Left(0L))
        else {
          val z = tz.getOrElse(sessionZone)
          Some(fixedOffsetMs(z).map(scala.util.Left(_))
            .getOrElse(scala.util.Right(z)))
        }
      val unit =
        Option(fmt).map(_.toString.toLowerCase(java.util.Locale.ROOT))
      mode match {
        case None =>
          // shape matched, zone refused: pin the reason (round 13)
          if (gridBailNote.isEmpty) gridBailNote =
            s"date_trunc truncates an NTZ column in zone " +
              s"'${tz.getOrElse(sessionZone)}' — the index's epoch domain " +
              "was read in the session zone at BUILD time, so non-UTC NTZ " +
              "folds would shift the data itself (set " +
              "spark.sql.session.timeZone=UTC or keep the scan)"
          None
        case Some(scala.util.Left(o)) =>
      unit.collect {
        case "minute" => FixedGrid(MinuteMs, floorMod(-o, MinuteMs), e.dataType)
        case "hour" => FixedGrid(3600000L, floorMod(-o, 3600000L), e.dataType)
        case "day" | "dd" =>
          FixedGrid(86400000L, floorMod(-o, 86400000L), e.dataType)
        // ISO weeks start Monday; 1970-01-01 is Thursday, so Monday
        // boundaries are epoch-ms ≡ 4 days (mod 7 days) — shifted west
        // by a fixed offset exactly like the day grid
        case "week" =>
          FixedGrid(7L * 86400000L, floorMod(4L * 86400000L - o, 7L * 86400000L),
            e.dataType)
        case "month" | "mon" | "mm" =>
          CalendarGrid(1, e.dataType, java.time.ZoneOffset.ofTotalSeconds((o / 1000L).toInt))
        case "quarter" =>
          CalendarGrid(3, e.dataType, java.time.ZoneOffset.ofTotalSeconds((o / 1000L).toInt))
        case "year" | "yyyy" | "yy" =>
          CalendarGrid(12, e.dataType, java.time.ZoneOffset.ofTotalSeconds((o / 1000L).toInt))
      }
        case Some(scala.util.Right(z)) =>
      unit.flatMap {
        case k @ ("minute" | "hour" | "week") =>
          zoneWalkGrid(z, k, 0, e.dataType, s"date_trunc('$k', ts)")
        case "day" | "dd" =>
          zoneWalkGrid(z, "day", 0, e.dataType, "date_trunc('day', ts)")
        case "month" | "mon" | "mm" =>
          zoneWalkGrid(z, "month", 1, e.dataType, "date_trunc('month', ts)")
        case "quarter" =>
          zoneWalkGrid(z, "month", 3, e.dataType, "date_trunc('quarter', ts)")
        case "year" | "yyyy" | "yy" =>
          zoneWalkGrid(z, "month", 12, e.dataType, "date_trunc('year', ts)")
        case _ => None
      }
      }
    case s: CreateNamedStruct => windowSlot(s, tsCol)
    case _ => None
  }

  /** Spark's own `GROUP BY window(ts, w)` — the TimeWindowing analyzer
    * rule turns a TUMBLING window (size == slide, zero start offset)
    * into a single named_struct grouping:
    *
    * {{{ named_struct('start', ptc(t − floorMod(t − 0, slideUs) − 0),
    *                  'end',   ptc(… + slideUs)) }}}
    *
    * with `t = ptc(ts)` in µs and floorMod spelled as the CASE-WHEN the
    * analyzer emits (`CASE WHEN m < 0 THEN m + slide ELSE m END`). Each
    * piece is verified structurally (the repeated subtrees with
    * `semanticEquals`), so only the exact tumbling-bucketing semantics
    * fold — anything else keeps the scan path. Sliding windows
    * (slide < size) go through Expand, never a single Aggregate
    * grouping, so they cannot reach this matcher. Returns the slot
    * width in ms, the grid offset (`startTime`, normalized into
    * `[0, w)`), and the struct type for the slot literal. */
  private def stripWin(e: Expression): Expression = e match {
    case KnownNullable(x) => stripWin(x)
    case KnownNotNull(x) => stripWin(x)
    case Subtract(x, Literal(0L, LongType), _) => stripWin(x)
    case _ => e
  }

  private def usLongLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  /** `t − floorMod(t − start, slide)` (the TimeWindowing bucketing core,
    * floorMod spelled as the analyzer's CASE-WHEN): (slideUs, startUs). */
  private def bucketOfWin(e: Expression): Option[(Long, Long)] = stripWin(e) match {
    case Subtract(tUs, CaseWhen(Seq((LessThan(m1, z), Add(m2, s1, _))), Some(m3)), _)
        if usLongLit(z).contains(0L) && m1.semanticEquals(m3) && m2.semanticEquals(m3) =>
      stripWin(m3) match {
        case Remainder(off, s2, _) =>
          for {
            slide <- usLongLit(s1)
            slide2 <- usLongLit(s2)
            if slide == slide2 && slide > 0
            start <- stripWin(off) match {
              case x if x.semanticEquals(stripWin(tUs)) => Some(0L)
              case Subtract(x, st, _) if x.semanticEquals(stripWin(tUs)) => usLongLit(st)
              case _ => None
            }
          } yield (slide, start)
        case _ => None
      }
    case _ => None
  }

  /** The registered ts column, µs-converted, is the only reference. */
  private def referencesOnlyTs(e: Expression, tsCol: String): Boolean =
    e.references.size == 1 && e.collectFirst {
      case PreciseTimestampConversion(t, _, LongType) if isTsCol(t, tsCol) => true
    }.contains(true)

  private def windowSlot(
      struct: CreateNamedStruct, tsCol: String): Option[SlotGrid] = {
    def strip(e: Expression): Expression = stripWin(e)
    def usLong(e: Expression): Option[Long] = usLongLit(e)
    def bucketOf(e: Expression): Option[(Long, Long)] = bucketOfWin(e)
    struct.children match {
      case Seq(Literal(n1, StringType), sE, Literal(n2, StringType), eE)
          if n1.toString == "start" && n2.toString == "end" =>
        (strip(sE), strip(eE)) match {
          case (PreciseTimestampConversion(sU, _, _),
                PreciseTimestampConversion(eU, _, _)) =>
            for {
              (slideUs, startUs) <- bucketOf(sU)
              endInner <- (strip(eU) match {
                case Add(x, s, _)
                    if usLong(s).contains(slideUs) && x.semanticEquals(sU) =>
                  Some(x)
                case _ => None
              })
              _ = endInner // end = start + slide, verified above
              // the ts inside must be the registered column, and the
              // buckets must land on our minute-aligned slot grid: both
              // the width AND the startTime offset must be whole minutes
              // (a '30 seconds' startTime shifts edges off the grid)
              if sU.references.size == 1 &&
                sU.collectFirst {
                  case PreciseTimestampConversion(t, _, LongType)
                      if isTsCol(t, tsCol) => true
                }.contains(true)
              if startUs % (MinuteMs * 1000L) == 0L &&
                slideUs % (MinuteMs * 1000L) == 0L
              w = slideUs / 1000L
              off = math.floorMod(startUs / 1000L, w)
            } yield FixedGrid(w, off, struct.dataType)
          case _ => None
        }
      case _ => None
    }
  }

  private def isUtcZone(z: String): Boolean =
    Set("UTC", "Etc/UTC", "GMT", "Z", "+00:00").contains(z)

  /** FIXED-offset zones (round 13, VERDICT r12 #8): `+05:30`,
    * `GMT+3`, `UTC` … → the constant offset in ms east of UTC — a
    * constant shift of every truncation boundary, which the grids can
    * express exactly. None for region zones with transition rules
    * (`America/New_York`, and even `Asia/Kolkata`, whose HISTORY has
    * transitions): their boundaries move mid-year, so folds must keep
    * the refusal. Offsets not aligned to the finest tier (historic
    * second-resolution offsets) also refuse — the index cannot answer
    * sub-minute boundaries. */
  private def fixedOffsetMs(zone: String): Option[Long] =
    (try {
      val rules = java.time.ZoneId.of(zone).getRules
      if (rules.isFixedOffset)
        Some(rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000L)
      else None
    } catch { case _: Throwable => None })
      .filter(_ % MinuteMs == 0)

  /** A zone-WALKED grid for `kind` (or `months > 0` calendar tiers)
    * under region zone `z` (round 14): the grid when the zone has a
    * sound floor ([[ZoneWalk.soundFloor]] — the fold legs then check
    * the query range against it via [[SlotGrid.soundFor]]), None with a
    * pinned reason when the zone's recurring rules themselves are
    * unsound or the id does not parse. */
  private def zoneWalkGrid(z: String, kind: String, months: Int,
      dt: DataType, what: String): Option[SlotGrid] = {
    val zid = try java.time.ZoneId.of(z) catch { case _: Throwable => null }
    if (zid == null) {
      if (gridBailNote.isEmpty) gridBailNote =
        s"$what: zone id '$z' does not parse — scan kept"
      return None
    }
    ZoneWalk.soundFloor(zid, kind, months) match {
      case Some(floor) =>
        Some(if (months > 0) CalendarGrid(months, dt, zid, floor)
        else ZoneTierGrid(kind, zid, dt, floor))
      case None =>
        if (gridBailNote.isEmpty) gridBailNote =
          s"$what truncates in zone '$z' whose offsets are not " +
            "minute-aligned (or whose recurring rules regress the " +
            "truncation) — zone-walked folds are unsound; scan kept"
        None
    }
  }

  private def floorMod(x: Long, m: Long): Long = ((x % m) + m) % m

  /** The optimizer runs with the querying session's SQLConf active. */
  private def sessionZone: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  /** The registered ts column itself — bare, through our read
    * pipeline's nanos-long → µs-timestamp rebuild, or through the
    * NTZ→timestamp cast the analyzer inserts (e.g. inside date_trunc
    * over an NTZ column) — value-identity ONLY under a UTC zone, which
    * is also the reading the build's normalizeTs applies. */
  /** True when `e` is NULL exactly when the raw ts column is: a chain
    * of null-propagating datetime/arithmetic nodes over the single ts
    * reference, with non-null (and, for division, non-zero) literal
    * operands — the shape of slot expressions whose inferred
    * `IsNotNull` conjunct is therefore implied by any ts range bound
    * and safe to ignore in [[rangeMs]]. Conservative: anything not in
    * the list (CASE, nullif, a second column) refuses. */
  private def nullIffTsNull(e: Expression, tsCol: String): Boolean = e match {
    case a: AttributeReference => a.name == tsCol
    case Cast(ch, _, _, _) => nullIffTsNull(ch, tsCol)
    case UnixMillis(ch) => nullIffTsNull(ch, tsCol)
    case UnixMicros(ch) => nullIffTsNull(ch, tsCol)
    case PreciseTimestampConversion(ch, _, _) => nullIffTsNull(ch, tsCol)
    case Multiply(l, Literal(v, _), _) if v != null => nullIffTsNull(l, tsCol)
    case Multiply(Literal(v, _), r, _) if v != null => nullIffTsNull(r, tsCol)
    case Add(l, Literal(v, _), _) if v != null => nullIffTsNull(l, tsCol)
    case Subtract(l, Literal(v, _), _) if v != null => nullIffTsNull(l, tsCol)
    case IntegralDivide(l, Literal(v: Long, _), _) if v != 0L => nullIffTsNull(l, tsCol)
    case IntegralDivide(l, Literal(v: Int, _), _) if v != 0 => nullIffTsNull(l, tsCol)
    case TruncTimestamp(Literal(v, _), ch, _) if v != null => nullIffTsNull(ch, tsCol)
    case _ => false
  }

  private def isTsCol(e: Expression, tsCol: String): Boolean = e match {
    // a bare NTZ column only folds under a UTC session: the build's
    // normalizeTs read its naive values in the session zone, so any
    // other zone shifts the index's epoch-ms domain (same guard as the
    // date_trunc grids)
    case a: AttributeReference =>
      a.name == tsCol &&
        (a.dataType != TimestampNTZType || isUtcZone(sessionZone))
    case Cast(a: AttributeReference, TimestampType, tz, _)
        if a.dataType == TimestampNTZType && tz.forall(isUtcZone) =>
      a.name == tsCol
    case MicrosToTimestamp(d: IntegralDivide) => (d.left, d.right) match {
      case (a: AttributeReference, Literal(1000L, LongType)) => a.name == tsCol
      case (a: AttributeReference, Literal(1000, IntegerType)) => a.name == tsCol
      case _ => false
    }
    case _ => false
  }

  /** The grouping-output literal for the slot `[s0, s1)`: epoch-ms
    * long, µs timestamp (tz or ntz) when the grouping was a
    * date_trunc, epoch-seconds long when the grouping cast a
    * timestamp grid to BIGINT, or the `window(ts, …)` start/end
    * struct. */
  private def slotLiteral(grid: SlotGrid, s0: Long, s1: Long): Literal =
    grid match {
      case SecondsKeyGrid(_) => Literal(s0 / 1000L, LongType)
      case g => g.slotType match {
        case st: StructType =>
          Literal(InternalRow(s0 * 1000L, s1 * 1000L), st)
        case dt @ (TimestampType | TimestampNTZType) =>
          Literal(s0 * 1000L, dt)
        // DATE keys (GROUP BY CAST(ts AS DATE)): days since epoch of
        // the LOCAL date — s0 + dateShiftMs is day-aligned by the grid
        // (shift 0 under UTC), so the division is exact; region zones
        // (round 14) read the local date through the zone rules
        case DateType => grid match {
          case z: ZoneTierGrid => Literal(z.localDateDays(s0), DateType)
          case f: FixedGrid =>
            Literal(((s0 + f.dateShiftMs) / 86400000L).toInt, DateType)
          case _ => Literal((s0 / 86400000L).toInt, DateType)
        }
        case _ => Literal(s0, LongType)
      }
    }

  private def wideLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Cast(inner, LongType, _, _) => wideLit(inner)
    case _ => None
  }

  /** The single Filter under the aggregate, reachable through
    * projection-only nodes (column pruning inserts Projects between the
    * aggregate and the pushed-down filter). */
  private def findFilter(p: LogicalPlan): Option[(Expression, LogicalPlan)] =
    p match {
      case Filter(c, ch) => Some((c, ch))
      case Project(_, ch) => findFilter(ch)
      case SubqueryAlias(_, ch) => findFilter(ch)
      case _ => None
    }

  /** Leaf file-source path, reachable through projection/filter-only
    * nodes down to a single file relation. */
  private def sourcePath(plan: LogicalPlan): Option[String] = plan match {
    case Project(_, c) => sourcePath(c)
    case Filter(_, c) => sourcePath(c)
    case SubqueryAlias(_, c) => sourcePath(c)
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.toList match {
        case single :: Nil => Some(single.toUri.getPath)
        case _ => None
      }
    case _ => None
  }

  /** Epoch-ms expression over the registered ts column, in the shapes
    * our read pipeline produces (see [[rangeMs]]): `unix_millis` over
    * any [[isTsCol]] spelling — bare attribute, the UTC-guarded
    * NTZ→timestamp cast the analyzer inserts over naive parquet
    * columns, or the nanos-long µs rebuild. */
  private def isTsMs(e: Expression, tsCol: String): Boolean = e match {
    case UnixMillis(inner) => isTsCol(inner, tsCol)
    case _ => false
  }

  /** Extract the (possibly half-bounded) epoch-ms range if the filter is
    * exactly a lower and/or an upper bound on the registered ts column
    * (plus any IsNotNull(ts) conjuncts the optimizer infers from them).
    * A missing bound is None — the caller fills it with the index span
    * (a lower-only filter IS uwheel's landmark window `[t, watermark)`).
    *
    * The ts side is accepted in the shapes our read pipeline produces
    * after predicate pushdown: `unix_millis(ts)` over a timestamp column
    * or over the nanos-long µs rebuild (compared to a ms long literal),
    * or the ts column itself — bare or µs-rebuilt — compared to a µs
    * timestamp literal. The literal side only needs to be a timestamp
    * AFTER constant folding, so `TIMESTAMP '…'`, `DATE '…'`, `'2022-01-05'`
    * (string promotion) and `to_timestamp('…')` all qualify: this rule
    * runs in the user-provided batch, after folding collapsed their casts.
    * Closed upper bounds (`<=`, `BETWEEN`) ARE accepted for the
    * ms-domain `unix_millis(ts)` spelling (round 12): unix_millis floors
    * to ms, so `unix_millis(ts) <= E` ⇔ `ts < E+1 ms` exactly at any
    * sub-ms precision (and symmetrically `> A` ⇔ `ts >= A+1 ms`).
    *
    * ROUND 14 (VERDICT r13 #2): the extraction now works in the µS
    * DOMAIN ([[rangeUs]]), so direct-timestamp closed/strict bounds
    * (`ts <= TIMESTAMP 'x'` ⇔ `ts < x+1 µs`, `ts > 'x'` ⇔ `>= x+1 µs`)
    * and sub-ms literals are all accepted as exact half-open µs ranges.
    * [[rangeMs]] remains the ms-expressible view for the plan-time fold
    * paths; bounds the ms wheel cannot express route through the HYBRID
    * residue folds, whose edge scans carry exact µs literals. */
  private def rangeUs(
      cond: Expression, tsCol: String): Option[(Option[Long], Option[Long])] = {
    def isTs(e: Expression): Boolean = isTsMs(e, tsCol)
    def msLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case _ => None
    }
    def usLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v)
      // NTZ µs literal: the naive wall value IS the UTC instant under
      // the build's normalizeTs cast (UTC sessions; same reading
      // DuckDB's epoch_ms takes on naive timestamps)
      case Literal(v: Long, TimestampNTZType) => Some(v)
      case _ => None
    }
    def lower(e: Expression): Option[Long] = e match {
      case GreaterThanOrEqual(l, r) if isTs(l) => msLit(r).map(_ * 1000L)
      case GreaterThanOrEqual(l, r) if isTsCol(l, tsCol) => usLit(r)
      case LessThanOrEqual(r, l) if isTs(l) => msLit(r).map(_ * 1000L)
      case LessThanOrEqual(r, l) if isTsCol(l, tsCol) => usLit(r)
      // STRICT lower: unix_millis floors to ms, so `unix_millis(ts) > A`
      // ⇔ `ts >= A+1 ms` EXACTLY at any sub-ms precision (round 12);
      // the direct-timestamp spelling is `>= x+1 µs` (round 14)
      case GreaterThan(l, r) if isTs(l) => msLit(r).map(v => (v + 1) * 1000L)
      case LessThan(r, l) if isTs(l) => msLit(r).map(v => (v + 1) * 1000L)
      case GreaterThan(l, r) if isTsCol(l, tsCol) => usLit(r).map(_ + 1)
      case LessThan(r, l) if isTsCol(l, tsCol) => usLit(r).map(_ + 1)
      case _ => None
    }
    def upper(e: Expression): Option[Long] = e match {
      case LessThan(l, r) if isTs(l) => msLit(r).map(_ * 1000L)
      case LessThan(l, r) if isTsCol(l, tsCol) => usLit(r)
      case GreaterThan(r, l) if isTs(l) => msLit(r).map(_ * 1000L)
      case GreaterThan(r, l) if isTsCol(l, tsCol) => usLit(r)
      // INCLUSIVE upper (the BETWEEN shape): `unix_millis(ts) <= E` ⇔
      // `ts < E+1 ms` (round 12); `ts <= TIMESTAMP 'x'` ⇔ `< x+1 µs`
      // (round 14)
      case LessThanOrEqual(l, r) if isTs(l) => msLit(r).map(v => (v + 1) * 1000L)
      case GreaterThanOrEqual(r, l) if isTs(l) => msLit(r).map(v => (v + 1) * 1000L)
      case LessThanOrEqual(l, r) if isTsCol(l, tsCol) => usLit(r).map(_ + 1)
      case GreaterThanOrEqual(r, l) if isTsCol(l, tsCol) => usLit(r).map(_ + 1)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(x, y) => conjuncts(x) ++ conjuncts(y)
      case other => Seq(other)
    }
    // drop the IsNotNull conjuncts the optimizer infers from the range
    // bounds — over the bare column, the raw nanos column (same name,
    // pre-rebuild), or the µs-rebuilt expression (TimeWindowing adds
    // that last one under GROUP BY window(ts, …)) — and from GROUPING
    // or JOIN keys over the slot arithmetic (InferFiltersFromConstraints
    // adds IsNotNull(slot-expr) when a folded series feeds a join):
    // any null-propagating arithmetic chain over the single ts
    // reference is null exactly when ts is, which the range bounds
    // already exclude
    val cs = conjuncts(cond).filterNot {
      case IsNotNull(a: AttributeReference) => a.name == tsCol
      case IsNotNull(e) => isTsCol(e, tsCol) || nullIffTsNull(e, tsCol)
      case _ => false
    }
    val lowers = cs.flatMap(c => lower(c))
    val uppers = cs.flatMap(c => upper(c))
    // all-notnull filter (cs empty) = no range constraint = full span
    if (lowers.size + uppers.size == cs.size && lowers.size <= 1 &&
        uppers.size <= 1)
      Some((lowers.headOption, uppers.headOption))
    else None
  }

  /** The ms-expressible view of [[rangeUs]] — the contract every
    * plan-time fold path (grids, OR-ranges, keyed/sliding shapes)
    * consumes. Bounds that are not whole ms (a direct-timestamp closed
    * bound's x+1 µs) refuse here and are served by the µs-residue
    * hybrid instead. */
  private def rangeMs(
      cond: Expression, tsCol: String): Option[(Option[Long], Option[Long])] =
    rangeUs(cond, tsCol).flatMap { case (lo, hi) =>
      if (lo.forall(_ % 1000L == 0) && hi.forall(_ % 1000L == 0))
        Some((lo.map(_ / 1000L), hi.map(_ / 1000L)))
      else None
    }

  /** Replace every aggregate call with its index-computed literal (and,
    * for grouped rewrites, the grouping key with the slot literal), then
    * constant-fold whatever scalar expression wrapped it (ROUND, casts,
    * arithmetic). `sketch` + `range` (round 11) additionally fold the
    * approximate spellings — `approx_count_distinct` / `percentile_approx`
    * / `approx_top_k` — from the registered sketch wheels over the
    * half-open `range` the caller is folding (the full statement range,
    * or the clipped cell/window for grouped callers). Returns None if
    * ANY aggregate is outside the supported family — the plan is then
    * left for normal execution. */
  /** The plan-time literal for ONE aggregate FUNCTION against a folded
    * partials map — the dispatch shared by [[foldRow]] and the
    * conditional-aggregate fold (round 14). None = outside the
    * supported family (callers record their own bail note; the sketch
    * cases may set foldBailNote for accuracy-gate refusals). */
  private def aggFnLit(fn: AggregateFunction,
      alls: Map[String, AllAggregate],
      sketch: Option[WheelAcceleration.SketchReg],
      spans: Seq[(Long, Long)]): Option[Expression] = {
    // Resolve an aggregate's input column to ITS registered measure's
    // partials (multi-measure registrations fold mixed-measure
    // statements; single-measure ones carry a one-entry map).
    def measure(e: Expression): Option[AllAggregate] = e match {
      case a: AttributeReference => alls.get(a.name)
      case _ => None
    }
    // every wheel over the same source covers the same rows, so any
    // measure's partial serves COUNT(*) (sketch-only registrations
    // carry no sum wheels: COUNT cannot fold)
    val anyAll = alls.valuesIterator.nextOption()
    def folded(c: Expression)(f: AllAggregate => Any): Option[Expression] =
      measure(c).map { all =>
        Literal(if (all.count == 0L) null else f(all), DoubleType)
      }
    fn match {
      case Sum(c, _) => folded(c)(_.sum)
      case Min(c) => folded(c)(_.min)
      case Max(c) => folded(c)(_.max)
      case Average(c, _) => folded(c)(_.avg)
      // COUNT(col) is the measure's NON-NULL count; COUNT(*)/COUNT(lit)
      // is the row count (nullable measures, round 11). Multi-arg
      // COUNT and COUNT(NULL) stay unsupported.
      case Count(cs) if cs.size == 1 && measure(cs.head).isDefined =>
        measure(cs.head).map(al => Literal(al.count, LongType))
      case Count(cs) if cs.forall {
          case Literal(v, _) => v != null
          case _ => false
        } =>
        anyAll.map(al => Literal(al.rows, LongType))
      // second moment from the CENTRAL m2 partial (round 11, ADVICE
      // r10): Chan-combined per slot, so the plan-time fold is
      // Welford-exact at ANY conditioning — the round-10/-early-11
      // ill-conditioned bail is gone from this path (only merge-form
      // recombinations, which SUM reconstructed Σx², still gate).
      // SAMP is NULL below two rows, so only the default
      // nullOnDivideByZero=true spelling folds.
      case VariancePop(c, _) => folded(c)(_.varPop)
      case StddevPop(c, _) => folded(c)(_.stddevPop)
      case VarianceSamp(c, true) => measure(c).flatMap(all =>
        if (all.count < 2) Some(Literal(null, DoubleType))
        else Some(Literal(all.varSamp, DoubleType)))
      case StddevSamp(c, true) => measure(c).flatMap(all =>
        if (all.count < 2) Some(Literal(null, DoubleType))
        else Some(Literal(all.stddevSamp, DoubleType)))
      case f => sketch.flatMap(sk => sketchLit(f, sk, spans))
    }
  }

  private def foldRow(
      aggExprs: Seq[NamedExpression],
      alls: Map[String, AllAggregate],
      groupSubst: Seq[(Seq[Expression], Literal)],
      sketch: Option[WheelAcceleration.SketchReg] = None,
      range: (Long, Long) = (0L, 0L),
      // additional disjoint spans (round 13, OR-ranges): the sketch
      // substitutions answer over the UNION of `range +: moreRanges`
      moreRanges: Seq[(Long, Long)] = Nil): Option[Seq[Any]] = {
    foldBailNote = ""
    var supported = true
    def lit(e: AggregateExpression): Expression = {
      if (e.isDistinct || e.filter.nonEmpty) {
        // the EXACT spellings (COUNT(DISTINCT …)) are deliberate
        // refusals; FILTER clauses over a time range are the
        // conditional fold's job ([[rewriteConditional]]) and refuse
        // here so a grouped/keyed caller keeps the scan honestly
        if (foldBailNote.isEmpty) foldBailNote =
          s"unsupported aggregate for plan-time fold: " +
            s"${e.aggregateFunction.prettyName} with DISTINCT/FILTER " +
            "(exact spellings never fold)"
        supported = false; return e
      }
      aggFnLit(e.aggregateFunction, alls, sketch, range +: moreRanges)
        .getOrElse {
          if (foldBailNote.isEmpty) foldBailNote =
            s"unsupported aggregate for plan-time fold: ${e.aggregateFunction.prettyName}"
          supported = false; e
        }
    }
    val folded = aggExprs.map { ne =>
      val substituted =
        if (groupSubst.isEmpty) ne
        else ne.transform {
          case e if groupSubst.exists(_._1.exists(e.semanticEquals)) =>
            groupSubst.find(_._1.exists(e.semanticEquals)).get._2
        }
      val replaced = substituted.transform { case e: AggregateExpression => lit(e) }
      if (!supported) return None
      if (replaced.exists(_.isInstanceOf[Attribute])) return None
      replaced.asInstanceOf[Expression].eval(InternalRow.empty)
    }
    Some(folded)
  }

  /** The APPROXIMATE aggregate spellings, folded sketch-for-sketch from
    * the registered sketch wheels over the minute-aligned `[a, b)`
    * (round 11, VERDICT r10 #1): these functions are declared
    * approximate, so answering Spark's HLL++/QuantileSummaries/
    * frequent-items estimate with the wheel's Theta/KLL/Misra-Gries
    * estimate is semantically honest — and in the sketches' exact
    * regimes (under the Theta nominal / KLL buffer / MG counter budget)
    * the answers are EXACT, which is what makes the driver rows
    * oracle-checkable. The exact spellings (`COUNT(DISTINCT …)`,
    * `percentile_disc`) deliberately have no case here and keep the
    * scan. Ranges clamp to the indexed span (no data lives outside);
    * an empty clamp yields each function's empty-input value (0 /
    * NULL / empty array). None = not an approx spelling, or its input
    * column has no registered wheel — caller bails to the scan.
    *
    * ACCURACY GATE (late round 11): the approximate functions carry a
    * requested tolerance (`rsd` / `accuracy` / `maxItemsTracked`), and
    * sketch-for-sketch substitution is only honest while the wheel's
    * guarantee is AT LEAST AS TIGHT as what the query asked for. In the
    * sketches' exact regimes that holds trivially (the wheel answer is
    * exact — tighter than any tolerance); in the estimation regime each
    * case compares its wheel's bound against the request — Theta's
    * realized 1-σ bound for THIS merged range vs `rsd` (itself a 1-σ
    * figure), the KLL k=200 normalized rank error vs `1/accuracy`, the
    * Misra-Gries counter budget vs the budget Spark would allocate for
    * `maxItemsTracked` — and keeps the scan when the request is
    * tighter, with the reason queryable via
    * [[WheelAcceleration.lastBailReason]]. */
  private def sketchLit(f: AggregateFunction,
      sk: WheelAcceleration.SketchReg,
      spans: Seq[(Long, Long)]): Option[Expression] = {
    def inputCol(e: Expression): Option[String] = e match {
      case at: AttributeReference => Some(at.name)
      case _ => None
    }
    // every requested span clipped to the wheel's coverage — the
    // OR-ranges fold (round 13) passes SEVERAL disjoint pre-merged
    // spans; each sketch family merges its per-span range sketches
    // (all three are mergeable, so the union-range answer equals one
    // sketch built over the concatenated data)
    def clampAll(cover: (Long, Long)): Seq[(Long, Long)] =
      spans.flatMap { case (a, b) =>
        val lo = math.max(a, cover._1)
        val hi = math.min(b, cover._2)
        if (lo < hi) Some((lo, hi)) else None
      }
    def gateBail(msg: String): Option[Expression] = {
      foldBailNote = msg
      None
    }
    f match {
      case hll: HyperLogLogPlusPlus =>
        inputCol(hll.child).flatMap(sk.distinct.get).flatMap { w =>
          clampAll((w.baseMs, w.horizonMs)) match {
            case Seq() => Some(Literal(0L, LongType))
            case clamped =>
              val cs =
                if (clamped.size == 1)
                  w.rangeSketch(clamped.head._1, clamped.head._2)
                else {
                  val u = org.apache.datasketches.theta.SetOperation
                    .builder().buildUnion()
                  clamped.foreach { case (lo, hi) =>
                    u.union(w.rangeSketch(lo, hi)) }
                  u.getResult
                }
              val est = cs.getEstimate
              // realized 1-σ relative bound of the merged Theta sketch
              // (0 in the exact regime)
              val rse =
                if (!cs.isEstimationMode || est <= 0) 0.0
                else math.max(cs.getUpperBound(1) / est - 1.0,
                  1.0 - cs.getLowerBound(1) / est)
              if (rse <= hll.relativeSD + 1e-12)
                Some(Literal(math.round(est), LongType))
              else gateBail(f"approx_count_distinct requested rsd " +
                f"${hll.relativeSD}%.4f but the Theta wheel's realized " +
                f"bound over this range is $rse%.4f — scan kept")
          }
        }
      case ap: ApproximatePercentile =>
        inputCol(ap.child).flatMap(sk.quantile.get).flatMap { w =>
          // merged once; empty/out-of-span ranges fold to SQL NULL,
          // matching percentile_approx over zero rows. KLL merge is
          // associative, so several disjoint spans merge exactly.
          val sketch = {
            val parts = clampAll((w.baseMs, w.horizonMs))
              .map { case (lo, hi) => w.rangeSketch(lo, hi) }
              .filter(!_.isEmpty)
            if (parts.isEmpty) None
            else if (parts.size == 1) Some(parts.head)
            else {
              val m = org.apache.datasketches.kll.KllDoublesSketch
                .newHeapInstance(graft.wheel.QuantileWheel.K)
              parts.foreach(m.merge)
              Some(m)
            }
          }
          val requestedEps = ap.accuracyExpression.eval(InternalRow.empty) match {
            case i: java.lang.Integer => 1.0 / math.max(1, i.intValue())
            case l: java.lang.Long => 1.0 / math.max(1L, l.longValue()).toDouble
            case _ => 0.0 // unknown accuracy spelling: strictest reading
          }
          val wheelEps = org.apache.datasketches.kll.KllSketch
            .getNormalizedRankError(graft.wheel.QuantileWheel.K, false)
          if (sketch.exists(_.isEstimationMode) && requestedEps + 1e-12 < wheelEps)
            gateBail(f"percentile_approx requested accuracy " +
              f"${1.0 / math.max(requestedEps, 1e-300)}%.0f (rank error " +
              f"$requestedEps%.6f) but the KLL wheel guarantees only " +
              f"$wheelEps%.4f in its estimation regime — scan kept")
          else ap.percentageExpression.eval(InternalRow.empty) match {
            // the percentage literal is foldable by construction (Spark
            // requires it); scalar and array spellings both fold
            case d: java.lang.Double =>
              Some(Literal(sketch.map(_.getQuantile(d): Any).orNull, DoubleType))
            case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
              val out: Any = sketch
                .map(s => arr.toDoubleArray().map(s.getQuantile(_): Any))
                .map(vs => new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
                .orNull
              Some(Literal(out, ap.dataType))
            case _ => None
          }
        }
      case tk: ApproxTopK =>
        inputCol(tk.expr)
          // the MG wheel's key domain is long; other item types scan
          .filter(_ => tk.expr.dataType == LongType)
          .flatMap(sk.freq.get).flatMap { w =>
            val kOpt = tk.k.eval(InternalRow.empty) match {
              case i: java.lang.Integer => Some(i.intValue())
              case l: java.lang.Long => Some(l.intValue())
              case _ => None
            }
            kOpt.flatMap { k =>
              clampAll((w.baseMs, w.horizonMs)) match {
                case Seq() => Some(Literal(
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(
                    Array.empty[Any]), tk.dataType))
                case clamped =>
                  val tracked = tk.maxItemsTracked.eval(InternalRow.empty) match {
                    case i: java.lang.Integer => i.intValue()
                    case l: java.lang.Long => l.intValue()
                    case _ => ApproxTopK.DEFAULT_MAX_ITEMS_TRACKED
                  }
                  val trackedEff =
                    if (tracked <= 0) ApproxTopK.DEFAULT_MAX_ITEMS_TRACKED
                    else tracked
                  val exact = w.maximumErrorSpans(clamped) == 0L
                  val budgetOk = graft.wheel.FrequencyWheel.MaxMapSize >=
                    ApproxTopK.calMaxMapSize(trackedEff)
                  if (!exact && !budgetOk)
                    gateBail(s"approx_top_k tracks $trackedEff items " +
                      s"(map size ${ApproxTopK.calMaxMapSize(trackedEff)}) " +
                      s"but the Misra-Gries wheel's budget is " +
                      s"${graft.wheel.FrequencyWheel.MaxMapSize} and this " +
                      "range is past its exact regime — scan kept")
                  else {
                    // deterministic order: estimate desc, key asc
                    // (FrequencyWheel.topK's contract) — ties at the
                    // boundary resolve by key
                    val rows: Array[Any] = w.topKSpans(clamped, k)
                      .map { case (key, est, _, _) => InternalRow(key, est): Any }
                      .toArray
                    Some(Literal(
                      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows),
                      tk.dataType))
                  }
              }
            }
          }
      case _ => None
    }
  }
}
