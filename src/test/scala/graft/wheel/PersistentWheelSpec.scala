package graft.wheel

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plans.WheelAcceleration
import graft.queries.Q

/** Disk-persisted wheel index: save → load parity, fingerprint-gated
  * reuse, stale-source rebuild, and the SQL rewrite serving a LOADED
  * index. The load path must never touch the source (proved by
  * tampering the persisted partials and observing the tampered answer). */
class PersistentWheelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001
  private val eventsPath = s"$dir/events.parquet"
  private def events = Q.t(spark, dir, "events")

  private def fixtureDir(name: String): String =
    new java.io.File(s"target/test-fixtures/pwheel/$name").getAbsolutePath

  /** The CURRENT slots payload path of a persisted dir — resolved
    * through the sidecar, since round 11's atomic save names each
    * payload `slots-<uuid>.parquet`. */
  private def slotsDirOf(idxDir: String): String =
    s"$idxDir/${PersistentWheel.peek(spark, idxDir).get.slotsDir}"

  test("save -> load round trip: loaded index answers exactly like a fresh build") {
    val idxDir = fixtureDir("roundtrip")
    val fresh = WheelIndex.buildMulti(events, "ts", Seq("value"))("value")
    val saved = PersistentWheel.save(
      spark, idxDir, events, "ts", Seq("value"), sourceFingerprint = "fp-roundtrip")
    val (meta, loaded) = PersistentWheel.load(spark, idxDir, Some(events))

    assert(meta.sourceFingerprint == "fp-roundtrip")
    assert(meta.tsCol == "ts" && meta.valueCols == Seq("value"))

    for (idx <- Seq(saved("value"), loaded("value"))) {
      assert(idx.baseMs == fresh.baseMs && idx.horizonMs == fresh.horizonMs)
      // aligned ranges: pure index reads on both sides, bit-identical
      for ((a, b) <- Seq((Q.R1Start, Q.R1End), (Q.R2Start, Q.R2End),
          (fresh.baseMs, fresh.horizonMs))) {
        assert(idx.query(a, b) == fresh.query(a, b), s"[$a,$b)")
      }
      // unaligned range: the residue fallback re-armed from the source
      val got = idx.query(Q.R1Start + 500, Q.R1End - 500)
      val want = fresh.query(Q.R1Start + 500, Q.R1End - 500)
      assert(got == want)
    }
    // without a residue source, aligned ranges still answer...
    val (_, bare) = PersistentWheel.load(spark, idxDir)
    assert(bare("value").query(Q.R1Start, Q.R1End) == fresh.query(Q.R1Start, Q.R1End))
    // ...and unaligned ones fail loudly instead of guessing
    intercept[IllegalArgumentException] {
      bare("value").query(Q.R1Start + 500, Q.R1End)
    }
  }

  test("registerPersisted serves the DISK copy when the fingerprint matches (no rebuild)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val src = fixtureDir("srv/events.parquet")
    val idxDir = fixtureDir("srv/index")
    Seq((new java.sql.Timestamp(Q.Jan1), 1.5),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.5))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    def q() = {
      spark.read.parquet(src).createOrReplaceTempView("ev_pers")
      spark.sql("SELECT SUM(value) AS s, COUNT(*) AS n FROM ev_pers " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 120000L}")
    }
    def folded(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty

    // first call: nothing persisted yet -> build + save
    WheelAcceleration.registerPersisted(spark, src, idxDir, spark.read.parquet(src))
    val first = q()
    assert(folded(first) && first.collect()(0).getDouble(0) == 4.0)

    // tamper the persisted partials (double every sum; counts untouched)
    // through savePartials, so the sidecar's slots binding stays
    // CONSISTENT (a raw slots overwrite is a torn save and correctly
    // rebuilds — covered by its own test below); the source and its
    // fingerprint are unchanged, so the next registration MUST serve
    // the tampered disk copy — the only way that answer appears is the
    // load path, never a rebuild
    val slots = spark.read.parquet(slotsDirOf(idxDir)).collect()
    val schema = spark.read.parquet(slotsDirOf(idxDir)).schema
    val doubled = slots.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v: Double, i) if schema(i).name == "sum_value" => v * 2
        case (v, _) => v
      })
    }
    val meta0 = PersistentWheel.peek(spark, idxDir).get
    PersistentWheel.savePartials(spark, idxDir,
      spark.createDataFrame(
        spark.sparkContext.parallelize(doubled.toIndexedSeq), schema),
      meta0.tsCol, meta0.valueCols, meta0.sourceFingerprint, meta0.sourcePath)

    WheelAcceleration.clear()
    WheelAcceleration.registerPersisted(spark, src, idxDir, spark.read.parquet(src))
    val served = q()
    assert(folded(served))
    assert(served.collect()(0).getDouble(0) == 8.0, "must come from the disk copy")
    assert(served.collect()(0).getLong(1) == 2L)
    WheelAcceleration.clear()
  }

  test("tail refresh requires the raw reading pipeline; a transformed events pipeline full-rebuilds (round 11, ADVICE r10)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def setup(name: String): (String, String) = {
      val src = fixtureDir(s"$name/events.parquet")
      val idxDir = fixtureDir(s"$name/index")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      // the source carries an EXTRA column the transformed pipeline
      // projects away — the schema-visible divergence class
      Seq((ts(Q.Jan1), 1.5, "a"), (ts(Q.Jan1 + 60000L), 2.5, "b"))
        .toDF("ts", "value", "junk").write.mode("overwrite").parquet(src)
      (src, idxDir)
    }
    def append(src: String): Unit =
      Seq((ts(Q.Jan1 + 120000L), 4.0, "c"))
        .toDF("ts", "value", "junk").write.mode("append").parquet(src)

    // TRANSFORMED pipeline (projection): the append-only refresh must
    // REFUSE (raw tail read ≠ the pipeline) and take the full rebuild,
    // which uses the events pipeline itself
    val (src1, idx1) = setup("pipe-proj")
    def projected = spark.read.parquet(src1).select("ts", "value")
    WheelAcceleration.registerPersisted(spark, src1, idx1, projected)
    append(src1)
    WheelAcceleration.clear()
    WheelAcceleration.registerPersisted(spark, src1, idx1, projected)
    assert(WheelAcceleration.lastOutcome(src1, WheelAcceleration.Family.Sum)
      .contains(WheelAcceleration.FullBuild),
      WheelAcceleration.lastOutcome(src1, WheelAcceleration.Family.Sum).toString)
    assert(PersistentWheel.load(spark, idx1)._2("value")
      .query(Q.Jan1, Q.Jan1 + 180000L).sum == 8.0)

    // control: the RAW pipeline on the same shape tail-refreshes
    val (src2, idx2) = setup("pipe-raw")
    def raw = spark.read.parquet(src2)
    WheelAcceleration.registerPersisted(spark, src2, idx2, raw)
    append(src2)
    WheelAcceleration.clear()
    WheelAcceleration.registerPersisted(spark, src2, idx2, raw)
    assert(WheelAcceleration.lastOutcome(src2, WheelAcceleration.Family.Sum).exists(
      _.isInstanceOf[WheelAcceleration.TailRefresh]),
      WheelAcceleration.lastOutcome(src2, WheelAcceleration.Family.Sum).toString)
    assert(PersistentWheel.load(spark, idx2)._2("value")
      .query(Q.Jan1, Q.Jan1 + 180000L).sum == 8.0)
    WheelAcceleration.clear()
  }

  test("ATOMIC save: a crash mid-save leaves the PREVIOUS index servable (round 11)") {
    import spark.implicits._
    val src = fixtureDir("atomic/events.parquet")
    val idxDir = fixtureDir("atomic/index")
    Seq((new java.sql.Timestamp(Q.Jan1), 1.5),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.5))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    PersistentWheel.save(spark, idxDir, spark.read.parquet(src),
      "ts", Seq("value"), sourceFingerprint = "fp-atomic")
    val goodSlots = PersistentWheel.peek(spark, idxDir).get.slotsDir

    // simulate the crash window: a NEW payload fully written and a
    // staged sidecar that never renamed into place
    val (_, partials) = PersistentWheel.loadPartials(spark, idxDir)
    partials.withColumn("sum_value", col("sum_value") * 2)
      .coalesce(1).write.parquet(s"$idxDir/slots-crashed.parquet")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idxDir/.meta-crashed.tmp"),
      "half-written".getBytes("UTF-8"))

    // the sidecar still points at the OLD complete payload: the load
    // serves it — no tear, no rebuild (the round-10 layout would have
    // rejected the dir here and forced a rebuild)
    val (meta, wheels) = PersistentWheel.load(spark, idxDir)
    assert(meta.slotsDir == goodSlots)
    assert(wheels("value").query(Q.Jan1, Q.Jan1 + 120000L).sum == 4.0)

    // the next save swaps atomically and sweeps the orphans
    PersistentWheel.save(spark, idxDir, spark.read.parquet(src),
      "ts", Seq("value"), sourceFingerprint = "fp-atomic2")
    val names = new java.io.File(idxDir).listFiles().map(_.getName).toSet
    assert(names.count(_.startsWith("slots-")) == 1, names)
    assert(!names.exists(n => n.startsWith(".meta-") && n.endsWith(".tmp")), names)
    assert(PersistentWheel.load(spark, idxDir)._2("value")
      .query(Q.Jan1, Q.Jan1 + 120000L).sum == 4.0)
  }

  test("a TORN save (slots rewritten, sidecar stale) is rejected and rebuilt (round 10)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val src = fixtureDir("torn/events.parquet")
    val idxDir = fixtureDir("torn/index")
    Seq((new java.sql.Timestamp(Q.Jan1), 1.5),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.5))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    WheelAcceleration.registerPersisted(spark, src, idxDir, spark.read.parquet(src))
    WheelAcceleration.clear()

    // simulate a manual tamper (or a pre-round-11 crash shape): the
    // CURRENT slots payload is overwritten (with doubled sums) behind
    // the sidecar's back — its slotsFingerprint still describes the
    // previous bytes
    val slotsPath = slotsDirOf(idxDir)
    val slots = spark.read.parquet(slotsPath).collect()
    val schema = spark.read.parquet(slotsPath).schema
    val doubled = slots.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v: Double, i) if schema(i).name == "sum_value" => v * 2
        case (v, _) => v
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(doubled.toIndexedSeq), schema)
      .coalesce(1).write.mode("overwrite").parquet(slotsPath)

    // a direct load fails loudly instead of serving the torn partials
    intercept[IllegalArgumentException] {
      PersistentWheel.load(spark, idxDir)
    }

    // the registration path falls back to a source rebuild: the answer
    // is the TRUE sum (4.0), never the torn disk copy's 8.0
    WheelAcceleration.registerPersisted(spark, src, idxDir, spark.read.parquet(src))
    spark.read.parquet(src).createOrReplaceTempView("ev_torn")
    val served = spark.sql("SELECT SUM(value) AS s FROM ev_torn " +
      s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 120000L}")
    assert(served.collect()(0).getDouble(0) == 4.0, "must rebuild, not serve torn slots")
    // ...and the rebuild re-saved a CONSISTENT copy
    assert(PersistentWheel.load(spark, idxDir)._2("value")
      .query(Q.Jan1, Q.Jan1 + 120000L).sum == 4.0)
    WheelAcceleration.clear()
  }

  test("stale recorded fingerprint -> rebuild from source and re-save") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val src = fixtureDir("stale/events.parquet")
    val idxDir = fixtureDir("stale/index")
    def write(v: Double): Unit =
      Seq((new java.sql.Timestamp(Q.Jan1), v), (new java.sql.Timestamp(Q.Jan1 + 60000L), v))
        .toDF("ts", "value").write.mode("overwrite").parquet(src)
    def sumNow(): Double = {
      spark.read.parquet(src).createOrReplaceTempView("ev_stale_p")
      spark.sql("SELECT SUM(value) AS s FROM ev_stale_p " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 120000L}")
        .collect()(0).getDouble(0)
    }

    write(1.0)
    WheelAcceleration.registerPersisted(spark, src, idxDir, spark.read.parquet(src))
    assert(sumNow() == 2.0)
    val fpBefore = PersistentWheel.peek(spark, idxDir).get.sourceFingerprint

    Thread.sleep(10) // distinguishable mtime
    write(5.0)
    WheelAcceleration.clear()
    // recorded fingerprint no longer matches the files -> rebuild path
    WheelAcceleration.registerPersisted(spark, src, idxDir, spark.read.parquet(src))
    assert(sumNow() == 10.0)
    val fpAfter = PersistentWheel.peek(spark, idxDir).get.sourceFingerprint
    assert(fpAfter != fpBefore, "re-save must record the new source fingerprint")
    WheelAcceleration.clear()
  }

  test("keyed save -> load parity: loaded keyed index answers exactly like a fresh build (round 8)") {
    val idxDir = fixtureDir("keyed-roundtrip")
    val fresh = KeyedWheelIndex.build(events, "event_type", "ts", "value")
    val saved = PersistentWheel.saveKeyed(
      spark, idxDir, events, "event_type", "ts", "value", "fp-keyed")
    val (meta, loaded) = PersistentWheel.loadKeyed(spark, idxDir)
    assert(meta.kind == PersistentWheel.KeyedKind)
    assert(meta.valueCols == Seq("event_type", "value"))
    for (idx <- Seq(saved, loaded)) {
      assert(idx.keys == fresh.keys)
      assert(idx.keyType == fresh.keyType)
      for {
        key <- fresh.keys
        (a, b) <- Seq((Q.R1Start, Q.R1End), (Q.R2Start, Q.R2End))
      } assert(idx.query(key, a, b) == fresh.query(key, a, b), s"$key [$a,$b)")
    }
  }

  test("HLL save -> load parity: loaded distinct wheel estimates exactly match (round 8)") {
    val idxDir = fixtureDir("hll-roundtrip")
    val fresh = DistinctWheel.build(events, "ts", "user_id")
    val saved = PersistentWheel.saveDistinct(
      spark, idxDir, events, "ts", "user_id", "fp-hll")
    val (meta, loaded) = PersistentWheel.loadDistinct(spark, idxDir)
    assert(meta.kind == PersistentWheel.HllKind)
    assert(meta.valueCols == Seq("user_id"))
    for (idx <- Seq(saved, loaded)) {
      assert(idx.baseMs == fresh.baseMs && idx.horizonMs == fresh.horizonMs)
      // HLL union is register-wise max — order-insensitive — so the
      // round-tripped sketches must estimate EXACTLY, not approximately
      for ((a, b) <- Seq((Q.R1Start, Q.R1End), (Q.R2Start, Q.R2End),
          (fresh.baseMs, fresh.horizonMs)))
        assert(idx.queryDistinct(a, b) == fresh.queryDistinct(a, b), s"[$a,$b)")
    }
  }

  test("keyed sketch save -> load parity: per-dim wheels persist (late round 11)") {
    // Theta per dim: exact regime (15 users), Theta below the nominal
    // retains every hash — loaded estimates must EXACTLY match a fresh
    // independent build per (dim, range)
    val cDir = fixtureDir("keyedtheta-roundtrip")
    val cFresh = KeyedSketchWheels.buildCohort(events, "event_type", "ts", "user_id")
    PersistentWheel.saveKeyedCohort(
      spark, cDir, events, "event_type", "ts", "user_id", "fp-kc")
    val (cMeta, cLoaded) = PersistentWheel.loadKeyedCohort(spark, cDir)
    assert(cMeta.kind == PersistentWheel.KeyedThetaKind)
    assert(cMeta.valueCols == Seq("event_type", "user_id"))
    assert(cLoaded.keySet == cFresh.keySet && cLoaded.nonEmpty)
    for (d <- cLoaded.keySet)
      assert(cLoaded(d).distinct(Q.R1Start, Q.R1End) ==
        cFresh(d).distinct(Q.R1Start, Q.R1End), s"dim $d")

    // Misra-Gries per dim: merge is deterministic — loaded top-k equals
    // the fresh build's per (dim, range)
    val fDir = fixtureDir("keyedmg-roundtrip")
    val fFresh = KeyedSketchWheels.buildFrequency(events, "event_type", "ts", "user_id")
    PersistentWheel.saveKeyedFrequency(
      spark, fDir, events, "event_type", "ts", "user_id", "fp-kf")
    val (fMeta, fLoaded) = PersistentWheel.loadKeyedFrequency(spark, fDir)
    assert(fMeta.kind == PersistentWheel.KeyedMgKind)
    assert(fLoaded.keySet == fFresh.keySet)
    for (d <- fLoaded.keySet)
      assert(fLoaded(d).topK(Q.R1Start, Q.R1End, 3) ==
        fFresh(d).topK(Q.R1Start, Q.R1End, 3), s"dim $d")

    // KLL per dim: compaction is internally randomized, so independent
    // aggregations may retain different items — assert the recorded
    // sidecar shape and answer-level agreement within the documented
    // rank-error envelope (the same claim the unkeyed KLL test makes)
    val qDir = fixtureDir("keyedkll-roundtrip")
    val qFresh = KeyedSketchWheels.buildQuantile(events, "event_type", "ts", "value")
    PersistentWheel.saveKeyedQuantile(
      spark, qDir, events, "event_type", "ts", "value", "fp-kq")
    val (qMeta, qLoaded) = PersistentWheel.loadKeyedQuantile(spark, qDir)
    assert(qMeta.kind == PersistentWheel.KeyedKllKind)
    assert(qMeta.valueCols == Seq("event_type", "value"))
    assert(qLoaded.keySet == qFresh.keySet)
    for (d <- qLoaded.keySet) {
      val got = qLoaded(d).queryQuantiles(Q.R1Start, Q.R1End, Seq(0.25, 0.5, 0.9))
      val want = qFresh(d).queryQuantiles(Q.R1Start, Q.R1End, Seq(0.25, 0.5, 0.9))
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 0.35 * math.max(math.abs(w), 1.0),
          s"dim $d: $got vs $want")
      }
    }
  }

  test("KLL / Theta / MG save -> load parity: every sketch family persists (round 8)") {
    // The persistence claim is BYTE fidelity: a wheel rolled up from a
    // set of minute sketches answers identically to one rolled up from
    // the same sketches after the parquet+sidecar round trip. (Two
    // INDEPENDENT aggregation jobs are not comparable for KLL — merge
    // order inside the shuffle legitimately perturbs which items the
    // sketch retains — so the round trip is driven from ONE collected
    // sketch set, via the same saveSlots the saveX APIs funnel through.)
    def roundTrip[W](name: String, kind: String,
        slots: org.apache.spark.sql.DataFrame,
        fromRows: Array[org.apache.spark.sql.Row] => W,
        loadX: String => W): (W, W) = {
      val idxDir = fixtureDir(s"$name-roundtrip")
      val collected = slots.collect()
      PersistentWheel.saveSlots(spark, idxDir, kind,
        spark.createDataFrame(
          spark.sparkContext.parallelize(collected.toIndexedSeq), slots.schema),
        "ts", Seq("c"), "fp-" + name, sourcePath = "")
      assert(PersistentWheel.peek(spark, idxDir).get.kind == kind)
      // the core fidelity claim, family-independent: every persisted
      // minute sketch comes back BYTE-identical
      val before = collected.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      val after = spark.read.parquet(slotsDirOf(idxDir))
        .select("slot_ms", "sk").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(after.keySet == before.keySet, name)
      before.foreach { case (slot, bytes) =>
        assert(java.util.Arrays.equals(after(slot), bytes), s"$name slot $slot")
      }
      (fromRows(collected), loadX(idxDir))
    }

    // KLL: compaction is internally RANDOMIZED (random parity per
    // compaction), so two roll-ups of even identical minute sketches
    // may retain different items — the byte check above is the exact
    // claim; at answer level assert agreement within the sketch's
    // documented normalized rank error against the fresh roll-up.
    val (qFresh, qLoaded) = roundTrip("kll", PersistentWheel.KllKind,
      QuantileWheel.slotSketches(events, "ts", "value"),
      rows => QuantileWheel.fromMinuteSketches(rows, Map.empty),
      d => PersistentWheel.loadQuantile(spark, d)._2)
    for ((a, b) <- Seq((Q.R1Start, Q.R1End), (Q.RqStart, Q.RqEnd))) {
      val got = qLoaded.queryQuantiles(a, b, Seq(0.25, 0.5, 0.9))
      val want = qFresh.queryQuantiles(a, b, Seq(0.25, 0.5, 0.9))
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 0.35 * math.max(math.abs(w), 1.0),
          s"[$a,$b): $got vs $want")
      }
    }

    val (cFresh, cLoaded) = roundTrip("theta", PersistentWheel.ThetaKind,
      CohortWheel.slotSketches(events, "ts", "user_id"),
      rows => CohortWheel.fromMinuteSketches(rows, Map.empty),
      d => PersistentWheel.loadCohort(spark, d)._2)
    val (fA, fB) = (cFresh.rangeSketch(Q.R1Start, Q.R1End),
      cFresh.rangeSketch(Q.R1End, Q.R1End + 7 * Q.Day))
    val (lA, lB) = (cLoaded.rangeSketch(Q.R1Start, Q.R1End),
      cLoaded.rangeSketch(Q.R1End, Q.R1End + 7 * Q.Day))
    assert(lA.getEstimate == fA.getEstimate && lB.getEstimate == fB.getEstimate)
    assert(CohortWheel.intersectCount(lA, lB) == CohortWheel.intersectCount(fA, fB))

    val (fFresh, fLoaded) = roundTrip("mg", PersistentWheel.MgKind,
      FrequencyWheel.slotSketches(events, "ts", "user_id"),
      rows => FrequencyWheel.fromMinuteSketches(rows, Map.empty),
      d => PersistentWheel.loadFrequency(spark, d)._2)
    for ((a, b) <- Seq((Q.R1Start, Q.R1End), (Q.R2Start, Q.R2End)))
      assert(fLoaded.topK(a, b, 5) == fFresh.topK(a, b, 5), s"[$a,$b)")

    // the one-aggregation saveX APIs produce loadable dirs of their kind
    val qApiDir = fixtureDir("kll-api")
    val viaApi = PersistentWheel.saveQuantile(spark, qApiDir, events, "ts", "value", "fp-api")
    assert(PersistentWheel.peek(spark, qApiDir).get.kind == PersistentWheel.KllKind)
    // KLL tier roll-up at load time is randomized (see the comment above the
    // kll round-trip): the wheel returned by saveQuantile and a second load of
    // the same directory legitimately retain different items, so compare
    // within the sketch's normalized rank error — never exactly.
    val apiGot = viaApi.queryQuantiles(Q.R1Start, Q.R1End, Seq(0.5))
    val apiWant = PersistentWheel.loadQuantile(spark, qApiDir)._2
      .queryQuantiles(Q.R1Start, Q.R1End, Seq(0.5))
    apiGot.zip(apiWant).foreach { case (g, w) =>
      assert(math.abs(g - w) <= 0.35 * math.max(math.abs(w), 1.0),
        s"saveQuantile vs loadQuantile p50: $apiGot vs $apiWant")
    }

    // cross-family kind gate holds inside the sketch family too
    intercept[IllegalArgumentException] {
      PersistentWheel.loadQuantile(spark, fixtureDir("theta-roundtrip"))
    }
  }

  test("a directory saved by one family is refused by every other (kind gate)") {
    val sumDir = fixtureDir("kind/sum")
    val keyedDir = fixtureDir("kind/keyed")
    PersistentWheel.save(spark, sumDir, events, "ts", Seq("value"), "fp-k1")
    PersistentWheel.saveKeyed(
      spark, keyedDir, events, "event_type", "ts", "value", "fp-k2")
    intercept[IllegalArgumentException] {
      PersistentWheel.loadKeyed(spark, sumDir)
    }
    intercept[IllegalArgumentException] {
      PersistentWheel.load(spark, keyedDir)
    }
    intercept[IllegalArgumentException] {
      PersistentWheel.loadDistinct(spark, sumDir)
    }
  }

  test("a pre-kind sidecar (no kind= line) still loads as a sum wheel") {
    val idxDir = fixtureDir("prekind")
    PersistentWheel.save(spark, idxDir, events, "ts", Seq("value"), "fp-old")
    // rewrite the sidecar WITHOUT the kind line — the exact bytes a
    // pre-r8 save produced
    val metaPath = new java.io.File(s"$idxDir/meta.graft")
    val old = new String(
      java.nio.file.Files.readAllBytes(metaPath.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val stripped = old.linesIterator.filterNot(_.startsWith("kind=")).mkString("\n") + "\n"
    java.nio.file.Files.write(metaPath.toPath,
      stripped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the Hadoop local FS checksums sidecar files; the direct rewrite
    // above invalidates it, which is not the back-compat shape under
    // test (an old save has a MATCHING crc for its kind-less bytes)
    new java.io.File(s"$idxDir/.meta.graft.crc").delete()
    val meta = PersistentWheel.peek(spark, idxDir).get
    assert(meta.kind == PersistentWheel.SumKind)
    val (_, wheels) = PersistentWheel.load(spark, idxDir)
    assert(wheels("value").query(Q.R1Start, Q.R1End).count > 0L)
  }

  test("append-only source growth refreshes the persisted index TAIL-ONLY (late round 10)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val base = fixtureDir("tailr")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(base))
    val src = s"$base/events.parquet"
    val idxDir = s"$base/index"
    Seq((new java.sql.Timestamp(Q.Jan1), 1.0),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.0))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    def source = spark.read.parquet(src)

    // first touch: nothing persisted yet -> FullBuild
    WheelAcceleration.clear()
    val w1 = WheelAcceleration.registerPersisted(spark, src, idxDir, source)
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
      .contains(WheelAcceleration.FullBuild))
    assert(w1("value").query(Q.Jan1, Q.Jan1 + 120000L).sum == 3.0)

    // unchanged source -> the disk copy serves, no source scan
    WheelAcceleration.clear()
    WheelAcceleration.registerPersisted(spark, src, idxDir, source)
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
      .contains(WheelAcceleration.FullReuse))

    // append-only growth -> TailRefresh aggregates ONLY the new files
    val beforeNames = new java.io.File(src).listFiles
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    Seq((new java.sql.Timestamp(Q.Jan1 + 120000L), 4.0))
      .toDF("ts", "value").write.mode("append").parquet(src)
    WheelAcceleration.clear()
    val w3 = WheelAcceleration.registerPersisted(spark, src, idxDir, source)
    WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum) match {
      case Some(t: WheelAcceleration.TailRefresh) =>
        assert(t.coveredFiles >= 1 && t.tailFiles.nonEmpty)
        // the tail is exactly the appended files — no covered file is
        // ever rescanned
        assert(t.tailFiles.forall(p =>
          !beforeNames.contains(new java.io.File(p).getName)), t.toString)
      case o => fail(s"expected TailRefresh, got $o")
    }
    assert(w3("value").query(Q.Jan1, Q.Jan1 + 180000L).sum == 7.0)
    assert(w3("value").query(Q.Jan1, Q.Jan1 + 180000L).count == 3L)

    // the refreshed sidecar covers everything -> next touch is FullReuse
    WheelAcceleration.clear()
    WheelAcceleration.registerPersisted(spark, src, idxDir, source)
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
      .contains(WheelAcceleration.FullReuse))

    // mutated history (whole-dir overwrite) -> coverage unprovable ->
    // FullBuild, correct values
    Seq((new java.sql.Timestamp(Q.Jan1), 10.0))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    WheelAcceleration.clear()
    val w4 = WheelAcceleration.registerPersisted(spark, src, idxDir, source)
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
      .contains(WheelAcceleration.FullBuild))
    assert(w4("value").query(Q.Jan1, Q.Jan1 + 180000L).sum == 10.0)
    WheelAcceleration.clear()
  }

  test("keyed-multi persisted index refreshes TAIL-ONLY on append (late round 10)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val base = fixtureDir("tailrk")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(base))
    val src = s"$base/events.parquet"
    val idxDir = s"$base/index"
    Seq((new java.sql.Timestamp(Q.Jan1), 1.0, "a"),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.0, "b"))
      .toDF("ts", "value", "k").write.mode("overwrite").parquet(src)
    def source = spark.read.parquet(src)

    WheelAcceleration.clear()
    WheelAcceleration.registerPersistedKeyedMulti(
      spark, src, idxDir, source, "k", "ts", Seq("value"))
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Keyed)
      .contains(WheelAcceleration.FullBuild))

    WheelAcceleration.clear()
    WheelAcceleration.registerPersistedKeyedMulti(
      spark, src, idxDir, source, "k", "ts", Seq("value"))
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Keyed)
      .contains(WheelAcceleration.FullReuse))

    val beforeNames = new java.io.File(src).listFiles
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    Seq((new java.sql.Timestamp(Q.Jan1 + 120000L), 4.0, "a"))
      .toDF("ts", "value", "k").write.mode("append").parquet(src)
    WheelAcceleration.clear()
    val w = WheelAcceleration.registerPersistedKeyedMulti(
      spark, src, idxDir, source, "k", "ts", Seq("value"))
    WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Keyed) match {
      case Some(t: WheelAcceleration.TailRefresh) =>
        assert(t.coveredFiles >= 1 && t.tailFiles.nonEmpty)
        assert(t.tailFiles.forall(p =>
          !beforeNames.contains(new java.io.File(p).getName)), t.toString)
      case o => fail(s"expected keyed TailRefresh, got $o")
    }
    // per-key values include the appended row, history intact
    assert(w("value").query("a", Q.Jan1, Q.Jan1 + 180000L).sum == 5.0)
    assert(w("value").query("b", Q.Jan1, Q.Jan1 + 180000L).sum == 2.0)

    WheelAcceleration.clear()
    WheelAcceleration.registerPersistedKeyedMulti(
      spark, src, idxDir, source, "k", "ts", Seq("value"))
    assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Keyed)
      .contains(WheelAcceleration.FullReuse))
    WheelAcceleration.clear()
  }

  test("an old-version sidecar is rejected; registration rebuilds at the current version") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val src = fixtureDir("v1compat/events.parquet")
    val idxDir = fixtureDir("v1compat/index")
    Seq((new java.sql.Timestamp(Q.Jan1), 1.5),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.5))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    val source = spark.read.parquet(src)
    PersistentWheel.save(spark, idxDir, source, "ts", Seq("value"),
      SourceFingerprint.of(src, spark.sessionState.newHadoopConf()), src)
    // stamp the sidecar back to version=1 — old payloads lack the
    // current second-moment column (v1 had none; v2 carried raw sumsq
    // where v3 stores central m2), so the gate must reject the dir
    val metaPath = new java.io.File(s"$idxDir/meta.graft")
    val old = new String(
      java.nio.file.Files.readAllBytes(metaPath.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val downgraded = old.linesIterator
      .map(l => if (l.startsWith("version=")) "version=1" else l)
      .mkString("\n") + "\n"
    java.nio.file.Files.write(metaPath.toPath,
      downgraded.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(s"$idxDir/.meta.graft.crc").delete()
    intercept[IllegalArgumentException] {
      PersistentWheel.load(spark, idxDir)
    }
    // registration answers the failed load by rebuilding and re-saving
    // at the current version — old warehouses upgrade on first touch
    val wheels = WheelAcceleration.registerPersisted(
      spark, src, idxDir, source, "ts", Seq("value"))
    assert(wheels("value").query(Q.Jan1, Q.Jan1 + 120000L).sum == 4.0)
    assert(PersistentWheel.peek(spark, idxDir).get.version == 3)
    WheelAcceleration.clear()
  }

  test("registerPersistedKeyed serves the DISK copy when the fingerprint matches (round 8)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val src = fixtureDir("srvk/events.parquet")
    val idxDir = fixtureDir("srvk/index")
    Seq((new java.sql.Timestamp(Q.Jan1), 1.5, "a"),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), 2.5, "b"))
      .toDF("ts", "value", "k").write.mode("overwrite").parquet(src)
    def q() = {
      spark.read.parquet(src).createOrReplaceTempView("ev_persk")
      spark.sql("SELECT k, (unix_millis(ts) div 60000) * 60000 AS slot_ms, " +
        "SUM(value) AS s, COUNT(*) AS n FROM ev_persk " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 120000L} " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    }
    def folded(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty

    // first call: nothing persisted yet -> build + save
    WheelAcceleration.registerPersistedKeyed(
      spark, src, idxDir, spark.read.parquet(src), "k")
    val first = q()
    assert(folded(first), first.queryExecution.optimizedPlan.treeString)
    assert(first.collect().map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      Seq(("a", 1.5), ("b", 2.5)))

    // tamper the persisted keyed partials (double every sum) through
    // savePartialsKeyed — consistent sidecar binding, see the unkeyed
    // sibling; source unchanged -> the next registration MUST serve
    // the tampered disk copy — only the load path can produce that
    val slotsPath = slotsDirOf(idxDir)
    val slots = spark.read.parquet(slotsPath).collect()
    val schema = spark.read.parquet(slotsPath).schema
    val doubled = slots.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v: Double, i) if schema(i).name == "sum_v" => v * 2
        case (v, _) => v
      })
    }
    val kMeta0 = PersistentWheel.peek(spark, idxDir).get
    PersistentWheel.savePartialsKeyed(spark, idxDir,
      spark.createDataFrame(
        spark.sparkContext.parallelize(doubled.toIndexedSeq), schema),
      kMeta0.tsCol, kMeta0.valueCols.head, kMeta0.valueCols(1),
      kMeta0.sourceFingerprint, kMeta0.sourcePath)

    WheelAcceleration.clear()
    WheelAcceleration.registerPersistedKeyed(
      spark, src, idxDir, spark.read.parquet(src), "k")
    val served = q()
    assert(folded(served))
    assert(served.collect().map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      Seq(("a", 3.0), ("b", 5.0)), "must come from the disk copy")
    WheelAcceleration.clear()
  }

  test("SQL range aggregates fold from a persisted registration of the events fixture") {
    val idxDir = fixtureDir("events-sql")
    WheelAcceleration.registerPersisted(spark, eventsPath, idxDir, events)
    events.createOrReplaceTempView("events_pwheel")
    def sql() = spark.sql(
      "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
        "ROUND(MIN(value), 2) AS mn, ROUND(MAX(value), 2) AS mx FROM events_pwheel " +
        s"WHERE unix_millis(ts) >= ${Q.R3Start} AND unix_millis(ts) < ${Q.R3End}")
    val accel = sql()
    assert(accel.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
    val got = accel.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scan = sql().collect().map(_.toString).toSeq
    assert(got == scan)

    // second registration in the same state reuses the registry entry
    // (same fingerprint) — and a fresh one after clear() takes the load
    // path against the same dir, still correct
    WheelAcceleration.registerPersisted(spark, eventsPath, idxDir, events)
    assert(sql().collect().map(_.toString).toSeq == scan)
    WheelAcceleration.clear()
  }
}
