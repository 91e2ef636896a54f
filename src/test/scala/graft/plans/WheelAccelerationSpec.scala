package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Q

/** The Catalyst auto-rewrite (SURVEY.md §4.2 v2 stretch): a registered
  * wheel index transparently answers scan+filter+ungrouped-agg SQL. */
class WheelAccelerationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001
  private val path = s"$dir/events.parquet"

  private def events = Q.t(spark, dir, "events")

  private def rangeSql(a: Long, b: Long, select: String) = {
    events.createOrReplaceTempView("events_accel")
    spark.sql(s"SELECT $select FROM events_accel " +
      s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
  }

  private def register(): Unit =
    WheelAcceleration.register(spark, path, events)

  test("minute-aligned range SUM is rewritten to a LocalRelation") {
    register()
    val df = rangeSql(Q.R1Start, Q.R1End, "ROUND(SUM(value), 2) AS s")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("BETWEEN and strict ms bounds fold exactly (round 12)") {
    register()
    events.createOrReplaceTempView("events_accel")
    // inclusive upper: unix_millis floors, so <= E ⇔ < E+1 ms exactly
    val between = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
      s"FROM events_accel WHERE unix_millis(ts) BETWEEN ${Q.R1Start} AND ${Q.R1End - 1}")
    assert(between.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, between.queryExecution.optimizedPlan.treeString)
    val scan = events
      .filter(unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End)
      .agg(round(sum("value"), 2), count(lit(1))).collect()(0)
    val gb = between.collect()(0)
    assert(gb.getDouble(0) == scan.getDouble(0) && gb.getLong(1) == scan.getLong(1))

    // strict lower: > A-1 ⇔ >= A ms; both rewritten bounds land on the
    // same index range as the canonical spelling
    val strict = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
      s"FROM events_accel WHERE unix_millis(ts) > ${Q.R1Start - 1} " +
      s"AND unix_millis(ts) <= ${Q.R1End - 1}")
    assert(strict.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, strict.queryExecution.optimizedPlan.treeString)
    val gs = strict.collect()(0)
    assert(gs.getDouble(0) == scan.getDouble(0) && gs.getLong(1) == scan.getLong(1))

    // DIRECT-timestamp inclusive spelling (round 14, VERDICT r13 #2):
    // `ts <= TIMESTAMP 'x'` is the µs range [a, x+1µs) — aligned
    // interior folded from the index, the ≤1-minute edge scanned with
    // EXACT µs literals through the hybrid residue path. Values match
    // the scan; the plan is interior LocalRelation + bounded edge scan.
    val tsIncl = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
      "FROM events_accel " +
      "WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
      "AND ts <= TIMESTAMP '2024-01-12 00:00:00'")
    assert(tsIncl.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, tsIncl.queryExecution.optimizedPlan.treeString)
    val inclScan = events
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-12 00:00:00").cast("timestamp"))
      .agg(round(sum("value"), 2), count(lit(1))).collect()(0)
    val gi = tsIncl.collect()(0)
    assert(gi.getDouble(0) == inclScan.getDouble(0) &&
      gi.getLong(1) == inclScan.getLong(1))

    // strict direct-timestamp bounds fold the same way: [x+1µs, y)
    val tsStrict = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
      "FROM events_accel " +
      "WHERE ts > TIMESTAMP '2024-01-05 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-12 00:00:07.123456'")
    assert(tsStrict.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, tsStrict.queryExecution.optimizedPlan.treeString)
    val strictScan = events
      .filter(col("ts") > lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-12 00:00:07.123456").cast("timestamp"))
      .agg(round(sum("value"), 2), count(lit(1))).collect()(0)
    val gt = tsStrict.collect()(0)
    assert(gt.getDouble(0) == strictScan.getDouble(0) &&
      gt.getLong(1) == strictScan.getLong(1))
  }

  test("GROUP BY CAST(ts AS DATE) folds to the day grid (round 12)") {
    register()
    events.createOrReplaceTempView("events_accel")
    val df = spark.sql(
      "SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1 ORDER BY 1")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    WheelAcceleration.clear()
    val exp = spark.sql(
      "SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1 ORDER BY 1").collect()
    val got = df.collect()
    assert(got.length == 7 && got.length == exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getDate(0) == e.getDate(0) && g.getDouble(1) == e.getDouble(1) &&
        g.getLong(2) == e.getLong(2), s"$g vs $e")
    }

    // the function spellings optimize to the same Cast and fold too
    register()
    for (fn <- Seq("to_date(ts)", "date(ts)")) {
      val f = spark.sql(
        s"SELECT $fn AS day, ROUND(SUM(value), 2) AS s FROM events_accel " +
          s"WHERE unix_millis(ts) >= ${Q.R1Start} " +
          s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1 ORDER BY 1")
      assert(f.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, s"$fn:\n" + f.queryExecution.optimizedPlan.treeString)
      assert(f.collect().length == 7)
    }
  }

  test("a NO-PREDICATE whole-table aggregate folds as the full span (round 11)") {
    import spark.implicits._
    register()
    events.createOrReplaceTempView("events_accel")
    val df = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
      "MIN(value) AS mn, MAX(value) AS mx FROM events_accel")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    val got = df.collect()(0)
    val scan = events.agg(
      round(sum("value"), 2), count(lit(1)), min("value"), max("value")).collect()(0)
    assert(got.getDouble(0) == scan.getDouble(0))
    assert(got.getLong(1) == scan.getLong(1))
    assert(got.getDouble(2) == scan.getDouble(2))
    assert(got.getDouble(3) == scan.getDouble(3))

    // sketch-only registration: no-predicate folds bail (the sketch
    // builds carry no never-null-ts assertion) with a queryable reason
    val skSrc = new java.io.File("target/test-fixtures/accel/fullspan_sketch.parquet")
      .getAbsolutePath
    (0 until 30).map(i =>
      (new java.sql.Timestamp(Q.Jan1 + i * 60000L), i.toDouble, (i % 7).toLong))
      .toDF("ts", "value", "user_id").write.mode("overwrite").parquet(skSrc)
    WheelAcceleration.registerSketches(spark, skSrc, spark.read.parquet(skSrc),
      distinctCols = Seq("user_id"))
    spark.read.parquet(skSrc).createOrReplaceTempView("fullspan_sketch")
    try {
      val sk = spark.sql(
        "SELECT approx_count_distinct(user_id) AS u FROM fullspan_sketch")
      assert(sk.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty, sk.queryExecution.optimizedPlan.treeString)
      assert(WheelAcceleration.lastBailReason(skSrc)
        .exists(_.contains("no time predicate")),
        WheelAcceleration.lastBailReason(skSrc).toString)
    } finally WheelAcceleration.unregister(skSrc)
  }

  test("folds fire over a HIVE-PARTITIONED source layout (round 11)") {
    import spark.implicits._
    // how a 100 TB table actually ships: data files nested under
    // partition directories, partition column in the schema, the read
    // rooted at the table dir. The fingerprint is already relative-path
    // aware; this pins the whole fold surface end-to-end on that layout.
    val src = new java.io.File("target/test-fixtures/accel/partitioned.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    // the append step below must not ride a cached freshness verdict
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    (0 until 120).map(i =>
      (new java.sql.Timestamp(Q.Jan1 + i * 60000L), i.toDouble,
        f"2024-01-${1 + i / 60}%02d"))
      .toDF("ts", "value", "dt")
      .write.partitionBy("dt").parquet(src)
    val part = spark.read.parquet(src)
    WheelAcceleration.register(spark, src, part)
    try {
      part.createOrReplaceTempView("part_events")
      val a = Q.Jan1 + 10 * 60000L
      val b = Q.Jan1 + 70 * 60000L
      val ranged = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM part_events WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(ranged.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, ranged.queryExecution.optimizedPlan.treeString)
      val r = ranged.collect()(0)
      assert(r.getDouble(0) == (10 until 70).map(_.toDouble).sum)
      assert(r.getLong(1) == 60L)

      // full-span no-predicate fold over the same partitioned root
      val total = spark.sql(
        "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM part_events")
      assert(total.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, total.queryExecution.optimizedPlan.treeString)
      val rt = total.collect()(0)
      assert(rt.getDouble(0) == (0 until 120).map(_.toDouble).sum)
      assert(rt.getLong(1) == 120L)

      // a PARTITION-COLUMN filter is not a ts range: the fold correctly
      // declines and Spark's own partition pruning serves the query
      val pruned = spark.sql("SELECT ROUND(SUM(value), 2) AS s " +
        "FROM part_events WHERE dt = '2024-01-01'")
      assert(pruned.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty)
      assert(pruned.collect()(0).getDouble(0) == (0 until 60).map(_.toDouble).sum)

      // appending a new partition dir invalidates the fingerprint: the
      // fold stops serving stale totals instead of lying
      (0 until 5).map(i =>
        (new java.sql.Timestamp(Q.Jan1 + (200 + i) * 60000L), 1000.0, "2024-01-09"))
        .toDF("ts", "value", "dt")
        .write.mode("append").partitionBy("dt").parquet(src)
      spark.read.parquet(src).createOrReplaceTempView("part_events")
      val afterAppend = spark.sql(
        "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM part_events")
      assert(afterAppend.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty, afterAppend.queryExecution.optimizedPlan.treeString)
      val ra = afterAppend.collect()(0)
      assert(ra.getLong(1) == 125L)
      assert(WheelAcceleration.lastBailReason(src)
        .exists(_.toLowerCase.contains("stale")),
        WheelAcceleration.lastBailReason(src).toString)
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("re-register after an append TAIL-REFRESHES the in-memory index (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/memtail.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    def write(offsets: Range, v: Double, mode: String): Unit =
      offsets.map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L), v + i))
        .toDF("ts", "value").repartition(2)
        .write.mode(mode).parquet(src)
    def registerRaw(): Unit =
      WheelAcceleration.register(spark, src, spark.read.parquet(src))
    try {
      write(0 until 60, 0.0, "overwrite")
      registerRaw()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
        .contains(WheelAcceleration.FullBuild))

      // append-only growth: the re-register must aggregate ONLY the new
      // files (TailRefresh outcome) and the refreshed index must answer
      // the full merged span — including the no-predicate fold
      write(60 until 90, 1000.0, "append")
      registerRaw()
      val outcome = WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
      assert(outcome.exists {
        case WheelAcceleration.TailRefresh(covered, tailFiles) =>
          covered > 0 && tailFiles.nonEmpty
        case _ => false
      }, outcome.toString)
      spark.read.parquet(src).createOrReplaceTempView("memtail_events")
      val total = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
        "MIN(value) AS mn, MAX(value) AS mx FROM memtail_events")
      assert(total.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, total.queryExecution.optimizedPlan.treeString)
      val r = total.collect()(0)
      val want = (0 until 60).map(_.toDouble).sum +
        (60 until 90).map(i => 1000.0 + i).sum
      assert(r.getDouble(0) == want)
      assert(r.getLong(1) == 90L)
      assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1089.0)

      // a ranged query spanning old and new minutes is served too
      val a = Q.Jan1 + 50 * 60000L
      val b = Q.Jan1 + 70 * 60000L
      val ranged = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM memtail_events WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(ranged.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty)
      val rr = ranged.collect()(0)
      assert(rr.getDouble(0) ==
        (50 until 60).map(_.toDouble).sum + (60 until 70).map(i => 1000.0 + i).sum)
      assert(rr.getLong(1) == 20L)

      // a MUTATION (overwrite) is not an append: full rebuild
      write(0 until 30, 5.0, "overwrite")
      registerRaw()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sum)
        .contains(WheelAcceleration.FullBuild))
      spark.read.parquet(src).createOrReplaceTempView("memtail_events")
      val after = spark.sql(
        "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM memtail_events")
      assert(after.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty)
      val ra = after.collect()(0)
      assert(ra.getDouble(0) == (0 until 30).map(i => 5.0 + i).sum)
      assert(ra.getLong(1) == 30L)
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("keyed re-register after an append tail-refreshes too (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/keyedtail.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    def write(offsets: Range, v: Double, mode: String): Unit =
      offsets.map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L), v + i,
        if (i % 2 == 0) "a" else "b"))
        .toDF("ts", "value", "k").repartition(2)
        .write.mode(mode).parquet(src)
    def registerRaw(): Unit =
      WheelAcceleration.registerKeyed(spark, src, spark.read.parquet(src), "k")
    try {
      write(0 until 60, 0.0, "overwrite")
      registerRaw()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Keyed)
        .contains(WheelAcceleration.FullBuild))

      write(60 until 90, 1000.0, "append")
      registerRaw()
      val outcome = WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Keyed)
      assert(outcome.exists {
        case WheelAcceleration.TailRefresh(covered, tailFiles) =>
          covered > 0 && tailFiles.nonEmpty
        case _ => false
      }, outcome.toString)

      // the refreshed keyed index answers GROUP BY (key, hour-slot)
      // over a range spanning old and new minutes
      spark.read.parquet(src).createOrReplaceTempView("keyedtail_events")
      val a = Q.Jan1
      val b = Q.Jan1 + 90 * 60000L
      val folded = spark.sql("SELECT k, (unix_millis(ts) div 3600000) * 3600000 " +
        "AS slot, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM keyedtail_events WHERE unix_millis(ts) >= $a " +
        s"AND unix_millis(ts) < $b GROUP BY 1, 2 ORDER BY 1, 2")
      assert(folded.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, folded.queryExecution.optimizedPlan.treeString)
      val got = folded.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      def want(key: String) = (0 until 90).filter(i =>
        (if (i % 2 == 0) "a" else "b") == key)
        .groupBy(i => Q.Jan1 + (i / 60) * 3600000L)
        .map { case (slot, is) =>
          (key, slot, is.map(i => (if (i < 60) 0.0 else 1000.0) + i).sum,
            is.size.toLong) }
        .toSeq
      val wantAll = (want("a") ++ want("b")).sortBy(t => (t._1, t._2))
      assert(got == wantAll, s"$got vs $wantAll")
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("sketch re-register after an append tail-refreshes: approx folds stay exact (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/sketchtail.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    // base: minutes 0..59, ids 0..6; append: minutes 30..89, ids 7..13 —
    // so the tail merges INTO existing minute slots (30..59) AND adds
    // new ones (60..89), and the distinct/top-k/quantile state all move
    def write(offsets: Range, idOff: Long, vOff: Double, mode: String): Unit =
      offsets.map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L),
        vOff + i, i % 7 + idOff))
        .toDF("ts", "value", "user_id").repartition(2)
        .write.mode(mode).parquet(src)
    def registerAll(): Unit = {
      WheelAcceleration.register(spark, src, spark.read.parquet(src))
      WheelAcceleration.registerSketches(spark, src, spark.read.parquet(src),
        distinctCols = Seq("user_id"), quantileCols = Seq("value"),
        freqCols = Seq("user_id"))
    }
    def folded(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      p.collect { case l: LocalRelation => l }.nonEmpty &&
        p.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty
    }
    try {
      write(0 until 60, 0L, 0.0, "overwrite")
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
        .contains(WheelAcceleration.FullBuild))

      write(30 until 90, 7L, 1000.0, "append")
      registerAll()
      val outcome = WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
      assert(outcome.exists {
        case WheelAcceleration.TailRefresh(covered, tailFiles) =>
          covered > 0 && tailFiles.nonEmpty
        case _ => false
      }, outcome.toString)

      // a range spanning old-only, merged, and tail-only minutes
      val a = Q.Jan1 + 20 * 60000L
      val b = Q.Jan1 + 70 * 60000L
      spark.read.parquet(src).createOrReplaceTempView("sketchtail_events")
      val scan = spark.read.parquet(src)
        .filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b)

      val d = spark.sql("SELECT approx_count_distinct(user_id) AS u " +
        s"FROM sketchtail_events WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(folded(d), d.queryExecution.optimizedPlan.treeString)
      assert(d.collect()(0).getLong(0) ==
        scan.agg(countDistinct(col("user_id"))).collect()(0).getLong(0))

      val q = spark.sql("SELECT percentile_approx(value, 0.5) AS p50 " +
        s"FROM sketchtail_events WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(folded(q), q.queryExecution.optimizedPlan.treeString)
      assert(q.collect()(0).getDouble(0) == scan.select(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"))
        .collect()(0).getDouble(0))

      val tk = spark.sql("SELECT approx_top_k(user_id, 3) AS tk " +
        s"FROM sketchtail_events WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(folded(tk), tk.queryExecution.optimizedPlan.treeString)
      val want = scan.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(3).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(tk.collect()(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getLong(1))) == want)

      // an overwrite is NOT a provable append: full rebuild
      write(0 until 60, 0L, 0.0, "overwrite")
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
        .contains(WheelAcceleration.FullBuild))
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("keyed sketch re-register after an append tail-refreshes per dim (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/keyedsketchtail.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    // base: dims a/b over minutes 0..59; append: minutes 30..89 adds a
    // THIRD dim c and new user ids — in-slot merges, new slots, and a
    // first-seen-in-tail dimension all in one refresh
    def write(offsets: Range, dims: Array[String], idOff: Long, mode: String): Unit =
      offsets.map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L),
        i.toDouble, i % 5 + idOff, dims(i % dims.length)))
        .toDF("ts", "value", "user_id", "k").repartition(2)
        .write.mode(mode).parquet(src)
    def registerAll(): Unit = {
      WheelAcceleration.registerKeyed(spark, src, spark.read.parquet(src), "k")
      WheelAcceleration.registerKeyedSketches(spark, src,
        spark.read.parquet(src), "k", "ts",
        distinctCols = Seq("user_id"), quantileCols = Seq("value"))
    }
    try {
      write(0 until 60, Array("a", "b"), 0L, "overwrite")
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.KeyedSketch)
        .contains(WheelAcceleration.FullBuild))

      write(30 until 90, Array("b", "c"), 5L, "append")
      registerAll()
      val outcome = WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.KeyedSketch)
      assert(outcome.exists {
        case WheelAcceleration.TailRefresh(covered, tailFiles) =>
          covered > 0 && tailFiles.nonEmpty
        case _ => false
      }, outcome.toString)

      // per-(dim, hour) folds over a range spanning old, merged and
      // tail-only minutes must equal the scan truth exactly
      val a = Q.Jan1 + 20 * 60000L
      val b = Q.Jan1 + 80 * 60000L
      spark.read.parquet(src).createOrReplaceTempView("keyedsketchtail_events")
      val d = spark.sql(
        "SELECT k AS g0, (unix_millis(ts) div 3600000) * 3600000 AS g1, " +
          "approx_count_distinct(user_id) AS u, " +
          "percentile_approx(value, 0.5) AS p50 FROM keyedsketchtail_events " +
          s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
          "GROUP BY 1, 2 ORDER BY 1, 2")
      assert(d.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, d.queryExecution.optimizedPlan.treeString)
      val want = spark.read.parquet(src)
        .filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b)
        .groupBy(col("k").as("g0"),
          ((unix_millis(col("ts")).divide(lit(3600000L))).cast("long") * 3600000L).as("g1"))
        .agg(countDistinct(col("user_id")).as("u"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"))
        .orderBy(col("g0"), col("g1"))
        .collect().map(_.toString).toSeq
      assert(d.collect().map(_.toString).toSeq == want)
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("a re-registration the catalog serves reports CacheServed and never reads events") {
    import spark.implicits._
    import WheelAcceleration.{CacheServed, Family, FullBuild, lastOutcome}
    val src = new java.io.File("target/test-fixtures/accel/cacheserved.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    (0 until 60).map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L), i.toDouble,
      (i % 5).toLong)).toDF("ts", "value", "user_id").write.mode("overwrite").parquet(src)
    var forced = 0
    def events = { forced += 1; spark.read.parquet(src) }
    def registerAll(): Unit = {
      WheelAcceleration.register(spark, src, events)
      WheelAcceleration.registerSketches(spark, src, events,
        distinctCols = Seq("user_id"), quantileCols = Seq("value"))
    }
    try {
      registerAll()
      assert(forced > 0)
      assert(lastOutcome(src, Family.Sum).contains(FullBuild))
      assert(lastOutcome(src, Family.Sketch).contains(FullBuild))

      // a fresh registry over unchanged files: the build-once catalog
      // serves both families, so no build and no read of events runs
      WheelAcceleration.clear()
      forced = 0
      registerAll()
      assert(forced == 0, "the events thunk was forced on a catalog hit")
      assert(lastOutcome(src, Family.Sum).contains(CacheServed),
        lastOutcome(src, Family.Sum).toString)
      assert(lastOutcome(src, Family.Sketch).contains(CacheServed),
        lastOutcome(src, Family.Sketch).toString)

      spark.read.parquet(src).createOrReplaceTempView("cacheserved_events")
      val df = spark.sql("SELECT SUM(value) AS s, approx_count_distinct(user_id) AS u " +
        "FROM cacheserved_events")
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
      val r = df.collect()(0)
      assert(r.getDouble(0) == (0 until 60).sum.toDouble && r.getLong(1) == 5L)
    } finally WheelAcceleration.unregister(src)
  }

  test("persisted sketch registration: load / tail-refresh / rebuild lifecycle (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/sketchpersist.parquet")
      .getAbsolutePath
    val idx = new java.io.File("target/test-fixtures/accel/sketchpersist.idx")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    def write(offsets: Range, idOff: Long, mode: String): Unit =
      offsets.map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L),
        i.toDouble, i % 6 + idOff))
        .toDF("ts", "value", "user_id").repartition(2)
        .write.mode(mode).parquet(src)
    def registerAll(): Unit = {
      WheelAcceleration.register(spark, src, spark.read.parquet(src))
      WheelAcceleration.registerPersistedSketches(spark, src, idx,
        spark.read.parquet(src),
        distinctCols = Seq("user_id"), quantileCols = Seq("value"))
    }
    def checkFolds(lo: Int, hi: Int): Unit = {
      val a = Q.Jan1 + lo * 60000L
      val b = Q.Jan1 + hi * 60000L
      spark.read.parquet(src).createOrReplaceTempView("sketchpersist_events")
      val d = spark.sql("SELECT approx_count_distinct(user_id) AS u, " +
        "percentile_approx(value, 0.5) AS p50 FROM sketchpersist_events " +
        s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(d.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, d.queryExecution.optimizedPlan.treeString)
      val scan = spark.read.parquet(src)
        .filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b)
      val want = scan.agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
      val wantP = scan.select(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"))
        .collect()(0).getDouble(0)
      val r = d.collect()(0)
      assert(r.getLong(0) == want)
      assert(r.getDouble(1) == wantP)
    }
    try {
      // 1. first touch: nothing on disk -> FullBuild (saves the dirs)
      write(0 until 60, 0L, "overwrite")
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
        .contains(WheelAcceleration.FullBuild))
      checkFolds(10, 50)

      // 2. fresh process start (registry dropped): pure disk LOAD
      WheelAcceleration.clear()
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
        .contains(WheelAcceleration.FullReuse))
      checkFolds(10, 50)

      // 3. append: tail-only refresh, atomically re-saved, folds exact
      // across the boundary
      write(30 until 90, 6L, "append")
      WheelAcceleration.clear()
      registerAll()
      val outcome = WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
      assert(outcome.exists {
        case WheelAcceleration.TailRefresh(covered, tailFiles) =>
          covered > 0 && tailFiles.nonEmpty
        case _ => false
      }, outcome.toString)
      checkFolds(20, 80)

      // 4. the refreshed dirs are the new truth: next start pure-loads
      WheelAcceleration.clear()
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
        .contains(WheelAcceleration.FullReuse))
      checkFolds(20, 80)

      // 5. overwrite is not an append: full rebuild + re-save
      write(0 until 60, 0L, "overwrite")
      WheelAcceleration.clear()
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.Sketch)
        .contains(WheelAcceleration.FullBuild))
      checkFolds(10, 50)
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("persisted KEYED sketch registration: load / tail-refresh / rebuild (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/keyedsketchpersist.parquet")
      .getAbsolutePath
    val idx = new java.io.File("target/test-fixtures/accel/keyedsketchpersist.idx")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    def write(offsets: Range, dims: Array[String], idOff: Long, mode: String): Unit =
      offsets.map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L),
        i.toDouble, i % 4 + idOff, dims(i % dims.length)))
        .toDF("ts", "value", "user_id", "k").repartition(2)
        .write.mode(mode).parquet(src)
    def registerAll(): Unit = {
      WheelAcceleration.registerKeyed(spark, src, spark.read.parquet(src), "k")
      WheelAcceleration.registerPersistedKeyedSketches(spark, src, idx,
        spark.read.parquet(src), "k",
        distinctCols = Seq("user_id"))
    }
    def checkFolds(lo: Int, hi: Int): Unit = {
      val a = Q.Jan1 + lo * 60000L
      val b = Q.Jan1 + hi * 60000L
      spark.read.parquet(src).createOrReplaceTempView("keyedskp_events")
      val d = spark.sql(
        "SELECT k AS g0, (unix_millis(ts) div 3600000) * 3600000 AS g1, " +
          "approx_count_distinct(user_id) AS u FROM keyedskp_events " +
          s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
          "GROUP BY 1, 2 ORDER BY 1, 2")
      assert(d.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, d.queryExecution.optimizedPlan.treeString)
      val want = spark.read.parquet(src)
        .filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b)
        .groupBy(col("k").as("g0"),
          ((unix_millis(col("ts")).divide(lit(3600000L))).cast("long") * 3600000L).as("g1"))
        .agg(countDistinct(col("user_id")).as("u"))
        .orderBy(col("g0"), col("g1"))
        .collect().map(_.toString).toSeq
      assert(d.collect().map(_.toString).toSeq == want)
    }
    try {
      write(0 until 60, Array("a", "b"), 0L, "overwrite")
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.KeyedSketch)
        .contains(WheelAcceleration.FullBuild))
      checkFolds(10, 50)

      WheelAcceleration.clear()
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.KeyedSketch)
        .contains(WheelAcceleration.FullReuse))
      checkFolds(10, 50)

      // append adds dim c and new ids: per-(dim, slot) tail merge
      write(30 until 90, Array("b", "c"), 4L, "append")
      WheelAcceleration.clear()
      registerAll()
      val outcome = WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.KeyedSketch)
      assert(outcome.exists {
        case WheelAcceleration.TailRefresh(covered, tailFiles) =>
          covered > 0 && tailFiles.nonEmpty
        case _ => false
      }, outcome.toString)
      checkFolds(20, 80)

      WheelAcceleration.clear()
      registerAll()
      assert(WheelAcceleration.lastOutcome(src, WheelAcceleration.Family.KeyedSketch)
        .contains(WheelAcceleration.FullReuse))
      checkFolds(20, 80)
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(src)
    }
  }

  test("the fold surface is FORMAT-AGNOSTIC: a CSV source registers and folds (round 11)") {
    import spark.implicits._
    // nothing in the registration path is parquet-specific: the
    // fingerprint lists files, sourcePath matches any HadoopFsRelation,
    // and the build runs over whatever DataFrame the caller reads. Pin
    // that on CSV — the other format a 100 TB landing zone actually has.
    val src = new java.io.File("target/test-fixtures/accel/events_csv")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    (0 until 90).map(i => (new java.sql.Timestamp(Q.Jan1 + i * 60000L), i.toDouble))
      .toDF("ts", "value").write.option("header", "true").csv(src)
    def csvEvents = spark.read.option("header", "true")
      .schema("ts TIMESTAMP, value DOUBLE").csv(src)
    WheelAcceleration.register(spark, src, csvEvents)
    try {
      csvEvents.createOrReplaceTempView("csv_events")
      val a = Q.Jan1 + 10 * 60000L
      val b = Q.Jan1 + 40 * 60000L
      val ranged = spark.sql("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM csv_events WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b")
      assert(ranged.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, ranged.queryExecution.optimizedPlan.treeString)
      val r = ranged.collect()(0)
      assert(r.getDouble(0) == (10 until 40).map(_.toDouble).sum)
      assert(r.getLong(1) == 30L)

      val total = spark.sql(
        "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM csv_events")
      assert(total.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty)
      val rt = total.collect()(0)
      assert(rt.getDouble(0) == (0 until 90).map(_.toDouble).sum)
      assert(rt.getLong(1) == 90L)
    } finally WheelAcceleration.unregister(src)
  }

  test("a null-ts source fails the index build loudly (never-null-ts contract, round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/nullts.parquet")
      .getAbsolutePath
    Seq((Some(new java.sql.Timestamp(Q.Jan1)), 1.0),
      (None: Option[java.sql.Timestamp], 2.0))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    val e = intercept[IllegalArgumentException] {
      graft.wheel.WheelIndex.build(spark.read.parquet(src), "ts", "value")
    }
    assert(e.getMessage.contains("null timestamps"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.wheel.WheelIndex.buildMulti(spark.read.parquet(src), "ts", Seq("value"))
    }
    assert(e2.getMessage.contains("null timestamps"), e2.getMessage)
  }

  test("rewritten result equals the full-scan result (sum/min/max/avg/count)") {
    register()
    val accel = rangeSql(Q.R2Start, Q.R2End,
      "SUM(value) AS s, MIN(value) AS mn, MAX(value) AS mx, " +
        "AVG(value) AS av, COUNT(*) AS n").collect()(0)
    val scan = events
      .filter(unix_millis(col("ts")) >= Q.R2Start && unix_millis(col("ts")) < Q.R2End)
      .agg(sum("value"), min("value"), max("value"), avg("value"), count(lit(1)))
      .collect()(0)
    assert(accel.getLong(4) == scan.getLong(4))
    assert(math.abs(accel.getDouble(0) - scan.getDouble(0)) < 1e-6)
    assert(accel.getDouble(1) == scan.getDouble(1))
    assert(accel.getDouble(2) == scan.getDouble(2))
    assert(math.abs(accel.getDouble(3) - scan.getDouble(3)) < 1e-9)
  }

  test("unaligned range folds HYBRID: interior from the index, edges as a bounded scan (round 9)") {
    register()
    // both edges sub-minute: the optimized plan must carry BOTH a
    // LocalRelation (the folded interior row) and a Filter whose scan
    // is bounded to the two sub-minute edge windows
    val unaligned = rangeSql(Q.RuStart, Q.RuEnd,
      "SUM(value) AS s, MIN(value) AS mn, MAX(value) AS mx, " +
        "AVG(value) AS av, COUNT(*) AS n")
    val plan = unaligned.queryExecution.optimizedPlan
    assert(plan.collect { case l: LocalRelation => l }.nonEmpty, plan.treeString)
    val filters = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
    assert(filters.nonEmpty, plan.treeString)
    // the edge filter compares ts directly to timestamp literals (the
    // pushable shape), not unix_millis — that's what lets parquet prune
    assert(filters.exists(_.condition.exists {
      case l: org.apache.spark.sql.catalyst.expressions.Literal =>
        l.dataType.typeName.startsWith("timestamp")
      case _ => false
    }), plan.treeString)

    // the expected side carries an extra (vacuous) conjunct so the
    // rewrite CANNOT fire on it — a genuine scan, not index-vs-index
    val scan = events
      .filter(unix_millis(col("ts")) >= Q.RuStart && unix_millis(col("ts")) < Q.RuEnd &&
        col("event_id") >= -1L)
      .agg(sum("value"), min("value"), max("value"), avg("value"), count(lit(1)))
      .collect()(0)
    val accel = unaligned.collect()(0)
    assert(accel.getLong(4) == scan.getLong(4))
    assert(math.abs(accel.getDouble(0) - scan.getDouble(0)) < 1e-6)
    assert(accel.getDouble(1) == scan.getDouble(1))
    assert(accel.getDouble(2) == scan.getDouble(2))
    assert(math.abs(accel.getDouble(3) - scan.getDouble(3)) < 1e-9)

    // one-sided sub-minute edge (aligned lower, unaligned upper)
    val oneSided = rangeSql(Q.R1Start, Q.R1End + 31000L, "SUM(value) AS s, COUNT(*) AS n")
    assert(oneSided.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty)
    val oneScan = events
      .filter(unix_millis(col("ts")) >= Q.R1Start &&
        unix_millis(col("ts")) < Q.R1End + 31000L && col("event_id") >= -1L)
      .agg(sum("value"), count(lit(1))).collect()(0)
    val oneAccel = oneSided.collect()(0)
    assert(oneAccel.getLong(1) == oneScan.getLong(1))
    assert(math.abs(oneAccel.getDouble(0) - oneScan.getDouble(0)) < 1e-6)

    // a range INSIDE one minute has no whole-minute interior: no fold,
    // plain scan (nothing to accelerate)
    val tiny = rangeSql(Q.R1Start + 1000L, Q.R1Start + 42000L, "SUM(value) AS s")
    assert(tiny.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.isEmpty)
  }

  test("keyed GROUP BY (key, slot) with sub-minute edges folds hybrid and matches scan (round 9)") {
    register()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val w = 3600000L
    val a = Q.R1Start + 23000L
    val b = Q.R1End - 41000L
    def keyedSql() = spark.sql(
      s"SELECT event_type, (unix_millis(ts) div $w) * $w AS slot_ms, " +
        "ROUND(SUM(value), 2) AS s, ROUND(AVG(value), 4) AS av, " +
        "ROUND(STDDEV_POP(value), 4) AS sd, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    val hybrid = keyedSql()
    val plan = hybrid.queryExecution.optimizedPlan
    assert(plan.collect { case l: LocalRelation => l }.nonEmpty, plan.treeString)
    assert(plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty,
      plan.treeString)
    val got = hybrid.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scan = keyedSql()
    assert(scan.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.isEmpty)
    assert(got == scan.collect().map(_.toString).toSeq)
    register()
  }

  test("grouped rollup with sub-minute edges folds hybrid and matches the scan (round 9)") {
    register()
    val a = Q.R1Start + 23000L
    val b = Q.R1End - 41000L
    events.createOrReplaceTempView("events_accel")
    def groupedSql(trailing: String) = spark.sql(
      s"SELECT (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
        s"SUM(value) AS s, AVG(value) AS av, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b $trailing " +
        s"GROUP BY 1 ORDER BY 1")
    val hybrid = groupedSql("")
    val plan = hybrid.queryExecution.optimizedPlan
    assert(plan.collect { case l: LocalRelation => l }.nonEmpty, plan.treeString)
    assert(plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty,
      plan.treeString)

    // expected side: extra vacuous conjunct disables the rewrite
    val scan = groupedSql("AND event_id >= -1")
    assert(scan.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.isEmpty)
    val hv = hybrid.collect().map(r =>
      (r.getLong(0), math.round(r.getDouble(1) * 100), math.round(r.getDouble(2) * 1e6),
        r.getLong(3))).toSeq
    val sv = scan.collect().map(r =>
      (r.getLong(0), math.round(r.getDouble(1) * 100), math.round(r.getDouble(2) * 1e6),
        r.getLong(3))).toSeq
    assert(hv == sv)

    // date_trunc grouping with sub-minute edges folds hybrid too
    val dtHybrid = spark.sql(
      s"SELECT date_trunc('day', ts) AS d, SUM(value) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        s"GROUP BY 1 ORDER BY 1")
    assert(dtHybrid.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      dtHybrid.queryExecution.optimizedPlan.treeString)
    val dtScan = spark.sql(
      s"SELECT date_trunc('day', ts) AS d, SUM(value) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        s"AND event_id >= -1 GROUP BY 1 ORDER BY 1")
    val dh = dtHybrid.collect().map(r =>
      (r.getTimestamp(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSeq
    val ds = dtScan.collect().map(r =>
      (r.getTimestamp(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSeq
    assert(dh == ds)

    // Spark's native window() grouping (struct slot keys) rides the
    // same hybrid: struct-typed interior literals + edge rows whose
    // analyzer-generated bucketing expression re-derives the struct
    val winHybrid = spark.sql(
      s"SELECT unix_millis(window.start) AS ws, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        s"GROUP BY window(ts, '1 hour') ORDER BY 1")
    assert(winHybrid.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      winHybrid.queryExecution.optimizedPlan.treeString)
    val winScan = spark.sql(
      s"SELECT unix_millis(window.start) AS ws, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        s"AND event_id >= -1 GROUP BY window(ts, '1 hour') ORDER BY 1")
    assert(winHybrid.collect().map(_.toString).toSeq ==
      winScan.collect().map(_.toString).toSeq)
  }

  test("hybrid fold equals the scan on random UNALIGNED ranges (round 9)") {
    register()
    events.createOrReplaceTempView("events_accel")
    val rnd = new scala.util.Random(4242)
    val spanSec = 29 * 24 * 3600
    (1 to 12).foreach { i =>
      // second-precision endpoints: most ranges unaligned at both ends,
      // some aligned by chance, some shorter than a minute (no fold)
      val aSec = rnd.nextInt(spanSec - 60)
      val lenSec = 1 + (if (i % 4 == 0) rnd.nextInt(90) else rnd.nextInt(spanSec - aSec))
      val a = Q.Jan1 + aSec * 1000L
      val b = a + lenSec * 1000L
      def q(extra: String) = spark.sql(
        s"SELECT SUM(value) AS s, COUNT(*) AS n FROM events_accel " +
          s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b $extra")
      val hybrid = q("").collect()(0)
      val scan = q("AND event_id >= -1").collect()(0)
      assert(hybrid.getLong(1) == scan.getLong(1), s"[$a,$b) count")
      if (!scan.isNullAt(0))
        assert(math.abs(hybrid.getDouble(0) - scan.getDouble(0)) <=
          1e-6 * math.max(1.0, math.abs(scan.getDouble(0))), s"[$a,$b) sum")
      else assert(hybrid.isNullAt(0), s"[$a,$b) null sum")
    }
  }

  test("extra-predicate queries are NOT rewritten") {
    register()
    events.createOrReplaceTempView("events_accel")
    val extraPred = spark.sql(
      s"SELECT SUM(value) AS s FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} AND event_type = 'click'")
    assert(extraPred.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.isEmpty, extraPred.queryExecution.optimizedPlan.treeString)
    // and it still executes correctly through the normal path
    assert(extraPred.collect().length == 1)
  }

  test("grouped aggregates over a NON-slot key are NOT rewritten") {
    register()
    val grouped = spark.sql(
      s"SELECT event_type, SUM(value) AS s FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
        "GROUP BY event_type")
    assert(grouped.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.isEmpty)
  }

  test("GROUP BY time-slot IS rewritten and matches the scan result") {
    register()
    events.createOrReplaceTempView("events_accel")
    val w = 3600000L
    def slotSql(a: Long, b: Long) = spark.sql(
      s"SELECT (unix_millis(ts) div $w) * $w AS slot_ms, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
        // floats rounded per the determinism rules (SURVEY §5.3): partial
        // combine order differs between index and scan in the last ulp
        "MIN(value) AS mn, ROUND(AVG(value), 4) AS av FROM events_accel " +
        s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        "GROUP BY 1 ORDER BY 1")

    def scanRows(a: Long, b: Long) = {
      WheelAcceleration.clear()
      val rows = slotSql(a, b).collect().map(_.toString).toSeq
      register()
      rows
    }

    // hour-aligned range
    val aligned = slotSql(Q.R1Start, Q.R1End)
    assert(aligned.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, aligned.queryExecution.optimizedPlan.treeString)
    assert(!aligned.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(aligned.collect().map(_.toString).toSeq == scanRows(Q.R1Start, Q.R1End))

    // minute-aligned but NOT hour-aligned: partial edge slots must match
    val a2 = Q.R1Start + 7 * 60000L
    val b2 = Q.R1End - 11 * 60000L
    val ragged = slotSql(a2, b2)
    assert(ragged.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty)
    assert(ragged.collect().map(_.toString).toSeq == scanRows(a2, b2))

    // full-span (no filter) grouped rollup also comes from the index
    val full = spark.sql(
      s"SELECT (unix_millis(ts) div $w) * $w AS slot_ms, SUM(value) AS s " +
        "FROM events_accel GROUP BY 1 ORDER BY 1")
    assert(full.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, full.queryExecution.optimizedPlan.treeString)
  }

  test("GROUP BY date_trunc('hour', ts) IS rewritten and matches the scan") {
    register()
    events.createOrReplaceTempView("events_accel")
    def truncSql() = spark.sql(
      "SELECT date_trunc('hour', ts) AS h, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1 ORDER BY 1")
    val accel = truncSql()
    assert(accel.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
    val got = accel.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scan = truncSql().collect().map(_.toString).toSeq
    register()
    assert(got == scan)
  }

  test("GROUP BY CAST(date_trunc AS BIGINT) folds to epoch-SECOND keys matching the scan (round 9)") {
    register()
    events.createOrReplaceTempView("events_accel")
    // Spark's timestamp→long cast is epoch-seconds; the rewrite must
    // emit s0/1000 keys, not the grid's epoch-ms slot starts
    def castSql() = spark.sql(
      "SELECT CAST(date_trunc('hour', ts) AS BIGINT) AS h_s, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1 ORDER BY 1")
    val accel = castSql()
    assert(accel.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
    val got = accel.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scan = castSql().collect().map(_.toString).toSeq
    register()
    assert(got == scan)
    assert(got.nonEmpty)
  }

  test("non-UTC session zone disables the NTZ date_trunc fold (round 9)") {
    val liPath = s"$dir/lineitem.parquet"
    def lineitem = Q.t(spark, dir, "lineitem")
    WheelAcceleration.registerMulti(
      spark, liPath, lineitem, "l_shipdate", Seq("l_quantity"))
    lineitem.createOrReplaceTempView("lineitem_accel")
    def truncSql() = spark.sql(
      "SELECT date_trunc('month', l_shipdate) AS slot, " +
        "ROUND(SUM(l_quantity), 2) AS s FROM lineitem_accel " +
        "WHERE l_shipdate >= TIMESTAMP_NTZ '1995-03-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP_NTZ '1996-03-01 00:00:00' " +
        "GROUP BY 1 ORDER BY 1")
    // UTC session: folds
    assert(truncSql().queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty)
    // non-UTC session: the index's NTZ build read naive values as UTC;
    // a non-UTC session's date_trunc/filters would disagree — must bail
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      assert(truncSql().queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty, "NTZ fold must be gated on a UTC session zone")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    WheelAcceleration.unregister(liPath)
  }

  test("GROUP BY (key, time-slot) IS rewritten from the keyed index and matches scan") {
    register()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val w = 3600000L
    def keyedSql(a: Long, b: Long) = spark.sql(
      s"SELECT event_type, (unix_millis(ts) div $w) * $w AS slot_ms, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    val accel = keyedSql(Q.R1Start, Q.R1End)
    assert(accel.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
    assert(!accel.queryExecution.executedPlan.toString.contains("FileScan"))
    val got = accel.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scan = keyedSql(Q.R1Start, Q.R1End).collect().map(_.toString).toSeq
    register()
    assert(got == scan)

    // ragged (minute-aligned, not hour-aligned) edges also match
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    val a2 = Q.R1Start + 23 * 60000L
    val b2 = Q.R1End - 41 * 60000L
    val ragged = keyedSql(a2, b2)
    assert(ragged.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty)
    val gotRagged = ragged.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scanRagged = keyedSql(a2, b2).collect().map(_.toString).toSeq
    register()
    assert(gotRagged == scanRagged)

    // grouping by a NON-registered key column must not rewrite
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    val other = spark.sql(
      s"SELECT user_id, (unix_millis(ts) div $w) * $w AS slot_ms, SUM(value) AS s " +
        s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1, 2")
    assert(other.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.isEmpty)
    WheelAcceleration.clear()
    register()
  }

  test("stale source fingerprint disables the rewrite; fresh data wins") {
    import spark.implicits._
    // strict freshness for this test: check the fingerprint every plan
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    // absolute: the rule resolves scan paths to absolute URIs
    val p = new java.io.File(
      "target/test-fixtures/accel/events_stale.parquet").getAbsolutePath
    def write(v: Double): Unit = Seq(
      (new java.sql.Timestamp(Q.Jan1), v),
      (new java.sql.Timestamp(Q.Jan1 + 60000L), v))
      .toDF("ts", "value").write.mode("overwrite").parquet(p)
    def q() = {
      spark.read.parquet(p).createOrReplaceTempView("ev_stale")
      spark.sql("SELECT SUM(value) AS s FROM ev_stale " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 120000L}")
    }
    def rewritten(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty

    write(1.0)
    WheelAcceleration.register(spark, p, spark.read.parquet(p))
    val fresh = q()
    assert(rewritten(fresh))
    assert(fresh.collect()(0).getDouble(0) == 2.0)

    Thread.sleep(10) // ensure a distinguishable mtime
    write(5.0)
    val stale = q()
    assert(!rewritten(stale), "stale index must not serve plan-time constants")
    assert(stale.collect()(0).getDouble(0) == 10.0) // scan path, fresh data

    // re-register rebuilds against the new fingerprint
    WheelAcceleration.register(spark, p, spark.read.parquet(p))
    val rebuilt = q()
    assert(rewritten(rebuilt))
    assert(rebuilt.collect()(0).getDouble(0) == 10.0)

    // unregister drops acceleration even with unchanged data
    WheelAcceleration.unregister(p)
    assert(!rewritten(q()))
    register() // restore the shared fixture registration for other tests
  }

  test("natural timestamp/date/string literal predicates fold (round 7)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def check(sql: String): Unit = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, s"$sql\n${df.queryExecution.optimizedPlan.treeString}")
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val scan = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == scan, sql)
    }
    // constant folding collapses every literal spelling to a µs timestamp
    // literal before the rule runs — TIMESTAMP / DATE / bare string /
    // to_timestamp all reach rangeMs in the same shape
    check("SELECT ROUND(SUM(value), 2) AS s FROM events_accel " +
      "WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-06 00:00:00'")
    check("SELECT ROUND(SUM(value), 2) AS s FROM events_accel " +
      "WHERE ts >= DATE '2024-01-05' AND ts < DATE '2024-01-06'")
    check("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      "WHERE ts >= '2024-01-03' AND ts < '2024-01-05'")
    check("SELECT ROUND(SUM(value), 2) AS s FROM events_accel " +
      "WHERE ts >= to_timestamp('2024-01-05') AND ts < to_timestamp('2024-01-06')")
    // one-sided: lower-only (landmark window) and upper-only (prefix)
    check("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      "WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'")
    check("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      "WHERE ts < TIMESTAMP '2024-01-04 00:00:00'")
    // grouped landmark: one-sided bound through the grouped path
    check("SELECT date_trunc('hour', ts) AS h, ROUND(SUM(value), 2) AS s " +
      "FROM events_accel WHERE ts >= TIMESTAMP '2024-01-28 00:00:00' " +
      "GROUP BY 1 ORDER BY 1")
    // closed upper bound (raw-ts BETWEEN, round 14): [a, b+1µs) folds
    // HYBRID — aligned interior from the index + an exact-µs edge scan
    check("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
      "FROM events_accel WHERE ts BETWEEN " +
      "TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-05 23:59:00'")
  }

  test("date_trunc month/quarter/year fold via the calendar grid, edge slots clipped (round 8)") {
    val liPath = s"$dir/lineitem.parquet"
    def lineitem = Q.t(spark, dir, "lineitem")
    def registerLi(): Unit = WheelAcceleration.registerMulti(
      spark, liPath, lineitem, "l_shipdate", Seq("l_quantity"))
    registerLi()
    lineitem.createOrReplaceTempView("lineitem_accel")
    // deliberately unaligned to every calendar unit: the first and last
    // slots are partial and must combine clipped day runs
    def truncSql(unit: String) = spark.sql(
      s"SELECT date_trunc('$unit', l_shipdate) AS slot, " +
        "ROUND(SUM(l_quantity), 2) AS s, COUNT(*) AS n FROM lineitem_accel " +
        "WHERE l_shipdate >= TIMESTAMP_NTZ '1995-03-17 00:00:00' " +
        "AND l_shipdate < TIMESTAMP_NTZ '1997-02-11 00:00:00' " +
        "GROUP BY 1 ORDER BY 1")
    for (unit <- Seq("month", "quarter", "year")) {
      val accel = truncSql(unit)
      assert(accel.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, s"$unit:\n${accel.queryExecution.optimizedPlan.treeString}")
      val got = accel.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val scan = truncSql(unit).collect().map(_.toString).toSeq
      registerLi()
      assert(got == scan, unit)
      assert(got.nonEmpty, unit)
    }
    WheelAcceleration.unregister(liPath)
  }

  test("keyed GROUP BY (key, date_trunc('month', ts)) folds with clipped edges (round 8)") {
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    // mid-month range: the single January slot is clipped on BOTH edges
    def sqlFor() = spark.sql(
      "SELECT event_type, date_trunc('month', ts) AS m, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    val accel = sqlFor()
    assert(accel.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
    val got = accel.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val scan = sqlFor().collect().map(_.toString).toSeq
    assert(got == scan)
    assert(got.nonEmpty)
  }

  test("GROUP BY window(ts, …) folds tumbling windows; sliding keeps the scan (round 7)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def run(sql: String): (Boolean, Seq[String]) = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, sql)
      (hit, got)
    }
    // hour tumbling over a natural range: folds, struct column included
    val (h1, r1) = run(
      "SELECT window(ts, '1 hour') AS w, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-06 00:00:00' GROUP BY 1 ORDER BY 1")
    assert(h1 && r1.nonEmpty)
    // full span (filter is only the inferred isnotnull), struct fields projected
    val (h2, _) = run(
      "SELECT window.start AS ws, window.end AS we, ROUND(SUM(value), 2) AS s " +
        "FROM events_accel GROUP BY window(ts, '1 day') ORDER BY 1")
    assert(h2)
    // non-tier width that is still a minute multiple
    val (h3, _) = run(
      "SELECT window(ts, '15 minutes') AS w, COUNT(*) AS n FROM events_accel " +
        "WHERE ts >= '2024-01-10' AND ts < '2024-01-11' GROUP BY 1 ORDER BY 1")
    assert(h3)
    // keyed: (dimension, window) from the keyed index
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    val (h4, _) = run(
      "SELECT event_type, window(ts, '1 hour') AS w, ROUND(SUM(value), 2) AS s " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    assert(h4)
    // sliding windows fold through the Expand matcher (round 10)
    val (h5, r5) = run(
      "SELECT window(ts, '1 hour', '30 minutes') AS w, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1 ORDER BY 1")
    assert(h5 && r5.nonEmpty)
    // sub-minute window width has no wheel grid — must NOT fold
    val (h6, _) = run(
      "SELECT window(ts, '90 seconds') AS w, COUNT(*) AS n FROM events_accel " +
        "WHERE ts >= '2024-01-05' AND ts < '2024-01-06' GROUP BY 1 ORDER BY 1")
    assert(!h6)
  }

  test("sliding window() SQL folds: mixed aggregates, offsets, and every bail shape (round 10)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def run(sql: String): (Boolean, Seq[String]) = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, sql)
      (hit, got)
    }
    // the headline shape: 1h windows sliding by 1 minute, full agg mix
    // incl. the second moment (every fold path shares foldRow)
    val (s1, r1) = run(
      "SELECT window.start AS ws, window.end AS we, ROUND(SUM(value), 2) AS s, " +
        "ROUND(AVG(value), 4) AS a, ROUND(MIN(value), 4) AS mn, " +
        "ROUND(MAX(value), 4) AS mx, ROUND(STDDEV_POP(value), 4) AS sd, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-05 06:00:00' " +
        "GROUP BY window(ts, '1 hour', '1 minute') ORDER BY 1")
    assert(s1 && r1.nonEmpty)
    // range edges mid-window: the first/last windows clip to [a, b)
    // exactly like the scan's pre-Expand filter
    val (s2, r2) = run(
      "SELECT window(ts, '30 minutes', '10 minutes') AS w, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= TIMESTAMP '2024-01-05 00:07:00' " +
        "AND ts < TIMESTAMP '2024-01-05 02:03:00' GROUP BY 1 ORDER BY 1")
    assert(s2 && r2.nonEmpty)
    // a startTime offset shifts the slide grid; still folds
    val (s3, r3) = run(
      "SELECT window(ts, '1 hour', '15 minutes', '5 minutes') AS w, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1 ORDER BY 1")
    assert(s3 && r3.nonEmpty)
    // full span: no range filter at all, bounds default to the index
    val (s4, r4) = run(
      "SELECT window(ts, '2 hours', '1 hour') AS w, ROUND(SUM(value), 2) AS s " +
        "FROM events_accel GROUP BY 1 ORDER BY 1")
    assert(s4 && r4.nonEmpty)
    // NON-DIVISIBLE slide (late round 10): TimeWindowing adds the
    // membership filter above the Expand; the validated filter restores
    // exact enumeration (ceil(size/slide) candidates, only containing
    // windows kept), so the same per-window fold applies
    val (b1, r1b) = run(
      "SELECT window(ts, '25 minutes', '10 minutes') AS w, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1 ORDER BY 1")
    assert(b1 && r1b.nonEmpty)
    // ...and with sub-minute range edges the non-divisible shape goes
    // HYBRID: the edge rows re-expand through the ORIGINAL membership
    // filter, so each edge row lands only in its true windows
    val (b1h, r1h) = run(
      "SELECT window(ts, '25 minutes', '10 minutes') AS w, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel WHERE unix_millis(ts) >= " +
        s"${Q.Jan1 + 30 * 1000} AND unix_millis(ts) < ${Q.Jan1 + 86400000 - 7000} " +
        "GROUP BY 1 ORDER BY 1")
    assert(b1h && r1h.nonEmpty)
    // sub-minute range edges go HYBRID (round 10): interior windows
    // fold from the index, the edge rows re-enumerate their windows
    // through the original Expand over a bounded two-edge scan
    val (b2, r2b) = run(
      "SELECT window(ts, '1 hour', '20 minutes') AS w, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel WHERE unix_millis(ts) >= " +
        s"${Q.Jan1 + 30 * 1000} AND unix_millis(ts) < ${Q.Jan1 + 86400000 - 7000} " +
        "GROUP BY 1 ORDER BY 1")
    assert(b2 && r2b.nonEmpty)
    // BAIL: sub-minute slide has no wheel grid
    val (b3, _) = run(
      "SELECT window(ts, '10 minutes', '30 seconds') AS w, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1 ORDER BY 1")
    assert(!b3)
    // above the plan-time window cap the ALIGNED shape still folds —
    // DISTRIBUTED since round 11 (minute partials through the original
    // Expand; values run-verified against the scan by run()); the
    // dedicated round-11 test asserts the plan shape
    System.setProperty("graft.wheel.rewrite.maxFoldRows", "3")
    try {
      val (b4, r4b) = run(
        "SELECT window(ts, '1 hour', '30 minutes') AS w, COUNT(*) AS n " +
          "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
          "GROUP BY 1 ORDER BY 1")
      assert(b4 && r4b.nonEmpty)
      // above-cap with SUB-MINUTE edges goes HYBRID-DISTRIBUTED (late
      // round 11): minute partials through the original Expand as the
      // interior union leg, edge rows through their own Expand — the
      // last sliding shape that used to keep the scan now folds, and
      // run() value-verifies it against the scan
      val (b5, r5b) = run(
        "SELECT window(ts, '1 hour', '30 minutes') AS w, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.Jan1 + 30 * 1000} AND unix_millis(ts) < ${Q.Jan1 + 86400000 - 7000} " +
          "GROUP BY 1 ORDER BY 1")
      assert(b5 && r5b.nonEmpty)
    } finally System.clearProperty("graft.wheel.rewrite.maxFoldRows")

    // KEYED sliding (round 10): per-(key, window) rows from the keyed
    // wheel, same Expand verification
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    val (k1, rk1) = run(
      "SELECT event_type, window(ts, '1 hour', '20 minutes') AS w, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    assert(k1 && rk1.nonEmpty)
    // ...including the keyed sliding HYBRID over sub-minute edges
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    val (k2, rk2) = run(
      "SELECT event_type, window(ts, '30 minutes', '10 minutes') AS w, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel WHERE unix_millis(ts) >= " +
        s"${Q.Jan1 + 45 * 1000} AND unix_millis(ts) < ${Q.Jan1 + 14400000 - 9000} " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    assert(k2 && rk2.nonEmpty)
  }

  test("above the fold cap, grouped/keyed rewrites go DISTRIBUTED: partials LocalRelation + real Aggregate (round 10)") {
    register()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def shape(df: org.apache.spark.sql.DataFrame): (Boolean, Boolean, Boolean) = {
      val p = df.queryExecution.optimizedPlan
      (p.collect { case l: LocalRelation => l }.nonEmpty,
        p.collect { case a: Aggregate => a }.nonEmpty,
        p.collect { case r: LogicalRelation => r }.nonEmpty)
    }
    def check(sql: String, expectFile: Boolean): Unit = {
      // cap of 3: every shape below exceeds it, forcing the
      // minute-state fallback instead of the per-cell plan-time fold
      System.setProperty("graft.wheel.rewrite.maxFoldRows", "3")
      val df = spark.sql(sql)
      val (local, agg, file) = shape(df)
      assert(local && agg, s"$sql:\n${df.queryExecution.optimizedPlan.treeString}")
      assert(file == expectFile, s"$sql:\n${df.queryExecution.optimizedPlan.treeString}")
      val got = df.collect().map(_.toString).toSeq
      // same statement, default cap: per-cell fold (pure LocalRelation)
      System.clearProperty("graft.wheel.rewrite.maxFoldRows")
      val cellFold = spark.sql(sql).collect().map(_.toString).toSeq
      // and the scan truth with no registration at all
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assert(got == want, sql)
      assert(cellFold == want, sql)
      assert(got.nonEmpty, sql)
    }
    try {
      // unkeyed grouped, long slot keys: 24h of hour cells > 3
      check(
        "SELECT (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
          "ROUND(SUM(value), 2) AS s, ROUND(AVG(value), 4) AS a, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 86400000} " +
          "GROUP BY 1 ORDER BY 1", expectFile = false)
      // unkeyed grouped, timestamp slot keys (date_trunc grid)
      check(
        "SELECT date_trunc('hour', ts) AS h, ROUND(SUM(value), 2) AS s " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 86400000} " +
          "GROUP BY 1 ORDER BY 1", expectFile = false)
      // keyed grouped: |keys| x 24 hour cells > 3
      check(
        "SELECT event_type, (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 86400000} " +
          "GROUP BY 1, 2 ORDER BY 1, 2", expectFile = false)
      // grouped HYBRID above cap: minute-state interior + the bounded
      // edge-scan leg (the file relation is the sub-minute edge window)
      check(
        "SELECT (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.Jan1 + 7000} AND unix_millis(ts) < ${Q.Jan1 + 86400000 - 11000} " +
          "GROUP BY 1 ORDER BY 1", expectFile = true)
      // keyed HYBRID above cap
      check(
        "SELECT event_type, (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.Jan1 + 7000} AND unix_millis(ts) < ${Q.Jan1 + 86400000 - 11000} " +
          "GROUP BY 1, 2 ORDER BY 1, 2", expectFile = true)
    } finally System.clearProperty("graft.wheel.rewrite.maxFoldRows")
  }

  test("GROUP BY unix_millis(date_trunc(...)) epoch-ms keys fold (round 10)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def run(sql: String): (Boolean, Seq[String]) = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, sql)
      (hit, got)
    }
    // fixed-width tier and calendar tier, both through the ms-key wrap
    val (h1, r1) = run(
      "SELECT unix_millis(date_trunc('day', ts)) AS d_ms, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
        "GROUP BY 1 ORDER BY 1")
    assert(h1 && r1.nonEmpty)
    val (h2, r2) = run(
      "SELECT unix_millis(date_trunc('month', ts)) AS m_ms, " +
        "ROUND(SUM(value), 2) AS s FROM events_accel GROUP BY 1 ORDER BY 1")
    assert(h2 && r2.nonEmpty)
    // unix_millis over the RAW column is per-ms grouping — no grid,
    // must keep the scan
    val (h3, _) = run(
      "SELECT unix_millis(ts) AS ms, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1Start + 3600000} " +
        "GROUP BY 1 ORDER BY 1 LIMIT 5")
    assert(!h3)
  }

  test("registerKeyedMulti folds mixed-measure keyed SQL, aligned and hybrid (round 10)") {
    import spark.implicits._
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    val src = new java.io.File("target/test-fixtures/accel/keyed-multi.parquet")
      .getAbsolutePath
    val Min = 60000L
    val t0 = Q.Jan1
    Seq(
      (new java.sql.Timestamp(t0), "a", 1.0, 10.0),
      (new java.sql.Timestamp(t0 + 30000), "a", 2.0, 5.0),
      (new java.sql.Timestamp(t0 + Min), "b", 3.0, 7.0),
      (new java.sql.Timestamp(t0 + 61 * Min), "a", 4.0, 2.0),
      (new java.sql.Timestamp(t0 + 62 * Min + 30500), "b", 5.0, 9.0))
      .toDF("ts", "k", "value", "qty").write.mode("overwrite").parquet(src)
    def reg(): Unit = {
      val wheels = WheelAcceleration.registerKeyedMulti(
        spark, src, spark.read.parquet(src), "k", "ts", Seq("value", "qty"))
      assert(wheels.keySet == Set("value", "qty"))
    }
    def run(sql: String, expectFold: Boolean): Unit = {
      reg()
      spark.read.parquet(src).createOrReplaceTempView("km")
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      assert(hit == expectFold, s"$sql:\n${df.queryExecution.optimizedPlan.treeString}")
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      assert(got == want, sql)
      assert(got.nonEmpty, sql)
    }
    try {
      // aligned: mixed measures over (key, hour slot)
      run(
        "SELECT k, (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
          "ROUND(SUM(value), 2) AS s, ROUND(AVG(qty), 4) AS aq, " +
          "ROUND(MAX(qty), 4) AS mq, COUNT(*) AS n FROM km " +
          s"WHERE unix_millis(ts) >= $t0 AND unix_millis(ts) < ${t0 + 7200000} " +
          "GROUP BY 1, 2 ORDER BY 1, 2", expectFold = true)
      // hybrid: sub-minute edges, both measures through the edge leg
      run(
        "SELECT k, (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
          "ROUND(SUM(value), 2) AS s, ROUND(SUM(qty), 2) AS sq, COUNT(*) AS n " +
          s"FROM km WHERE unix_millis(ts) >= ${t0 + 10000} " +
          s"AND unix_millis(ts) < ${t0 + 7200000 - 15000} " +
          "GROUP BY 1, 2 ORDER BY 1, 2", expectFold = true)

      // ABOVE-CAP distributed fallback with MULTIPLE measures: the
      // minute-state rows must align every measure's wheel per entry
      // (keyed via minuteAt(key, slot); unkeyed via minuteAt(slot))
      System.setProperty("graft.wheel.rewrite.maxFoldRows", "1")
      try {
        // keyed multi: distributed Aggregate, values still scan-exact
        run(
          "SELECT k, (unix_millis(ts) div 60000) * 60000 AS slot_ms, " +
            "ROUND(SUM(value), 2) AS s, ROUND(AVG(qty), 4) AS aq, COUNT(*) AS n " +
            s"FROM km WHERE unix_millis(ts) >= $t0 " +
            s"AND unix_millis(ts) < ${t0 + 7200000} " +
            "GROUP BY 1, 2 ORDER BY 1, 2", expectFold = true)
        // unkeyed multi over the same fixture
        WheelAcceleration.clear()
        WheelAcceleration.registerMulti(
          spark, src, spark.read.parquet(src), "ts", Seq("value", "qty"))
        spark.read.parquet(src).createOrReplaceTempView("km")
        val df = spark.sql(
          "SELECT (unix_millis(ts) div 60000) * 60000 AS slot_ms, " +
            "ROUND(SUM(value), 2) AS s, ROUND(MAX(qty), 4) AS mq, COUNT(*) AS n " +
            s"FROM km WHERE unix_millis(ts) >= $t0 " +
            s"AND unix_millis(ts) < ${t0 + 7200000} GROUP BY 1 ORDER BY 1")
        assert(df.queryExecution.optimizedPlan.collect {
          case l: LocalRelation => l
        }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
        val got = df.collect().map(_.toString).toSeq
        WheelAcceleration.clear()
        val want = spark.sql(
          "SELECT (unix_millis(ts) div 60000) * 60000 AS slot_ms, " +
            "ROUND(SUM(value), 2) AS s, ROUND(MAX(qty), 4) AS mq, COUNT(*) AS n " +
            s"FROM km WHERE unix_millis(ts) >= $t0 " +
            s"AND unix_millis(ts) < ${t0 + 7200000} GROUP BY 1 ORDER BY 1")
          .collect().map(_.toString).toSeq
        assert(got == want && got.nonEmpty)
      } finally System.clearProperty("graft.wheel.rewrite.maxFoldRows")

      // sliding HYBRID over a multi-measure registration when the query
      // aggregates only ONE measure: column pruning drops the other
      // from the Expand, and the edge/interior legs must follow suit
      WheelAcceleration.clear()
      WheelAcceleration.registerMulti(
        spark, src, spark.read.parquet(src), "ts", Seq("value", "qty"))
      spark.read.parquet(src).createOrReplaceTempView("km")
      val sSql =
        "SELECT unix_millis(window.start) AS ws, ROUND(SUM(value), 2) AS s, " +
          s"COUNT(*) AS n FROM km WHERE unix_millis(ts) >= ${t0 + 10000} " +
          s"AND unix_millis(ts) < ${t0 + 7200000 - 15000} " +
          "GROUP BY window(ts, '10 minutes', '5 minutes') ORDER BY 1"
      val sdf = spark.sql(sSql)
      assert(sdf.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, sdf.queryExecution.optimizedPlan.treeString)
      val sGot = sdf.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val sWant = spark.sql(sSql).collect().map(_.toString).toSeq
      assert(sGot == sWant && sGot.nonEmpty)
    } finally WheelAcceleration.clear()
  }

  test("lastBailReason reports why acceleration did not fire, per bail class (round 11)") {
    import spark.implicits._
    register()
    events.createOrReplaceTempView("events_accel")
    def planOnly(sql: String): Unit = {
      spark.sql(sql).queryExecution.optimizedPlan; ()
    }
    def reason: String = WheelAcceleration.lastBailReason(path).getOrElse("")

    // unsupported aggregate (no plan-time fold exists for it)
    planOnly("SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p " +
      s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
      s"AND unix_millis(ts) < ${Q.R1End}")
    assert(reason.contains("unsupported aggregate"), reason)

    // deliberate exact-spelling refusal (COUNT(DISTINCT))
    planOnly("SELECT SUM(value) AS s, COUNT(DISTINCT user_id) AS u " +
      s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
      s"AND unix_millis(ts) < ${Q.R1End}")
    assert(reason.contains("DISTINCT") || reason.contains("unsupported"), reason)

    // non-range filter shape (extra conjunct)
    planOnly("SELECT SUM(value) AS s FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
      "AND value > 0")
    assert(reason.contains("half-open range"), reason)

    // non-time-bucket grouping
    planOnly("SELECT user_id, SUM(value) AS s FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
      "GROUP BY 1")
    assert(reason.contains("time-bucketing"), reason)

    // above the window cap WITH sub-minute edges the shape goes
    // hybrid-distributed since late round 11 — the remaining bail in
    // that family is an aggregate with no merge form (DISTINCT)
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "3")
    try {
      planOnly("SELECT COUNT(DISTINCT user_id) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.RsStart + 7000} " +
        s"AND unix_millis(ts) < ${Q.RsEnd - 9000} " +
        "GROUP BY window(ts, '1 hour', '30 minutes')")
      assert(reason.contains("DISTINCT") || reason.contains("unsupported"), reason)
    } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")

    // ill-conditioned second moment: since shift-centering (round 11)
    // only HETEROGENEOUS group means far from the range mean with tiny
    // within-group spread still bail, and only on merge-form shapes —
    // a grouped hybrid (sub-minute edges) over a two-regime fixture
    val illSrc = new java.io.File("target/test-fixtures/accel/illcond2.parquet")
      .getAbsolutePath
    (0 until 100).map { i =>
      val base = if (i / 50 == 0) 0.0 else 2e8
      (new java.sql.Timestamp(Q.Jan1 + (i / 5) * 60000L), base + (i % 5) * 0.01)
    }.toDF("ts", "value").write.mode("overwrite").parquet(illSrc)
    WheelAcceleration.register(spark, illSrc, spark.read.parquet(illSrc))
    spark.read.parquet(illSrc).createOrReplaceTempView("illcond2")
    try {
      spark.sql("SELECT (unix_millis(ts) div 60000) * 60000 AS m, " +
        "VAR_POP(value) AS v FROM illcond2 " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1 + 7000} " +
        s"AND unix_millis(ts) < ${Q.Jan1 + 1200000 - 9000} GROUP BY 1")
        .queryExecution.optimizedPlan
      assert(WheelAcceleration.lastBailReason(illSrc)
        .exists(_.contains("ill-conditioned")),
        WheelAcceleration.lastBailReason(illSrc).toString)
    } finally WheelAcceleration.unregister(illSrc)

    // stale fingerprint
    val staleSrc = new java.io.File("target/test-fixtures/accel/stalebail.parquet")
      .getAbsolutePath
    System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
    try {
      Seq((new java.sql.Timestamp(Q.Jan1), 1.0))
        .toDF("ts", "value").write.mode("overwrite").parquet(staleSrc)
      WheelAcceleration.register(spark, staleSrc, spark.read.parquet(staleSrc))
      Seq((new java.sql.Timestamp(Q.Jan1), 2.0), (new java.sql.Timestamp(Q.Jan1 + 60000L), 3.0))
        .toDF("ts", "value").write.mode("overwrite").parquet(staleSrc)
      spark.read.parquet(staleSrc).createOrReplaceTempView("stalebail")
      spark.sql("SELECT SUM(value) AS s FROM stalebail " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 120000}")
        .queryExecution.optimizedPlan
      assert(WheelAcceleration.lastBailReason(staleSrc)
        .exists(_.contains("stale fingerprint")),
        WheelAcceleration.lastBailReason(staleSrc).toString)
    } finally {
      System.clearProperty("graft.wheel.fingerprint.ttlMs")
      WheelAcceleration.unregister(staleSrc)
    }
  }

  test("accelerationStatus renders registrations, freshness and the last bail (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/status.parquet")
      .getAbsolutePath
    // nothing registered yet
    WheelAcceleration.unregister(src)
    val empty = WheelAcceleration.accelerationStatus(src)
    assert(empty.contains("nothing registered"), empty)
    assert(empty.contains("none recorded"), empty)

    (0 until 10).map(i =>
      (new java.sql.Timestamp(Q.Jan1 + i * 60000L), i.toDouble, i.toLong))
      .toDF("ts", "value", "user_id").write.mode("overwrite").parquet(src)
    WheelAcceleration.register(spark, src, spark.read.parquet(src))
    WheelAcceleration.registerSketches(spark, src, spark.read.parquet(src),
      distinctCols = Seq("user_id"))
    try {
      val st = WheelAcceleration.accelerationStatus(src)
      assert(st.contains("sum wheels: measures [value]"), st)
      assert(st.contains("sketch wheels: distinct [user_id]"), st)
      assert(st.contains("fingerprint FRESH"), st)
      assert(st.contains("span [2024-01-01T00:00:00Z"), st)

      // a bailing query shows up in the same rendering
      spark.read.parquet(src).createOrReplaceTempView("status_accel")
      spark.sql("SELECT SUM(value) AS s FROM status_accel " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 600000} " +
        "AND value > 0").queryExecution.optimizedPlan
      val st2 = WheelAcceleration.accelerationStatus(src)
      assert(st2.contains("last non-firing rewrite: "), st2)
      assert(!st2.contains("none recorded"), st2)

      // stale source flips the rendered freshness verdict
      System.setProperty("graft.wheel.fingerprint.ttlMs", "0")
      try {
        Seq((new java.sql.Timestamp(Q.Jan1), 1.0, 99L))
          .toDF("ts", "value", "user_id").write.mode("overwrite").parquet(src)
        val st3 = WheelAcceleration.accelerationStatus(src)
        assert(st3.contains("fingerprint STALE"), st3)
      } finally System.clearProperty("graft.wheel.fingerprint.ttlMs")
    } finally WheelAcceleration.unregister(src)
  }

  test("ill-conditioned VAR/STDDEV: plan-time folds are Welford-exact, merge-form keeps the scan (round 11, ADVICE r10)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/illcond.parquet")
      .getAbsolutePath
    val t0 = Q.Jan1
    // values ~1e8 with ~1e-2 spread: mean²/var ≈ 1e20 — the raw-Σx²
    // algebraic form loses every variance digit in doubles. Since the
    // central-m2 switch the PLAN-TIME fold combines per-minute Welford
    // moments with Chan's update and must MATCH the scan; merge-form
    // recombinations are SHIFT-CENTERED around the range mean, so this
    // homogeneous fixture folds there too (the heterogeneous limit has
    // its own test below).
    (0 until 300).map(i =>
      (new java.sql.Timestamp(t0 + (i / 5) * 60000L), 1e8 + (i % 5) * 0.01))
      .toDF("ts", "value").write.mode("overwrite").parquet(src)
    WheelAcceleration.register(spark, src, spark.read.parquet(src))
    spark.read.parquet(src).createOrReplaceTempView("illcond")
    def folded(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    def scanOf(sql: String): Array[org.apache.spark.sql.Row] = {
      WheelAcceleration.clear()
      val rows = spark.sql(sql).collect()
      WheelAcceleration.register(spark, src, spark.read.parquet(src))
      rows
    }
    // the TRUE var_pop of {0, .01, .02, .03, .04} repeated: 2e-4
    val trueVar = (0 until 5).map(i => math.pow((i - 2) * 0.01, 2)).sum / 5
    try {
      // ungrouped aligned: VAR folds AND matches the scan's Welford
      // answer to high relative precision (pre-m2 this lost every digit)
      val vSql = "SELECT VAR_POP(value) AS v FROM illcond " +
        s"WHERE unix_millis(ts) >= $t0 AND unix_millis(ts) < ${t0 + 3600000}"
      val v = spark.sql(vSql)
      assert(folded(v), v.queryExecution.optimizedPlan.treeString)
      val got = v.collect()(0).getDouble(0)
      val want = scanOf(vSql)(0).getDouble(0)
      // both engines carry ~1e-6 relative Welford error at mean 1e8 —
      // the point is the fold keeps ~all the digits where the raw-Σx²
      // form lost 100% of them (its answer was clamped 0.0)
      assert(math.abs(got - trueVar) <= 1e-4 * trueVar, s"fold $got vs true $trueVar")
      assert(math.abs(got - want) <= 1e-4 * trueVar, s"fold $got vs scan $want")
      // grouped per-slot STDDEV folds and matches per slot
      val gSql = "SELECT (unix_millis(ts) div 60000) * 60000 AS m, " +
        "STDDEV_POP(value) AS sd FROM illcond " +
        s"WHERE unix_millis(ts) >= $t0 AND unix_millis(ts) < ${t0 + 3600000} " +
        "GROUP BY 1 ORDER BY 1"
      val g = spark.sql(gSql)
      assert(folded(g), g.queryExecution.optimizedPlan.treeString)
      val gGot = g.collect()
      val gWant = scanOf(gSql)
      assert(gGot.length == gWant.length && gGot.nonEmpty)
      gGot.zip(gWant).foreach { case (a, b) =>
        assert(a.getLong(0) == b.getLong(0))
        assert(math.abs(a.getDouble(1) - b.getDouble(1)) <=
          1e-4 * math.sqrt(trueVar), s"slot ${a.getLong(0)}: ${a.getDouble(1)} vs ${b.getDouble(1)}")
      }
      // hybrid (sub-minute edges): SHIFT-CENTERED since round 11 — the
      // merge-form partials carry Σ(x−c)² around the interior's own
      // mean, so homogeneous data at any magnitude now FOLDS and
      // matches the scan (pre-shift this had to keep the scan)
      val hSql = "SELECT VAR_POP(value) AS v FROM illcond " +
        s"WHERE unix_millis(ts) >= ${t0 + 7000} AND unix_millis(ts) < ${t0 + 3600000 - 9000}"
      val h = spark.sql(hSql)
      assert(folded(h), h.queryExecution.optimizedPlan.treeString)
      val hGot = h.collect()(0).getDouble(0)
      val hWant = scanOf(hSql)(0).getDouble(0)
      assert(math.abs(hGot - hWant) <= 1e-4 * trueVar, s"hybrid fold $hGot vs scan $hWant")
      // sanity: a WELL-conditioned fixture still folds the second moment
      register()
      events.createOrReplaceTempView("events_accel")
      val ok = spark.sql("SELECT VAR_POP(value) AS v FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
      assert(folded(ok))
    } finally WheelAcceleration.unregister(src)
  }

  test("shift-centering limit: heterogeneous group means far from the range mean still keep the scan (round 11)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/illcondhet.parquet")
      .getAbsolutePath
    val t0 = Q.Jan1
    // two regimes: minutes 0–4 at ~0, minutes 5–9 at ~2e8, each with
    // ~1e-2 within-minute spread. The global shift c ≈ 1e8 sits 1e8
    // away from EVERY group mean, so recovering the tiny within-group
    // variance from Σ(x−c)² partials would cancel catastrophically —
    // the per-partial gate (var ≥ 1e-8·(mean−c)²) must keep the scan
    // for the GROUPED hybrid, while the UNGROUPED hybrid (whose true
    // variance is dominated by the 1e16 between-regime spread) folds.
    (0 until 50).map { i =>
      val base = if (i / 25 == 0) 0.0 else 2e8
      (new java.sql.Timestamp(t0 + (i / 5) * 60000L), base + (i % 5) * 0.01)
    }.toDF("ts", "value").write.mode("overwrite").parquet(src)
    WheelAcceleration.register(spark, src, spark.read.parquet(src))
    spark.read.parquet(src).createOrReplaceTempView("illcondhet")
    def folded(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    def scanOf(sql: String): Array[org.apache.spark.sql.Row] = {
      WheelAcceleration.clear()
      val rows = spark.sql(sql).collect()
      WheelAcceleration.register(spark, src, spark.read.parquet(src))
      rows
    }
    try {
      // grouped hybrid: per-minute VAR over an unaligned range — the
      // shift cannot serve both regimes, gate keeps the scan
      val gSql = "SELECT (unix_millis(ts) div 60000) * 60000 AS m, " +
        "VAR_POP(value) AS v FROM illcondhet " +
        s"WHERE unix_millis(ts) >= ${t0 + 7000} " +
        s"AND unix_millis(ts) < ${t0 + 600000 - 9000} GROUP BY 1 ORDER BY 1"
      val g = spark.sql(gSql)
      assert(!folded(g), g.queryExecution.optimizedPlan.treeString)
      assert(WheelAcceleration.lastBailReason(src)
        .exists(_.contains("ill-conditioned")),
        WheelAcceleration.lastBailReason(src).toString)
      // ungrouped hybrid over the same data: the combined interior is
      // centered on its own mean; the true variance is the between-
      // regime 1e16, so the fold fires and matches the scan
      val uSql = "SELECT VAR_POP(value) AS v FROM illcondhet " +
        s"WHERE unix_millis(ts) >= ${t0 + 7000} " +
        s"AND unix_millis(ts) < ${t0 + 600000 - 9000}"
      val u = spark.sql(uSql)
      assert(folded(u), u.queryExecution.optimizedPlan.treeString)
      val uGot = u.collect()(0).getDouble(0)
      val uWant = scanOf(uSql)(0).getDouble(0)
      assert(math.abs(uGot - uWant) <= 1e-6 * math.max(uGot.abs, uWant.abs),
        s"ungrouped hybrid fold $uGot vs scan $uWant")
      // grouped ALIGNED: plan-time fold, Welford-exact per group even
      // on the heterogeneous fixture — matches the scan per minute
      val aSql = "SELECT (unix_millis(ts) div 60000) * 60000 AS m, " +
        "VAR_POP(value) AS v FROM illcondhet " +
        s"WHERE unix_millis(ts) >= $t0 AND unix_millis(ts) < ${t0 + 600000} " +
        "GROUP BY 1 ORDER BY 1"
      val al = spark.sql(aSql)
      assert(folded(al), al.queryExecution.optimizedPlan.treeString)
      val aGot = al.collect()
      val aWant = scanOf(aSql)
      assert(aGot.length == aWant.length && aGot.nonEmpty)
      aGot.zip(aWant).foreach { case (x, y) =>
        assert(x.getLong(0) == y.getLong(0))
        assert(math.abs(x.getDouble(1) - y.getDouble(1)) <= 1e-10 +
          1e-4 * math.max(x.getDouble(1).abs, y.getDouble(1).abs),
          s"slot ${x.getLong(0)}: ${x.getDouble(1)} vs ${y.getDouble(1)}")
      }
      // grouped ALIGNED above the cap: the edge-free DISTRIBUTED path
      // ships PER-GROUP shifts (each group's own mean as a column), so
      // even the heterogeneous fixture folds exactly — no gate needed
      spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "3")
      try {
        val dg = spark.sql(aSql)
        assert(folded(dg), dg.queryExecution.optimizedPlan.treeString)
        val dGot = dg.collect()
        assert(dGot.length == aWant.length && dGot.nonEmpty)
        dGot.zip(aWant).foreach { case (x, y) =>
          assert(x.getLong(0) == y.getLong(0))
          assert(math.abs(x.getDouble(1) - y.getDouble(1)) <= 1e-10 +
            1e-4 * math.max(x.getDouble(1).abs, y.getDouble(1).abs),
            s"above-cap slot ${x.getLong(0)}: ${x.getDouble(1)} vs ${y.getDouble(1)}")
        }
      } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    } finally WheelAcceleration.unregister(src)
  }

  test("above the cap, sliding folds go DISTRIBUTED: minute partials through the original Expand (round 11)") {
    register()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Generate}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def check(sql: String): Unit = {
      // cap of 3: every sliding shape below enumerates more windows,
      // forcing the minute-partials Expand instead of the per-window
      // plan-time fold — and instead of the pre-round-11 scan bail
      spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "3")
      val df = spark.sql(sql)
      val p = df.queryExecution.optimizedPlan
      assert(p.collect { case l: LocalRelation => l }.nonEmpty, s"$sql:\n${p.treeString}")
      // round 18: the enumeration is one Generate (Expand only as the
      // structural fallback)
      assert(p.collect { case e: Expand => e }.nonEmpty ||
        p.collect { case g: Generate => g }.nonEmpty, s"$sql:\n${p.treeString}")
      assert(p.collect { case ag: Aggregate => ag }.nonEmpty, s"$sql:\n${p.treeString}")
      assert(p.collect { case r: LogicalRelation => r }.isEmpty, s"$sql:\n${p.treeString}")
      val got = df.collect().map(_.toString).toSeq
      // default cap: the per-window plan-time fold
      spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
      val cellFold = spark.sql(sql).collect().map(_.toString).toSeq
      // scan truth with no registration at all
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assert(got == want, sql)
      assert(cellFold == want, sql)
      assert(got.nonEmpty, sql)
    }
    try {
      // divisible slide (no membership filter): 1h windows on a 20-min grid
      check(
        "SELECT unix_millis(window.start) AS ws, ROUND(SUM(value), 2) AS s, " +
          "ROUND(AVG(value), 4) AS av, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.RsStart} AND unix_millis(ts) < ${Q.RsEnd} " +
          "GROUP BY window(ts, '1 hour', '20 minutes') ORDER BY 1")
      // NON-divisible slide: the membership filter must survive the
      // re-rooting (the over-enumerated candidates need it)
      check(
        "SELECT unix_millis(window.start) AS ws, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.RsStart} AND unix_millis(ts) < ${Q.RsEnd} " +
          "GROUP BY window(ts, '3 minutes', '2 minutes') ORDER BY 1")
      // KEYED sliding above |keys| x windows
      check(
        "SELECT event_type, unix_millis(window.start) AS ws, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.RsStart} AND unix_millis(ts) < ${Q.RsEnd} " +
          "GROUP BY event_type, window(ts, '1 hour', '20 minutes') ORDER BY 1, 2")
      // above-cap WITH sub-minute edges: hybrid-DISTRIBUTED (late round
      // 11) — a Union of the minute-partials Expand (interior) and the
      // edge rows' own Expand over a bounded scan; value-verified
      // against both the below-cap hybrid and the raw scan
      def checkHybrid(sql: String): Unit = {
        import org.apache.spark.sql.catalyst.plans.logical.Union
        spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "3")
        val df = spark.sql(sql)
        val p = df.queryExecution.optimizedPlan
        assert(p.collect { case u: Union => u }.nonEmpty, s"$sql:\n${p.treeString}")
        assert(p.collect { case l: LocalRelation => l }.nonEmpty, s"$sql:\n${p.treeString}")
        // round 18: both legs enumerate via Generate now
        assert((p.collect { case e: Expand => e } ++
          p.collect { case g: Generate => g }).size >= 2, s"$sql:\n${p.treeString}")
        val got = df.collect().map(_.toString).toSeq
        spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
        val hybridFold = spark.sql(sql).collect().map(_.toString).toSeq
        WheelAcceleration.clear()
        val want = spark.sql(sql).collect().map(_.toString).toSeq
        register()
        WheelAcceleration.registerKeyed(spark, path, events, "event_type")
        assert(got == want, sql)
        assert(hybridFold == want, sql)
        assert(got.nonEmpty, sql)
      }
      checkHybrid(
        "SELECT unix_millis(window.start) AS ws, ROUND(SUM(value), 2) AS s, " +
          "COUNT(*) AS n FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.RsStart + 7000} AND unix_millis(ts) < ${Q.RsEnd - 9000} " +
          "GROUP BY window(ts, '1 hour', '20 minutes') ORDER BY 1")
      // non-divisible slide: membership filter survives on BOTH legs
      checkHybrid(
        "SELECT unix_millis(window.start) AS ws, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.RsStart + 7000} AND unix_millis(ts) < ${Q.RsEnd - 9000} " +
          "GROUP BY window(ts, '3 minutes', '2 minutes') ORDER BY 1")
      // keyed above-cap hybrid
      checkHybrid(
        "SELECT event_type, unix_millis(window.start) AS ws, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          "FROM events_accel WHERE unix_millis(ts) >= " +
          s"${Q.RsStart + 7000} AND unix_millis(ts) < ${Q.RsEnd - 9000} " +
          "GROUP BY event_type, window(ts, '1 hour', '20 minutes') ORDER BY 1, 2")
    } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
  }

  test("approximate SQL spellings fold from the sketch wheels (round 11)") {
    register()
    WheelAcceleration.registerSketches(spark, path, events, "ts",
      distinctCols = Seq("user_id"), quantileCols = Seq("value"),
      freqCols = Seq("user_id"))
    events.createOrReplaceTempView("events_accel")
    def folded(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      p.collect { case l: LocalRelation => l }.nonEmpty &&
        p.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty
    }
    // approx_count_distinct: folds to the Theta estimate — exact in this
    // regime, so it must equal the true COUNT(DISTINCT)
    val d = spark.sql(
      "SELECT approx_count_distinct(user_id) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
    assert(folded(d), d.queryExecution.optimizedPlan.treeString)
    val dExact = events
      .filter(unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End)
      .agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(d.collect()(0).getLong(0) == dExact)

    // percentile_approx: scalar and array spellings, exact below the KLL
    // buffer — must equal percentile_disc over the scan
    val q1 = spark.sql(
      "SELECT percentile_approx(value, 0.5) AS p50, " +
        "percentile_approx(value, array(0.25, 0.9)) AS ps FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.RqStart} AND unix_millis(ts) < ${Q.RqEnd}")
    assert(folded(q1), q1.queryExecution.optimizedPlan.treeString)
    val disc = events
      .filter(unix_millis(col("ts")) >= Q.RqStart && unix_millis(col("ts")) < Q.RqEnd)
      .select(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)"))
      .collect()(0)
    val q1r = q1.collect()(0)
    assert(q1r.getDouble(0) == disc.getDouble(0))
    assert(q1r.getSeq[Double](1) == Seq(disc.getDouble(1), disc.getDouble(2)))

    // approx_top_k: folds to the Misra-Gries top-k — exact in this
    // regime, so items+counts must equal the true GROUP BY top-k
    val tk = spark.sql(
      "SELECT approx_top_k(user_id, 5) AS tk FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
    assert(folded(tk), tk.queryExecution.optimizedPlan.treeString)
    val want = events
      .filter(unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = tk.collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got == want, s"got $got want $want")

    // a MIXED statement folds both families from one Aggregate
    val mixed = spark.sql(
      "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
        "approx_count_distinct(user_id) AS u FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
    assert(folded(mixed), mixed.queryExecution.optimizedPlan.treeString)
    assert(mixed.collect()(0).getLong(2) == dExact)

    // GROUPED: approx_count_distinct per hour slot folds per cell and
    // matches the exact per-slot distinct
    val g = spark.sql(
      "SELECT (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
        "approx_count_distinct(user_id) AS u FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.RqStart} AND unix_millis(ts) < ${Q.RqEnd} " +
        "GROUP BY 1 ORDER BY 1")
    assert(folded(g), g.queryExecution.optimizedPlan.treeString)
    val gWant = events
      .filter(unix_millis(col("ts")) >= Q.RqStart && unix_millis(col("ts")) < Q.RqEnd)
      .groupBy(((unix_millis(col("ts")).divide(lit(3600000L))).cast("long") * 3600000L).as("slot_ms"))
      .agg(countDistinct(col("user_id")).as("u")).orderBy(col("slot_ms"))
      .collect().map(_.toString).toSeq
    assert(g.collect().map(_.toString).toSeq == gWant)

    // the EXACT spellings never fold: COUNT(DISTINCT …) keeps the scan
    val exactSpelling = spark.sql(
      "SELECT COUNT(DISTINCT user_id) AS u FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
    assert(!folded(exactSpelling))
    // an UNREGISTERED column keeps the scan (no wheel to answer it)
    val unreg = spark.sql(
      "SELECT approx_count_distinct(event_id) AS u FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
    assert(!folded(unreg))
  }

  test("rewrite knobs are per-session SQLConf: two sessions hold different ceilings (round 11)") {
    register()
    val s2 = spark.newSession()
    WheelAcceleration.enable(s2)
    events.createOrReplaceTempView("events_accel")
    Q.t(s2, dir, "events").createOrReplaceTempView("events_accel")
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val sql =
      "SELECT (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 86400000} " +
        "GROUP BY 1 ORDER BY 1"
    // session 1 pins a ceiling of 3 (24 hour cells exceed it -> the
    // distributed minute-state plan, a REAL Aggregate over partials);
    // session 2 keeps the default cap and must still per-cell fold
    // (pure LocalRelation, no Aggregate) IN THE SAME JVM — impossible
    // under the old JVM-global sys.prop knob
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "3")
    try {
      val p1 = spark.sql(sql).queryExecution.optimizedPlan
      assert(p1.collect { case l: LocalRelation => l }.nonEmpty, p1.treeString)
      assert(p1.collect { case a: Aggregate => a }.nonEmpty, p1.treeString)
      val p2 = s2.sql(sql).queryExecution.optimizedPlan
      assert(p2.collect { case l: LocalRelation => l }.nonEmpty, p2.treeString)
      assert(p2.collect { case a: Aggregate => a }.isEmpty, p2.treeString)
      // both sessions agree on the values (and with each other)
      assert(spark.sql(sql).collect().map(_.toString).toSeq ==
        s2.sql(sql).collect().map(_.toString).toSeq)
    } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
  }

  test("window() startTime offsets and date_trunc('week') fold on the offset grid (round 7)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def run(sql: String): (Boolean, Seq[String]) = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, sql)
      (hit, got)
    }
    // whole-minute startTime: bucket edges stay on the wheel grid, so
    // hours-shifted-by-15-minutes folds — and edge slots clip exactly
    val (h1, r1) = run(
      "SELECT window(ts, '1 hour', '1 hour', '15 minutes') AS w, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
        "WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-06 00:00:00' GROUP BY 1 ORDER BY 1")
    assert(h1 && r1.nonEmpty)
    // a sub-minute startTime shifts edges OFF the grid — must not fold
    val (h2, _) = run(
      "SELECT window(ts, '1 hour', '1 hour', '30 seconds') AS w, COUNT(*) AS n " +
        "FROM events_accel WHERE ts >= '2024-01-05' AND ts < '2024-01-06' " +
        "GROUP BY 1 ORDER BY 1")
    assert(!h2)
    // ISO weeks: Monday boundaries = epoch-ms ≡ 4 days (mod 7 days)
    val (h3, r3) = run(
      "SELECT date_trunc('week', ts) AS wk, ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        "FROM events_accel GROUP BY 1 ORDER BY 1")
    assert(h3 && r3.nonEmpty)
    // week + range filter; range edges are mid-week so both edge weeks clip
    val (h4, _) = run(
      "SELECT date_trunc('week', ts) AS wk, ROUND(SUM(value), 2) AS s " +
        "FROM events_accel WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1 ORDER BY 1")
    assert(h4)
  }

  test("empty aligned range returns count 0 and null sum") {
    register()
    val a = Q.Jan1
    val df = rangeSql(a, a, "SUM(value) AS s, COUNT(*) AS n")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty)
    val row = df.collect()(0)
    assert(row.isNullAt(0) && row.getLong(1) == 0L)
  }

  test("unregister drops one path's acceleration; re-register restores it (round 10)") {
    register()
    def folded() = rangeSql(Q.R1Start, Q.R1End, "SUM(value) AS s")
      .queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    assert(folded())
    WheelAcceleration.unregister(path)
    assert(!folded())
    register()
    assert(folded())
  }

  test("HAVING / ORDER BY / LIMIT compose over folded groups (round 10)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def sql() = spark.sql(
      "SELECT (unix_millis(ts) div 3600000) * 3600000 AS slot_ms, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
        "GROUP BY 1 HAVING COUNT(*) >= 2 AND SUM(value) > 0 " +
        "ORDER BY s DESC LIMIT 10")
    val df = sql()
    // the Aggregate under HAVING folds; the HAVING filter + sort + limit
    // evaluate over the plan-time rows (often constant-folded away)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      df.queryExecution.optimizedPlan.treeString)
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"))
    val got = df.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val want = sql().collect().map(_.toString).toSeq
    register()
    assert(got == want)
    assert(got.nonEmpty && got.size <= 10)
  }

  test("STDDEV/VARIANCE fold from the sumsq partial: grouped fold + hybrid edges (round 10)") {
    register()
    events.createOrReplaceTempView("events_accel")
    val w = 3600000L
    // aligned grouped fold: pure LocalRelation, every second-moment
    // spelling computed from the partials at plan time
    val df = spark.sql(
      s"SELECT (unix_millis(ts) div $w) * $w AS slot_ms, " +
        "STDDEV_POP(value) AS sp, VAR_POP(value) AS vp, " +
        "STDDEV_SAMP(value) AS ss, VAR_SAMP(value) AS vs, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= ${Q.R1Start} " +
        s"AND unix_millis(ts) < ${Q.R1End} GROUP BY 1 ORDER BY 1")
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case l: LocalRelation => l }.nonEmpty, plan.treeString)
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"))
    val accel = df.collect()
    val scan = events
      .filter(unix_millis(col("ts")) >= Q.R1Start &&
        unix_millis(col("ts")) < Q.R1End && col("event_id") >= -1L)
      .groupBy(((unix_millis(col("ts")) / w).cast("long") * w).as("slot_ms"))
      .agg(stddev_pop(col("value")), var_pop(col("value")),
        stddev_samp(col("value")), var_samp(col("value")), count(lit(1)))
      .orderBy("slot_ms").collect()
    assert(accel.length == scan.length && accel.nonEmpty)
    accel.zip(scan).foreach { case (a2, s2) =>
      assert(a2.getLong(0) == s2.getLong(0))
      (1 to 4).foreach { i =>
        if (s2.isNullAt(i)) assert(a2.isNullAt(i), s"col $i: $a2 vs $s2")
        else assert(math.abs(a2.getDouble(i) - s2.getDouble(i)) <
          1e-7 * (1.0 + math.abs(s2.getDouble(i))), s"col $i: $a2 vs $s2")
      }
      assert(a2.getLong(5) == s2.getLong(5))
    }

    // sub-minute edges: the merge-form Aggregate reconstructs the same
    // moments over the interior-partials + edge-rows union
    val hybrid = rangeSql(Q.RuStart, Q.RuEnd,
      "STDDEV_POP(value) AS sp, VAR_SAMP(value) AS vs, COUNT(*) AS n")
    assert(hybrid.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      hybrid.queryExecution.optimizedPlan.treeString)
    val hAccel = hybrid.collect()(0)
    val hScan = events
      .filter(unix_millis(col("ts")) >= Q.RuStart &&
        unix_millis(col("ts")) < Q.RuEnd && col("event_id") >= -1L)
      .agg(stddev_pop(col("value")), var_samp(col("value")), count(lit(1)))
      .collect()(0)
    assert(hAccel.getLong(2) == hScan.getLong(2))
    assert(math.abs(hAccel.getDouble(0) - hScan.getDouble(0)) <
      1e-7 * (1.0 + math.abs(hScan.getDouble(0))))
    assert(math.abs(hAccel.getDouble(1) - hScan.getDouble(1)) <
      1e-7 * (1.0 + math.abs(hScan.getDouble(1))))
  }

  test("single-row range: VAR_POP folds to 0, STDDEV_SAMP folds to NULL (round 10)") {
    val t0 = Q.R1Start
    val tmp = java.nio.file.Files.createTempDirectory("graft_stddev_one")
      .toString + "/one.parquet"
    spark.sql(
      s"SELECT timestamp_millis(${t0 + 1000L}) AS ts, 5.0D AS value " +
        s"UNION ALL SELECT timestamp_millis(${t0 + 60000L}), 7.0D " +
        s"UNION ALL SELECT timestamp_millis(${t0 + 61000L}), 9.0D")
      .write.mode("overwrite").parquet(tmp)
    val src = spark.read.parquet(tmp)
    WheelAcceleration.register(spark, tmp, src)
    src.createOrReplaceTempView("one_accel")
    val df = spark.sql(
      "SELECT VAR_POP(value) AS vp, STDDEV_SAMP(value) AS ss, " +
        "VAR_SAMP(value) AS vs, COUNT(*) AS n FROM one_accel " +
        s"WHERE unix_millis(ts) >= $t0 AND unix_millis(ts) < ${t0 + 60000L}")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      df.queryExecution.optimizedPlan.treeString)
    val r = df.collect()(0)
    assert(r.getDouble(0) == 0.0 && r.isNullAt(1) && r.isNullAt(2) &&
      r.getLong(3) == 1L, r.toString)
  }

  test("keyed approx spellings fold per (key, cell) from keyed sketch wheels (late round 11)") {
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    WheelAcceleration.registerKeyedSketches(spark, path, events, "event_type", "ts",
      distinctCols = Seq("user_id"), quantileCols = Seq("value"),
      freqCols = Seq("user_id"))
    events.createOrReplaceTempView("events_accel")
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty

    // distinct per (key, day) — exact regime, must equal the true
    // per-cell COUNT(DISTINCT); COUNT(*) proves the mixed statement
    // resolves against both the keyed sum wheels and the sketch view
    val d = spark.sql(
      "SELECT event_type AS g0, (unix_millis(ts) div 86400000) * 86400000 AS g1, " +
        "approx_count_distinct(user_id) AS u, COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    assert(folds(d), d.queryExecution.optimizedPlan.treeString)
    val dWant = events
      .filter(unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End)
      .groupBy(col("event_type").as("g0"),
        ((unix_millis(col("ts")).divide(lit(86400000L))).cast("long") * 86400000L).as("g1"))
      .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
      .orderBy(col("g0"), col("g1"))
      .collect().map(_.toString).toSeq
    assert(d.collect().map(_.toString).toSeq == dWant)

    // quantile per (key, hour) — exact below the KLL buffer, so the
    // fold equals percentile_disc per cell
    val q1 = spark.sql(
      "SELECT event_type AS g0, (unix_millis(ts) div 3600000) * 3600000 AS g1, " +
        "percentile_approx(value, 0.5) AS p50 FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.RqStart} AND unix_millis(ts) < ${Q.RqEnd} " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    assert(folds(q1), q1.queryExecution.optimizedPlan.treeString)
    val qWant = events
      .filter(unix_millis(col("ts")) >= Q.RqStart && unix_millis(col("ts")) < Q.RqEnd)
      .groupBy(col("event_type").as("g0"),
        ((unix_millis(col("ts")).divide(lit(3600000L))).cast("long") * 3600000L).as("g1"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"))
      .orderBy(col("g0"), col("g1"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val qGot = q1.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(qGot.toSeq == qWant.toSeq)

    // top-k per (key, day) — exact regime; explode and re-sort both
    // sides so any tie-order difference between the wheel's contract
    // and Spark's own sketch cannot flake the compare
    val tk = spark.sql(
      "SELECT g0, g1, t.item AS uid, t.count AS n FROM (" +
        "SELECT event_type AS g0, (unix_millis(ts) div 86400000) * 86400000 AS g1, " +
        "explode(approx_top_k(user_id, 3)) AS t FROM events_accel " +
        s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
        "GROUP BY 1, 2) ORDER BY g0, g1, n DESC, uid")
    assert(folds(tk), tk.queryExecution.optimizedPlan.treeString)
    val tWant = events
      .filter(unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End)
      .groupBy(col("event_type").as("g0"),
        ((unix_millis(col("ts")).divide(lit(86400000L))).cast("long") * 86400000L).as("g1"),
        col("user_id").as("uid"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g0"), col("g1"))
          .orderBy(col("n").desc, col("uid"))))
      .filter(col("rk") <= 3).drop("rk")
      .orderBy(col("g0"), col("g1"), col("n").desc, col("uid"))
      .collect().map(_.toString).toSeq
    assert(tk.collect().map(_.toString).toSeq == tWant)

    WheelAcceleration.clear()
  }

  test("approx folds gate on the requested tolerance in the estimation regime (late round 11)") {
    val p = new java.io.File(
      "target/test-fixtures/accel/events_accgate.parquet").getAbsolutePath
    // 12,000 rows over 10 minutes with 12,000 distinct user_ids: past
    // the Theta nominal (4096), the KLL retained buffer, and the MG
    // exact budget (0.75·4096) — every sketch is in its ESTIMATION
    // regime, where the gate actually decides
    val n = 12000
    spark.range(n).select(
      expr(s"timestamp_millis(${Q.Jan1}L + (id % 10) * 60000)").as("ts"),
      col("id").as("user_id"),
      col("id").cast("double").as("value"))
      .write.mode("overwrite").parquet(p)
    val src = spark.read.parquet(p)
    WheelAcceleration.registerSketches(spark, p, src, "ts",
      distinctCols = Seq("user_id"), quantileCols = Seq("value"),
      freqCols = Seq("user_id"))
    src.createOrReplaceTempView("ev_accgate")
    def q(select: String) = spark.sql(s"SELECT $select FROM ev_accgate " +
      s"WHERE unix_millis(ts) >= ${Q.Jan1} AND unix_millis(ts) < ${Q.Jan1 + 600000L}")
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    def reason: String = WheelAcceleration.lastBailReason(p).getOrElse("")

    // default rsd 0.05 is LOOSER than Theta's ~1.6% realized bound:
    // folds, and the estimate honors the requested tolerance
    val dLoose = q("approx_count_distinct(user_id) AS u")
    assert(folds(dLoose), dLoose.queryExecution.optimizedPlan.treeString)
    val est = dLoose.collect()(0).getLong(0)
    assert(math.abs(est - n.toDouble) / n <= 0.05, s"estimate $est vs $n")
    // rsd 0.005 is TIGHTER than the wheel's bound: scan kept, queryable
    val dTight = q("approx_count_distinct(user_id, 0.005) AS u")
    assert(!folds(dTight), dTight.queryExecution.optimizedPlan.treeString)
    assert(reason.contains("rsd"), reason)

    // percentile_approx's DEFAULT accuracy 10000 asks rank error 1e-4 —
    // tighter than KLL k=200's 1.33% guarantee: scan kept
    val pTight = q("percentile_approx(value, 0.5) AS p50")
    assert(!folds(pTight), pTight.queryExecution.optimizedPlan.treeString)
    assert(reason.contains("accuracy"), reason)
    // accuracy 50 asks rank error 2% — looser: folds, and the answer is
    // within the promised rank band of the true median
    val pLoose = q("percentile_approx(value, 0.5, 50) AS p50")
    assert(folds(pLoose), pLoose.queryExecution.optimizedPlan.treeString)
    val med = pLoose.collect()(0).getDouble(0)
    assert(math.abs(med - n / 2.0) <= 0.02 * n, s"median $med vs ${n / 2}")

    // approx_top_k's DEFAULT tracks 10000 items (map 16384) — a bigger
    // budget than the MG wheel's 4096, and the range is past the exact
    // regime: scan kept
    val tTight = q("approx_top_k(user_id, 3) AS tk")
    assert(!folds(tTight), tTight.queryExecution.optimizedPlan.treeString)
    assert(reason.contains("budget"), reason)
    // maxItemsTracked 100 (map 256) fits under the wheel's budget: folds
    val tLoose = q("approx_top_k(user_id, 3, 100) AS tk")
    assert(folds(tLoose), tLoose.queryExecution.optimizedPlan.treeString)

    WheelAcceleration.clear()
  }

  test("FIXED-offset zone (+05:30): date_trunc and CAST AS DATE fold, value-checked (round 13)") {
    WheelAcceleration.clear()
    // TZ-typed (instant-semantics) fixture: Spark writes TimestampType
    // as adjusted-to-UTC parquet, so the re-read plan has NO NTZ cast —
    // the shape a production instant table presents in any session zone.
    // Every 30 min for 4 days; the +05:30 local-day boundary (18:30
    // UTC) regroups rows differently from the UTC day grid.
    val p = s"${sys.props("java.io.tmpdir")}/graft_fx_events.parquet"
    spark.range(0, 192)
      .selectExpr(s"timestamp_millis(${Q.Jan1}L + id * 1800000) AS ts",
        "CAST(id + 1 AS DOUBLE) AS value")
      .write.mode("overwrite").parquet(p)
    val ev = spark.read.parquet(p)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    spark.conf.set("spark.sql.session.timeZone", "+05:30")
    try {
      ev.createOrReplaceTempView("events_fx")
      def check(sql: String): Unit = {
        WheelAcceleration.clear()
        val expected = spark.sql(sql).collect().toSeq // plain scan
        WheelAcceleration.register(spark, p, spark.read.parquet(p))
        val accel = spark.sql(sql)
        assert(accel.queryExecution.optimizedPlan.collect {
          case l: LocalRelation => l
        }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
        assert(accel.collect().toSeq == expected, sql)
      }
      check("SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS s, " +
        "COUNT(*) AS n FROM events_fx GROUP BY 1 ORDER BY 1")
      check("SELECT date_trunc('hour', ts) AS h, ROUND(SUM(value), 2) AS s " +
        "FROM events_fx GROUP BY 1 ORDER BY 1")
      check("SELECT date_trunc('month', ts) AS m, ROUND(SUM(value), 2) AS s " +
        "FROM events_fx GROUP BY 1 ORDER BY 1")
      check("SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS s, " +
        "COUNT(*) AS n FROM events_fx GROUP BY 1 ORDER BY 1")
      // the local day grid must actually DIFFER from UTC's: 4 local
      // days + the 18:30-UTC leading partial = 5 day rows
      WheelAcceleration.clear()
      WheelAcceleration.register(spark, p, spark.read.parquet(p))
      val days = spark.sql("SELECT date_trunc('day', ts) AS d, COUNT(*) AS n " +
        "FROM events_fx GROUP BY 1 ORDER BY 1").collect()
      assert(days.length == 5, days.mkString(", "))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      WheelAcceleration.clear()
    }
  }

  test("REGION-zone session folds via zone-walked grids across BOTH 2024 DST transitions (round 14)") {
    WheelAcceleration.clear()
    // Instant-typed fixture straddling the US spring-forward (2024-03-10
    // 07:00Z, the 23-hour local day) and fall-back (2024-11-03 06:00Z,
    // the 25-hour local day + the repeated 01:xx local hour): rows every
    // 20 minutes for 3 days around each transition.
    val p = s"${sys.props("java.io.tmpdir")}/graft_dst_events.parquet"
    val mar8 = 1709856000000L // 2024-03-08T00:00:00Z
    val nov1 = 1730419200000L // 2024-11-01T00:00:00Z
    spark.range(0, 288)
      .selectExpr(s"timestamp_millis($mar8 + id * 1200000) AS ts",
        "CAST(id + 1 AS DOUBLE) AS value")
      .union(spark.range(0, 288)
        .selectExpr(s"timestamp_millis($nov1 + id * 1200000) AS ts",
          "CAST(id + 500 AS DOUBLE) AS value"))
      .write.mode("overwrite").parquet(p)
    val ev = spark.read.parquet(p)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      ev.createOrReplaceTempView("events_dst")
      def check(sql: String): Unit = {
        WheelAcceleration.clear()
        val expected = spark.sql(sql).collect().toSeq // plain scan
        WheelAcceleration.register(spark, p, spark.read.parquet(p))
        val accel = spark.sql(sql)
        assert(accel.queryExecution.optimizedPlan.collect {
          case l: LocalRelation => l
        }.nonEmpty, s"$sql\n${accel.queryExecution.optimizedPlan.treeString}")
        assert(accel.collect().toSeq == expected, sql)
      }
      // local days: the spring day is 23 h, the fall day 25 h — the
      // zone-walked day grid must reproduce the scan's keys bit-for-bit
      check("SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS s, " +
        "COUNT(*) AS n FROM events_dst GROUP BY 1 ORDER BY 1")
      // local hours: the gap hour (02:xx on Mar 10) emits no key; the
      // repeated 01:xx hours on Nov 3 keep DISTINCT instant keys
      // (Spark's ZonedDateTime.truncatedTo preferred-offset semantics)
      check("SELECT date_trunc('hour', ts) AS h, ROUND(SUM(value), 2) AS s, " +
        "COUNT(*) AS n FROM events_dst GROUP BY 1 ORDER BY 1")
      check("SELECT date_trunc('week', ts) AS w, ROUND(SUM(value), 2) AS s " +
        "FROM events_dst GROUP BY 1 ORDER BY 1")
      check("SELECT date_trunc('month', ts) AS m, ROUND(SUM(value), 2) AS s, " +
        "COUNT(*) AS n FROM events_dst GROUP BY 1 ORDER BY 1")
      check("SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS s, " +
        "COUNT(*) AS n FROM events_dst GROUP BY 1 ORDER BY 1")
      // 23/25-hour days REALLY happened: distinct hour-key counts on the
      // two transition days
      WheelAcceleration.clear()
      WheelAcceleration.register(spark, p, spark.read.parquet(p))
      val hrs = spark.sql("SELECT CAST(ts AS DATE) AS d, " +
        "COUNT(DISTINCT date_trunc('hour', ts)) AS nh FROM events_dst " +
        "WHERE CAST(ts AS DATE) IN (DATE '2024-03-10', DATE '2024-11-03') " +
        "GROUP BY 1 ORDER BY 1").collect()
      assert(hrs.map(r => (r.getDate(0).toString, r.getLong(1))).toSeq ==
        Seq(("2024-03-10", 23L), ("2024-11-03", 25L)), hrs.mkString(", "))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      WheelAcceleration.clear()
    }
  }

  test("zone-walked SKETCH folds: date_trunc grids x (keyed) Theta under a region zone (round 15)") {
    // VERDICT r14 #8 (stretch): `date_trunc`-grouped approx spellings
    // under a REGION-zone session — the zone-walked grid composing with
    // sketchLit, unkeyed and per key, across the 23-hour spring-forward
    // day. Exact regime (7 distinct users, Theta nominal 4096) → fold
    // must equal the scan's exact COUNT(DISTINCT).
    WheelAcceleration.clear()
    val p = s"${sys.props("java.io.tmpdir")}/graft_dst_sketch.parquet"
    val mar8 = 1709856000000L // 2024-03-08T00:00:00Z, spring-forward Mar 10
    spark.range(0, 288).selectExpr(
      s"timestamp_millis($mar8 + id * 1200000) AS ts",
      "CAST(id + 1 AS DOUBLE) AS value",
      "CAST(id % 7 AS BIGINT) AS user_id",
      "CONCAT('k', CAST(id % 3 AS STRING)) AS event_type")
      .write.mode("overwrite").parquet(p)
    def ev = spark.read.parquet(p)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    def registerAll(): Unit = {
      WheelAcceleration.register(spark, p, ev)
      WheelAcceleration.registerSketches(spark, p, ev,
        distinctCols = Seq("user_id"))
      WheelAcceleration.registerKeyed(spark, p, ev, "event_type")
      WheelAcceleration.registerKeyedSketches(spark, p, ev, "event_type",
        distinctCols = Seq("user_id"))
    }
    try {
      ev.createOrReplaceTempView("events_dst_sk")
      def check(approxSql: String, exactSql: String): Unit = {
        WheelAcceleration.clear()
        val expected = spark.sql(exactSql).collect().toSeq // exact, scan
        registerAll()
        val accel = spark.sql(approxSql)
        assert(accel.queryExecution.optimizedPlan.collect {
          case l: LocalRelation => l
        }.nonEmpty, s"$approxSql\n" +
          accel.queryExecution.optimizedPlan.treeString)
        assert(accel.collect().toSeq == expected, approxSql)
      }
      // unkeyed: zone-walked day grid x range sketch per cell
      check(
        "SELECT date_trunc('day', ts) AS d, " +
          "approx_count_distinct(user_id) AS u, ROUND(SUM(value), 2) AS s " +
          "FROM events_dst_sk GROUP BY 1 ORDER BY 1",
        "SELECT date_trunc('day', ts) AS d, " +
          "COUNT(DISTINCT user_id) AS u, ROUND(SUM(value), 2) AS s " +
          "FROM events_dst_sk GROUP BY 1 ORDER BY 1")
      // keyed: per-(key, zone-walked day cell) sketch views
      check(
        "SELECT event_type AS k, date_trunc('day', ts) AS d, " +
          "approx_count_distinct(user_id) AS u " +
          "FROM events_dst_sk GROUP BY 1, 2 ORDER BY 1, 2",
        "SELECT event_type AS k, date_trunc('day', ts) AS d, " +
          "COUNT(DISTINCT user_id) AS u " +
          "FROM events_dst_sk GROUP BY 1, 2 ORDER BY 1, 2")
      // the 23-hour local day exists in the folded keys (2024-03-10
      // spans [05:00Z, 04:00Z next day) under EST->EDT)
      registerAll()
      val days = spark.sql("SELECT date_trunc('day', ts) AS d, COUNT(*) AS n " +
        "FROM events_dst_sk GROUP BY 1 ORDER BY 1").collect()
      assert(days.map(_.getLong(1)).sum == 288L)
    } finally {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      WheelAcceleration.clear()
    }
  }

  test("Europe/Berlin folds; pre-sound-floor ranges refuse with a PINNED reason (round 14)") {
    WheelAcceleration.clear()
    val p = s"${sys.props("java.io.tmpdir")}/graft_dst_events.parquet"
    if (!new java.io.File(p).exists) cancel("fixture written by the DST test")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
    try {
      val ev = spark.read.parquet(p)
      ev.createOrReplaceTempView("events_dst")
      val sql = "SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS s " +
        "FROM events_dst GROUP BY 1 ORDER BY 1"
      WheelAcceleration.clear()
      val expected = spark.sql(sql).collect().toSeq
      WheelAcceleration.register(spark, p, spark.read.parquet(p))
      val accel = spark.sql(sql)
      assert(accel.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
      assert(accel.collect().toSeq == expected)
      // pre-floor range (Berlin's 1893 LMT cutover is second-resolution):
      // the shape matches but the range reaches before the sound floor —
      // scan kept, reason pinned
      val old = spark.sql("SELECT date_trunc('day', ts) AS d, SUM(value) AS s " +
        "FROM events_dst WHERE ts >= TIMESTAMP '1850-01-01 00:00:00' " +
        "GROUP BY 1")
      assert(old.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty, "pre-sound-floor range must keep the scan")
      val reason = WheelAcceleration.lastBailReason(p).getOrElse("")
      assert(reason.contains("sound floor"), reason)
    } finally {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      WheelAcceleration.clear()
    }
  }

  test("OR-of-disjoint-ranges folds; overlapping disjuncts merge exactly (round 13)") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    def q(where: String) = spark.sql(
      "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
        s"MIN(value) AS mn, MAX(value) AS mx FROM events_accel WHERE $where")
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    val w2a = Q.Jan1 + 18 * 86400000L
    val w2b = Q.Jan1 + 25 * 86400000L
    // DISJOINT ranges: fold == union of the two weeks
    val disjoint = q(
      s"(unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
        s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b)")
    assert(folds(disjoint), disjoint.queryExecution.optimizedPlan.treeString)
    val expDisjoint = events.filter(
      (unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End) ||
        (unix_millis(col("ts")) >= w2a && unix_millis(col("ts")) < w2b))
      .agg(round(sum("value"), 2), count(lit(1)), min("value"), max("value"))
      .collect()(0)
    assert(disjoint.collect()(0) == expDisjoint)
    // OVERLAPPING ranges: a row in both disjuncts must count ONCE
    val overlapping = q(
      s"(unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
        s"OR (unix_millis(ts) >= ${Q.R1Start + 2 * 86400000L} " +
        s"AND unix_millis(ts) < ${Q.R1End + 86400000L})")
    assert(folds(overlapping), overlapping.queryExecution.optimizedPlan.treeString)
    val expOverlap = events.filter(
      unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End + 86400000L)
      .agg(round(sum("value"), 2), count(lit(1)), min("value"), max("value"))
      .collect()(0)
    assert(overlapping.collect()(0) == expOverlap)
    // a HALF-BOUNDED disjunct refuses (ambiguous landmark intent in a
    // disjunction): the scan is kept, never a wrong answer
    val halfBounded = q(
      s"(unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
        s"OR (unix_millis(ts) >= $w2a)")
    assert(!folds(halfBounded), halfBounded.queryExecution.optimizedPlan.treeString)
    WheelAcceleration.clear()
  }

  test("SQL introspection: graft_bail_reason / graft_acceleration_status (round 13)") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    // force a recorded bail: COUNT(DISTINCT) never folds
    spark.sql("SELECT COUNT(DISTINCT user_id) FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
      .queryExecution.optimizedPlan
    val reason = spark.sql(s"SELECT graft_bail_reason('$path') AS r")
      .collect()(0).getString(0)
    assert(reason.contains("DISTINCT"), reason)
    val status = spark.sql(s"SELECT graft_acceleration_status('$path') AS s")
      .collect()(0).getString(0)
    assert(status.contains("sum wheels") && status.contains("FRESH"), status)
    WheelAcceleration.clear()
  }

  test("enable registers the SQL introspection functions once per session") {
    // every registration calls enable; a re-register would replace the
    // function (and log a Spark WARN) on each WheelIngest batch swap.
    // The function families register the same way on every use:
    // graft_dot per similarity query, graft_all/graft_topn per UDAF one
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = Seq("graft_bail_reason", "graft_acceleration_status",
      "graft_dot", "graft_all", "graft_topn")
    // (info, builder) per name: a re-register replaces both, and the
    // info even where the builder is a cached non-capturing lambda
    def builders(s: org.apache.spark.sql.SparkSession) = names.map { n =>
      val registry = s.sessionState.functionRegistry
      registry.lookupFunction(FunctionIdentifier(n))
        .zip(registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    }
    def families(s: org.apache.spark.sql.SparkSession): Unit = {
      graft.functions.DotProduct.register(s)
      graft.functions.Aggregators.register(s)
    }
    WheelAcceleration.clear()
    register()
    families(spark)
    val first = builders(spark)
    assert(first.forall(_.nonEmpty), first)
    register()
    families(spark)
    names.zip(builders(spark).zip(first)).foreach { case (n, (again, once)) =>
      assert((again.get._1 eq once.get._1) && (again.get._2 eq once.get._2),
        s"$n was re-registered")
    }
    // a new session starts without them and gets each on its first
    // registration
    val other = spark.newSession()
    assert(builders(other).forall(_.isEmpty))
    WheelAcceleration.register(other, path, Q.t(other, dir, "events"))
    families(other)
    assert(builders(other).forall(_.nonEmpty))
    val status = other.sql(s"SELECT graft_acceleration_status('$path') AS s")
      .collect()(0).getString(0)
    assert(status.contains("FRESH"), status)
    WheelAcceleration.clear()
  }

  test("OR-ranges: approximate spellings fold via MERGED sketches (round 13)") {
    WheelAcceleration.clear()
    register()
    WheelAcceleration.registerSketches(spark, path, events, "ts",
      distinctCols = Seq("user_id"), quantileCols = Seq("value"))
    events.createOrReplaceTempView("events_accel")
    val w2a = Q.Jan1 + 18 * 86400000L
    val w2b = Q.Jan1 + 25 * 86400000L
    val where =
      s"(unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
        s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b)"
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    // theta exact regime: the UNION-range distinct equals the true count
    val d = spark.sql(
      s"SELECT approx_count_distinct(user_id) AS u FROM events_accel WHERE $where")
    assert(folds(d), d.queryExecution.optimizedPlan.treeString)
    val exact = events.filter(
      (unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End) ||
        (unix_millis(col("ts")) >= w2a && unix_millis(col("ts")) < w2b))
      .agg(countDistinct("user_id")).collect()(0).getLong(0)
    assert(d.collect()(0).getLong(0) == exact)
    // KLL across the union: accuracy 50 (2% rank error) folds, and the
    // answer sits within the promised rank band of the union's median
    val p = spark.sql(
      s"SELECT percentile_approx(value, 0.5, 50) AS p50 FROM events_accel WHERE $where")
    assert(folds(p), p.queryExecution.optimizedPlan.treeString)
    val n = events.filter(
      (unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End) ||
        (unix_millis(col("ts")) >= w2a && unix_millis(col("ts")) < w2b)).count()
    val sorted = events.filter(
      (unix_millis(col("ts")) >= Q.R1Start && unix_millis(col("ts")) < Q.R1End) ||
        (unix_millis(col("ts")) >= w2a && unix_millis(col("ts")) < w2b))
      .select("value").collect().map(_.getDouble(0)).sorted
    val got = p.collect()(0).getDouble(0)
    val rank = sorted.count(_ <= got).toDouble / n
    assert(math.abs(rank - 0.5) <= 0.05, s"median rank $rank (n=$n, got=$got)")
    WheelAcceleration.clear()
  }

  test("GROUPED OR-ranges: day rollup over two disjoint weeks folds and matches (round 13)") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    val w2a = Q.Jan1 + 18 * 86400000L
    val w2b = Q.Jan1 + 25 * 86400000L
    def daySql(where: String) =
      "SELECT (unix_millis(ts) div 86400000) * 86400000 AS day_ms, " +
        "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
        s"FROM events_accel WHERE $where GROUP BY 1 ORDER BY 1"
    val or = spark.sql(daySql(
      s"(unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
        s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b)"))
    assert(or.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, or.queryExecution.optimizedPlan.treeString)
    WheelAcceleration.clear()
    val expected = spark.sql(daySql(
      s"(unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
        s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b)")).collect().toSeq
    assert(or.collect().toSeq == expected)

    // two sub-cell ranges in ONE month cell: contributions combine
    register()
    val mSql = "SELECT unix_millis(CAST(date_trunc('month', ts) AS TIMESTAMP)) AS m, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
      s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b) " +
      "GROUP BY 1 ORDER BY 1"
    val month = spark.sql(mSql)
    assert(month.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, month.queryExecution.optimizedPlan.treeString)
    val got = month.collect()
    assert(got.length == 1) // both weeks fall in January: ONE combined cell
    WheelAcceleration.clear()
    val mExp = spark.sql(mSql).collect()
    assert(got.toSeq == mExp.toSeq)
    WheelAcceleration.clear()
  }

  test("KEYED OR-ranges: per-(key, day) rollup over two disjoint weeks folds and matches (round 13)") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val w2a = Q.Jan1 + 18 * 86400000L
    val w2b = Q.Jan1 + 25 * 86400000L
    val sql = "SELECT event_type, (unix_millis(ts) div 86400000) * 86400000 AS day_ms, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
      s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b) " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    val or = spark.sql(sql)
    assert(or.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, or.queryExecution.optimizedPlan.treeString)
    val got = or.collect().toSeq
    WheelAcceleration.clear()
    assert(got == spark.sql(sql).collect().toSeq)
    WheelAcceleration.clear()
  }

  test("grouped OR-ranges: SKETCH spellings fold via per-cell span merges (round 14)") {
    WheelAcceleration.clear()
    register()
    WheelAcceleration.registerSketches(spark, path, events, "ts",
      distinctCols = Seq("user_id"))
    events.createOrReplaceTempView("events_accel")
    val w2a = Q.Jan1 + 18 * 86400000L
    val w2b = Q.Jan1 + 25 * 86400000L
    // month grid: BOTH weeks land in the January cell — the folded
    // answer is the Theta UNION of two per-span range-sketches
    val sql = "SELECT unix_millis(CAST(date_trunc('month', ts) AS TIMESTAMP)) AS m, " +
      "approx_count_distinct(user_id) AS nd, COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
      s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b) " +
      "GROUP BY date_trunc('month', ts) ORDER BY 1"
    val or = spark.sql(sql)
    assert(or.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, or.queryExecution.optimizedPlan.treeString)
    val got = or.collect()
    assert(got.length == 1) // one combined January cell
    // Theta exact regime: the merged sketch equals the TRUE distinct
    // count over the union of ranges (and COUNT(*) the true row count)
    WheelAcceleration.clear()
    val exact = spark.sql(sql
      .replace("approx_count_distinct(user_id)", "COUNT(DISTINCT user_id)")).collect()
    assert(got(0).getLong(1) == exact(0).getLong(1), s"${got(0)} vs ${exact(0)}")
    assert(got(0).getLong(2) == exact(0).getLong(2))
    WheelAcceleration.clear()
  }

  test("grouped OR-ranges past the ceiling go DISTRIBUTED, unkeyed and keyed (round 14)") {
    WheelAcceleration.clear()
    register()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val w2a = Q.Jan1 + 18 * 86400000L
    val w2b = Q.Jan1 + 25 * 86400000L
    def orWhere = s"WHERE (unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}) " +
      s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b) "
    val unkeyed = "SELECT (unix_millis(ts) div 86400000) * 86400000 AS day_ms, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      orWhere + "GROUP BY 1 ORDER BY 1"
    val keyed = "SELECT event_type, (unix_millis(ts) div 86400000) * 86400000 AS day_ms, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      orWhere + "GROUP BY 1, 2 ORDER BY 1, 2"
    val expU = spark.sql(unkeyed).collect().toSeq
    val expK = spark.sql(keyed).collect().toSeq
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "3")
    try {
      for ((sql, exp) <- Seq((unkeyed, expU), (keyed, expK))) {
        val df = spark.sql(sql)
        val p = df.queryExecution.executedPlan.toString
        // scan-free: minute partials of BOTH disjoint ranges ship as a
        // LocalRelation and a REAL Aggregate merges them on the cluster
        assert(!p.contains("FileScan"), p)
        assert(p.contains("LocalTableScan"), p)
        assert(df.collect().toSeq == exp, sql)
      }
    } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    WheelAcceleration.clear()
  }

  test("a RELATIVE registration path matches the plan's absolute source root (round 14)") {
    WheelAcceleration.clear()
    // register via a path RELATIVE to the working directory — the plan's
    // HadoopFsRelation always reports the ABSOLUTE file: root, so the
    // registry key must canonicalize or every lookup silently misses
    // and the scan runs (exactly what the sf1 soak measured until the
    // round-14 prepare/exec split exposed it)
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val rel = cwd.relativize(java.nio.file.Paths.get(path)).toString
    assert(!new java.io.File(rel).isAbsolute, rel)
    def ev = spark.read.parquet(rel)
      .withColumn("ts", col("ts").cast("timestamp")) // the Q.t reading
    WheelAcceleration.register(spark, rel, ev)
    ev.createOrReplaceTempView("events_rel")
    val df = spark.sql("SELECT ROUND(SUM(value), 2) AS s FROM events_rel " +
      s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    WheelAcceleration.clear()
  }

  test("UNALIGNED OR-ranges fold hybrid: per-range interiors + ONE OR-of-windows edge leg (round 14)") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    // the natural OR-of-BETWEENs spelling: closed raw-ts bounds (µs
    // domain), sub-minute edges on every disjunct
    val where = "WHERE (ts BETWEEN TIMESTAMP '2024-01-05 00:00:23' " +
      "AND TIMESTAMP '2024-01-07 10:30:41.123456') " +
      "OR (ts BETWEEN TIMESTAMP '2024-01-19 07:11:09' " +
      "AND TIMESTAMP '2024-01-21 18:05:59') "
    val sql = "SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
      "MIN(value) AS mn, ROUND(AVG(value), 4) AS av FROM events_accel " + where
    val df = spark.sql(sql)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    val p = df.queryExecution.executedPlan.toString
    // the edge leg is ONE scan with the OR of sub-minute windows pushed
    assert(p.contains("PushedFilters: [Or("), p)
    val got = df.collect().toSeq
    WheelAcceleration.clear()
    assert(got == spark.sql(sql).collect().toSeq, sql)

    // grouped spelling: an hourly rollup over the same unaligned
    // disjunction — interior (range, cell) partials + the edge leg
    // merged per slot key
    register()
    val gSql = "SELECT (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      where + "GROUP BY 1 ORDER BY 1"
    val gdf = spark.sql(gSql)
    assert(gdf.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, gdf.queryExecution.optimizedPlan.treeString)
    val gotG = gdf.collect().toSeq
    WheelAcceleration.clear()
    assert(gotG == spark.sql(gSql).collect().toSeq, gSql)

    // ABOVE THE CEILING (round 14, the last pinned OR-range refusal
    // closed): the per-range interiors ship as the index's MINUTE
    // states — still one LocalRelation of partials + the same edge
    // leg, values identical
    register()
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try {
      val ddf = spark.sql(gSql)
      assert(ddf.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, ddf.queryExecution.optimizedPlan.treeString)
      assert(ddf.collect().toSeq == gotG, gSql)
    } finally {
      spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
      WheelAcceleration.clear()
    }
  }

  test("KEYED unaligned OR-ranges fold hybrid, plan-time and above the ceiling (round 14)") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val where = "WHERE (ts BETWEEN TIMESTAMP '2024-01-05 00:00:23' " +
      "AND TIMESTAMP '2024-01-07 10:30:41.123456') " +
      "OR (ts BETWEEN TIMESTAMP '2024-01-19 07:11:09' " +
      "AND TIMESTAMP '2024-01-21 18:05:59') "
    val sql = "SELECT event_type, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      where + "GROUP BY 1, 2 ORDER BY 1, 2"
    val df = spark.sql(sql)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    // the edge leg is ONE scan with the OR of sub-minute windows pushed
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedFilters: [Or("), df.queryExecution.executedPlan.toString)
    val got = df.collect().toSeq
    WheelAcceleration.clear()
    val want = spark.sql(sql).collect().toSeq
    assert(got == want, sql)
    // above the ceiling the per-(key, range) interiors ship as keyed
    // MINUTE states; values identical
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try {
      val ddf = spark.sql(sql)
      assert(ddf.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, ddf.queryExecution.optimizedPlan.treeString)
      assert(ddf.collect().toSeq == want, sql)
    } finally {
      spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
      WheelAcceleration.clear()
    }
  }

  test("KEYED grouped hybrid accepts µs closed raw-ts bounds (round 14)") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val sql = "SELECT event_type, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      "WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' " +
      "AND TIMESTAMP '2024-01-06 10:15:33.123456' " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    val df = spark.sql(sql)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    val got = df.collect().toSeq
    WheelAcceleration.clear()
    assert(got == spark.sql(sql).collect().toSeq, sql)
    WheelAcceleration.clear()
  }

  test("keyed conditional residue keeps sliver-only groups (round 17, ADVICE r16)") {
    // A key whose ONLY rows inside the outer WHERE fall in the outer's
    // sub-minute slivers, queried with EVERY aggregate carrying a
    // narrower (minute-aligned) range condition: vanilla SQL emits
    // (key, NULL, NULL); before the round-17 fix the fold dropped the
    // group entirely (outer slivers were registered in the edge window
    // set only via unconditioned aggregates or the ELSE-0 path).
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/sliveronly.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    val T0 = Q.Jan1
    val dense = (0 until 600).flatMap { i =>
      Seq((new java.sql.Timestamp(T0 + i * 60000L + 15000L), 1.0 + i, "a"),
        (new java.sql.Timestamp(T0 + i * 60000L + 45000L), 2.0 + i, "b"))
    }
    // "rare" lives only in [T0+20s, T0+50s) — inside the outer's leading
    // sliver [T0+10s, T0+60s), in no interior minute of the outer range
    val rare = Seq(
      (new java.sql.Timestamp(T0 + 20000L), 500.0, "rare"),
      (new java.sql.Timestamp(T0 + 40000L), 600.0, "rare"),
      // and outside the outer range entirely (before its start)
      (new java.sql.Timestamp(T0 + 5000L), 999.0, "rare"))
    (dense ++ rare).toDF("ts", "value", "k").repartition(2)
      .write.mode("overwrite").parquet(src)
    def reg(): Unit =
      WheelAcceleration.registerKeyed(spark, src, spark.read.parquet(src), "k")
    WheelAcceleration.clear()
    reg()
    spark.read.parquet(src).createOrReplaceTempView("sliver_events")
    val outerA = T0 + 10000L            // sub-minute outer start
    val outerB = T0 + 600 * 60000L      // minute-aligned outer end
    val narrowA = T0 + 10 * 60000L      // minute-aligned, EXCLUDES the sliver
    val sql = "SELECT k, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $narrowA), 2) AS s, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $narrowA) AS n " +
      "FROM sliver_events " +
      s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB " +
      "GROUP BY k ORDER BY k"
    val df = spark.sql(sql)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    val got = df.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val want = spark.sql(sql).collect().map(_.toString).toSeq
    assert(want.exists(_.startsWith("[rare,")),
      s"fixture must produce a sliver-only group: $want")
    assert(got == want, s"$got vs $want")
    // COUNT(*) FILTER over the excluded sliver is NULL-free: vanilla
    // gives 0 for the rare group — the fold must agree exactly (it does:
    // the edge rows establish the group, the FILTER zeroes the count)
    WheelAcceleration.clear()
  }

  test("composite-keyed fold: GROUP BY k1, k2, month folds and matches the scan (round 13)") {
    WheelAcceleration.clear()
    val liPath = s"$dir/lineitem.parquet"
    val sql =
      """SELECT l_returnflag, l_linestatus,
        |unix_millis(CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)) AS month_ms,
        |ROUND(SUM(l_quantity), 2) AS sum_qty, ROUND(MAX(l_tax), 4) AS max_tax,
        |COUNT(*) AS n FROM lineitem_ck
        |WHERE l_shipdate >= TIMESTAMP_NTZ '1994-02-15 00:00:00'
        |AND l_shipdate < TIMESTAMP_NTZ '1996-05-10 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    Q.t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_ck")
    // baseline BEFORE registration: the plain scan plan
    val expected = spark.sql(sql).collect()
    WheelAcceleration.registerKeyedComposite(spark, liPath,
      Q.t(spark, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"),
      "l_shipdate", Seq("l_quantity", "l_tax"))
    val accel = spark.sql(sql)
    assert(accel.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, accel.queryExecution.optimizedPlan.treeString)
    assert(!accel.queryExecution.executedPlan.toString.contains("FileScan"))
    val got = accel.collect()
    assert(got.length == expected.length && got.nonEmpty)
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e, s"$g vs $e")
    }
    // key order permuted in the GROUP BY: still folds (match is by name)
    val permuted = spark.sql(sql.replace(
      "GROUP BY 1, 2, 3", "GROUP BY 3, 2, 1"))
    assert(permuted.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, permuted.queryExecution.optimizedPlan.treeString)
    assert(permuted.collect().toSeq == expected.toSeq)
    WheelAcceleration.clear()
  }

  test("composite-keyed fold past the ceiling goes DISTRIBUTED; no-merge-form pins a reason (round 13)") {
    WheelAcceleration.clear()
    val liPath = s"$dir/lineitem.parquet"
    val sql =
      """SELECT l_returnflag, l_linestatus,
        |unix_millis(CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)) AS month_ms,
        |ROUND(SUM(l_quantity), 2) AS s, COUNT(*) AS n FROM lineitem_ck
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    Q.t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_ck")
    val expected = spark.sql(sql).collect().toSeq // plain scan baseline
    WheelAcceleration.registerKeyedComposite(spark, liPath,
      Q.t(spark, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"),
      "l_shipdate", Seq("l_quantity"))
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try {
      // above the ceiling: the (tuple, minute) partials ship through a
      // real merge-form Aggregate — still scan-free, values identical
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan"), plan)
      assert(plan.contains("HashAggregate"), plan) // the distributed merge
      assert(df.collect().toSeq == expected)
      // an aggregate with NO merge form keeps the scan, reason pinned
      val noMerge = spark.sql(
        """SELECT l_returnflag, l_linestatus,
          |unix_millis(CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)) AS month_ms,
          |COUNT(DISTINCT l_quantity) AS d FROM lineitem_ck
          |GROUP BY 1, 2, 3""".stripMargin)
      assert(noMerge.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty, "COUNT(DISTINCT) must keep the scan")
      val reason = WheelAcceleration.lastBailReason(liPath).getOrElse("")
      assert(reason.contains("composite-keyed fold above maxFoldRows"), reason)
    } finally {
      spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
      WheelAcceleration.clear()
    }
  }

  test("composite-keyed RESIDUE: sub-minute edges fold hybrid, below and " +
      "above the ceiling (round 17, VERDICT r16 #2)") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/ck_residue.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    val T0 = Q.Jan1
    // rows at :15 and :45 of every minute over 8 hours, 2×2 tuple keys —
    // so a sub-minute outer bound makes the sliver scan LOAD-BEARING
    // (rows genuinely live inside the slivers)
    (0 until 480).flatMap { i =>
      Seq((new java.sql.Timestamp(T0 + i * 60000L + 15000L), 1.0 + i,
        if (i % 2 == 0) "a" else "b", if (i % 3 == 0) "x" else "y"),
        (new java.sql.Timestamp(T0 + i * 60000L + 45000L), 2.0 + i,
          if (i % 2 == 0) "a" else "b", if (i % 3 == 0) "x" else "y"))
    }.toDF("ts", "value", "k1", "k2").repartition(2)
      .write.mode("overwrite").parquet(src)
    def reg(): Unit = WheelAcceleration.registerKeyedComposite(
      spark, src, spark.read.parquet(src), Seq("k1", "k2"))
    WheelAcceleration.clear()
    reg()
    spark.read.parquet(src).createOrReplaceTempView("ck_residue")
    // outer bounds INSIDE minutes: [T0+30s, T0+8h−30s) — the leading
    // sliver keeps only the :45 row, the trailing only the :15 row
    val (oA, oB) = (T0 + 30000L, T0 + 8 * 3600000L - 30000L)
    val sql = "SELECT k1, k2, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s, ROUND(AVG(value), 4) AS av, COUNT(*) AS n " +
      "FROM ck_residue " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    def check(): Seq[String] = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
      // hybrid: the bounded sliver scan is present with pushed bounds
      assert(df.queryExecution.executedPlan.toString.contains("FileScan"))
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      reg()
      assert(got == want, s"got=$got\nwant=$want")
      got
    }
    assert(check().nonEmpty)
    // past the plan-time ceiling the interior ships (tuple-key, minute)
    // states — same values
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try assert(check().nonEmpty)
    finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    // second moments ride the residue behind the conditioning gate
    val sdSql = "SELECT k1, k2, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(STDDEV_POP(value), 2) AS sd, COUNT(*) AS n FROM ck_residue " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    val sdDf = spark.sql(sdSql)
    assert(sdDf.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty)
    val sdGot = sdDf.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val sdWant = spark.sql(sdSql).collect().map(_.toString).toSeq
    assert(sdGot == sdWant, s"$sdGot vs $sdWant")
    // CONDITIONAL aggregates over the tuple grid (round 17 — completes
    // the conditional matrix): per-window aggregates with sub-minute
    // outer AND per-aggregate edges, ELSE 0, FILTER counts — fold ==
    // scan in both regimes
    reg()
    val wMid = T0 + 3 * 3600000L
    val condSql = "SELECT k1, k2, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wMid + 7123L} " +
      s"AND unix_millis(ts) < ${T0 + 6 * 3600000L} THEN value END), 2) AS w_sum, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $wMid THEN value ELSE 0 END), 2) AS pre0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $wMid) AS n_after, " +
      "COUNT(*) AS n FROM ck_residue " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    def checkCond(): Unit = {
      val df = spark.sql(condSql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(condSql).collect().map(_.toString).toSeq
      reg()
      assert(got == want, s"got=$got\nwant=$want")
    }
    checkCond()
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try checkCond()
    finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    // OR-of-ranges outer over the tuple grid (round 17): aligned
    // disjuncts fold scan-free (no sliver windows at all); an
    // unaligned disjunct adds the one bounded edge scan
    val (r1a, r1b) = (T0, T0 + 2 * 3600000L)
    val (r2a, r2b) = (T0 + 5 * 3600000L, T0 + 7 * 3600000L)
    def runOr(sql: String, expect: String): Unit = {
      val df = spark.sql(sql)
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      val shape = if (local && !scan) "fold"
        else if (local && scan) "hybrid" else "scan"
      assert(shape == expect, s"shape=$shape (want $expect): $sql\n" +
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      reg()
      assert(got == want, s"got=$got\nwant=$want")
    }
    runOr("SELECT k1, k2, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM ck_residue " +
      s"WHERE (unix_millis(ts) >= $r1a AND unix_millis(ts) < $r1b) " +
      s"OR (unix_millis(ts) >= $r2a AND unix_millis(ts) < $r2b) " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3", expect = "fold")
    runOr("SELECT k1, k2, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM ck_residue " +
      s"WHERE (unix_millis(ts) >= ${r1a + 30000L} AND unix_millis(ts) < $r1b) " +
      s"OR (unix_millis(ts) >= $r2a AND unix_millis(ts) < ${r2b - 30000L}) " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3", expect = "hybrid")
    WheelAcceleration.clear()
  }

  test("conditional aggregates fold: FILTER clauses and CASE WHEN, each over its own range (round 14)") {
    register()
    events.createOrReplaceTempView("events_accel")
    def run(sql: String): (Boolean, Seq[String]) = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, sql)
      (hit, got)
    }
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val (w2a, w2b) = (Q.R1Start + 7 * 86400000L, Q.R1Start + 14 * 86400000L)
    // FILTER clause spelling, no outer WHERE (full indexed span): each
    // aggregate answers from ITS range's index query
    val (h1, r1) = run(
      "SELECT ROUND(SUM(value), 2) AS s1, COUNT(*) FILTER (WHERE " +
        s"unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b) AS n1, " +
        "ROUND(SUM(value) FILTER (WHERE " +
        s"unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b), 2) AS s2, " +
        "ROUND(AVG(value) FILTER (WHERE " +
        s"unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b), 4) AS a1 " +
        "FROM events_accel")
    assert(h1 && r1.nonEmpty)
    // CASE WHEN spelling with an outer WHERE: per-aggregate ranges
    // intersect the outer range; the derived ratio constant-folds
    val (h2, r2) = run(
      "SELECT ROUND(SUM(CASE WHEN unix_millis(ts) < " + w1b +
        " THEN value END), 2) AS wk1, " +
        "ROUND(SUM(CASE WHEN unix_millis(ts) >= " + w1b +
        " THEN value END), 2) AS wk2, " +
        "ROUND(SUM(CASE WHEN unix_millis(ts) >= " + w1b +
        " THEN value END) / SUM(value), 4) AS share " +
        s"FROM events_accel WHERE unix_millis(ts) >= $w1a " +
        s"AND unix_millis(ts) < $w2b")
    assert(h2 && r2.nonEmpty)
    // ELSE 0: folds for SUM; an EMPTY intersection over a non-empty
    // outer range is 0, not NULL (DuckDB/Spark agree on the scan)
    val far = Q.Jan1 + 300 * 86400000L // outside the data span
    val (h3, r3) = run(
      "SELECT ROUND(SUM(CASE WHEN unix_millis(ts) >= " + far +
        " THEN value ELSE 0 END), 2) AS z, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $w1a " +
        s"AND unix_millis(ts) < $w1b")
    assert(h3 && r3.head.contains("[0.0,"))
    // refusals keep the scan with the CONDITIONAL leg's reason pinned
    // (it outranks the main leg's generic foldRow note) — and the kept
    // scan still matches the cleared-registry run
    def refusal(sql: String, needle: String): Unit = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.isEmpty, sql)
      val reason = WheelAcceleration.lastBailReason(path).getOrElse("")
      assert(reason.contains(needle), s"$sql → $reason")
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, sql)
    }
    // non-time condition
    refusal(
      "SELECT SUM(CASE WHEN event_type = 'error' THEN value END) AS s " +
        s"FROM events_accel WHERE unix_millis(ts) >= $w1a " +
        s"AND unix_millis(ts) < $w1b",
      "not a bare time range")
    // multi-branch CASE
    refusal(
      "SELECT SUM(CASE WHEN unix_millis(ts) < " + w1b + " THEN value " +
        "WHEN unix_millis(ts) < " + w2b + " THEN -value END) AS s " +
        "FROM events_accel",
      "single-branch CASE WHEN")
    // unaligned per-aggregate range (sub-minute bound): since round 16
    // (VERDICT r15 missing #2) this folds HYBRID — whole-minute
    // interiors as slot-tagged partials, the sub-minute slivers as one
    // bounded edge scan — instead of the old pinned refusal
    locally {
      val sql = "SELECT ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= " +
        (w1a + 7000L) + s" AND unix_millis(ts) < $w1b), 2) AS s, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b"
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        df.queryExecution.optimizedPlan.treeString)
      assert(df.queryExecution.executedPlan.toString.contains("FileScan"),
        "edge slivers must scan")
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$got vs $want")
    }
    // ELSE 0 under AVG changes the population: refuse
    refusal(
      "SELECT ROUND(AVG(CASE WHEN unix_millis(ts) < " + w1b +
        " THEN value ELSE 0 END), 4) AS a FROM events_accel",
      "single-branch CASE WHEN")
    WheelAcceleration.clear()
  }

  test("GROUP BY bare key folds from the keyed wheels: plain and conditional aggregates (round 14)") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    def run(sql: String): (Boolean, Seq[String]) = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l
      }.nonEmpty
      if (hit) assert(
        !df.queryExecution.executedPlan.toString.contains("FileScan"), sql)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assert(got == want, sql)
      (hit, got)
    }
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val w2b = Q.R1Start + 14 * 86400000L
    // PLAIN aggregates over a bare-key grouping: previously an outright
    // scan, now one row per key from the keyed wheels
    val (h1, r1) = run(
      "SELECT event_type, ROUND(SUM(value), 2) AS s, COUNT(*) AS n, " +
        "ROUND(AVG(value), 4) AS av FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b " +
        "GROUP BY event_type ORDER BY event_type")
    assert(h1 && r1.nonEmpty)
    // the cohort-comparison PIVOT: week columns side by side per key,
    // CASE WHEN and FILTER spellings mixed
    val (h2, r2) = run(
      "SELECT event_type, " +
        s"ROUND(SUM(CASE WHEN unix_millis(ts) < $w1b THEN value END), 2) AS wk1, " +
        s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $w1b), 2) AS wk2, " +
        s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $w1b) AS n2, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w2b " +
        "GROUP BY event_type ORDER BY event_type")
    assert(h2 && r2.nonEmpty)
    // full-span spelling (no outer WHERE) folds too
    val (h3, _) = run(
      "SELECT event_type, ROUND(SUM(value), 2) AS s FROM events_accel " +
        "GROUP BY event_type ORDER BY event_type")
    assert(h3)
    // SELECT DISTINCT key over a range is the degenerate pivot (no
    // aggregates at all) — one row per key with data in the range
    val (h4, _) = run(
      "SELECT DISTINCT event_type FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b " +
        "ORDER BY event_type")
    assert(h4)
    // OR-of-ranges OUTER (round 16): the keyed retention spelling —
    // per-window aggregates under `WHERE w1 OR w2 GROUP BY key` —
    // folds scan-free through the keyed conditional hybrid (aligned
    // disjuncts produce no sliver scan: pure per-(key, minute)
    // partials + an executor Aggregate)
    val w3a = Q.Jan1 + 18 * 86400000L; val w3b = Q.Jan1 + 25 * 86400000L
    val (hOr, rOr) = run(
      "SELECT event_type, " +
        s"ROUND(SUM(CASE WHEN unix_millis(ts) < $w1b THEN value END), 2) AS a, " +
        s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $w3a), 2) AS b, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE (unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b) " +
        s"OR (unix_millis(ts) >= $w3a AND unix_millis(ts) < $w3b) " +
        "GROUP BY event_type ORDER BY event_type")
    assert(hOr && rOr.nonEmpty)
    // ... and with sub-minute disjunct edges the same spelling goes
    // HYBRID (one bounded sliver scan alongside the partials)
    val sqlOrU = "SELECT event_type, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $w1b THEN value END), 2) AS a, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${w1a + 7123L} AND unix_millis(ts) < $w1b) " +
      s"OR (unix_millis(ts) >= $w3a AND unix_millis(ts) < ${w3b - 911L}) " +
      "GROUP BY event_type ORDER BY event_type"
    val dfOrU = spark.sql(sqlOrU)
    assert(dfOrU.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      dfOrU.queryExecution.optimizedPlan.treeString)
    assert(dfOrU.queryExecution.executedPlan.toString.contains("FileScan"))
    val gotOrU = dfOrU.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val wantOrU = spark.sql(sqlOrU).collect().map(_.toString).toSeq
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    assert(gotOrU == wantOrU, s"$gotOrU vs $wantOrU")
    // a non-time per-aggregate condition keeps the scan, reason pinned
    val df = spark.sql(
      "SELECT event_type, SUM(CASE WHEN value > 100 THEN value END) AS s " +
        "FROM events_accel GROUP BY event_type")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.isEmpty)
    assert(WheelAcceleration.lastBailReason(path).getOrElse("")
      .contains("not a bare minute-aligned time range"),
      WheelAcceleration.lastBailReason(path))
    WheelAcceleration.clear()
  }

  test("multi-range folds decompose through retained coarser tiers under KeepN (round 15)") {
    // VERDICT r14 #3: a KeepN minute-tier registration answers OR-range
    // disjunctions whose ranges lie OUTSIDE the retained minutes —
    // below the cap through the per-range tier walk (already the case,
    // now pinned), above it through a retained-tier COVER shipped as
    // day/hour states instead of the old blanket minute-tier refusal.
    WheelAcceleration.clear()
    val idx = graft.wheel.WheelIndex.build(events, "ts", "value",
      Map(graft.wheel.Tier.Minute -> graft.wheel.Retention.KeepN(24 * 60)))
    assert(idx.retainedStartMs(graft.wheel.Tier.Minute) > idx.baseMs,
      "fixture must actually evict minutes")
    def reg(): Unit =
      WheelAcceleration.registerPrebuilt(spark, path, "ts", Map("value" -> idx))
    reg()
    events.createOrReplaceTempView("ev_keepn")
    val d1a = Q.Jan1 + 1 * 86400000L; val d1b = Q.Jan1 + 2 * 86400000L
    val d3a = Q.Jan1 + 4 * 86400000L; val d3b = Q.Jan1 + 5 * 86400000L
    assert(d3b < idx.retainedStartMs(graft.wheel.Tier.Minute),
      "both ranges must lie outside the retained minutes")
    def run(sql: String, expect: String): Seq[String] = {
      val df = spark.sql(sql)
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      val shape =
        if (local && !scan) "fold"
        else if (local && scan) "hybrid"
        else "scan"
      assert(shape == expect, s"shape=$shape (want $expect) for: $sql\n" +
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      reg()
      assert(got == want, sql)
      got
    }
    // two-range disjunction, both outside retained minutes: scan-free
    val or2 = run("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
      "FROM ev_keepn " +
      s"WHERE (unix_millis(ts) >= $d1a AND unix_millis(ts) < $d1b) " +
      s"OR (unix_millis(ts) >= $d3a AND unix_millis(ts) < $d3b)",
      expect = "fold")
    assert(or2.nonEmpty)
    // the grouped day-series comparison over the same disjunction
    run("SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
      "ROUND(SUM(value), 2) AS s FROM ev_keepn " +
      s"WHERE (unix_millis(ts) >= $d1a AND unix_millis(ts) < $d1b) " +
      s"OR (unix_millis(ts) >= $d3a AND unix_millis(ts) < $d3b) " +
      "GROUP BY 1 ORDER BY 1", expect = "fold")
    // ABOVE the cap the interiors ship as the retained-tier cover
    // (day/hour states) — previously the pinned minute-tier refusal
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    spark.conf.set(capKnob, "2")
    run("SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM ev_keepn " +
      s"WHERE (unix_millis(ts) >= $d1a AND unix_millis(ts) < $d1b) " +
      s"OR (unix_millis(ts) >= $d3a AND unix_millis(ts) < $d3b) " +
      "GROUP BY 1 ORDER BY 1", expect = "fold")
    val h1a = d1a + 3 * 3600000L; val h1b = h1a + 2 * 3600000L
    val h3a = d3a + 7 * 3600000L; val h3b = h3a + 3 * 3600000L
    run("SELECT (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "ROUND(SUM(value), 2) AS s FROM ev_keepn " +
      s"WHERE (unix_millis(ts) >= $h1a AND unix_millis(ts) < $h1b) " +
      s"OR (unix_millis(ts) >= $h3a AND unix_millis(ts) < $h3b) " +
      "GROUP BY 1 ORDER BY 1", expect = "fold")
    // still-pinned refusal, values unchanged via the scan: a minute
    // grid needs the evicted minutes themselves — the data is gone
    run("SELECT (unix_millis(ts) div 60000) * 60000 AS m, " +
      "ROUND(SUM(value), 2) AS s FROM ev_keepn " +
      s"WHERE (unix_millis(ts) >= $d1a AND unix_millis(ts) < $d1b) " +
      s"OR (unix_millis(ts) >= $d3a AND unix_millis(ts) < $d3b) " +
      "GROUP BY 1 ORDER BY 1", expect = "scan")
    // sub-minute-edged disjuncts over the evicted span now fold HYBRID
    // (round-15 retained core): each interior shrinks to hour/day
    // boundaries and the edge scans widen to absorb the difference —
    // bounded pushed-bounds windows instead of the old full scan
    run("SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
      "ROUND(SUM(value), 2) AS s FROM ev_keepn " +
      s"WHERE (unix_millis(ts) >= ${d1a + 7123L} AND unix_millis(ts) < ${d1b - 911L}) " +
      s"OR (unix_millis(ts) >= ${d3a + 5555L} AND unix_millis(ts) < ${d3b - 3L}) " +
      "GROUP BY 1 ORDER BY 1", expect = "hybrid")
    // the ungrouped unaligned single range over the evicted span too
    run("SELECT ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM ev_keepn " +
      s"WHERE unix_millis(ts) >= ${d1a + 7123L} AND " +
      s"unix_millis(ts) < ${d3b - 911L}", expect = "hybrid")
    spark.conf.unset(capKnob)
    WheelAcceleration.clear()
  }

  test("keyed conditional/pivot folds go DISTRIBUTED above the key ceiling (round 15)") {
    // VERDICT r14 #1: past maxFoldRows keys the cohort pivot used to
    // keep the scan — now the keyed minute states ship once and each
    // aggregate's range clips via a FILTER over the shipped slot_ms,
    // with a real executor-side Aggregate grouping per key.
    WheelAcceleration.clear()
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    def reg(): Unit =
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    reg()
    events.createOrReplaceTempView("events_accel")
    spark.conf.set(capKnob, "1") // every keyed fold is above-cap now
    def runDist(sql: String): Seq[String] = {
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, opt.treeString)
      // the DISTRIBUTED form: a real Aggregate over the shipped states
      assert(opt.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, sql)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"), sql)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      spark.conf.unset(capKnob)
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      spark.conf.set(capKnob, "1")
      reg()
      assert(got == want, sql)
      got
    }
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val w2b = Q.R1Start + 14 * 86400000L
    // the cohort pivot: CASE + FILTER spellings, per-aggregate ranges
    runDist("SELECT event_type, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $w1b THEN value END), 2) AS wk1, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $w1b), 2) AS wk2, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $w1b) AS n2, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w2b " +
      "GROUP BY event_type ORDER BY event_type")
    // plain aggregates + second moments (per-key shift columns) + an
    // EMPTY clipped range (disjoint FILTER → NULL per key, COUNT 0)
    runDist("SELECT event_type, ROUND(SUM(value), 2) AS s, " +
      "ROUND(AVG(value), 2) AS av, ROUND(STDDEV_POP(value), 2) AS sd, " +
      s"ROUND(VAR_SAMP(value) FILTER (WHERE unix_millis(ts) >= $w1b), 2) AS v2, " +
      s"SUM(value) FILTER (WHERE unix_millis(ts) >= $w2b) AS empty_sum, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $w2b) AS empty_n " +
      "FROM events_accel " +
      s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b " +
      "GROUP BY event_type ORDER BY event_type")
    // full-span spelling (no outer WHERE)
    runDist("SELECT event_type, ROUND(SUM(value), 2) AS s " +
      "FROM events_accel GROUP BY event_type ORDER BY event_type")
    // ELSE 0 NULL-vs-0 per key (ADVICE r14 semantics, distributed): the
    // all-NULL 'error' key keeps NULL under a branch covering the whole
    // outer range, 0 under a partial branch
    val np = s"${sys.props("java.io.tmpdir")}/graft_accel_dist_elsezero"
    events.withColumn("v", when(col("event_type") === "error",
        lit(null)).otherwise(col("value")))
      .write.mode("overwrite").parquet(np)
    def nev = spark.read.parquet(np)
    WheelAcceleration.clear()
    def regN(): Unit =
      WheelAcceleration.registerKeyed(spark, np, nev, "event_type", valueCol = "v")
    regN()
    nev.createOrReplaceTempView("ev_dist_elsezero")
    def runDistN(sql: String): Seq[org.apache.spark.sql.Row] = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        df.queryExecution.optimizedPlan.treeString)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"), sql)
      val got = df.collect()
      WheelAcceleration.clear()
      spark.conf.unset(capKnob)
      val want = spark.sql(sql).collect()
      spark.conf.set(capKnob, "1")
      regN()
      assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq, sql)
      got.toSeq
    }
    val covered = runDistN("SELECT event_type AS g0, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $w1a THEN v ELSE 0 END), 2) AS a1 " +
      s"FROM ev_dist_elsezero WHERE unix_millis(ts) >= $w1a AND " +
      s"unix_millis(ts) < $w1b GROUP BY 1 ORDER BY 1")
    assert(covered.find(_.getString(0) == "error").get.isNullAt(1))
    val partial = runDistN("SELECT event_type AS g0, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < ${w1a + 3 * 86400000L} " +
      "THEN v ELSE 0 END), 2) AS a1 " +
      s"FROM ev_dist_elsezero WHERE unix_millis(ts) >= $w1a AND " +
      s"unix_millis(ts) < $w1b GROUP BY 1 ORDER BY 1")
    assert(partial.find(_.getString(0) == "error").get.getDouble(1) == 0.0)
    // an unaligned per-aggregate range now folds through the KEYED
    // conditional HYBRID at ANY key cardinality (round 16, VERDICT r15
    // missing #2 closed for both fold regimes): per-(key, minute)
    // partials ∪ one bounded sliver scan, a real Aggregate per key
    WheelAcceleration.clear()
    reg()
    val sqlU = "SELECT event_type, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= ${w1a + 7000L}), 2) AS s " +
      s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
      s"unix_millis(ts) < $w1b GROUP BY event_type ORDER BY event_type"
    val df = spark.sql(sqlU)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      df.queryExecution.optimizedPlan.treeString)
    assert(df.queryExecution.executedPlan.toString.contains("FileScan"),
      "edge slivers must scan")
    val gotU = df.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    spark.conf.unset(capKnob)
    val wantU = spark.sql(sqlU).collect().map(_.toString).toSeq
    assert(gotU == wantU, s"$gotU vs $wantU")
    WheelAcceleration.clear()
  }

  test("distributed keyed conditional: CLIPPED second moments are " +
      "conditioning-gated (round 16, ADVICE r15)") {
    // The shift columns carry each key's OUTER-range mean. A VAR/STDDEV
    // clipped to a sub-range whose local mean sits far from that center
    // would recombine mean-scale addends — the per-(key, clipped range)
    // gate must keep the scan, like every other shifted merge-form path.
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/distcondgate.parquet")
      .getAbsolutePath
    val t0 = Q.Jan1
    // two keys × 10 minutes: minutes 0–4 at ~0, minutes 5–9 at ~2e8,
    // each with ≤0.04 within-minute spread → a clip to the low regime
    // has local mean ~0 vs the key's outer mean ~1e8 with var ~1e-4:
    // hopelessly ill-conditioned around the outer center
    (0 until 100).map { i =>
      val key = if (i % 2 == 0) "a" else "b"
      val minute = (i / 10).toLong
      val base = if (minute < 5) 0.0 else 2e8
      (new java.sql.Timestamp(t0 + minute * 60000L), key, base + (i % 5) * 0.01)
    }.toDF("ts", "k", "value").write.mode("overwrite").parquet(src)
    WheelAcceleration.clear()
    def reg(): Unit = WheelAcceleration.registerKeyed(
      spark, src, spark.read.parquet(src), "k")
    reg()
    spark.read.parquet(src).createOrReplaceTempView("ev_condgate")
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    spark.conf.set(capKnob, "1") // force the distributed form
    try {
      val lo = t0 + 5 * 60000L
      val hi = t0 + 600000L
      val bad = spark.sql("SELECT k, " +
        s"VAR_POP(value) FILTER (WHERE unix_millis(ts) < $lo) AS v " +
        s"FROM ev_condgate WHERE unix_millis(ts) >= $t0 AND " +
        s"unix_millis(ts) < $hi GROUP BY k ORDER BY k")
      assert(bad.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.isEmpty,
        bad.queryExecution.optimizedPlan.treeString)
      assert(WheelAcceleration.lastBailReason(src).getOrElse("")
        .contains("ill-conditioned"),
        WheelAcceleration.lastBailReason(src).toString)
      // the protected values: true within-regime variance is ~2e-4 —
      // exactly the digits a shifted recombination would have destroyed
      bad.collect().foreach(r => assert(r.getDouble(1) < 1.0, r.toString))
      // a clip spanning BOTH regimes is dominated by the 1e16
      // between-regime spread — well-conditioned around the outer mean,
      // so the distributed fold fires and matches the scan (relative
      // tolerance: ~1e16 magnitudes differ in last ulps across
      // summation orders)
      val okSql = "SELECT k, VAR_POP(value) FILTER (WHERE " +
        s"unix_millis(ts) >= ${t0 + 60000L}) AS v " +
        s"FROM ev_condgate WHERE unix_millis(ts) >= $t0 AND " +
        s"unix_millis(ts) < $hi GROUP BY k ORDER BY k"
      val ok = spark.sql(okSql)
      assert(ok.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        ok.queryExecution.optimizedPlan.treeString)
      val got = ok.collect().map(r => r.getString(0) -> r.getDouble(1))
      WheelAcceleration.clear()
      spark.conf.unset(capKnob)
      val want = spark.sql(okSql).collect()
        .map(r => r.getString(0) -> r.getDouble(1))
      spark.conf.set(capKnob, "1")
      reg()
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
      got.zip(want).foreach { case ((k, g), (_, w)) =>
        assert(math.abs(g - w) <= 1e-9 * math.max(g.abs, w.abs),
          s"key $k: fold $g vs scan $w")
      }
    } finally {
      spark.conf.unset(capKnob)
      WheelAcceleration.clear()
    }
  }

  test("sub-minute conditional hybrids share the clipped second-moment " +
      "conditioning gate across all five group shapes") {
    // Minutes 0–4 sit near 0 and minutes 5–9 near 2e8, each with ≤0.04
    // spread. Every shape centers second moments on the outer
    // interior's global mean (~1e8): a VAR_POP clipped to the low
    // regime is hopelessly ill-conditioned there and must keep the
    // scan, while a clip spanning both regimes is dominated by the 1e16
    // between-regime spread, folds, and matches the scan.
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/condgate5.parquet")
      .getAbsolutePath
    val t0 = Q.Jan1
    (0 until 100).map { i =>
      val minute = (i / 10).toLong
      val base = if (minute < 5) 0.0 else 2e8
      (new java.sql.Timestamp(t0 + minute * 60000L + (i % 10) * 6000L),
        if (i % 2 == 0) "a" else "b", if ((i / 2) % 2 == 0) "x" else "y",
        base + (i % 5) * 0.01)
    }.toDF("ts", "k", "k2", "value").write.mode("overwrite").parquet(src)
    val events = spark.read.parquet(src)
    events.createOrReplaceTempView("ev_condgate5")
    val hour = "(unix_millis(ts) div 3600000) * 3600000 AS h"
    // (shape, registration, leading select columns, GROUP BY arity)
    val shapes: Seq[(String, () => Unit, String, Int)] = Seq(
      ("ungrouped", () => WheelAcceleration.register(spark, src, events), "", 0),
      ("keyed", () => WheelAcceleration.registerKeyed(spark, src, events, "k"),
        "k, ", 1),
      ("time-grouped", () => WheelAcceleration.register(spark, src, events),
        s"$hour, ", 1),
      ("keyed x time", () => WheelAcceleration.registerKeyed(
        spark, src, events, "k"), s"k, $hour, ", 2),
      ("composite keys x time", () => WheelAcceleration.registerKeyedComposite(
        spark, src, events, Seq("k", "k2")), s"k, k2, $hour, ", 3))
    // sub-minute outer edges on both ends
    val outer = s"unix_millis(ts) >= ${t0 + 7000L} AND " +
      s"unix_millis(ts) < ${t0 + 600000L - 30000L}"
    def sql(leading: String, arity: Int, clip: String): String = {
      val by = (1 to arity).mkString(", ")
      s"SELECT ${leading}VAR_POP(value) FILTER (WHERE $clip) AS v " +
        s"FROM ev_condgate5 WHERE $outer" +
        (if (arity == 0) "" else s" GROUP BY $by ORDER BY $by")
    }
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }
        .nonEmpty
    try shapes.foreach { case (shape, reg, leading, arity) =>
      WheelAcceleration.clear()
      reg()
      val bad = spark.sql(sql(leading, arity,
        s"unix_millis(ts) < ${t0 + 5 * 60000L}"))
      assert(!folds(bad), s"$shape:\n" + bad.queryExecution.optimizedPlan.treeString)
      assert(WheelAcceleration.lastBailReason(src).getOrElse("")
        .contains("ill-conditioned"),
        s"$shape: ${WheelAcceleration.lastBailReason(src)}")
      // the protected values: the true within-regime variance is ~2e-4
      bad.collect().foreach(r => assert(r.getDouble(arity) < 1.0, s"$shape: $r"))
      val okSql = sql(leading, arity, s"unix_millis(ts) >= ${t0 + 60000L}")
      val ok = spark.sql(okSql)
      assert(folds(ok), s"$shape:\n" + ok.queryExecution.optimizedPlan.treeString)
      val got = ok.collect().toSeq
      WheelAcceleration.clear()
      val want = spark.sql(okSql).collect().toSeq
      assert(got.map(r => r.toSeq.take(arity)) == want.map(r => r.toSeq.take(arity)),
        s"$shape: $got vs $want")
      got.zip(want).foreach { case (g, w) =>
        val (gv, wv) = (g.getDouble(arity), w.getDouble(arity))
        assert(math.abs(gv - wv) <= 1e-9 * math.max(gv.abs, wv.abs),
          s"$shape: fold $g vs scan $w")
      }
    } finally WheelAcceleration.clear()
  }

  test("sub-minute residue hybrids share the second-moment conditioning " +
      "gate and its refusal note across all four group shapes") {
    // Minutes 0–4 sit near 0 and minutes 5–9 near 2e8, each with ≤0.04
    // spread. Every residue hybrid centers second moments on its
    // combined interior's mean (~1e8), so an interior row inside one
    // regime is ill-conditioned there: the fold must keep the scan and
    // say why. One interior row spanning both regimes is dominated by
    // the 1e16 between-regime spread, folds, and matches the scan.
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/residuegate4.parquet")
      .getAbsolutePath
    val t0 = Q.Jan1
    (0 until 100).map { i =>
      val minute = (i / 10).toLong
      val base = if (minute < 5) 0.0 else 2e8
      (new java.sql.Timestamp(t0 + minute * 60000L + (i % 10) * 6000L),
        if (i % 2 == 0) "a" else "b", if ((i / 2) % 2 == 0) "x" else "y",
        base + (i % 5) * 0.01)
    }.toDF("ts", "k", "k2", "value").write.mode("overwrite").parquet(src)
    val events = spark.read.parquet(src)
    events.createOrReplaceTempView("ev_residuegate4")
    def range(a: Long, b: Long) =
      s"(unix_millis(ts) >= ${t0 + a} AND unix_millis(ts) < ${t0 + b})"
    // sub-minute edges on both ends, across both regimes
    val outer = range(7000L, 570000L)
    def cell(w: Long) = s"(unix_millis(ts) div $w) * $w AS c"
    // (shape, registration, leading select columns with the grid width,
    // GROUP BY arity, ill-conditioned WHERE, well-conditioned WHERE)
    val shapes: Seq[(String, () => Unit, Long => String, Int, String, String)] = Seq(
      // an OR with one range per regime; the well-conditioned OR has
      // one interior spanning both and an all-edge sliver
      ("ungrouped", () => WheelAcceleration.register(spark, src, events),
        _ => "", 0, s"${range(7000L, 270000L)} OR ${range(307000L, 570000L)}",
        s"$outer OR ${range(580000L, 590000L)}"),
      ("minute grid", () => WheelAcceleration.register(spark, src, events),
        w => s"${cell(w)}, ", 1, outer, outer),
      ("key x minute", () => WheelAcceleration.registerKeyed(
        spark, src, events, "k"), w => s"k, ${cell(w)}, ", 2, outer, outer),
      ("composite keys x minute", () => WheelAcceleration.registerKeyedComposite(
        spark, src, events, Seq("k", "k2")), w => s"k, k2, ${cell(w)}, ", 3,
        outer, outer))
    def sql(leading: String, arity: Int, where: String): String = {
      val by = (1 to arity).mkString(", ")
      s"SELECT ${leading}VAR_POP(value) AS v FROM ev_residuegate4 WHERE $where" +
        (if (arity == 0) "" else s" GROUP BY $by ORDER BY $by")
    }
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }
        .nonEmpty
    try shapes.foreach { case (shape, reg, leading, arity, badWhere, okWhere) =>
      WheelAcceleration.clear()
      reg()
      // per-minute cells: every interior row sits inside one regime
      val bad = spark.sql(sql(leading(60000L), arity, badWhere))
      assert(!folds(bad), s"$shape:\n" + bad.queryExecution.optimizedPlan.treeString)
      assert(WheelAcceleration.lastBailReason(src).getOrElse("")
        .contains("ill-conditioned"),
        s"$shape: ${WheelAcceleration.lastBailReason(src)}")
      // the protected values: the true within-regime variance is ~2e-4
      if (arity > 0)
        bad.collect().foreach(r => assert(r.getDouble(arity) < 1.0, s"$shape: $r"))
      // hour cells: one interior row per group spans both regimes
      val okSql = sql(leading(3600000L), arity, okWhere)
      val ok = spark.sql(okSql)
      assert(folds(ok), s"$shape:\n" + ok.queryExecution.optimizedPlan.treeString)
      val got = ok.collect().toSeq
      WheelAcceleration.clear()
      val want = spark.sql(okSql).collect().toSeq
      assert(got.map(r => r.toSeq.take(arity)) == want.map(r => r.toSeq.take(arity)),
        s"$shape: $got vs $want")
      got.zip(want).foreach { case (g, w) =>
        val (gv, wv) = (g.getDouble(arity), w.getDouble(arity))
        assert(math.abs(gv - wv) <= 1e-9 * math.max(gv.abs, wv.abs),
          s"$shape: fold $g vs scan $w")
      }
    } finally WheelAcceleration.clear()
  }

  test("keyed SKETCH spellings go DISTRIBUTED above the key ceiling " +
      "(round 16, VERDICT r15 missing #1)") {
    // Past maxFoldRows keys the sketch spellings used to keep the scan
    // ("no merge form"). Now each key's raw per-minute sketch bytes
    // ship on the same (key, slot_ms, partials…) relation and a
    // TypedImperativeAggregate unions them executor-side.
    WheelAcceleration.clear()
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    def reg(): Unit = {
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      WheelAcceleration.registerKeyedSketches(spark, path, events,
        "event_type", "ts", distinctCols = Seq("user_id"),
        quantileCols = Seq("value"), freqCols = Seq("user_id"))
    }
    reg()
    events.createOrReplaceTempView("events_accel")
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val clip = w1a + 2 * 86400000L
    def distributed(sql: String): org.apache.spark.sql.DataFrame = {
      val df = spark.sql(sql)
      val p = df.queryExecution.optimizedPlan
      assert(p.collect { case l: LocalRelation => l }.nonEmpty, p.treeString)
      assert(p.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, sql)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"), sql)
      df
    }
    spark.conf.set(capKnob, "1")
    try {
      // THETA: union is order-insensitive and exact under the nominal —
      // the distributed answer equals exact COUNT(DISTINCT), clipped
      // FILTER window included
      val sql1 = "SELECT event_type, approx_count_distinct(user_id) AS u, " +
        "approx_count_distinct(user_id) FILTER (WHERE " +
        s"unix_millis(ts) < $clip) AS u1, COUNT(*) AS n " +
        s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
        s"unix_millis(ts) < $w1b GROUP BY event_type ORDER BY event_type"
      val got1 = distributed(sql1).collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      spark.conf.unset(capKnob)
      val want1 = spark.sql(
        "SELECT event_type, COUNT(DISTINCT user_id) AS u, " +
          s"COUNT(DISTINCT CASE WHEN unix_millis(ts) < $clip THEN user_id " +
          "END) AS u1, COUNT(*) AS n " +
          s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
          s"unix_millis(ts) < $w1b GROUP BY event_type ORDER BY event_type")
        .collect().map(_.toString).toSeq
      spark.conf.set(capKnob, "1")
      reg()
      assert(got1 == want1, s"$got1 vs $want1")
      // KLL: the distributed median lands within (3× the) k=200
      // normalized rank error of rank 0.5 per key — any merge order
      val sql2 = "SELECT event_type, percentile_approx(value, 0.5) AS med " +
        s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
        s"unix_millis(ts) < $w1b GROUP BY event_type"
      val med = distributed(sql2).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val byKey = events
        .filter(unix_millis(col("ts")) >= w1a && unix_millis(col("ts")) < w1b)
        .filter(col("value").isNotNull)
        .select("event_type", "value").collect()
        .groupBy(_.getString(0)).map { case (k, rs) =>
          k -> rs.map(_.getDouble(1)).sorted }
      med.foreach { case (k, q) =>
        val vs = byKey(k)
        val frac = vs.count(_ <= q).toDouble / vs.length
        assert(math.abs(frac - 0.5) <= 0.05 + 1.0 / vs.length,
          s"key $k: median $q at rank $frac of ${vs.length} values")
      }
      // MISRA-GRIES: exact regime at this SF (distinct users per key
      // under the counter budget) — the distributed top-k equals the
      // exact frequency top-k
      val sql3 = "SELECT event_type, approx_top_k(user_id, 3) AS tk " +
        s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
        s"unix_millis(ts) < $w1b GROUP BY event_type ORDER BY event_type"
      val got3 = distributed(sql3).collect().map(_.toString).toSeq
      // below-cap: the same wheels merged on the DRIVER — identical
      // tie rules (estimate desc, key asc), equal in the exact regime
      spark.conf.unset(capKnob)
      val below = spark.sql(sql3)
      assert(below.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        below.queryExecution.optimizedPlan.treeString)
      val want3 = below.collect().map(_.toString).toSeq
      spark.conf.set(capKnob, "1")
      assert(got3 == want3, s"$got3 vs $want3")
      // STATIC accuracy gate: a request tighter than the Theta wheel's
      // worst-case bound refuses to the scan, reason pinned
      val tight = spark.sql("SELECT event_type, " +
        "approx_count_distinct(user_id, 0.005) AS u FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b " +
        "GROUP BY event_type")
      assert(tight.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.isEmpty,
        tight.queryExecution.optimizedPlan.treeString)
      assert(WheelAcceleration.lastBailReason(path).getOrElse("")
        .contains("tighter"), WheelAcceleration.lastBailReason(path))
    } finally {
      spark.conf.unset(capKnob)
      WheelAcceleration.clear()
    }
  }

  test("GROUPED sketch spellings go DISTRIBUTED above the cell ceiling " +
      "(round 16, grouped extension of VERDICT r15 missing #1)") {
    // GROUP BY slot (and GROUP BY key, slot) approx spellings past
    // maxFoldRows: per-slot sketch bytes ride the shipped relation and
    // union per group — the grouping IS the clipping, no FILTER.
    WheelAcceleration.clear()
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    def reg(): Unit = {
      register()
      WheelAcceleration.registerSketches(spark, path, events,
        distinctCols = Seq("user_id"), quantileCols = Seq("value"),
        freqCols = Seq("user_id"))
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      WheelAcceleration.registerKeyedSketches(spark, path, events,
        "event_type", "ts", distinctCols = Seq("user_id"))
    }
    reg()
    events.createOrReplaceTempView("events_accel")
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    def distributed(sql: String): Seq[String] = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        df.queryExecution.optimizedPlan.treeString)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"), sql)
      df.collect().map(_.toString).toSeq
    }
    spark.conf.set(capKnob, "1")
    try {
      // unkeyed per-day rollup: theta exact → equals COUNT(DISTINCT);
      // the percentile and top-k ride the same relation (KLL via the
      // per-group exact proof, MG via the row-count proof)
      val got = distributed(
        "SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
          "approx_count_distinct(user_id) AS u, " +
          "percentile_approx(value, 0.5) AS med, " +
          "approx_top_k(user_id, 2) AS tk, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
          s"unix_millis(ts) < $w1b GROUP BY 1 ORDER BY 1")
      // below-cap truth: same wheels, driver-merged per cell
      spark.conf.unset(capKnob)
      val below = spark.sql(
        "SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
          "approx_count_distinct(user_id) AS u, " +
          "percentile_approx(value, 0.5) AS med, " +
          "approx_top_k(user_id, 2) AS tk, " +
          "ROUND(SUM(value), 2) AS s, COUNT(*) AS n " +
          s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
          s"unix_millis(ts) < $w1b GROUP BY 1 ORDER BY 1")
      assert(below.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty)
      val want = below.collect().map(_.toString).toSeq
      spark.conf.set(capKnob, "1")
      assert(got == want, s"$got vs $want")
      // keyed grid: per (key, day) theta equals exact COUNT(DISTINCT)
      val gotK = distributed(
        "SELECT event_type, (unix_millis(ts) div 86400000) * 86400000 AS d, " +
          "approx_count_distinct(user_id) AS u, COUNT(*) AS n " +
          s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
          s"unix_millis(ts) < $w1b GROUP BY 1, 2 ORDER BY 1, 2")
      WheelAcceleration.clear()
      spark.conf.unset(capKnob)
      val wantK = spark.sql(
        "SELECT event_type, (unix_millis(ts) div 86400000) * 86400000 AS d, " +
          "COUNT(DISTINCT user_id) AS u, COUNT(*) AS n " +
          s"FROM events_accel WHERE unix_millis(ts) >= $w1a AND " +
          s"unix_millis(ts) < $w1b GROUP BY 1, 2 ORDER BY 1, 2")
        .collect().map(_.toString).toSeq
      spark.conf.set(capKnob, "1")
      reg()
      assert(gotK == wantK, s"$gotK vs $wantK")
    } finally {
      spark.conf.unset(capKnob)
      WheelAcceleration.clear()
    }
  }

  test("GROUPED conditional windows fold per cell (round 16): clipping, " +
      "ELSE-0 per cell, OR outers, scan parity") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val (wa, wb) = (w1a + 36 * 3600000L, w1a + 60 * 3600000L)
    def run(sql: String, expectFold: Boolean): Seq[String] = {
      val df = spark.sql(sql)
      val hit = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      assert(hit == expectFold,
        s"fold=$hit (want $expectFold): $sql\n" +
          df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$sql\n$got vs $want")
      got
    }
    // per-day series with a boundary-straddling window + ELSE 0 +
    // FILTER count: per-cell clipping is load-bearing
    val r1 = run("SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa AND " +
      s"unix_millis(ts) < $wb THEN value END), 2) AS w_sum, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $wa THEN value ELSE 0 END), 2) AS pre0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $wa) AS n_after, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b " +
      "GROUP BY 1 ORDER BY 1", expectFold = true)
    assert(r1.nonEmpty)
    // OR-of-ranges outer: each cell's outer set is its clipped
    // sub-ranges — still per-cell conditional folding
    val w3a = Q.Jan1 + 18 * 86400000L; val w3b = Q.Jan1 + 25 * 86400000L
    run("SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $wa), 2) AS s_after, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b) " +
      s"OR (unix_millis(ts) >= $w3a AND unix_millis(ts) < $w3b) " +
      "GROUP BY 1 ORDER BY 1", expectFold = true)
    // sub-minute per-aggregate edge under a slot grouping: WAS the
    // pinned scan — since round 17 it folds HYBRID through the grouped
    // conditional residue (one bounded sliver scan), values unchanged
    val subMinSql =
      "SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
        s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= ${wa + 7000L}), 2) AS s " +
        "FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b " +
        "GROUP BY 1 ORDER BY 1"
    val subMin = spark.sql(subMinSql)
    assert(subMin.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      subMin.queryExecution.optimizedPlan.treeString)
    assert(subMin.queryExecution.executedPlan.toString.contains("FileScan"))
    val gotSub = subMin.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val wantSub = spark.sql(subMinSql).collect().map(_.toString).toSeq
    assert(gotSub == wantSub, s"$gotSub vs $wantSub")
    WheelAcceleration.clear()
  }

  test("GROUPED conditional hybrid (round 17, VERDICT r16 #1): past the " +
      "cell ceiling, sub-minute per-aggregate edges, sub-minute outers, " +
      "OR outers — all fold and match the scan") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    val day = 86400000L
    val (oA, oB) = (Q.R1Start, Q.R1End)
    val (wa, wb) = (Q.R1Start + 36 * 3600000L, Q.R1Start + 60 * 3600000L)
    def run(sql: String, expect: String): Seq[String] = {
      val df = spark.sql(sql)
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      val shape =
        if (local && !scan) "fold"
        else if (local && scan) "hybrid"
        else "scan"
      assert(shape == expect, s"shape=$shape (want $expect) for: $sql\n" +
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      got
    }
    // (1) the retention-dashboard shape PAST the cell ceiling: aligned
    // per-aggregate windows + ELSE 0 + FILTER count — pure fold (no
    // sliver scan: minute partials + an executor Aggregate)
    val dash = s"SELECT (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa AND unix_millis(ts) < $wb " +
      "THEN value END), 2) AS w_sum, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $wa THEN value ELSE 0 END), 2) AS pre0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $wa) AS n_after, " +
      "ROUND(SUM(value), 2) AS sum_value, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1 ORDER BY 1"
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try { assert(run(dash, expect = "fold").nonEmpty) }
    finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    // (2) sub-minute PER-AGGREGATE edges below the cap: hybrid — one
    // bounded sliver scan, per-aggregate slot/sliver filters
    run(s"SELECT (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wa + 7123L} " +
      s"AND unix_millis(ts) < ${wb - 911L} THEN value END), 2) AS w_sum, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) < ${wa + 7123L}), 2) AS pre, " +
      "ROUND(SUM(value), 2) AS sum_value, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1 ORDER BY 1", expect = "hybrid")
    // (3) sub-minute OUTER edges with conditional aggregates: hybrid;
    // ELSE-0 resolves per cell from exactly-counted outer rows
    run(s"SELECT (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa AND unix_millis(ts) < $wb " +
      "THEN value ELSE 0 END), 2) AS w0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) < $wa) AS n_pre, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oB - 911L} " +
      "GROUP BY 1 ORDER BY 1", expect = "hybrid")
    // (4) OR-of-ranges outer with UNALIGNED disjuncts + conditionals
    val (w2a, w2b) = (Q.Jan1 + 18 * day, Q.Jan1 + 25 * day)
    run(s"SELECT (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $oB THEN value END), 2) AS a, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $w2a), 2) AS b, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < $oB) " +
      s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < ${w2b - 911L}) " +
      "GROUP BY 1 ORDER BY 1", expect = "hybrid")
    // (5) cell presence: a MINUTE grid whose first cell's only outer
    // rows fall in the outer's leading sliver — the cell must emerge
    // from the unconditional sliver scan with its aggregates NULL/0
    run("SELECT (unix_millis(ts) div 60000) * 60000 AS m, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $wa), 2) AS s, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} " +
      s"AND unix_millis(ts) < ${oA + 90 * 60000L} " +
      "GROUP BY 1 ORDER BY 1", expect = "hybrid")
    // (6) conditional STDDEV rides the hybrid behind the per-(cell,
    // gate) conditioning check
    run(s"SELECT (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(STDDEV_POP(CASE WHEN unix_millis(ts) >= $wa AND " +
      s"unix_millis(ts) < $wb THEN value END), 2) AS sd, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < $oB " +
      "GROUP BY 1 ORDER BY 1", expect = "hybrid")
    // sketch spellings over sub-minute ranges keep the scan, pinned
    val dfSk = spark.sql(
      s"SELECT (unix_millis(ts) div $day) * $day AS slot_ms, " +
        "approx_count_distinct(user_id) FILTER (WHERE unix_millis(ts) >= " +
        s"${wa + 7123L}) AS u FROM events_accel " +
        s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
        "GROUP BY 1")
    assert(dfSk.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.isEmpty)
    WheelAcceleration.clear()
  }

  test("KEYED-GROUPED conditional hybrid (round 17): GROUP BY key, cell " +
      "+ per-aggregate windows fold in every regime and match the scan") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val day = 86400000L
    val (oA, oB) = (Q.R1Start, Q.R1End)
    val (wa, wb) = (Q.R1Start + 36 * 3600000L, Q.R1Start + 60 * 3600000L)
    def run(sql: String, expect: String): Seq[String] = {
      val df = spark.sql(sql)
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      val shape =
        if (local && !scan) "fold"
        else if (local && scan) "hybrid"
        else "scan"
      assert(shape == expect, s"shape=$shape (want $expect) for: $sql\n" +
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      got
    }
    // (1) keyed retention dashboard, aligned windows, below the cap:
    // pure fold (per-(key, minute) partials + executor Aggregate)
    val dash = s"SELECT event_type, (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa AND unix_millis(ts) < $wb " +
      "THEN value END), 2) AS w_sum, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $wa THEN value ELSE 0 END), 2) AS pre0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $wa) AS n_after, " +
      "ROUND(SUM(value), 2) AS sum_value, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    assert(run(dash, expect = "fold").nonEmpty)
    // (2) ... and PAST the (|keys| × cells) ceiling: same plan family
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "2")
    try { assert(run(dash, expect = "fold").nonEmpty) }
    finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    // (3) sub-minute per-aggregate edges: hybrid (one sliver scan)
    run(s"SELECT event_type, (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wa + 7123L} " +
      s"AND unix_millis(ts) < ${wb - 911L} THEN value END), 2) AS w_sum, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, 2 ORDER BY 1, 2", expect = "hybrid")
    // (4) sub-minute OUTER edges: hybrid, ELSE-0 per (key, cell)
    run(s"SELECT event_type, (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa AND unix_millis(ts) < $wb " +
      "THEN value ELSE 0 END), 2) AS w0, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oB - 911L} " +
      "GROUP BY 1, 2 ORDER BY 1, 2", expect = "hybrid")
    // (5) OR-of-ranges outer with an unaligned disjunct + conditionals
    val (w2a, w2b) = (Q.Jan1 + 18 * day, Q.Jan1 + 25 * day)
    run(s"SELECT event_type, (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $oB THEN value END), 2) AS a, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $w2a), 2) AS b, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < $oB) " +
      s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < ${w2b - 911L}) " +
      "GROUP BY 1, 2 ORDER BY 1, 2", expect = "hybrid")
    // (6) conditional STDDEV behind the per-((key, cell), gate) check
    run(s"SELECT event_type, (unix_millis(ts) div $day) * $day AS slot_ms, " +
      s"ROUND(STDDEV_POP(CASE WHEN unix_millis(ts) >= $wa AND " +
      s"unix_millis(ts) < $wb THEN value END), 2) AS sd, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < $oB " +
      "GROUP BY 1, 2 ORDER BY 1, 2", expect = "hybrid")
    WheelAcceleration.clear()
  }

  test("SLIDING conditional windows fold per window (round 17): each " +
      "window's outer is window∩range, ELSE-0 from its own row count") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    val (oA, oB) = (Q.R1Start, Q.R1Start + 2 * 86400000L)
    val wa = Q.R1Start + 30 * 3600000L
    def run(sql: String): Seq[String] = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        df.queryExecution.optimizedPlan.treeString)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"))
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      got
    }
    // overlapping 2h/1h windows with per-aggregate minute-aligned
    // windows, ELSE 0, FILTER count — each row lands in 2 windows and
    // each window clips every condition independently
    val r1 = run("SELECT unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa THEN value END), 2) AS post, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $wa THEN value ELSE 0 END), 2) AS pre0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $wa) AS n_after, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1")
    assert(r1.nonEmpty)
    // the membership-filtered non-divisible slide (3m/2m) too
    assert(run("SELECT unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) < $wa), 2) AS pre, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < ${oA + 3 * 3600000L} " +
      "GROUP BY window(ts, '3 minutes', '2 minutes') ORDER BY 1").nonEmpty)
    // SUB-MINUTE edges now fold through the SLIDING CONDITIONAL HYBRID
    // (round 17 — was the pinned "no sliver leg" refusal): interior
    // minutes and sliver rows both re-expand through the original
    // Expand, per-aggregate span filters over the (mslot, ets)
    // discriminators. Value parity vs the cleared-registry scan.
    def runHybrid(sql: String): Seq[String] = {
      val df = spark.sql(sql)
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      assert(local && scan, s"want hybrid for: $sql\n" +
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      got
    }
    // (a) sub-minute PER-AGGREGATE condition, aligned outer
    assert(runHybrid("SELECT unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wa + 7123L} THEN value END), 2) AS w, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < ${wa + 7123L} THEN value ELSE 0 END), 2) AS pre0, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1").nonEmpty)
    // (b) sub-minute OUTER edges with conditional aggregates
    assert(runHybrid("SELECT unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $wa), 2) AS post, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oB - 911L} " +
      "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1").nonEmpty)
    // (c) the membership-filtered non-divisible slide with a
    // sub-minute condition INSIDE the outer — edge rows land only in
    // their true windows
    assert(runHybrid("SELECT unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) < ${oA + 90 * 60000L + 7123L}), 2) AS pre, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < ${oA + 3 * 3600000L} " +
      "GROUP BY window(ts, '3 minutes', '2 minutes') ORDER BY 1").nonEmpty)
    // (d) ABOVE the window cap: same hybrid, forced ceiling
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "1")
    try {
      assert(runHybrid("SELECT unix_millis(window.start) AS ws, " +
        s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wa + 7123L} THEN value END), 2) AS w, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
        "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1").nonEmpty)
      // above-cap + conditional + fully ALIGNED: interior-only (pure
      // fold through the Expand, no edge scan at all)
      val dfA = spark.sql("SELECT unix_millis(window.start) AS ws, " +
        s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa THEN value END), 2) AS w " +
        "FROM events_accel " +
        s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
        "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1")
      assert(dfA.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty &&
        !dfA.queryExecution.executedPlan.toString.contains("FileScan"),
        dfA.queryExecution.optimizedPlan.treeString)
      val gotA = dfA.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
      val wantA = spark.sql("SELECT unix_millis(window.start) AS ws, " +
        s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa THEN value END), 2) AS w " +
        "FROM events_accel " +
        s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
        "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1")
        .collect().map(_.toString).toSeq
      assert(gotA == wantA, s"got=$gotA\nwant=$wantA")
    } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    WheelAcceleration.clear()
  }

  test("SLIDING OR-of-ranges outers fold through the conditional hybrid " +
      "(round 17): plain and conditional aggs, windows straddle the gap") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    val oA = Q.R1Start
    val h = 3600000L
    def runOr(sql: String): Seq[String] = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      got
    }
    // (a) PLAIN aggregates over two aligned disjuncts whose gap a 2h/1h
    // window straddles: the window combines contributions from both
    // ranges exactly as the scan's OR filter would
    assert(runOr("SELECT unix_millis(window.start) AS ws, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= $oA AND unix_millis(ts) < ${oA + 2 * h}) " +
      s"OR (unix_millis(ts) >= ${oA + 3 * h} AND unix_millis(ts) < ${oA + 5 * h}) " +
      "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1").nonEmpty)
    // (b) an UNALIGNED disjunct + a conditional aggregate: sliver legs
    // from both ranges' edges, per-aggregate clips across the union
    assert(runOr("SELECT unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) < ${oA + 4 * h}), 2) AS pre, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oA + 2 * h}) " +
      s"OR (unix_millis(ts) >= ${oA + 3 * h} AND unix_millis(ts) < ${oA + 5 * h - 911L}) " +
      "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1").nonEmpty)
    WheelAcceleration.clear()
    // (c) the KEYED spelling over an OR outer with an unaligned disjunct
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    val kSql = "SELECT event_type, unix_millis(window.start) AS ws, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE (unix_millis(ts) >= $oA AND unix_millis(ts) < ${oA + 2 * h}) " +
      s"OR (unix_millis(ts) >= ${oA + 3 * h + 7123L} AND unix_millis(ts) < ${oA + 5 * h}) " +
      "GROUP BY 1, window(ts, '2 hours', '1 hour') ORDER BY 1, 2"
    val dfK = spark.sql(kSql)
    assert(dfK.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l }.nonEmpty,
      dfK.queryExecution.optimizedPlan.treeString)
    val gotK = dfK.collect().map(_.toString).toSeq
    WheelAcceleration.clear()
    val wantK = spark.sql(kSql).collect().map(_.toString).toSeq
    assert(gotK == wantK, s"got=$gotK\nwant=$wantK")
    WheelAcceleration.clear()
  }

  test("sliding enumeration legs are ONE Generate, not the n-projection " +
      "Expand (round 18): divisible and membership-filtered slides, " +
      "values bit-match the scan") {
    WheelAcceleration.clear()
    register()
    events.createOrReplaceTempView("events_accel")
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, Filter, Generate}
    import org.apache.spark.sql.catalyst.expressions.{Explode, Literal}
    val oA = Q.R1Start
    val h = 3600000L
    def run(sql: String, wantMembership: Boolean): Unit = {
      val df = spark.sql(sql)
      val p = df.queryExecution.optimizedPlan
      // the fold fired (edge leg present), the Expand is gone, and the
      // enumeration is a Generate over a LITERAL offsets array — the
      // window expression is planned once
      assert(p.collect { case e: Expand => e }.isEmpty, p.treeString)
      val gens = p.collect { case g: Generate => g }
      assert(gens.nonEmpty, p.treeString)
      assert(gens.forall(_.generator match {
        case Explode(_: Literal) => true
        case _ => false
      }), p.treeString)
      // non-divisible slides keep the membership Filter above the
      // Generate — part of the enumeration semantics
      if (wantMembership)
        assert(p.collect {
          case f @ Filter(_, _: Generate) => f
          case f @ Filter(_, org.apache.spark.sql.catalyst.plans.logical.Project(_, _: Generate)) => f
        }.nonEmpty, p.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      register()
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      assert(got.nonEmpty, sql)
    }
    // sub-minute outer edge → hybrid with an edge leg (divisible slide)
    run("SELECT unix_millis(window.start) AS ws, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oA + 3 * h} " +
      "GROUP BY window(ts, '2 hours', '1 hour') ORDER BY 1",
      wantMembership = false)
    // NON-divisible slide + sub-minute edge: membership-filtered Generate
    run("SELECT unix_millis(window.start) AS ws, " +
      "ROUND(SUM(value), 2) AS s, COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oA + h} " +
      "GROUP BY window(ts, '3 minutes', '2 minutes') ORDER BY 1",
      wantMembership = true)
    WheelAcceleration.clear()
  }

  test("KEYED sliding conditional hybrid (round 17): GROUP BY key, " +
      "window(...) with FILTER/CASE folds in every regime") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    val (oA, oB) = (Q.R1Start, Q.R1Start + 2 * 86400000L)
    val wa = Q.R1Start + 30 * 3600000L
    def run(sql: String, wantScan: Boolean): Seq[String] = {
      val df = spark.sql(sql)
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      assert(local && scan == wantScan,
        s"local=$local scan=$scan (want $wantScan) for: $sql\n" +
          df.queryExecution.optimizedPlan.treeString)
      val got = df.collect().map(_.toString).toSeq
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().map(_.toString).toSeq
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assert(got == want, s"$sql\n got=$got\nwant=$want")
      got
    }
    // (a) fully MINUTE-ALIGNED conditions: interior-only (no edge
    // scan at all) — the plan-time keyed fold used to refuse FILTER
    assert(run("SELECT event_type, unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= $wa THEN value END), 2) AS post, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) < $wa THEN value ELSE 0 END), 2) AS pre0, " +
      s"COUNT(*) FILTER (WHERE unix_millis(ts) >= $wa) AS n_after, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, window(ts, '2 hours', '1 hour') ORDER BY 1, 2",
      wantScan = false).nonEmpty)
    // (b) SUB-MINUTE per-aggregate condition: hybrid with ONE bounded
    // edge scan
    assert(run("SELECT event_type, unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wa + 7123L} THEN value END), 2) AS w, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
      "GROUP BY 1, window(ts, '2 hours', '1 hour') ORDER BY 1, 2",
      wantScan = true).nonEmpty)
    // (c) SUB-MINUTE outer edges with a conditional aggregate
    assert(run("SELECT event_type, unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) >= $wa), 2) AS post, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= ${oA + 7123L} AND unix_millis(ts) < ${oB - 911L} " +
      "GROUP BY 1, window(ts, '2 hours', '1 hour') ORDER BY 1, 2",
      wantScan = true).nonEmpty)
    // (d) membership-filtered NON-DIVISIBLE slide (3m/2m) + sub-minute
    // condition: keyed edge rows land only in their true windows
    assert(run("SELECT event_type, unix_millis(window.start) AS ws, " +
      s"ROUND(SUM(value) FILTER (WHERE unix_millis(ts) < ${oA + 90 * 60000L + 7123L}), 2) AS pre, " +
      "COUNT(*) AS n FROM events_accel " +
      s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < ${oA + 3 * 3600000L} " +
      "GROUP BY 1, window(ts, '3 minutes', '2 minutes') ORDER BY 1, 2",
      wantScan = true).nonEmpty)
    // (e) conditional STDDEV rides the per-((key, window), gate)
    // conditioning pre-walk. The gate guarantees ~1e-8 RELATIVE
    // precision on the recombined second moment (varPop·1e8 ≥ shift²),
    // not bit-equality — tiny (key, window) groups land within that of
    // a ROUND boundary, so compare sd with a relative tolerance.
    locally {
      val sdSql = "SELECT event_type, unix_millis(window.start) AS ws, " +
        s"STDDEV_POP(CASE WHEN unix_millis(ts) >= ${wa + 7123L} THEN value END) AS sd, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
        "GROUP BY 1, window(ts, '2 hours', '1 hour') ORDER BY 1, 2"
      val df = spark.sql(sdSql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty &&
        df.queryExecution.executedPlan.toString.contains("FileScan"),
        df.queryExecution.optimizedPlan.treeString)
      val got = df.collect()
      WheelAcceleration.clear()
      val want = spark.sql(sdSql).collect()
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1)
          && g.getLong(3) == w.getLong(3), s"keys: $g vs $w")
        (Option(g.get(2)), Option(w.get(2))) match {
          case (None, None) => ()
          case (Some(a), Some(b)) =>
            val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
            assert(math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)),
              s"sd: $g vs $w")
          case _ => fail(s"sd nullability: $g vs $w")
        }
      }
    }
    // (f) ABOVE the |keys| × windows cap: same hybrid (the cap is
    // irrelevant — a real executor Aggregate groups per (key, window))
    spark.conf.set("spark.graft.wheel.rewrite.maxFoldRows", "1")
    try {
      assert(run("SELECT event_type, unix_millis(window.start) AS ws, " +
        s"ROUND(SUM(CASE WHEN unix_millis(ts) >= ${wa + 7123L} THEN value END), 2) AS w, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $oA AND unix_millis(ts) < $oB " +
        "GROUP BY 1, window(ts, '2 hours', '1 hour') ORDER BY 1, 2",
        wantScan = true).nonEmpty)
    } finally spark.conf.unset("spark.graft.wheel.rewrite.maxFoldRows")
    WheelAcceleration.clear()
  }

  test("registerPrebuilt refuses a mixed-retention measure map " +
      "(round 16, ADVICE r15)") {
    // Sibling wheels are read at the head wheel's cover slots — sound
    // only under a uniform layout. A foreign map mixing retention must
    // fail LOUDLY at registration, not fold zeros at query time.
    WheelAcceleration.clear()
    val full = graft.wheel.WheelIndex.build(events, "ts", "value")
    val kept = graft.wheel.WheelIndex.build(events, "ts", "value",
      Map(graft.wheel.Tier.Minute -> graft.wheel.Retention.KeepN(24 * 60)))
    assert(kept.retainedStartMs(graft.wheel.Tier.Minute) > kept.baseMs)
    val e = intercept[IllegalArgumentException] {
      WheelAcceleration.registerPrebuilt(spark, path, "ts",
        Map("value" -> full, "value2" -> kept))
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
    // and the evicted-slot read itself now throws rather than reading
    // as empty (stateAt distinguishes evicted-from-empty)
    val evicted = intercept[IllegalStateException] {
      kept.stateAt(graft.wheel.Tier.Minute, kept.baseMs)
    }
    assert(evicted.getMessage.contains("evicted"), evicted.getMessage)
    WheelAcceleration.clear()
  }

  test("retention spelling folds: approx-distinct per window and over the OR-outer union (round 14)") {
    WheelAcceleration.clear()
    register()
    WheelAcceleration.registerSketches(spark, path, events,
      distinctCols = Seq("user_id"))
    events.createOrReplaceTempView("events_accel")
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val (w2a, w2b) = (Q.Jan1 + 18 * 86400000L, Q.Jan1 + 25 * 86400000L)
    // the OUTER is an OR of the two disjoint windows; the per-window
    // conditional sketches clip to their window, the unconditioned one
    // merges the per-span range sketches (union semantics) — so
    // a + b − union IS the overlap, exact in the Theta exact regime
    val sql =
      s"SELECT approx_count_distinct(user_id) FILTER (WHERE " +
        s"unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b) AS a, " +
        "approx_count_distinct(user_id) FILTER (WHERE " +
        s"unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b) AS b, " +
        "approx_count_distinct(user_id) AS uni, COUNT(*) AS n " +
        "FROM events_accel " +
        s"WHERE (unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b) " +
        s"OR (unix_millis(ts) >= $w2a AND unix_millis(ts) < $w2b)"
    val df = spark.sql(sql)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    val got = df.collect()(0)
    def exact(a: Long, b: Long): Long = events
      .filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    val (ea, eb) = (exact(w1a, w1b), exact(w2a, w2b))
    val eUni = events
      .filter((unix_millis(col("ts")) >= w1a && unix_millis(col("ts")) < w1b) ||
        (unix_millis(col("ts")) >= w2a && unix_millis(col("ts")) < w2b))
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(got.getLong(0) == ea && got.getLong(1) == eb &&
      got.getLong(2) == eUni,
      s"got $got want ($ea, $eb, $eUni)")
    // inclusion-exclusion gives the true window overlap
    assert(got.getLong(0) + got.getLong(1) - got.getLong(2) == ea + eb - eUni)
    WheelAcceleration.clear()
  }

  test("conditional approximate spellings fold per-range from the sketch wheels (round 14)") {
    val src = path
    register()
    WheelAcceleration.registerSketches(spark, src, events,
      distinctCols = Seq("user_id"))
    events.createOrReplaceTempView("events_accel")
    val (w1a, w1b) = (Q.R1Start, Q.R1Start + 7 * 86400000L)
    val sql =
      "SELECT approx_count_distinct(user_id) FILTER (WHERE " +
        s"unix_millis(ts) >= $w1a AND unix_millis(ts) < $w1b) AS d1, " +
        "COUNT(*) AS n FROM events_accel " +
        s"WHERE unix_millis(ts) >= $w1a AND unix_millis(ts) < ${w1b + 7 * 86400000L}"
    val df = spark.sql(sql)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    val got = df.collect()(0)
    // Theta exact regime at this SF: equals the exact distinct count
    val want = events
      .filter(unix_millis(col("ts")) >= w1a && unix_millis(col("ts")) < w1b)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(got.getLong(0) == want, s"got ${got.getLong(0)} want $want")
    WheelAcceleration.clear()
  }

  test("RESIDUE sketch seam (round 17): approximate spellings fold over " +
      "sub-minute ranges — interior bytes union with raw edge updates") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/sketchresidue.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    val T0 = Q.Jan1
    // interior: one row per minute over 10 hours, 50 recurring users
    val dense = (0 until 600).map { i =>
      (new java.sql.Timestamp(T0 + i * 60000L + 15000L),
        (i % 50).toLong, 1.0 + i)
    }
    // sliver-only users 1000..1004 live ONLY inside [T0+10s, T0+60s) —
    // the outer's leading sliver; a correct answer REQUIRES the raw
    // edge updates to reach the sketch. One more at T0+5s sits before
    // the outer range and must NOT count.
    val rare = (0 until 5).map { j =>
      (new java.sql.Timestamp(T0 + 20000L + j * 7000L), 1000L + j, 500.0 + j)
    } :+ ((new java.sql.Timestamp(T0 + 5000L), 2000L, 999.0))
    (dense ++ rare).toDF("ts", "user_id", "value").repartition(2)
      .write.mode("overwrite").parquet(src)
    def reg(): Unit = {
      WheelAcceleration.register(spark, src, spark.read.parquet(src))
      WheelAcceleration.registerSketches(spark, src, spark.read.parquet(src),
        "ts", distinctCols = Seq("user_id"), quantileCols = Seq("value"),
        freqCols = Seq("user_id"))
    }
    WheelAcceleration.clear()
    reg()
    spark.read.parquet(src).createOrReplaceTempView("skres_events")
    val outerA = T0 + 10000L           // sub-minute outer start
    val outerB = T0 + 600 * 60000L     // minute-aligned outer end
    def shape(df: org.apache.spark.sql.DataFrame): String = {
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      if (local && scan) "hybrid" else if (local) "fold" else "scan"
    }
    // (1) plain distinct over the sub-minute outer: hybrid, and the
    // Theta exact regime equals the true distinct count — which
    // includes the 5 sliver-only users and excludes the pre-range one
    val d1 = spark.sql("SELECT approx_count_distinct(user_id) AS u " +
      s"FROM skres_events WHERE unix_millis(ts) >= $outerA " +
      s"AND unix_millis(ts) < $outerB")
    assert(shape(d1) == "hybrid", d1.queryExecution.optimizedPlan.treeString)
    assert(d1.collect()(0).getLong(0) == 55L,
      s"want 55 (50 dense + 5 sliver-only): got ${d1.collect()(0).getLong(0)}")
    // (2) MIXED numeric + sketch + a per-aggregate sub-minute window:
    // the numeric legs match the cleared-registry scan exactly; the
    // approximate legs match the TRUE distinct counts (Theta exact
    // regime — the scan's own HLL++ is itself an estimate, so exact
    // truth is the honest yardstick, same as the below-cap specs)
    val sql2 = "SELECT approx_count_distinct(user_id) AS u, " +
      "ROUND(SUM(value), 2) AS s, " +
      "approx_count_distinct(user_id) FILTER (WHERE " +
      s"unix_millis(ts) < ${T0 + 45000L}) AS uw, COUNT(*) AS n " +
      s"FROM skres_events WHERE unix_millis(ts) >= $outerA " +
      s"AND unix_millis(ts) < $outerB"
    val d2 = spark.sql(sql2)
    assert(shape(d2) == "hybrid", d2.queryExecution.optimizedPlan.treeString)
    val got2 = d2.collect()(0)
    WheelAcceleration.clear()
    val exact2 = spark.sql("SELECT COUNT(DISTINCT user_id) AS u, " +
      "ROUND(SUM(value), 2) AS s, " +
      "COUNT(DISTINCT CASE WHEN unix_millis(ts) < " +
      s"${T0 + 45000L} THEN user_id END) AS uw, COUNT(*) AS n " +
      s"FROM skres_events WHERE unix_millis(ts) >= $outerA " +
      s"AND unix_millis(ts) < $outerB").collect()(0)
    reg()
    assert(got2.toString == exact2.toString, s"$got2 vs $exact2")
    // (3) sub-minute approx_top_k: Misra-Gries exact regime — the
    // leading sliver holds dense minute 0's row, so every top count
    // is 12 only when the raw edge updates reach the sketch
    // tracked=100 fits the Misra-Gries budget (the DEFAULT 10000 is
    // past it and refuses statically — same spelling contract as the
    // distributed form)
    val sql3 = "SELECT approx_top_k(user_id, 3, 100) AS t FROM skres_events " +
      s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB"
    val d3 = spark.sql(sql3)
    assert(shape(d3) == "hybrid", d3.queryExecution.optimizedPlan.treeString)
    val got3 = d3.collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(got3.size == 3 && got3.forall(r => r.getLong(1) == 12L &&
      r.getLong(0) < 50L), got3.toString)
    // (4) sub-minute percentile_approx at a servable accuracy: the
    // answer sits within the KLL rank band of the outer's sorted data
    val d4 = spark.sql("SELECT percentile_approx(value, 0.5, 50) AS p " +
      s"FROM skres_events WHERE unix_millis(ts) >= $outerA " +
      s"AND unix_millis(ts) < $outerB")
    assert(shape(d4) == "hybrid", d4.queryExecution.optimizedPlan.treeString)
    val sorted = spark.read.parquet(src)
      .filter(unix_millis(col("ts")) >= outerA && unix_millis(col("ts")) < outerB)
      .select("value").collect().map(_.getDouble(0)).sorted
    val p50 = d4.collect()(0).getDouble(0)
    val rank = sorted.count(_ <= p50).toDouble / sorted.length
    assert(math.abs(rank - 0.5) <= 0.02 + 1e-9, s"p50=$p50 rank=$rank")
    // (5) static accuracy gates pin the refusals: a tighter-than-
    // worst-case rsd and the DEFAULT percentile accuracy keep the scan
    val tight = spark.sql("SELECT approx_count_distinct(user_id, 0.005) " +
      s"AS u FROM skres_events WHERE unix_millis(ts) >= $outerA " +
      s"AND unix_millis(ts) < $outerB")
    assert(shape(tight) == "scan", tight.queryExecution.optimizedPlan.treeString)
    val reason = spark.sql(s"SELECT graft_bail_reason('$src') AS r")
      .collect()(0).getString(0)
    assert(reason.contains("gates statically"), reason)
    val defAcc = spark.sql("SELECT percentile_approx(value, 0.5) AS p " +
      s"FROM skres_events WHERE unix_millis(ts) >= $outerA " +
      s"AND unix_millis(ts) < $outerB")
    assert(shape(defAcc) == "scan", defAcc.queryExecution.optimizedPlan.treeString)
    WheelAcceleration.clear()
  }

  test("RESIDUE sketch seam rides the keyed / grouped / keyed-grouped " +
      "hybrids (round 17): per-group distinct stays exact-regime exact") {
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/sketchresidue2.parquet")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    val T0 = Q.Jan1
    // two dimension keys; per (key, minute) one row over 4 hours; the
    // leading sliver [T0+10s, T0+60s) additionally holds key-b-only
    // users 1000..1002 (minute 0 belongs to the sliver for both keys)
    val dense = (0 until 240).flatMap { i =>
      Seq((new java.sql.Timestamp(T0 + i * 60000L + 15000L),
          (i % 20).toLong, 1.0 + i, "a"),
        (new java.sql.Timestamp(T0 + i * 60000L + 45000L),
          (i % 30).toLong, 2.0 + i, "b"))
    }
    val rare = (0 until 3).map { j =>
      (new java.sql.Timestamp(T0 + 20000L + j * 9000L), 1000L + j,
        500.0 + j, "b")
    }
    (dense ++ rare).toDF("ts", "user_id", "value", "k").repartition(2)
      .write.mode("overwrite").parquet(src)
    val outerA = T0 + 10000L
    val outerB = T0 + 240 * 60000L
    def shape(df: org.apache.spark.sql.DataFrame): String = {
      val local = df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty
      val scan = df.queryExecution.executedPlan.toString.contains("FileScan")
      if (local && scan) "hybrid" else if (local) "fold" else "scan"
    }
    spark.read.parquet(src).createOrReplaceTempView("skres2_events")
    // (1) GROUPED: GROUP BY hour cell over the sub-minute outer — the
    // per-cell distinct including hour 0's sliver-only users
    WheelAcceleration.clear()
    WheelAcceleration.register(spark, src, spark.read.parquet(src))
    WheelAcceleration.registerSketches(spark, src, spark.read.parquet(src),
      "ts", distinctCols = Seq("user_id"))
    val g = spark.sql("SELECT (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "approx_count_distinct(user_id) AS u FROM skres2_events " +
      s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB " +
      "GROUP BY 1 ORDER BY 1")
    assert(shape(g) == "hybrid", g.queryExecution.optimizedPlan.treeString)
    val gotG = g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantG = spark.sql(
      "SELECT (unix_millis(ts) div 3600000) * 3600000 AS h, " +
        "COUNT(DISTINCT user_id) AS u FROM skres2_events " +
        s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB " +
        "GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotG == wantG, s"$gotG vs $wantG")
    assert(wantG.head._2 > 20L, "hour 0 must include sliver-only users")
    // (2) KEYED: GROUP BY k — key b's distinct includes the
    // sliver-only users, key a's does not
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, src, spark.read.parquet(src), "k")
    WheelAcceleration.registerKeyedSketches(spark, src,
      spark.read.parquet(src), "k", "ts", distinctCols = Seq("user_id"))
    val kq = spark.sql("SELECT k, approx_count_distinct(user_id) AS u " +
      "FROM skres2_events " +
      s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB " +
      "GROUP BY k ORDER BY k")
    assert(shape(kq) == "hybrid", kq.queryExecution.optimizedPlan.treeString)
    val gotK = kq.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotK == Seq(("a", 20L), ("b", 33L)), gotK.toString)
    // (3) KEYED-GROUPED: GROUP BY (k, hour cell) with a per-aggregate
    // sub-minute window — parity with exact distinct per (key, cell)
    val sqlKG = "SELECT k, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
      "approx_count_distinct(user_id) FILTER (WHERE unix_millis(ts) < " +
      s"${T0 + 50000L}) AS uw FROM skres2_events " +
      s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    val kg = spark.sql(sqlKG)
    assert(shape(kg) == "hybrid", kg.queryExecution.optimizedPlan.treeString)
    val gotKG = kg.collect().map(_.toString).toSeq
    val wantKG = spark.sql(
      "SELECT k, (unix_millis(ts) div 3600000) * 3600000 AS h, " +
        "COUNT(DISTINCT CASE WHEN unix_millis(ts) < " +
        s"${T0 + 50000L} THEN user_id END) AS uw FROM skres2_events " +
        s"WHERE unix_millis(ts) >= $outerA AND unix_millis(ts) < $outerB " +
        "GROUP BY 1, 2 ORDER BY 1, 2").collect().map(_.toString).toSeq
    assert(gotKG == wantKG, s"$gotKG vs $wantKG")
    WheelAcceleration.clear()
  }

  test("keyed x time refusals record their notes: the OR-outer " +
      "conditional, the aligned OR fold and the per-(key, cell) fold") {
    WheelAcceleration.clear()
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("events_accel")
    def r(a: Long, b: Long) =
      s"(unix_millis(ts) >= $a AND unix_millis(ts) < $b)"
    val or2 = s"${r(Q.R1Start, Q.R1Start + 86400000L)} OR " +
      s"${r(Q.R1Start + 2 * 86400000L, Q.R1Start + 3 * 86400000L)}"
    // (select list, WHERE, a fragment the refusal note must carry)
    val cases = Seq(
      ("SUM(value) FILTER (WHERE value > 1) AS s", or2,
        "per-aggregate condition is not a bare time range"),
      ("percentile(value, 0.5) AS p", or2, "percentile"),
      ("percentile(value, 0.5) AS p", r(Q.R1Start, Q.R1End), "percentile"))
    try cases.foreach { case (select, where, note) =>
      // a stale note must not survive a refusal that records nothing
      WheelAcceleration.recordBail(path, "sentinel")
      val df = spark.sql("SELECT event_type, " +
        s"(unix_millis(ts) div 3600000) * 3600000 AS h, $select " +
        s"FROM events_accel WHERE $where GROUP BY 1, 2")
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.isEmpty,
        df.queryExecution.optimizedPlan.treeString)
      val reason = WheelAcceleration.lastBailReason(path).getOrElse("")
      assert(reason.contains(note), s"$select over $where: $reason")
    } finally WheelAcceleration.clear()
  }

  test("edge-free hybrids center each group on its own mean: STDDEV_POP " +
      "over keys near 0 and near 2e8 folds in four shapes") {
    // Key a sits near 0 and key b near 2e8, each with <= 0.04 spread.
    // A global shift (~1e8) would cancel the within-key variance, but
    // a plan with no edge scan ships every group's own mean as a shift
    // column, so each shape folds and matches the scan.
    import spark.implicits._
    val src = new java.io.File("target/test-fixtures/accel/pergroupshift.parquet")
      .getAbsolutePath
    val t0 = Q.Jan1
    (0 until 100).map { i =>
      val key = if (i % 2 == 0) "a" else "b"
      val base = if (key == "a") 0.0 else 2e8
      (new java.sql.Timestamp(t0 + (i / 10) * 60000L + (i % 10) * 6000L),
        key, if ((i / 2) % 2 == 0) "x" else "y", base + (i % 5) * 0.01)
    }.toDF("ts", "k", "k2", "value").write.mode("overwrite").parquet(src)
    def ev = spark.read.parquet(src)
    def reg(): Unit = {
      WheelAcceleration.registerKeyed(spark, src, ev, "k")
      WheelAcceleration.registerKeyedComposite(spark, src, ev, Seq("k", "k2"))
    }
    ev.createOrReplaceTempView("ev_pergroupshift")
    def r(a: Long, b: Long) =
      s"(unix_millis(ts) >= ${t0 + a} AND unix_millis(ts) < ${t0 + b})"
    val or2 = s"${r(0L, 180000L)} OR ${r(300000L, 540000L)}"
    val hour = "(unix_millis(ts) div 3600000) * 3600000"
    val minute = "(unix_millis(ts) div 60000) * 60000"
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    // (shape, GROUP BY columns, WHERE, cap)
    val shapes = Seq(
      ("key over an aligned OR", Seq("k"), or2, None),
      ("composite keys x minute over an aligned OR",
        Seq("k", "k2", minute), or2, None),
      ("key above the cap", Seq("k"), r(0L, 600000L), Some("1")),
      ("key x hour above the cap", Seq("k", hour), r(0L, 600000L), Some("1")))
    try shapes.foreach { case (shape, cols, where, cap) =>
      val by = cols.indices.map(_ + 1).mkString(", ")
      val sql = s"SELECT ${cols.mkString(", ")}, STDDEV_POP(value) AS sd " +
        s"FROM ev_pergroupshift WHERE $where GROUP BY $by ORDER BY $by"
      WheelAcceleration.clear()
      reg()
      cap.foreach(spark.conf.set(capKnob, _))
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        s"$shape: ${WheelAcceleration.lastBailReason(src)}\n" +
          df.queryExecution.optimizedPlan.treeString)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
        shape)
      val got = df.collect().toSeq
      spark.conf.unset(capKnob)
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect().toSeq
      val n = cols.size
      assert(got.map(_.toSeq.take(n)) == want.map(_.toSeq.take(n)),
        s"$shape: $got vs $want")
      got.zip(want).foreach { case (g, w) =>
        val (gv, wv) = (g.getDouble(n), w.getDouble(n))
        assert(math.abs(gv - wv) <= 1e-10 + 1e-4 * math.max(gv.abs, wv.abs),
          s"$shape: fold $g vs scan $w")
      }
    } finally {
      spark.conf.unset(capKnob)
      WheelAcceleration.clear()
    }
  }

  test("above the cap, unkeyed sketch spellings need the sum wheels' " +
      "minute tier: a KeepN-evicted one keeps the scan with a note") {
    // The above-cap sketch fold ships per-minute sketch bytes beside the
    // sum wheels' minute partials, so evicted sum-wheel minutes refuse
    // even when the sketch wheels still keep theirs.
    WheelAcceleration.clear()
    val idx = graft.wheel.WheelIndex.build(events, "ts", "value",
      Map(graft.wheel.Tier.Minute -> graft.wheel.Retention.KeepN(24 * 60)))
    assert(idx.retainedStartMs(graft.wheel.Tier.Minute) > idx.baseMs,
      "fixture must actually evict minutes")
    WheelAcceleration.registerPrebuilt(spark, path, "ts", Map("value" -> idx))
    WheelAcceleration.registerSketches(spark, path, events,
      distinctCols = Seq("user_id"))
    events.createOrReplaceTempView("ev_keepn_sk")
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    spark.conf.set(capKnob, "2")
    try {
      val sql = "SELECT (unix_millis(ts) div 86400000) * 86400000 AS d, " +
        "approx_count_distinct(user_id) AS u FROM ev_keepn_sk " +
        s"WHERE unix_millis(ts) >= ${Q.Jan1 + 86400000L} AND " +
        s"unix_millis(ts) < ${Q.Jan1 + 4 * 86400000L} GROUP BY 1 ORDER BY 1"
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.isEmpty,
        df.queryExecution.optimizedPlan.treeString)
      val reason = WheelAcceleration.lastBailReason(path).getOrElse("")
      assert(reason.contains("minute tier is retention-evicted"), reason)
      assert(df.collect().nonEmpty)
    } finally {
      spark.conf.unset(capKnob)
      WheelAcceleration.clear()
    }
  }
}
