package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Q

/** Fold/scan EQUIVALENCE SWEEP (late round 10): the rewrite's one
  * binding contract is that acceleration never changes an answer. The
  * per-shape specs prove it pointwise; this sweep crosses aggregate
  * mixes × grouping spellings × range shapes (aligned / minute /
  * sub-minute hybrid / no-predicate full span) and asserts, for every
  * combination, that the
  * registered plan and the cleared-registry scan return identical
  * rows. It also counts how many combinations actually folded, so a
  * regression that silently bails everything (correct but useless)
  * fails loudly too. */
class FoldSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001
  private val path = s"$dir/events.parquet"
  private def events = Q.t(spark, dir, "events")

  private def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty

  /** Typed row compare with a relative tolerance on doubles (see the
    * rounding note in the first sweep). */
  private def assertSameRows(got: Array[org.apache.spark.sql.Row],
      want: Array[org.apache.spark.sql.Row], sql: String): Unit = {
    assert(got.length == want.length,
      s"row-count divergence (${got.length} vs ${want.length}) for: $sql")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.length == w.length, s"arity divergence for: $sql")
      (0 until g.length).foreach { j =>
        (if (g.isNullAt(j)) null else g.get(j),
          if (w.isNullAt(j)) null else w.get(j)) match {
          case (null, null) => ()
          case (x: java.lang.Double, y: java.lang.Double) =>
            assert(math.abs(x - y) <= 1e-9 * (1.0 + math.abs(y)),
              s"cell ($i,$j): $x vs $y for: $sql")
          case (x, y) =>
            assert(x == y, s"cell ($i,$j): $x vs $y for: $sql")
        }
      }
    }
  }

  test("every agg-mix × grouping × range combination matches the scan") {
    WheelAcceleration.register(spark, path, events)
    WheelAcceleration.registerKeyed(spark, path, events, "event_type")
    events.createOrReplaceTempView("ev_sweep")

    // raw (unrounded) aggregates: the compare below is typed, with a
    // relative tolerance on doubles — rounding first would turn benign
    // last-ulp differences (algebraic vs Welford variance on groups
    // whose exact value sits ON a decimal rounding boundary, which
    // 2-decimal source data hits constantly for 2-row groups) into
    // false divergences
    val aggMixes = Seq(
      "SUM(value) AS a1",
      "COUNT(*) AS a1",
      "AVG(value) AS a1, MIN(value) AS a2",
      "MAX(value) AS a1, STDDEV_POP(value) AS a2",
      "VAR_SAMP(value) AS a1, COUNT(value) AS a2",
      // scalar expression over two folded aggregates
      "SUM(value) / COUNT(*) AS a1",
      // CONDITIONAL mixes (round 14): per-aggregate ranges — fold
      // ungrouped, under the bare-key grouping, and (round 17) under
      // slot groupings in every regime: per-cell below the cap, the
      // grouped conditional hybrid above it and for sub-minute edges
      s"SUM(CASE WHEN unix_millis(ts) < ${Q.R1Start + 3 * 86400000L} " +
        "THEN value END) AS a1, COUNT(*) AS a2",
      s"SUM(value) FILTER (WHERE unix_millis(ts) >= ${Q.R1Start + 3 * 86400000L}) AS a1, " +
        s"AVG(value) FILTER (WHERE unix_millis(ts) < ${Q.R1Start + 3 * 86400000L}) AS a2")
    // (grouping select-expr or "", group-by clause or "")
    val groupings = Seq(
      ("", ""),
      ("(unix_millis(ts) div 60000) * 60000 AS g0, ", "GROUP BY 1"),
      ("(unix_millis(ts) div 3600000) * 3600000 AS g0, ", "GROUP BY 1"),
      ("(unix_millis(ts) div 86400000) * 86400000 AS g0, ", "GROUP BY 1"),
      ("date_trunc('hour', ts) AS g0, ", "GROUP BY 1"),
      ("date_trunc('month', ts) AS g0, ", "GROUP BY 1"),
      ("window(ts, '2 hours') AS g0, ", "GROUP BY window(ts, '2 hours')"),
      ("window(ts, '1 hour', '30 minutes') AS g0, ",
        "GROUP BY window(ts, '1 hour', '30 minutes')"),
      // non-divisible slide: the membership-filtered Expand shape
      ("window(ts, '3 minutes', '2 minutes') AS g0, ",
        "GROUP BY window(ts, '3 minutes', '2 minutes')"),
      ("date_trunc('quarter', ts) AS g0, ", "GROUP BY 1"),
      ("event_type AS g0, (unix_millis(ts) div 3600000) * 3600000 AS g1, ",
        "GROUP BY 1, 2"),
      // KEYED window groupings (round 17): plain mixes ride the keyed
      // window/sliding folds, conditional mixes the keyed conditional
      // engines (tumbling → SlotGrid keyed-grouped, sliding → the
      // keyed sliding conditional hybrid) — every regime value-checked
      ("event_type AS g0, window(ts, '2 hours') AS g1, ",
        "GROUP BY 1, window(ts, '2 hours')"),
      ("event_type AS g0, window(ts, '1 hour', '30 minutes') AS g1, ",
        "GROUP BY 1, window(ts, '1 hour', '30 minutes')"),
      ("event_type AS g0, window(ts, '3 minutes', '2 minutes') AS g1, ",
        "GROUP BY 1, window(ts, '3 minutes', '2 minutes')"),
      // bare-key pivot grouping (round 14): plain AND conditional
      // mixes fold through the keyed conditional leg
      ("event_type AS g0, ", "GROUP BY 1"))
    // two disjoint minute-aligned ranges: under the forced cap, the
    // edge-free hybrids' above-cap OR shapes
    val alignedOr = Seq((Q.R1Start + 60000L, Q.R1Start + 2 * 86400000L - 120000L),
      (Q.R1Start + 3 * 86400000L + 180000L, Q.R1End - 60000L))
    // each entry's ranges are ORed; none = NO PREDICATE
    val ranges = Seq(
      Seq((Q.R1Start, Q.R1End)),                   // day-aligned week
      Seq((Q.R1Start + 60000L, Q.R1End - 60000L)), // minute-aligned interior
      Seq((Q.R1Start + 30123L, Q.R1End - 7001L)),  // sub-minute hybrid edges
      // two disjoint sub-minute-edged ranges: the OR residue hybrids
      Seq((Q.R1Start + 30123L, Q.R1Start + 2 * 86400000L - 7001L),
        (Q.R1Start + 3 * 86400000L + 15007L, Q.R1End - 41L)),
      alignedOr,
      Seq.empty)                                   // full span (round 11)

    var folded = 0
    var total = 0
    var orFolded = 0
    // per range input: (folded, total)
    val perRange = Array.fill(ranges.size)((0, 0))
    val startNs = System.nanoTime()
    // the CAP dimension (round 11): the same full matrix under a
    // forced plan-time ceiling of 3, so every above-cap fallback —
    // grouped/keyed minute-state partials, the sliding re-rooted
    // Expand, and (late round 11) the hybrid-distributed sliding with
    // sub-minute edges — is equivalence-checked across all agg mixes
    // and grouping spellings, not just its pointwise specs. Above-cap
    // shapes that produce a LocalRelation (all the distributed plans,
    // including the hybrid union legs) count as folded.
    val capKnob = "spark.graft.wheel.rewrite.maxFoldRows"
    for {
      cap <- Seq(None, Some("3"))
      agg <- aggMixes
      (gSel, gBy) <- groupings
      rs <- ranges
    } {
      cap match {
        case Some(c) => spark.conf.set(capKnob, c)
        case None => spark.conf.unset(capKnob)
      }
      val order =
        if (gSel.isEmpty) ""
        else if (gSel.contains("g1")) " ORDER BY 1, 2" else " ORDER BY 1"
      val where =
        if (rs.isEmpty) "" // the no-predicate full-span shape
        else rs.map { case (a, b) =>
          s"unix_millis(ts) >= $a AND unix_millis(ts) < $b" }
          .mkString(if (rs.size > 1) "WHERE (" else "WHERE ", ") OR (",
            if (rs.size > 1) ") " else " ")
      val sql = s"SELECT $gSel$agg FROM ev_sweep $where$gBy$order"
      total += 1
      val acc = spark.sql(sql)
      val ri = ranges.indexOf(rs)
      val fold = foldsToLocal(acc)
      perRange(ri) = (perRange(ri)._1 + (if (fold) 1 else 0), perRange(ri)._2 + 1)
      if (fold) {
        folded += 1
        if (rs.size > 1) orFolded += 1
      }
      val got = acc.collect()
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect()
      WheelAcceleration.register(spark, path, events)
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      assertSameRows(got, want, sql)
    }
    // the sweep is about equivalence, but a silent bail-everything
    // regression must fail too: the aligned and minute-aligned ranges
    // fold for every grouping here (distributed plans included under
    // the forced cap), and the hybrids fold for all but the above-cap
    // sliding edges — well over half the matrix
    info(s"folded $folded/$total combinations, $orFolded of them over " +
      "an OR of ranges; per range input " +
      perRange.map { case (f, t) => s"$f/$t" }.mkString(", ") +
      f"; ${(System.nanoTime() - startNs) / 1e9}%.0f s")
    // every aligned OR combination folds: interior-only plans, below the
    // cap per cell and above it through the edge-free hybrids
    val (orF, orT) = perRange(ranges.indexOf(alignedOr))
    assert(orF == orT, s"aligned OR folded only $orF/$orT")
    assert(folded * 2 >= total, s"only $folded/$total combinations folded")
    spark.conf.unset(capKnob)
    WheelAcceleration.clear()
  }

  /** The NULLABLE-MEASURE sweep (round 11): the measure is `value`
    * nulled wherever `event_type = 'error'` — so one whole key of the
    * keyed grid is 100% NULL, plenty of minute slots are all-null, and
    * every aggregate's NULL semantics (COUNT(*) vs COUNT(v), AVG/VAR
    * over non-nulls only, SUM/MIN/MAX of an empty set = NULL) is
    * exercised against the scan across the same grouping × range matrix
    * as the base sweep. The binding contract is unchanged: registering
    * an index never changes an answer. */
  test("nullable-measure agg-mix × grouping × range folds match the scan") {
    val np = s"${sys.props("java.io.tmpdir")}/graft_sweep_nullable"
    events
      .withColumn("v", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("event_type") === "error",
        org.apache.spark.sql.functions.lit(null))
        .otherwise(org.apache.spark.sql.functions.col("value")))
      .write.mode("overwrite").parquet(np)
    def nev = spark.read.parquet(np)
    def registerAll(): Unit = {
      WheelAcceleration.register(spark, np, nev, valueCol = "v")
      WheelAcceleration.registerKeyed(spark, np, nev, "event_type",
        valueCol = "v")
    }
    registerAll()
    nev.createOrReplaceTempView("ev_sweep_nullable")

    val aggMixes = Seq(
      "SUM(v) AS a1",
      "COUNT(*) AS a1, COUNT(v) AS a2",
      "AVG(v) AS a1, MIN(v) AS a2, MAX(v) AS a3",
      "VAR_SAMP(v) AS a1, STDDEV_POP(v) AS a2",
      // scalar over the COUNT split: non-null fraction per group
      "COUNT(v) / COUNT(*) AS a1")
    val groupings = Seq(
      ("", ""),
      ("(unix_millis(ts) div 60000) * 60000 AS g0, ", "GROUP BY 1"),
      ("(unix_millis(ts) div 3600000) * 3600000 AS g0, ", "GROUP BY 1"),
      ("date_trunc('day', ts) AS g0, ", "GROUP BY 1"),
      ("window(ts, '2 hours') AS g0, ", "GROUP BY window(ts, '2 hours')"),
      ("window(ts, '1 hour', '30 minutes') AS g0, ",
        "GROUP BY window(ts, '1 hour', '30 minutes')"),
      // the all-null 'error' key rides the keyed grid
      ("event_type AS g0, (unix_millis(ts) div 3600000) * 3600000 AS g1, ",
        "GROUP BY 1, 2"),
      // bare-key pivot (round 14): the all-null key's COUNT(*) vs
      // COUNT(v) split through the keyed conditional leg
      ("event_type AS g0, ", "GROUP BY 1"))
    val ranges = Seq(
      (Q.R1Start, Q.R1End),                   // day-aligned week
      (Q.R1Start + 30123L, Q.R1End - 7001L),  // sub-minute hybrid edges
      (-1L, -1L))                             // no predicate: full span

    var folded = 0
    var total = 0
    for {
      agg <- aggMixes
      (gSel, gBy) <- groupings
      (a, b) <- ranges
    } {
      val order =
        if (gSel.isEmpty) ""
        else if (gSel.contains("g1")) " ORDER BY 1, 2" else " ORDER BY 1"
      val where =
        if (a < 0) ""
        else s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b "
      val sql = s"SELECT $gSel$agg FROM ev_sweep_nullable $where$gBy$order"
      total += 1
      val acc = spark.sql(sql)
      if (foldsToLocal(acc)) folded += 1
      val got = acc.collect()
      WheelAcceleration.clear()
      val want = spark.sql(sql).collect()
      registerAll()
      assertSameRows(got, want, sql)
    }
    assert(folded * 2 >= total, s"only $folded/$total combinations folded")
    WheelAcceleration.clear()
  }

  /** The `SUM(CASE … ELSE 0)` NULL-vs-0 sweep (round 15, ADVICE r14):
    * SQL keeps NULL through an ELSE 0 exactly when EVERY outer row hits
    * the branch and contributes NULL — no ELSE input ever fires. The
    * fold must (a) preserve that NULL when the branch covers the whole
    * outer range over an all-NULL measure, (b) produce 0 the moment any
    * outer row misses the branch, and (c) REFUSE — not guess — when the
    * outer range is unaligned (outer row count unknowable from minute
    * slots) but the mix is all-conditional so the fold would otherwise
    * still fire. Checked ungrouped (all-NULL-measure fixture) and per
    * key (the all-NULL 'error' key of the nullable fixture). */
  test("SUM(CASE … ELSE 0) NULL-vs-0 semantics match the scan") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val b3 = Q.R1Start + 3 * 86400000L

    // (a)+(b) ungrouped, over a measure that is NULL on EVERY row
    val allNullP = s"${sys.props("java.io.tmpdir")}/graft_sweep_allnull"
    events.withColumn("v", lit(null).cast("double"))
      .write.mode("overwrite").parquet(allNullP)
    def anev = spark.read.parquet(allNullP)
    def regAllNull(): Unit =
      WheelAcceleration.register(spark, allNullP, anev, valueCol = "v")
    regAllNull()
    anev.createOrReplaceTempView("ev_elsezero_allnull")
    def run(sql: String, expectFold: Boolean, reg: () => Unit)
        : Array[org.apache.spark.sql.Row] = {
      val acc = spark.sql(sql)
      assert(foldsToLocal(acc) == expectFold,
        s"fold=${!expectFold} unexpected for: $sql\n" +
          acc.queryExecution.optimizedPlan.treeString)
      val got = acc.collect()
      WheelAcceleration.clear()
      assertSameRows(got, spark.sql(sql).collect(), sql)
      reg()
      got
    }
    val fullW = s"WHERE unix_millis(ts) >= ${Q.R1Start} AND " +
      s"unix_millis(ts) < ${Q.R1End}"
    // branch covers the whole outer range: every input is a NULL v,
    // the ELSE never fires → SQL (and the fold) keep NULL
    val covered = run("SELECT SUM(CASE WHEN unix_millis(ts) >= " +
      s"${Q.R1Start} THEN v ELSE 0 END) AS a1 " +
      s"FROM ev_elsezero_allnull $fullW", expectFold = true, regAllNull _)
    assert(covered.head.isNullAt(0), "covered-branch ELSE 0 must stay NULL")
    // partial branch: rows past day 3 hit the ELSE → 0, not NULL
    val partial = run("SELECT SUM(CASE WHEN unix_millis(ts) < " +
      s"$b3 THEN v ELSE 0 END) AS a1 " +
      s"FROM ev_elsezero_allnull $fullW", expectFold = true, regAllNull _)
    assert(partial.head.getDouble(0) == 0.0, "partial-branch ELSE 0 must be 0")
    WheelAcceleration.clear()

    // (c) unaligned outer + all-conditional mix: the disjoint ELSE 0
    // branch is NULL from the index but 0 in SQL (every outer row hits
    // the ELSE). Pre-round-16 this refused (outer row count unknowable
    // from minute slots); the conditional HYBRID (VERDICT r15 missing
    // #2) now counts outer rows exactly — interior partials + scanned
    // sliver rows — so the shape folds AND keeps the ELSE-0 semantics
    def regPlain(): Unit = WheelAcceleration.register(spark, path, events)
    regPlain()
    events.createOrReplaceTempView("ev_elsezero")
    val unalignedW = s"WHERE unix_millis(ts) >= ${Q.R1Start + 30123L} " +
      s"AND unix_millis(ts) < ${Q.R1End - 7001L}"
    val hybrid = run("SELECT SUM(CASE WHEN unix_millis(ts) < " +
      s"${Q.R1Start} THEN value ELSE 0 END) AS a1, " +
      s"SUM(value) FILTER (WHERE unix_millis(ts) >= ${Q.R1Start + 60000L} " +
      s"AND unix_millis(ts) < ${Q.R1End - 60000L}) AS a2 " +
      s"FROM ev_elsezero $unalignedW", expectFold = true, regPlain _)
    assert(hybrid.head.getDouble(0) == 0.0)
    WheelAcceleration.clear()

    // keyed: the all-NULL 'error' key — covered branch keeps NULL for
    // that key while keys with data still answer; partial branch → 0
    val np = s"${sys.props("java.io.tmpdir")}/graft_sweep_elsezero_keyed"
    events.withColumn("v",
        when(col("event_type") === "error", lit(null))
          .otherwise(col("value")))
      .write.mode("overwrite").parquet(np)
    def nev = spark.read.parquet(np)
    def regKeyed(): Unit =
      WheelAcceleration.registerKeyed(spark, np, nev, "event_type", valueCol = "v")
    regKeyed()
    nev.createOrReplaceTempView("ev_elsezero_keyed")
    val keyedCovered = run("SELECT event_type AS g0, " +
      s"SUM(CASE WHEN unix_millis(ts) >= ${Q.R1Start} THEN v ELSE 0 END) AS a1 " +
      s"FROM ev_elsezero_keyed $fullW GROUP BY 1 ORDER BY 1",
      expectFold = true, regKeyed _)
    val errRow = keyedCovered.find(_.getString(0) == "error").get
    assert(errRow.isNullAt(1), "all-NULL key with covered branch must stay NULL")
    assert(keyedCovered.exists(r => !r.isNullAt(1)),
      "keys with data must still answer")
    val keyedPartial = run("SELECT event_type AS g0, " +
      s"SUM(CASE WHEN unix_millis(ts) < $b3 THEN v ELSE 0 END) AS a1 " +
      s"FROM ev_elsezero_keyed $fullW GROUP BY 1 ORDER BY 1",
      expectFold = true, regKeyed _)
    val errPartial = keyedPartial.find(_.getString(0) == "error").get
    assert(errPartial.getDouble(1) == 0.0,
      "all-NULL key with an ELSE population must be 0")
    WheelAcceleration.clear()
  }

  /** The APPROX-SPELLING sweep (round 11): `approx_count_distinct` is
    * folded sketch-for-sketch from the Theta wheel, so fold-vs-scan
    * equality does NOT apply (the scan answers with Spark's HLL++
    * estimate, the fold with the wheel's). The binding contract in the
    * sketches' EXACT regime (this fixture: 15 distinct users, Theta
    * nominal 4096) is fold == exact truth — so every folding shape is
    * checked against the exact `COUNT(DISTINCT …)` spelling computed by
    * a cleared-registry scan, across the same grouping/range matrix as
    * the sum-family sweep (flat / minute / hour / day / date_trunc /
    * tumbling / sliding window, each with a mixed sum-family tail). The
    * two deliberate refusals are pinned too: the exact spelling never
    * folds while registered, and the keyed grid bails (no per-key
    * sketch wheels) with scan results unchanged. */
  test("approx_count_distinct folds match exact truth across groupings") {
    def registerAll(): Unit = {
      WheelAcceleration.register(spark, path, events)
      WheelAcceleration.registerKeyed(spark, path, events, "event_type")
      WheelAcceleration.registerSketches(spark, path, events, "ts",
        distinctCols = Seq("user_id"))
    }
    registerAll()
    events.createOrReplaceTempView("ev_sweep_approx")

    val groupings = Seq(
      ("", ""),
      ("(unix_millis(ts) div 60000) * 60000 AS g0, ", "GROUP BY 1"),
      ("(unix_millis(ts) div 3600000) * 3600000 AS g0, ", "GROUP BY 1"),
      ("(unix_millis(ts) div 86400000) * 86400000 AS g0, ", "GROUP BY 1"),
      ("date_trunc('hour', ts) AS g0, ", "GROUP BY 1"),
      ("window(ts, '2 hours') AS g0, ", "GROUP BY window(ts, '2 hours')"),
      ("window(ts, '1 hour', '30 minutes') AS g0, ",
        "GROUP BY window(ts, '1 hour', '30 minutes')"))
    val ranges = Seq(
      (Q.R1Start, Q.R1End),                   // day-aligned week
      (Q.R1Start + 60000L, Q.R1End - 60000L)) // minute-aligned interior
    for {
      mixed <- Seq(false, true)
      (gSel, gBy) <- groupings
      (a, b) <- ranges
    } {
      val order = if (gSel.isEmpty) "" else " ORDER BY 1"
      // the mixed form proves one statement resolves aggregates against
      // BOTH families: the sketch wheel and the sum wheels
      val approxAgg =
        if (mixed) "approx_count_distinct(user_id) AS a1, COUNT(*) AS a2, SUM(value) AS a3"
        else "approx_count_distinct(user_id) AS a1"
      val exactAgg =
        if (mixed) "COUNT(DISTINCT user_id) AS a1, COUNT(*) AS a2, SUM(value) AS a3"
        else "COUNT(DISTINCT user_id) AS a1"
      def q(agg: String) = s"SELECT $gSel$agg FROM ev_sweep_approx " +
        s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b $gBy$order"
      val acc = spark.sql(q(approxAgg))
      assert(foldsToLocal(acc), s"approx fold did not fire for: ${q(approxAgg)}\n" +
        acc.queryExecution.optimizedPlan.treeString)
      val got = acc.collect()
      WheelAcceleration.clear()
      val want = spark.sql(q(exactAgg)).collect()
      registerAll()
      assertSameRows(got, want, q(approxAgg))
    }

    // round 17, the RESIDUE SKETCH SEAM: SUB-MINUTE outers fold HYBRID
    // for EVERY grouping — interior per-minute sketch bytes union with
    // raw sliver-row updates, so the Theta exact regime still matches
    // exact truth bit-for-bit; window() groupings ride the sliding
    // conditional hybrid's sliver leg (sketch fallback).
    for {
      mixed <- Seq(false, true)
      (gSel, gBy) <- groupings
    } {
      val (a, b) = (Q.R1Start + 7123L, Q.R1End - 911L)
      val order = if (gSel.isEmpty) "" else " ORDER BY 1"
      val approxAgg =
        if (mixed) "approx_count_distinct(user_id) AS a1, COUNT(*) AS a2, SUM(value) AS a3"
        else "approx_count_distinct(user_id) AS a1"
      val exactAgg =
        if (mixed) "COUNT(DISTINCT user_id) AS a1, COUNT(*) AS a2, SUM(value) AS a3"
        else "COUNT(DISTINCT user_id) AS a1"
      def q(agg: String) = s"SELECT $gSel$agg FROM ev_sweep_approx " +
        s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b $gBy$order"
      val acc = spark.sql(q(approxAgg))
      assert(foldsToLocal(acc), s"sketch residue did not fire for: " +
        s"${q(approxAgg)}\n" + acc.queryExecution.optimizedPlan.treeString)
      val got = acc.collect()
      WheelAcceleration.clear()
      val want = spark.sql(q(exactAgg)).collect()
      registerAll()
      assertSameRows(got, want, q(approxAgg))
    }

    // refusal 1: the EXACT spelling never folds, even fully registered
    val exactSql = "SELECT COUNT(DISTINCT user_id) AS a1 FROM ev_sweep_approx " +
      s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End}"
    assert(!foldsToLocal(spark.sql(exactSql)), s"exact spelling folded: $exactSql")

    // refusal 2: the keyed grid has no per-key sketch wheels — the
    // statement must keep the scan, and (guarding against a future
    // wrong-fold that would answer per-key cells with the GLOBAL
    // estimate) its rows must match the cleared-registry scan exactly
    val keyedSql = "SELECT event_type AS g0, " +
      "(unix_millis(ts) div 3600000) * 3600000 AS g1, " +
      "approx_count_distinct(user_id) AS a1 FROM ev_sweep_approx " +
      s"WHERE unix_millis(ts) >= ${Q.R1Start} AND unix_millis(ts) < ${Q.R1End} " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    val keyedAcc = spark.sql(keyedSql)
    assert(!foldsToLocal(keyedAcc), s"keyed approx statement folded: $keyedSql")
    val keyedGot = keyedAcc.collect()
    WheelAcceleration.clear()
    assertSameRows(keyedGot, spark.sql(keyedSql).collect(), keyedSql)
    WheelAcceleration.clear()
  }
}
