package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graftbench.Harness._

/** The four workloads. Each sets up several times (the median round is
  * the reported set-up), warms up, then measures: one untraced window
  * with `--trace 0`; untraced and traced rounds in turn with `--trace 1`. */
object Workloads {
  val WarmupSeconds = 3.0

  /** Every per-layer metric, with its unit; a layer a workload does not
    * exercise reports 0. */
  val Layers: Seq[(String, String)] = Seq(
    "resolve.ms" -> "ms", "resolve.jobs" -> "count",
    "analyze.ms" -> "ms", "optimize.ms" -> "ms",
    "plans.rewrite_ms" -> "ms", "plans.fold_frac" -> "ratio",
    "physical.ms" -> "ms", "codegen.compiles" -> "count", "codegen.ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_ms" -> "ms", "exec.input_bytes" -> "bytes",
    "exec.input_rows" -> "count", "exec.shuffle_records" -> "count") ++
    Seq("sum", "keyed", "distinct", "quantile", "frequency").flatMap(f =>
      Seq(s"wheel.build_s.$f" -> "s", s"wheel.index_bytes.$f" -> "bytes")) ++
    Seq("sum", "all", "distinct", "quantile", "topk").map(f => s"wheel.combine_us.$f" -> "us") ++
    Seq("catalog.register_ms" -> "ms", "catalog.register_jobs" -> "count",
      "ingest.batch_ms" -> "ms", "ingest.rows" -> "count", "ingest.late_rows" -> "count",
      "ingest.fold_frac" -> "ratio", "jvm.gc_ms" -> "ms",
      "trace.overhead_ms" -> "ms", "trace.attributed_frac" -> "ratio")

  /** The set-up round of median time (the lower middle of an even
    * count), with what it built. */
  private def medianRound[T](rounds: Seq[(Double, T)]): (Double, T) =
    rounds.sortBy(_._1).apply((rounds.size - 1) / 2)

  private def putLayer(run: Run, name: String, v: Double): Unit =
    run.put(name, v, Layers.find(_._1 == name).get._2)

  /** One measuring window's latencies (ms) and outcomes. Every window
    * holds each kind of operation (SQL shape, read range, index family)
    * equally often, and `p50` is the median latency of each kind averaged
    * over the kinds: a median pooled over kinds whose costs differ several
    * fold lands on the edge between two kinds and jumps with a
    * sample or two. */
  final class Window {
    val lat = mutable.ArrayBuffer.empty[Double]
    val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(kind: String, ms: Double, folded: Boolean = false): Unit = {
      lat += ms
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      if (folded) { folds += 1; foldedKinds += kind }
    }
    def kindP50: Map[String, Double] = byKind.map { case (k, v) => k -> median(v.toSeq) }.toMap
    var folds = 0
    val foldedKinds = mutable.Set.empty[String]
    var elapsedS = 0.0
    var gcMs = 0L
    // ingest_mixed only: its batches' processing and freshness times, the
    // rows it added, and the rows and late rows the ingest merged
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val freshMs = mutable.ArrayBuffer.empty[Double]
    var rowsIn, merged, late = 0L
    def p50: Double = kindP50.values.sum / math.max(kindP50.size, 1)
  }

  /** Runs `step` until `seconds` have passed and the operation stream is
    * at a round boundary, or until `step` returns false. Stopping only at
    * round boundaries keeps the mix of operations in every window the
    * same, so the percentiles do not shift with where the window ends. */
  private def measure(seconds: Double, atRoundEnd: () => Boolean)(
      step: Window => Boolean): Window = {
    val w = new Window
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while ((System.nanoTime() < deadline || !atRoundEnd()) && step(w)) ()
    w.elapsedS = secs(t0)
    w.gcMs = gcMs() - gc0
    w
  }

  /** The untraced window, and with `--trace 1` the traced one too. A
    * traced run gives whole rounds of the operation stream to the two
    * windows in turn, untraced first, and stops after a traced round once
    * `--seconds` have passed. Both windows then hold the same number of
    * rounds, and drift over the run (the JIT still warming, the host)
    * falls on both alike, so the difference of their `p50` is the cost of
    * tracing. The stream runs on across the switches, so no operation of
    * one window repeats one of the other, and neither meets generated code
    * the other compiled. `sparkCounters` as for [[Tracer]]. */
  private def windows(run: Run, atRoundEnd: () => Boolean = () => true,
      sparkCounters: Boolean = true)(step: (Option[Tracer], Window) => Boolean)
      : (Window, Option[(Window, Tracer, Tracer.Finished)]) = {
    run.mark("warm")
    if (!run.opts.trace) (measure(run.opts.seconds, atRoundEnd)(step(None, _)), None)
    else {
      val plain = new Window
      val traced = new Window
      val tr = new Tracer(run.spark, sparkCounters)
      val deadline = System.nanoTime() + (run.opts.seconds * 1e9).toLong
      var w = plain
      var t0 = System.nanoTime()
      var gc0 = gcMs()
      var going = true
      while (going) {
        going = step(if (w eq traced) Some(tr) else None, w)
        if (!going || atRoundEnd()) {
          w.elapsedS += secs(t0)
          w.gcMs += gcMs() - gc0
          if (w eq traced) {
            tr.pause()
            going = going && System.nanoTime() < deadline
            w = plain
          } else {
            tr.resume()
            w = traced
          }
          t0 = System.nanoTime()
          gc0 = gcMs()
        }
      }
      (plain, Some((traced, tr, tr.finish())))
    }
  }

  private def endToEnd(run: Run, setupS: Double, w: Window): Unit = {
    run.put("setup_s", setupS, "s")
    run.put("query_p50_ms", w.p50, "ms")
    // pooled tail percentiles, only where at least ten samples lie beyond
    if (w.lat.size >= 100) run.put("query_p90_ms", percentile(w.lat.toSeq, 0.9), "ms")
    if (w.lat.size >= 1000) run.put("query_p99_ms", percentile(w.lat.toSeq, 0.99), "ms")
    run.put("queries_per_s", w.lat.size / w.elapsedS, "1/s")
    run.put("heap_mb", heapMbAfterGc(), "MB")
    run.put("ops", run.attempted.toDouble, "count")
    run.put("ops_failed", run.failed.toDouble, "count")
    run.info("p50_ms_by_kind") = w.kindP50
    run.info("ops_by_kind") = w.byKind.map { case (k, v) => k -> v.size }.toMap
    // every latency of the window in order, per kind, for looking at drift
    run.info("latencies_ms_by_kind") = w.byKind.map { case (k, v) => k -> v.toSeq }.toMap
    run.info("folded_kinds") = w.foldedKinds.toSeq.sorted
  }

  /** Per-layer metrics of the traced window of a Spark workload. */
  private def sparkLayers(run: Run, opName: String, plain: Window, traced: Window,
      tr: Tracer, fin: Tracer.Finished): Unit = {
    Layers.foreach { case (n, _) => putLayer(run, n, 0.0) }
    val ops = math.max(tr.opCount(opName), 1).toDouble
    val (self, wallMs, attributed) = tr.layerTimes(opName)
    Seq("resolve", "analyze", "optimize", "physical", "exec").foreach(l =>
      putLayer(run, s"$l.ms", self.getOrElse(l, 0.0)))
    putLayer(run, "resolve.jobs", fin.count("resolve", "jobs") / ops)
    putLayer(run, "plans.rewrite_ms", fin.rewriteMs / ops)
    putLayer(run, "plans.fold_frac", traced.folds / ops)
    putLayer(run, "codegen.compiles", fin.codegenCompiles / ops)
    putLayer(run, "codegen.ms", fin.codegenMs / ops)
    putLayer(run, "exec.jobs", fin.count("exec", "jobs") / ops)
    putLayer(run, "exec.tasks", fin.count("exec", "tasks") / ops)
    putLayer(run, "exec.task_cpu_ms", fin.count("exec", "task_cpu_ns") / 1e6 / ops)
    putLayer(run, "exec.input_bytes", fin.count("exec", "input_bytes") / ops)
    putLayer(run, "exec.input_rows", fin.count("exec", "input_rows") / ops)
    putLayer(run, "exec.shuffle_records", fin.count("exec", "shuffle_records") / ops)
    putLayer(run, "jvm.gc_ms", traced.gcMs.toDouble)
    putLayer(run, "trace.overhead_ms", traced.p50 - plain.p50)
    putLayer(run, "trace.attributed_frac", attributed)
    run.traceDoc = Some(Map(
      "spans" -> tr.spans.map(s => Seq(s.op, s.name, s.parent.getOrElse(""),
        s.startNs / 1000, (s.endNs - s.startNs) / 1000)),
      "span_columns" -> Seq("op", "name", "parent", "start_us", "duration_us"),
      "ops" -> tr.opCount(opName),
      "op_wall_ms" -> wallMs,
      "self_ms" -> self,
      "attributed_frac" -> attributed,
      "listener" -> fin.counts,
      "codegen" -> Map("compiles" -> fin.codegenCompiles, "ms" -> fin.codegenMs,
        "ms_exact" -> fin.codegenMsExact, "compiles_in_jvm" -> fin.codegenCompilesInJvm),
      "rule_ms" -> Map(Tracer.RewriteRule -> fin.rewriteMs),
      "fold_frac" -> traced.folds / ops,
      "untraced_p50_ms" -> plain.p50,
      "traced_p50_ms" -> traced.p50,
      "overhead_ms" -> (traced.p50 - plain.p50)))
  }

  // ---- wheel_sql / scan_sql --------------------------------------------

  final case class Stmt(shape: String, sql: String, expect: JsonNode)

  def sql(run: Run, registered: Boolean): Unit = {
    val spark = run.spark
    val input = run.opts.input
    val path = Engine.eventsPath(input)
    val stmts = run.w.get("sql").asScala.map(n => Stmt(n.get("shape").asText,
      n.get("sql").asText.replace("{view}", "ev"), n.get("expect"))).toIndexedSeq
    val shapes = stmts.map(_.shape).distinct.size
    val warmup = run.w.get("sql_warmup").asScala.map(_.get("sql").asText.replace("{view}", "ev"))

    def setUp(dir: String): Map[String, Double] = {
      val build = mutable.LinkedHashMap.empty[String, Double]
      val df = Engine.events(spark, dir)
      df.createOrReplaceTempView("ev")
      if (registered) Engine.registrations(spark, Engine.eventsPath(dir), df).foreach {
        case (fam, call) =>
          val t = System.nanoTime()
          call()
          build(fam) = secs(t)
      } else Engine.enableRewrite(spark)
      build.toMap
    }
    val rounds = (1 to (if (registered) SetupRounds else CheapSetupRounds)).map { _ =>
      Engine.clear()
      val t0 = System.nanoTime()
      val build = setUp(input)
      (secs(t0), build)
    }
    val (setupRoundS, build) = medianRound(rounds)
    run.info("setup_rounds_s") = rounds.map(_._1)
    run.mark("setup")
    // JVM warm-up on statements that are not in the measured stream: two
    // rounds where statements fold, one where each scans the whole table
    warmup.take(if (registered) warmup.size else shapes).foreach(spark.sql(_).collect())

    def exec(s: Stmt, tr: Option[Tracer]): (DataFrame, Array[Row]) = tr match {
      case None =>
        val df = spark.sql(s.sql)
        (df, df.collect())
      case Some(t) => t.op("sql") {
        val df = t.span("analyze")(spark.sql(s.sql))
        t.span("optimize")(df.queryExecution.optimizedPlan)
        t.span("physical")(df.queryExecution.executedPlan)
        (df, t.span("exec")(df.collect()))
      }
    }
    var next = 0
    def step(tr: Option[Tracer], w: Window): Boolean = {
      val s = stmts(next % stmts.size)
      next += 1
      val t0 = System.nanoTime()
      val (df, rows) = exec(s, tr)
      w.add(s.shape, ms(t0), folded(df))
      run.checked(s"${s.shape} `${s.sql}`")(checkSql(run, s, rows))
      true
    }
    // the statement stream is a sequence of rounds, each holding one
    // statement of every shape
    val (plain, traced) = windows(run, () => next % shapes == 0)(step)

    endToEnd(run, setupRoundS, plain)
    val bytes = Engine.registeredBytes(path)
    run.put("index_mb", bytes.values.sum / 1048576.0, "MB")
    traced.foreach { case (tw, tr, fin) =>
      sparkLayers(run, "sql", plain, tw, tr, fin)
      build.foreach { case (f, s) => putLayer(run, s"wheel.build_s.$f", s) }
      bytes.foreach { case (f, b) => putLayer(run, s"wheel.index_bytes.$f", b.toDouble) }
      if (registered) {
        // a warm re-registration: the build-once caches should serve it
        val t = new Tracer(spark)
        val t0 = System.nanoTime()
        Engine.registrations(spark, path, spark.table("ev")).foreach { case (_, call) =>
          t.span("register")(call())
        }
        putLayer(run, "catalog.register_ms", ms(t0))
        putLayer(run, "catalog.register_jobs", t.finish().count("register", "jobs").toDouble)
      }
    }
  }

  /** Grouped rows `(key, sum, count)` against the expected
    * `[[key, sum, count], ...]`, in any order. */
  private def compareGroups(run: Run, rows: Array[Row], key: Row => String,
      expected: JsonNode): Option[String] = {
    val got = rows.map(r => key(r) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val want = expected.asScala
      .map(g => g.get(0).asText -> ((g.get(1).asDouble, g.get(2).asLong))).toMap
    if (rows.length != got.size) Some(s"${rows.length - got.size} duplicate groups")
    else if (got.keySet != want.keySet)
      Some(s"groups differ: ${(got.keySet diff want.keySet).take(3)} extra, " +
        s"${(want.keySet diff got.keySet).take(3)} missing")
    else want.collectFirst {
      case (k, (s, n)) if got(k)._2 != n || !near(got(k)._1, s, run.rel) =>
        s"group $k: got ${got(k)}, want ($s, $n)"
    }
  }

  def checkSql(run: Run, s: Stmt, rows: Array[Row]): Option[String] = {
    val e = s.expect
    s.shape match {
      case "sum_aligned" | "sum_unaligned" =>
        val r = rows.head
        val n = e.get("n").asLong
        if (r.getLong(1) != n) Some(s"count ${r.getLong(1)} != $n")
        else if (n > 0 && !near(r.getDouble(0), e.get("s").asDouble, run.rel))
          Some(s"sum ${r.getDouble(0)} != ${e.get("s").asDouble}")
        else if (n > 0 && !near(r.getDouble(2), e.get("a").asDouble, run.rel))
          Some(s"avg ${r.getDouble(2)} != ${e.get("a").asDouble}")
        else None
      case "by_hour" =>
        compareGroups(run, rows, _.getLong(0).toString, e)
      case "by_type" =>
        compareGroups(run, rows, _.getString(0), e)
      case "sliding" =>
        compareGroups(run, rows, _.getStruct(0).getTimestamp(0).getTime.toString, e)
      case "distinct" =>
        val d = rows.head.getLong(0)
        val exact = e.asLong
        val bound = run.tol.get("distinct_rel").asDouble * exact
        if (math.abs(d - exact) <= bound) None else Some(s"distinct $d vs exact $exact")
      case "quantile" =>
        val p = rows.head.getDouble(0)
        val (lo, hi) = (e.get("lo").asDouble, e.get("hi").asDouble)
        if (p >= lo && p <= hi) None else Some(s"quantile $p outside [$lo, $hi]")
    }
  }

  // ---- ingest_mixed ----------------------------------------------------

  def ingest(run: Run): Unit = {
    val spark = run.spark
    val input = run.opts.input
    val ing = run.w.get("ingest")
    val lateness = ing.get("lateness_ms").asLong
    val batches = spark.read.parquet(s"$input/ingest/batches.parquet")
      .select("batch", "event_id", "ts", "user_id", "event_type", "value").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getString(4),
        r.getDouble(5))).toSeq)
      .toIndexedSeq
    val reads = ing.get("reads")

    type Live = (MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)],
      StreamingQuery, String)
    /** Starts the ingest over a fresh copy of the history: (seconds, live). */
    def start(round: String): (Double, Live) = {
      val dir = s"${run.opts.work}/ingest-$round"
      val table = s"$dir/table"
      Files.createDirectories(Paths.get(table))
      Files.copy(Paths.get(s"$input/ingest/history/part-00000.parquet"),
        Paths.get(s"$table/part-00000.parquet"))
      val mem = memoryStream(spark)
      val t0 = System.nanoTime()
      val q = Engine.startIngest(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        table, s"$dir/checkpoint", lateness)
      (secs(t0), (mem, q, table))
    }
    // JVM warm-up: one start before the timed rounds, so that they measure
    // the start's work rather than class loading and JIT
    start("warmup")._2._2.stop()
    var live: Live = null
    val rounds = (1 to CheapSetupRounds).map { r =>
      val (s, l) = start(r.toString)
      if (r < CheapSetupRounds) l._2.stop() else live = l
      s
    }
    val (mem, query, table) = live
    run.info("setup_rounds_s") = rounds
    run.mark("setup")

    var k = 0
    def read(sql: String, tr: Option[Tracer]): (DataFrame, Array[Row]) = tr match {
      case None =>
        spark.read.parquet(table).createOrReplaceTempView("live")
        val df = spark.sql(sql)
        (df, df.collect())
      case Some(t) => t.op("read") {
        t.span("resolve")(spark.read.parquet(table).createOrReplaceTempView("live"))
        val df = t.span("analyze")(spark.sql(sql))
        t.span("optimize")(df.queryExecution.optimizedPlan)
        t.span("physical")(df.queryExecution.executedPlan)
        (df, t.span("exec")(df.collect()))
      }
    }
    def step(tr: Option[Tracer], w: Window): Boolean = k < batches.size && {
      val (merged0, late0) = Engine.ingestCounts(table)
      val tAdd = System.nanoTime()
      def add(): Unit = { mem.addData(batches(k)); query.processAllAvailable() }
      tr.fold(add())(_.span("batch")(add()))
      w.batchMs += ms(tAdd)
      w.rowsIn += batches(k).size
      reads.get(k).asScala.zipWithIndex.foreach { case (rd, j) =>
        val (a, b) = (rd.get("a").asLong, rd.get("b").asLong)
        val sql = "SELECT SUM(value) AS s, COUNT(*) AS n FROM live " +
          s"WHERE unix_millis(ts) >= $a AND unix_millis(ts) < $b"
        val t0 = System.nanoTime()
        val (df, rows) = read(sql, tr)
        w.add(s"read$j", ms(t0), folded(df))
        if (j == 0) w.freshMs += ms(tAdd)
        run.checked(s"batch $k read [$a, $b)") {
          val (s, n) = (rd.get("s").asDouble, rd.get("n").asLong)
          val r = rows.head
          if (r.getLong(1) != n) Some(s"count ${r.getLong(1)} != $n")
          else if (!near(r.getDouble(0), s, run.rel)) Some(s"sum ${r.getDouble(0)} != $s")
          else None
        }
      }
      val (merged1, late1) = Engine.ingestCounts(table)
      w.merged += merged1 - merged0
      w.late += late1 - late0
      k += 1
      true
    }
    val warm = new Window
    while (k < 2) step(None, warm)
    val (plain, traced) = windows(run)(step)
    run.put("ingest_rows_per_s", plain.rowsIn / plain.elapsedS, "1/s")
    run.put("freshness_p50_ms", median(plain.freshMs.toSeq), "ms")
    val doneBatches = k
    query.stop()
    endToEnd(run, medianRound(rounds.map(_ -> ()))._1, plain)
    run.info("batches") = doneBatches
    run.info("last_bail_reason") = Engine.lastBailReason(table)
    traced.foreach { case (tw, tr, fin) =>
      sparkLayers(run, "read", plain, tw, tr, fin)
      val batches = math.max(tw.batchMs.size, 1).toDouble
      putLayer(run, "ingest.batch_ms", median(tw.batchMs.toSeq))
      putLayer(run, "ingest.rows", tw.merged / batches)
      putLayer(run, "ingest.late_rows", tw.late / batches)
      putLayer(run, "ingest.fold_frac", tw.folds / math.max(tw.lat.size, 1).toDouble)
    }
  }

  // ---- index_combine ---------------------------------------------------

  final case class IndexOp(fam: String, a: Long, b: Long, expect: JsonNode)

  def index(run: Run): Unit = {
    val spark = run.spark
    val ops = run.w.get("index").asScala.map(n => IndexOp(n.get("fam").asText,
      n.get("a").asLong, n.get("b").asLong, n.get("expect"))).toIndexedSeq

    def setUp(dir: String): (Engine.Wheels, Map[String, Double]) = {
      val build = mutable.LinkedHashMap.empty[String, Double]
      val wheels = Engine.buildWheels(Engine.events(spark, dir), new Engine.BuildTimer {
        def apply[T](family: String)(b: => T): T = {
          val t = System.nanoTime()
          val r = b
          build(family) = secs(t)
          r
        }
      })
      (wheels, build.toMap)
    }
    var wheels: Engine.Wheels = null
    val rounds = (1 to SetupRounds).map { _ =>
      wheels = null
      val t0 = System.nanoTime()
      val (w, build) = setUp(run.opts.input)
      wheels = w
      (secs(t0), build)
    }
    val (setupRoundS, build) = medianRound(rounds)
    run.info("setup_rounds_s") = rounds.map(_._1)
    run.mark("setup")
    val w = wheels

    var next = 0
    def call(op: IndexOp): Any = op.fam match {
      case "sum" => Engine.querySum(w, op.a, op.b)
      case "all" => Engine.queryAll(w, op.a, op.b)
      case "distinct" => Engine.queryDistinct(w, op.a, op.b)
      case "quantile" => Engine.queryQuantile(w, op.a, op.b, op.expect.get("q").asDouble)
      case "topk" => Engine.topK(w, op.a, op.b, 10)
    }
    def step(tr: Option[Tracer], win: Window): Boolean = {
      val op = ops(next % ops.size)
      next += 1
      val t0 = System.nanoTime()
      // traced: one span per call, named after its family's combine
      val res = tr.fold(call(op))(t => t.op("index")(t.span(s"combine.${op.fam}")(call(op))))
      win.add(op.fam, ms(t0))
      run.checked(s"${op.fam} [${op.a}, ${op.b})")(checkIndex(run, op, res))
      true
    }
    val families = ops.map(_.fam).distinct.size
    // the calls are microseconds each: warm up long enough for the JIT to
    // settle on compiled code for every family's combine
    measure(WarmupSeconds, () => next % families == 0)(step(None, _))
    val (plain, traced) = windows(run, () => next % families == 0, sparkCounters = false)(step)

    endToEnd(run, setupRoundS, plain)
    run.put("index_mb", w.bytes.values.sum / 1048576.0, "MB")
    traced.foreach { case (tw, tr, _) =>
      // the combine spans' own durations, per family
      val byFam = tr.spans.filter(_.parent.contains("index")).groupBy(_.name.stripPrefix("combine."))
        .map { case (f, ss) => f -> ss.map(_.ms * 1000).toSeq }
      val (_, wallMs, attributed) = tr.layerTimes("index")
      Layers.foreach { case (n, _) => putLayer(run, n, 0.0) }
      build.foreach { case (f, s) => putLayer(run, s"wheel.build_s.$f", s) }
      w.bytes.foreach { case (f, b) => putLayer(run, s"wheel.index_bytes.$f", b.toDouble) }
      byFam.foreach { case (f, us) => putLayer(run, s"wheel.combine_us.$f", median(us)) }
      putLayer(run, "jvm.gc_ms", tw.gcMs.toDouble)
      putLayer(run, "trace.overhead_ms", tw.p50 - plain.p50)
      putLayer(run, "trace.attributed_frac", attributed)
      run.traceDoc = Some(Map(
        "combine_us_p50" -> byFam.map { case (f, us) => f -> median(us) },
        "combine_us_p90" -> byFam.map { case (f, us) => f -> percentile(us, 0.9) },
        "ops" -> tr.opCount("index"),
        "op_wall_ms" -> wallMs,
        "attributed_frac" -> attributed,
        "untraced_p50_ms" -> plain.p50, "traced_p50_ms" -> tw.p50,
        "overhead_ms" -> (tw.p50 - plain.p50)))
    }
  }

  def checkIndex(run: Run, op: IndexOp, res: Any): Option[String] = {
    val e = op.expect
    (op.fam, res) match {
      case ("sum", s: Double) =>
        if (near(s, e.get("s").asDouble, run.rel)) None else Some(s"sum $s != ${e.get("s")}")
      case ("all", (s: Double, n: Long, mn: Double, mx: Double)) =>
        if (n != e.get("n").asLong) Some(s"count $n != ${e.get("n")}")
        else if (!near(s, e.get("s").asDouble, run.rel)) Some(s"sum $s != ${e.get("s")}")
        else if (mn != e.get("min").asDouble || mx != e.get("max").asDouble)
          Some(s"min/max ($mn, $mx) != (${e.get("min")}, ${e.get("max")})")
        else None
      case ("distinct", d: Double) =>
        val exact = e.asLong
        if (math.abs(d - exact) <= run.tol.get("hll_rel").asDouble * exact) None
        else Some(s"distinct $d vs exact $exact")
      case ("quantile", q: Double) =>
        val (lo, hi) = (e.get("lo").asDouble, e.get("hi").asDouble)
        if (q >= lo && q <= hi) None else Some(s"quantile $q outside [$lo, $hi]")
      case ("topk", top: Seq[_]) =>
        val items = top.asInstanceOf[Seq[(Long, Long, Long, Long)]]
        val counts = e.get("counts")
        val top1 = e.get("top1").asLong
        items.headOption match {
          case None => Some("empty top-k")
          case Some(_) if !items.exists(_._1 == top1) => Some(s"true top user $top1 missing")
          case Some((key, _, lb, ub)) =>
            Option(counts.get(key.toString)).map(_.asLong) match {
              case Some(c) if c >= lb && c <= ub => None
              case other => Some(s"top key $key count $other outside [$lb, $ub]")
            }
        }
      case (f, r) => Some(s"unexpected $f result $r")
    }
  }
}
