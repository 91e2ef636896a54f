package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Spans and counters for the traced run, recorded from the harness's
  * side of each layer boundary.
  *
  * An operation is one `op` span whose children are the layers it passed
  * through, in order (`resolve`, `analyze`, `optimize`, `physical`,
  * `exec`; `register` and `batch` stand alone). Spans share their
  * operation's id, stay in memory and are written once at the end.
  *
  * Spark work is attributed to the layer that submitted it through a
  * thread-local job property: the listener maps each job's stages to the
  * layer open when the job started, and each finished task to its
  * stage's layer. Jobs submitted outside a span (untraced operations, and
  * threads the harness does not own, such as the streaming sink) land in
  * `other`.
  *
  * The process-wide counters (generated-code compilations and the rewrite
  * rule's time) are read at each `resume` and `pause` and only the
  * stretches between count, so untraced operations in between are left
  * out. A Tracer starts paused. With `sparkCounters` false they are not
  * read at all, for operations that run no Spark code. */
final class Tracer(spark: SparkSession, sparkCounters: Boolean = true) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = 0L
  private var openOp: Option[String] = None

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()
  private def countsOf(layer: String) = counts.computeIfAbsent(layer, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val layer = Option(j.properties).flatMap(p => Option(p.getProperty(LayerKey)))
        .getOrElse("other")
      j.stageIds.foreach(stageLayer.put(_, layer))
      val c = countsOf(layer)
      c.synchronized(c.jobs += 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageLayer.getOrDefault(t.stageId, "other"))
      val m = t.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        }
      }
    }
  }

  private var resumed: Option[(Long, Double, Long)] = None
  private var compiles, ruleTotalNs = 0L
  private var compileMs = 0.0
  private var compileMsExact = true
  private var compilesInJvm = 0L
  sc.addSparkListener(listener)

  def resume(): Unit = if (sparkCounters && resumed.isEmpty) {
    val (n, ms, _) = codegenSnapshot()
    resumed = Some((n, ms, ruleNs(RewriteRule)))
  }

  def pause(): Unit = resumed.foreach { case (n0, ms0, rule0) =>
    val (n1, ms1, exact) = codegenSnapshot()
    compiles += n1 - n0
    compileMs += ms1 - ms0
    compileMsExact &&= exact
    compilesInJvm = n1
    ruleTotalNs += ruleNs(RewriteRule) - rule0
    resumed = None
  }

  /** One operation: `body` opens its layer spans through `span`. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    openOp = Some(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(opId, name, None, t0, System.nanoTime())
      openOp = None
    }
  }

  /** A layer span; a child of the open operation, if any. */
  def span[T](layer: String)(body: => T): T = {
    sc.setLocalProperty(LayerKey, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(opId, layer, openOp, t0, System.nanoTime())
      sc.setLocalProperty(LayerKey, null)
    }
  }

  /** Stops recording and returns the counts of the resumed stretches. */
  def finish(): Finished = {
    pause()
    quiesce()
    sc.removeSparkListener(listener)
    Finished(counts.asScala.map { case (k, v) => k -> v.toMap }.toMap,
      compiles, compileMs, compileMsExact, compilesInJvm, ruleTotalNs / 1e6)
  }

  /** Per operation name: mean self time of each child layer (ms), the
    * mean operation wall time, and the share of it the layers cover. */
  def layerTimes(opName: String): (Map[String, Double], Double, Double) = {
    val ops = spans.filter(s => s.parent.isEmpty && s.name == opName)
    val ids = ops.map(_.op).toSet
    val children = spans.filter(s => s.parent.contains(opName) && ids(s.op))
    val n = math.max(ops.size, 1)
    val perLayer = children.groupBy(_.name).map { case (k, v) => k -> v.map(_.ms).sum / n }
    val wall = ops.map(_.ms).sum
    (perLayer, wall / n, if (wall > 0) children.map(_.ms).sum / wall else 0.0)
  }

  def opCount(opName: String): Int = spans.count(s => s.parent.isEmpty && s.name == opName)

  /** Waits until the asynchronous listener bus has delivered the events
    * of the actions already finished: the task count read stable three
    * times 50 ms apart (5 s cap). */
  private def quiesce(): Unit = {
    def tasks = counts.values.asScala.map(c => c.synchronized(c.tasks)).sum
    var last = -1L
    var stable = 0
    var polls = 0
    while (stable < 3 && polls < 100) {
      Thread.sleep(50)
      val now = tasks
      if (now == last) stable += 1 else stable = 0
      last = now
      polls += 1
    }
  }
}

object Tracer {
  val LayerKey = "graftbench.layer"
  val RewriteRule = "WheelSumRewrite"

  final case class Span(op: Long, name: String, parent: Option[String],
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class Counts {
    var jobs, tasks, cpuNs, inputBytes, inputRows, shuffleRecords = 0L
    def toMap: Map[String, Long] = Map("jobs" -> jobs, "tasks" -> tasks,
      "task_cpu_ns" -> cpuNs, "input_bytes" -> inputBytes,
      "input_rows" -> inputRows, "shuffle_records" -> shuffleRecords)
  }

  /** `codegenMsExact` is false when the compile-time histogram had
    * dropped samples by the end of a stretch, so that `codegenMs` is an
    * estimate. */
  final case class Finished(counts: Map[String, Map[String, Long]],
      codegenCompiles: Long, codegenMs: Double, codegenMsExact: Boolean,
      codegenCompilesInJvm: Long, rewriteMs: Double) {
    def count(layer: String, key: String): Long =
      counts.get(layer).flatMap(_.get(key)).getOrElse(0L)
  }

  /** (compilations so far in this JVM, total compile ms so far, whether
    * that total is exact). Spark records each compilation in whole
    * milliseconds in a histogram whose reservoir keeps every sample until
    * it holds 1,028; past that it keeps a recency-weighted sample, and the
    * total is estimated as its mean times the count. */
  private def codegenSnapshot(): (Long, Double, Boolean) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val values = h.getSnapshot.getValues
    val n = h.getCount
    val sum = values.map(_.toDouble).sum
    val exact = values.length >= n
    (n, if (exact || values.isEmpty) sum else sum / values.length * n, exact)
  }

  private val RuleLine = """\s(\d+)\s*/\s*(\d+)\s""".r

  /** Total nanoseconds the optimizer has spent in the named rule, from
    * Catalyst's own rule metering. */
  private def ruleNs(rule: String): Long =
    RuleExecutor.dumpTimeSpent().linesIterator
      .filter(_.contains(s".$rule"))
      .flatMap(l => RuleLine.findFirstMatchIn(l + " ").map(_.group(2).toLong))
      .sum
}
