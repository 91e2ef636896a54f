package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The benchmark harness: one workload, one seed, one process.
  *
  * {{{ Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --input <generated dir> --out <results.json> --work <scratch dir> }}}
  *
  * Spark runs on `local[N]` with N = the available cores and N shuffle
  * partitions; one closed-loop client thread issues every operation and
  * checks every answer against the generator's expected values.
  *
  * With `--trace 0` the whole measuring window is untraced and the
  * end-to-end metrics come from it. With `--trace 1` whole rounds of the
  * operation stream go to an untraced and a traced window in turn; the
  * per-layer metrics come from the traced rounds and the tracing
  * overhead is the difference of the two windows' median latencies. */
object Harness {
  /** Set-up rounds per run: 3 where a round builds the wheels over the
    * whole table (seconds each), 5 where it takes under a second. The
    * first round runs in a cold JVM; the reported one is the median,
    * which leaves the cold round out whenever it is the slowest. */
  val SetupRounds = 3
  val CheapSetupRounds = 5

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m("trace") == "1"
    val input: String = m("input")
    val out: String = m("out")
    val work: String = m("work")
  }

  /** Everything one run measures and checks. */
  final class Run(val opts: Opts, val spark: SparkSession, val w: JsonNode) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var traceDoc: Option[Map[String, Any]] = None

    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    /** Seconds since JVM start at each named phase boundary. */
    private val phases = mutable.LinkedHashMap.empty[String, Double]
    info("phases_s") = phases
    def mark(phase: String): Unit = phases(phase) =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    /** Records one checked operation; a thrown error or a wrong answer
      * is a failure. */
    def checked(what: => String)(verdict: => Option[String]): Unit = {
      attempted += 1
      val v = try verdict catch { case e: Throwable => Some(s"error: $e") }
      v.foreach { msg =>
        failed += 1
        if (failures.size < 20) failures += s"$what: $msg"
      }
    }

    val tol: JsonNode = w.get("tolerance")
    def rel: Double = tol.get("rel").asDouble
  }

  def main(args: Array[String]): Unit = {
    val opts = new Opts(args)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    // the inputs are generated while the JVM and the session start
    val inputs = Paths.get(s"${opts.input}/workload.json")
    while (!Files.exists(inputs)) Thread.sleep(20)
    val run = new Run(opts, spark, Json.read(inputs.toString))
    run.mark("session")
    run.info ++= Seq("workload" -> opts.workload, "seed" -> opts.seed,
      "trace" -> opts.trace, "cores" -> cores, "shuffle_partitions" -> cores,
      "client_threads" -> 1, "rows" -> run.w.get("rows").asLong,
      "skew" -> run.w.get("skew").toString, "session_start_s" -> sessionS)
    try opts.workload match {
      case "wheel_sql" => Workloads.sql(run, registered = true)
      case "scan_sql" => Workloads.sql(run, registered = false)
      case "ingest_mixed" => Workloads.ingest(run)
      case "index_combine" => Workloads.index(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      run.mark("measured")
      spark.streams.active.foreach(_.stop())
      spark.stop()
      run.mark("stopped")
    }
    val doc = Map(
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "metrics" -> run.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> run.info)
    Files.write(Paths.get(opts.out), Json.write(doc).getBytes("UTF-8"))
    run.traceDoc.foreach(t =>
      Files.write(Paths.get(opts.out.stripSuffix(".json") + ".trace.json"),
        Json.write(t).getBytes("UTF-8")))
    sys.exit(0)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapMbAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A statement's plan folded when the optimizer replaced the scan, in
    * whole or except for bounded edge scans, with wheel constants. */
  def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[LocalRelation])

  def near(x: Double, e: Double, rel: Double): Boolean =
    math.abs(x - e) <= rel * math.max(1.0, math.abs(e))

  def memoryStream(spark: SparkSession) = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
  }
}
