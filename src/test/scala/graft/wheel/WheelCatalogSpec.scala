package graft.wheel

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one build-once cache behind every wheel family: single-flight
  * builds per key, no cross-key blocking, no cached failures, re-entrant
  * builds, family-tagged keys, session sweeping and the persisted-dir
  * generation rules. */
class WheelCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh key prefix per test, so entries never collide across tests. */
  private def fresh(name: String) = s"catalog-spec/$name/${java.util.UUID.randomUUID}"

  test("N concurrent callers of one key see exactly one build") {
    val key = fresh("single-flight")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        WheelCatalog.getOrBuild(spark, "test", key) {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      })
      start.countDown()
      val results = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1)
      assert(results.count(_._2) == 1, "exactly one caller reports the build")
      assert(results.map(_._1).distinct.size == 1, "every caller gets the one value")
    } finally pool.shutdownNow()
  }

  test("a slow build on key A does not block key B") {
    val (a, b) = (fresh("slow-a"), fresh("fast-b"))
    val aStarted = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // A's build only finishes once B has been served (or gives up)
      val slowA = Future(WheelCatalog.cached(spark, "test", a) {
        aStarted.countDown()
        Boolean.box(bDone.await(20, TimeUnit.SECONDS))
      })
      assert(aStarted.await(20, TimeUnit.SECONDS))
      WheelCatalog.cached(spark, "test", b)("b")
      bDone.countDown()
      assert(Await.result(slowA, 30.seconds).booleanValue,
        "B was served while A's build was still running")
    } finally pool.shutdownNow()
  }

  test("a failed build is not cached: the next caller builds again") {
    val key = fresh("failure")
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      WheelCatalog.cached[String](spark, "test", key) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    val (v, built) = WheelCatalog.getOrBuild(spark, "test", key) {
      builds.incrementAndGet()
      "ok"
    }
    assert(v == "ok" && built && builds.get == 2)
    assert(!WheelCatalog.getOrBuild(spark, "test", key)("again")._2)
  }

  test("a build that calls back into the catalog for another key completes") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    val v = WheelCatalog.cached(spark, "test", outer) {
      WheelCatalog.cached(spark, "test", inner)("inner") + "+outer"
    }
    assert(v == "inner+outer")
    assert(!WheelCatalog.getOrBuild(spark, "test", inner)("rebuilt")._2)
    assert(!WheelCatalog.getOrBuild(spark, "test", outer)("rebuilt")._2)
  }

  test("the family tag keeps two wheels over the same (source, ts, col) apart") {
    import spark.implicits._
    val key = fresh("families")
    val df = (0 until 30).map(i =>
      (new java.sql.Timestamp(graft.queries.Q.Jan1 + i * 60000L), i.toDouble, (i % 4).toLong))
      .toDF("ts", "value", "user_id")
    val (cohort, cohortBuilt) = WheelCatalog.getOrBuild(spark, "cohort", key, "ts", "user_id")(
      CohortWheel.build(df, "ts", "user_id"))
    val (freq, freqBuilt) = WheelCatalog.getOrBuild(spark, "frequency", key, "ts", "user_id")(
      FrequencyWheel.build(df, "ts", "user_id"))
    assert(cohortBuilt && freqBuilt, "the second family built its own wheel")
    val (a, b) = (graft.queries.Q.Jan1, graft.queries.Q.Jan1 + 30 * 60000L)
    assert(cohort.rangeSketch(a, b).getEstimate == 4.0)
    assert(freq.topK(a, b, 4).map(_._2).sum == 30L)
    assert(WheelCatalog.cached(spark, "cohort", key, "ts", "user_id")(
      CohortWheel.build(df, "ts", "user_id")) eq cohort)
  }

  test("cachedDirLoad evicts superseded generations and never caches an unfingerprinted dir") {
    val dir = fresh("dir")
    val loads = new AtomicInteger()
    def meta(slots: String, fp: String) = PersistentWheel.Meta(3, PersistentWheel.SumKind,
      "ts", Seq("value"), "src-fp", "", fp, slots)
    def load(m: PersistentWheel.Meta) =
      WheelCatalog.cachedDirLoad(spark, dir, m, "spec") { loads.incrementAndGet(); new Object }
    val gen1 = meta("slots-1.parquet", "fp1")
    val gen2 = meta("slots-2.parquet", "fp2")
    val first = load(gen1)
    assert(load(gen1) eq first, "one payload generation loads once")
    val before = WheelCatalog.size
    load(gen2)
    assert(loads.get == 2)
    assert(WheelCatalog.size == before, "the superseded generation was evicted")
    load(gen1)
    assert(loads.get == 3, "an evicted generation loads again")

    val legacy = meta("slots.parquet", "")
    val size = WheelCatalog.size
    load(legacy); load(legacy)
    assert(loads.get == 5, "a dir without a payload fingerprint loads every time")
    assert(WheelCatalog.size == size)
  }

  test("a stopped session's entries are swept") {
    // stopping a SparkContext ends it for the whole JVM, so the probe
    // runs in its own JVM with its own local session
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin, "-Xmx512m") ++ jvmArgs ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.wheel.WheelCatalogSweepProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(120, TimeUnit.SECONDS), out)
    assert(out.linesIterator.contains("entries before stop: 2, after stop: 0"), out)
  }
}

/** Caches two entries on a local session, stops it, and prints the
  * catalog's size before and after the stop. */
object WheelCatalogSweepProbe {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("catalog-sweep-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    WheelCatalog.cached(spark, "probe", "a")("a")
    WheelCatalog.cached(spark, "probe", "b")("b")
    val before = WheelCatalog.size
    spark.stop()
    println(s"entries before stop: $before, after stop: ${WheelCatalog.size}")
  }
}
