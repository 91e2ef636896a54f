package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.plans.WheelAcceleration
import graft.queries.Q
import graft.streaming.WheelIngest
import graft.wheel.{DistinctWheel, FrequencyWheel, QuantileWheel, WheelCatalog, WheelIndex}

/** Every call the benchmark makes into the engine, in one place, so a
  * change to the engine's public surface (registration API, ingest entry
  * point, wheel families) is absorbed here and nowhere else. */
object Engine {

  /** The `events` table exactly as the engine's own queries read it. */
  def events(spark: SparkSession, dir: String): DataFrame = Q.t(spark, dir, "events")

  def eventsPath(dir: String): String = s"$dir/events.parquet"

  /** Installs the rewrite rule with nothing registered: every statement
    * then pays the rule's bail check and scans. */
  def enableRewrite(spark: SparkSession): Unit = WheelAcceleration.enable(spark)

  /** The wheel_sql registrations, one call per family so each can be
    * timed on its own: (family, call). */
  def registrations(spark: SparkSession, path: String, df: => DataFrame)
      : Seq[(String, () => Unit)] = Seq(
    "sum" -> (() => { WheelAcceleration.register(spark, path, df); () }),
    "keyed" -> (() => { WheelAcceleration.registerKeyed(spark, path, df, "event_type"); () }),
    "distinct" -> (() =>
      WheelAcceleration.registerSketches(spark, path, df, distinctCols = Seq("user_id"))),
    "quantile" -> (() =>
      WheelAcceleration.registerSketches(spark, path, df, quantileCols = Seq("value"))))

  /** Size in bytes of each registered wheel family the engine exposes
    * (the sketch registrations expose no size). */
  def registeredBytes(path: String): Map[String, Long] =
    WheelAcceleration.registeredWheels(path).map(w => "sum" -> w._2.values.map(_.sizeBytes).sum).toMap ++
      WheelAcceleration.registeredKeyedWheels(path).map(w => "keyed" -> w._3.values.map(_.sizeBytes).sum)

  /** Why the rewrite last declined a statement over `path`, if it did. */
  def lastBailReason(path: String): Option[String] = WheelAcceleration.lastBailReason(path)

  /** Drops every registration and build-once cache, so the next setup
    * round builds from scratch. */
  def clear(): Unit = {
    WheelAcceleration.clear()
    WheelCatalog.clear()
  }

  def startIngest(stream: DataFrame, path: String, checkpoint: String,
      latenessMs: Long): StreamingQuery =
    WheelIngest.start(stream, path, checkpoint, latenessHorizonMs = Some(latenessMs))

  /** (rows, late rows) the ingest has merged so far. */
  def ingestCounts(path: String): (Long, Long) =
    WheelIngest.ingestStats(path).map(s => (s.rows, s.lateRows)).getOrElse((0L, 0L))

  /** The wheel families, built directly, for index_combine. */
  final class Wheels(val sum: WheelIndex, val distinct: DistinctWheel,
      val quantile: QuantileWheel, val frequency: FrequencyWheel) {
    def bytes: Map[String, Long] = Map("sum" -> sum.sizeBytes,
      "distinct" -> distinct.sizeBytes, "quantile" -> quantile.sizeBytes,
      "frequency" -> frequency.sizeBytes)
  }

  /** Times one family's build. */
  trait BuildTimer { def apply[T](family: String)(build: => T): T }

  def buildWheels(df: DataFrame, timed: BuildTimer): Wheels = new Wheels(
    timed("sum")(WheelIndex.build(df, "ts", "value")),
    timed("distinct")(DistinctWheel.build(df, "ts", "user_id")),
    timed("quantile")(QuantileWheel.build(df, "ts", "value")),
    timed("frequency")(FrequencyWheel.build(df, "ts", "user_id")))

  def querySum(w: Wheels, a: Long, b: Long): Double = w.sum.querySum(a, b)
  /** (sum, count, min, max) */
  def queryAll(w: Wheels, a: Long, b: Long): (Double, Long, Double, Double) = {
    val r = w.sum.query(a, b)
    (r.sum, r.count, r.min, r.max)
  }
  def queryDistinct(w: Wheels, a: Long, b: Long): Double = w.distinct.queryDistinct(a, b)
  def queryQuantile(w: Wheels, a: Long, b: Long, q: Double): Double =
    w.quantile.queryQuantile(a, b, q)
  /** (key, estimate, lower bound, upper bound), heaviest first */
  def topK(w: Wheels, a: Long, b: Long, k: Int): Seq[(Long, Long, Long, Long)] =
    w.frequency.topK(a, b, k)
}
