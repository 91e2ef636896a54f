package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.wheel.AllAggregate

/** The µWheel aggregator framework re-expressed as Spark's typed
  * `Aggregator[IN, BUF, OUT]` typeclass (SURVEY.md §2.2): µWheel's
  * lift/combine/lower with an identity element maps 1:1 onto
  * zero/reduce+merge/finish. Only `F64SumAggregator` is exercised by the
  * reference (/root/reference/src/main.rs:15); the shipped family
  * (Sum/Min/Max/Avg/All/TopN) is the capability surface, reproduced here:
  * sum/min/max/avg/count are Spark built-ins, `All` and `TopN` below.
  *
  * Registered via `functions.udaf` — they run as real partial/final
  * `ObjectHashAggregate` with map-side combine, so the shuffle moves one
  * buffer per group per partition, not rows; the same merge-partials
  * contract that makes the wheel build scale (SURVEY.md §4.3).
  */
object Aggregators {

  /** µWheel's composite `All` aggregator: one pass, one buffer →
    * sum/count/min/max/avg/stddev (the buffer carries the second moment
    * since round 10, so population stddev lowers for free). */
  final case class AllOut(sum_v: Double, cnt: Long, min_v: Double,
      max_v: Double, avg_v: Double, sd_pop: Double)

  val allAgg: Aggregator[Double, AllAggregate, AllOut] =
    new Aggregator[Double, AllAggregate, AllOut] {
      override def zero: AllAggregate = AllAggregate.identity
      override def reduce(b: AllAggregate, v: Double): AllAggregate =
        b.combine(AllAggregate.lift(v))
      override def merge(a: AllAggregate, b: AllAggregate): AllAggregate =
        a.combine(b)
      override def finish(r: AllAggregate): AllOut =
        AllOut(r.sum, r.count, r.min, r.max, r.avg, r.stddevPop)
      override def bufferEncoder: Encoder[AllAggregate] = Encoders.product
      override def outputEncoder: Encoder[AllOut] = Encoders.product
    }

  /** µWheel's `TopN`: bounded top-`n` values per group, descending. The
    * buffer is a ≤n sorted vector, so combine is O(n) and the partial
    * shuffled per group is bounded by config, not data — the same
    * bounded-heap semantics as uwheel's TopN aggregator. */
  final case class TopN(n: Int) extends Aggregator[Double, Seq[Double], Seq[Double]] {
    override def zero: Seq[Double] = Vector.empty
    override def reduce(b: Seq[Double], v: Double): Seq[Double] = trim(b :+ v)
    override def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] = trim(a ++ b)
    override def finish(r: Seq[Double]): Seq[Double] = r
    private def trim(xs: Seq[Double]): Seq[Double] =
      xs.sorted(Ordering[Double].reverse).take(n)
    override def bufferEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = bufferEncoder
  }

  /** Bounded id-collect for LSH bucket materialization: the buffer keeps
    * at most `cap + 1` ids, so a pathological mega-bucket (e.g. a million
    * identical boilerplate docs hashing to one band key — common in crawl
    * data) costs O(cap) memory instead of OOMing the aggregation buffer.
    * A result of length `cap + 1` is the overflow marker: the bucket had
    * MORE than `cap` members and downstream pair-emission drops it (the
    * standard oversized-bucket guard), without ever materializing it.
    * Partial buffers are capped too, so per-group shuffled state is
    * ≤ cap+1 longs regardless of data volume. */
  final case class BoundedCollect(cap: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    private val limit = cap + 1
    override def zero: Seq[Long] = Vector.empty
    override def reduce(b: Seq[Long], v: Long): Seq[Long] =
      if (b.length >= limit) b else b :+ v
    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      if (a.length >= limit) a
      else if (b.length >= limit) b
      else (a ++ b).take(limit)
    override def finish(r: Seq[Long]): Seq[Long] = r
    override def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] = bufferEncoder
  }

  /** Bounded top-k (id, score) heap per group with id-dedupe — fuses the
    * ANN pipeline's `dropDuplicates(query, id)` + window-rank (two
    * shuffles) into ONE ObjectHashAggregate: candidates arrive multiple
    * times (once per colliding LSH table / probed cell) with identical
    * scores; the buffer keeps the k best DISTINCT ids by
    * (score desc, id asc). Buffer ≤ k entries — map-side partials ship
    * k rows per group per partition, the distributed top-k shape. */
  final case class TopKPairs(k: Int)
      extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    private def better(a: (Long, Double), b: (Long, Double)): Boolean =
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
    private def insert(buf: Seq[(Long, Double)], v: (Long, Double)): Seq[(Long, Double)] =
      if (buf.exists(_._1 == v._1)) buf // same candidate from another table: same score
      else {
        val (front, back) = buf.span(better(_, v))
        (front ++ (v +: back)).take(k)
      }
    override def zero: Seq[(Long, Double)] = Vector.empty
    override def reduce(b: Seq[(Long, Double)], v: (Long, Double)): Seq[(Long, Double)] =
      insert(b, v)
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      b.foldLeft(a)(insert)
    override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = r
    override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
    override def outputEncoder: Encoder[Seq[(Long, Double)]] = bufferEncoder
  }

  /** [[BoundedCollect]] generalized to (id, vector) payloads, for LSH
    * buckets that are verified IN PLACE (dot products inside the bucket,
    * emitting only above-threshold pairs) instead of exploding candidate
    * id pairs for a join-back — the pair-explosion shuffle is O(bucket²)
    * rows while this ships each vector once per table. Same overflow
    * contract: a result of length `cap + 1` marks an oversized bucket
    * for the downstream guard, with ≤ cap+1 vectors ever buffered. */
  final case class BoundedCollectVec(cap: Int)
      extends Aggregator[(Long, Seq[Double]), Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])]] {
    private val limit = cap + 1
    override def zero: Seq[(Long, Seq[Double])] = Vector.empty
    override def reduce(b: Seq[(Long, Seq[Double])], v: (Long, Seq[Double])): Seq[(Long, Seq[Double])] =
      if (b.length >= limit) b else b :+ v
    override def merge(a: Seq[(Long, Seq[Double])], b: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] =
      if (a.length >= limit) a
      else if (b.length >= limit) b
      else (a ++ b).take(limit)
    override def finish(r: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = r
    override def bufferEncoder: Encoder[Seq[(Long, Seq[Double])]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Seq[Double])]]()
    override def outputEncoder: Encoder[Seq[(Long, Seq[Double])]] = bufferEncoder
  }

  /** [[BoundedCollect]] generalized to (id, signature) long pairs, for
    * LSH buckets whose members carry a per-doc signature (SimHash): the
    * signature rides the bucket so the verify step never has to join
    * back to (and re-scan / re-hash) the source table. Same overflow
    * contract as [[BoundedCollect]]: a result of length `cap + 1` marks
    * an oversized bucket for the downstream guard. */
  final case class BoundedCollectSig(cap: Int)
      extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
    private val limit = cap + 1
    override def zero: Seq[(Long, Long)] = Vector.empty
    override def reduce(b: Seq[(Long, Long)], v: (Long, Long)): Seq[(Long, Long)] =
      if (b.length >= limit) b else b :+ v
    override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
      if (a.length >= limit) a
      else if (b.length >= limit) b
      else (a ++ b).take(limit)
    override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r
    override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
    override def outputEncoder: Encoder[Seq[(Long, Long)]] = bufferEncoder
  }

  /** Register both on a session as SQL-callable UDAFs (`graft_topn`
    * keeps the top 3), once per session: a re-register would replace
    * them with a Spark WARN on every use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    def missing(name: String): Boolean =
      !spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    if (missing("graft_all")) spark.udf.register("graft_all", udaf(allAgg))
    if (missing("graft_topn")) spark.udf.register("graft_topn", udaf(TopN(3)))
  }
}
