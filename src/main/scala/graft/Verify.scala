package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with [[ScratchOne]] so the one-query loop escapes identically. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names to dump — check_oracle.py compares
    // whatever result dirs exist, so a filtered run is a valid partial
    // oracle pass over just the touched queries
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a misspelled filter name would otherwise write an EMPTY oracle and
    // check_oracle.py would pass vacuously (round-18 review finding) —
    // fail loudly instead
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"Verify: unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // a filtered run writes a filtered oracle_sql.json: over a directory
    // that already holds one, it would replace the full oracle and a later
    // check_oracle.py would check only the subset without saying so
    val oracle = Paths.get(outDir, "oracle_sql.json")
    if (only.nonEmpty && Files.exists(oracle)) {
      System.err.println(s"Verify: $oracle already exists; a filtered run " +
        "would replace it with a partial oracle — use a fresh output directory")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // q_wheel_sql registers transparent wheel acceleration; reset it so
      // every other query is verified on its own execution path.
      graft.plans.WheelAcceleration.clear()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import Verify.q
    // a filtered run writes a FILTERED oracle_sql.json too (ADVICE r17):
    // check_oracle.py iterates every oracle entry and counts a missing
    // result dir as FAIL, so the unfiltered entries must not be listed
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(oracle, json)
    spark.stop()
  }
}
