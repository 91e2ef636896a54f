package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract self-checks: the queries map is collision-free (the
  * groups merge with ++, so a duplicated key would silently shadow an
  * operator) and every oracle belongs to a declared query. */
class SparkEntrySpec extends AnyFunSuite {

  test("no query key collisions across groups") {
    val groups = Seq(
      graft.queries.Core.queries, graft.queries.Aggregates.queries,
      graft.queries.Joins.queries, graft.queries.Windows.queries,
      graft.queries.Analytics.queries, graft.queries.Subqueries.queries,
      graft.queries.SetOps.queries, graft.queries.Scalars.queries,
      graft.queries.Text.queries, graft.queries.Pipeline.queries,
      graft.queries.Similarity.queries,
      graft.queries.Multimodal.queries)
    assert(SparkEntry.queries.size == groups.map(_.size).sum,
      "a duplicate key across query groups is shadowing an operator")
  }

  test("every oracle key names a declared query; all keys are q_-prefixed") {
    val orphan = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphan.isEmpty, s"oracles without queries: $orphan")
    assert(SparkEntry.queries.keySet.forall(_.startsWith("q_")))
  }

  test("Verify refuses a filtered run over an existing oracle") {
    val out = java.nio.file.Files.createTempDirectory("verify-refusal")
    val oracle = out.resolve("oracle_sql.json")
    java.nio.file.Files.writeString(oracle, "{\"q_full\": \"SELECT 1\"}")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx256m") ++
      jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.Verify", TestSpark.Sf0001, out.toString, "q_wheel_cond_residue_sql")
    try {
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val log = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), log)
      assert(proc.exitValue() != 0, log)
      assert(log.contains("already exists"), log)
      // nothing ran: the full oracle is intact and no result was written
      assert(java.nio.file.Files.readString(oracle) == "{\"q_full\": \"SELECT 1\"}")
      assert(!java.nio.file.Files.exists(out.resolve("q_wheel_cond_residue_sql")))
    } finally {
      java.nio.file.Files.deleteIfExists(oracle)
      java.nio.file.Files.deleteIfExists(out)
    }
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }
}
