package graft

/** The driver-contract invariants that have silently drifted before:
  * every declared query needs a matching oracle (the gate compares by
  * key), and the documented query count must equal the real surface
  * (README/SURVEY said 162 while the r10 gate ran 165 — the docs drifted
  * because nothing mechanical pinned them). */
class EntryContractSpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("README documents the true query count") {
    val n = SparkEntry.queries.size
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(readme.contains(s"$n declared queries"),
      s"README.md's '<N> declared queries' line must say $n")
  }

  test("oracle SQL is non-empty and names no engine-side temp columns") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k: empty oracle")
      assert(!sql.contains("__"), s"$k: oracle leaks a __-prefixed temp column")
    }
  }

  test("an unknown SPARK_GRAFT_ONLY name stops a main before its session") {
    val out = java.nio.file.Files.createTempDirectory("graft-only")
      .resolve("out")
    val pb = new ProcessBuilder(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx256m",
      "-XX:-UsePerfData", "graft.Verify", "/nonexistent-sf", out.toString)
    pb.environment().put("CLASSPATH", System.getProperty("java.class.path"))
    pb.environment().put("SPARK_GRAFT_ONLY", " filter_eq, nope ,,count_all")
    val p = pb.redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 2)
    assert(err == "[verify] unknown query in SPARK_GRAFT_ONLY: nope\n", err)
    assert(!java.nio.file.Files.exists(out)) // Verify creates it after the session
  }
}
