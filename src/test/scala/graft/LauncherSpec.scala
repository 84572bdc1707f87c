package graft

/** The launcher surface the graft mains share: the confs of
  * [[SparkEntry.session]], the query-name selection `Bench` and `Verify`
  * take, and the rule that no other code in the sources makes a session.
  * Runs no query.
  */
class LauncherSpec extends SparkSpec {

  test("the factory's session is UTC-pinned, reads NANOS as long, one shuffle partition per core") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("an empty name filter selects every registered query, sorted") {
    val all = SparkEntry.select(Nil)
    assert(all.nonEmpty)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a name filter keeps its order; an unknown name fails and is named") {
    assert(SparkEntry.select(Seq("q_nndescent_recall", "q_dedup_decision")) ==
      Seq("q_nndescent_recall", "q_dedup_decision"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q_dedup_decision", "q_nope")))
    assert(e.getMessage.contains("q_nope"))
    assert(!e.getMessage.contains("q_dedup_decision"))
  }

  test("SparkEntry.session is the only place the sources make a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val entry = SourceScan.base.resolve("src/main/scala/graft/SparkEntry.scala")
    // the scan sees the one builder it allows, so it is not vacuous
    assert(SourceScan.codeLines(entry, builder).size == 1)
    val hits = SourceScan.scalaFiles("src/main/scala", "src/test/scala")
      .filterNot(_ == entry)
      .flatMap(f => SourceScan.codeLines(f, builder).map(n => s"$f:$n"))
    assert(hits.isEmpty, s"build sessions with SparkEntry.session, not at: ${hits.mkString(", ")}")
  }
}
