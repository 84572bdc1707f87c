package graft

import graft.operators.ConnectedComponents

/** Re-pricing harness for the mega-component skew note in
  * [[graft.operators.ConnectedComponents]]'s scaladoc: labels one hot
  * component (a single hub of degree N — every edge carries the same label
  * traffic) vs N/2 disjoint pairs (the perfectly balanced graph of the same
  * edge count), same session, and prints both wall-clocks. Run with
  * `sbt "Test/runMain graft.CcSkewBench [N]"` (default 200k edges) and copy
  * the numbers into the scaladoc when the implementation changes.
  */
object CcSkewBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = SparkEntry.session()
    import spark.implicits._

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($rows rows)")
    }

    val hub = spark.range(2, n.toLong + 2).select(
      org.apache.spark.sql.functions.lit(1L).as("a"),
      org.apache.spark.sql.functions.col("id").as("b"))
    val pairs = spark.range(0, n.toLong).select(
      (org.apache.spark.sql.functions.col("id") * 2 + 10).as("a"),
      (org.apache.spark.sql.functions.col("id") * 2 + 11).as("b"))

    // warm-up (codegen, shuffle service)
    ConnectedComponents.run(pairs.limit(1000), "a", "b").count()
    time(s"balanced ($n disjoint-pair edges)") {
      ConnectedComponents.run(pairs, "a", "b").count()
    }
    time(s"hot hub   ($n edges, one degree-$n vertex)") {
      ConnectedComponents.run(hub, "a", "b").count()
    }
    spark.stop()
  }
}
