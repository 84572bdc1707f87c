package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import graft.operators.ConnectedComponents

/** Prices both paths of [[graft.operators.ConnectedComponents.run]] — the
  * distributed rounds and the driver finish — over a ladder of edge counts
  * and three shapes, the source of `LocalFinishRows` and of the skew note in
  * its scaladoc:
  *   - chain: edges (i, i+1), the diameter that needs the most rounds;
  *   - hub: one vertex of degree n, every edge carries the same label;
  *   - random: n edges between pseudo-random endpoints over n vertices.
  *
  * Each line gives the join-set rows (two per undirected edge plus one per
  * endpoint, the figure the bound is compared with), both wall-clocks, and
  * the driver cost of the finish: the bytes the calling thread allocates
  * per join-set row (the collect's decoding, the union-find, the local
  * frame). Executors run on other threads, so this counts driver work only,
  * and it bounds what the finish can hold at its peak.
  *
  * Run with `SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.CcSkewBench [n…]"`
  * (default n = 10^3 … 10^6 edges) and copy the numbers into the scaladoc
  * when the implementation changes.
  */
object CcSkewBench {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
                else Seq(1000L, 10000L, 100000L, 1000000L)
    val spark = SparkEntry.session()

    val shapes: Seq[(String, Long => DataFrame)] = Seq(
      "chain" -> (n => spark.range(0, n).select(col("id").as("a"), (col("id") + 1).as("b"))),
      "hub" -> (n => spark.range(2, n + 2).select(lit(1L).as("a"), col("id").as("b"))),
      "random" -> (n => spark.range(0, n).select(
        pmod(xxhash64(col("id")), lit(n)).as("a"),
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("b"))))

    // both paths label at construction: the rounds or the finish run inside
    // `label`, so its wall-clock is the path's
    def label(edges: DataFrame, finishRows: Long): DataFrame =
      ConnectedComponents.label(edges, "a", "b", None, maxIter = 50, finishRows)

    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def seconds(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up (codegen, shuffle service) of both paths
    shapes.foreach { case (_, g) => label(g(1000), -1).count(); label(g(1000), Long.MaxValue).count() }
    println("shape   edges     rows  distributed_s  driver_s  alloc_B_per_row")
    for (n <- sizes; (name, g) <- shapes) {
      val e = g(n)
      val rows = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b"), col("a")))
        .union(e.select(col("a"), col("a"))).union(e.select(col("b"), col("b")))
        .distinct().count()
      val dist = seconds(label(e, -1))
      val alloc0 = threads.getCurrentThreadAllocatedBytes
      val local = seconds(label(e, Long.MaxValue))
      val alloc = threads.getCurrentThreadAllocatedBytes - alloc0
      println(f"$name%-6s $n%8d $rows%8d $dist%14.2f $local%9.2f ${alloc.toDouble / rows}%16.0f")
    }
    spark.stop()
  }
}
