package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, explode, lit, pmod, sequence, xxhash64}
import graft.operators.{Embeddings, Lineage}

/** Prices both paths of [[graft.operators.Embeddings.nnDescent]] — the
  * distributed rounds and the driver rounds — over a ladder of node counts
  * at K = 10, dimension 64 and two rounds (the recall gate's depth), the
  * source of `LocalDescentNodes` and its scaladoc table. Vectors are
  * pseudo-random; two seed shapes:
  *   - ring: node i's neighbors are i+1 … i+K, a converged local graph that
  *     scores 4K candidates per node;
  *   - random: K pseudo-random neighbors per node, NN-Descent's classic
  *     start, about (2K)² candidates per node. It runs to 10⁴ nodes only:
  *     at 10⁵ its distributed rounds would shuffle tens of GB.
  *
  * Vectors and seed are cut before timing, so each line prices the rounds
  * alone. Each line gives the nodes, the first round's scored candidates,
  * both wall-clocks, and two driver costs per node of the driver path: the
  * bytes the calling thread allocates (the collects' decoding, the rounds,
  * the local frames; executors run on other threads, so this counts driver
  * work only) and the heap its result holds after a full GC (the local seed
  * and round frames).
  *
  * Run with `SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.NnDescentBench [n…]"`
  * (default n = 10^3, 10^4, 10^5) and copy the numbers into the scaladoc of
  * `LocalDescentNodes` when the implementation changes.
  */
object NnDescentBench {
  private val K = 10
  private val Dim = 64
  private val Rounds = 2
  private val RandomMaxNodes = 10000L

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
                else Seq(1000L, 10000L, 100000L)
    val spark = SparkEntry.session()

    def vectors(n: Long): DataFrame = Lineage.cut(spark.range(0, n).select(
      col("id").as("vec_id"),
      array((0 until Dim).map(j =>
        (pmod(xxhash64(col("id"), lit(j)), lit(2001L)) / 1000.0 - 1.0).cast("float")): _*)
        .as("embedding")))
    def seed(n: Long, neighbor: (DataFrame, Long) => org.apache.spark.sql.Column): DataFrame = {
      val slots = spark.range(0, n).select(col("id").as("query_id"),
        explode(sequence(lit(1), lit(K))).as("rank"))
      Lineage.cut(slots.select(col("query_id"), neighbor(slots, n).as("neighbor_id"), col("rank")))
    }
    val shapes: Seq[(String, Long => DataFrame)] = Seq(
      "ring" -> (n => seed(n, (s, m) => pmod(s("query_id") + s("rank"), lit(m)))),
      "random" -> (n => seed(n, (s, m) => pmod(xxhash64(s("query_id"), s("rank")), lit(m)))))

    def descend(v: DataFrame, s: DataFrame, localNodes: Long): Embeddings.Descent =
      Embeddings.nnDescent(v, s, K, Rounds, localNodes)

    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def seconds[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // heap in use after a full collection: what the driver path's result
    // (the local seed and round frames) keeps alive
    def heldHeap(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      rt.totalMemory - rt.freeMemory
    }

    // warm-up (codegen, shuffle service) of both paths
    shapes.foreach { case (_, g) =>
      val (v, s) = (vectors(1000), g(1000))
      descend(v, s, -1); descend(v, s, Long.MaxValue)
    }
    println("shape    nodes  scored_r1  distributed_s  driver_s  alloc_B_per_node  held_B_per_node")
    for (n <- sizes; (name, g) <- shapes if name != "random" || n <= RandomMaxNodes) {
      val (v, s) = (vectors(n), g(n))
      val (_, dist) = seconds(descend(v, s, -1))
      val heap0 = heldHeap()
      val alloc0 = threads.getCurrentThreadAllocatedBytes
      val (local, driver) = seconds(descend(v, s, Long.MaxValue))
      val alloc = threads.getCurrentThreadAllocatedBytes - alloc0
      val held = heldHeap() - heap0 // `local` is still reachable here
      val scored = local.rounds.head._2 match {
        case Embeddings.Count(c) => c
        case Embeddings.Rows(f) => f.count()
      }
      println(f"$name%-6s $n%8d $scored%10d $dist%14.2f $driver%9.2f " +
        f"${alloc.toDouble / n}%17.0f ${held.toDouble / n}%16.0f")
    }
    spark.stop()
  }
}
