package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.SparkEntry

/** The two closed-loop batch workloads: one client runs passes over a fixed
  * query list, waiting for each result before asking for the next.
  *
  * A query's latency is `SparkEntry.queries(name)(spark, dir)` (construction,
  * including the eager `Lineage.cut`/`Par.ckpt` jobs graft's operators run
  * there) plus the action that reads its whole result: an order-independent
  * fingerprint (row count and the sum of a 64-bit hash of every row), which
  * `run.py` checks against the pinned value for the benchmark's inputs.
  */
object Batch {

  /** The NEAR dataflow as a batch replay/backfill. */
  val Backfill: Seq[String] = Seq("near_dedup", "near_roa_join", "near_transfers",
    "near_balances", "near_multi_balances", "q_bigint_sum")

  /** A connected-components consumer and an NN-Descent consumer. */
  val Iterative: Seq[String] = Seq("q_dedup_decision", "q_nndescent_recall")

  /** `count:sum` over a 64-bit hash of each row, columns taken by sorted
    * name, so neither row nor column order changes it.
    */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One query execution; its trace fields when a [[Trace]] is attached. */
  private def execute(spark: SparkSession, dir: String, name: String,
                      trace: Option[Trace]): Map[String, Any] = {
    val before = trace.map(_.snapshot())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      val constructS = (System.nanoTime() - t0) / 1e9
      val mid = trace.map(_.snapshot())
      val fp = fingerprint(df)
      val totalS = (System.nanoTime() - t0) / 1e9
      val traced = for (t <- trace; b <- before; m <- mid) yield {
        val d = t.snapshot() - b
        d.fields ++ Map("construct_jobs" -> (m - b).jobs,
          "idle_s" -> t.idleSeconds(startMs, System.currentTimeMillis()))
      }
      Map("name" -> name, "construct_s" -> constructS, "total_s" -> totalS,
        "fingerprint" -> fp) ++ traced.map("trace" -> _)
    } catch {
      case e: Exception =>
        Map("name" -> name, "total_s" -> (System.nanoTime() - t0) / 1e9,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  def run(spark: SparkSession, a: Main.Args, trace: Option[Trace],
          queries: Seq[String]): Map[String, Any] = {
    val order = new Random(a.seed).shuffle(queries)
    // set-up: one unmeasured pass lets code generation and the JIT settle
    val (warm, warmupS) = timed(order.map(execute(spark, a.data, _, None)))
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    // one pass at least; another starts only if one more like the last
    // still ends within the measured seconds, so slow passes do not
    // stretch the run
    def last = passes.last("wall_s").asInstanceOf[Double]
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 + last <= a.seconds) {
      val before = trace.map(_.snapshot())
      val startMs = System.currentTimeMillis()
      val (qs, wallS) = timed(order.map(execute(spark, a.data, _, trace)))
      val traced = for (t <- trace; b <- before) yield
        (t.snapshot() - b).fields + ("idle_s" -> t.idleSeconds(startMs, System.currentTimeMillis()))
      passes += Map("wall_s" -> wallS, "queries" -> qs) ++ traced.map("trace" -> _)
    }

    Map("order" -> order, "warmup" -> warm, "passes" -> passes.toSeq,
      "setup" -> Map("warmup_s" -> warmupS))
  }
}
