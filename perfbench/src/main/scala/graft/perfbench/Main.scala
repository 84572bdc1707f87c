package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. `perfbench/run.py` builds the inputs,
  * launches this, and turns the raw result file it writes into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --out FILE --tmp DIR --cores C
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String, tmp: String,
                        cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv("tmp"), kv("cores").toInt)
  }

  /** The session every workload runs in: `local[cores]`, one shuffle
    * partition per core (as graft.Bench), scratch space under `tmp`.
    */
  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Storage still held once the workload is done: a forced driver GC lets
    * the ContextCleaner release what is no longer referenced first.
    */
  def retained(spark: SparkSession): Map[String, Any] = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(1000) }
    val rdds = spark.sparkContext.getRDDStorageInfo
    Map("persisted_rdds" -> rdds.length,
      "retained_mb" -> rdds.map(r => r.memSize + r.diskSize).sum / 1e6)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    var spark = session(a.cores, a.tmp)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val provenance = Map(
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "cores" -> a.cores)
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val body: Map[String, Any] = a.workload match {
      case "near_stream" => NearStream.run(spark, a, trace, NearStream.FullLadder, check = true)
      case "near_backfill" => Batch.run(spark, a, trace, Batch.Backfill)
      case "iterative" => Batch.run(spark, a, trace, Batch.Iterative)
      case w => sys.error(s"unknown workload $w")
    }
    trace.foreach(_.stop())
    val storage = if (a.trace) Map("storage" -> retained(spark)) else Map.empty
    // the traced run's single-core baseline of the `lo` rung, in a fresh session
    val local1 = if (a.trace && a.workload == "near_stream") {
      spark.stop()
      spark = session(1, a.tmp)
      Map("local1" -> NearStream.run(spark, a.copy(cores = 1), None, NearStream.LoOnly,
        check = false))
    } else Map.empty
    val result = body ++ storage ++ local1 ++
      Map("session_s" -> sessionS, "provenance" -> provenance)
    Files.write(Paths.get(a.out), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
