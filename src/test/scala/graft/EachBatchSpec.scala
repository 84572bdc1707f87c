package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.FuzzyJoin
import graft.streaming.EachBatch

/** The micro-batch bridge's contract: every delivered batch reaches the body,
  * an empty delivery included, and the bridge is the only `foreachBatch` in
  * the main sources.
  */
class EachBatchSpec extends SparkSpec {
  import spark.implicits._

  test("an empty delivery reaches the body as a 0-row frame; the union equals the batch operator") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = FuzzyJoin.variantIndex(
      Seq((100L, "acme corp"), (101L, "globex")).toDF("id", "name"), "id", "name")
    val deliveries = Seq(
      Seq((1L, "acme c0rp"), (2L, "wayne ent")),
      Seq.empty[(Long, String)],
      Seq((3L, "globexx")))

    val in = MemoryStream[(Long, String)]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = EachBatch(in.toDF().toDF("id", "name"),
      Files.createTempDirectory("eachbatch-ck").toString) { (batch, id) =>
      val n = batch.count()
      val rows = FuzzyJoin.probePairs(batch, "id", "name", index)
        .as[(Long, Long, Long)].collect()
      sizes.synchronized { sizes += ((id, n)) }
      emitted.synchronized { emitted ++= rows }
    }
    try deliveries.foreach { d => in.addData(d); q.processAllAvailable() }
    finally q.stop()

    assert(sizes.synchronized(sizes.toList) === List((0L, 2L), (1L, 0L), (2L, 1L)),
      "every delivery, the empty one included, must reach the body once")
    val batch = FuzzyJoin.probePairs(deliveries.flatten.toDF("id", "name"), "id", "name", index)
      .as[(Long, Long, Long)].collect().toSeq
    assert(emitted.synchronized(emitted.toList).sorted === batch.sorted)
    assert(batch.sorted === Seq((1L, 100L, 1L), (3L, 101L, 1L)))
  }

  test("EachBatch holds the only foreachBatch in the main sources") {
    val call = """\bforeachBatch\b""".r
    val bridge = SourceScan.base.resolve("src/main/scala/graft/streaming/EachBatch.scala")
    // the scan sees the bridge's own call, so it is not vacuous
    assert(SourceScan.codeLines(bridge, call).size == 1)
    val hits = SourceScan.scalaFiles("src/main/scala")
      .filterNot(_ == bridge)
      .flatMap(f => SourceScan.codeLines(f, call).map(n => s"$f:$n"))
    assert(hits.isEmpty, s"route micro-batch sinks through EachBatch, not at: ${hits.mkString(", ")}")
  }
}
