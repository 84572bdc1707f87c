package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.SpanScrub
import graft.streaming.EachBatch

/** The streamed span scrub must emit, across arbitrary micro-batch cuts,
  * exactly the rewrites the batch [[SpanScrub.scrubAgainst]] produces on the
  * whole probe set — the operator is batch-local, so chunking must be
  * invisible. Also pins the probe semantics: membership in the reference
  * index alone marks a span duplicated (count-1 suffices — the arriving doc
  * is a different doc by definition).
  */
class SpanScrubStreamSpec extends SparkSpec {
  import spark.implicits._

  private val span = (1 to SpanScrub.W).map(i => s"s$i").mkString(" ")

  private val reference = Seq(
    (100L, s"corpus head $span corpus tail"),
    (101L, "some other reference content that is entirely unique forever"))

  private val probes = Seq(
    (1L, s"new prefix $span new suffix"), // carries a corpus span -> scrubbed
    (2L, "completely fresh words that the corpus has never seen before"),
    (3L, span),                           // nothing BUT the span -> emptied
    (4L, "short doc"))                    // < W tokens: never window-scanned

  test("streamed scrub equals the batch probe across micro-batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = SpanScrub.dupIndex(reference.toDF("doc_id", "text"))

    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map.empty[Long, (Long, Long, String)]
    val q = EachBatch(in.toDF().toDF("doc_id", "text"),
      Files.createTempDirectory("spanscrub-ck").toString) { (batch, _) =>
      val rows = SpanScrub.scrubAgainst(batch, index)
        .as[(Long, Long, Long, String)].collect()
      emitted.synchronized {
        rows.foreach(r => emitted(r._1) = (r._2, r._3, r._4))
      }
    }
    try {
      probes.grouped(2).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val batch = SpanScrub.scrubAgainst(probes.toDF("doc_id", "text"), index)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(emitted.synchronized(emitted.toMap) === batch,
      "streamed rewrites differ from the batch operator")

    // the planted semantics, pinned
    assert(batch(1L) === ((12L, 8L, "new prefix new suffix")))
    assert(batch(2L) === ((10L, 0L, "completely fresh words that the corpus has never seen before")))
    assert(batch(3L) === ((8L, 8L, "")))
    assert(batch(4L) === ((2L, 0L, "short doc")))
  }
}
