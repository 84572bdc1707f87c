package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.LineDedup
import graft.streaming.EachBatch

/** The streamed line scrub must emit, across arbitrary micro-batch cuts,
  * exactly the rewrites the batch [[LineDedup.dedupWith]] produces on the
  * whole probe set — the operator is batch-local, so chunking must be
  * invisible. Also pins the index semantics: the boilerplate threshold is
  * learned from the REFERENCE corpus (≥ minDocs reference documents), so a
  * line the reference contains only once is ordinary content and survives
  * ingest.
  */
class LineDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val reference = Seq(
    (100L, "nav bar\nref body alpha\nfooter x"),
    (101L, "nav bar\nref body beta\nfooter x"),
    (102L, "nav bar\nref body gamma\nonce only line"))

  private val probes = Seq(
    (1L, "nav bar\nfresh body one\nfooter x"),   // both templates dropped
    (2L, "fresh body two\nonce only line"),      // 1-ref-doc line survives
    (3L, "nav bar"),                             // pure template -> emptied
    (4L, "entirely new content"))

  test("streamed scrub equals the batch probe across micro-batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = LineDedup.boilerplateIndex(
      reference.toDF("doc_id", "page"), "doc_id", "page", minDocs = 2)

    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map.empty[Long, (Long, Long, String)]
    val q = EachBatch(in.toDF().toDF("doc_id", "page"),
      Files.createTempDirectory("linededup-ck").toString) { (batch, _) =>
      val rows = LineDedup.dedupWith(batch, "doc_id", "page", index)
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

    val batch = LineDedup
      .dedupWith(probes.toDF("doc_id", "page"), "doc_id", "page", index)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(emitted.synchronized(emitted.toMap) === batch,
      "streamed rewrites differ from the batch operator")

    // the planted semantics, pinned
    assert(batch(1L) === ((3L, 1L, "fresh body one")))
    assert(batch(2L) === ((2L, 2L, "fresh body two\nonce only line")),
      "a line the reference holds once must not be treated as boilerplate")
    assert(batch(3L) === ((1L, 0L, "")), "pure-template page must empty, not vanish")
    assert(batch(4L) === ((1L, 1L, "entirely new content")))
  }
}
