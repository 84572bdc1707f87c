package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.operators.Multimodal
import graft.streaming.EachBatch

/** Streaming media ingest must produce, across micro-batches, exactly the
  * keyframe verdicts the batch operator computes over the same payloads.
  */
class MediaIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed keyframe verdicts equal the batch computation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "payload_s")
      .select(col("doc_id"), col("payload_s").cast("binary").as("payload"))

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val q = EachBatch(stream, Files.createTempDirectory("media-ck").toString) { (batch, _) =>
      val rows = Multimodal.keyframes(batch, "doc_id", "payload", k = 4, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      out.synchronized { out ++= rows }
    }

    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "completely different content lives here with many varied words in play",
      3L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj kkkk llll")
    in.addData(docs(0), docs(1))
    q.processAllAvailable()
    in.addData(docs(2))
    q.processAllAvailable()
    q.stop()

    val got = out.synchronized(out.toList).toSet
    val batch = Multimodal.keyframes(
        docs.toDF("doc_id", "payload_s")
          .select(col("doc_id"), col("payload_s").cast("binary").as("payload")),
        "doc_id", "payload", k = 4, threshold = 0.8)
      .as[(Long, Int, Long)].collect().toSet
    assert(got === batch)
    assert(got.size === 12) // 3 payloads × 4 frames, each with a verdict
    // frame 0 of every payload is always a keyframe
    assert(got.filter(_._2 == 0).forall(_._3 == 1L))
  }
}
