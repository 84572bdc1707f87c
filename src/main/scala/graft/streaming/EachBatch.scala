package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming tier's one micro-batch bridge: start `stream` in append
  * mode on `checkpointDir` and hand every micro-batch to `body` as a plain
  * DataFrame with its batch id. It is the only `foreachBatch` in graft, the
  * stand-in for the reference's sinks hanging off one Kafka Streams topology
  * (SURVEY §2 #15).
  *
  * A batch-local operator needs no streaming twin: each micro-batch is a
  * batch job (D-Streams, SOSP 2013; Structured Streaming, SIGMOD 2018), so a
  * caller passes the batch operator itself, e.g.
  * `EachBatch(queries, ck) { (b, _) => emit(FuzzyJoin.probePairs(b, …)) }`,
  * and streamed output equals the batch operator over the delivered rows.
  *
  * `body` runs for EVERY batch Spark delivers, and an empty delivery is a
  * batch: a stateless body must accept a 0-row frame (a per-trigger
  * `isEmpty` probe is an extra Spark job). Only a body that cuts
  * accumulated state guards its own work ([[ManifestStream]]).
  *
  * `batchId` is stable across a restart on the same checkpoint, which is
  * what makes it a sound exactly-once claim key
  * ([[StreamingPipeline.balancesToJdbcExactlyOnce]]); delivery is
  * at-least-once, so a side-effecting body is idempotent or claims its
  * batch id.
  */
object EachBatch {

  def apply(stream: DataFrame, checkpointDir: String)
           (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .start()
}
