package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, coalesce, col}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.ConnectedComponents

/** INCREMENTAL dedup-group maintenance — the streaming completion of the
  * dedup story: batch mode turns pair evidence into transitive groups with
  * [[ConnectedComponents.run]]; at ingest time the pair evidence ARRIVES
  * incrementally (`TextDedup.nearDupProbeStream` emits each new document's
  * verified matches against the static index), and re-running distributed CC
  * per trigger would rescan all accumulated evidence. Instead each
  * micro-batch's pairs fold into a driver-side min-label
  * [[ConnectedComponents.CompactedUnionFind]] whose labels are by
  * construction the SAME as the batch algorithm's (min id per component), so
  * at any trigger boundary the snapshot equals `ConnectedComponents.run`
  * over the pairs delivered so far (`GroupStreamSpec` asserts it across
  * chunkings and against the real probe pipeline).
  *
  * Scale contract: the per-batch `collect` is the trigger's near-dup PAIR
  * evidence (orders below corpus rows — the same boundedness argument as the
  * balance-delta sinks), and the state is O(#docs ever matched), not
  * O(corpus). Union is idempotent, so [[EachBatch]]'s at-least-once
  * redelivery needs no journal here. A fresh maintainer starts on an empty
  * base (`new CompactedUnionFind(_ => None)`, whose `freshSnapshot` is then
  * every vertex seen). For group state too large for one driver,
  * the escalation is BUILT: [[compactPairLog]] runs the batch operator over
  * the accumulated pair log on a compaction cadence, and [[maintainGroups]]
  * restarts the low-latency tier as a DELTA over the compacted label table
  * — driver memory bounded by post-compaction evidence, full labeling
  * recoverable distributively via [[mergedLabels]] without rescanning the
  * log.
  */
object GroupStream {

  /** Fold a streaming (src, dst) pair feed into `uf`; the caller reads
    * `uf.freshSnapshot` (or [[mergedLabels]] over a compacted base) between
    * triggers, or serves it from the driver.
    */
  def maintainGroups(pairs: DataFrame, srcCol: String, dstCol: String,
                     uf: ConnectedComponents.CompactedUnionFind,
                     checkpointDir: String): StreamingQuery =
    EachBatch(pairs, checkpointDir) { (batch, _) =>
      val rows = batch
        .select(col(srcCol).cast("long"), col(dstCol).cast("long"))
        .collect()
      uf.synchronized {
        rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      }
    }

  /** COMPACTION: the periodic batch pass that keeps the driver tier small —
    * [[ConnectedComponents.run]] over the accumulated pair log (every
    * near-dup pair ever emitted — an append-only parquet table in
    * production; distributed above `ConnectedComponents.LocalFinishRows`,
    * finished on the driver below it), yielding the (id, comp) label table
    * the delta tier restarts on. Labels are component minima, identical to
    * what the driver union-find would hold — the handoff changes WHERE state
    * lives, never a label (spec-asserted across the seam).
    */
  def compactPairLog(pairLog: DataFrame, srcCol: String, dstCol: String): DataFrame =
    ConnectedComponents.run(pairLog, srcCol, dstCol)

  /** The DISTRIBUTED realization of the merged labeling — compacted table +
    * driver delta, without rescanning the pair log: one broadcastable
    * relabel left-join over the label table (only labels that MOVED since
    * compaction are in the map) plus the fresh-vertex rows the table has
    * never seen. Equals `ConnectedComponents.run` over the FULL pair
    * history row-for-row (spec-asserted across chunkings and bridge merges).
    */
  def mergedLabels(labels: DataFrame,
                   uf: ConnectedComponents.CompactedUnionFind): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val moved = uf.relabels.toSeq.toDF("comp", "new_comp")
    val fresh = uf.freshSnapshot.toSeq.toDF("id", "comp")
    labels.select(col("id").cast("long").as("id"), col("comp").cast("long").as("comp"))
      .join(broadcast(moved), Seq("comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("comp"))
      .unionByName(fresh.select(col("id"), col("comp")))
  }
}
