package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions
import graft.operators.TextDedup

/** Ingest-time corpus cleaning: the batch `q_corpus_clean` semantics applied
  * to an unbounded document stream, with a STATIC reference index as the
  * near-dup authority. Stage placement follows each operator's streaming
  * shape:
  *
  *   - language / quality gates: stateless narrow filters — run on the
  *     stream directly, reach whole-stage codegen;
  *   - exact dedup: content-hash keep-first within the watermark
  *     ([[TextDedup.exactDedupStream]], bounded state store);
  *   - near-dup removal: per micro-batch, the oracle-checked batch probe
  *     plan ([[TextDedup.nearDupProbeFrame]]) runs against the static banded
  *     index and the trigger's survivors anti-join away every doc with a
  *     verified match — the same [[EachBatch]] bridge as the balance
  *     dual-sink: within a trigger the data is a plain DataFrame, so the
  *     batch plan applies unchanged.
  *
  * Contract note: near-dups are judged against the INDEX, not between two
  * novel stream docs arriving together (the probe-service semantic). Exact
  * duplicates between stream docs ARE removed (the stateful dedup stage).
  * For full self-dedup, fold the accumulated corpus back through the batch
  * pipeline and rebuild the index.
  *
  * Optional decontamination stage (`evalShingles`): a static set of
  * benchmark `deconN`-gram shingles (benchmark-sized, so broadcast); any
  * trigger doc sharing one is dropped before the near-dup probe — the
  * streaming twin of the batch `q_decontaminate` gate, in the same
  * per-micro-batch anti-join shape as near-dup removal.
  */
object CorpusCleanStream {

  def run(docStream: DataFrame, idCol: String, textCol: String,
          eventTimeCol: String, delay: String, index: DataFrame,
          qualityFloor: Int, checkpointDir: String,
          n: Int = 3, thresholdPct: Int = 60, numHashes: Int = 32,
          rowsPerBand: Int = 4, evalShingles: Option[DataFrame] = None,
          deconN: Int = 8)(onClean: DataFrame => Unit): StreamingQuery = {
    val t: Column = col(textCol)
    val gated = docStream
      .filter(TextFunctions.langId(t) === "en" &&
        TextFunctions.qualityScoreE4(t) >= qualityFloor)
    val deduped = TextDedup.exactDedupStream(gated, textCol, eventTimeCol, delay)
    EachBatch(deduped, checkpointDir) { (batch, _) =>
      val decontaminated = evalShingles match {
        case Some(ev) =>
          val contaminated = batch
            .select(col(idCol), explode(graft.functions.ShinglesExpression
              .shingles(col(textCol), deconN)).as("shingle"))
            .join(broadcast(ev.select(col("shingle"))), Seq("shingle"), "left_semi")
            .select(col(idCol)).distinct()
          batch.join(contaminated, Seq(idCol), "left_anti")
        case None => batch
      }
      val matched = TextDedup
        .nearDupProbeFrame(decontaminated, idCol, textCol, Seq.empty, index,
          n, thresholdPct, numHashes, rowsPerBand)
        .select(col("probe_id").as(idCol)).distinct()
      onClean(decontaminated.join(matched, Seq(idCol), "left_anti"))
    }
  }
}
