package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions
import graft.operators.{Lineage, TextDedup}

/** The curation capstone's STREAMING identity: every arriving document gets
  * its funnel verdict (`eval_holdout` / `dropped_lang` / `dropped_quality` /
  * `dropped_exact_dup` / `dropped_near_dup` / `dropped_contaminated` /
  * `kept` + split) emitted incrementally, micro-batch by micro-batch — the
  * continuously-updated manifest matching the batch
  * [[graft.queries.CurationQueries.corpusManifestOf]] (reference
  * TokenBalance.java:279-331 — the engine's whole shape is
  * continuously-updated outputs, and the flagship curation query now has
  * that shape too).
  *
  * Stage placement mirrors [[CorpusCleanStream]], with one structural
  * difference: the cleaner's `dropDuplicatesWithinWatermark` stage DELETES
  * duplicate rows, but a manifest must EMIT them (with their verdict), so
  * cross-batch dedup state lives in accumulated frames the [[EachBatch]]
  * body composes against, not in a dropping operator:
  *
  *   - gates (language / quality / eval slice): stateless codegen columns;
  *   - exact dedup: first-arrival-wins against the accumulated winner-hash
  *     frame, min-id within the trigger (ties inside one batch);
  *   - near-dup: intra-batch [[TextDedup.minhashDedupPairs]] (losers are the
  *     higher ids) PLUS the [[TextDedup.nearDupProbeFrame]] probe against
  *     the accumulated LSH index of every prior winner — near-dup LOSERS are
  *     indexed too, matching the batch pair semantics (a loser still drops
  *     later docs transitively similar to it);
  *   - decontamination: the STATIC eval shingle set, broadcast (benchmark
  *     slices are fixed artifacts — same contract as [[CorpusCleanStream]]'s
  *     `evalShingles`);
  *   - verdicts: the batch CASE, verbatim precedence, with the shared
  *     48/1/1 split label on kept rows.
  *
  * EQUALITY CONTRACT (spec-proven): the union of emitted verdicts equals the
  * batch manifest over the same documents whenever RELATED docs (same
  * content hash, or a near-dup pair) arrive in doc-id order — the batch
  * tie-break is min-id, the stream's is first-arrival, and re-ingesting a
  * corpus in id order makes them coincide. Unrelated docs may arrive in any
  * order, arbitrarily late: no watermark is involved, so a late event
  * changes nothing (the spec feeds one). Under unordered RELATED arrivals
  * the stream gives the honest ingest-time answer (first seen wins) — the
  * verdicts remain a consistent manifest, just tie-broken by arrival.
  *
  * State shape at 100 TB: one 128-bit hash row per winner plus numBands
  * index rows per winner — linear in the accepted corpus, exactly the
  * batch index's own footprint. This state IS the product (the corpus
  * index a dedup service maintains); on a cluster the accumulated frames
  * become a compacted table ([[Lineage.cut]] stands in for that here), and
  * each trigger's work is the batch plan over one micro-batch probed
  * against it — never a rescan of the accumulated corpus.
  */
object ManifestStream {

  def run(docStream: DataFrame, idCol: String, textCol: String,
          evalShingles: DataFrame, qualityFloor: Int, checkpointDir: String,
          n: Int = 3, thresholdPct: Int = 60, numHashes: Int = 32,
          rowsPerBand: Int = 2, deconN: Int = 8)
         (onVerdicts: DataFrame => Unit): StreamingQuery = {

    // cross-batch accumulators (driver-held handles to executor-resident
    // checkpointed frames)
    var hashesSoFar: Option[DataFrame] = None // (h) per winner
    var indexSoFar: Option[DataFrame] = None  // lshBandedIndex rows per winner

    // the guard stays: an empty trigger would still cut and re-union the
    // accumulated frames below
    EachBatch(docStream, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val t = col(textCol)
        val isEval = pmod(col("doc_id"), lit(20L)) === 0
        val stats = Lineage.cut(batch.select(
          col(idCol).as("doc_id"), t.as("text"),
          TextFunctions.langId(t).as("lang_id"),
          TextFunctions.qualityScoreE4(t).as("quality_e4"),
          md5(t.cast("binary")).as("h")))
        val gated = stats
          .filter(!isEval && col("lang_id") === "en" &&
            col("quality_e4") >= qualityFloor)
          .select(col("doc_id"), col("text"), col("h"))

        // exact dedup: min-id inside the trigger, first-wins across triggers
        val batchMin = gated.groupBy("h").agg(min(col("doc_id")).as("w"))
        val intraWin = gated.join(batchMin, "h")
          .filter(col("doc_id") === col("w")).drop("w")
        val winners = Lineage.cut(hashesSoFar match {
          case Some(hs) => intraWin.join(hs, Seq("h"), "left_anti")
          case None => intraWin
        })

        // near-dup: intra-batch pairs (loser = doc_b, the higher id) plus
        // the probe against every prior winner
        val intraLosers = TextDedup
          .minhashDedupPairs(winners, "doc_id", "text", n, thresholdPct,
            numHashes, rowsPerBand)
          .select(col("doc_b").as("doc_id"))
        val nearLosers = Lineage.cut((indexSoFar match {
          case Some(ix) => intraLosers.union(TextDedup
            .nearDupProbeFrame(winners, "doc_id", "text", Seq.empty, ix,
              n, thresholdPct, numHashes, rowsPerBand)
            .select(col("probe_id").as("doc_id")))
          case None => intraLosers
        }).distinct())

        val surv = winners.join(nearLosers, Seq("doc_id"), "left_anti")
        val contam = TextDedup.shingles(surv, "doc_id", "text", deconN)
          .join(broadcast(evalShingles.select(col("shingle"))),
            Seq("shingle"), "left_semi")
          .select("doc_id").distinct()

        val flags = stats.select(col("doc_id"), col("lang_id"), col("quality_e4"))
          .join(winners.select("doc_id").withColumn("is_win", lit(1)),
            Seq("doc_id"), "left")
          .join(nearLosers.withColumn("is_nd", lit(1)), Seq("doc_id"), "left")
          .join(contam.withColumn("is_ct", lit(1)), Seq("doc_id"), "left")
        val verdict = when(isEval, "eval_holdout")
          .when(col("lang_id") =!= "en", "dropped_lang")
          .when(col("quality_e4") < qualityFloor, "dropped_quality")
          .when(col("is_win").isNull, "dropped_exact_dup")
          .when(col("is_nd").isNotNull, "dropped_near_dup")
          .when(col("is_ct").isNotNull, "dropped_contaminated")
          .otherwise("kept")
        onVerdicts(flags.select(col("doc_id"), verdict.as("verdict"),
          when(verdict === "kept",
            graft.queries.CurationQueries.splitLabel(col("doc_id")))
            .otherwise(lit(null).cast("string")).as("split")))

        // accumulate AFTER emission: a doc never dedups against itself.
        // Winner hashes are already distinct (one per h per trigger, prior
        // hashes anti-joined away), so plain unions stay duplicate-free.
        val newIx = TextDedup.lshBandedIndex(winners, "doc_id", "text", n,
          numHashes, rowsPerBand)
        hashesSoFar = Some(Lineage.cut(hashesSoFar
          .map(_.union(winners.select("h"))).getOrElse(winners.select("h"))))
        indexSoFar = Some(Lineage.cut(indexSoFar
          .map(_.union(newIx)).getOrElse(newIx)))
      }
    }
  }
}
