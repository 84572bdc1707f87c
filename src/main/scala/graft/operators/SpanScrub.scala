package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-document duplicated-span removal (Lee et al. 2022 exact-substring
  * dedup, relationalized — see `TextQueries.spanScrubOf` for the registered
  * corpus form and its oracle): tokens covered by any [[W]]-token window that
  * also occurs in ANOTHER document are deleted, the unique remainder kept in
  * order. This object carries the reusable machinery so the batch corpus
  * query and the streaming ingest gate share one implementation:
  *
  *   - [[scrubCorpus]] — self-dedup of one corpus (window duplicated ⇔ seen
  *     in ≥ 2 distinct docs of that corpus);
  *   - [[dupIndex]] + [[scrubAgainst]] — the PROBE form: a static reference
  *     index of every window hash the corpus contains; an arriving document
  *     is scrubbed of any span the corpus already has (an arriving doc is a
  *     different doc by definition, so membership alone marks duplication).
  *     Batch-local per probe row — so streaming ingest is exactly this
  *     operator per micro-batch through `graft.streaming.EachBatch`, no
  *     cross-batch state (`SpanScrubStreamSpec`).
  *
  * Scale shape (both forms): narrow stride-1 window fan-out keyed by md5,
  * ONE shuffle on the window hash (groupBy or semi-join), narrow
  * covered-position fan-out, anti-join + per-doc rebuild. A span shared by
  * k documents costs O(k) rows, never O(k²).
  */
object SpanScrub {

  /** Window width in tokens — 8 ≈ the shortest span that is evidence of
    * copying rather than coincidence at this corpus's document lengths
    * (Lee et al. use 50 BPE tokens at web scale).
    */
  val W = 8

  /** (doc_id, i, h) — md5 of every [[W]]-token stride-1 window, 1-based
    * start positions; documents shorter than [[W]] yield no windows.
    */
  def windowHashes(d: DataFrame, w: Int = W): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - (w - 1))).as("i"), col("t"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("t"), col("i"), lit(w)), " ").cast("binary")).as("h"))

  /** Distinct window hashes of a reference corpus — the static index the
    * probe form scrubs against. [[Lineage.cut]] at build (the
    * `FuzzyJoin.variantIndex` convention), so triggers reuse the
    * materialized index instead of re-scanning the reference corpus and
    * re-running the window fan-out + distinct every micro-batch.
    */
  def dupIndex(reference: DataFrame, w: Int = W): DataFrame =
    Lineage.cut(windowHashes(reference, w).select("h").distinct())

  /** Scrub `d` of every token covered by a window whose hash is in `dupH`.
    * Output: (doc_id, n_tokens, n_dropped, scrubbed).
    */
  def scrubWith(d: DataFrame, dupH: DataFrame, w: Int = W): DataFrame =
    scrubWithWindows(d, windowHashes(d, w), dupH, w)

  /** [[scrubWith]] over a pre-computed [[windowHashes]] frame of `d` — the
    * seam [[scrubCorpus]] uses to fan one materialized window table to both
    * its consumers (duplicate detection and coverage) instead of re-running
    * the stride-1 fan-out per consumer.
    */
  private def scrubWithWindows(d: DataFrame, wh: DataFrame, dupH: DataFrame,
                               w: Int): DataFrame = {
    val cov = wh.join(dupH, Seq("h"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (w - 1))).as("pos"))
      .distinct()
    val kept = d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
      .join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("scrubbed"))
    d.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_dropped"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
  }

  /** Self-dedup of one corpus: a window is duplicated when ≥ 2 DISTINCT
    * documents of the corpus contain it (within-doc repeats are repetition,
    * not duplication — `q_repetition`'s domain).
    */
  def scrubCorpus(d: DataFrame, w: Int = W): DataFrame = {
    // one cut window table feeds BOTH the duplicate-hash aggregation and
    // the coverage semi-join (the fan-out is the expensive stage and ran
    // twice — measured as two serial single-task scans at sf0.1)
    val wh = Lineage.cut(windowHashes(d, w))
    val dup = wh.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("h")
    scrubWithWindows(d, wh, dup, w)
  }

  /** Probe form: scrub arriving documents of any span the static reference
    * corpus already contains.
    */
  def scrubAgainst(probe: DataFrame, index: DataFrame, w: Int = W): DataFrame =
    scrubWith(probe, index, w)
}
