package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity self-join on STRINGS — entity resolution's "did the same thing
  * get keyed twice with a typo?" join — kept sub-quadratic by
  * deletion-neighborhood blocking (the FastSS scheme, Bocek et al. 2007):
  * two strings within Levenshtein distance 1 MUST share a member of each
  * other's {self} ∪ {one-char-deleted variants} set, so the candidate
  * generator is a plain equi-join on variant strings — never an all-pairs
  * comparison — and an exact `levenshtein ≤ 1` verify makes the result
  * precise (over-generation is filtered; the blocking only has to be
  * lossless, which it provably is:
  *   - equal strings share the self variant;
  *   - a substitution at position i makes the two i-deletions equal;
  *   - an insertion makes the shorter string itself equal to one deletion of
  *     the longer).
  *
  * Scale shape: |s|+1 variant rows per input row (bounded fan-out, narrow),
  * one shuffle on the variant key, candidate dedup, then the codegen'd
  * `levenshtein` on candidates only. The same neighborhood trick extends to
  * distance k with C(|s|, k) variants — at k ≥ 2 prefer the shingle/banding
  * families in [[TextDedup]]; distance 1 is the sweet spot where this join
  * beats them outright (no threshold tuning, exact by construction).
  */
object FuzzyJoin {

  /** (id, str, v) — the blocking variants of each row: v ranges over the
    * string itself (i = 0) and every one-character deletion (i = 1..len).
    */
  def withVariants(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol), col(strCol),
        explode(sequence(lit(0), length(col(strCol)))).as("i"))
      .select(col(idCol), col(strCol),
        when(col("i") === 0, col(strCol))
          .otherwise(concat(
            col(strCol).substr(lit(1), col("i") - 1),
            col(strCol).substr(col("i") + 1, length(col(strCol))))).as("v"))

  /** The static side of the stream/probe form, prepared ONCE: the reference
    * set's variants, checkpointed so a per-trigger consumer never re-expands
    * them (same stream-static contract as `TextDedup.lshBandedIndex`).
    * Output: (ref_id, ref_str, v).
    */
  def variantIndex(df: DataFrame, idCol: String, strCol: String): DataFrame =
    Lineage.cut(withVariants(df, idCol, strCol)
      .select(col(idCol).as("ref_id"), col(strCol).as("ref_str"), col("v")))

  /** Probe-vs-reference pairs within Levenshtein distance ≤ 1 (NOT a
    * self-join): every probe row matched against the [[variantIndex]] by the
    * same lossless blocking, then exact-verified. Batch-local by
    * construction, so the streaming form is just this operator applied per
    * micro-batch through `graft.streaming.EachBatch` (see `FuzzyProbeSpec`). Output: (probe_id, ref_id, dist).
    */
  def probePairs(probe: DataFrame, idCol: String, strCol: String,
                 index: DataFrame): DataFrame =
    withVariants(probe, idCol, strCol)
      .select(col(idCol).as("probe_id"), col(strCol).as("probe_str"), col("v"))
      .join(index, Seq("v"))
      .select("probe_id", "ref_id", "probe_str", "ref_str").distinct()
      .withColumn("dist", levenshtein(col("probe_str"), col("ref_str")))
      .filter(col("dist") <= 1)
      .select(col("probe_id"), col("ref_id"), col("dist").cast("long").as("dist"))

  /** All unordered pairs within Levenshtein distance ≤ 1, exact. Output:
    * (id_a, id_b, dist) with id_a < id_b, dist ∈ {0, 1}.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val va = withVariants(df, idCol, strCol)
      .select(col(idCol).as("id_a"), col(strCol).as("str_a"), col("v"))
    val vb = withVariants(df, idCol, strCol)
      .select(col(idCol).as("id_b"), col(strCol).as("str_b"), col("v"))
    va.join(vb, Seq("v"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "str_a", "str_b").distinct()
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }
}
