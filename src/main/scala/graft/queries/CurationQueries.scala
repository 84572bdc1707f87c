package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Par, TextDedup}
import graft.sources.Tables

/** Corpus-curation layer of the training-data pipeline: dedup GROUPS (the
  * clustering step above pairwise near-dup detection), canonical-document
  * selection, benchmark decontamination, distinctive-term extraction, and
  * per-source quota sampling. Every query has a DuckDB oracle twin; all
  * arithmetic is integer/string-exact so comparisons are bit-exact.
  */
object CurationQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Near-dup pairs → transitive dedup groups: MinHash-LSH verified pairs
    * (the same oracle-checked `q_minhash_lsh` parameters) as edges, connected
    * components as the clustering, every document labeled with its group
    * (singletons = own id). This is the step a real 100 TB dedup pipeline
    * runs between "find pairs" and "drop losers": near-duplication is not
    * transitive, so pair-local loser-dropping (keep a, drop b) can drop BOTH
    * survivors of an a–b–c chain or keep near-dup twins; grouping first makes
    * the keep-set decision well-defined. Scale: the edge set is the
    * sub-quadratic LSH output (orders smaller than the corpus); CC rounds are
    * joins keyed by vertex id over that edge set only.
    */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = TextDedup.minhashDedupPairs(d, "doc_id", "text", n = 3,
      thresholdPct = 60, numHashes = 32, rowsPerBand = 2)
    ConnectedComponents.run(pairs, "doc_a", "doc_b",
        vertices = Some(d.select("doc_id")))
      .select(col("id").as("doc_id"), col("comp").as("group_id"))
  }

  /** Canonical-document selection per dedup group: keep the longest text,
    * ties broken by min id. One aggregation over the group assignment —
    * `max_by` on a (length, -id) struct gives the argmax with map-side
    * combine, no per-group sort (the window `row_number` form would sort
    * every group's rows; this carries one candidate per partial aggregate).
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    dedupGroups(spark, dir)
      .join(d.select(col("doc_id"), length(col("text")).cast("long").as("len")), "doc_id")
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"),
          struct(col("len"), (-col("doc_id")).as("nid"))).as("canonical_id"))
      .select(col("group_id"), col("n_members"), col("canonical_id"))
  }

  /** Benchmark decontamination: flag training documents sharing any 8-gram
    * with the held-out evaluation set (here: every 20th doc id stands in for
    * the benchmark). Output is the full training-side report — doc id,
    * number of distinct overlapping 8-grams, and the keep flag — so the
    * decision is auditable, not just the survivor list. Scale: the eval
    * shingle set is benchmark-sized (small by construction), so it is
    * broadcast; the training side stays a narrow scan + one aggregation —
    * no shuffle of the 100 TB side for the membership test.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val eval_ = d.filter(pmod(col("doc_id"), lit(20)) === 0)
    val shTrain = TextDedup.shingles(train, "doc_id", "text", 8)
    val shEval = TextDedup.shingles(eval_, "doc_id", "text", 8)
      .select("shingle").distinct()
    val overlap = shTrain.join(broadcast(shEval), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) === 0L).cast("long").as("kept"))
  }

  /** Decontamination through a FIXED-SIZE Bloom filter — the form of the
    * membership test that survives when the reference set outgrows an exact
    * broadcast: the eval 8-gram set is folded into a 64 KiB bitset (one
    * aggregation pass, word-OR merge), broadcast as a single row, and every
    * training shingle is probed with two md5-derived positions. Bloom
    * membership can false-positive but never false-negative, so the filter's
    * keep-decision is conservative (never keeps a contaminated doc the exact
    * test would drop); the report carries BOTH counts per doc so the
    * false-positive cost of the compression is auditable inline. The filter
    * contents and every probe verdict are bit-reproducible in DuckDB (md5 on
    * both sides), which is what lets the oracle check the Bloom SEMANTICS,
    * false positives included.
    */
  def deconBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{BloomBitsetAgg, BloomFilter}
    val d = docs(spark, dir)
    val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val eval_ = d.filter(pmod(col("doc_id"), lit(20)) === 0)
    val shEval = TextDedup.shingles(eval_, "doc_id", "text", 8)
      .select("shingle").distinct()
    val bits = shEval
      .select(explode(BloomFilter.positionsArray(
        TextDedup.tokenHash60(col("shingle")))).as("pos"))
      .as[Long]
      .select(new BloomBitsetAgg().toColumn.name("bits"))
    bloomVerdicts(train, shEval, bits.toDF())
  }

  /** The Bloom probe + report tail shared by [[deconBloom]] and
    * [[bloomMerge]] — ONE Spark-side truth mirroring the shared
    * [[deconBloomOracle]], so the verdict logic cannot drift between the
    * single-filter build and the merged realization (the 'identical oracle'
    * registration depends on exactly this equality).
    */
  private def bloomVerdicts(train: DataFrame, shEval: DataFrame,
                            bits: DataFrame): DataFrame = {
    import graft.functions.BloomFilter
    val shTrain = TextDedup.shingles(train, "doc_id", "text", 8)
    val bloomHits = shTrain.crossJoin(broadcast(bits))
      .filter(BloomFilter.mightContain(col("bits"),
        TextDedup.tokenHash60(col("shingle"))))
      .groupBy("doc_id").agg(count(lit(1)).as("bloom_hits"))
    val exactHits = shTrain.join(broadcast(shEval), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("exact_hits"))
    train.select(col("doc_id"))
      .join(bloomHits, Seq("doc_id"), "left")
      .join(exactHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bloom_hits"), lit(0L)).as("bloom_hits"),
        coalesce(col("exact_hits"), lit(0L)).as("exact_hits"),
        (coalesce(col("bloom_hits"), lit(0L)) === 0L).cast("long").as("kept"))
  }

  /** Bloom-filter MERGE fan-in, driver-checked under [[deconBloom]]'s
    * UNCHANGED oracle: the eval set is split per source (each "benchmark
    * suite" builds its own 64 KiB filter close to its data), the per-source
    * filters are OR-folded by [[graft.functions.BloomOrMerge]], and the
    * merged filter must produce byte-identical membership verdicts — OR of
    * bitsets ≡ bitset of the union. This is the distribution shape of
    * decontamination at 100 TB fan-in: only 64 KiB filters travel, never
    * shingle sets, and the registered equality proof is the license to ship
    * them independently.
    */
  def bloomMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{BloomBitsetAgg, BloomFilter, BloomOrMerge}
    val d = docs(spark, dir)
    val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val eval_ = d.filter(pmod(col("doc_id"), lit(20)) === 0)
    // ONE eval shingle pass, materialized: both the per-source filter build
    // and the exact-hits baseline read these blocks (the eval side is small;
    // two narrow shingle subtrees would otherwise recompute the scan — AQE
    // reuse only dedupes exchange-bounded identical stages)
    val shSrc = eval_
      .select(col("source"),
        explode(graft.functions.ShinglesExpression.shingles(col("text"), 8)).as("shingle"))
      .distinct()
      .pipe(graft.operators.Lineage.cut)
    val perSource = shSrc
      .select(col("source"), explode(BloomFilter.positionsArray(
        TextDedup.tokenHash60(col("shingle")))).as("pos"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new BloomBitsetAgg().toColumn.name("bits"))
    // global fold is deliberate here (vs q_hll_merge's keyed 'ALL'): an empty
    // eval side must still yield the all-zeros filter, whose verdicts (no
    // hits, all kept) are exactly the oracle's on empty input
    val bits = perSource.select(col("bits")).as[Array[Long]]
      .select(new BloomOrMerge().toColumn.name("bits"))
    bloomVerdicts(train, shSrc.select("shingle").distinct(), bits.toDF())
  }

  /** Top-3 distinctive terms per document by fixed-point TF-IDF:
    * `score_e6 = tf * ((N * 10⁶) div df)` — the rational-IDF (N/df) variant
    * in pure integer arithmetic, so both engines agree bit-for-bit (a
    * float `ln(N/df)` would rank near-identically but Java's and libm's
    * `log` may differ in the last ulp, which is exactly the kind of
    * cross-engine drift the gate bans; sublinear-IDF ranking is a one-line
    * swap where exactness is not contractual). Plan: tokenize → (doc, term)
    * counts → term document-frequency → scalar doc count broadcast →
    * per-doc top-3. Shuffles on (doc_id, term) then term — both
    * high-cardinality keys.
    */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfTbl, "term").crossJoin(broadcast(nDocs))
      .withColumn("score_e6", expr("tf * ((n_docs * 1000000) div df)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_e6").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_e6"), col("rnk"))
  }

  /** Queries / query terms / result depth for the BM25 retrieval query. */
  val Bm25Queries = 20
  val Bm25QueryTerms = 8
  val Bm25K = 10

  /** BM25 lexical retrieval in exact integer arithmetic — the classical
    * ranked retriever the RRF fusion's lexical side simplifies away: raw
    * overlap counts ignore term rarity, term-frequency saturation, and
    * document length; BM25 scores each shared term as
    * `IDF · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with k1=1.2, b=0.75.
    * Everything is rational here: multiplying through by 10·T (T = corpus
    * token count) makes the per-term score
    * `(idf_e6 · 22·T·tf) div (10·T·tf + 3·T + 9·dl·N)` — pure integer ops,
    * so both engines agree bit-for-bit (IDF is the same rational `N·10⁶ div
    * df` simplification as `q_tfidf_terms`, documented there; the log-IDF
    * form ranks near-identically but floats drift cross-engine). At corpus
    * scales where `idf_e6 · 22·T·tf` would overflow 64 bits the production
    * variant computes the same formula in doubles (ranking needs no
    * exactness contract); the fixed point is what makes THIS query
    * hash-checkable.
    *
    * Queries are the first [[Bm25Queries]] docs, each represented by its
    * [[Bm25QueryTerms]] most distinctive terms (the tf-idf keyword
    * extraction) — which also keeps the retrieval join selective: candidates
    * come from the posting lists of 8 rare-ish terms, not from every doc
    * sharing "the". The term equi-join IS the inverted index at scale.
    */
  def bm25Rank(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // 1-row guard on the fixed point's worst case: idf_e6 ≤ n_docs·10⁶
    // (df = 1) times 22·t_tokens·max_tf must fit in a Long, else the exact
    // e6 arithmetic dies HERE with an explicit message instead of an ANSI
    // overflow mid-join (or, worse, a silent DuckDB HUGEINT divergence);
    // past that scale use the double-scored production form (see scaladoc).
    // assert_true sits under a filter so column pruning cannot drop it.
    val scalars = d.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.agg(count(lit(1)).as("t_tokens")))
      .crossJoin(tf.agg(max(col("tf")).as("max_tf")))
      .filter(assert_true(
        expr("n_docs * 1000000 <= 9223372036854775807 div (22 * t_tokens * max_tf)"),
        lit("BM25 e6 fixed point overflows Long at this corpus scale; " +
          "switch to the double-scored production variant")).isNull)
      .select("n_docs", "t_tokens")

    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("q_score_e6").desc, col("term").asc)
    val qterms = tf.filter(col("doc_id") < Bm25Queries)
      .join(dfTbl, "term").crossJoin(broadcast(scalars))
      .withColumn("q_score_e6", expr("tf * ((n_docs * 1000000) div df)"))
      .withColumn("rn", row_number().over(wQ))
      .filter(col("rn") <= Bm25QueryTerms)
      .select(col("doc_id").as("query_id"), col("term"))

    val scored = qterms
      .join(tf.select(col("doc_id").as("cand_id"), col("term"), col("tf")), "term")
      .filter(col("cand_id") =!= col("query_id"))
      .join(dl.select(col("doc_id").as("cand_id"), col("dl")), "cand_id")
      .join(dfTbl, "term")
      .crossJoin(broadcast(scalars))
      .withColumn("term_score",
        expr("""(((n_docs * 1000000) div df) * (22 * t_tokens * tf))
                div (10 * t_tokens * tf + 3 * t_tokens + 9 * dl * n_docs)"""))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("term_score")).as("bm25_e6"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("bm25_e6").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= Bm25K)
      .select(col("query_id"), col("cand_id"), col("bm25_e6"), col("rank"))
  }

  /** Deterministic per-source quota sampling: keep at most 15 documents per
    * source, chosen by descending md5-derived hash (replayable, unlike
    * `rand()`) with id tie-break. Ranking runs through the bounded
    * [[graft.functions.TopK]] aggregator — O(quota) state per source with
    * map-side combine, so a pathologically hot source shuffles quota rows
    * per map task, not its whole membership (the `row_number` window form
    * would sort every row of the hot source on one task). The hash is
    * masked to 50 bits so its double image in the aggregator is exact.
    */
  def sourceQuota(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val quota = 15
    val hk = TextDedup.tokenHash60(col("doc_id").cast("string"))
      .bitwiseAND(lit((1L << 50) - 1))
    val agg = new graft.functions.TopK(quota)
    docs(spark, dir)
      .select(col("source"), hk.cast("double").as("score"), col("doc_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("source", "topk")
      .select(col("source"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("e._2").as("doc_id"))
  }

  /** Documents drawn per weighted-sample rank — [[weightedSample]]'s k. */
  val WeightedSampleK = 10

  /** Deterministic WEIGHTED sampling per source: k documents chosen with
    * probability increasing in document length — priority-sampling's
    * deterministic skeleton (key = hash/weight; the k smallest keys win, so
    * doubling a document's weight halves its expected key — the exact analogue
    * of A-ES weighted reservoir sampling with the md5 hash standing in for the
    * random draw, which is what makes the sample REPLAYABLE across runs and
    * re-shards). Long docs dominating the sample is the desired behavior when
    * sampling for token-weighted corpus audits: uniform doc sampling
    * under-represents exactly the documents holding most of the tokens.
    * The hash is masked to 50 bits so its double image is exact, and the
    * key division is one correctly-rounded IEEE op on identical operands —
    * bit-equal in both engines. Ranking runs through the bounded
    * [[graft.functions.TopK]] aggregator: O(k) state per source with map-side
    * combine, so a hot source shuffles k rows per map task, never its whole
    * membership.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hk = TextDedup.tokenHash60(col("doc_id").cast("string"))
      .bitwiseAND(lit((1L << 50) - 1))
    val w = greatest(col("n_chars"), lit(1L))
    val agg = new graft.functions.TopK(WeightedSampleK)
    val sampled = docs(spark, dir)
      .select(col("source"),
        (-(hk.cast("double") / w.cast("double"))).as("score"), col("doc_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("source", "topk")
      .select(col("source"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("e._2").as("doc_id"))
    sampled.join(docs(spark, dir).select(col("doc_id"), col("n_chars").as("weight")),
        "doc_id")
      .select(col("source"), col("rk"), col("doc_id"), col("weight"))
  }

  /** Per-language quality-quantile gate: keep documents at or above their
    * language's median quality. The quantile is EXACT without ever sorting
    * the corpus: `quality_e4` has a bounded integer domain (0..10⁴), so the
    * per-language distribution is a histogram — one aggregation to
    * (lang, quality) counts, a window over ≤10⁴ distinct values per
    * language (not per document — skew-free by construction), and the
    * resulting per-language thresholds broadcast back as a filter. The
    * `percent_rank`-over-documents formulation would globally sort every
    * language partition (the hot language = most of a 100 TB corpus on one
    * task); this computes the same kth-order-statistic from counts.
    */
  def qualityQuantileGate(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val s = docs(spark, dir).select(col("doc_id"),
      graft.functions.TextFunctions.langId(t).as("lang_id"),
      graft.functions.TextFunctions.qualityScoreE4(t).as("quality_e4"))
    val n = s.groupBy("lang_id").agg(count(lit(1)).as("n"))
    val h = s.groupBy("lang_id", "quality_e4").agg(count(lit(1)).as("c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("lang_id").orderBy(col("quality_e4").desc)
    val thr = h.withColumn("cum", sum(col("c")).over(wc))
      .join(n, "lang_id")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("lang_id").agg(max(col("quality_e4")).as("t"))
    s.join(broadcast(thr), "lang_id")
      .filter(col("quality_e4") >= col("t"))
      .select(col("doc_id"), col("lang_id"), col("quality_e4"))
  }

  /** Sample bound for [[quantileSketch]] — small enough that the harness
    * corpus drives the sketch into its ESTIMATING regime (languages hold
    * more than k documents), which the oracle replays exactly.
    */
  val QuantileSampleK = 64

  /** Sketched per-language length quantiles — the BOUNDED-STATE companion to
    * [[qualityQuantileGate]]'s exact histogram median: a
    * [[graft.functions.QuantileSample]] keeps the k=[[QuantileSampleK]]
    * documents with the smallest md5-derived row hashes (a uniform,
    * replayable sample — O(k) state per language with map-side combine,
    * never a per-language sort or full histogram shuffle), and p50/p90 are
    * integer-indexed order statistics of the sampled `n_chars`. The exact
    * histogram form costs a shuffle of (lang, value) cells — fine when the
    * value domain is bounded (quality_e4), wrong for unbounded domains at
    * 100 TB; the sketch costs k rows per language regardless of domain.
    * Because the "random" draw is the deterministic 60-bit hash, DuckDB
    * reproduces the sample bit-for-bit (`row_number() OVER (ORDER BY hash,
    * value) <= k`) — the estimating regime is hash-checked, not just the
    * degenerate exact regime.
    */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sk = new graft.functions.QuantileSample(QuantileSampleK)
    docs(spark, dir)
      .select(col("lang"),
        TextDedup.tokenHash60(col("doc_id").cast("string")).as("hk"),
        col("n_chars"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(sk.toColumn.name("vals"))
      .toDF("lang", "vals")
      .select(col("lang"),
        element_at(col("vals"), expr("CAST((size(vals) + 1) DIV 2 AS INT)"))
          .as("p50_chars"),
        element_at(col("vals"), expr("CAST((9 * size(vals) + 9) DIV 10 AS INT)"))
          .as("p90_chars"))
  }

  /** The curation CAPSTONE: every document labeled with its fate through the
    * FULL training-data funnel — the manifest a data engineer ships with a
    * corpus release, and the end-to-end composition of the layer's
    * already-oracle-checked stages (the funnel twin of the dedup layer's
    * `q_dedup_decision`). Verdicts, in precedence order:
    *
    *   - `eval_holdout` — the benchmark slice (doc_id % 20 = 0, the same
    *     synthetic eval set the decontamination queries pin); never training
    *     data, whatever its quality;
    *   - `dropped_lang` / `dropped_quality` — the [[TextQueries.corpusClean]]
    *     gates (non-English / quality below [[TextQueries.QualityFloor]]);
    *   - `dropped_exact_dup` — not the min-id of its content hash among gated
    *     docs;
    *   - `dropped_near_dup` — MinHash-LSH loser (same parameters as the
    *     cleaning pipeline; the LSH≡exact-Jaccard caveat documented there
    *     applies);
    *   - `dropped_contaminated` — a surviving doc sharing an 8-gram with the
    *     eval set ([[decontaminate]]'s exact membership test);
    *   - `kept` — training data, with the `q_data_split` 48/1/1 md5-bucket
    *     `split` assignment attached (NULL for every non-kept verdict).
    *
    * Scale shape: the gates are narrow codegen filters on the scan, each
    * dedup stage is the sub-quadratic keyed path, the eval shingle set is
    * broadcast (never shuffles the corpus), and the verdict assembly is
    * three left equi-joins onto the stats frame — one corpus-scale (the
    * winners id-set, one row per distinct gated doc: a shuffle join on the
    * id) and two genuinely small (near-dup losers, contaminated ids) — so
    * the funnel stays shuffle-bounded at 100 TB exactly like its component
    * queries.
    * The stats frame IS eagerly checkpointed: unlike `q_corpus_clean`
    * (where caching measured slower, r5 — two consumers, AQE reuse covers
    * them), the manifest fans the regex-heavy gate columns to FIVE
    * dependent subplans, and one materialized pass measured 3.52 s → 2.72 s
    * at sf0.1 (Explain time2, warm). Re-measure before changing either
    * choice — the break-even is the consumer count. Two operational caveats
    * of `localCheckpoint(true)`: (a) it runs the stats job at
    * DataFrame-CONSTRUCTION time, so merely building/explaining this query
    * executes a scan (plan-only tooling should use the `eager = false`
    * seam); (b) checkpoint blocks are executor-lifetime-bound — on a real
    * cluster with lost executors, swap for reliable `checkpoint`.
    */
  def corpusManifest(spark: SparkSession, dir: String): DataFrame =
    corpusManifestOf(docs(spark, dir))

  /** Manifest core over an explicit (doc_id, text) frame — the seam the
    * all-verdicts spec drives with a synthetic corpus (the harness corpus
    * never exercises `dropped_exact_dup`: its exact copies don't survive the
    * gates at the checked SFs). `eager = false` skips the stats checkpoint so
    * the plan audit can see the ONE documents scan the checkpoint job
    * otherwise hides behind truncated lineage (results are identical either
    * way — the flag only changes materialization).
    */
  private[graft] def corpusManifestOf(d: DataFrame, eager: Boolean = true): DataFrame = {
    val t = col("text")
    val isEval = pmod(col("doc_id"), lit(20L)) === 0
    val statsLazy = d.select(col("doc_id"), t,
      graft.functions.TextFunctions.langId(t).as("lang_id"),
      graft.functions.TextFunctions.qualityScoreE4(t).as("quality_e4"))
    val stats = if (eager) graft.operators.Lineage.cut(statsLazy) else statsLazy
    val gated = stats
      .filter(!isEval && col("lang_id") === "en" &&
        col("quality_e4") >= TextQueries.QualityFloor)
      .select(col("doc_id"), t)
    val winners = gated.select(col("doc_id"), md5(t.cast("binary")).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val kept = gated.join(winners, Seq("doc_id"), "left_semi")
    val nearLosers = TextDedup
      .minhashDedupPairs(kept, "doc_id", "text", n = 3,
        thresholdPct = 60, numHashes = 32, rowsPerBand = 2)
      .select(col("doc_b").as("doc_id")).distinct()
    val surv = kept.join(nearLosers, Seq("doc_id"), "left_anti")
    // eval shingles come off the checkpointed stats blocks, not a second
    // parquet scan of the text column
    val evalSh = TextDedup.shingles(stats.filter(isEval), "doc_id", "text", 8)
      .select("shingle").distinct()
    val contam = TextDedup.shingles(surv, "doc_id", "text", 8)
      .join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()

    val flags = stats.select(col("doc_id"), col("lang_id"), col("quality_e4"))
      .join(winners.withColumn("is_win", lit(1)), Seq("doc_id"), "left")
      .join(nearLosers.withColumn("is_nd", lit(1)), Seq("doc_id"), "left")
      .join(contam.withColumn("is_ct", lit(1)), Seq("doc_id"), "left")
    val verdict = when(isEval, "eval_holdout")
      .when(col("lang_id") =!= "en", "dropped_lang")
      .when(col("quality_e4") < TextQueries.QualityFloor, "dropped_quality")
      .when(col("is_win").isNull, "dropped_exact_dup")
      .when(col("is_nd").isNotNull, "dropped_near_dup")
      .when(col("is_ct").isNotNull, "dropped_contaminated")
      .otherwise("kept")
    flags.select(col("doc_id"), verdict.as("verdict"),
      when(verdict === "kept", splitLabel(col("doc_id")))
        .otherwise(lit(null).cast("string")).as("split"))
  }

  /** Sketch-merge fan-in for the quantile sample, driver-checked: per-(lang,
    * source) [[graft.functions.QuantileSampleState]] pair-states (≤ k rows
    * each) are merged per language by [[graft.functions.QuantileMerge]] —
    * the two-hop shape of a 100 TB rollup, where leaf states are built close
    * to the data and only sketches travel. Registered under the IDENTICAL
    * oracle as [[quantileSketch]]: any member of the union's k smallest
    * (hash, value) pairs is within its own source's k smallest, so the merge
    * reconstructs the direct per-language sample exactly and the driver
    * proves both plans agree bit-for-bit.
    */
  def quantileMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val states = docs(spark, dir)
      .select(col("lang"), col("source"),
        TextDedup.tokenHash60(col("doc_id").cast("string")).as("hk"),
        col("n_chars"))
      .as[(String, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .mapValues(r => (r._3, r._4))
      .agg(new graft.functions.QuantileSampleState(QuantileSampleK).toColumn.name("st"))
    states
      .map { case ((lang, _), st) => (lang, st) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.QuantileMerge(QuantileSampleK).toColumn.name("vals"))
      .toDF("lang", "vals")
      .select(col("lang"),
        element_at(col("vals"), expr("CAST((size(vals) + 1) DIV 2 AS INT)"))
          .as("p50_chars"),
        element_at(col("vals"), expr("CAST((9 * size(vals) + 9) DIV 10 AS INT)"))
          .as("p90_chars"))
  }

  /** Per-language token budget for the sampler: small enough that both
    * languages in the harness corpus hit the cap (the budget binds).
    */
  val TokenBudget = 2000L

  /** The ONE (doc_id, lang_id, n_tokens, hk) frame every per-language
    * prefix-sum stage consumes — [[tokenBudgetSample]],
    * [[tokenBudgetSampleScalable]], [[seqPack]], [[seqPackScalable]], and
    * [[packCalib]] all order documents by the same md5 hash key and sum the
    * same whitespace token count, so the frame lives here once: a drift in
    * the ordering or the denominator now changes every consumer (and its
    * oracle twin `langTokensCte` + the shared hash CTE) together instead of
    * silently desynchronizing the calibration from the packer it prices.
    */
  private def langTokensFrame(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(col("doc_id"),
      graft.functions.TextFunctions.langId(t).as("lang_id"),
      graft.functions.TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
      TextDedup.tokenHash60(col("doc_id").cast("string")).as("hk"))
  }

  /** The per-language (hk, doc_id)-ordered running-total window all the
    * window-form consumers of [[langTokensFrame]] share.
    */
  private def langCumsumWindow: org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .partitionBy("lang_id").orderBy(col("hk").asc, col("doc_id").asc)

  /** Deterministic token-budget sampling: fill each language's token budget
    * in md5-hash order (replayable — same sample on re-run or re-shard,
    * unlike `rand()`), keeping documents while the running token total fits.
    * The prefix sum is inherently sequential per language; this window form
    * states the semantics directly. At 100 TB the same result computes
    * scalably by range-partitioning each language on the hash key,
    * prefix-scanning per-range subtotals (tiny), and offsetting local
    * cumsums — the budget cut lands in one range, so only that range needs
    * the exact scan.
    *
    * Token denominator: `n_tokens` here is the WHITESPACE count — the
    * oracle-checkable baseline. The real-tokenizer denominator is
    * [[graft.operators.Bpe.bpeTokenCounts]] (BPE tokens under a learned
    * merge table, itself gated via `q_bpe_encode`): swap it in by replacing
    * the `tokenCount` column with the broadcast-joined per-word count — the
    * budget plumbing (hash order, window cumsum, range-partition scale path)
    * is unchanged. Measured at sf0.01 with the top-20 merge list the gate
    * checks: 27,165 whitespace tokens vs 97,003 BPE tokens — 3.57 BPE
    * tokens per word at this shallow 20-merge depth (1.26 chars per BPE
    * token); a production 32k-merge vocabulary drives tokens-per-word back
    * toward ~1. A budget stated in tokenizer tokens therefore differs from
    * the whitespace proxy by a corpus- and vocab-dependent factor, which is
    * why the denominator is swappable rather than baked in.
    */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    langTokensFrame(spark, dir)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(langCumsumWindow))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("lang_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** The token-budget sample through the SCALABLE prefix-scan realization
    * ([[graft.operators.PrefixScan]]) instead of the window form — same
    * semantics, same oracle, but no per-language sort ever lands on one task:
    * the documented 100 TB path, executed and driver-checked rather than
    * described. Registered under the identical DuckDB SQL as
    * [[tokenBudgetSample]], so the gate proves the two realizations agree.
    */
  def tokenBudgetSampleScalable(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.PrefixScan.langTokenCumsum(langTokensFrame(spark, dir))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("lang_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** Per-language budget in BPE TOKENS for the `_bpe` twins. The harness
    * corpus measures ~3.5 BPE tokens per whitespace word under the shallow
    * top-20 merge list the gate pins (see [[tokenBudgetSample]]'s
    * denominator note), so 7000 binds at roughly the same document depth as
    * [[TokenBudget]]=2000 does for the whitespace count — both languages
    * hit the cap at every sf.
    */
  val BpeTokenBudget = 7000L

  /** [[langTokensFrame]] with the REAL tokenizer denominator: per-document
    * BPE token counts under the deterministic top-`BpeTopK` merge list the
    * BPE gates (`q_bpe_encode`/`q_bpe_budget`) already oracle-check, in
    * place of the whitespace count. Scale anatomy (all pieces priced on the
    * BPE queries): ONE corpus rollup to the vocabulary (Lineage-cut, shared
    * by the merge-list collect and the count table), vocabulary-sized
    * encoding, then one broadcast (word → n_toks) join onto the corpus word
    * stream and a per-doc sum — the corpus is scanned twice (lang/hash
    * frame + word stream) and shuffled only on `doc_id`. Docs whose every
    * token misses the vocabulary (none in practice — the vocabulary IS the
    * corpus rollup) coalesce to 0 so the frame keeps one row per document
    * like its whitespace twin.
    */
  private def langBpeTokensFrame(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    langTokensFrameWith(d, graft.operators.Bpe.wordTokenTable(d, "text",
      TextQueries.BpeTopK))
  }

  /** The (doc_id, lang_id, n_tokens, hk) budget frame with each document's
    * token count summed from a broadcast (word, n_toks) table — the one body
    * every tokenizer-denominated budget shares; the tokenizer is only the
    * table.
    */
  private def langTokensFrameWith(d: DataFrame, wordToks: DataFrame): DataFrame =
    d.select(col("doc_id"),
        graft.functions.TextFunctions.langId(col("text")).as("lang_id"),
        TextDedup.tokenHash60(col("doc_id").cast("string")).as("hk"))
      .join(graft.operators.Bpe.bpeTokenCountsWith(d, "doc_id", "text", wordToks),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_id"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_tokens"), col("hk"))

  /** Per-language budget in UNIGRAM-LM tokens — same scale as the BPE twin
    * (the corpus measures 3.66 unigram vs 3.50 BPE tokens/word at the
    * gates' model sizes), so the same cap binds at comparable depth.
    */
  val UnigramTokenBudget = 7000L

  /** [[tokenBudgetBpe]]'s denominator seam proven TOKENIZER-AGNOSTIC: the
    * identical budget plumbing (md5-hash order, per-language cumsum) with
    * the per-word token counts coming from the unigram-LM round-1
    * segmentation ([[graft.operators.Unigram.viterbi]] sizes over the one
    * vocabulary rollup) instead of the BPE encode — swapping tokenizers
    * touches ONLY the broadcast (word → n_toks) table, which is the whole
    * point of routing every denominator through
    * [[graft.operators.Bpe.bpeTokenCountsWith]]'s word-join shape.
    */
  def tokenBudgetUnigram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val vocab = graft.operators.Lineage.cut(
      graft.operators.Bpe.wordVocab(d, "text"))
    val pieceCost = graft.operators.Unigram
      .seedPieces(vocab, TextQueries.UnigramSeedK)
      .select("piece", "cost").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(pieceCost)
    val wordToks = vocab.select(col("word")).as[String]
      .mapPartitions { it =>
        val cm = bc.value
        it.map(w => (w, graft.operators.Unigram.viterbi(w, cm).size.toLong))
      }.toDF("word", "n_toks")
    langTokensFrameWith(d, wordToks)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(langCumsumWindow))
      .filter(col("cum_tokens") <= UnigramTokenBudget)
      .select(col("doc_id"), col("lang_id"),
        col("n_tokens").as("n_uni_tokens"), col("cum_tokens"))
  }

  /** [[tokenBudgetSample]] with the budget denominated in BPE tokens — the
    * denominator a production pipeline actually budgets in (a training-token
    * budget is stated in tokenizer tokens, and the whitespace proxy is off
    * by a corpus- and vocabulary-dependent factor, measured 3.57× here).
    * Identical budget plumbing (md5-hash order, per-language cumsum, the
    * same range-partition prefix-scan scale path as the `_scan` twin); the
    * oracle replays the same recursion + broadcast word→count join the
    * `q_bpe_budget` gate already proves.
    */
  def tokenBudgetBpe(spark: SparkSession, dir: String): DataFrame = {
    langBpeTokensFrame(spark, dir)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(langCumsumWindow))
      .filter(col("cum_tokens") <= BpeTokenBudget)
      .select(col("doc_id"), col("lang_id"),
        col("n_tokens").as("n_bpe_tokens"), col("cum_tokens"))
  }

  /** [[seqPack]] packing [[SeqLen]]-token training sequences of BPE tokens —
    * what a pretraining packer actually packs (sequence length budgets are
    * tokenizer-token budgets). Same per-language concat-and-chunk prefix
    * sum over the [[langBpeTokensFrame]] denominator.
    */
  def seqPackBpe(spark: SparkSession, dir: String): DataFrame = {
    langBpeTokensFrame(spark, dir)
      .withColumn("start",
        sum(col("n_tokens")).over(langCumsumWindow) - col("n_tokens"))
      .select(col("doc_id"), col("lang_id"),
        expr(s"start div $SeqLen").as("pack_id"),
        expr(s"start % $SeqLen").as("pack_offset"))
  }

  /** Deterministic stratified train/val/test split report: every document
    * lands in a split by md5-hash bucket of its id (48/1/1 of 50 buckets —
    * replayable on re-run and stable under re-sharding, unlike `rand()`;
    * adding documents never moves an existing one between splits), and the
    * report shows docs/tokens per (language, split) — the stratification
    * audit read before training. One narrow scan + one aggregation over a
    * tiny key domain.
    */
  /** The ONE 48/1/1 md5-bucket split assignment every split-aware query
    * shares ([[dataSplit]], [[splitLeakage]], [[corpusManifestOf]]) — the
    * constants and hash derivation must stay bucket-identical across all of
    * them and their oracles, so they live here once.
    */
  private[graft] def splitLabel(id: Column): Column = {
    val b = pmod(TextDedup.tokenHash60(id.cast("string")), lit(50L))
    when(b < 48, "train").when(b === 48, "val").otherwise("test")
  }

  def dataSplit(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(col("doc_id"),
        graft.functions.TextFunctions.langId(t).as("lang_id"),
        graft.functions.TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
        splitLabel(col("doc_id")).as("split"))
      .groupBy("lang_id", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** Fixed training-sequence length for the packing query — small enough
    * that every sf produces multi-pack languages.
    */
  val SeqLen = 512L

  /** Concat-and-chunk sequence packing: documents are laid end-to-end per
    * language in deterministic md5-hash order and every document is labeled
    * with the [[SeqLen]]-token training sequence its first token lands in,
    * plus its offset inside that sequence — the standard pretraining packing
    * step (no padding waste), expressed as a per-language prefix sum. The
    * window form states the semantics; the 100 TB realization is the same
    * range-partition + per-range-subtotal prefix-scan documented at
    * [[tokenBudgetSample]] — pack boundaries only need each range's token
    * subtotal, not a global sort.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    langTokensFrame(spark, dir)
      .withColumn("start",
        sum(col("n_tokens")).over(langCumsumWindow) - col("n_tokens"))
      .select(col("doc_id"), col("lang_id"),
        expr(s"start div $SeqLen").as("pack_id"),
        expr(s"start % $SeqLen").as("pack_offset"))
  }

  /** [[seqPack]] through the bucketed prefix scan — same packing table, no
    * per-language sort on one task (see [[tokenBudgetSampleScalable]]);
    * registered under the identical oracle as the window form.
    */
  def seqPackScalable(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.PrefixScan.langTokenCumsum(langTokensFrame(spark, dir))
      .withColumn("start", col("cum_tokens") - col("n_tokens"))
      .select(col("doc_id"), col("lang_id"),
        expr(s"start div $SeqLen").as("pack_id"),
        expr(s"start % $SeqLen").as("pack_offset"))
  }

  /** Sequence lengths the packing calibration prices — bracketing the
    * deployed [[SeqLen]] (512) by 4× on both sides, single-sourced into the
    * oracle.
    */
  val PackCalibLens: Seq[Long] = Seq(128L, 256L, 512L, 1024L, 2048L)

  /** Packing-length calibration: prices [[SeqLen]], the max-sequence-length
    * knob of the concat-and-chunk packer ([[seqPack]]). Concat-and-chunk
    * wastes no intra-sequence padding, so the trade is FRAGMENTATION vs
    * sequence count: per candidate length L — `n_seqs` (training sequences
    * produced, ⌈lang_total/L⌉ summed over languages), `n_docs_split`
    * (documents cut by a sequence boundary, i.e. whose first and last token
    * land in different packs — the coherence cost), and `tail_pad_tokens`
    * (the only padding: each language's final partial sequence). All three
    * are integer arithmetic over the ONE per-language token prefix sum the
    * packer itself computes, swept by a narrow 5× explode; the 100 TB
    * realization of that cumsum is the same range-partition prefix scan as
    * [[seqPackScalable]].
    */
  def packCalib(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = langTokensFrame(spark, dir)
    val c = s.withColumn("strt",
      sum(col("n_tokens")).over(langCumsumWindow) - col("n_tokens"))
    val perDoc = c.select(col("strt"), col("n_tokens"),
        explode(lit(PackCalibLens.toArray)).as("max_len"))
      .groupBy("max_len")
      .agg(sum(when(expr("strt div max_len") =!= expr("(strt + n_tokens - 1) div max_len"),
        lit(1L)).otherwise(lit(0L))).as("n_docs_split"))
    val langTot = s.groupBy("lang_id").agg(sum(col("n_tokens")).as("tot"))
    val perLang = langTot.select(col("tot"), explode(lit(PackCalibLens.toArray)).as("max_len"))
      .groupBy("max_len")
      .agg(sum(expr("(tot + max_len - 1) div max_len")).as("n_seqs"),
        sum(expr("(max_len - tot % max_len) % max_len")).as("tail_pad_tokens"))
    PackCalibLens.toDF("max_len")
      .join(perDoc, Seq("max_len"), "left")
      .join(perLang, Seq("max_len"), "left")
      .select(col("max_len"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"),
        coalesce(col("n_docs_split"), lit(0L)).as("n_docs_split"),
        coalesce(col("tail_pad_tokens"), lit(0L)).as("tail_pad_tokens"))
  }

  /** Training-mixture report: documents, tokens, and exact fixed-point token
    * share per (language, source) cell — the sanity table every mixture
    * re-weighting decision reads. One aggregation plus a 1-row broadcast for
    * the global total.
    */
  def mixtureReport(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val s = docs(spark, dir).select(col("doc_id"),
      graft.functions.TextFunctions.langId(t).as("lang_id"),
      col("source"),
      graft.functions.TextFunctions.tokenCount(t).cast("long").as("n_tokens"))
    val tot = s.agg(sum(col("n_tokens")).as("total"))
    s.groupBy("lang_id", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("share_e6", expr("(n_tokens * 1000000) div total"))
      .select(col("lang_id"), col("source"), col("n_docs"),
        col("n_tokens"), col("share_e6"))
  }

  /** Per-source vocabulary profile: tokens, distinct terms, and the
    * type-token ratio in e6 fixed point — the lexical-diversity staple of a
    * corpus QA dashboard (template-generated or repetitive sources show a
    * collapsed TTR long before a human reads them). One tokenize fan-out,
    * one distinct on (source, term), two small aggregations.
    */
  def vocabStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    val nTok = toks.groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val nTerm = toks.distinct().groupBy("source").agg(count(lit(1)).as("n_terms"))
    nTok.join(nTerm, "source")
      .select(col("source"), col("n_tokens"), col("n_terms"),
        expr("(n_terms * 1000000) div n_tokens").as("ttr_e6"))
  }

  /** [[mixtureReport]] with the share denominator in BPE TOKENS — the
    * denominator a mixture re-weighting decision is actually stated in (a
    * training mixture is a split of the TOKEN budget; the whitespace proxy
    * mis-weights sources whose tokenizer fertility differs, measured 3.57×
    * on this corpus at the gate's 20-merge depth). Same report shape; the
    * per-doc count rides the single-sourced
    * [[graft.operators.Bpe.wordTokenTable]] broadcast join (one corpus word
    * stream + a per-doc sum), so the corpus is scanned twice and shuffled
    * only on `doc_id` — the `q_token_budget_bpe` scale anatomy.
    */
  def mixtureReportBpe(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val wordToks = graft.operators.Bpe.wordTokenTable(d, "text",
      TextQueries.BpeTopK)
    val cnt = graft.operators.Bpe.bpeTokenCountsWith(d, "doc_id", "text", wordToks)
    val s = d.select(col("doc_id"),
        graft.functions.TextFunctions.langId(col("text")).as("lang_id"),
        col("source"))
      .join(cnt, Seq("doc_id"), "left")
      .select(col("lang_id"), col("source"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
    val tot = s.agg(sum(col("n_bpe_tokens")).as("total"))
    s.groupBy("lang_id", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .crossJoin(broadcast(tot)) // 1-row scalar attach (audit-exempt aggregate)
      .withColumn("share_e6", expr("(n_bpe_tokens * 1000000) div total"))
      .select(col("lang_id"), col("source"), col("n_docs"),
        col("n_bpe_tokens"), col("share_e6"))
  }

  /** [[vocabStats]] over the BPE TOKEN stream — type/token statistics of
    * what the model actually consumes: each corpus word expands to its
    * learned subword segments (the broadcast
    * [[graft.operators.Bpe.encodedVocabTable]] (word → toks) join + one
    * explode), and the per-source token count, distinct-term count, and TTR
    * are computed over those. A subword vocabulary COMPRESSES the type
    * space (distinct terms ≤ distinct words by construction at this merge
    * depth), so TTR here reads as segmentation-diversity — collapsed values
    * still flag templated sources, in the unit the tokenizer sees. Corpus
    * scanned once; the explode fans out by measured ~3.6× (bounded by max
    * word length); two aggregations on the tiny source domain.
    */
  def vocabStatsBpe(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val seg = graft.operators.Bpe.encodedVocabTable(d, "text",
      TextQueries.BpeTopK)
    val toks = d
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(broadcast(seg), Seq("word"))
      .select(col("source"), explode(col("toks")).as("term"))
    val nTok = toks.groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val nTerm = toks.distinct().groupBy("source").agg(count(lit(1)).as("n_terms"))
    nTok.join(nTerm, "source")
      .select(col("source"), col("n_tokens"), col("n_terms"),
        expr("(n_terms * 1000000) div n_tokens").as("ttr_e6"))
  }

  /** Per-source document-length histogram in log₂ character buckets — the
    * size-distribution QA read (truncation, boilerplate stubs, and runaway
    * concatenations each bend a different end of the curve). Bucketing is
    * floor-log₂ via the BIT LENGTH of the integer (`length(bin(n)) − 1`),
    * never a float `log2` — a double log at an exact power of two can land
    * on 8.9999…/9.0000…1 differently per engine, exactly the cross-engine
    * drift the gate bans. One narrow scan + one tiny aggregation.
    */
  def lengthHist(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        (length(bin(greatest(col("n_chars"), lit(1L)))) - 1).cast("long").as("len_bucket"))
      .groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"))

  /** Corpus-trained bigram LM quality score — the exact-arithmetic skeleton
    * of the CCNet/KenLM perplexity filter: train P(w2|w1) on the corpus
    * itself (bigram count over prefix count), score each document by its
    * average bigram conditional probability in e6 fixed point. Documents
    * full of common word transitions score high; rare/garbled transitions
    * score low — the standard LM-quality signal, here in integer rational
    * arithmetic so both engines agree bit-for-bit (a log-prob sum would
    * rank near-identically but floats cross-engine drift; the ranking is
    * what the downstream gate consumes). Plan: one narrow bigram fan-out,
    * per-doc counts (shuffle on (doc, bigram)), model aggregation (shuffle
    * on bigram — high-cardinality, skew-free), prefix totals over the
    * model table (vocabulary-sized, not corpus-sized), then one join back
    * on bigram. Every bigram of every doc is in the model by construction,
    * so the score join is inner; sub-2-token docs come back via the final
    * left join at score 0.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    lmScoreOfBigramCounts(d, d.select(col("doc_id"),
        explode(graft.functions.ShinglesExpression.shingles(col("text"), 2)).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n")))
  }

  /** [[lmScore]] with the LM trained and evaluated over the BPE TOKEN
    * sequence — the unit a CCNet/KenLM-style quality filter actually runs
    * on (perplexity models are trained on tokenized text; the whitespace
    * form is the oracle-checkable proxy). The token-sequence bigrams are
    * built WITHOUT materializing the sequence: every adjacent token pair
    * is either INSIDE one word (derivable per DISTINCT word from the
    * broadcast segment table — vocabulary-sized, weighted by the word's
    * per-doc count) or ACROSS a word boundary (the word-bigram stream —
    * the same codegen shingle fan-out as the whitespace twin — joined to
    * the broadcast first/last-segment table). No per-document window sort,
    * no n·segments fan-out: the corpus is touched by two narrow codegen
    * passes and shuffled only on (doc, word)/(doc, bigram). Wall time at
    * sf0.1 (~3.5 s) is a wash vs the posexplode+lead-window formulation it
    * replaced — the per-(doc, bigram) scoring shuffle that any formulation
    * pays dominates — but the plan sheds the window state and the
    * n·segments intermediate, which is what matters at 100×. Same
    * exact-rational scoring tail as the whitespace twin; an empty word
    * (double space) BREAKS adjacency rather than being skipped — both
    * engines implement that same rule.
    */
  def lmScoreBpe(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    lmScoreOfBigramCounts(d, bpeTokenBigramCounts(d))
  }

  /** Per-document BPE-token bigram counts (doc_id, bigram, n) via the
    * intra-word + boundary decomposition (see [[lmScoreBpe]]).
    */
  private def bpeTokenBigramCounts(d: DataFrame): DataFrame = {
    val seg = graft.operators.Bpe.encodedVocabTable(d, "text",
      TextQueries.BpeTopK)
    // each distinct word's internal adjacent segment pairs, one row per
    // occurrence (duplicates preserved — they weight the count)
    val intraTab = seg.filter(size(col("toks")) >= 2)
      .select(col("word"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i - 1], ' ', toks[i]))"))
        .as("bigram"))
    val bounds = seg.select(col("word"),
      col("toks").getItem(0).as("first_tok"),
      element_at(col("toks"), -1).as("last_tok"))
    val wordCounts = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("wn"))
    val intra = wordCounts.join(broadcast(intraTab), Seq("word"))
      .select(col("doc_id"), col("bigram"), col("wn"))
    val cross = d.select(col("doc_id"),
        explode(graft.functions.ShinglesExpression.shingles(col("text"), 2)).as("wb"))
      .groupBy("doc_id", "wb").agg(count(lit(1)).as("wn"))
      .select(col("doc_id"), col("wn"),
        split(col("wb"), " ").getItem(0).as("w1"),
        split(col("wb"), " ").getItem(1).as("w2"))
      .join(broadcast(bounds.select(col("word").as("w1"), col("last_tok"))), Seq("w1"))
      .join(broadcast(bounds.select(col("word").as("w2"), col("first_tok"))), Seq("w2"))
      .select(col("doc_id"),
        concat(col("last_tok"), lit(" "), col("first_tok")).as("bigram"), col("wn"))
    intra.unionByName(cross)
      .groupBy("doc_id", "bigram").agg(sum(col("wn")).as("n"))
  }

  /** The bigram-LM scoring tail shared by the whitespace and BPE-token
    * realizations: the corpus conditional model in exact rationals, per-doc
    * mean probability in e6 fixed point. `docBg` must carry
    * (doc_id, bigram, n) with space-separated bigram halves.
    */
  private def lmScoreOfBigramCounts(d: DataFrame, docBg0: DataFrame): DataFrame = {
    // the per-doc bigram table is consumed by THREE dependent subplans (the
    // conditional model's m12 — itself read twice via m1 — and the scoring
    // join), and the stage profile showed the whole intra+boundary pipeline
    // executing three times (~2.5 s cpu each at sf0.1) — cross-consumer AQE
    // reuse does not cover it. One cut replaces three executions; narrow
    // (doc_id, bigram, n) rows, far above the 2-consumer break-even the
    // repo's other cut decisions measured.
    val docBg = graft.operators.Lineage.cut(docBg0)
    val m12 = docBg.groupBy("bigram").agg(sum(col("n")).as("c12"))
    val m1 = m12.select(split(col("bigram"), " ").getItem(0).as("w1"), col("c12"))
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
    val model = m12.withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(m1, "w1")
      .select(col("bigram"), expr("(c12 * 1000000) div c1").as("p_e6"))
    val scored = docBg.join(model, "bigram")
      .groupBy("doc_id")
      .agg(sum(col("n") * col("p_e6")).as("sp"), sum(col("n")).as("nb"))
    d.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(expr("sp div nb"), lit(0L)).as("lm_score_e6"))
  }

  /** Train/eval split LEAKAGE audit: near-duplicate pairs whose endpoints
    * landed in DIFFERENT splits of the [[dataSplit]] assignment — the quiet
    * failure mode of random splitting (a val/test doc with a training-set
    * near-twin inflates eval scores exactly where the model memorized).
    * Both evidence families feed the audit: lexical MinHash-LSH pairs and
    * semantic IVF-blocked cosine pairs, tagged with which signal (or both)
    * caught them, so triage can prioritize the semantic-only pairs the
    * cheap lexical pass would have missed. Plan: the two pair generators
    * (both sub-quadratic), one tiny aggregation over the pair union, split
    * labels joined onto the endpoints — shuffles scale with the evidence,
    * never the corpus.
    *
    * Bench-anomaly closure (rounds 9-11): the round-10 driver bench put this
    * query at 4.31 s — 2.4x its round-9 1.80 s — with no code change in its
    * lineage, raising an ordering-sensitivity suspicion (it runs right after
    * the checkpoint-heavy capstones). Two subsequent post-anomaly
    * measurements came back at the old level with the code still untouched:
    * a repo-side min-of-3 at 1.80 s and the round-11 driver bench at 1.76 s.
    * Verdict: environment noise (one-off JIT/GC/page-cache interference),
    * not a plan or ordering effect — the plan re-audited identical. Precedent
    * for future anomalies: a single >2x move in one bench run with an
    * unchanged plan is re-measured before it is treated as a regression
    * (`tools/bench_diff.py` flags at 1.5x; re-run before acting on a flag).
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val lex = TextDedup.minhashDedupPairs(d, "doc_id", "text", n = 3,
        thresholdPct = 60, numHashes = 32, rowsPerBand = 2)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit("lex").as("sig"))
    val emb = graft.operators.Embeddings.ivfNearDupPairs(
        Tables(spark, dir, "embeddings"), EmbeddingQueries.NumCentroids,
        EmbeddingQueries.NearDupAssign, EmbeddingQueries.NearDupThreshold)
      .select(col("vec_a").as("a"), col("vec_b").as("b"), lit("emb").as("sig"))
    val tagged = lex.union(emb).groupBy("a", "b")
      .agg(when(count(lit(1)) === 2, "both").otherwise(min(col("sig"))).as("signal"))
    val splits = d.select(col("doc_id"), splitLabel(col("doc_id")).as("split"))
    tagged
      .join(splits.select(col("doc_id").as("a"), col("split").as("split_a")), "a")
      .join(splits.select(col("doc_id").as("b"), col("split").as("split_b")), "b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("split_a"), col("split_b"), col("signal"))
  }

  /** Multi-signal dedup groups: LEXICAL near-dup evidence (MinHash-LSH
    * verified Jaccard pairs over text) and SEMANTIC evidence (IVF-blocked
    * cosine pairs over the documents' embeddings) unioned into ONE edge set,
    * clustered transitively — two docs land in a group if EITHER signal
    * connects them, directly or through intermediates. This is how
    * production dedup actually decides: paraphrases that share no shingles
    * arrive via the embedding edge, exact-ish copies via the cheap lexical
    * edge, and connected components reconciles overlapping clusters from
    * both detectors into a consistent grouping.
    */
  private def unifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val textPairs = TextDedup.minhashDedupPairs(d, "doc_id", "text", n = 3,
        thresholdPct = 60, numHashes = 32, rowsPerBand = 2)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val embPairs = graft.operators.Embeddings.ivfNearDupPairs(
        Tables(spark, dir, "embeddings"), EmbeddingQueries.NumCentroids,
        EmbeddingQueries.NearDupAssign, EmbeddingQueries.NearDupThreshold)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
    textPairs.union(embPairs)
  }

  def unifiedGroups(spark: SparkSession, dir: String): DataFrame =
    ConnectedComponents.run(unifiedPairs(spark, dir), "a", "b",
        vertices = Some(docs(spark, dir).select("doc_id")))
      .select(col("id").as("doc_id"), col("comp").as("group_id"))

  /** The capstone per-document DECISION table: what actually happens to every
    * document when the whole dedup layer runs, with the reason and the
    * canonical document it defers to. Precedence mirrors pipeline cost —
    * cheapest signal wins the explanation:
    *
    *   1. `exact_dup`   — identical text exists under a smaller id
    *                      (canonical = min id of the content hash);
    *   2. `canon_dup`   — identical AFTER lowercasing + whitespace collapse
    *                      (the [[TextQueries.canonCollisionsOf]] equality;
    *                      canonical = min id of the canonical hash) without
    *                      being byte-identical to it;
    *   3. `near_dup`    — loser of its unified lexical∪semantic dedup group
    *                      (canonical = the group's longest text, ties → min
    *                      id — the [[dedupCanonical]] rule over the
    *                      [[unifiedGroups]] clustering);
    *   4. `contained`   — ≥80% shingle-contained in some longer doc
    *                      (canonical = its smallest-id container) without
    *                      tripping the symmetric near-dup cut;
    *   5. `kept`        — survives, canonical = itself.
    *
    * This is the table a pipeline run ships to reviewers: every drop is
    * attributable to one auditable signal and one kept document.
    *
    * Scale shape: the corpus is scanned exactly TWICE, each scan checkpointed
    * once and fanned out to every signal — (1) a doc-level facts frame
    * (content hash, canonical hash, length) feeding the exact & canonical
    * passes, the group-canonical rule, and the vertex universe; (2) ONE
    * [[TextDedup.shingleIntersections]] frame feeding BOTH the lexical
    * near-dup signal (exact-Jaccard filter — precisely the oracle's `tpairs`
    * CTE, so this is the one composition where LSH would be pure redundancy:
    * the containment signal needs the full shingle equi-join regardless, and
    * filtering it twice costs nothing more) and the containment signal
    * (directional filters). Without the checkpoints,
    * [[ConnectedComponents]]' own lineage cut makes AQE stage reuse
    * impossible across the CC boundary, and each signal would re-scan
    * documents and rebuild 3-gram shingles independently — the redundancy
    * that multiplies at 100 TB where the scan is the dominant cost. At that
    * scale the intersections stage takes the hot-shingle `maxShingleFreq`
    * cap (the prefix-filter skew guard); standalone near-dup detection
    * WITHOUT a containment signal should keep using the LSH path
    * ([[unifiedGroups]]), which avoids the shingle equi-join entirely.
    */
  def dedupDecision(spark: SparkSession, dir: String): DataFrame =
    dedupDecisionOf(docs(spark, dir), Tables(spark, dir, "embeddings"))

  /** Decision-table core over explicit (doc_id, text) and (vec_id, embedding)
    * frames — the seam the canonical-variant spec drives with synthetic
    * corpora (the harness corpus has no formatting variants, so `canon_dup`
    * never fires there and the registered query's output is unchanged by the
    * canonical pass).
    */
  private[graft] def dedupDecisionOf(d: DataFrame, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Par.ec
    val canonText = trim(regexp_replace(lower(col("text")), " +", " "))
    // DATAFLOW materialization: the three base frames are independent, and
    // each downstream signal starts the moment ITS inputs land — sequential
    // eager checkpoints would pay the SUM of the doc scan, the shingle
    // equi-join, the IVF pair pipeline, the hash-canonical windows, the
    // containment aggregation, and the CC rounds; the future graph pays the
    // critical path max(shingles, ivf) + CC, with every side signal hidden
    // under the CC rounds.
    val fFacts = Par.ckpt(d.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h"),
      md5(canonText.cast("binary")).as("ch"),
      length(col("text")).cast("long").as("len")))
    val fW = Par.ckpt(TextDedup.shingleIntersections(d, "doc_id", "text", n = 3))
    val fEmbPairs = Par.ckpt(graft.operators.Embeddings.ivfNearDupPairs(emb,
        EmbeddingQueries.NumCentroids, EmbeddingQueries.NearDupAssign,
        EmbeddingQueries.NearDupThreshold)
      .select(col("vec_a").as("a"), col("vec_b").as("b")))

    // hash-canonical labels as WINDOW mins (one shuffle each, no join-back):
    // `min(doc_id) over (partition by h)` ≡ the groupBy(h)+self-join form but
    // with half the exchanges — the frame stays doc_id-keyed throughout.
    // Needs only `facts`, so it overlaps with the shingle/IVF/CC work.
    val fHashCanons = fFacts.map { facts =>
      facts
        .withColumn("exact_canon", min(col("doc_id")).over(Window.partitionBy("h")))
        .withColumn("canon_canon", min(col("doc_id")).over(Window.partitionBy("ch")))
        .select(col("doc_id"), col("len"), col("exact_canon"), col("canon_canon"))
        .pipe(graft.operators.Lineage.cut)
    }
    // containment needs only the shingle-intersection frame — overlaps with CC
    val fContainer = fW.map { w =>
      w.filter(col("inter") * 100 >= lit(80) * col("size_a"))
        .select(col("doc_a").as("doc_id"), col("doc_b").as("container"))
        .union(w.filter(col("inter") * 100 >= lit(80) * col("size_b"))
          .select(col("doc_b").as("doc_id"), col("doc_a").as("container")))
        .groupBy("doc_id")
        .agg(min(col("container")).as("container"))
        .pipe(graft.operators.Lineage.cut)
    }
    // the iterative CC rounds are the longest dependent chain: start as soon
    // as both pair generators land
    val fGroups = for { w <- fW; embPairs <- fEmbPairs; facts <- fFacts } yield {
      val textPairs = w
        .filter(col("inter") * 100 >=
          lit(60) * (col("size_a") + col("size_b") - col("inter")))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      ConnectedComponents.run(textPairs.union(embPairs), "a", "b",
          vertices = Some(facts.select("doc_id")))
        .select(col("id").as("doc_id"), col("comp").as("group_id"))
    }

    val hashCanons = Par.await(fHashCanons)
    val groups = Par.await(fGroups)
    val container = Par.await(fContainer)

    // group canonical as a window max_by over the group partition — again one
    // shuffle instead of groupBy + join-back
    val grp = groups.join(hashCanons.select("doc_id", "len"), "doc_id")
      .withColumn("group_canon",
        max_by(col("doc_id"), struct(col("len"), (-col("doc_id")).as("nid")))
          .over(Window.partitionBy("group_id")))
      .select(col("doc_id"), col("group_canon"))

    hashCanons.select(col("doc_id"), col("exact_canon"), col("canon_canon"))
      .join(grp, "doc_id")
      .join(container, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_canon") =!= col("doc_id"), "exact_dup")
          .when(col("canon_canon") =!= col("doc_id"), "canon_dup")
          .when(col("group_canon") =!= col("doc_id"), "near_dup")
          .when(col("container").isNotNull, "contained")
          .otherwise("kept").as("verdict"),
        when(col("exact_canon") =!= col("doc_id"), col("exact_canon"))
          .when(col("canon_canon") =!= col("doc_id"), col("canon_canon"))
          .when(col("group_canon") =!= col("doc_id"), col("group_canon"))
          .when(col("container").isNotNull, col("container"))
          .otherwise(col("doc_id")).as("canonical_id"))
  }

  /** Cross-document repeated passages: md5 fingerprints of the same 16-token
    * stride-8 windows as `q_doc_chunks`, grouped — a passage hash seen in
    * more than one document is boilerplate / license text / copy-paste, the
    * passage-level dedup signal that document-level near-dup misses. One
    * narrow fan-out then a single shuffle on the passage hash. The stride
    * trades recall for 8× less window volume: a cross-doc repeat is detected
    * when its alignment offsets agree mod the stride (always true for
    * head-anchored boilerplate); stride 1 is the exhaustive mode — same
    * plan, denser windows.
    */
  /** (doc_id, passage_hash) rows of the 16-token stride-8 windows — shared by
    * the passage-overlap report and the passage-graph centrality query.
    */
  private def passageHashes(spark: SparkSession, dir: String): DataFrame = {
    val W = 16
    val S = 8
    val toks = split(col("text"), " ")
    val chunk = slice(col("t"), (col("k") * S + 1).cast("int"), lit(W))
    docs(spark, dir)
      .select(col("doc_id"), toks.as("t"),
        explode(sequence(lit(0L),
          ceil(greatest(size(toks).cast("long") - W, lit(0L)) / lit(S.toDouble))
            .cast("long"))).as("k"))
      .select(col("doc_id"), md5(array_join(chunk, " ").cast("binary")).as("passage_hash"))
  }

  def passageOverlap(spark: SparkSession, dir: String): DataFrame =
    passageHashes(spark, dir)
      .groupBy("passage_hash")
      .agg(count_distinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)

  /** Cross-document fingerprint overlap under WINNOWING selection
    * ([[TextDedup.winnowFingerprints]], Schleimer et al. SIGMOD'03) — the
    * passage-overlap report rebuilt on the fingerprint family with a
    * detection GUARANTEE: any shared token run of ≥ w+k−1 = 7 tokens yields
    * a shared fingerprint regardless of alignment, where the stride-8
    * passage windows miss repeats whose offsets disagree mod 8. Fingerprint
    * density is ~2/(w+1) of the stride-1 shingle volume, so the shuffle that
    * follows selection carries ~2.5× fewer rows than exhaustive stride-1
    * passages at strictly better recall than stride-8. Same downstream
    * shape as `q_passage_overlap`: group by fingerprint, count docs.
    */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame =
    TextDedup.winnowFingerprints(
        docs(spark, dir).select(col("doc_id"), col("text")), "doc_id", "text")
      .groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)

  /** Hot-passage cap for the centrality graph: passages shared by more than
    * this many documents contribute no edges (a universal boilerplate line
    * would otherwise emit O(n²) pairs — the same quadratic guard as the
    * Jaccard prefix filter; such passages are exactly what
    * [[passageOverlap]] reports on directly).
    */
  val RankPassageCap = 50

  /** Document centrality over the passage-sharing graph: 5 rounds of exact
    * fixed-point PageRank ([[graft.operators.GraphRank]]) where doc A links
    * to doc B when they share a 16-token passage. High-rank documents are the
    * template/boilerplate HUBS whose content radiates through the corpus —
    * complementary to dedup groups (a hub connects many small groups without
    * being a near-dup of any one member), and the natural priority order for
    * a human curation review queue. Edge generation is the sub-quadratic
    * bucket join on the passage hash (capped by [[RankPassageCap]]); each
    * rank round is one edge-list join + one aggregation, integer arithmetic
    * end to end so the DuckDB oracle chains the identical recurrence.
    */
  private def passageEdges(spark: SparkSession, dir: String): DataFrame = {
    // two consumers (the hot-cap aggregation and the bucket join's both
    // sides) re-ran the md5-window fan-out; one cut materializes it once
    val ph = graft.operators.Lineage.cut(passageHashes(spark, dir).distinct())
    val ok = ph.groupBy("passage_hash").agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, RankPassageCap))
      .select("passage_hash")
    val phF = ph.join(ok, Seq("passage_hash"), "left_semi")
    phF.alias("a")
      .join(phF.alias("b"), "passage_hash")
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
  }

  def docRank(spark: SparkSession, dir: String): DataFrame =
    graft.operators.GraphRank.pageRank(passageEdges(spark, dir), "src", "dst",
        docs(spark, dir).select("doc_id"), iters = 5)
      .select(col("id").as("doc_id"), col("rank_e6"))

  /** Passage-graph degree distribution — the health view under [[docRank]]:
    * how many documents have how many passage-sharing neighbors (degree 0 =
    * the isolated majority). A fat tail here is the early warning that the
    * hot-passage cap needs lowering (degree drives both the rank iteration's
    * join volume and the plausibility of the centrality signal). One tiny
    * aggregation over the capped edge list plus a left join for the zeros.
    */
  def graphDegree(spark: SparkSession, dir: String): DataFrame = {
    val deg = passageEdges(spark, dir).distinct()
      .groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
    docs(spark, dir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_docs"))
  }

  /** Corpus snapshot diff over a deterministically-derived previous snapshot:
    * the harness ships one corpus version, so "previous" is reconstructed
    * from it by pure arithmetic — every 17th id is withheld (appears `added`
    * in current), every 13th carries a ` v1` suffix (appears `changed`), and
    * every 19th contributes an id-shifted ghost row absent from current
    * (appears `removed`) — exercising all four [[SnapshotDiff]] verdicts
    * under an oracle that replays the same derivation. The synthetic-prev
    * trick parallels the PII-scrub query's planted emails: the OPERATOR under
    * test is real; only the second input is manufactured.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val cur = docs(spark, dir).select(col("doc_id"), col("text"))
    val prev = cur.filter(pmod(col("doc_id"), lit(17L)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13L)) === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
      .union(cur.filter(pmod(col("doc_id"), lit(19L)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
    graft.operators.SnapshotDiff.diff(prev, cur, "doc_id", "text")
  }

  /** Token budget anchoring [[mixtureWeights]]' expected-epochs column: how
    * many passes over each source a 10⁹-token training run implies. A
    * constant (not Σ tokens) keeps the e6 fixed-point product inside Long
    * range at ANY corpus size: 10⁹·10⁶ = 10¹⁵ ≪ 2⁶³.
    */
  val MixtureBudgetTokens = 1000000000L

  /** Temperature-scaled source mixture weights — the sampling-schedule
    * companion to [[mixtureReport]]: w_i ∝ n_i^τ at τ = ½ (the standard
    * multilingual/multi-source rebalancing that up-samples small sources),
    * plus the expected epochs over each source implied by a
    * [[MixtureBudgetTokens]]-token run (epochs > 1e6 ⇒ the schedule repeats
    * that source — the overfitting signal mixture designers watch).
    *
    * τ is pinned to ½ because n^½ is IEEE `sqrt` — correctly rounded and
    * bit-identical in Spark and DuckDB, so `floor(sqrt(n))` is a
    * deterministic integer and everything downstream is exact fixed-point;
    * a general τ needs `pow`, whose libm rounding the cross-engine gate
    * cannot trust. Shape: one narrow scan, a per-source aggregation over a
    * tiny key domain, one broadcast scalar.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureScheduleOf(docs(spark, dir), MixtureBudgetTokens)

  /** Repetition ceiling for [[mixtureCapped]] — the data-constrained
    * scaling-law rule of thumb (a few epochs of repeated data retain value,
    * more decays), exercised per language on the harness data.
    */
  val MixtureCapEpochs = 2L

  /** CAPPED WATER-FILLING mixture allocation — the constraint
    * [[mixtureWeights]]' temperature schedule ignores: no source may repeat
    * beyond [[MixtureCapEpochs]] epochs (the data-constrained "max
    * repetitions" rule), and budget freed by capped sources REDISTRIBUTES to
    * the uncapped ones in weight proportion. Allocation b_i = min(cap_i,
    * θ·w_i) with θ the unique water level making Σb = B (B = 1.8× the corpus
    * token count here, putting θ strictly inside the harness langs' cap
    * ratios so BOTH branches gate at every sf: the small languages hit the
    * ceiling, the overflow flows to `en`).
    *
    * The fixpoint is computed distributively, no iteration: sources sorted
    * by r_i = cap_i/w_i (capped set is always a prefix), and source i is
    * capped IFF cap_i·(W − cumw_i) ≤ (B − cumcap_i)·w_i at its own inclusive
    * prefix — an exact integer cross-multiplication test (verified against
    * the exhaustive fixpoint on 6000 random (cap, budget) instances in
    * prototyping; `MixtureCappedSpec` pins feasibility + optimality
    * properties). All comparisons are long cross-products: fine up to
    * ~10^9-token groups with sqrt weights; beyond that rescale w.
    *
    * Scale shape: one per-lang aggregation over the corpus; everything after
    * runs on G = #groups rows (the 5-row window sort is the point — group
    * tables are small BY DEFINITION; the two 1-row attaches are
    * audit-exempt scalars).
    */
  def mixtureCapped(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
    val s = n
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("cap", lit(MixtureCapEpochs) * col("n_tokens"))
    val tot = s.agg(sum(col("n_tokens")).as("tt"), sum(col("w")).as("wt"))
    val ord = Window.orderBy(col("r").asc, col("lang").asc)
    val flagged = s.crossJoin(broadcast(tot)) // 1-row scalar attach (exempt)
      .withColumn("budget", expr("tt * 18 div 10"))
      .withColumn("r", col("cap").cast("double") / col("w").cast("double"))
      .withColumn("cumcap", sum(col("cap")).over(ord))
      .withColumn("cumw", sum(col("w")).over(ord))
      .withColumn("capped",
        (col("cap") * (col("wt") - col("cumw"))
          <= (col("budget") - col("cumcap")) * col("w")).cast("long"))
    val rem = flagged.agg(
      sum(when(col("capped") === 1L, col("cap")).otherwise(0L)).as("capsum"),
      sum(when(col("capped") === 1L, col("w")).otherwise(0L)).as("wcap"))
    flagged.crossJoin(broadcast(rem)) // 1-row scalar attach (exempt)
      .withColumn("alloc", when(col("capped") === 1L, col("cap"))
        .otherwise(expr("(budget - capsum) * w div (wt - wcap)")))
      .select(col("lang"), col("n_tokens"), col("cap").as("cap_tokens"),
        col("capped"), col("alloc").as("alloc_tokens"),
        expr("alloc * 1000000 div n_tokens").as("epochs_e6"))
  }

  /** The ONE schedule computation [[mixtureWeights]] and [[epochPlan]] both
    * consume — per-source `(n_tokens, weight_e6, epochs_e6)` under the given
    * token budget, exact e6 fixed point (the subtle arithmetic — IEEE
    * `floor(sqrt)`, `(budget · w_e6) div n` — lives in exactly one place so
    * the two oracle-mirrored callers cannot drift apart).
    */
  private def mixtureScheduleOf(d: DataFrame, budgetTokens: Long): DataFrame = {
    val n = d
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
    val s = n.withColumn("s", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = s.agg(sum(col("s")).as("s_tot"))
    s.crossJoin(broadcast(tot)) // 1-row scalar attach (audit-exempt aggregate)
      .withColumn("weight_e6", expr("(s * 1000000) div s_tot"))
      .select(col("source"), col("n_tokens"), col("weight_e6"),
        expr(s"($budgetTokens * weight_e6) div n_tokens").as("epochs_e6"))
  }

  /** Token budget for the epoch MATERIALIZATION query — small enough that
    * the realized row multiset stays modest at every test sf (unlike
    * [[MixtureBudgetTokens]], which prices a real training run; the
    * materializer's shape is budget-independent).
    */
  val EpochBudgetTokens = 100000L

  /** Epoch materializer — the missing last step after [[mixtureWeights]]:
    * turn the temperature-scaled schedule into the ACTUAL replicated row
    * multiset a training run consumes. Each source's expected epoch count
    * under a [[EpochBudgetTokens]]-token budget is `budget·w_i / n_i`
    * (exact e6 fixed point, same arithmetic as [[mixtureWeights]]); every
    * document is emitted `floor(epochs)` times, plus one more when its
    * deterministic 60-bit hash draw falls below the fractional part —
    * per-document systematic rounding, so the realized token count
    * concentrates on the target with NO RNG state: the same
    * replayable-hash-instead-of-rand() argument as `q_hash_sample`, and the
    * draw is replayed bit-for-bit by the oracle.
    *
    * Scale shape: the schedule is a per-source scalar table (broadcast
    * join); the corpus sees one narrow codegen pass (hash draw → copy
    * count) and a 1→N `explode` fan-out — beyond the tiny per-source token
    * aggregation there is NO shuffle, so the materializer is scan-bound at
    * 100 TB and composes with any downstream shard writer.
    */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val sched = mixtureScheduleOf(docs(spark, dir), EpochBudgetTokens)
      .select("source", "epochs_e6")
    docs(spark, dir).select(col("doc_id"), col("source"))
      .join(broadcast(sched), "source")
      .select(col("doc_id"), col("source"),
        (expr("epochs_e6 div 1000000") +
          when(pmod(TextDedup.tokenHash60(col("doc_id").cast("string")), lit(1000000L))
            < col("epochs_e6") % 1000000L, 1L).otherwise(0L)).as("n_copies"))
      .filter(col("n_copies") >= 1L)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  /** Curriculum phases — order training data easy→hard: per language, every
    * document is assigned a difficulty quartile of its [[lmScore]] bigram-LM
    * score (phase 1 = most predictable text = the warm-up phase of a
    * curriculum-learning schedule; docs the model scored unscorable,
    * `lm_score_e6 = 0`, land in phase 4). Thresholds are EXACT per-language
    * order statistics computed from the (lang, score) HISTOGRAM — the
    * [[qualityQuantileGate]] trick: one aggregation to ≤10⁶ cells per
    * language, a cumulative window over those cells (never documents), all
    * three quartile boundaries read from one conditional-max pass, and the
    * 3-row-per-language threshold table broadcast back. A
    * `ntile`-over-documents formulation would sort every language partition
    * on one task; value-threshold quartiles also stay deterministic under
    * ties (tied scores share a phase — sizes flex, assignment never does).
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumOf(spark, dir, lmScore(spark, dir))

  /** [[curriculum]] phased on the BPE-token LM score ([[lmScoreBpe]]) —
    * difficulty in the unit the model trains on; same exact quartile
    * machinery.
    */
  def curriculumBpe(spark: SparkSession, dir: String): DataFrame =
    // measured r14: cutting the score table bought only 4.60 -> 4.27 s warm
    // at sf0.1 (AQE stage reuse already dedupes the 3 consumers' identical
    // scoring subplan) — below the checkpoint break-even, so the plan stays
    // lazy (the corpus-clean precedent)
    curriculumOf(spark, dir, lmScoreBpe(spark, dir))

  /** The per-language difficulty-quartile tail shared by the whitespace and
    * BPE curricula; `scores` must carry (doc_id, lm_score_e6).
    */
  private def curriculumOf(spark: SparkSession, dir: String,
                           scores: DataFrame): DataFrame = {
    val lang = docs(spark, dir).select(col("doc_id"),
      graft.functions.TextFunctions.langId(col("text")).as("lang_id"))
    val s = scores.select(col("doc_id"), col("lm_score_e6"))
      .join(lang, "doc_id")
    val n = s.groupBy("lang_id").agg(count(lit(1)).as("n"))
    val h = s.groupBy("lang_id", "lm_score_e6").agg(count(lit(1)).as("c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("lang_id").orderBy(col("lm_score_e6").desc)
    val thr = h.withColumn("cum", sum(col("c")).over(wc))
      .join(n, "lang_id")
      .groupBy("lang_id")
      .agg(
        max(when(col("cum") >= expr("(n + 3) div 4"), col("lm_score_e6"))).as("t1"),
        max(when(col("cum") >= expr("(2*n + 3) div 4"), col("lm_score_e6"))).as("t2"),
        max(when(col("cum") >= expr("(3*n + 3) div 4"), col("lm_score_e6"))).as("t3"))
    s.join(broadcast(thr), "lang_id")
      .select(col("doc_id"), col("lang_id"), col("lm_score_e6"),
        when(col("lm_score_e6") >= col("t1"), 1L)
          .when(col("lm_score_e6") >= col("t2"), 2L)
          .when(col("lm_score_e6") >= col("t3"), 3L)
          .otherwise(4L).as("phase"))
  }

  /** Dataloader worker count for the shard-plan queries. */
  val ShardWorkers = 8L

  /** Epoch-plan rows with the per-copy shuffle key and worker shard: the key
    * hashes (doc_id, copy) TOGETHER, so two epochs of the same document land
    * at independent shards/positions — epoch-level shuffling, not document
    * pinning — and the draw is replayable (no RNG state, the `q_hash_sample`
    * argument again).
    */
  private[graft] def shardRows(spark: SparkSession, dir: String): DataFrame =
    epochPlan(spark, dir)
      .withColumn("hk", TextDedup.tokenHash60(
        concat(col("doc_id").cast("string"), lit(":"), col("copy").cast("string"))))
      .withColumn("shard", pmod(col("hk"), lit(ShardWorkers)))

  /** Shard plan — the LAST step of the data-loading contract after
    * [[epochPlan]]: every replicated training row gets its dataloader worker
    * (`shard`) and that worker's deterministic in-order read `position`
    * (rank in md5-hash order within the shard — the replayable global
    * shuffle). This window form sorts each shard on ONE task (1/W of the
    * corpus — the q_token_budget scale problem verbatim), so
    * [[shardPlanScalable]] registers the bucketed prefix-scan realization
    * under the SAME oracle.
    */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard")
      .orderBy(col("hk").asc, col("doc_id").asc, col("copy").asc)
    shardRows(spark, dir)
      .withColumn("position", row_number().over(w).cast("long"))
      .select("doc_id", "copy", "shard", "position")
  }

  /** [[shardPlan]] through [[graft.operators.PrefixScan]]: the in-shard
    * position is the within-shard running count of 1s in hash order, i.e.
    * exactly a grouped prefix scan — group = shard, sort key = hk, row id =
    * doc_id·2²⁰ + copy (monotone in (doc_id, copy); caps copies per doc at
    * 2²⁰, orders of magnitude above any schedule's epoch count, AND bounds
    * doc_id below 2⁴³ — beyond that the composite overflows Long, which ANSI
    * mode turns into a hard error, not silent wraparound; corpora with wider
    * ids need a 60-bit hash composite like the sort key instead). No shard
    * ever sorts on one task; registered under the identical oracle.
    */
  def shardPlanScalable(spark: SparkSession, dir: String): DataFrame = {
    val P = 1L << 20
    val r = shardRows(spark, dir).select(
      col("shard").as("lang_id"), col("hk"),
      (col("doc_id") * P + col("copy")).as("doc_id"), lit(1L).as("n_tokens"))
    graft.operators.PrefixScan.langTokenCumsum(r)
      .select(expr(s"doc_id div ${P}L").as("doc_id"),
        pmod(col("doc_id"), lit(P)).as("copy"),
        col("lang_id").as("shard"),
        col("cum_tokens").as("position"))
  }

  /** Fixed sample size for [[prioritySample]] — small enough that the
    * estimating regime (τ threshold active) is what the gate hashes at
    * every sf, large enough for useful per-source error.
    */
  val PrioritySampleK = 128

  /** PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM'07): one fixed-size
    * weighted sample that answers ARBITRARY subset-sum queries afterward —
    * the corpus-accounting sketch ("how many chars/tokens does source S
    * contribute?") a training pipeline keeps when it cannot afford per-slice
    * scans. Each doc gets priority p = w/u with u = (hash+1)/2^60 uniform;
    * the sample is the top-[[PrioritySampleK]] priorities, τ the (k+1)-th,
    * and the estimator Σ max(w, τ) over sampled members of the subset is
    * unbiased for the subset's true Σw. Per-source estimates are gated
    * beside the exact totals with e4 errors (the `q_ams_*` pattern), so the
    * estimator's accuracy is data.
    *
    * Scale shape: ONE pass — the top-(k+1) is a `TakeOrdered` (per-partition
    * O(k) heap + driver merge, no global sort), materialized once via
    * [[graft.operators.Lineage.cut]] (257 rows) because τ and the sample
    * both read it; the exact side pays the per-source aggregation the
    * sketch exists to avoid. τ is floored to a long so the per-source sums
    * are exact integers in both engines (the double τ itself is one
    * multiply + one divide from exact inputs — IEEE-identical).
    */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    val k = PrioritySampleK
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("w"))
    val withP = d
      .withColumn("h", TextDedup.tokenHash60(col("doc_id").cast("string")) + lit(1L))
      .withColumn("pri",
        col("w").cast("double") * lit(math.pow(2.0, 60)) / col("h").cast("double"))
    val top = graft.operators.Lineage.cut(
      withP.orderBy(col("pri").desc, col("doc_id").asc).limit(k + 1))
    // τ = the (k+1)-th priority = the min of the top-(k+1) set. The filter
    // makes τ EMPTY when the corpus holds ≤ k docs — exactly like the
    // oracle's rn = k+1 row — so both engines degrade identically (zero
    // estimates) instead of Spark silently using the n-th priority.
    val tau = top.agg(count(lit(1)).as("n"), min(floor(col("pri"))).cast("long").as("t"))
      .filter(col("n") === (k + 1)).select("t")
    val samp = top.orderBy(col("pri").desc, col("doc_id").asc).limit(k)
    val est = samp.crossJoin(broadcast(tau)) // 1-row scalar attach (audit-exempt)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        sum(greatest(col("w"), col("t"))).as("est_chars"))
    d.groupBy("source").agg(sum(col("w")).as("exact_chars"))
      .join(est, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("est_chars"), lit(0L)).as("est_chars"),
        col("exact_chars"),
        expr("abs(coalesce(est_chars, 0L) - exact_chars) * 10000 div exact_chars")
          .as("err_e4"))
  }

  /** Total sample budget for [[neymanAlloc]]. */
  val NeymanBudget = 200L

  /** NEYMAN OPTIMAL STRATIFIED ALLOCATION — the sampling-DESIGN step the
    * quota/weighted/priority samplers execute: for a fixed audit budget of
    * [[NeymanBudget]] docs, the per-source allocation minimizing the
    * estimator variance of a corpus mean is n_h ∝ N_h·σ_h (big AND
    * heterogeneous strata get the samples; a uniform-quota audit oversamples
    * homogeneous sources). σ_h comes out exactly: the variance numerator
    * n·Σx² − (Σx)² is integer-exact in longs (n_chars ≤ ~10⁴ over ≤ ~10⁵
    * docs/stratum before overflow — rescale x beyond that), one integer
    * division and one floor(sqrt) both engines evaluate identically.
    * Allocations are floored shares of the budget, capped by stratum size;
    * single-doc and zero-variance strata allocate 0 (the raw Neyman rule —
    * a production design floors minimums afterwards).
    *
    * Plan: one per-source aggregation over (source, n_chars) — three sums —
    * then G-row arithmetic with a 1-row scalar attach.
    */
  def neymanAlloc(spark: SparkSession, dir: String): DataFrame = {
    val s = docs(spark, dir)
      .select(col("source"), col("n_chars").cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("sd", when(col("n") > 1,
        floor(sqrt(expr("(n*sxx - sx*sx) div (n*(n-1))").cast("double"))).cast("long"))
        .otherwise(0L))
    val t = s.agg(sum(expr("n * sd")).as("tot"))
    s.crossJoin(broadcast(t)) // 1-row scalar attach (audit-exempt)
      .withColumn("alloc", when(col("tot") > 0,
        expr(s"($NeymanBudget * n * sd) div tot")).otherwise(0L))
      .select(col("source"), col("n").as("n_docs"), col("sd"),
        col("alloc"), least(col("alloc"), col("n")).as("alloc_capped"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_neyman_alloc" -> (neymanAlloc _),
    "q_priority_sample" -> (prioritySample _),
    "q_curriculum" -> (curriculum _),
    "q_curriculum_bpe" -> (curriculumBpe _),
    "q_shard_plan" -> (shardPlan _),
    "q_shard_plan_scan" -> (shardPlanScalable _),
    "q_epoch_plan" -> (epochPlan _),
    "q_passage_overlap" -> (passageOverlap _),
    "q_winnow" -> (winnowOverlap _),
    "q_corpus_diff" -> (corpusDiff _),
    "q_mixture_weights" -> (mixtureWeights _),
    "q_mixture_capped" -> (mixtureCapped _),
    "q_lm_score" -> (lmScore _),
    "q_lm_score_bpe" -> (lmScoreBpe _),
    "q_data_split" -> (dataSplit _),
    "q_seq_pack" -> (seqPack _),
    "q_seq_pack_scan" -> (seqPackScalable _),
    "q_seq_pack_bpe" -> (seqPackBpe _),
    "q_pack_calib" -> (packCalib _),
    "q_unified_groups" -> (unifiedGroups _),
    "q_token_budget" -> (tokenBudgetSample _),
    "q_token_budget_scan" -> (tokenBudgetSampleScalable _),
    "q_token_budget_bpe" -> (tokenBudgetBpe _),
    "q_token_budget_unigram" -> (tokenBudgetUnigram _),
    "q_mixture_report" -> (mixtureReport _),
    "q_mixture_report_bpe" -> (mixtureReportBpe _),
    "q_vocab_stats_bpe" -> (vocabStatsBpe _),
    "q_quality_gate" -> (qualityQuantileGate _),
    "q_quantile_sketch" -> (quantileSketch _),
    "q_quantile_merge" -> (quantileMerge _),
    "q_dedup_groups" -> (dedupGroups _),
    "q_dedup_canonical" -> (dedupCanonical _),
    "q_decontaminate" -> (decontaminate _),
    "q_decon_bloom" -> (deconBloom _),
    "q_bloom_merge" -> (bloomMerge _),
    "q_tfidf_terms" -> (tfidfTerms _),
    "q_source_quota" -> (sourceQuota _),
    "q_weighted_sample" -> (weightedSample _),
    "q_doc_rank" -> (docRank _),
    "q_bm25_topk" -> (bm25Rank _),
    "q_vocab_stats" -> (vocabStats _),
    "q_length_hist" -> (lengthHist _),
    "q_dedup_decision" -> (dedupDecision _),
    "q_graph_degree" -> (graphDegree _),
    "q_split_leakage" -> (splitLeakage _),
    "q_corpus_manifest" -> (corpusManifest _))

  /** One SQL truth for the Bloom decontamination verdicts — shared by the
    * single-filter build (`q_decon_bloom`) and the per-source OR-merge
    * realization (`q_bloom_merge`), whose equality under this replay IS the
    * merge proof.
    */
  private val deconBloomOracle: String =
    """WITH sh AS (
         SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t)-7) ELSE [] END) AS u(i)
       ), ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
       evh AS (
         SELECT CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv
         FROM ev),
       epos AS (
         SELECT DISTINCT p FROM (
           SELECT hv % 524288 AS p FROM evh
           UNION ALL SELECT (hv // 524288) % 524288 FROM evh)),
       tr AS (
         SELECT doc_id, shingle,
                CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv
         FROM sh WHERE doc_id % 20 <> 0),
       bh AS (
         SELECT doc_id, count(*)::BIGINT AS bloom_hits
         FROM tr
         WHERE (hv % 524288) IN (SELECT p FROM epos)
           AND ((hv // 524288) % 524288) IN (SELECT p FROM epos)
         GROUP BY 1),
       eh AS (
         SELECT s.doc_id, count(*)::BIGINT AS exact_hits
         FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) s
         JOIN ev USING (shingle) GROUP BY 1)
       SELECT d.doc_id,
              coalesce(bh.bloom_hits, 0) AS bloom_hits,
              coalesce(eh.exact_hits, 0) AS exact_hits,
              (CASE WHEN coalesce(bh.bloom_hits, 0) = 0 THEN 1 ELSE 0 END)::BIGINT AS kept
       FROM documents d
       LEFT JOIN bh USING (doc_id)
       LEFT JOIN eh USING (doc_id)
       WHERE d.doc_id % 20 <> 0"""

  /** One SQL truth for the per-doc lang-id + quality stats — shared by the
    * quality-gate and corpus-manifest oracles so the marker lists and the
    * quality formula cannot drift between them (the Spark side is the single
    * [[graft.functions.TextFunctions]] implementation either way).
    */
  private val docStatsSql: String =
    s"""SELECT doc_id,
         ${TextQueries.langCaseSql} AS lang_id,
         greatest(least(least(n_tokens, 100) * 30
           + least((en * 40000) // greatest(n_tokens, 1), 4000)
           - least((n_punct * 20000) // greatest(n_tokens, 1), 2000), 10000), 0) AS quality_e4
       FROM (
         SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct,
           ${TextQueries.langMarkerColsSql}
         FROM documents)"""

  /** One SQL truth for the direct sketch AND its two-hop merge realization —
    * the driver proving both queries against the same replay IS the
    * mergeability evidence.
    */
  private val quantileOracle: String =
    s"""WITH h AS (
          SELECT lang, n_chars,
            CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
          FROM documents),
        r AS (
          SELECT lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY hv, n_chars) AS rn
          FROM h),
        g AS (
          SELECT lang, list_sort(list(n_chars)) AS vs, count(*)::BIGINT AS m
          FROM r WHERE rn <= $QuantileSampleK GROUP BY lang)
        SELECT lang, vs[(m + 1) // 2] AS p50_chars,
               vs[(9 * m + 9) // 10] AS p90_chars
        FROM g"""

  /** Shared CTE prefix: exact Jaccard pairs (the q_minhash_lsh oracle) →
    * symmetric edges → transitive closure by recursive CTE → min reachable
    * id per doc. Components are tiny (pairs/triples), so the closure stays
    * small; the probabilistic LSH≡exact caveat documented at
    * [[TextQueries.oracleSql q_corpus_clean]] applies verbatim.
    */
  private val groupsCte =
    """WITH RECURSIVE sh AS MATERIALIZED (
         SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
       ), sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       inter AS MATERIALIZED (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM sh a JOIN sh b USING (shingle)
         WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       pairs AS MATERIALIZED (
         SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE inter * 100 >= 60 * (sa.sz + sb.sz - inter)),
       edges AS MATERIALIZED (
         SELECT doc_a AS eu, doc_b AS ev FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(v, r) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.ev, reach.r FROM reach JOIN edges e ON e.eu = reach.v),
       groups AS (
         SELECT v AS doc_id, min(r) AS group_id FROM reach GROUP BY v)"""

  /** Language + token-count stats CTE body (mirrors q_text_stats); the
    * marker regexes and CASE are the shared single-sourced
    * `TextQueries.langMarkerColsSql`/`langCaseSql`.
    */
  private val langTokensCte =
    s"""SELECT doc_id,
         ${TextQueries.langCaseSql} AS lang_id,
         n_tokens
       FROM (
         SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           ${TextQueries.langMarkerColsSql}
         FROM documents)"""

  /** Text-pair CTEs under non-colliding names, for composition with the
    * embedding CTE family in the unified oracle.
    */
  private val textPairsCte =
    """sh AS MATERIALIZED (
         SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
       ), sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       inter AS MATERIALIZED (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM sh a JOIN sh b USING (shingle)
         WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       tpairs AS MATERIALIZED (
         SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE inter * 100 >= 60 * (sa.sz + sb.sz - inter))"""

  /** The PageRank recurrence as chained CTEs, one per iteration — the same
    * integer fixed-point update as [[graft.operators.GraphRank]], so every
    * iterate is bit-equal across engines.
    */
  /** Shared passage-graph CTEs (chunking, hot-passage cap, distinct edges,
    * out-degrees) for the centrality and degree-distribution oracles.
    */
  private lazy val passageGraphCtes =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        ch AS (
          SELECT DISTINCT doc_id, array_to_string(t[k*8+1 : k*8+16], ' ') AS ph
          FROM tok, unnest(generate_series(0, CAST(ceil(greatest(len(t)-16, 0) / 8.0) AS BIGINT))) AS u(k)),
        okp AS (SELECT ph FROM ch GROUP BY 1
                HAVING count(*) BETWEEN 2 AND $RankPassageCap),
        edges AS (
          SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM ch a JOIN ch b USING (ph) JOIN okp USING (ph)
          WHERE a.doc_id <> b.doc_id),
        deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1)"""

  private def docRankOracle: String = {
    val iterCtes = (1 to 5).map { i =>
      s"""r$i AS (
            SELECT u.id, (150000 + (850 * coalesce(s.s, 0)) // 1000)::BIGINT AS r
            FROM (SELECT doc_id AS id FROM documents) u
            LEFT JOIN (
              SELECT e.dst AS id, sum(r.r // d.deg)::BIGINT AS s
              FROM edges e
              JOIN r${i - 1} r ON r.id = e.src
              JOIN deg d ON d.src = e.src
              GROUP BY 1) s USING (id))"""
    }.mkString(",\n")
    s"""$passageGraphCtes,
        r0 AS (SELECT doc_id AS id, 1000000::BIGINT AS r FROM documents),
        $iterCtes
        SELECT id AS doc_id, r AS rank_e6 FROM r5"""
  }

  private lazy val seqPackOracle =
    s"""WITH s AS ($langTokensCte),
        h AS (
          SELECT s.*,
            CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
          FROM s),
        c AS (
          SELECT doc_id, lang_id,
            (sum(n_tokens) OVER (PARTITION BY lang_id ORDER BY hk, doc_id))::BIGINT
              - n_tokens AS strt
          FROM h)
        SELECT doc_id, lang_id, strt // $SeqLen AS pack_id,
               strt % $SeqLen AS pack_offset
        FROM c"""

  /** The BPE-token denominator CTE chain shared by the `q_token_budget_bpe`
    * and `q_seq_pack_bpe` oracles: the SAME encode recursion as the BPE
    * gates ([[TextQueries.bpeEncRecursion]] — single definition, so the
    * curation twins can never drift from `q_bpe_budget`'s merge semantics)
    * reduced to a per-word token-count table, joined onto the corpus word
    * stream, per-doc summed, lang-labeled via the same language CTE as the
    * whitespace twins, and cumsum'd in the same (hk, doc_id) order.
    * Callers prepend `WITH RECURSIVE` and select from `bcum`.
    */
  private lazy val bpeDenomCtes =
    s"""${TextQueries.bpeEncRecursion},
        wn AS (SELECT word, len(string_split(trim(s), ' '))::BIGINT AS n_toks
               FROM enc WHERE done),
        btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents),
        bcnt AS (SELECT t.doc_id, sum(w2.n_toks)::BIGINT AS n_bpe
                 FROM btok t JOIN wn w2 USING (word) GROUP BY 1),
        bl AS (SELECT doc_id, lang_id FROM ($langTokensCte)),
        bh AS (SELECT bl.doc_id, bl.lang_id,
                 coalesce(bcnt.n_bpe, 0)::BIGINT AS n_bpe_tokens,
                 CAST('0x' || substring(md5(CAST(bl.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
               FROM bl LEFT JOIN bcnt USING (doc_id)),
        bcum AS (SELECT doc_id, lang_id, n_bpe_tokens,
                  (sum(n_bpe_tokens) OVER (PARTITION BY lang_id ORDER BY hk, doc_id))::BIGINT
                    AS cum_tokens
                 FROM bh)"""

  private lazy val tokenBudgetOracle =
    s"""WITH s AS ($langTokensCte),
        h AS (
          SELECT s.*,
            CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
          FROM s),
        c AS (
          SELECT doc_id, lang_id, n_tokens,
            (sum(n_tokens) OVER (PARTITION BY lang_id ORDER BY hk, doc_id))::BIGINT
              AS cum_tokens
          FROM h)
        SELECT doc_id, lang_id, n_tokens, cum_tokens
        FROM c WHERE cum_tokens <= $TokenBudget"""

  /** Whitespace bigrams (tok, bg) — the q_lm_score / q_curriculum head. */
  private lazy val lmWsBigramCtes =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         bg AS (
           SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram
           FROM tok,
                unnest(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t)-1) ELSE [] END) AS u(i))"""

  /** BPE-token bigram counts (terminal CTE `docbg`) — mirrors
    * [[bpeTokenBigramCounts]]' intra-word + boundary decomposition: each
    * distinct word's internal adjacent segment pairs weighted by its
    * per-doc count, plus boundary pairs from the word-bigram stream joined
    * to the first/last-segment table.
    */
  private lazy val bpeBigramCtes =
    s"""${TextQueries.bpeEncRecursion},
         lwt AS (SELECT word, string_split(trim(s), ' ') AS toks
                 FROM enc WHERE done),
         lintra AS (SELECT word, toks[u.i] || ' ' || toks[u.i + 1] AS bigram
                    FROM lwt,
                         unnest(CASE WHEN len(toks) >= 2
                                     THEN generate_series(1, len(toks) - 1)
                                     ELSE [] END) AS u(i)),
         lbnd AS (SELECT word, toks[1] AS first_tok,
                    toks[len(toks)] AS last_tok FROM lwt),
         lwc AS (SELECT doc_id, word, count(*)::BIGINT AS wn
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                       FROM documents)
                 WHERE len(word) >= 1 GROUP BY 1, 2),
         lwbg AS (SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2,
                    count(*)::BIGINT AS wn
                  FROM (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
                       unnest(CASE WHEN len(t) >= 2
                                   THEN generate_series(1, len(t) - 1)
                                   ELSE [] END) AS u(i)
                  GROUP BY 1, 2, 3),
         docbg AS (SELECT doc_id, bigram, sum(wn)::BIGINT AS n FROM (
                     SELECT lwc.doc_id, lintra.bigram, lwc.wn
                     FROM lwc JOIN lintra USING (word)
                     UNION ALL
                     SELECT lwbg.doc_id,
                            b1.last_tok || ' ' || b2.first_tok AS bigram,
                            lwbg.wn
                     FROM lwbg
                     JOIN lbnd b1 ON b1.word = lwbg.w1
                     JOIN lbnd b2 ON b2.word = lwbg.w2)
                   GROUP BY 1, 2)"""

  /** The bigram-LM scoring chain (expects `bg`; terminal CTE `sc`) shared
    * by the whitespace and BPE realizations — ONE definition so the model
    * arithmetic can never drift between q_lm_score, q_curriculum, and
    * their _bpe twins.
    */
  private lazy val lmChainCtes =
    s"""docbg AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
         $lmModelTail"""

  /** The model + scoring CTEs (m12..sc; expects `docbg`). */
  private lazy val lmModelTail =
    """m12 AS (SELECT bigram, sum(n)::BIGINT AS c12 FROM docbg GROUP BY 1),
         m1 AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c12)::BIGINT AS c1
                FROM m12 GROUP BY 1),
         model AS (
           SELECT bigram, (c12 * 1000000) // c1 AS p_e6
           FROM m12 JOIN m1 ON string_split(m12.bigram, ' ')[1] = m1.w1),
         sc AS (
           SELECT doc_id, sum(n * p_e6)::BIGINT AS sp, sum(n)::BIGINT AS nb
           FROM docbg JOIN model USING (bigram) GROUP BY 1)"""

  /** The per-language quartile tail (expects `s` = lang stats and `sc`)
    * shared by both curricula.
    */
  private lazy val lmQuartileTail =
    """d AS (
           SELECT s.doc_id, s.lang_id, coalesce(sp // nb, 0) AS lm_score_e6
           FROM s LEFT JOIN sc USING (doc_id)),
         nn AS (SELECT lang_id, count(*)::BIGINT AS n FROM d GROUP BY 1),
         h AS (SELECT lang_id, lm_score_e6 AS q, count(*)::BIGINT AS c
               FROM d GROUP BY 1, 2),
         cum AS (
           SELECT lang_id, q,
                  sum(c) OVER (PARTITION BY lang_id ORDER BY q DESC) AS cum
           FROM h),
         thr AS (
           SELECT c.lang_id,
             max(CASE WHEN c.cum >= (n.n + 3) // 4 THEN c.q END) AS t1,
             max(CASE WHEN c.cum >= (2*n.n + 3) // 4 THEN c.q END) AS t2,
             max(CASE WHEN c.cum >= (3*n.n + 3) // 4 THEN c.q END) AS t3
           FROM cum c JOIN nn n USING (lang_id) GROUP BY 1)
         SELECT d.doc_id, d.lang_id, d.lm_score_e6,
           (CASE WHEN d.lm_score_e6 >= t.t1 THEN 1
                 WHEN d.lm_score_e6 >= t.t2 THEN 2
                 WHEN d.lm_score_e6 >= t.t3 THEN 3
                 ELSE 4 END)::BIGINT AS phase
         FROM d JOIN thr t USING (lang_id)"""

  /** The epoch materializer mirrored as reusable CTEs (`e` = the replicated
    * row multiset) — the `q_epoch_plan` oracle body, shared with the
    * shard-plan oracles that consume the same multiset.
    */
  private lazy val epochPlanCtes =
    s"""WITH n AS (
           SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
           FROM documents GROUP BY source),
         s AS (SELECT source, n_tokens,
                      CAST(floor(sqrt(n_tokens)) AS BIGINT) AS s FROM n),
         t AS (SELECT sum(s)::BIGINT AS s_tot FROM s),
         sched AS (
           SELECT source,
                  (($EpochBudgetTokens * ((s * 1000000) // s_tot)) // n_tokens)::BIGINT AS epochs_e6
           FROM s CROSS JOIN t),
         c AS (
           SELECT d.doc_id, d.source,
                  (epochs_e6 // 1000000
                   + CASE WHEN CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                            % 1000000 < epochs_e6 % 1000000
                          THEN 1 ELSE 0 END)::BIGINT AS n_copies
           FROM documents d JOIN sched USING (source)),
         e AS (
           SELECT doc_id, source, u.copy::BIGINT AS copy
           FROM c, unnest(CASE WHEN n_copies >= 1 THEN generate_series(1, n_copies) ELSE [] END) AS u(copy))
     """

  /** Shard assignment + in-shard rank over the epoch multiset — the hash is
    * of `doc_id || ':' || copy` so every replica draws independently.
    */
  private lazy val shardPlanOracle = epochPlanCtes +
    s""", h AS (
          SELECT doc_id, copy,
            CAST('0x' || substring(md5(doc_id || ':' || copy), 1, 15) AS BIGINT) AS hk
          FROM e)
        SELECT doc_id, copy, hk % $ShardWorkers AS shard,
          row_number() OVER (PARTITION BY hk % $ShardWorkers
            ORDER BY hk ASC, doc_id ASC, copy ASC)::BIGINT AS position
        FROM h"""

  val oracleSql: Map[String, String] = Map(
    // Neyman allocation replayed: exact integer variance numerator, the
    // floor(sqrt) idiom, floored budget shares
    "q_neyman_alloc" ->
      s"""WITH s AS (SELECT source, count(*)::BIGINT AS n,
                sum(n_chars)::BIGINT AS sx,
                sum(n_chars * n_chars)::BIGINT AS sxx
              FROM documents GROUP BY 1),
          v AS (SELECT source, n,
                  CASE WHEN n > 1
                       THEN CAST(floor(sqrt((n*sxx - sx*sx) // (n*(n-1)))) AS BIGINT)
                       ELSE 0 END AS sd FROM s),
          t AS (SELECT sum(n * sd)::BIGINT AS tot FROM v)
          SELECT source, n AS n_docs, sd,
                 CASE WHEN tot > 0 THEN ($NeymanBudget * n * sd) // tot
                      ELSE 0 END AS alloc,
                 least(CASE WHEN tot > 0 THEN ($NeymanBudget * n * sd) // tot
                            ELSE 0 END, n) AS alloc_capped
          FROM v CROSS JOIN t""",
    // priority sampling replayed: same 60-bit hash uniform, same
    // w*2^60/(h+1) double priority, top-(k+1) by (pri DESC, doc_id ASC),
    // tau = floor of the (k+1)-th, estimator sum(greatest(w, tau))
    "q_priority_sample" ->
      s"""WITH w AS (SELECT doc_id, source, n_chars::BIGINT AS w,
               CAST('0x' || substring(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) + 1 AS h
             FROM documents),
          p AS (SELECT *, (w::DOUBLE * 1152921504606846976.0) / h AS pri FROM w),
          r AS (SELECT *, row_number() OVER (ORDER BY pri DESC, doc_id ASC) AS rn FROM p),
          tau AS (SELECT floor(pri)::BIGINT AS t FROM r WHERE rn = ${PrioritySampleK + 1}),
          samp AS (SELECT * FROM r WHERE rn <= $PrioritySampleK),
          est AS (SELECT source, count(*)::BIGINT AS n_sampled,
                    sum(greatest(w, t))::BIGINT AS est_chars
                  FROM samp CROSS JOIN tau GROUP BY 1),
          ex AS (SELECT source, sum(w)::BIGINT AS exact_chars FROM w GROUP BY 1)
          SELECT ex.source, coalesce(n_sampled, 0) AS n_sampled,
                 coalesce(est_chars, 0) AS est_chars, exact_chars,
                 (abs(coalesce(est_chars, 0) - exact_chars) * 10000) // exact_chars AS err_e4
          FROM ex LEFT JOIN est USING (source)""",
    "q_doc_rank" -> docRankOracle,
    "q_graph_degree" ->
      s"""$passageGraphCtes
          SELECT coalesce(deg.deg, 0) AS deg, count(*)::BIGINT AS n_docs
          FROM documents d LEFT JOIN deg ON deg.src = d.doc_id
          GROUP BY 1""",
    "q_vocab_stats" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
         nt AS (SELECT source, count(*)::BIGINT AS n_tokens FROM toks GROUP BY 1),
         nd AS (SELECT source, count(*)::BIGINT AS n_terms
                FROM (SELECT DISTINCT source, term FROM toks) GROUP BY 1)
         SELECT source, n_tokens, n_terms,
                (n_terms * 1000000) // n_tokens AS ttr_e6
         FROM nt JOIN nd USING (source)""",
    // floor-log2 via bit length on both engines (bin() string length), never
    // a float log
    "q_length_hist" ->
      """SELECT source,
              (length(bin(greatest(n_chars, 1))) - 1)::BIGINT AS len_bucket,
              count(*)::BIGINT AS n_docs
         FROM documents GROUP BY 1, 2""",
    "q_bm25_topk" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
          dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
          dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
          sc AS (SELECT (SELECT count(*)::BIGINT FROM documents) AS n_docs,
                        (SELECT count(*)::BIGINT FROM tok) AS t_tokens),
          qterms AS (
            SELECT doc_id AS query_id, term FROM (
              SELECT tf.doc_id, tf.term,
                row_number() OVER (PARTITION BY tf.doc_id
                  ORDER BY tf * ((n_docs * 1000000) // df) DESC, tf.term ASC) AS rn
              FROM tf JOIN dfx USING (term) CROSS JOIN sc
              WHERE tf.doc_id < $Bm25Queries)
            WHERE rn <= $Bm25QueryTerms),
          scored AS (
            SELECT q.query_id, c.doc_id AS cand_id,
              sum((((n_docs * 1000000) // df) * (22 * t_tokens * c.tf))
                  // (10 * t_tokens * c.tf + 3 * t_tokens + 9 * dl.dl * n_docs))::BIGINT
                AS bm25_e6
            FROM qterms q
            JOIN tf c USING (term)
            JOIN dl ON dl.doc_id = c.doc_id
            JOIN dfx USING (term)
            CROSS JOIN sc
            WHERE c.doc_id <> q.query_id
            GROUP BY 1, 2)
          SELECT query_id, cand_id, bm25_e6, rank FROM (
            SELECT query_id, cand_id, bm25_e6,
              row_number() OVER (PARTITION BY query_id
                ORDER BY bm25_e6 DESC, cand_id ASC) AS rank
            FROM scored)
          WHERE rank <= $Bm25K""",
    "q_lm_score" ->
      s"""WITH $lmWsBigramCtes,
         $lmChainCtes
         SELECT d.doc_id, coalesce(nb, 0) AS n_bigrams,
                coalesce(sp // nb, 0) AS lm_score_e6
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    // the LM over the ORDERED BPE token sequence: word positions, the
    // broadcast word->segments expansion with sub-positions, adjacency via
    // lead over (wpos, spos) — then the identical exact-rational chain
    "q_lm_score_bpe" ->
      s"""WITH RECURSIVE
         $bpeBigramCtes,
         $lmModelTail
         SELECT d.doc_id, coalesce(nb, 0) AS n_bigrams,
                coalesce(sp // nb, 0) AS lm_score_e6
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    "q_curriculum_bpe" ->
      s"""WITH RECURSIVE s AS ($docStatsSql
         ), $bpeBigramCtes,
         $lmModelTail,
         $lmQuartileTail""",
    "q_passage_overlap" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         chunks AS (
           SELECT doc_id, array_to_string(t[k*8+1 : k*8+16], ' ') AS chunk_text
           FROM tok, unnest(generate_series(0, CAST(ceil(greatest(len(t)-16, 0) / 8.0) AS BIGINT))) AS u(k))
         SELECT md5(chunk_text) AS passage_hash,
                count(DISTINCT doc_id)::BIGINT AS n_docs,
                min(doc_id) AS first_doc
         FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""",
    // winnowing mirrored operation-for-operation: same 40-bit md5 shingle
    // hash, same composite min-key (hash·2^20 + reversed position) so the
    // rightmost-tie-break rides on ONE sliding-frame integer min
    "q_winnow" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (
           SELECT doc_id, len(t)::BIGINT AS n, i,
                  CAST('0x' || substring(md5(array_to_string(t[i:i+3], ' ')), 1, 10) AS BIGINT)
                    * 1048576 + (1048575 - i) AS key
           FROM tok, unnest(generate_series(1, len(t) - 3)) AS u(i)
           WHERE len(t) >= 4),
         sel AS (
           SELECT doc_id, n, i,
                  min(key) OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
           FROM g),
         fps AS (SELECT DISTINCT doc_id, s // 1048576 AS fp
                 FROM sel WHERE i <= greatest(n - 6, 1))
         SELECT fp, count(DISTINCT doc_id)::BIGINT AS n_docs, min(doc_id) AS first_doc
         FROM fps GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""",
    // both evidence families' CTEs in one WITH RECURSIVE, edge union,
    // transitive closure — the LSH/blocked ≡ exact caveats of each family
    // apply unchanged
    "q_unified_groups" ->
      s"""WITH RECURSIVE $textPairsCte,
          ${EmbeddingQueries.nearDupBase.trim.stripPrefix("WITH ")},
          all_edges AS MATERIALIZED (
            SELECT doc_a AS eu, doc_b AS ev FROM tpairs
            UNION SELECT doc_b, doc_a FROM tpairs
            UNION SELECT vec_a, vec_b FROM blocked_pairs
            UNION SELECT vec_b, vec_a FROM blocked_pairs),
          reach(x, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.ev, reach.r FROM reach JOIN all_edges e ON e.eu = reach.x)
          SELECT x AS doc_id, min(r) AS group_id FROM reach GROUP BY x""",
    // every signal's CTEs composed: unified groups (recursive closure),
    // exact-hash canon, group canonical, containment direction split — the
    // LSH ≡ exact-Jaccard caveat of q_unified_groups applies unchanged
    "q_dedup_decision" ->
      s"""WITH RECURSIVE $textPairsCte,
          ${EmbeddingQueries.nearDupBase.trim.stripPrefix("WITH ")},
          all_edges AS MATERIALIZED (
            SELECT doc_a AS eu, doc_b AS ev FROM tpairs
            UNION SELECT doc_b, doc_a FROM tpairs
            UNION SELECT vec_a, vec_b FROM blocked_pairs
            UNION SELECT vec_b, vec_a FROM blocked_pairs),
          reach(x, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.ev, reach.r FROM reach JOIN all_edges e ON e.eu = reach.x),
          ugroups AS (SELECT x AS doc_id, min(r) AS group_id FROM reach GROUP BY x),
          hx AS (SELECT doc_id, md5(text) AS h FROM documents),
          ecanon AS (SELECT h, min(doc_id) AS exact_canon FROM hx GROUP BY 1),
          exd AS (SELECT hx.doc_id, exact_canon FROM hx JOIN ecanon USING (h)),
          cx AS (SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS chh
                 FROM documents),
          ccanon AS (SELECT chh, min(doc_id) AS canon_canon FROM cx GROUP BY 1),
          cnd AS (SELECT cx.doc_id, canon_canon FROM cx JOIN ccanon USING (chh)),
          gm AS (SELECT g.group_id, d.doc_id, len(d.text)::BIGINT AS len
                 FROM ugroups g JOIN documents d USING (doc_id)),
          gcanon AS (
            SELECT group_id, doc_id AS group_canon FROM (
              SELECT group_id, doc_id,
                row_number() OVER (PARTITION BY group_id
                  ORDER BY len DESC, doc_id) AS rn
              FROM gm) WHERE rn = 1),
          grp AS (SELECT gm.doc_id, gcanon.group_canon
                  FROM gm JOIN gcanon USING (group_id)),
          contd AS (
            SELECT doc_id, min(container) AS container FROM (
              SELECT i.doc_a AS doc_id, i.doc_b AS container
              FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
              WHERE i.inter * 100 >= 80 * sa.sz
              UNION ALL
              SELECT i.doc_b, i.doc_a
              FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE i.inter * 100 >= 80 * sb.sz) GROUP BY 1)
          SELECT d.doc_id,
            CASE WHEN e.exact_canon <> d.doc_id THEN 'exact_dup'
                 WHEN n.canon_canon <> d.doc_id THEN 'canon_dup'
                 WHEN g.group_canon <> d.doc_id THEN 'near_dup'
                 WHEN c.container IS NOT NULL THEN 'contained'
                 ELSE 'kept' END AS verdict,
            CASE WHEN e.exact_canon <> d.doc_id THEN e.exact_canon
                 WHEN n.canon_canon <> d.doc_id THEN n.canon_canon
                 WHEN g.group_canon <> d.doc_id THEN g.group_canon
                 WHEN c.container IS NOT NULL THEN c.container
                 ELSE d.doc_id END AS canonical_id
          FROM documents d
          JOIN exd e USING (doc_id)
          JOIN cnd n USING (doc_id)
          JOIN grp g USING (doc_id)
          LEFT JOIN contd c USING (doc_id)""",
    // both pair families' CTEs composed (as in q_unified_groups), the pair
    // union tagged by signal, split labels from the q_data_split hash bucket
    "q_split_leakage" ->
      s"""WITH $textPairsCte,
          ${EmbeddingQueries.nearDupBase.trim.stripPrefix("WITH ")},
          sigs AS (
            SELECT doc_a AS a, doc_b AS b, 'lex' AS sig FROM tpairs
            UNION ALL SELECT vec_a, vec_b, 'emb' FROM blocked_pairs),
          tagged AS (
            SELECT a, b, CASE WHEN count(*) = 2 THEN 'both' ELSE min(sig) END AS signal
            FROM sigs GROUP BY 1, 2),
          splits AS (
            SELECT doc_id,
              CASE WHEN b < 48 THEN 'train' WHEN b = 48 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 50 AS b
                  FROM documents))
          SELECT t.a AS doc_a, t.b AS doc_b, sa.split AS split_a,
                 sb.split AS split_b, t.signal
          FROM tagged t
          JOIN splits sa ON sa.doc_id = t.a
          JOIN splits sb ON sb.doc_id = t.b
          WHERE sa.split <> sb.split""",
    // the full funnel composed from the component oracles (corpus_clean's
    // gates/canon/jaccard CTEs + decontaminate's 8-gram membership + the
    // data_split hash bucket), with verdict precedence as one CASE — the
    // LSH≡exact caveat documented at q_corpus_clean applies to the near-dup
    // stage verbatim
    "q_corpus_manifest" ->
      s"""WITH stats AS ($docStatsSql
          ), gated AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN stats s ON s.doc_id = d.doc_id
            WHERE d.doc_id % 20 <> 0 AND s.lang_id = 'en'
              AND s.quality_e4 >= ${TextQueries.QualityFloor}
          ), winners AS (
            SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
          ), kept AS (
            SELECT g.doc_id, g.text FROM gated g JOIN winners w ON w.doc_id = g.doc_id
          ), sh3 AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
                 unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
          ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh3 GROUP BY 1
          ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh3 a JOIN sh3 b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
          ), losers AS (
            SELECT DISTINCT i.doc_b AS doc_id
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.inter * 100 >= 60 * (sa.sz + sb.sz - i.inter)
          ), surv AS (
            SELECT k.doc_id, k.text FROM kept k
            LEFT JOIN losers l ON l.doc_id = k.doc_id
            WHERE l.doc_id IS NULL
          ), esh AS (
            SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS shingle
            FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 20 = 0),
                 unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t)-7) ELSE [] END) AS u(i)
          ), contam AS (
            SELECT DISTINCT s8.doc_id
            FROM (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
                  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM surv),
                       unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t)-7) ELSE [] END) AS u(i)) s8
            JOIN esh ON esh.shingle = s8.shingle
          ), v AS (
            SELECT d.doc_id,
              CASE WHEN d.doc_id % 20 = 0 THEN 'eval_holdout'
                   WHEN s.lang_id <> 'en' THEN 'dropped_lang'
                   WHEN s.quality_e4 < ${TextQueries.QualityFloor} THEN 'dropped_quality'
                   WHEN w.doc_id IS NULL THEN 'dropped_exact_dup'
                   WHEN l.doc_id IS NOT NULL THEN 'dropped_near_dup'
                   WHEN c.doc_id IS NOT NULL THEN 'dropped_contaminated'
                   ELSE 'kept' END AS verdict,
              CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 50 AS b
            FROM documents d
            JOIN stats s ON s.doc_id = d.doc_id
            LEFT JOIN winners w ON w.doc_id = d.doc_id
            LEFT JOIN losers l ON l.doc_id = d.doc_id
            LEFT JOIN contam c ON c.doc_id = d.doc_id
          )
          SELECT doc_id, verdict,
                 CASE WHEN verdict = 'kept'
                      THEN CASE WHEN b < 48 THEN 'train'
                                WHEN b = 48 THEN 'val' ELSE 'test' END
                      ELSE NULL END AS split
          FROM v""",
    "q_data_split" ->
      s"""WITH s AS ($langTokensCte),
          h AS (
            SELECT s.*,
              CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 50
                AS b
            FROM s)
          SELECT lang_id,
                 CASE WHEN b < 48 THEN 'train'
                      WHEN b = 48 THEN 'val' ELSE 'test' END AS split,
                 count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
          FROM h GROUP BY 1, 2""",
    "q_seq_pack" -> seqPackOracle,
    "q_seq_pack_scan" -> seqPackOracle,
    // the seqPackOracle's prefix-sum CTEs swept over the single-sourced
    // length list; LEFT JOIN re-attach keeps explicit zeros on empty input
    "q_pack_calib" ->
      s"""WITH s AS ($langTokensCte),
          h AS (
            SELECT s.*,
              CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
            FROM s),
          c AS (
            SELECT doc_id, lang_id, n_tokens,
              (sum(n_tokens) OVER (PARTITION BY lang_id ORDER BY hk, doc_id))::BIGINT
                - n_tokens AS strt
            FROM h),
          cfg AS (SELECT unnest([${PackCalibLens.mkString(", ")}]) AS max_len),
          d AS (
            SELECT cfg.max_len,
              sum(CASE WHEN strt // max_len <> (strt + n_tokens - 1) // max_len
                       THEN 1 ELSE 0 END) AS n_docs_split
            FROM c CROSS JOIN cfg GROUP BY 1),
          lt AS (SELECT lang_id, sum(n_tokens)::BIGINT AS tot FROM s GROUP BY 1),
          l AS (
            SELECT cfg.max_len,
              sum((tot + max_len - 1) // max_len) AS n_seqs,
              sum((max_len - tot % max_len) % max_len) AS tail_pad_tokens
            FROM lt CROSS JOIN cfg GROUP BY 1)
          SELECT cfg.max_len::BIGINT AS max_len,
                 coalesce(l.n_seqs, 0)::BIGINT AS n_seqs,
                 coalesce(d.n_docs_split, 0)::BIGINT AS n_docs_split,
                 coalesce(l.tail_pad_tokens, 0)::BIGINT AS tail_pad_tokens
          FROM cfg
          LEFT JOIN d USING (max_len)
          LEFT JOIN l USING (max_len)""",
    "q_token_budget" -> tokenBudgetOracle,
    // the scalable prefix-scan realization must produce the IDENTICAL table
    "q_token_budget_scan" -> tokenBudgetOracle,
    // the BPE-denominated twins: same budget/packing plumbing, denominator
    // replayed through the shared encode recursion (see bpeDenomCtes)
    "q_token_budget_bpe" ->
      s"""WITH RECURSIVE
          $bpeDenomCtes
          SELECT doc_id, lang_id, n_bpe_tokens, cum_tokens
          FROM bcum WHERE cum_tokens <= $BpeTokenBudget""",
    // the same denominator chain with the per-word counts from the unigram
    // round-1 segmentation sizes (best carries np) instead of the BPE encode
    "q_token_budget_unigram" ->
      s"""WITH RECURSIVE
          ${TextQueries.unigramVocabCtes},
          ${TextQueries.unigramRound1Ctes},
          uwn AS (SELECT word, np AS n_toks FROM best),
          ubtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
          ubcnt AS (SELECT t.doc_id, sum(w2.n_toks)::BIGINT AS n_uni
                    FROM ubtok t JOIN uwn w2 USING (word) GROUP BY 1),
          ubl AS (SELECT doc_id, lang_id FROM ($langTokensCte)),
          ubh AS (SELECT ubl.doc_id, ubl.lang_id,
                    coalesce(ubcnt.n_uni, 0)::BIGINT AS n_uni_tokens,
                    CAST('0x' || substring(md5(CAST(ubl.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
                  FROM ubl LEFT JOIN ubcnt USING (doc_id)),
          ubcum AS (SELECT doc_id, lang_id, n_uni_tokens,
                     (sum(n_uni_tokens) OVER (PARTITION BY lang_id ORDER BY hk, doc_id))::BIGINT
                       AS cum_tokens
                    FROM ubh)
          SELECT doc_id, lang_id, n_uni_tokens, cum_tokens
          FROM ubcum WHERE cum_tokens <= $UnigramTokenBudget""",
    "q_seq_pack_bpe" ->
      s"""WITH RECURSIVE
          $bpeDenomCtes
          SELECT doc_id, lang_id,
                 (cum_tokens - n_bpe_tokens) // $SeqLen AS pack_id,
                 (cum_tokens - n_bpe_tokens) % $SeqLen AS pack_offset
          FROM bcum""",
    // same synthetic-prev derivation (17/13/19 arithmetic), then the diff is
    // one full-outer hash compare
    "q_corpus_diff" ->
      """WITH cur AS (SELECT doc_id, text FROM documents),
         prev AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 13 = 0 THEN text || ' v1' ELSE text END AS text
           FROM cur WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 10000000, text FROM cur WHERE doc_id % 19 = 0)
         SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
                CASE WHEN p.doc_id IS NULL THEN 'added'
                     WHEN c.doc_id IS NULL THEN 'removed'
                     WHEN md5(p.text) <> md5(c.text) THEN 'changed'
                     ELSE 'unchanged' END AS status
         FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id""",
    // floor(sqrt) is IEEE-exact in both engines; everything after is integer
    // the mixture schedule replayed, then the per-doc systematic-rounding
    // draw (60-bit md5 hash mod 1e6, the q_hash_sample equivalence) and the
    // copy fan-out
    "q_epoch_plan" -> (epochPlanCtes +
      "SELECT doc_id, source, copy FROM e"),
    // the epoch multiset sharded for W dataloader workers: per-copy 60-bit
    // hash -> shard = hk % W, position = rank in (hk, doc_id, copy) order
    // within the shard; ONE oracle for the window form and the prefix-scan
    // realization
    "q_shard_plan" -> shardPlanOracle,
    "q_shard_plan_scan" -> shardPlanOracle,
    // lm-score CTEs verbatim from q_lm_score, lang_id from the shared stats
    // truth, quartile thresholds as conditional maxima over the DESC
    // cumulative histogram — (k*n + 3) // 4 = ceil(k*n/4) from the top
    "q_curriculum" ->
      s"""WITH s AS ($docStatsSql
         ), $lmWsBigramCtes,
         $lmChainCtes,
         $lmQuartileTail""",
    "q_mixture_weights" ->
      """WITH n AS (
           SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
           FROM documents GROUP BY source),
         s AS (SELECT source, n_tokens,
                      CAST(floor(sqrt(n_tokens)) AS BIGINT) AS s FROM n),
         t AS (SELECT sum(s)::BIGINT AS s_tot FROM s)
         SELECT source, n_tokens,
                ((s * 1000000) // s_tot)::BIGINT AS weight_e6,
                ((1000000000 * ((s * 1000000) // s_tot)) // n_tokens)::BIGINT AS epochs_e6
         FROM s CROSS JOIN t""",
    // capped water-filling replayed: same sqrt weights, same prefix-sum
    // window over (cap/w, lang), the identical integer cross-mult cap test
    "q_mixture_capped" ->
      s"""WITH n AS (
            SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
            FROM documents GROUP BY lang),
          s AS (SELECT lang, n_tokens,
                  CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w,
                  $MixtureCapEpochs * n_tokens AS cap FROM n),
          t AS (SELECT sum(n_tokens)::BIGINT AS tt, sum(w)::BIGINT AS wt FROM s),
          f AS (SELECT s.*, tt, wt, (tt * 18) // 10 AS budget,
                  sum(cap) OVER (ORDER BY cap::DOUBLE / w ASC, lang ASC) AS cumcap,
                  sum(w) OVER (ORDER BY cap::DOUBLE / w ASC, lang ASC) AS cumw
                FROM s CROSS JOIN t),
          g AS (SELECT *, CASE WHEN cap * (wt - cumw) <= (budget - cumcap) * w
                               THEN 1 ELSE 0 END AS capped FROM f),
          rem AS (SELECT sum(CASE WHEN capped = 1 THEN cap ELSE 0 END)::BIGINT AS capsum,
                         sum(CASE WHEN capped = 1 THEN w ELSE 0 END)::BIGINT AS wcap FROM g),
          a AS (SELECT lang, n_tokens, cap AS cap_tokens, capped::BIGINT AS capped,
                  CASE WHEN capped = 1 THEN cap
                       ELSE ((budget - capsum) * w) // (wt - wcap) END AS alloc_tokens
                FROM g CROSS JOIN rem)
          SELECT lang, n_tokens, cap_tokens, capped, alloc_tokens,
                 (alloc_tokens * 1000000) // n_tokens AS epochs_e6
          FROM a""",
    "q_mixture_report" ->
      s"""WITH s AS ($langTokensCte),
          d2 AS (
            SELECT s.lang_id, d.source, s.n_tokens
            FROM s JOIN documents d USING (doc_id)),
          tot AS (SELECT sum(n_tokens)::BIGINT AS total FROM d2)
          SELECT lang_id, source, count(*)::BIGINT AS n_docs,
                 sum(n_tokens)::BIGINT AS n_tokens,
                 ((sum(n_tokens) * 1000000) // total)::BIGINT AS share_e6
          FROM d2 CROSS JOIN tot GROUP BY lang_id, source, total""",
    // the BPE denominator chain (same encode recursion as every BPE gate)
    // reduced to per-doc counts, source-labeled, shared-total shares
    "q_mixture_report_bpe" ->
      s"""WITH RECURSIVE
          $bpeDenomCtes,
          mx AS (SELECT bh.lang_id, d.source, bh.n_bpe_tokens
                FROM bh JOIN documents d USING (doc_id)),
          tot AS (SELECT sum(n_bpe_tokens)::BIGINT AS total FROM mx)
          SELECT lang_id, source, count(*)::BIGINT AS n_docs,
                 sum(n_bpe_tokens)::BIGINT AS n_bpe_tokens,
                 ((sum(n_bpe_tokens) * 1000000) // total)::BIGINT AS share_e6
          FROM mx CROSS JOIN tot GROUP BY lang_id, source, total""",
    // the corpus word stream expanded to BPE segments through the SAME
    // terminal encode rows, then the q_vocab_stats rollup over segments
    "q_vocab_stats_bpe" ->
      s"""WITH RECURSIVE
          ${TextQueries.bpeEncRecursion},
          wt AS (SELECT word, string_split(trim(s), ' ') AS toks
                 FROM enc WHERE done),
          bt AS (SELECT dw.source, unnest(wt.toks) AS term
                 FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                       FROM documents) dw
                 JOIN wt USING (word)),
          nt AS (SELECT source, count(*)::BIGINT AS n_tokens FROM bt GROUP BY 1),
          nd AS (SELECT source, count(*)::BIGINT AS n_terms
                 FROM (SELECT DISTINCT source, term FROM bt) GROUP BY 1)
          SELECT source, n_tokens, n_terms,
                 (n_terms * 1000000) // n_tokens AS ttr_e6
          FROM nt JOIN nd USING (source)""",
    // the stats sub-CTE mirrors q_text_stats' lang/quality definitions
    "q_quality_gate" ->
      s"""WITH s AS ($docStatsSql
         ), n AS (SELECT lang_id, count(*)::BIGINT AS n FROM s GROUP BY 1),
         h AS (SELECT lang_id, quality_e4 AS q, count(*)::BIGINT AS c FROM s GROUP BY 1, 2),
         cum AS (
           SELECT lang_id, q, sum(c) OVER (PARTITION BY lang_id ORDER BY q DESC) AS cum
           FROM h),
         thr AS (
           SELECT c.lang_id, max(c.q) AS t
           FROM cum c JOIN n USING (lang_id)
           WHERE c.cum >= (n.n + 1) // 2 GROUP BY 1)
         SELECT s.doc_id, s.lang_id, s.quality_e4
         FROM s JOIN thr USING (lang_id) WHERE s.quality_e4 >= thr.t""",
    // the QuantileSample draw replayed exactly: k smallest (60-bit md5 hash,
    // value) pairs per language, integer-indexed order statistics
    "q_quantile_sketch" -> quantileOracle,
    // the merged two-hop plan must land on the DIRECT sample's replay —
    // merge-of-k-smallest ≡ k-smallest-of-union (see quantileMerge scaladoc)
    "q_quantile_merge" -> quantileOracle,
    "q_dedup_groups" ->
      s"""$groupsCte
          SELECT doc_id, group_id FROM groups""",
    "q_dedup_canonical" ->
      s"""$groupsCte,
          m AS (
            SELECT g.group_id, d.doc_id, len(d.text)::BIGINT AS len
            FROM groups g JOIN documents d USING (doc_id)),
          sel AS (
            SELECT group_id, doc_id AS canonical_id,
                   row_number() OVER (PARTITION BY group_id
                                      ORDER BY len DESC, doc_id) AS rn
            FROM m),
          cnt AS (SELECT group_id, count(*)::BIGINT AS n_members FROM m GROUP BY 1)
          SELECT group_id, n_members, canonical_id
          FROM cnt JOIN sel USING (group_id) WHERE rn = 1""",
    "q_decontaminate" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t)-7) ELSE [] END) AS u(i)
         ), ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         ov AS (
           SELECT s.doc_id, count(*)::BIGINT AS n_overlap
           FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) s
           JOIN ev USING (shingle) GROUP BY 1)
         SELECT d.doc_id,
                coalesce(ov.n_overlap, 0) AS n_overlap,
                (CASE WHEN coalesce(ov.n_overlap, 0) = 0 THEN 1 ELSE 0 END)::BIGINT AS kept
         FROM documents d LEFT JOIN ov USING (doc_id)
         WHERE d.doc_id % 20 <> 0""",
    // the filter is reproduced as the UNION of all eval probe positions; a
    // train shingle "bloom-hits" iff BOTH its positions are in that union —
    // exactly the bitset semantics, false positives included
    "q_decon_bloom" -> deconBloomOracle,
    // OR-merge of per-source filters ≡ the bitset of the union of their
    // items, so the merged-filter realization registers under the IDENTICAL
    // oracle (see bloomMerge scaladoc)
    "q_bloom_merge" -> deconBloomOracle,
    "q_tfidf_terms" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term, tf, df,
                  tf * ((n_docs * 1000000) // df) AS score_e6
           FROM tf JOIN dfx USING (term) CROSS JOIN n)
         SELECT doc_id, term, tf, df, score_e6, rnk FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score_e6 DESC, term) AS rnk
           FROM scored) WHERE rnk <= 3""",
    // priority key = (50-bit md5 hash) / weight in one IEEE double division —
    // identical operands, identical rounding, so ranks agree bit-for-bit
    "q_weighted_sample" ->
      s"""WITH h AS (
            SELECT source, doc_id, n_chars,
              (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                & 1125899906842623) AS hk
            FROM documents)
          SELECT source, rk, doc_id, weight FROM (
            SELECT source, doc_id, n_chars AS weight,
                   row_number() OVER (PARTITION BY source
                     ORDER BY (hk / greatest(n_chars, 1)) ASC, doc_id ASC) AS rk
            FROM h) WHERE rk <= $WeightedSampleK""",
    "q_source_quota" ->
      """WITH h AS (
           SELECT source, doc_id,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               & 1125899906842623 AS hk
           FROM documents)
         SELECT source, rk, doc_id FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source ORDER BY hk DESC, doc_id) AS rk
           FROM h) WHERE rk <= 15""")
}
