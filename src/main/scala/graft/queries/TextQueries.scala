package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{FingerprintExpression, ShinglesExpression, TextFunctions}
import graft.operators.TextDedup
import graft.sources.Tables

/** LLM-training-data pipeline operators over `documents.parquet`, each with a
  * DuckDB oracle twin (the text functions emit integers / strings only, so
  * every comparison is bit-exact — no float drift).
  *
  * Parameters (shingle n = 3, Jaccard ≥ 60%) are chosen against the harness
  * data's planted near-dup pairs (Jaccard 0.9–0.99, next tier < 0.3), so the
  * exact and LSH paths both isolate the planted pairs with wide margin.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Exact dedup: one canonical row per distinct content hash. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedup(docs(spark, dir), "doc_id", "text")

  /** Exact n-gram Jaccard near-dup pairs (shingle equi-join, no all-pairs). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.jaccardPairs(docs(spark, dir), "doc_id", "text", n = 3, thresholdPct = 60)

  /** Asymmetric shingle containment (|A∩B|/|A| ≥ 80%): subset duplication —
    * a short document quoted or embedded whole inside a longer one — which
    * the union-normalized Jaccard threshold misses. Same join shape as
    * `q_jaccard_pairs`; the harness corpus contains true subset pairs
    * (containment = 100%) whose Jaccard sits below the 60% dedup cut.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.containmentPairs(docs(spark, dir), "doc_id", "text", n = 3, thresholdPct = 80)

  /** Canonicalization-collision report: documents whose texts differ raw but
    * collide after lowercasing and whitespace collapse — the
    * casing/formatting near-copies that byte-exact dedup misses and MinHash
    * overkills (they are EXACT duplicates under the right equality). Output
    * is per COLLIDING canonical hash: total copies, distinct raw variants
    * (`n_raw > 1` = canonicalization did work beyond byte equality), and the
    * smallest id. The harness corpus contains no formatting variants (all
    * 500 texts are byte-distinct), so this operator is spec-proven on
    * synthetic variants rather than registered as a permanently-empty
    * query. Same one-shuffle hash-groupBy shape as exact dedup;
    * the canonical form is `trim(lower + collapse-spaces)` — in the shared
    * Java∩RE2 regex subset, so both engines canonicalize identically.
    */
  def canonCollisionsOf(d: DataFrame): DataFrame = {
    val canon = trim(regexp_replace(lower(col("text")), " +", " "))
    d.select(col("doc_id"), md5(canon.cast("binary")).as("canon_hash"),
        md5(col("text").cast("binary")).as("raw_hash"))
      .groupBy("canon_hash")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("raw_hash")).as("n_raw"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
  }

  def canonCollisions(spark: SparkSession, dir: String): DataFrame =
    canonCollisionsOf(docs(spark, dir))

  /** Corpus dedup economics in one row: how many docs, how many distinct
    * contents, and how many documents / characters exact dedup would drop —
    * the before/after accounting a pipeline run reports (and the number that
    * justifies running dedup at all at 100 TB). Two stacked aggregations:
    * per-hash copy counts (identical texts share a length, so `min(len)` is
    * exact), then a global roll-up of four sums.
    */
  def dedupReport(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(md5(col("text").cast("binary")).as("h"),
        length(col("text")).cast("long").as("len"))
      .groupBy("h")
      .agg(count(lit(1)).as("copies"), min(col("len")).as("len"))
      .agg(sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("copies") - 1).as("n_dup_docs"),
        sum((col("copies") - 1) * col("len")).as("n_dup_chars"))

  /** Exact corpus heavy hitters (terms at ≥ 0.1% of all tokens) without an
    * unbounded vocabulary aggregation: pass 1 runs the bounded-state
    * Misra-Gries sketch ([[graft.functions.FreqSketch]], k = 1024 counters
    * per partial — guaranteed superset of every term above n/1025), pass 2
    * exact-counts only the ≤ k candidates (broadcast semi-join collapses the
    * aggregation domain from the vocabulary to the candidate set) and
    * filters by the true threshold. The result is exact and deterministic;
    * only the sketch's sub-threshold candidate tail varies with
    * partitioning, and the verify pass discards it.
    */
  /** Collocation thresholds: a bigram must occur [[CollocMinCount]] times to
    * be scored (lift over rare pairs is noise), and the gate carries the
    * top [[CollocTopK]].
    */
  val CollocMinCount = 5
  val CollocTopK = 20

  /** COLLOCATION MINING — the statistically-bound word pairs ("pointwise
    * mutual information" collocations) a corpus-analysis pass extracts for
    * tokenizer/vocabulary decisions and phrase-dictionary seeding. Scored by
    * exact-integer LIFT, the monotone PMI equivalent (PMI = log lift, and
    * log is monotone, so the ranking is identical without any float log):
    * lift_e6 = n_ab·N·10⁶ div (n_a·n_b) — exact in both engines; longs hold
    * the n_ab·N·10⁶ product while n_ab·N ≤ ~9.2·10¹² (e.g. 10⁵-count
    * bigrams on a 10⁸-token corpus — beyond that, drop the e6 scale or
    * pre-divide N, which costs only the fixed-point tail of the ranking).
    *
    * Plan: one unigram aggregation, one bigram aggregation over the native
    * codegen [[graft.functions.ShinglesExpression]] fan-out, min-count
    * filter BEFORE the two vocabulary joins (the filter is what keeps the
    * join input corpus-sublinear), top-k via TakeOrdered (per-partition
    * heap, no global sort).
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val uni = d.select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val nTot = uni.agg(sum(col("n")).as("n_total"))
    d.select(explode(
        graft.functions.ShinglesExpression.shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= CollocMinCount)
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("term").as("a"), col("n").as("n_a")), "a")
      .join(uni.select(col("term").as("b"), col("n").as("n_b")), "b")
      .crossJoin(broadcast(nTot)) // 1-row scalar attach (audit-exempt)
      .withColumn("lift_e6", expr("n_ab * n_total * 1000000 div (n_a * n_b)"))
      .orderBy(col("lift_e6").desc, col("bigram").asc)
      .limit(CollocTopK)
      .select("bigram", "n_ab", "n_a", "n_b", "lift_e6")
  }

  /** LANGUAGE-ID CONFUSION MATRIX — the n-gram-heuristic classifier
    * ([[graft.functions.TextFunctions.langId]]) scored against the corpus's
    * ground-truth `lang` column as (lang, lang_id, n) cells: the accuracy
    * audit every langid gate in the curation layer implicitly relies on,
    * as gated data instead of an assumption (e.g. `zh` has no marker list,
    * so its row shows exactly where those documents land). One narrow
    * codegen scan + one aggregation; the oracle reuses the single-sourced
    * [[langMarkerColsSql]]/[[langCaseSql]] truth.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"),
        graft.functions.TextFunctions.langId(col("text")).as("lang_id"))
      .groupBy("lang", "lang_id").agg(count(lit(1)).as("n"))

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, dir).select(explode(split(col("text"), " ")).as("term"))
    // the corpus total rides along with the sketch pass (a second typed agg
    // column) and then on every candidate row — two scans total, not three
    val cand = toks.as[String]
      .groupByKey(_ => 0)
      .agg(new graft.functions.FreqSketch(1024).column, count(lit(1)).as[Long])
      .flatMap { case (_, cands, n) => cands.map(c => (c._1, n)) }
      .toDF("term", "n_total")
    toks.join(broadcast(cand), Seq("term"))
      .groupBy("term", "n_total").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 1000 >= col("n_total"))
      .select(col("term"), col("freq"), col("n_total"))
  }

  /** MinHash+LSH candidates, exact-verified — the sub-quadratic scale path.
    * The oracle is the *exact* Jaccard SQL: with 16 bands × 2 rows a true pair
    * at J ≥ 0.9 is banded with probability 1-(1-J²)^16 ≈ 1-10⁻¹², and the
    * hash family is deterministic, so LSH∘verify ≡ exact on this data.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashDedupPairs(docs(spark, dir), "doc_id", "text", n = 3,
      thresholdPct = 60, numHashes = 32, rowsPerBand = 2)

  /** Per-document text analysis: language ID, token counts, quality score. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(
      col("doc_id"),
      TextFunctions.langId(t).as("lang_id"),
      TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
      TextFunctions.bpeishTokenCount(t).cast("long").as("n_bpeish"),
      TextFunctions.punctCount(t).cast("long").as("n_punct"),
      TextFunctions.stopwordRatioE4(t).as("stopword_e4"),
      TextFunctions.qualityScoreE4(t).as("quality_e4"))
  }

  /** Document fingerprinting via the native codegen'd rolling-hash expression:
    * the distinct-fingerprint count must equal the distinct-text count
    * (injective on this corpus; identical texts collapse).
    */
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(FingerprintExpression.fingerprint(col("text")).as("fp"))
      .agg(count_distinct(col("fp")).as("n_distinct_fp"), count(lit(1)).as("n_docs"))

  /** SimHash banded near-dup pairs. The token hash is the md5-derived 60-bit
    * value ([[TextDedup.tokenHash60]]), reproducible in DuckDB — the oracle
    * recomputes the signature bit-by-bit and checks ALL pairs exactly, which
    * the banded plan must equal because 16-bit × 4 banding is pigeonhole-exact
    * for Hamming distance ≤ 3.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashNearDupPairs(docs(spark, dir), "doc_id", "text", maxHamming = 3)

  /** Quality floor for the composed cleaning pipeline: on the harness corpus
    * English quality spans 2191–6940 (median ~4400) and non-English scores
    * below 1900, so 3000 exercises both gates without emptying the corpus.
    */
  val QualityFloor = 3000

  /** The LLM-training-data use case composed end-to-end as ONE plan —
    * language gate → quality gate → exact dedup (canonical min-id per content
    * hash) → MinHash-LSH near-dup removal (drop the higher id of each
    * verified pair) → surviving docs with their stats. Every stage is one of
    * the already-oracle-checked operators; the composition shows they chain
    * without materialization barriers: gates are narrow codegen'd filters
    * that reach the scan, dedup is one shuffle, and the near-dup stage is the
    * sub-quadratic banded path — so the whole cleaning pass stays
    * shuffle-bounded at 100 TB.
    */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    // Fully lazy: the gated set (scan + regex gates) appears under several
    // consumers (content-hash canon, the near-dup stage's shingle build, the
    // final anti-join side), but each consumer prunes it to a narrow
    // projection of a parallel no-shuffle scan, and AQE's query-stage reuse
    // dedupes the identical ones at runtime — measured faster end-to-end than
    // persisting the gated set and choreographing cache fills/releases. The
    // output stats are carried as columns from the first projection so no
    // consumer re-derives them.
    val gated = docs(spark, dir)
      .select(col("doc_id"), t,
        TextFunctions.qualityScoreE4(t).as("quality_e4"),
        TextFunctions.tokenCount(t).cast("long").as("n_tokens"))
      .filter(TextFunctions.langId(t) === "en" && col("quality_e4") >= QualityFloor)
    // Canonical min-id per content hash over the RAW scan: exact copies share
    // their text, so they pass or fail the (text-deterministic) gates as one
    // group and the min-id per hash is the same computed before or after
    // gating — this branch therefore needs no regex work at all.
    val canon = docs(spark, dir)
      .select(col("doc_id"), md5(t.cast("binary")).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
    val kept = gated.join(canon.select("doc_id"), Seq("doc_id"), "left_semi")
    val nearDupLosers = TextDedup
      .minhashDedupPairs(kept, "doc_id", "text", n = 3,
        thresholdPct = 60, numHashes = 32, rowsPerBand = 2)
      .select(col("doc_b").as("doc_id")).distinct()
    kept.join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality_e4"), col("n_tokens"))
  }

  /** Within-document repetition (the Gopher-style duplicate-n-gram quality
    * signal): fraction of repeated word 3-grams per doc as an exact ×10⁴
    * integer. Purely narrow codegen work (native shingle expression +
    * `array_distinct`) — zero shuffles at any corpus size.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val sh = ShinglesExpression.shingles(col("text"), 3)
    val total = size(sh).cast("long")
    val dist = size(array_distinct(sh)).cast("long")
    docs(spark, dir).select(
      col("doc_id"),
      total.as("n_shingles"),
      dist.as("n_distinct"),
      floor(((total - dist) * 10000L) / greatest(total, lit(1L)))
        .cast("long").as("repetition_e4"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{4}"

  /** PII scrubbing: count and redact email addresses and phone-shaped numbers.
    * The synthetic corpus carries no natural PII, so the query plants a
    * deterministic contact string derived from `doc_id` (identically in the
    * oracle) and then scrubs it — the patterns stay in the regex subset where
    * Java regex and RE2 agree. Narrow per-row work, no shuffle.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or call 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    docs(spark, dir).select(
      col("doc_id"),
      regexp_count(withPii, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(withPii, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(withPii, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")).as("scrubbed"))
  }

  /** Overlapping token-window chunking (context-window preparation): 16-token
    * chunks at stride 8, the tail chunk truncated. One narrow explode — the
    * 1→N fan-out never shuffles, so it composes with any downstream
    * repartitioning at scale.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val W = 16
    val S = 8
    val toks = split(col("text"), " ")
    val chunk = slice(col("t"), (col("k") * S + 1).cast("int"), lit(W))
    docs(spark, dir)
      .select(col("doc_id"), toks.as("t"),
        explode(sequence(lit(0L),
          ceil(greatest(size(toks).cast("long") - W, lit(0L)) / lit(S.toDouble))
            .cast("long"))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_idx"),
        array_join(chunk, " ").as("chunk_text"),
        size(chunk).cast("long").as("n_chunk_tokens"))
  }

  /** Deterministic hash sampling — the replayable alternative to `rand()`
    * for training-data subsets: keep docs whose md5-derived 60-bit id hash
    * lands in bucket 0 of 10 (~10%), with the doc's language tag for
    * stratification checks. Fully narrow; re-running (or re-sharding) the
    * corpus yields the SAME sample, which `rand()`-based sampling cannot
    * promise and which makes ablation subsets reproducible at 100 TB.
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"),
        pmod(TextDedup.tokenHash60(col("doc_id").cast("string")), lit(10L)).as("bucket"))
      .filter(col("bucket") === 0)
      .select(col("doc_id"), col("lang_id"))

  /** Count-Min sketch geometry: depth (independent hash rows) × width
    * (buckets per row). 4×1024 cells bound the sketch at 32 KiB of counters
    * regardless of corpus size — the point-frequency companion to the
    * heavy-hitter (Misra-Gries), distinct (KMV/HLL), membership (Bloom) and
    * quantile sketches already in the layer.
    */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** Probe terms for the CMS report — the true top-K by exact count, where
    * the sketch's overestimate bias is proportionally smallest (the regime
    * CMS is deployed for).
    */
  val CmsProbeK = 20

  /** Row-`j` CMS bucket of a term: an independent 32-bit slice of the term's
    * md5 (non-overlapping 8-hex windows, so the [[CmsDepth]] rows disagree on
    * which terms collide) reduced mod [[CmsWidth]]. Pure string/integer ops —
    * replayed verbatim by the DuckDB oracle.
    */
  private def cmsBucket(term: Column, j: Int): Column =
    pmod(conv(substring(md5(term.cast("binary")), 1 + 8 * j, 8), 16, 10).cast("long"),
      lit(CmsWidth.toLong))

  /** Count-Min point-frequency sketch over the corpus token stream, reported
    * against exact counts on the true top-[[CmsProbeK]] terms (estimate ≥
    * exact always; equality when no heavier term collides in every row).
    *
    * Scale shape: the sketch side never materializes per-term counts — each
    * token occurrence fans out to [[CmsDepth]] (row, bucket) cells and
    * aggregates straight to the bounded CmsDepth×[[CmsWidth]] cell table with
    * map-side combine (the classic streaming CMS update, expressed as one
    * relational aggregation). The exact-count side exists only to select and
    * label the probe terms — the measurement role, same pattern as the ANN
    * recall queries — and its top-K plans as TakeOrdered (per-partition
    * heaps, no global sort). The estimate join broadcasts the 4096-cell
    * table.
    */
  def cmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(explode(split(col("text"), " ")).as("term"))
    val rows = (0 until CmsDepth).map(j =>
      struct(lit(j).as("j"), cmsBucket(col("term"), j).as("bucket")))
    val cells = toks
      .select(explode(array(rows: _*)).as("e"))
      .groupBy(col("e.j").as("j"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
    val probes = toks.groupBy("term").agg(count(lit(1)).as("exact_freq"))
      .orderBy(col("exact_freq").desc, col("term").asc)
      .limit(CmsProbeK)
    probes
      .select(col("term"), col("exact_freq"), explode(array(rows: _*)).as("e"))
      .select(col("term"), col("exact_freq"), col("e.j").as("j"), col("e.bucket").as("bucket"))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("term", "exact_freq")
      .agg(min(col("cell")).as("cms_freq"))
  }

  /** Merge candidates reported by `q_bpe_pairs` — the true top of the pair
    * distribution, where a tokenizer trainer would start merging.
    */
  val BpeTopK = 20

  /** BPE tokenizer-training round 1 at corpus scale: adjacent character-pair
    * counts over the (word, freq) vocabulary, weighted by word frequency —
    * the statistic every merge decision of a BPE/WordPiece trainer is made
    * from. Corpus-sized work is ONE token-stream rollup to the vocabulary;
    * the pair fan-out and count run over vocabulary-sized data, and the
    * top-[[BpeTopK]] plans as TakeOrdered. The full iterative trainer (merge
    * loop over the symbolized vocabulary) is [[graft.operators.Bpe.train]],
    * spec-proven against a sequential reference (`BpeSpec`); round 1 is what
    * a SQL oracle can mirror exactly.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.topPairs(docs(spark, dir), "text", BpeTopK)

  /** BPE tokenizer ENCODING at corpus scale — the inference half that turns
    * the learned merge table into real token statistics: encode the corpus
    * vocabulary under the deterministic top-[[BpeTopK]] merge list (the one
    * `q_bpe_pairs` reports, (freq DESC, pair ASC) ranked) and report the
    * corpus token table — per BPE token, its weighted occurrence count and
    * how many distinct words contain it. Scale anatomy in
    * [[graft.operators.Bpe.encodeVocab]]: corpus work is ONE rollup to the
    * vocabulary; encoding is vocabulary-sized and shuffle-free; the token
    * rollup aggregates a vocabulary-sized fan-out. The merge-list collect is
    * [[BpeTopK]] rows — bounded by construction. The oracle replays the
    * exact leftmost-lowest-rank single-merge semantics as a recursive CTE
    * over the space-separated symbol string (first-occurrence splice), so
    * the comparison is bit-exact with no float or ordering slack.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // ONE corpus rollup feeds both the merge-list collect and the encode
    // plan (Lineage-cut, audit-transparent). Measured at sf0.1 (min-of-3
    // warm, end-to-end incl. the eager collect/cut jobs): shared-cut
    // 0.48 s vs 0.69 s rebuilding the vocabulary in both jobs — the r12
    // review's double-rollup finding, priced and kept. (q_bpe_budget
    // measured a wash, 0.41 vs 0.38 s — it keeps the same shape for the
    // single-sourced vocabulary, not for speed.)
    val vocab = graft.operators.Lineage.cut(graft.operators.Bpe.wordVocab(d, "text"))
    val merges = graft.operators.Bpe.rankedPairMergesOfVocab(vocab, BpeTopK)
    graft.operators.Bpe.encodeVocab(vocab, merges)
      .toDF()
      .select(col("word"), col("wfreq"), explode(col("toks")).as("token"))
      .groupBy("token")
      .agg(sum(col("wfreq")).as("occ"),
        count_distinct(col("word")).as("n_words"))
  }

  /** Merge rounds for `q_bpe_train` — deep enough that multi-character
    * symbols appear on both sides of later rules (the part round-1 pair
    * statistics cannot exercise).
    */
  val BpeTrainRounds = 16

  /** FULL sequential BPE training under the gate: the learned merge table
    * (rank, left, right) for [[BpeTrainRounds]] rounds — upgrading the
    * trainer from spec-proven to driver-gated, so the whole BPE story
    * (`q_bpe_pairs` round-1 statistics → `q_bpe_train` the merge sequence →
    * `q_bpe_encode`/`q_bpe_budget` application) is oracle-checked. The
    * Spark side is [[graft.operators.Bpe.train]] (distributed corpus
    * rollup + localized merge loop); the oracle replays sequential
    * Sennrich'16 training as a recursive CTE over a single-row LIST state:
    * each step either applies one more leftmost-splice pass of the current
    * rule to every word still containing it (repeated leftmost single
    * merges ≡ left-to-right non-overlapping application, exact even inside
    * self-adjacent runs) or, once the rule is exhausted, recounts adjacent
    * symbol pairs and selects the next (count DESC, pair ASC) argmax,
    * stopping below weighted count 2 — the same semantics the Scala
    * trainer and its sequential reference implement, validated on the
    * Sennrich corpus, run-heavy edge corpora, and the harness data.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    mergeTable(spark,
      graft.operators.Bpe.train(docs(spark, dir), "text", BpeTrainRounds))

  /** The DISTRIBUTED batched trainer under the same gate as `q_bpe_train`
    * (identical oracle SQL): [[graft.operators.Bpe.trainDistributedBatched]]
    * forced onto the oversized-vocabulary fallback path `Bpe.train` would
    * only take past its 2M-word localization cap, so the
    * snapshot-plan-apply loop — statistics freeze, exact batch planner,
    * adaptive one-rule degeneration — is driver-gated, not just
    * spec-proven, on the harness corpus. Must emit the byte-identical
    * merge sequence the sequential oracle replays. Like `q_bpe_train`,
    * construction trains EAGERLY (the merge loop is inherently driver-
    * sequenced), so every registry sweep that builds this query — the
    * plan audit does, twice — pays the training jobs; priced at sf0.001:
    * ~2 s per build, accepted to keep the audit's every-query invariant.
    */
  def bpeTrainDist(spark: SparkSession, dir: String): DataFrame =
    mergeTable(spark, graft.operators.Bpe.trainDistributedBatched(
      docs(spark, dir), "text", BpeTrainRounds))

  /** The (merge_rank, left_sym, right_sym) projection both trainer gates
    * share.
    */
  private def mergeTable(spark: SparkSession,
                         merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1L, a, b) }
      .toDF("merge_rank", "left_sym", "right_sym")
  }

  /** Per-document BPE token budget — [[graft.operators.Bpe.bpeTokenCounts]]
    * under the gate: the whitespace `n_tokens` next to the BPE count under
    * the same deterministic top-[[BpeTopK]] merge list `q_bpe_encode`
    * checks, so the token-budget denominator swap documented on
    * `q_token_budget` is itself oracle-verified per document. One extra
    * corpus scan beyond the vocabulary encode; the per-word count table
    * broadcasts.
    */
  def bpeBudget(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // the single-sourced denominator table (pricing of the shared-vocabulary
    // shape measured at bpeEncode — a wash for this query)
    val wordToks = graft.operators.Bpe.wordTokenTable(d, "text", BpeTopK)
    d.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(graft.operators.Bpe.bpeTokenCountsWith(d, "doc_id", "text", wordToks),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Per-language tokenizer FERTILITY report — the standard tokenizer-eval
    * table a vocabulary choice is judged by: for each language, BPE tokens
    * per word (fertility; high = the vocabulary fragments that language) and
    * characters per BPE token (compression), in e6 fixed point, beside the
    * raw word / token / character totals. A multilingual pipeline reads
    * exactly this view to catch a vocabulary that under-serves a language
    * (fertility disparities translate directly into per-language compute and
    * context-length inequities). Same deterministic top-[[BpeTopK]] merge
    * list as the `q_bpe_encode` gate.
    *
    * Scale shape: the corpus is scanned twice, both narrow — one langId+count
    * rollup onto the tiny language domain, one word fan-out joined to the
    * BROADCAST per-word token-count table (vocabulary-sized) and aggregated
    * onto the same domain; the language label rides the word stream from its
    * own scan (single expression, no corpus-corpus join). All integer
    * arithmetic, so hash-stable at any parallelism.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    fertilityRollup(d,
      graft.operators.Bpe.wordTokenTable(d, "text", BpeTopK), Seq("word"))
  }

  /** The shared per-language fertility rollup tail: lang-labeled word
    * stream ⋈ the BROADCAST per-word token-count table (`keys` decides
    * whether counts are global or language-keyed), aggregated onto the
    * language domain from its own doc rollup. One definition gates both
    * fertility realizations.
    */
  private def fertilityRollup(d: DataFrame, wordToks: DataFrame,
                              keys: Seq[String],
                              tokCol: String = "n_bpe_tokens"): DataFrame = {
    val lang = graft.functions.TextFunctions.langId(col("text")).as("lang_id")
    // lang below the explode in its own projection — see Bpe.langWordVocab:
    // a single select would re-run the 8-regex language CASE per word row
    val perLang = d.select(lang, col("text").as("__text"))
      .select(col("lang_id"), explode(split(col("__text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(broadcast(wordToks), keys)
      .groupBy("lang_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as(tokCol),
        sum(length(col("word")).cast("long")).as("n_chars"))
    d.select(lang).groupBy("lang_id").agg(count(lit(1)).as("n_docs"))
      .join(perLang, Seq("lang_id"), "left")
      .select(col("lang_id"), col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col(tokCol), lit(0L)).as(tokCol),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"))
      .withColumn("toks_per_word_e6",
        expr(s"($tokCol * 1000000) div greatest(n_words, 1)"))
      .withColumn("chars_per_tok_e6",
        expr(s"(n_chars * 1000000) div greatest($tokCol, 1)"))
  }

  /** Per-language round-1 merge tables — the MULTILINGUAL tokenizer build:
    * each language ranks its own top-[[BpeTopK]] pairs from its own
    * vocabulary instead of competing for slots in one global ranking.
    * Plan shape: one corpus scan into the (lang_id, word) vocabulary, pair
    * fan-out bounded by Σ(|word|−1), a `row_number` window partitioned on
    * the tiny language domain over PAIR counts (never corpus rows).
    */
  def bpeByLang(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairsByLang(
      graft.operators.Bpe.langWordVocab(docs(spark, dir), "text",
        graft.functions.TextFunctions.langId(col("text"))), BpeTopK)
      .select(col("lang_id"), col("merge_rank").cast("long").as("merge_rank"),
        col("pair"), col("freq"))

  /** [[bpeFertility]] under PER-LANGUAGE merge tables ([[bpeByLang]]'s) —
    * the payoff table of the multilingual build, schema-identical to the
    * global-vocabulary fertility report so the two gated tables diff
    * directly: per-language merges recover the fertility a shared ranking
    * costs the under-represented languages. Measured at sf0.01 (the harness
    * corpus labels two languages): `en` (453 docs, dominates the global
    * ranking) is identical at 3.57 tokens/word, while minority `und`
    * (47 docs) improves 3.71 → 3.62 — exactly the shape the technique
    * exists for, scaled down to a 20-merge toy vocabulary; a production
    * 32k-merge build on a genuinely multilingual corpus widens the gap.
    * Same two-scan shape; the per-word count table is language-keyed and
    * still broadcast-sized.
    */
  def bpeFertilityByLang(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val lv = graft.operators.Lineage.cut(
      graft.operators.Bpe.langWordVocab(d, "text",
        graft.functions.TextFunctions.langId(col("text"))))
    val merges = graft.operators.Bpe.rankedPairMergesByLang(lv, BpeTopK)
    val wordToks = graft.operators.Bpe.encodeVocabByLang(lv, merges).toDF()
      .select(col("lang_id"), col("word"),
        size(col("toks")).cast("long").as("n_toks"))
    fertilityRollup(d, wordToks, Seq("lang_id", "word"))
  }

  /** Multi-character candidate pieces the unigram-LM seed keeps beside the
    * full alphabet — small enough that the EM recount visibly drops unused
    * candidates on this corpus, large enough that multi-character pieces
    * win segmentations.
    */
  val UnigramSeedK = 12

  /** `q_unigram_round`: ONE hard-EM round of the unigram-LM
    * (SentencePiece-style) tokenizer over the corpus vocabulary — seed an
    * over-complete substring vocabulary, Viterbi-segment every word under
    * integer bit-length costs, re-count piece usage (see
    * [[graft.operators.Unigram]] for the algorithm and the
    * exact-arithmetic / tie-break design that makes a TRAINED segmentation
    * hash-gateable). The oracle enumerates every segmentation as a
    * recursive CTE and replays the same (cost, n_pieces, path) ordering.
    */
  def unigramRound(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.emRound(
      graft.operators.Lineage.cut(
        graft.operators.Bpe.wordVocab(docs(spark, dir), "text")),
      UnigramSeedK)

  /** `q_unigram_round2`: the EM iteration actually ITERATING — prune to the
    * pieces round 1 used, re-estimate costs from the recounted frequencies,
    * re-segment (one step of Kudo's iterative shrinking with probability
    * re-estimation in between; see [[graft.operators.Unigram.emRound2]]).
    */
  def unigramRound2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.emRound2(
      graft.operators.Lineage.cut(
        graft.operators.Bpe.wordVocab(docs(spark, dir), "text")),
      UnigramSeedK)

  /** Corpus-prefix divisors of the Heaps-law curve: prefixes at max-id/8,
    * /4, /2, and the full corpus.
    */
  val HeapsDivisors: Seq[Int] = Seq(8, 4, 2, 1)

  /** `q_heaps_law`: VOCABULARY GROWTH over corpus prefixes — the Heaps-law
    * curve (V(n) ≈ K·nᵝ) whose flattening tells a curation pipeline when
    * more of the same source stops buying new vocabulary. For each prefix
    * (docs with id ≤ max_id/divisor): doc count, token count, and the
    * number of distinct word TYPES first seen inside it — all integers.
    *
    * Plan shape (no global sort, no per-prefix rescans): prefixes are id
    * thresholds from a 1-row max (scalar attach), types come from the
    * vocabulary-sized first-occurrence table (`min(doc_id)` per word), and
    * all [[HeapsDivisors]] prefixes are conditional aggregates in ONE pass
    * over each input (the `q_ams_*` fan-out-free form), stacked into rows.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mx = d.agg(max(col("doc_id")).as("mx"))
    val words = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
    val firstOcc = words.groupBy("word").agg(min(col("doc_id")).as("first_doc"))
    // the prefix-membership column is named ONCE per input (review catch:
    // a dead parameter beside a closure-captured column invites silent
    // wrong-column counts)
    def tiers(src: DataFrame, idCol: String, outPrefix: String): DataFrame = {
      def cnt(f: Int): Column = count(when(col(idCol) <= expr(s"mx div $f"), 1))
      src.crossJoin(broadcast(mx)) // 1-row scalar attach (audit-exempt)
        .agg(cnt(HeapsDivisors.head).as(s"$outPrefix${HeapsDivisors.head}"),
          HeapsDivisors.tail.map(f => cnt(f).as(s"$outPrefix$f")): _*)
    }
    val nd = tiers(d.select("doc_id"), "doc_id", "nd_")
    val nt = tiers(words.select("doc_id"), "doc_id", "nt_")
    val ty = tiers(firstOcc, "first_doc", "ty_")
    val stackArgs = HeapsDivisors
      .map(f => s"${f}L, mx div $f, nd_$f, nt_$f, ty_$f").mkString(", ")
    nd.crossJoin(ty).crossJoin(nt).crossJoin(broadcast(mx))
      .select(expr(s"stack(${HeapsDivisors.size}, $stackArgs) " +
        "AS (divisor, id_cap, n_docs, n_tokens, n_types)"))
  }

  /** Hard-EM rounds the convergence ladder prices. */
  val UnigramConvRounds = 3

  /** `q_unigram_conv`: the EM CONVERGENCE ladder — per round, the model
    * size, the pieces actually used, and the corpus segmentation objective
    * Σ wfreq·cost with the token count beside it, all integers (the
    * `q_ivf_conv_quality` pattern applied to the tokenizer EM: the
    * round-over-round objective delta IS the stopping-rule increment, and
    * it is gated data, not a claim). Round r+1 = round r's used pieces with
    * re-derived costs ([[graft.operators.Unigram.emStep]] chained), so the
    * model-size column shows Kudo's shrinking and the cost column shows
    * what each shrink+re-estimate bought. Each round is vocabulary-sized
    * work (two broadcast-map Viterbi passes); the corpus is touched once
    * for the vocabulary.
    */
  def unigramConv(spark: SparkSession, dir: String): DataFrame = {
    val vocab = graft.operators.Lineage.cut(
      graft.operators.Bpe.wordVocab(docs(spark, dir), "text"))
    var pieces = graft.operators.Unigram.seedPieces(vocab, UnigramSeedK)
      .select("piece", "freq")
    (1 to UnigramConvRounds).map { r =>
      val out = graft.operators.Lineage.cut(
        graft.operators.Unigram.emStep(vocab, pieces))
      val costMap = out.select("piece", "cost").collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      val model = out.agg(count(lit(1)).as("n_pieces_model"),
        sum((col("em_freq") > 0).cast("long")).as("n_pieces_used"))
      val row = model
        .crossJoin(graft.operators.Unigram.corpusStats(vocab, costMap))
        .select(lit(r.toLong).as("round"), col("n_pieces_model"),
          col("n_pieces_used"), col("n_words"), col("total_cost"),
          col("n_tokens"))
      pieces = out.filter(col("em_freq") > 0)
        .select(col("piece"), col("em_freq").as("freq"))
      row
    }.reduce(_.unionByName(_))
  }

  /** Multi-piece size schedule of the prune-to-target ladder: round r+1's
    * model keeps the top sched(r) multi-character pieces by prune loss, so
    * the ladder lands EXACTLY on [[UnigramTargetMulti]] — a fixed,
    * data-independent schedule (the unrolled oracle needs a constant round
    * count, and SentencePiece's drop-a-fraction-until-target loop has a
    * data-dependent length).
    */
  val UnigramTargetSched: Seq[Int] = Seq(9, 6)

  /** The target the ladder prunes to — both tokenizer families learn exactly
    * this many multi-character units in the equal-size bake-off
    * (`q_tokenizer_fertility_eq`).
    */
  val UnigramTargetMulti: Int = UnigramTargetSched.last

  /** Drive the prune ladder once, driver-side: element i = round i+1's
    * model as (piece→cost map, model size, multi-piece count). Each round is
    * one [[graft.operators.Unigram.emStep]] (vocabulary-sized Viterbi under
    * the broadcast map) plus a bounded model collect (alphabet + ≤
    * [[UnigramSeedK]] rows — the BPE merge-list precedent); pruning keeps
    * every single character (coverage) plus the top-scheduled multi pieces
    * by first-order loss ([[graft.operators.Unigram.pruneToTargetNext]]).
    */
  private def unigramTargetLadder(spark: SparkSession,
                                  vocab: DataFrame): Seq[(Map[String, Long], Int, Int)] = {
    import spark.implicits._
    var pieces = graft.operators.Unigram.seedPieces(vocab, UnigramSeedK)
      .select("piece", "freq")
    (0 to UnigramTargetSched.length).map { idx =>
      val out = graft.operators.Lineage.cut(
        graft.operators.Unigram.emStep(vocab, pieces))
      val rows = out.select("piece", "cost", "em_freq").collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
      val costMap = rows.map(x => x._1 -> x._2).toMap
      val nMulti = rows.count(x =>
        graft.operators.Bpe.codePoints(x._1).length >= 2)
      if (idx < UnigramTargetSched.length)
        pieces = graft.operators.Unigram
          .pruneToTargetNext(rows, UnigramTargetSched(idx))
          .toDF("piece", "freq")
      (costMap, rows.length, nMulti)
    }
  }

  /** Ladder memo keyed by (applicationId, sf dir): `q_unigram_target` and
    * `q_tokenizer_fertility_eq` consume the SAME prune ladder — without the
    * memo every registry sweep paid the three EM jobs twice (review catch).
    * Values are tiny immutable integer maps (alphabet + ≤ [[UnigramSeedK]]
    * pieces per round), never Spark lifecycle objects (the r4 lesson), and
    * testdata is immutable within a session, so entries cannot go stale —
    * the `gsIndex` ensure-once pattern, driver-side.
    */
  private val targetLadderMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Seq[(Map[String, Long], Int, Int)]]()

  private def unigramTargetLadderFor(spark: SparkSession,
                                     dir: String): Seq[(Map[String, Long], Int, Int)] =
    targetLadderMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, dir),
      _ => unigramTargetLadder(spark, graft.operators.Lineage.cut(
        graft.operators.Bpe.wordVocab(docs(spark, dir), "text"))))

  /** `q_unigram_target`: vocabulary-size-TARGETED pruning — the production
    * knob `q_unigram_conv`'s free-shrinking ladder does not price
    * (SentencePiece's contract: prune lowest-loss pieces until |V| hits the
    * target; the unigram counterpart of BPE's `vocabSize` dispatch). Per
    * round: the model size, its multi-piece count (12 → 9 → 6 by the fixed
    * [[UnigramTargetSched]]), and the corpus objective Σ wfreq·cost with the
    * token count beside it — so what each forced shrink COSTS in
    * segmentation quality is gated data. A piece's prune loss is the exact
    * first-order integer em_freq × (altCost − cost) with altCost its own
    * best non-self segmentation ([[graft.operators.Unigram.altCost]]);
    * single characters are never pruned (coverage). All integers.
    */
  def unigramTarget(spark: SparkSession, dir: String): DataFrame = {
    val vocab = graft.operators.Lineage.cut(
      graft.operators.Bpe.wordVocab(docs(spark, dir), "text"))
    unigramTargetLadderFor(spark, dir).zipWithIndex.map {
      case ((costMap, nModel, nMulti), idx) =>
        graft.operators.Unigram.corpusStats(vocab, costMap)
          .select(lit((idx + 1).toLong).as("round"),
            lit(nModel.toLong).as("n_pieces_model"),
            lit(nMulti.toLong).as("n_multi"),
            col("n_words"), col("total_cost"), col("n_tokens"))
    }.reduce(_.unionByName(_))
  }

  /** `q_tokenizer_fertility_eq`: the bake-off at EQUAL learned-vocabulary
    * size — `q_tokenizer_fertility` compares BPE's top-[[BpeTopK]] merge
    * table against the unigram seed model (unequal units); this gate gives
    * both families exactly [[UnigramTargetMulti]] learned multi-character
    * units over the SAME corpus vocabulary (BPE: that many ranked merges;
    * unigram: the prune ladder's terminal model) and reports each family's
    * tokens-per-word in e6 fixed point — the comparison a tokenizer choice
    * at a fixed vocab budget actually reads.
    */
  def tokenizerFertilityEq(spark: SparkSession, dir: String): DataFrame = {
    val vocab = graft.operators.Lineage.cut(
      graft.operators.Bpe.wordVocab(docs(spark, dir), "text"))
    fertilityBakeOff(vocab, UnigramTargetMulti,
      unigramTargetLadderFor(spark, dir).last._1)
  }

  /** The bake-off body both fertility gates share: over one corpus
    * vocabulary, BPE under the top-`bpeMerges` ranked merges against the
    * unigram-LM segmentation under `unigramCost`, as (tokenizer, n_words,
    * n_tokens, toks_per_word_e6) rows. The cost map is by-name, so it is
    * built after the BPE merge list is collected.
    */
  private def fertilityBakeOff(vocab: DataFrame, bpeMerges: Int,
                               unigramCost: => Map[String, Long]): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val bpeToks = graft.operators.Bpe.encodeVocab(vocab,
        graft.operators.Bpe.rankedPairMergesOfVocab(vocab, bpeMerges)).toDF()
      .select(col("word"), size(col("toks")).cast("long").as("n_toks"))
    val b = vocab.join(bpeToks, "word")
      .agg(sum(col("wfreq")).as("n_words"),
        sum(col("wfreq") * col("n_toks")).as("n_tokens"))
      .select(lit("bpe").as("tokenizer"), col("n_words"), col("n_tokens"))
    val bc = spark.sparkContext.broadcast(unigramCost)
    val u = vocab.select(col("word"), col("wfreq")).as[(String, Long)]
      .mapPartitions { it =>
        val cm = bc.value
        it.map { case (w, f) =>
          (f, graft.operators.Unigram.viterbi(w, cm).size.toLong)
        }
      }
      .toDF("wfreq", "np")
      .agg(sum(col("wfreq")).as("n_words"),
        sum(col("wfreq") * col("np")).as("n_tokens"))
      .select(lit("unigram").as("tokenizer"), col("n_words"), col("n_tokens"))
    b.unionByName(u)
      .select(col("tokenizer"), col("n_words"), col("n_tokens"),
        expr("(n_tokens * 1000000) div n_words").as("toks_per_word_e6"))
  }

  /** `q_unigram_bylang`: per-language unigram-LM round-1 models — the
    * multilingual parity the BPE family has (`q_bpe_bylang`): each language
    * seeds, costs, segments, and recounts over its OWN vocabulary, so
    * minority-language pieces never compete with the dominant language for
    * the [[UnigramSeedK]] multi-character slots. Emits (lang_id, piece,
    * cost, seed_freq, em_freq); see
    * [[graft.operators.Unigram.emRoundByLang]] for the plan shape.
    */
  def unigramByLang(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.emRoundByLang(
      graft.operators.Lineage.cut(
        graft.operators.Bpe.langWordVocab(docs(spark, dir), "text",
          graft.functions.TextFunctions.langId(col("text")))),
      UnigramSeedK)

  /** `q_unigram_fertility_bylang`: the by-language fertility payoff table
    * under the PER-LANGUAGE unigram models — formula- and shape-identical
    * to `q_bpe_fertility_bylang` (one shared rollup definition; the token
    * column is named `n_uni_tokens` so the two tables diff column-to-column
    * without a rename), closing the bake-off: both trained families now
    * report per-language fertility under both shared and per-language
    * vocabularies.
    */
  def unigramFertilityByLang(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val lv = graft.operators.Lineage.cut(
      graft.operators.Bpe.langWordVocab(d, "text",
        graft.functions.TextFunctions.langId(col("text"))))
    fertilityRollup(d,
      graft.operators.Unigram.vocabTokenCountsByLang(lv, UnigramSeedK),
      Seq("lang_id", "word"), tokCol = "n_uni_tokens")
  }

  /** `q_tokenizer_fertility`: the two trained tokenizer families priced
    * side by side on the SAME corpus vocabulary — BPE (top-[[BpeTopK]]
    * merges) vs unigram-LM (round-1 model) tokens-per-word in e6 fixed
    * point, the table a tokenizer bake-off actually reads. One shared
    * vocabulary rollup; each family's per-word token counts are
    * vocabulary-sized (encode/DP over broadcast models), so the comparison
    * costs two tiny passes beyond the corpus scan.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val vocab = graft.operators.Lineage.cut(
      graft.operators.Bpe.wordVocab(docs(spark, dir), "text"))
    fertilityBakeOff(vocab, BpeTopK, graft.operators.Unigram
      .seedPieces(vocab, UnigramSeedK).select("piece", "cost").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Vocabulary size for the OOV-rate report: the corpus vocabulary is tiny
    * (~31 distinct words), so 20 leaves a real out-of-vocabulary tail.
    */
  val OovVocab = 20

  /** Per-document out-of-vocabulary token rate against the corpus top-[[OovVocab]]
    * vocabulary — the coverage statistic that prices a tokenizer/vocab choice
    * against a corpus (docs with high OOV rates degrade to byte/unk fallback
    * in training). The vocabulary is deterministic ((freq DESC, term ASC)
    * total order) and broadcast; the per-doc count is one anti-join + rollup,
    * so the corpus is scanned twice and never shuffled wholesale.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(OovVocab).select("term")
    val oov = toks.join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    d.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        expr("(coalesce(n_oov, 0) * 10000) div greatest(n_tokens, 1)").as("oov_e4"))
  }

  /** [[oovRate]] in the TOKENIZER's unit: per-document rate of BPE tokens
    * falling outside the corpus top-[[OovVocab]] BPE-TOKEN vocabulary —
    * the coverage statistic that actually prices a subword vocabulary
    * against a corpus (word-level OOV over-counts: a word can be out of
    * the word vocabulary while all its subword segments are covered).
    * The token stream is the corpus word stream joined through the
    * broadcast [[graft.operators.Bpe.encodedVocabTable]] segments + one
    * explode; the vocabulary is the same deterministic (tf DESC, term ASC)
    * top-K cut as the word twin, now over segments; the per-doc tally is
    * one broadcast anti-join + rollup — corpus scanned twice, shuffled
    * only on `doc_id`.
    */
  def oovRateBpe(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val seg = graft.operators.Bpe.encodedVocabTable(d, "text", BpeTopK)
    val toks = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(broadcast(seg), Seq("word"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(OovVocab).select("term")
    val cnt = toks.groupBy("doc_id").agg(count(lit(1)).as("n_bpe_tokens"))
    val oov = toks.join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    d.select(col("doc_id"))
      .join(cnt, Seq("doc_id"), "left")
      .join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        expr("(coalesce(n_oov, 0) * 10000) div greatest(coalesce(n_bpe_tokens, 0), 1)")
          .as("oov_e4"))
  }

  /** Feature-hash width for the DSIR importance model — 1024 buckets bound
    * the "model" at a broadcastable few KiB regardless of corpus size.
    */
  val DsirBuckets = 1024

  /** Hashed-bigram feature bucket: top-8 hex chars of the md5, mod
    * [[DsirBuckets]] — replayed verbatim by the DuckDB oracle.
    */
  private def dsirBucket(c: Column): Column =
    pmod(conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long"),
      lit(DsirBuckets.toLong))

  /** Data Selection via Importance Resampling (Xie et al., NeurIPS'23)
    * skeleton in exact fixed point: score every document by how much its
    * hashed-bigram distribution looks like the TARGET slice (here the
    * `lang = 'en'` docs — in production, the high-quality reference corpus)
    * relative to the raw corpus. Per-bucket importance ratio
    * `p_target(b) / p_corpus(b)` is computed as an exact ×10⁴ integer
    * (`cnt_t · total_c · 10⁴ // (cnt_c · total_t)` — target ⊆ corpus bounds
    * the ratio, so no overflow), and a document's weight is the mean ratio
    * over its bigram occurrences — the DSIR paper's log-likelihood-ratio
    * shape with ratios in place of logs, keeping both engines bit-equal
    * (same reason `q_lm_score` uses rational arithmetic).
    *
    * Scale shape: the "model" is the [[DsirBuckets]]-row ratio table
    * (broadcast); the corpus appears as the bigram stream feeding three
    * aggregations over bucket/scalar domains and one broadcast join back —
    * never an all-pairs or corpus-keyed shuffle. The bigram hashing is the
    * native codegen'd shingle expression, not an interpreted HOF.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val occ = d.select(col("doc_id"), col("lang"),
        explode(ShinglesExpression.shingles(col("text"), 2)).as("bg"))
      .select(col("doc_id"), col("lang"), dsirBucket(col("bg")).as("b"))
    val corpus = occ.groupBy("b").agg(count(lit(1)).as("cnt_c"))
    val target = occ.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("cnt_t"))
    val totals = occ.agg(count(lit(1)).as("total_c"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("total_t"))
    val ratios = corpus.join(target, Seq("b"), "left")
      .crossJoin(totals) // 1-row scalar attach (audit-exempt aggregate)
      .select(col("b"),
        expr("(coalesce(cnt_t, 0) * total_c * 10000) div (cnt_c * greatest(total_t, 1))")
          .as("ratio_e4"))
    val perDoc = occ.join(broadcast(ratios), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ratio_e4")).as("rsum"))
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        expr("coalesce(rsum, 0) div greatest(coalesce(n_bigrams, 0), 1)").as("dsir_e4"))
  }

  /** The seven English function words the lang-id markers already use —
    * doubling as the stopword list for the Gopher stopword rule keeps both
    * engines on one shared, exactly-replayable vocabulary.
    */
  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Gopher/MassiveText quality-rule battery (Rae et al. 2021, app. A1.1):
    * the published heuristic filter set, re-expressed as ONE token-grouped
    * aggregation with a per-rule flag column and a combined `keep` verdict —
    * the operator a curation team actually runs first at 100 TB, because it
    * is embarrassingly parallel and removes the bulk of junk before any
    * pairwise machinery. Rules (integer fixed point end to end):
    *
    *   - `pass_len`:     50 ≤ word count ≤ 100,000
    *   - `pass_wordlen`: mean word length in [3, 10] characters
    *   - `pass_symbol`:  symbol-only words ≤ 10% of words
    *   - `pass_alpha`:   ≥ 80% of words contain an alphabetic character
    *   - `pass_stop`:    at least 2 stopword occurrences
    *   - `pass_top`:     most frequent word ≤ 20% of all words
    *
    * Per-rule flags (not just the verdict) are the point: at scale the rule
    * HISTOGRAM is the tuning feedback loop — which gate is doing the
    * rejecting, per source/language.
    *
    * Scale shape: explode → (doc_id, term) count with map-side combine →
    * per-doc rollup. No joins, no broadcast, shuffle keyed on
    * (doc_id, term) then doc_id — the same two-hop shape as `q_oov_rate`.
    * All predicates are in the Java∩RE2 regex subset ('[A-Za-z]',
    * '^[^A-Za-z0-9]+$') so both engines classify identically.
    */
  def gopherRulesOf(d: DataFrame): DataFrame = {
    val tc = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val agg = tc.groupBy("doc_id").agg(
      sum(col("cnt")).as("n_tokens"),
      sum(length(col("term")) * col("cnt")).as("word_chars"),
      sum(when(col("term").rlike("[A-Za-z]"), col("cnt")).otherwise(0L)).as("n_alpha"),
      sum(when(col("term").rlike("^[^A-Za-z0-9]+$"), col("cnt")).otherwise(0L)).as("n_symbols"),
      sum(when(col("term").isin(StopWords: _*), col("cnt")).otherwise(0L)).as("n_stop"),
      max(col("cnt")).as("top_cnt"))
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    val passLen = col("n_tokens").between(50L, 100000L)
    val wordlenE2 = expr("(word_chars * 100) div greatest(n_tokens, 1)")
    val passWordlen = wordlenE2.between(300L, 1000L)
    val passSymbol = col("n_symbols") * 10L <= col("n_tokens")
    val passAlpha = col("n_alpha") * 10L >= col("n_tokens") * 8L
    val passStop = col("n_stop") >= 2L
    val passTop = col("top_cnt") * 5L <= col("n_tokens")
    agg.select(col("doc_id"), col("n_tokens"), wordlenE2.as("wordlen_e2"),
      col("n_alpha"), col("n_symbols"), col("n_stop"), col("top_cnt"),
      flag(passLen).as("pass_len"), flag(passWordlen).as("pass_wordlen"),
      flag(passSymbol).as("pass_symbol"), flag(passAlpha).as("pass_alpha"),
      flag(passStop).as("pass_stop"), flag(passTop).as("pass_top"),
      flag(passLen && passWordlen && passSymbol && passAlpha && passStop && passTop)
        .as("keep"))
  }

  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOf(docs(spark, dir))

  /** Window width for cross-document span scrubbing — see
    * [[graft.operators.SpanScrub.W]].
    */
  val SpanW: Int = graft.operators.SpanScrub.W

  /** Cross-document duplicated-SPAN removal (the exact-substring dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): every document-level dedup operator in this library KEEPS or
    * DROPS whole documents — this one REWRITES them, deleting each token
    * covered by any [[SpanW]]-token window that also appears verbatim in
    * another document (boilerplate, licence text, copied passages), and
    * keeping the unique remainder in order. Document-level near-dup misses
    * exactly this case: two long documents sharing one boilerplate paragraph
    * sit far below any Jaccard threshold, yet the shared paragraph is
    * duplicated training signal. Machinery and scale anatomy live in
    * [[graft.operators.SpanScrub]] (shared with the streaming ingest gate).
    */
  def spanScrubOf(d: DataFrame): DataFrame =
    graft.operators.SpanScrub.scrubCorpus(d)

  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    spanScrubOf(docs(spark, dir))

  /** Boilerplate threshold for `q_line_dedup`: a line in ≥ this many
    * DISTINCT documents is template boilerplate. The planted families sit
    * well clear of it on both sides (global header 500 docs, the two
    * rotating footer families 100 and ~167, document bodies ≤ the largest
    * exact-dup group, unique ref lines 1).
    */
  val LineMinDocs = 10

  /** Line-level boilerplate dedup (see [[graft.operators.LineDedup]]): drop
    * every line occurring in ≥ [[LineMinDocs]] distinct documents, keep the
    * remainder in order. The harness corpus has no newlines, so the query
    * assembles a deterministic PAGE per document — a global header line, two
    * rotating footer families keyed on `doc_id`, the document body, and a
    * unique per-doc ref line — identically in the oracle (the same planted-
    * fixture convention as `q_pii_scrub`); the dedup then has real work on
    * every granularity: always-drop, drop-by-family, keep-body, keep-unique.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val page = concat_ws("\n",
      lit("home nav menu login"),
      concat(lit("site banner region "), pmod(col("doc_id"), lit(5L)).cast("string")),
      col("text"),
      concat(lit("copyright footer corp "), pmod(col("doc_id"), lit(3L)).cast("string")),
      concat(lit("ref trace "), col("doc_id").cast("string")))
    graft.operators.LineDedup.dedupLines(
      docs(spark, dir).select(col("doc_id"), page.as("page")),
      "doc_id", "page", LineMinDocs)
  }

  /** Deterministic tagging dictionary for `q_phrase_tags` — multi-token
    * phrases over the harness vocabulary (one 3-gram to exercise length > 2;
    * hit volume is data-dependent, and zero-hit phrases are simply absent
    * from the inner-join output on BOTH engines).
    */
  val TagPhrases: Seq[String] = Seq(
    "hash join", "table scan", "stream column", "window join",
    "order fast", "merge sort", "order order scan")
  // The oracle interpolates each phrase into a SQL VALUES literal — enforce
  // the safe charset at registration so a future quote-bearing phrase fails
  // loudly here instead of silently corrupting the DuckDB side.
  require(TagPhrases.forall(_.matches("[A-Za-z0-9 ]+")),
    "dictionary phrases must stay in [A-Za-z0-9 ] (oracle SQL interpolation)")

  /** Dictionary phrase tagging (see [[graft.operators.PhraseTag]]). */
  def phraseTags(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PhraseTag.tagPhrases(docs(spark, dir), "doc_id", "text",
      TagPhrases)

  /** The Aho-Corasick realization of [[phraseTags]] under the IDENTICAL
    * oracle — the production-recommended path whenever phrase tagging
    * dominates a job or the dictionary leads with stopwords (measured 2-3×
    * faster than the join form at both SFs; switch guidance in
    * [[graft.operators.PhraseTag]]'s scaladoc). Registering it driver-gates
    * what was previously only spec-proven: the automaton's zero-shuffle
    * `mapPartitions` pass must emit the byte-identical (doc_id, phrase,
    * hits) table the pure-Catalyst join form and the DuckDB slice-join
    * oracle produce.
    */
  def phraseTagsAc(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PhraseTag.tagPhrasesAutomaton(docs(spark, dir), "doc_id",
      "text", TagPhrases)

  /** Probe suffixes for `q_nfc_canon`: canonically equivalent, byte-distinct.
    * NOTE: \uXXXX escapes are inert in Scala 2.13 triple-quoted strings, so
    * the oracle SQL interpolates these constants rather than spelling them.
    */
  val NfcProbePre = " caf\u00e9"  // precomposed U+00E9
  val NfcProbeDec = " cafe\u0301" // decomposed e + combining acute U+0301

  /** Unicode canonical-equivalence audit
    * ([[graft.functions.NfcNormalizeExpression]]): the same visible text
    * arrives precomposed (`é` = U+00E9) or decomposed (`e` + U+0301)
    * depending on the producing stack, and every byte-keyed dedup stage
    * treats the two as distinct unless the corpus is NFC-normalized first.
    * The harness corpus is pure ASCII (trivially NFC), so the query plants
    * a deterministic probe suffix per document — precomposed / decomposed /
    * plain by `doc_id % 3`, assembled identically in the oracle (the
    * `q_pii_scrub` fixture convention) — and reports the corpus-release
    * numbers: document count, how many documents are not NFC-normal, and
    * the distinct-content count under raw bytes vs under the canonical
    * form (their gap = duplicates that byte-equality dedup misses).
    *
    * Scale shape: one pruned scan, per-row codegen'd normalization (with
    * an allocation-free all-ASCII byte-scan fast path — real corpora are
    * overwhelmingly already-NFC), exact global distincts over 16-byte md5
    * keys (two-phase partial aggregation; the sketch family is the
    * approximate path at extreme cardinality).
    */
  def nfcCanon(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcNormalizeExpression.nfcNormalize
    val m3 = pmod(col("doc_id"), lit(3L))
    val probe = concat(col("text"),
      when(m3 === 0L, lit(NfcProbePre))
        .when(m3 === 1L, lit(NfcProbeDec))
        .otherwise(lit(" plain")))
    docs(spark, dir).select(probe.as("probe"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(nfcNormalize(col("probe")) =!= col("probe"), 1L)
          .otherwise(0L)).as("n_denormal"),
        countDistinct(md5(col("probe").cast("binary"))).as("distinct_raw"),
        countDistinct(md5(nfcNormalize(col("probe")).cast("binary")))
          .as("distinct_nfc"))
  }

  /** Probe suffixes for `q_moji_repair`. The corrupted form is DERIVED (the
    * clean suffix's UTF-8 bytes re-read as Latin-1 — exactly the corruption
    * [[graft.functions.MojibakeRepairExpression]] inverts), never spelled,
    * so the fixture and the repair can't drift. Interpolated into the
    * oracle for the same triple-quoted-escape reason as the NFC probes.
    */
  val MojiCleanSuffix: String = " r\u00e9sum\u00e9"
  val MojiBadSuffix: String = new String(
    MojiCleanSuffix.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.StandardCharsets.ISO_8859_1)
  val MojiFffdSuffix: String = " lost\ufffdchar"

  /** Encoding-corruption repair audit
    * ([[graft.functions.MojibakeRepairExpression]]): the companion of
    * `q_nfc_canon` on the corpus-hygiene axis — NFC resolves canonical
    * EQUIVALENCE, this one inverts double-encoded UTF-8 (bytes re-read as
    * Latin-1 and re-encoded, `é` → `Ã©`), the classic multi-hop ingest
    * corruption. The ASCII harness corpus gets a planted four-class probe
    * by `doc_id % 4`: plain / corrupted (must repair) / genuinely-accented
    * (must pass through — its lone Latin-1 bytes are invalid UTF-8) /
    * replacement-char U+FFFD (unrepairable, flagged for human attention).
    * The oracle computes the probe assembly and the U+FFFD detection
    * symmetrically and replays the EXPECTED repair from the fixture
    * (DuckDB has no Latin-1 codec — the `q_pii_scrub` replay convention),
    * so any deviation of the expression from exactly-one-layer inversion
    * hash-mismatches. Reported: document count, repaired count, U+FFFD
    * count, and distinct content before vs after repair (their gap =
    * duplicates that byte-equality dedup misses under encoding skew).
    *
    * Scale shape: one pruned scan, per-row codegen'd repair with the
    * allocation-free all-ASCII fast path, exact global distincts over
    * 16-byte md5 keys (two-phase partial aggregation).
    */
  def mojiRepair(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MojibakeRepairExpression.mojibakeRepair
    val m4 = pmod(col("doc_id"), lit(4L))
    val probe = concat(col("text"),
      when(m4 === 1L, lit(MojiBadSuffix))
        .when(m4 === 2L, lit(MojiCleanSuffix))
        .when(m4 === 3L, lit(MojiFffdSuffix))
        .otherwise(lit(" plain")))
    docs(spark, dir).select(probe.as("probe"))
      .select(col("probe"), mojibakeRepair(col("probe")).as("rep"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rep") =!= col("probe"), 1L).otherwise(0L)).as("n_repaired"),
        sum(when(col("probe").contains("\ufffd"), 1L).otherwise(0L)).as("n_fffd"),
        countDistinct(md5(col("probe").cast("binary"))).as("distinct_raw"),
        countDistinct(md5(col("rep").cast("binary"))).as("distinct_rep"))
  }

  /** Thresholds (Jaccard %) the calibration query prices — bracketing the
    * production 60 on both sides, single-sourced into the oracle.
    */
  val JaccardCalibThresholds: Seq[Long] = Seq(50L, 60L, 70L, 80L, 90L)

  /** Dedup-threshold calibration: the pair count a Jaccard dedup pass would
    * act on at each candidate threshold, from ONE shared intersection stage
    * ([[TextDedup.shingleIntersections]] — the same unthresholded frame
    * `q_jaccard_pairs`/`q_containment` filter). Choosing the Jaccard cutoff
    * is the highest-leverage knob in lexical dedup (too low deletes
    * boilerplate-similar but distinct documents, too high keeps true
    * near-dups); this prices the knob instead of asserting it. Thresholds
    * with zero surviving pairs are reported as explicit zeros (the single
    * global-agg row exists even on an empty corpus).
    *
    * Scale shape: identical to `q_jaccard_pairs` (shingle-hash equi-join,
    * 8-byte shuffle keys, optional hot-shingle cap) plus ONE ungrouped
    * aggregation with a conditional count per threshold, fanned out from
    * the 1-row result by a literal struct array — the sweep costs one
    * candidate join and no extra shuffle.
    */
  def jaccardCalib(spark: SparkSession, dir: String): DataFrame = {
    val w = TextDedup.shingleIntersections(docs(spark, dir), "doc_id", "text", n = 3)
    val unionSz = col("size_a") + col("size_b") - col("inter")
    val aggCols = JaccardCalibThresholds.map { t =>
      coalesce(sum(when(col("inter") * 100 >= lit(t) * unionSz, lit(1L)).otherwise(lit(0L))),
        lit(0L)).as(s"n_$t")
    }
    val rows = JaccardCalibThresholds.map { t =>
      struct(lit(t).as("threshold"), col(s"n_$t").as("n_pairs"))
    }
    w.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(rows: _*)).as("c"))
      .select(col("c.threshold").as("threshold"), col("c.n_pairs").as("n_pairs"))
  }

  /** Hot-shingle caps (max docs containing a shingle before it is excluded
    * from candidate generation) the skew-guard calibration prices. cap=1 is
    * the degenerate anchor — a SHARED shingle has frequency ≥ 2, so capping
    * at 1 destroys all detection; 16 exceeds the sf0.01 max frequency (7),
    * pricing the guard as free where there is no skew.
    */
  val CapCalibCaps: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L)

  /** Skew-guard calibration: prices [[TextDedup.shingleIntersections]]'
    * `maxShingleFreq` cap — the knob that bounds the candidate join's
    * per-shingle blowup (a shingle in f docs yields f² pair rows; the cap
    * makes the worst case cap² regardless of corpus skew, which is what
    * lets the plan survive 100 TB boilerplate). Per cap: `n_pairs` = the
    * Jaccard ≥ 60% pairs still detected on the CAPPED shingle sets (sizes
    * and intersections both recomputed post-cap, exactly as the production
    * path computes them), and `entries_dropped` = the doc-shingle entries
    * the cap excluded (the shuffle volume the guard saves). All five caps
    * share ONE shingle scan and ONE frequency aggregation; zero-row caps
    * report explicit zeros via the 5-row equi-join re-attach.
    *
    * The 5× explode multiplies the candidate-join shuffle by the config
    * count — a calibration query runs on a corpus sample at 100 TB, not
    * the full corpus; the knob it prices is what the full-corpus plans use.
    */
  def capCalib(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the doc-shingle frame feeds the frequency table AND the capped-keep
    // join; cut once (two executions of the explode+hash scan otherwise)
    val sh = graft.operators.Lineage.cut(
      TextDedup.shingles(docs(spark, dir), "doc_id", "text", n = 3)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("f"))
    // a shingle in f docs contributes f doc-shingle entries, so the drop
    // count comes from the distinct-shingle-sized frequency table — no
    // second pass over the 5x-exploded entries frame
    val dropped = freq.select(col("f"), explode(lit(CapCalibCaps.toArray)).as("cap"))
      .groupBy("cap")
      .agg(sum(when(col("f") > col("cap"), col("f")).otherwise(lit(0L))).as("entries_dropped"))
    val kept = sh.join(freq, Seq("shingle"))
      .select(col("doc_id"), col("shingle"), col("f"),
        explode(lit(CapCalibCaps.toArray)).as("cap"))
      .filter(col("f") <= col("cap")).select("cap", "doc_id", "shingle")
    val sizes = kept.groupBy("cap", "doc_id").agg(count(lit(1)).as("sz"))
    val a = kept.select(col("cap"), col("shingle"), col("doc_id").as("doc_a"))
    val b = kept.select(col("cap"), col("shingle"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("cap", "shingle")).filter(col("doc_a") < col("doc_b"))
      .groupBy("cap", "doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col("cap"), col("doc_id").as("doc_a"), col("sz").as("size_a")),
        Seq("cap", "doc_a"))
      .join(sizes.select(col("cap"), col("doc_id").as("doc_b"), col("sz").as("size_b")),
        Seq("cap", "doc_b"))
      .filter(col("inter") * 100 >= lit(60L) * (col("size_a") + col("size_b") - col("inter")))
      .groupBy("cap").agg(count(lit(1)).as("n_pairs"))
    CapCalibCaps.toDF("cap")
      .join(pairs, Seq("cap"), "left")
      .join(dropped, Seq("cap"), "left")
      .select(col("cap"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("entries_dropped"), lit(0L)).as("entries_dropped"))
  }

  /** Signature length the LSH banding calibration factorizes — the
    * `q_minhash_lsh` default (`numHashes = 32` in
    * [[TextDedup.minhashDedupPairs]]), so every priced config is an
    * integral rows×bands split of the signature actually deployed.
    */
  val LshCalibNumHashes: Int = 32

  /** Rows-per-band values the calibration prices (powers of two so both
    * engines can evaluate J^r and miss^b as exact IEEE squaring chains):
    * r ∈ {1,…,16} ⇒ b = 32/r bands, spanning recall-heavy (r=1, every
    * signature value its own band) to precision-heavy (r=16, two bands).
    */
  val LshCalibRowsPerBand: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** LSH banding calibration: prices the (rowsPerBand, bands) knob of
    * [[TextDedup.minhashDedupPairs]] ANALYTICALLY — per config, the expected
    * number of true pairs (exact Jaccard ≥ 60%) the banding would catch and
    * the expected total candidate-pair volume it would generate, both from
    * the catch probability p = 1−(1−J^r)^b evaluated on the exact per-pair
    * Jaccard. Running five actual LSH passes would not be oracle-checkable
    * (candidate sets depend on the hash family, which DuckDB cannot
    * reproduce) and would cost five bucket joins; the analytic form needs
    * only the ONE sub-quadratic shingle-intersection frame — pairs sharing
    * zero shingles have J = 0 hence p = 0 exactly, so the equi-join support
    * IS the support of the expectation.
    *
    * Float determinism: J = inter/union is one exactly-rounded IEEE divide;
    * J^r and (1−J^r)^b are explicit SQUARING CHAINS (each step one
    * exactly-rounded multiply, identically associated in both engines — no
    * pow(), whose libm rounding is not cross-engine stable); each pair's p
    * is fixed-pointed to floor(p·10⁶) BEFORE summing, so the aggregate is
    * an order-insensitive BIGINT sum, never a float sum (CLAUDE.md float
    * rule). At 100 TB the same plan runs on a document sample — the
    * expectation columns are means, so they scale linearly.
    */
  def lshCalib(spark: SparkSession, dir: String): DataFrame = {
    val w = TextDedup.shingleIntersections(docs(spark, dir), "doc_id", "text", n = 3)
    val unionSz = col("size_a") + col("size_b") - col("inter")
    var df = w
      .withColumn("j1", col("inter").cast("double") / unionSz)
      .withColumn("is_true", col("inter") * 100 >= lit(60L) * unionSz)
    for (e <- Seq(2, 4, 8, 16))
      df = df.withColumn(s"j$e", col(s"j${e / 2}") * col(s"j${e / 2}"))
    for (r <- LshCalibRowsPerBand) {
      val squarings = Integer.numberOfTrailingZeros(LshCalibNumHashes / r)
      df = df.withColumn(s"m${r}_0", lit(1.0d) - col(s"j$r"))
      for (s <- 1 to squarings)
        df = df.withColumn(s"m${r}_$s", col(s"m${r}_${s - 1}") * col(s"m${r}_${s - 1}"))
      df = df.withColumn(s"p$r",
        floor((lit(1.0d) - col(s"m${r}_$squarings")) * lit(1000000.0d)).cast("long"))
    }
    val aggCols =
      Seq(coalesce(sum(when(col("is_true"), lit(1L)).otherwise(lit(0L))), lit(0L)).as("n_true")) ++
        LshCalibRowsPerBand.flatMap { r =>
          Seq(
            coalesce(sum(when(col("is_true"), col(s"p$r")).otherwise(lit(0L))), lit(0L)).as(s"catch_$r"),
            coalesce(sum(col(s"p$r")), lit(0L)).as(s"cand_$r"))
        }
    // one global agg row (exists even on an empty corpus, matching the
    // oracle's global-agg CTE) exploded into one row per config — a literal
    // struct array, not a join, so no BNLJ enters the plan
    val configRows = LshCalibRowsPerBand.map { r =>
      struct(
        lit(r.toLong).as("rows_per_band"),
        lit((LshCalibNumHashes / r).toLong).as("bands"),
        col("n_true"),
        col(s"catch_$r").as("exp_catch_e6"),
        col(s"cand_$r").as("exp_cand_e6"))
    }
    df.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(configRows: _*)).as("c"))
      .select(col("c.rows_per_band").as("rows_per_band"), col("c.bands").as("bands"),
        col("c.n_true").as("n_true"), col("c.exp_catch_e6").as("exp_catch_e6"),
        col("c.exp_cand_e6").as("exp_cand_e6"))
  }

  /** Character classes for `q_ws_norm`, single-sourced so the Spark and
    * DuckDB regexes can never drift (and because \uXXXX escapes are inert in
    * the triple-quoted oracle strings): invisible format characters to strip
    * (zero-width space / non-joiner / joiner, BOM/ZWNBSP, soft hyphen) and
    * the whitespace-run class to collapse (ASCII whitespace + NBSP). Literal
    * characters only — the class syntax means the same thing to Java regex
    * and RE2.
    */
  val WsZwClass: String = "[\u200b\u200c\u200d\ufeff\u00ad]"
  val WsRunClass: String = "[ \t\n\r\f\u000b\u00a0]+"

  /** Probe suffixes for `q_ws_norm`, planted per `doc_id % 3` (the harness
    * corpus is single-spaced ASCII, trivially normal): invisible-infested /
    * whitespace-run-infested (NBSP, tab, newline, multi-space, trailing) /
    * plain.
    */
  val WsProbeZw: String = " zero\u200bwidth\ufeffmark\u00ad end"
  val WsProbeRun: String = " run\u00a0\tof \n  spaces "

  /** Whitespace + invisible-character normalization: strip zero-width
    * format characters, collapse whitespace runs (including NBSP) to one
    * space, trim. Pure built-in composition — `regexp_replace`/`trim` are
    * codegen'd native expressions, so no custom kernel is needed for this
    * hygiene stage.
    */
  def wsNormalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, WsZwClass, ""), WsRunClass, " "))

  /** Invisible-character / whitespace normalization audit — the third rung
    * of the corpus-hygiene ladder after `q_nfc_canon` (canonical
    * equivalence) and `q_moji_repair` (encoding corruption): zero-width
    * characters and non-standard whitespace (NBSP, tabs, run-on spaces,
    * trailing blanks) are invisible to a reader but split otherwise
    * identical documents across every byte-keyed dedup stage and inflate
    * whitespace token counts. Planted three-class probe by `doc_id % 3`
    * (invisibles / runs / plain), assembled identically in the oracle;
    * reported: document count, documents changed by normalization, and
    * distinct content raw vs normalized (the gap = duplicates byte
    * dedup misses under whitespace skew).
    *
    * Scale shape: one pruned scan, per-row codegen'd regex normalization,
    * exact global distincts over 16-byte md5 keys (two-phase partial
    * aggregation) — same shape as the other two hygiene audits.
    */
  def wsNorm(spark: SparkSession, dir: String): DataFrame = {
    val m3 = pmod(col("doc_id"), lit(3L))
    val probe = concat(col("text"),
      when(m3 === 0L, lit(WsProbeZw))
        .when(m3 === 1L, lit(WsProbeRun))
        .otherwise(lit(" plain")))
    docs(spark, dir).select(probe.as("probe"))
      .select(col("probe"), wsNormalize(col("probe")).as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("probe"), 1L).otherwise(0L)).as("n_changed"),
        countDistinct(md5(col("probe").cast("binary"))).as("distinct_raw"),
        countDistinct(md5(col("norm").cast("binary"))).as("distinct_norm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jaccard_calib" -> (jaccardCalib _),
    "q_lsh_calib" -> (lshCalib _),
    "q_cap_calib" -> (capCalib _),
    "q_ws_norm" -> (wsNorm _),
    "q_moji_repair" -> (mojiRepair _),
    "q_nfc_canon" -> (nfcCanon _),
    "q_phrase_tags" -> (phraseTags _),
    "q_phrase_tags_ac" -> (phraseTagsAc _),
    "q_gopher_rules" -> (gopherRules _),
    "q_span_scrub" -> (spanScrub _),
    "q_line_dedup" -> (lineDedup _),
    "q_bpe_pairs" -> (bpePairs _),
    "q_bpe_encode" -> (bpeEncode _),
    "q_bpe_budget" -> (bpeBudget _),
    "q_bpe_fertility" -> (bpeFertility _),
    "q_bpe_bylang" -> (bpeByLang _),
    "q_bpe_fertility_bylang" -> (bpeFertilityByLang _),
    "q_bpe_train" -> (bpeTrain _),
    "q_bpe_train_dist" -> (bpeTrainDist _),
    "q_oov_rate" -> (oovRate _),
    "q_oov_rate_bpe" -> (oovRateBpe _),
    "q_unigram_round" -> (unigramRound _),
    "q_unigram_round2" -> (unigramRound2 _),
    "q_heaps_law" -> (heapsLaw _),
    "q_unigram_conv" -> (unigramConv _),
    "q_unigram_target" -> (unigramTarget _),
    "q_tokenizer_fertility_eq" -> (tokenizerFertilityEq _),
    "q_unigram_bylang" -> (unigramByLang _),
    "q_unigram_fertility_bylang" -> (unigramFertilityByLang _),
    "q_tokenizer_fertility" -> (tokenizerFertility _),
    "q_dsir_weights" -> (dsirWeights _),
    "q_hash_sample" -> (hashSample _),
    "q_cms_freq" -> (cmsFreq _),
    "q_repetition" -> (repetition _),
    "q_pii_scrub" -> (piiScrub _),
    "q_doc_chunks" -> (docChunks _),
    "q_exact_dedup" -> (exactDedup _),
    "q_jaccard_pairs" -> (jaccardPairs _),
    "q_containment" -> (containmentPairs _),
    "q_collocations" -> (collocations _),
    "q_langid_confusion" -> (langIdConfusion _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_dedup_report" -> (dedupReport _),
    "q_minhash_lsh" -> (minhashLsh _),
    "q_text_stats" -> (textStats _),
    "q_fingerprint_dedup" -> (fingerprintDedup _),
    "q_simhash_pairs" -> (simhashPairs _),
    "q_corpus_clean" -> (corpusClean _))

  /** The slice-join replay of dictionary phrase tagging, shared verbatim by
    * the `q_phrase_tags` (Catalyst join form) and `q_phrase_tags_ac`
    * (Aho-Corasick automaton) gates.
    */
  private lazy val phraseTagsOracle =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         p(phrase, n_toks) AS (VALUES
           ${TagPhrases.map(ph => s"('$ph', ${ph.split(" ").length})").mkString(", ")}),
         pos AS (SELECT doc_id, t, i
                 FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
         m AS (SELECT doc_id, p.phrase
               FROM pos JOIN p
                 ON array_to_string(t[i : i + n_toks - 1], ' ') = p.phrase)
         SELECT doc_id, phrase, count(*)::BIGINT AS hits
         FROM m GROUP BY 1, 2"""

  /** The ONE SQL truth for `TextFunctions.langId`'s marker regexes and
    * priority CASE — consumed by [[langDocCte]] here and by
    * `CurationQueries.langTokensCte`/`docStatsSql`, so an edit to the
    * marker lists can no longer desynchronize the query families' language
    * labels. Plain (non-interpolated) strings: `\b` reaches DuckDB
    * verbatim.
    */
  private[queries] val langMarkerColsSql =
    """len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b'))::BIGINT AS en,
           len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b'))::BIGINT AS de,
           len(regexp_extract_all(text, '\b(le|les|et|est|dans|une)\b'))::BIGINT AS fr,
           len(regexp_extract_all(text, '\b(el|los|las|y|es|en una)\b'))::BIGINT AS es"""

  private[queries] val langCaseSql =
    """CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
              WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
              WHEN fr >= es AND fr > 0 THEN 'fr'
              WHEN es > 0 THEN 'es' ELSE 'und' END"""

  /** (doc_id, lang_id) CTE body — the language labeling shared by the
    * fertility and per-language-BPE oracles.
    */
  private lazy val langDocCte =
    s"""SELECT doc_id, $langCaseSql AS lang_id
       FROM (
         SELECT doc_id,
           $langMarkerColsSql
         FROM documents)"""

  /** The final fertility projection over `nd`/`pl` CTEs — shared verbatim by
    * the global and per-language fertility oracles so the two gated tables
    * stay schema- and formula-identical.
    */
  private def fertilityTail(tokCol: String): String =
    s"""SELECT nd.lang_id, nd.n_docs,
         coalesce(pl.n_words, 0)::BIGINT AS n_words,
         coalesce(pl.$tokCol, 0)::BIGINT AS $tokCol,
         coalesce(pl.n_chars, 0)::BIGINT AS n_chars,
         (coalesce(pl.$tokCol, 0) * 1000000)
           // greatest(coalesce(pl.n_words, 0), 1) AS toks_per_word_e6,
         (coalesce(pl.n_chars, 0) * 1000000)
           // greatest(coalesce(pl.$tokCol, 0), 1) AS chars_per_tok_e6
       FROM nd LEFT JOIN pl USING (lang_id)"""

  private lazy val fertilityTailSql = fertilityTail("n_bpe_tokens")

  /** The BPE encode recursion shared by the `q_bpe_encode` and
    * `q_bpe_budget` oracles — and, since r13, by the BPE-denominated
    * curation twins in [[CurationQueries]] (`q_token_budget_bpe`,
    * `q_seq_pack_bpe`), hence `private[queries]` — ONE definition so the
    * gates can never drift onto different merge semantics: vocabulary
    * rollup, ranked top-K merge table, and the leftmost-lowest-rank
    * single-merge loop realized as a first-occurrence splice over the
    * space-separated symbol string (pure literal strpos + substring in the
    * loop — no regex — so both engines agree bit-for-bit on every input).
    * Terminal rows are `enc WHERE done`.
    */
  private[queries] def bpeEncRecursionK(k: Int): String =
    s"""w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          v AS (SELECT word, count(*)::BIGINT AS wfreq
                FROM w WHERE len(word) >= 1 GROUP BY 1),
          p AS (SELECT substring(word, i, 2) AS pair, sum(wfreq)::BIGINT AS freq
                FROM v, unnest(CASE WHEN len(word) >= 2
                                    THEN generate_series(1, len(word) - 1)
                                    ELSE [] END) AS u(i)
                GROUP BY 1),
          m AS (SELECT row_number() OVER (ORDER BY freq DESC, pair ASC) AS r,
                       ' ' || substring(pair, 1, 1) || ' '
                           || substring(pair, 2, 1) || ' ' AS pat,
                       ' ' || pair || ' ' AS rep
                FROM (SELECT pair, freq FROM p
                      ORDER BY freq DESC, pair ASC LIMIT $k)),
          enc AS (
            SELECT word, wfreq,
                   ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s,
                   false AS done
            FROM v
            UNION ALL
            SELECT e.word, e.wfreq,
                   CASE WHEN mm.pat IS NULL THEN e.s
                        ELSE substring(e.s, 1, strpos(e.s, mm.pat) - 1) || mm.rep
                             || substring(e.s, strpos(e.s, mm.pat) + len(mm.pat)) END,
                   mm.pat IS NULL
            FROM enc e
            LEFT JOIN m mm
              ON mm.r = (SELECT min(m2.r) FROM m m2 WHERE strpos(e.s, m2.pat) > 0)
            WHERE NOT e.done)"""

  private[queries] val bpeEncRecursion: String = bpeEncRecursionK(BpeTopK)

  /** The (word stream, vocabulary) CTE pair the standalone unigram oracles
    * prepend — textually identical to [[bpeEncRecursion]]'s first two CTEs,
    * so `q_tokenizer_fertility` composes the two families over ONE shared
    * `v`.
    */
  private[queries] lazy val unigramVocabCtes: String =
    """w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          v AS MATERIALIZED (SELECT word, count(*)::BIGINT AS wfreq
                FROM w WHERE len(word) >= 1 GROUP BY 1)"""

  /** Round 1 of the unigram-LM hard-EM replay (expects `v` in scope): seed
    * substrings, bit-length costs, exhaustive path enumeration, the
    * (cost, n_pieces, path) argmin, and the recount — terminal CTE `r1` =
    * (piece, cost, seed_freq, em_freq); `best` carries (word, wfreq, np,
    * path) for consumers that need segmentation sizes.
    */
  /** The seed-and-cost prefix (sub/seed/pcost) alone — shared by the round
    * CTEs below and by the generated convergence-ladder oracle, which
    * builds its own per-round enumeration on top of `pcost`.
    */
  private[queries] lazy val unigramSeedCtes: String =
    s"""sub AS MATERIALIZED (SELECT substring(word, u.i, t.j) AS piece,
                    sum(wfreq)::BIGINT AS freq
                  FROM v,
                       unnest(generate_series(1, len(word))) AS u(i),
                       unnest(generate_series(1,
                         least(${graft.operators.Unigram.MaxPieceLen},
                               len(word) - u.i + 1))) AS t(j)
                  GROUP BY 1),
          seed AS (SELECT piece, freq FROM sub WHERE len(piece) = 1
                   UNION ALL
                   SELECT piece, freq FROM (
                     SELECT piece, freq FROM sub WHERE len(piece) >= 2
                     ORDER BY freq DESC, piece ASC LIMIT $UnigramSeedK)),
          pcost AS MATERIALIZED (SELECT piece, freq,
                      (64 - length(bin(freq)))::BIGINT AS cost FROM seed)"""

  private[queries] lazy val unigramRound1Ctes: String =
    s"""$unigramSeedCtes,
          paths AS (
            SELECT word, wfreq, 0::BIGINT AS pos, 0::BIGINT AS cost,
                   0::BIGINT AS np, '' AS path
            FROM v
            UNION ALL
            SELECT p.word, p.wfreq, p.pos + len(c.piece), p.cost + c.cost,
                   p.np + 1,
                   CASE WHEN p.path = '' THEN c.piece
                        ELSE p.path || ' ' || c.piece END
            FROM paths p JOIN pcost c
              ON substring(p.word, (p.pos + 1)::INT, len(c.piece)) = c.piece
            WHERE p.pos < len(p.word)),
          best AS (
            SELECT word, wfreq, np, path FROM (
              SELECT word, wfreq, np, path,
                row_number() OVER (PARTITION BY word
                  ORDER BY cost ASC, np ASC, path ASC) AS rn
              FROM paths WHERE pos = len(word)) WHERE rn = 1),
          em1 AS (SELECT s2.piece, sum(b.wfreq)::BIGINT AS em_freq
                  FROM best b, unnest(string_split(b.path, ' ')) AS s2(piece)
                  GROUP BY 1),
          r1 AS (SELECT pcost.piece, pcost.cost, pcost.freq AS seed_freq,
                   coalesce(em1.em_freq, 0)::BIGINT AS em_freq
                 FROM pcost LEFT JOIN em1 USING (piece))"""

  /** One generated convergence round for the `q_unigram_conv` oracle:
    * enumerate under model `m_r` (round 1's model is `pcost`), pick best
    * paths, recount, derive the next model from USED pieces, and emit the
    * round's stat row. Multi-referenced stages are `MATERIALIZED` — DuckDB
    * inlines CTEs per reference, and the chained rounds would otherwise
    * re-run every earlier enumeration multiplicatively (the r14
    * `q_nndescent_recall` hazard applied proactively).
    */
  private def unigramConvRoundCtes(r: Int): String = {
    val model = if (r == 1) "pcost" else s"m$r"
    s"""paths_c$r AS (
          SELECT word, wfreq, 0::BIGINT AS pos, 0::BIGINT AS cost,
                 0::BIGINT AS np, '' AS path
          FROM v
          UNION ALL
          SELECT p.word, p.wfreq, p.pos + len(c.piece), p.cost + c.cost,
                 p.np + 1,
                 CASE WHEN p.path = '' THEN c.piece
                      ELSE p.path || ' ' || c.piece END
          FROM paths_c$r p JOIN $model c
            ON substring(p.word, (p.pos + 1)::INT, len(c.piece)) = c.piece
          WHERE p.pos < len(p.word)),
        best_c$r AS MATERIALIZED (
          SELECT word, wfreq, cost, np, path FROM (
            SELECT word, wfreq, cost, np, path,
              row_number() OVER (PARTITION BY word
                ORDER BY cost ASC, np ASC, path ASC) AS rn
            FROM paths_c$r WHERE pos = len(word)) WHERE rn = 1),
        em_c$r AS MATERIALIZED (
          SELECT sp.piece, sum(b.wfreq)::BIGINT AS em_freq
          FROM best_c$r b, unnest(string_split(b.path, ' ')) AS sp(piece)
          GROUP BY 1),
        m${r + 1} AS MATERIALIZED (
          SELECT c.piece, em.em_freq AS freq,
                 (64 - length(bin(em.em_freq)))::BIGINT AS cost
          FROM $model c JOIN em_c$r em USING (piece)
          WHERE em.em_freq > 0),
        stat$r AS (SELECT $r::BIGINT AS round,
                     (SELECT count(*) FROM $model)::BIGINT AS n_pieces_model,
                     (SELECT count(*) FROM em_c$r)::BIGINT AS n_pieces_used,
                     sum(wfreq)::BIGINT AS n_words,
                     sum(wfreq * cost)::BIGINT AS total_cost,
                     sum(wfreq * np)::BIGINT AS n_tokens
                   FROM best_c$r)"""
  }

  /** One generated round of the prune-to-TARGET ladder oracle (expects `v`
    * and [[unigramSeedCtes]]' `pcost` in scope; round 1's model is `pcost`,
    * round r+1's is the pruned `m_t{r+1}`): the [[unigramConvRoundCtes]]
    * enumeration/argmin/recount, plus — for pruning rounds — each multi
    * piece's best NON-SELF segmentation cost (`ppaths_t\$r`: the same
    * recursion over the piece strings themselves, `np >= 2` banning the
    * single-piece path), the first-order loss em_freq × (altc − cost), and
    * the next model = every single character ∪ the top-scheduled multi
    * pieces by (loss DESC, piece ASC — binary collation, the driver's
    * `utf8Lt` twin), with costs re-derived from the EM recount.
    */
  private def unigramTargetRoundCtes(r: Int, withStats: Boolean): String = {
    val model = if (r == 1) "pcost" else s"m_t$r"
    val prune = r <= UnigramTargetSched.length
    val stats = if (!withStats) "" else s""",
        stat_t$r AS (SELECT $r::BIGINT AS round,
            (SELECT count(*) FROM $model)::BIGINT AS n_pieces_model,
            (SELECT count(*) FROM $model WHERE len(piece) >= 2)::BIGINT AS n_multi,
            sum(wfreq)::BIGINT AS n_words,
            sum(wfreq * cost)::BIGINT AS total_cost,
            sum(wfreq * np)::BIGINT AS n_tokens
          FROM best_t$r)"""
    val pruneCtes = if (!prune) "" else s""",
        pw_t$r AS (SELECT piece AS word FROM $model WHERE len(piece) >= 2),
        ppaths_t$r AS (
          SELECT word, 0::BIGINT AS pos, 0::BIGINT AS cost, 0::BIGINT AS np
          FROM pw_t$r
          UNION ALL
          SELECT p.word, p.pos + len(c.piece), p.cost + c.cost, p.np + 1
          FROM ppaths_t$r p JOIN $model c
            ON substring(p.word, (p.pos + 1)::INT, len(c.piece)) = c.piece
          WHERE p.pos < len(p.word)),
        palt_t$r AS MATERIALIZED (
          SELECT word AS piece, min(cost) AS altc
          FROM ppaths_t$r WHERE pos = len(word) AND np >= 2 GROUP BY 1),
        loss_t$r AS MATERIALIZED (
          SELECT mo.piece,
                 coalesce(em.em_freq, 0) * (pa.altc - mo.cost) AS loss,
                 coalesce(em.em_freq, 0)::BIGINT AS em_freq
          FROM $model mo JOIN palt_t$r pa USING (piece)
          LEFT JOIN em_t$r em USING (piece)
          WHERE len(mo.piece) >= 2),
        m_t${r + 1} AS MATERIALIZED (
          SELECT mo.piece, coalesce(em.em_freq, 0)::BIGINT AS freq,
                 (64 - length(bin(coalesce(em.em_freq, 0))))::BIGINT AS cost
          FROM $model mo LEFT JOIN em_t$r em USING (piece)
          WHERE len(mo.piece) = 1
          UNION ALL
          SELECT piece, em_freq AS freq,
                 (64 - length(bin(em_freq)))::BIGINT AS cost
          FROM (SELECT piece, em_freq FROM loss_t$r
                ORDER BY loss DESC, piece ASC
                LIMIT ${UnigramTargetSched(r - 1)}))"""
    s"""paths_t$r AS (
          SELECT word, wfreq, 0::BIGINT AS pos, 0::BIGINT AS cost,
                 0::BIGINT AS np, '' AS path
          FROM v
          UNION ALL
          SELECT p.word, p.wfreq, p.pos + len(c.piece), p.cost + c.cost,
                 p.np + 1,
                 CASE WHEN p.path = '' THEN c.piece
                      ELSE p.path || ' ' || c.piece END
          FROM paths_t$r p JOIN $model c
            ON substring(p.word, (p.pos + 1)::INT, len(c.piece)) = c.piece
          WHERE p.pos < len(p.word)),
        best_t$r AS MATERIALIZED (
          SELECT word, wfreq, cost, np, path FROM (
            SELECT word, wfreq, cost, np, path,
              row_number() OVER (PARTITION BY word
                ORDER BY cost ASC, np ASC, path ASC) AS rn
            FROM paths_t$r WHERE pos = len(word)) WHERE rn = 1),
        em_t$r AS MATERIALIZED (
          SELECT sp.piece, sum(b.wfreq)::BIGINT AS em_freq
          FROM best_t$r b, unnest(string_split(b.path, ' ')) AS sp(piece)
          GROUP BY 1)$stats$pruneCtes"""
  }

  private def unigramTargetOracle: String = {
    val n = UnigramTargetSched.length + 1
    val rounds = (1 to n)
      .map(unigramTargetRoundCtes(_, withStats = true)).mkString(",\n")
    val fan = (1 to n).map(r => s"SELECT * FROM stat_t$r").mkString(" UNION ALL ")
    s"""WITH RECURSIVE
        $unigramVocabCtes,
        $unigramSeedCtes,
        $rounds
        $fan"""
  }

  /** Equal-vocab bake-off replay: BPE's recursion at [[UnigramTargetMulti]]
    * merges and the unigram TARGET ladder's terminal model share one `v`
    * (the `q_tokenizer_fertility` composition with the pruned model swapped
    * in for the seed).
    */
  private def tokenizerFertilityEqOracle: String = {
    val n = UnigramTargetSched.length + 1
    val rounds = (1 to n)
      .map(unigramTargetRoundCtes(_, withStats = false)).mkString(",\n")
    s"""WITH RECURSIVE
        ${bpeEncRecursionK(UnigramTargetMulti)},
        wn AS (SELECT word, len(string_split(trim(s), ' '))::BIGINT AS n_toks
               FROM enc WHERE done),
        $unigramSeedCtes,
        $rounds,
        bstat AS (SELECT 'bpe' AS tokenizer, sum(wfreq)::BIGINT AS n_words,
                    sum(wfreq * n_toks)::BIGINT AS n_tokens
                  FROM v JOIN wn USING (word)),
        ustat AS (SELECT 'unigram' AS tokenizer, sum(wfreq)::BIGINT AS n_words,
                    sum(wfreq * np)::BIGINT AS n_tokens
                  FROM best_t$n),
        u AS (SELECT * FROM bstat UNION ALL SELECT * FROM ustat)
        SELECT tokenizer, n_words, n_tokens,
               (n_tokens * 1000000) // n_words AS toks_per_word_e6
        FROM u"""
  }

  private def unigramConvOracle: String = {
    val rounds = (1 to UnigramConvRounds).map(unigramConvRoundCtes).mkString(",\n")
    val fan = (1 to UnigramConvRounds)
      .map(r => s"SELECT * FROM stat$r").mkString(" UNION ALL ")
    s"""WITH RECURSIVE
        $unigramVocabCtes,
        $unigramSeedCtes,
        $rounds
        $fan"""
  }

  /** The lang-keyed unigram CTE chain through per-(lang, word) best paths —
    * shared by the `q_unigram_bylang` model gate and the
    * `q_unigram_fertility_bylang` rollup: per-language vocabulary (the
    * `q_bpe_bylang` labeling), per-language seed (chars + top-K multi via
    * the lang-partitioned window), per-language costs, and the exhaustive
    * enumeration joined on (lang_id, piece).
    */
  private lazy val unigramByLangCtes: String =
    s"""ld AS ($langDocCte),
        ltok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents),
        lw AS (SELECT l.lang_id, t.word FROM ltok t JOIN ld l USING (doc_id)
               WHERE len(t.word) >= 1),
        lv AS MATERIALIZED (
          SELECT lang_id, word, count(*)::BIGINT AS wfreq FROM lw GROUP BY 1, 2),
        lsub AS MATERIALIZED (
          SELECT lang_id, substring(word, u.i, t.j) AS piece,
                 sum(wfreq)::BIGINT AS freq
          FROM lv,
               unnest(generate_series(1, len(word))) AS u(i),
               unnest(generate_series(1,
                 least(${graft.operators.Unigram.MaxPieceLen},
                       len(word) - u.i + 1))) AS t(j)
          GROUP BY 1, 2),
        lseed AS (SELECT lang_id, piece, freq FROM lsub WHERE len(piece) = 1
                  UNION ALL
                  SELECT lang_id, piece, freq FROM (
                    SELECT lang_id, piece, freq,
                      row_number() OVER (PARTITION BY lang_id
                        ORDER BY freq DESC, piece ASC) AS rn
                    FROM lsub WHERE len(piece) >= 2)
                  WHERE rn <= $UnigramSeedK),
        lpc AS MATERIALIZED (
          SELECT lang_id, piece, freq,
                 (64 - length(bin(freq)))::BIGINT AS cost FROM lseed),
        lpaths AS (
          SELECT lang_id, word, wfreq, 0::BIGINT AS pos, 0::BIGINT AS cost,
                 0::BIGINT AS np, '' AS path
          FROM lv
          UNION ALL
          SELECT p.lang_id, p.word, p.wfreq, p.pos + len(c.piece),
                 p.cost + c.cost, p.np + 1,
                 CASE WHEN p.path = '' THEN c.piece
                      ELSE p.path || ' ' || c.piece END
          FROM lpaths p JOIN lpc c
            ON c.lang_id = p.lang_id
           AND substring(p.word, (p.pos + 1)::INT, len(c.piece)) = c.piece
          WHERE p.pos < len(p.word)),
        lbest AS MATERIALIZED (
          SELECT lang_id, word, wfreq, np, path FROM (
            SELECT lang_id, word, wfreq, np, path,
              row_number() OVER (PARTITION BY lang_id, word
                ORDER BY cost ASC, np ASC, path ASC) AS rn
            FROM lpaths WHERE pos = len(word)) WHERE rn = 1)"""

  private val jaccardOracle =
    """WITH sh AS (
         SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
       ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM sh a JOIN sh b USING (shingle)
         WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE inter * 100 >= 60 * (sa.sz + sb.sz - inter)"""

  /** `q_lsh_calib` oracle, GENERATED from the same single-sourced config
    * list as the Spark side so the squaring chains cannot drift: nested
    * one-column-per-step subqueries mirror the `withColumn` chain exactly
    * (same intermediates, same association), per-pair fixed-point before the
    * BIGINT sums, one global-agg CTE fanned out by UNION ALL per config.
    */
  private def lshCalibOracle: String = {
    var chain = "SELECT * FROM pairs"
    for (e <- Seq(2, 4, 8, 16))
      chain = s"SELECT *, j${e / 2} * j${e / 2} AS j$e FROM ($chain)"
    for (r <- LshCalibRowsPerBand) {
      val k = Integer.numberOfTrailingZeros(LshCalibNumHashes / r)
      chain = s"SELECT *, 1.0::DOUBLE - j$r AS m${r}_0 FROM ($chain)"
      for (s <- 1 to k)
        chain = s"SELECT *, m${r}_${s - 1} * m${r}_${s - 1} AS m${r}_$s FROM ($chain)"
      chain = s"SELECT *, CAST(floor((1.0::DOUBLE - m${r}_$k) * 1000000.0::DOUBLE) AS BIGINT) AS p$r FROM ($chain)"
    }
    val aggCols = (
      Seq("coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)::BIGINT AS n_true") ++
        LshCalibRowsPerBand.flatMap { r =>
          Seq(
            s"coalesce(sum(CASE WHEN is_true THEN p$r ELSE 0 END), 0)::BIGINT AS catch_$r",
            s"coalesce(sum(p$r), 0)::BIGINT AS cand_$r")
        }).mkString(",\n                ")
    val fanout = LshCalibRowsPerBand.map { r =>
      s"SELECT ${r}::BIGINT AS rows_per_band, ${LshCalibNumHashes / r}::BIGINT AS bands, " +
        s"n_true, catch_$r AS exp_catch_e6, cand_$r AS exp_cand_e6 FROM agg"
    }.mkString("\n         UNION ALL ")
    s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
         ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (
           SELECT i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) AS j1,
                  i.inter * 100 >= 60 * (sa.sz + sb.sz - i.inter) AS is_true
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b),
         agg AS (
           SELECT $aggCols
           FROM ($chain))
         $fanout"""
  }

  private val oracleSqlBase: Map[String, String] = Map(
    "q_lsh_calib" -> lshCalibOracle,
    // capped sizes/intersections recomputed per cap exactly as the Spark
    // side (and the production maxShingleFreq path) compute them; string
    // shingles here vs 64-bit hashed keys there — equal mod the documented
    // per-pair 2^-64 collision argument
    "q_cap_calib" ->
      s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
         ), f AS (SELECT shingle, count(*) AS f FROM sh GROUP BY 1),
         caps AS (SELECT unnest([${CapCalibCaps.mkString(", ")}]) AS cap),
         ex AS (SELECT s.doc_id, s.shingle, f.f, c.cap
                FROM sh s JOIN f USING (shingle) CROSS JOIN caps c),
         dropped AS (
           SELECT cap, sum(CASE WHEN f > cap THEN 1 ELSE 0 END) AS entries_dropped
           FROM ex GROUP BY 1),
         kept AS (SELECT cap, doc_id, shingle FROM ex WHERE f <= cap),
         sizes AS (SELECT cap, doc_id, count(*) AS sz FROM kept GROUP BY 1, 2),
         inter AS (
           SELECT a.cap, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM kept a JOIN kept b
             ON a.cap = b.cap AND a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3),
         pairs AS (
           SELECT i.cap, count(*) AS n_pairs
           FROM inter i
           JOIN sizes sa ON sa.cap = i.cap AND sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.cap = i.cap AND sb.doc_id = i.doc_b
           WHERE i.inter * 100 >= 60 * (sa.sz + sb.sz - i.inter)
           GROUP BY 1)
         SELECT c.cap::BIGINT AS cap,
                coalesce(p.n_pairs, 0)::BIGINT AS n_pairs,
                coalesce(d.entries_dropped, 0)::BIGINT AS entries_dropped
         FROM caps c
         LEFT JOIN pairs p USING (cap)
         LEFT JOIN dropped d USING (cap)""",
    // the jaccardOracle's shared intersection CTEs, unthresholded, swept
    // over the single-sourced threshold list; LEFT JOIN so zero-pair
    // thresholds report explicit zeros like the Spark side's re-attach
    "q_jaccard_calib" ->
      s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
         ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT i.doc_a, i.inter, sa.sz AS size_a, sb.sz AS size_b
               FROM inter i
               JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b),
         th AS (SELECT unnest([${JaccardCalibThresholds.mkString(", ")}]) AS threshold)
         SELECT th.threshold::BIGINT AS threshold,
                count(j.doc_a)::BIGINT AS n_pairs
         FROM th LEFT JOIN j
           ON j.inter * 100 >= th.threshold * (j.size_a + j.size_b - j.inter)
         GROUP BY 1""",
    // same literal character classes (interpolated, so they cannot drift
    // from the Spark side) — literal-char classes mean the same thing to
    // RE2 and Java regex; 'g' matches Spark's replace-all default
    "q_ws_norm" ->
      s"""WITH p AS (SELECT text ||
             CASE doc_id % 3 WHEN 0 THEN '$WsProbeZw'
                             WHEN 1 THEN '$WsProbeRun'
                             ELSE ' plain' END AS probe
           FROM documents),
         n AS (SELECT probe,
             trim(regexp_replace(regexp_replace(probe, '$WsZwClass', '', 'g'),
                                 '$WsRunClass', ' ', 'g')) AS norm
           FROM p)
         SELECT count(*)::BIGINT AS n_docs,
           sum(CASE WHEN norm <> probe THEN 1 ELSE 0 END)::BIGINT AS n_changed,
           count(DISTINCT md5(probe))::BIGINT AS distinct_raw,
           count(DISTINCT md5(norm))::BIGINT AS distinct_norm
         FROM n""",
    // probe assembly and U+FFFD detection computed symmetrically; the
    // repair itself is REPLAYED from the fixture (DuckDB has no Latin-1
    // codec): exactly the corrupted class decodes one layer back to the
    // clean suffix — any other behavior of the expression hash-mismatches
    "q_moji_repair" ->
      s"""WITH p AS (SELECT doc_id, text,
             text || CASE doc_id % 4 WHEN 1 THEN '$MojiBadSuffix'
                                     WHEN 2 THEN '$MojiCleanSuffix'
                                     WHEN 3 THEN '$MojiFffdSuffix'
                                     ELSE ' plain' END AS probe
           FROM documents),
         r AS (SELECT probe,
             CASE WHEN doc_id % 4 = 1 THEN text || '$MojiCleanSuffix'
                  ELSE probe END AS rep
           FROM p)
         SELECT count(*)::BIGINT AS n_docs,
           sum(CASE WHEN rep <> probe THEN 1 ELSE 0 END)::BIGINT AS n_repaired,
           sum(CASE WHEN contains(probe, '${"\ufffd"}') THEN 1 ELSE 0 END)::BIGINT AS n_fffd,
           count(DISTINCT md5(probe))::BIGINT AS distinct_raw,
           count(DISTINCT md5(rep))::BIGINT AS distinct_rep
         FROM r""",
    // DuckDB's nfc_normalize implements the same Unicode-standard NFC as
    // the JDK kernel behind the Spark expression; the probe suffixes are
    // the same é / e+́ escapes the Spark side plants
    "q_nfc_canon" ->
      s"""WITH p AS (SELECT text ||
             CASE doc_id % 3 WHEN 0 THEN '$NfcProbePre'
                             WHEN 1 THEN '$NfcProbeDec'
                             ELSE ' plain' END AS probe
           FROM documents)
         SELECT count(*)::BIGINT AS n_docs,
           sum(CASE WHEN nfc_normalize(probe) <> probe THEN 1 ELSE 0 END)::BIGINT AS n_denormal,
           count(DISTINCT md5(probe))::BIGINT AS distinct_raw,
           count(DISTINCT md5(nfc_normalize(probe)))::BIGINT AS distinct_nfc
         FROM p""",
    // every start position whose slice joins back to the phrase counts once;
    // overlapping starts each count, end-truncated slices cannot equal the
    // full phrase string. ONE definition gates both realizations — the
    // Catalyst join form and the Aho-Corasick automaton must hash-match
    // the same replay.
    "q_phrase_tags" -> phraseTagsOracle,
    "q_phrase_tags_ac" -> phraseTagsOracle,
    // the Gopher rule battery replayed: same (doc_id, term) two-hop rollup,
    // same Java∩RE2 predicates, same integer thresholds
    "q_gopher_rules" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tc AS (SELECT doc_id, term, count(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2),
         agg AS (
           SELECT doc_id,
             sum(cnt)::BIGINT AS n_tokens,
             sum(len(term) * cnt)::BIGINT AS word_chars,
             sum(CASE WHEN regexp_matches(term, '[A-Za-z]') THEN cnt ELSE 0 END)::BIGINT AS n_alpha,
             sum(CASE WHEN regexp_matches(term, '^[^A-Za-z0-9]+$$') THEN cnt ELSE 0 END)::BIGINT AS n_symbols,
             sum(CASE WHEN term IN (${StopWords.map(w => s"'$w'").mkString(",")}) THEN cnt ELSE 0 END)::BIGINT AS n_stop,
             max(cnt)::BIGINT AS top_cnt
           FROM tc GROUP BY 1),
         f AS (
           SELECT doc_id, n_tokens,
             (word_chars * 100 // greatest(n_tokens, 1))::BIGINT AS wordlen_e2,
             n_alpha, n_symbols, n_stop, top_cnt,
             CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END::BIGINT AS pass_len,
             CASE WHEN (word_chars * 100 // greatest(n_tokens, 1)) BETWEEN 300 AND 1000
                  THEN 1 ELSE 0 END::BIGINT AS pass_wordlen,
             CASE WHEN n_symbols * 10 <= n_tokens THEN 1 ELSE 0 END::BIGINT AS pass_symbol,
             CASE WHEN n_alpha * 10 >= n_tokens * 8 THEN 1 ELSE 0 END::BIGINT AS pass_alpha,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END::BIGINT AS pass_stop,
             CASE WHEN top_cnt * 5 <= n_tokens THEN 1 ELSE 0 END::BIGINT AS pass_top
           FROM agg)
         SELECT *, (pass_len * pass_wordlen * pass_symbol * pass_alpha
                    * pass_stop * pass_top)::BIGINT AS keep
         FROM f""",
    // duplicated-span scrub replayed: identical windows (raw string in place
    // of the md5 key — same equivalence classes), covered-position fan-out,
    // anti-join, ordered string_agg rebuild
    "q_span_scrub" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         wins AS (
           SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS w
           FROM tok, unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t)-7) ELSE [] END) AS u(i)),
         dup AS (SELECT w FROM wins GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         cov AS (
           SELECT DISTINCT doc_id, v.j
           FROM wins JOIN dup USING (w), unnest(generate_series(i, i+7)) AS v(j)),
         pos AS (
           SELECT doc_id, u.i, t[u.i] AS tk
           FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
         kept AS (
           SELECT p.doc_id, p.i, p.tk
           FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.j = p.i
           WHERE c.doc_id IS NULL),
         agg AS (
           SELECT doc_id, count(*)::BIGINT AS n_kept,
                  string_agg(tk, ' ' ORDER BY i) AS scrubbed
           FROM kept GROUP BY 1)
         SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens,
                (len(t.t) - coalesce(a.n_kept, 0))::BIGINT AS n_dropped,
                coalesce(a.scrubbed, '') AS scrubbed
         FROM tok t LEFT JOIN agg a USING (doc_id)""",
    // line-level boilerplate dedup replayed: identical page assembly, raw
    // line in place of the md5 key (same equivalence classes — the SpanScrub
    // oracle convention), distinct-doc threshold, ordered string_agg rebuild
    "q_line_dedup" ->
      s"""WITH page AS (
            SELECT doc_id,
                   'home nav menu login' || chr(10) ||
                   'site banner region ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
                   text || chr(10) ||
                   'copyright footer corp ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
                   'ref trace ' || CAST(doc_id AS VARCHAR) AS page
            FROM documents),
          ln AS (SELECT doc_id, i, ls[i] AS line
                 FROM (SELECT doc_id, string_split(page, chr(10)) AS ls FROM page),
                      unnest(generate_series(1, len(ls))) AS u(i)),
          boiler AS (SELECT line FROM ln
                     GROUP BY 1 HAVING count(DISTINCT doc_id) >= $LineMinDocs),
          kept AS (SELECT l.doc_id, l.i, l.line
                   FROM ln l LEFT JOIN boiler b USING (line)
                   WHERE b.line IS NULL),
          agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                         string_agg(line, chr(10) ORDER BY i) AS cleaned
                  FROM kept GROUP BY 1)
          SELECT p.doc_id, len(string_split(p.page, chr(10)))::BIGINT AS n_lines,
                 coalesce(a.n_kept, 0)::BIGINT AS n_kept,
                 coalesce(a.cleaned, '') AS cleaned
          FROM page p LEFT JOIN agg a USING (doc_id)""",
    // BPE round 1 replayed: token rollup -> vocabulary, char pairs as 2-char
    // substrings (all-ASCII corpus; both engines index characters), weighted
    // count, deterministic (freq DESC, pair ASC) top-K
    "q_bpe_pairs" ->
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          v AS (SELECT word, count(*)::BIGINT AS wfreq
                FROM w WHERE len(word) >= 1 GROUP BY 1),
          p AS (SELECT substring(word, i, 2) AS pair, sum(wfreq)::BIGINT AS freq
                FROM v, unnest(CASE WHEN len(word) >= 2
                                    THEN generate_series(1, len(word) - 1)
                                    ELSE [] END) AS u(i)
                GROUP BY 1)
          SELECT pair, freq FROM p ORDER BY freq DESC, pair ASC LIMIT $BpeTopK""",
    // the BPE encoder replayed exactly (recursion semantics: see
    // [[bpeEncRecursion]] — shared verbatim with the q_bpe_budget oracle)
    "q_bpe_encode" ->
      s"""WITH RECURSIVE
          $bpeEncRecursion,
          toks AS (SELECT word, wfreq, unnest(string_split(trim(s), ' ')) AS token
                   FROM enc WHERE done)
          SELECT token, sum(wfreq)::BIGINT AS occ,
                 count(DISTINCT word)::BIGINT AS n_words
          FROM toks GROUP BY 1""",
    // sequential BPE TRAINING replayed (semantics in [[bpeTrain]]'s
    // scaladoc): single-row LIST state (vocab as spaced symbol strings ×
    // freqs); per step, either one more leftmost-splice pass of the current
    // rule (while any word still contains it) or a full recount + next
    // (count DESC, pair ASC) argmax with the >= 2 stop; r = -1 marks
    // exhaustion before the round cap. The terminal row is the one with the
    // longest merge list (ties carry identical lists; ORDER BY r picks
    // deterministically).
    "q_bpe_train" ->
      s"""WITH RECURSIVE
          w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          v AS (SELECT word, count(*)::BIGINT AS wfreq
                FROM w WHERE len(word) >= 1 GROUP BY 1),
          init AS (SELECT coalesce(list(struct_pack(
                     s := ' ' || regexp_replace(word, '(.)', '\\1 ', 'g'),
                     f := wfreq)), []) AS vocab
                   FROM v),
          tr(r, pat, rep, vocab, merges) AS (
            SELECT 0, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), vocab,
                   []::VARCHAR[]
            FROM init
            UNION ALL
            SELECT
              CASE WHEN pending THEN e.r
                   WHEN best.pat IS NOT NULL THEN e.r + 1
                   ELSE -1 END,
              CASE WHEN pending THEN e.pat ELSE best.pat END,
              CASE WHEN pending THEN e.rep ELSE best.rep END,
              list_transform(e.vocab, w -> CASE
                WHEN coalesce(CASE WHEN pending THEN e.pat ELSE best.pat END, '') <> ''
                     AND strpos(w.s, CASE WHEN pending THEN e.pat ELSE best.pat END) > 0
                THEN struct_pack(
                  s := substring(w.s, 1,
                         strpos(w.s, CASE WHEN pending THEN e.pat ELSE best.pat END) - 1)
                       || (CASE WHEN pending THEN e.rep ELSE best.rep END)
                       || substring(w.s,
                            strpos(w.s, CASE WHEN pending THEN e.pat ELSE best.pat END)
                            + len(CASE WHEN pending THEN e.pat ELSE best.pat END)),
                  f := w.f)
                ELSE w END),
              CASE WHEN NOT pending AND best.pat IS NOT NULL
                   THEN list_append(e.merges, trim(best.pat)) ELSE e.merges END
            FROM (
              SELECT tr.*,
                EXISTS (SELECT 1 FROM unnest(tr.vocab) AS u(w)
                        WHERE tr.pat IS NOT NULL AND strpos(w.s, tr.pat) > 0) AS pending,
                (SELECT struct_pack(pat := ' ' || a || ' ' || b || ' ',
                                    rep := ' ' || a || b || ' ')
                 FROM (
                   SELECT sy[i] AS a, sy[i+1] AS b, sum(f)::BIGINT AS cnt
                   FROM (SELECT u.w.f AS f, string_split(trim(u.w.s), ' ') AS sy
                         FROM unnest(tr.vocab) AS u(w)),
                        unnest(CASE WHEN len(sy) >= 2
                                    THEN generate_series(1, len(sy) - 1)
                                    ELSE [] END) AS g(i)
                   GROUP BY 1, 2
                   HAVING sum(f) >= 2
                   ORDER BY cnt DESC, a ASC, b ASC
                   LIMIT 1)) AS best
              FROM tr
              WHERE tr.r >= 0 AND tr.r < $BpeTrainRounds
            ) e(r, pat, rep, vocab, merges, pending, best)
          ),
          sel AS (SELECT merges FROM tr ORDER BY len(merges) DESC, r ASC LIMIT 1)
          SELECT i::BIGINT AS merge_rank,
                 string_split(merges[i], ' ')[1] AS left_sym,
                 string_split(merges[i], ' ')[2] AS right_sym
          FROM sel, unnest(CASE WHEN len(merges) >= 1
                                THEN generate_series(1, len(merges))
                                ELSE [] END) AS g(i)""",
    // the per-doc budget replayed: the SAME recursion ([[bpeEncRecursion]])
    // reduced to a per-word token-count table, joined back onto the corpus
    // word stream
    "q_bpe_budget" ->
      s"""WITH RECURSIVE
          $bpeEncRecursion,
          wn AS (SELECT word, len(string_split(trim(s), ' '))::BIGINT AS n_toks
                 FROM enc WHERE done),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          cnt AS (SELECT t.doc_id, sum(w2.n_toks)::BIGINT AS n_bpe_tokens
                  FROM tok t JOIN wn w2 USING (word) GROUP BY 1)
          SELECT d.doc_id, len(string_split(d.text, ' '))::BIGINT AS n_tokens,
                 coalesce(c.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens
          FROM documents d LEFT JOIN cnt c USING (doc_id)""",
    // per-language fertility replayed: the SAME encode recursion reduced to
    // the per-word token-count table, joined onto the lang-labeled word
    // stream (inner join ≡ the len>=1 filter — the vocabulary only carries
    // non-empty words), aggregated onto the language domain from its own
    // doc rollup
    "q_bpe_fertility" ->
      s"""WITH RECURSIVE
          $bpeEncRecursion,
          wn AS (SELECT word, len(string_split(trim(s), ' '))::BIGINT AS n_toks
                 FROM enc WHERE done),
          ld AS ($langDocCte),
          ftok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          pl AS (SELECT l.lang_id, count(*)::BIGINT AS n_words,
                   sum(w2.n_toks)::BIGINT AS n_bpe_tokens,
                   sum(len(t.word))::BIGINT AS n_chars
                 FROM ftok t JOIN wn w2 USING (word) JOIN ld l USING (doc_id)
                 GROUP BY 1),
          nd AS (SELECT lang_id, count(*)::BIGINT AS n_docs FROM ld GROUP BY 1)
          $fertilityTailSql""",
    // the per-language merge tables replayed: same lang-keyed vocabulary,
    // same weighted pair counts, same (freq DESC, pair ASC) ranking — now
    // partitioned by language
    "q_bpe_bylang" ->
      s"""WITH ld AS ($langDocCte),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          lw AS (SELECT l.lang_id, t.word FROM tok t JOIN ld l USING (doc_id)
                 WHERE len(t.word) >= 1),
          v AS (SELECT lang_id, word, count(*)::BIGINT AS wfreq FROM lw GROUP BY 1, 2),
          p AS (SELECT lang_id, substring(word, i, 2) AS pair, sum(wfreq)::BIGINT AS freq
                FROM v, unnest(CASE WHEN len(word) >= 2
                                    THEN generate_series(1, len(word) - 1)
                                    ELSE [] END) AS u(i)
                GROUP BY 1, 2)
          SELECT lang_id, merge_rank::BIGINT AS merge_rank, pair, freq
          FROM (SELECT lang_id, pair, freq,
                  row_number() OVER (PARTITION BY lang_id
                    ORDER BY freq DESC, pair ASC) AS merge_rank
                FROM p)
          WHERE merge_rank <= $BpeTopK""",
    // per-language fertility: the encode recursion LANG-KEYED — each word
    // encodes under its language's merge table (m joined on lang_id), the
    // rollup joins on (lang_id, word); tail shared with the global gate
    "q_bpe_fertility_bylang" ->
      s"""WITH RECURSIVE
          ld AS ($langDocCte),
          ftok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          lw AS (SELECT l.lang_id, l.doc_id, t.word
                 FROM ftok t JOIN ld l USING (doc_id) WHERE len(t.word) >= 1),
          v AS (SELECT lang_id, word, count(*)::BIGINT AS wfreq FROM lw GROUP BY 1, 2),
          p AS (SELECT lang_id, substring(word, i, 2) AS pair, sum(wfreq)::BIGINT AS freq
                FROM v, unnest(CASE WHEN len(word) >= 2
                                    THEN generate_series(1, len(word) - 1)
                                    ELSE [] END) AS u(i)
                GROUP BY 1, 2),
          m AS (SELECT lang_id, merge_rank AS r,
                  ' ' || substring(pair, 1, 1) || ' '
                      || substring(pair, 2, 1) || ' ' AS pat,
                  ' ' || pair || ' ' AS rep
                FROM (SELECT lang_id, pair,
                        row_number() OVER (PARTITION BY lang_id
                          ORDER BY freq DESC, pair ASC) AS merge_rank
                      FROM p)
                WHERE merge_rank <= $BpeTopK),
          enc AS (
            SELECT lang_id, word, wfreq,
                   ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s,
                   false AS done
            FROM v
            UNION ALL
            SELECT e.lang_id, e.word, e.wfreq,
                   CASE WHEN mm.pat IS NULL THEN e.s
                        ELSE substring(e.s, 1, strpos(e.s, mm.pat) - 1) || mm.rep
                             || substring(e.s, strpos(e.s, mm.pat) + len(mm.pat)) END,
                   mm.pat IS NULL
            FROM enc e
            LEFT JOIN m mm
              ON mm.lang_id = e.lang_id
             AND mm.r = (SELECT min(m2.r) FROM m m2
                         WHERE m2.lang_id = e.lang_id AND strpos(e.s, m2.pat) > 0)
            WHERE NOT e.done),
          wn AS (SELECT lang_id, word, len(string_split(trim(s), ' '))::BIGINT AS n_toks
                 FROM enc WHERE done),
          pl AS (SELECT lw.lang_id, count(*)::BIGINT AS n_words,
                   sum(w2.n_toks)::BIGINT AS n_bpe_tokens,
                   sum(len(lw.word))::BIGINT AS n_chars
                 FROM lw JOIN wn w2 ON w2.lang_id = lw.lang_id AND w2.word = lw.word
                 GROUP BY 1),
          nd AS (SELECT lang_id, count(*)::BIGINT AS n_docs FROM ld GROUP BY 1)
          $fertilityTailSql""",
    "q_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          voc AS (SELECT term FROM (
                    SELECT term, count(*) AS tf FROM tok GROUP BY 1
                    ORDER BY tf DESC, term ASC LIMIT $OovVocab)),
          cnt AS (SELECT doc_id, count(*)::BIGINT AS n_oov
                  FROM tok WHERE term NOT IN (SELECT term FROM voc) GROUP BY 1),
          n AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents)
          SELECT n.doc_id, n.n_tokens,
                 coalesce(c.n_oov, 0)::BIGINT AS n_oov,
                 (coalesce(c.n_oov, 0) * 10000 // greatest(n.n_tokens, 1))::BIGINT AS oov_e4
          FROM n LEFT JOIN cnt c USING (doc_id)""",
    // the unigram-LM hard-EM round replayed: same substring seed (substr
    // counts code points on both engines), same bit-length costs, and the
    // E-step as an EXHAUSTIVE path enumeration (recursive CTE; words <= 8
    // code points, pieces <= 4 bound the fan-out) row_numbered by the same
    // (cost, n_pieces, path) order the Spark DP's tie-break realizes
    "q_unigram_round" ->
      s"""WITH RECURSIVE
          $unigramVocabCtes,
          $unigramRound1Ctes
          SELECT piece, cost, seed_freq, em_freq FROM r1""",
    // round 2 chained: prune to round-1-used pieces, re-derive costs from
    // the re-estimated counts, enumerate again under the new model
    "q_unigram_round2" ->
      s"""WITH RECURSIVE
          $unigramVocabCtes,
          $unigramRound1Ctes,
          p2 AS (SELECT piece, em_freq AS freq,
                   (64 - length(bin(em_freq)))::BIGINT AS cost
                 FROM r1 WHERE em_freq > 0),
          paths2 AS (
            SELECT word, wfreq, 0::BIGINT AS pos, 0::BIGINT AS cost,
                   0::BIGINT AS np, '' AS path
            FROM v
            UNION ALL
            SELECT p.word, p.wfreq, p.pos + len(c.piece), p.cost + c.cost,
                   p.np + 1,
                   CASE WHEN p.path = '' THEN c.piece
                        ELSE p.path || ' ' || c.piece END
            FROM paths2 p JOIN p2 c
              ON substring(p.word, (p.pos + 1)::INT, len(c.piece)) = c.piece
            WHERE p.pos < len(p.word)),
          best2 AS (
            SELECT word, wfreq, path FROM (
              SELECT word, wfreq, path,
                row_number() OVER (PARTITION BY word
                  ORDER BY cost ASC, np ASC, path ASC) AS rn
              FROM paths2 WHERE pos = len(word)) WHERE rn = 1),
          em2 AS (SELECT s3.piece, sum(b.wfreq)::BIGINT AS em_freq
                  FROM best2 b, unnest(string_split(b.path, ' ')) AS s3(piece)
                  GROUP BY 1)
          SELECT p2.piece, p2.cost, p2.freq AS prev_freq,
                 coalesce(em2.em_freq, 0)::BIGINT AS em_freq
          FROM p2 LEFT JOIN em2 USING (piece)""",
    // Heaps-law prefixes replayed: same id thresholds from the 1-row max,
    // same first-occurrence type attribution, one arm per divisor
    "q_heaps_law" -> {
      val arms = HeapsDivisors.map { f =>
        s"""SELECT CAST($f AS BIGINT) AS divisor,
               (SELECT m // $f FROM mx) AS id_cap,
               (SELECT count(*) FROM documents
                WHERE doc_id <= (SELECT m // $f FROM mx))::BIGINT AS n_docs,
               (SELECT count(*) FROM hw
                WHERE doc_id <= (SELECT m // $f FROM mx))::BIGINT AS n_tokens,
               (SELECT count(*) FROM hfo
                WHERE first_doc <= (SELECT m // $f FROM mx))::BIGINT AS n_types"""
      }.mkString(" UNION ALL ")
      s"""WITH hw0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                       FROM documents),
          hw AS MATERIALIZED (SELECT doc_id, word FROM hw0 WHERE len(word) >= 1),
          hfo AS MATERIALIZED (SELECT word, min(doc_id) AS first_doc
                               FROM hw GROUP BY 1),
          mx AS MATERIALIZED (SELECT max(doc_id) AS m FROM documents)
          $arms"""
    },
    // the EM convergence ladder: per-round stats generated from the same
    // round constant as the Spark chain (model r+1 = round r's used pieces
    // with re-derived bit-length costs)
    "q_unigram_conv" -> unigramConvOracle,
    "q_unigram_target" -> unigramTargetOracle,
    "q_tokenizer_fertility_eq" -> tokenizerFertilityEqOracle,
    // per-language round-1 models: the round-1 replay LANG-KEYED (seed
    // window partitioned by language, enumeration joined on (lang_id, piece))
    "q_unigram_bylang" ->
      s"""WITH RECURSIVE
          $unigramByLangCtes,
          lem AS (SELECT b.lang_id, sp.piece, sum(b.wfreq)::BIGINT AS em_freq
                  FROM lbest b, unnest(string_split(b.path, ' ')) AS sp(piece)
                  GROUP BY 1, 2)
          SELECT lpc.lang_id, lpc.piece, lpc.cost, lpc.freq AS seed_freq,
                 coalesce(lem.em_freq, 0)::BIGINT AS em_freq
          FROM lpc LEFT JOIN lem USING (lang_id, piece)""",
    // per-language unigram fertility: the lang-keyed best paths feed the
    // SAME fertility tail as the BPE twins (token column n_uni_tokens)
    "q_unigram_fertility_bylang" ->
      s"""WITH RECURSIVE
          $unigramByLangCtes,
          wn AS (SELECT lang_id, word, np AS n_toks FROM lbest),
          nd AS (SELECT lang_id, count(*)::BIGINT AS n_docs FROM ld GROUP BY 1),
          pl AS (SELECT w2.lang_id, count(*)::BIGINT AS n_words,
                    sum(wn.n_toks)::BIGINT AS n_uni_tokens,
                    sum(len(w2.word))::BIGINT AS n_chars
                 FROM lw w2 JOIN wn USING (lang_id, word)
                 GROUP BY 1)
          ${fertilityTail("n_uni_tokens")}""",
    // BPE and unigram fertility side by side over the SAME vocabulary
    // rollup (bpeEncRecursion's v ≡ the unigram CTEs' v, shared verbatim)
    "q_tokenizer_fertility" ->
      s"""WITH RECURSIVE
          $bpeEncRecursion,
          wn AS (SELECT word, len(string_split(trim(s), ' '))::BIGINT AS n_toks
                 FROM enc WHERE done),
          $unigramRound1Ctes,
          bstat AS (SELECT 'bpe' AS tokenizer, sum(wfreq)::BIGINT AS n_words,
                      sum(wfreq * n_toks)::BIGINT AS n_tokens
                    FROM v JOIN wn USING (word)),
          ustat AS (SELECT 'unigram' AS tokenizer, sum(wfreq)::BIGINT AS n_words,
                      sum(wfreq * np)::BIGINT AS n_tokens
                    FROM best),
          u AS (SELECT * FROM bstat UNION ALL SELECT * FROM ustat)
          SELECT tokenizer, n_words, n_tokens,
                 (n_tokens * 1000000) // n_words AS toks_per_word_e6
          FROM u""",
    // the word stream expanded to BPE segments through the shared encode
    // recursion's terminal rows, then the q_oov_rate rollup over segments
    "q_oov_rate_bpe" ->
      s"""WITH RECURSIVE
          $bpeEncRecursion,
          wt AS (SELECT word, string_split(trim(s), ' ') AS toks
                 FROM enc WHERE done),
          tk AS (SELECT dw.doc_id, unnest(wt.toks) AS term
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                       FROM documents) dw
                 JOIN wt USING (word)),
          voc AS (SELECT term FROM (
                    SELECT term, count(*) AS tf FROM tk GROUP BY 1
                    ORDER BY tf DESC, term ASC LIMIT $OovVocab)),
          cnt AS (SELECT doc_id, count(*)::BIGINT AS n_bpe_tokens FROM tk GROUP BY 1),
          o AS (SELECT doc_id, count(*)::BIGINT AS n_oov
                FROM tk WHERE term NOT IN (SELECT term FROM voc) GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(cnt.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens,
                 coalesce(o.n_oov, 0)::BIGINT AS n_oov,
                 ((coalesce(o.n_oov, 0) * 10000)
                   // greatest(coalesce(cnt.n_bpe_tokens, 0), 1))::BIGINT AS oov_e4
          FROM documents d
          LEFT JOIN cnt USING (doc_id)
          LEFT JOIN o USING (doc_id)""",
    // the DSIR model replayed: hashed-bigram buckets from the same md5 slice,
    // exact integer ratio table, per-doc mean over bigram occurrences
    "q_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
          occ AS (
            SELECT doc_id, lang,
              CAST('0x' || substring(md5(array_to_string(t[i:i+1], ' ')), 1, 8) AS BIGINT)
                % $DsirBuckets AS b
            FROM tok, unnest(CASE WHEN len(t) >= 2
                                  THEN generate_series(1, len(t) - 1)
                                  ELSE [] END) AS u(i)),
          c AS (SELECT b, count(*)::BIGINT AS cnt_c FROM occ GROUP BY 1),
          tg AS (SELECT b, count(*)::BIGINT AS cnt_t FROM occ WHERE lang = 'en' GROUP BY 1),
          tot AS (SELECT count(*)::BIGINT AS total_c,
                         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS total_t
                  FROM occ),
          r AS (SELECT c.b,
                  (coalesce(tg.cnt_t, 0) * tot.total_c * 10000)
                    // (c.cnt_c * greatest(tot.total_t, 1)) AS ratio_e4
                FROM c LEFT JOIN tg USING (b), tot),
          pd AS (SELECT occ.doc_id, count(*)::BIGINT AS n_bigrams,
                        sum(r.ratio_e4)::BIGINT AS rsum
                 FROM occ JOIN r USING (b) GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(pd.n_bigrams, 0)::BIGINT AS n_bigrams,
                 (coalesce(pd.rsum, 0) // greatest(coalesce(pd.n_bigrams, 0), 1))::BIGINT AS dsir_e4
          FROM documents d LEFT JOIN pd USING (doc_id)""",
    "q_hash_sample" ->
      """WITH s AS (
           SELECT doc_id, text,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS bucket
           FROM documents)
       SELECT doc_id,
              CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                   WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                   WHEN fr >= es AND fr > 0 THEN 'fr'
                   WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_id
       FROM (
         SELECT doc_id,
           len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b'))::BIGINT AS en,
           len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b'))::BIGINT AS de,
           len(regexp_extract_all(text, '\b(le|les|et|est|dans|une)\b'))::BIGINT AS fr,
           len(regexp_extract_all(text, '\b(el|los|las|y|es|en una)\b'))::BIGINT AS es
         FROM s WHERE bucket = 0)""",
    // left join keeps zero-shingle docs (< 3 tokens) at 0, as size() does
    "q_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
           FROM tok, unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)),
         agg AS (
           SELECT doc_id, count(*)::BIGINT AS n_shingles, count(DISTINCT s)::BIGINT AS n_distinct
           FROM sh GROUP BY 1)
       SELECT d.doc_id,
              coalesce(a.n_shingles, 0) AS n_shingles,
              coalesce(a.n_distinct, 0) AS n_distinct,
              coalesce((a.n_shingles - a.n_distinct) * 10000 // greatest(a.n_shingles, 1), 0) AS repetition_e4
       FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "q_pii_scrub" ->
      """WITH pii AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
           FROM documents)
       SELECT doc_id,
              len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
              len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
              regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
       FROM pii""",
    "q_doc_chunks" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       SELECT doc_id, k AS chunk_idx,
              array_to_string(t[k*8+1 : k*8+16], ' ') AS chunk_text,
              len(t[k*8+1 : k*8+16])::BIGINT AS n_chunk_tokens
       FROM tok, unnest(generate_series(0, CAST(ceil(greatest(len(t)-16, 0) / 8.0) AS BIGINT))) AS u(k)""",
    "q_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "q_jaccard_pairs" -> jaccardOracle,
    "q_containment" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
         ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         w AS (
           SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b)
         SELECT doc_a AS contained, doc_b AS container, inter,
                size_a AS sz_contained, size_b AS sz_container
         FROM w WHERE inter * 100 >= 80 * size_a
         UNION ALL
         SELECT doc_b, doc_a, inter, size_b, size_a
         FROM w WHERE inter * 100 >= 80 * size_b""",
    "q_minhash_lsh" -> jaccardOracle,
    "q_dedup_report" ->
      """WITH g AS (
           SELECT md5(text) AS h, count(*) AS copies, min(len(text)) AS len
           FROM documents GROUP BY 1)
         SELECT sum(copies)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_distinct,
                sum(copies - 1)::BIGINT AS n_dup_docs,
                sum((copies - 1) * len)::BIGINT AS n_dup_chars
         FROM g""",
    "q_langid_confusion" ->
      s"""SELECT lang, $langCaseSql AS lang_id, count(*)::BIGINT AS n
          FROM (SELECT lang, $langMarkerColsSql FROM documents)
          GROUP BY 1, 2""",
    // lift-ranked collocations replayed: same whitespace unigrams, same
    // space-joined adjacent bigrams, the identical integer lift
    "q_collocations" ->
      s"""WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
          un AS (SELECT term, count(*)::BIGINT AS n
                 FROM (SELECT unnest(t) AS term FROM tok) GROUP BY 1),
          tot AS (SELECT sum(n)::BIGINT AS n_total FROM un),
          bn AS (SELECT bigram, count(*)::BIGINT AS n_ab FROM (
                   SELECT array_to_string(t[i:i+1], ' ') AS bigram
                   FROM tok, unnest(CASE WHEN len(t) >= 2
                     THEN generate_series(1, len(t)-1) ELSE [] END) AS u(i))
                 GROUP BY 1 HAVING count(*) >= $CollocMinCount)
          SELECT b.bigram, b.n_ab, ua.n AS n_a, ub.n AS n_b,
                 (b.n_ab * t.n_total * 1000000) // (ua.n * ub.n) AS lift_e6
          FROM bn b
          JOIN un ua ON ua.term = string_split(b.bigram, ' ')[1]
          JOIN un ub ON ub.term = string_split(b.bigram, ' ')[2]
          CROSS JOIN tot t
          ORDER BY lift_e6 DESC, bigram ASC LIMIT $CollocTopK""",
    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         tot AS (SELECT count(*) AS n_total FROM tok)
         SELECT term, count(*) AS freq, n_total
         FROM tok, tot GROUP BY term, n_total
         HAVING count(*) * 1000 >= n_total""",
    // the CMS replayed in SQL: cells built from per-term counts (≡ the
    // per-occurrence stream update, summed), probe buckets re-derived from
    // the same md5 slices, estimate = min cell across the 4 rows
    "q_cms_freq" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         cnt AS (SELECT term, count(*)::BIGINT AS freq FROM tok GROUP BY term),
         js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         cells AS (
           SELECT j,
                  CAST('0x' || substring(md5(term), 1 + 8 * j, 8) AS BIGINT) % 1024 AS bucket,
                  sum(freq)::BIGINT AS cell
           FROM cnt CROSS JOIN js GROUP BY 1, 2),
         top AS (SELECT term, freq FROM cnt ORDER BY freq DESC, term LIMIT 20)
         SELECT t.term, t.freq AS exact_freq, min(c.cell)::BIGINT AS cms_freq
         FROM top t
         CROSS JOIN js j
         JOIN cells c ON c.j = j.j
           AND c.bucket = CAST('0x' || substring(md5(t.term), 1 + 8 * j.j, 8) AS BIGINT) % 1024
         GROUP BY 1, 2""",
    "q_text_stats" ->
      """SELECT doc_id,
           CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                WHEN fr >= es AND fr > 0 THEN 'fr'
                WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_id,
           n_tokens, n_bpeish, n_punct,
           (en * 10000) // greatest(n_tokens, 1) AS stopword_e4,
           greatest(least(least(n_tokens, 100) * 30
             + least((en * 40000) // greatest(n_tokens, 1), 4000)
             - least((n_punct * 20000) // greatest(n_tokens, 1), 2000), 10000), 0) AS quality_e4
         FROM (
           SELECT doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_bpeish,
             len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct,
             len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b'))::BIGINT AS en,
             len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b'))::BIGINT AS de,
             len(regexp_extract_all(text, '\b(le|les|et|est|dans|une)\b'))::BIGINT AS fr,
             len(regexp_extract_all(text, '\b(el|los|las|y|es|en una)\b'))::BIGINT AS es
           FROM documents)""",
    "q_fingerprint_dedup" ->
      """SELECT count(DISTINCT text) AS n_distinct_fp, count(*) AS n_docs
         FROM documents""",
    // Exact all-pairs simhash: signature recomputed from per-bit vote sums
    // (bits 60-63 of the 60-bit token hash are always zero — both engines
    // agree). The banded Spark plan equals this for maxHamming <= 3.
    "q_simhash_pairs" ->
      """WITH tok AS (
           SELECT doc_id, CAST('0x' || substring(md5(u.token), 1, 15) AS BIGINT) AS th
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(t) AS u(token)
         ), bits AS (
           SELECT doc_id, g.i,
             CASE WHEN SUM(CASE WHEN (th >> g.i) & 1 = 1 THEN 1 ELSE -1 END) > 0
                  THEN 1::BIGINT ELSE 0::BIGINT END AS b
           FROM tok, unnest(generate_series(0, 59)) AS g(i)
           GROUP BY doc_id, g.i
         ), sig AS (
           SELECT doc_id, CAST(SUM(b * (1::BIGINT << i)) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id
         )
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    // composed pipeline: stats gates -> exact dedup -> near-dup removal. The
    // LSH stage is mirrored by exact Jaccard over the kept set, so this
    // equivalence is PROBABILISTIC, not structural (unlike q_simhash_pairs's
    // pigeonhole-exact banding): 16 bands x 2 rows catch a true pair at
    // Jaccard J with probability 1-(1-J²)^16 — ≈ 1-2·10⁻¹² at the corpus's
    // planted near-dups (J ≥ 0.9) but only ≈ 1-8·10⁻⁴ for a hypothetical
    // pair sitting exactly at the 0.6 threshold. The gate is deterministic
    // on THIS corpus because the generator plants near-dups at J ≥ 0.9 with
    // the next tier below 0.3 (no threshold-straddling pairs exist at any
    // sf); a new data drop would need the same property, or a higher band
    // count (e.g. 64 hashes x 2 rows: miss ≈ 6·10⁻⁷ at J = 0.6) at roughly
    // 2x the candidate volume. Same argument, verbatim, for q_minhash_lsh.
    "q_corpus_clean" ->
      s"""WITH stats AS (
            SELECT doc_id,
              CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                   WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                   WHEN fr >= es AND fr > 0 THEN 'fr'
                   WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_id,
              greatest(least(least(n_tokens, 100) * 30
                + least((en * 40000) // greatest(n_tokens, 1), 4000)
                - least((n_punct * 20000) // greatest(n_tokens, 1), 2000), 10000), 0) AS quality_e4,
              n_tokens
            FROM (
              SELECT doc_id,
                len(string_split(text, ' '))::BIGINT AS n_tokens,
                len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct,
                len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))::BIGINT AS en,
                len(regexp_extract_all(text, '\\b(der|die|das|und|ist|nicht)\\b'))::BIGINT AS de,
                len(regexp_extract_all(text, '\\b(le|les|et|est|dans|une)\\b'))::BIGINT AS fr,
                len(regexp_extract_all(text, '\\b(el|los|las|y|es|en una)\\b'))::BIGINT AS es
              FROM documents)
          ), gated AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN stats s USING (doc_id)
            WHERE s.lang_id = 'en' AND s.quality_e4 >= $QualityFloor
          ), canon AS (
            SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
          ), kept AS (
            SELECT g.doc_id, g.text FROM gated g JOIN canon c USING (doc_id)
          ), sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
                 unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
          ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
          ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
          ), losers AS (
            SELECT DISTINCT i.doc_b AS doc_id
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.inter * 100 >= 60 * (sa.sz + sb.sz - i.inter)
          )
          SELECT k.doc_id, s.quality_e4, s.n_tokens
          FROM kept k
          JOIN stats s USING (doc_id)
          LEFT JOIN losers l USING (doc_id)
          WHERE l.doc_id IS NULL""")

  /** The batched distributed trainer must replay the SAME sequential merge
    * schedule (its exactness contract), so its gate is `q_bpe_train`'s
    * oracle verbatim.
    */
  val oracleSql: Map[String, String] =
    oracleSqlBase + ("q_bpe_train_dist" -> oracleSqlBase("q_bpe_train"))
}
