package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, expr, floor, lit, max, min, row_number, size, sum, when}
import graft.operators.Embeddings
import graft.operators.Embeddings.knnRecallTotalsSql
import graft.sources.Tables

/** Similarity search over `embeddings.parquet` (64-dim float vectors).
  *
  * The query set is the first [[NumQueries]] vectors; exact top-k is the
  * baseline, IVF (centroids = first [[NumCentroids]] vectors, deterministic)
  * is the scale path, and `q_ann_recall` reports IVF-vs-exact hits per query
  * as integers. Scores are bit-identical between Spark and DuckDB (double
  * precision, sequential sum — see [[graft.operators.Embeddings]]), so rank
  * output is hash-stable.
  */
object EmbeddingQueries {

  val NumQueries = 20
  val NumCentroids = 16
  val NProbe = 4
  val K = 10

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")

  private def queryVectors(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).filter(col("vec_id") < NumQueries)

  def knnExact(spark: SparkSession, dir: String): DataFrame =
    Embeddings.knnExact(vectors(spark, dir), queryVectors(spark, dir), K)

  /** Hard-negative mining: per query, the top-[[K]] most-similar vectors with
    * a DIFFERENT label (see [[Embeddings.hardNegatives]]).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    Embeddings.hardNegatives(vectors(spark, dir), queryVectors(spark, dir), K)

  /** Probe depths the IVF sweep prices — bracketing the deployed [[NProbe]]
    * (4) on both sides, single-sourced into the oracle. Powers of two up to
    * half the centroid count.
    */
  val IvfSweepProbes: Seq[Int] = Seq(1, 2, 4, 8)

  /** `q_ivf_sweep`: recall AND candidate volume per probe depth — the
    * cost/recall curve behind the [[NProbe]] = 4 choice, measured in one
    * plan (see [[Embeddings.ivfProbeSweep]]).
    */
  def ivfSweep(spark: SparkSession, dir: String): DataFrame =
    Embeddings.ivfProbeSweep(vectors(spark, dir), queryVectors(spark, dir),
      NumCentroids, IvfSweepProbes, K)

  /** Predicate label and probe depths of the FILTERED-search sweep: label 3
    * is ~10% of the corpus (labels are uniform 0–9), selective enough that
    * shallow probes visibly starve; the depths bracket the deployed
    * [[NProbe]] and end at the centroid count, where the filtered answer is
    * exact by construction (the saturation endpoint, gated).
    */
  val FilterLabel = 3
  val FilteredSweepProbes: Seq[Int] = Seq(2, 4, 8, 16)

  /** `q_ann_filtered_sweep`: FILTERED vector search — metadata-predicate
    * top-[[K]] ("top-k WHERE label = [[FilterLabel]]"), the serve path every
    * production vector store ships, priced across probe depths (see
    * [[Embeddings.ivfFilteredProbeSweep]]). Read beside `q_ivf_sweep`: the
    * same index, the same depths — the recall gap at each depth is what the
    * predicate's bucket starvation costs, and the n_candidates column is
    * what post-filtering saves in scored rows.
    */
  def annFilteredSweep(spark: SparkSession, dir: String): DataFrame =
    Embeddings.ivfFilteredProbeSweep(vectors(spark, dir),
      queryVectors(spark, dir), NumCentroids, FilteredSweepProbes, K,
      col("label") === FilterLabel)

  /** Selectivity ladder of the pre/post-filter crossover gate: `label < s`
    * keeps ≈ s·10% of the corpus (labels uniform 0–9) — 10%, 30%, 60%,
    * bracketing the range where production stores flip strategy.
    */
  val XoverSels: Seq[Int] = Seq(1, 3, 6)

  /** `q_ann_filter_xover`: the filtered-search STRATEGY SWITCH priced
    * ([[Embeddings.ivfFilterCrossoverSweep]]) — at each predicate
    * selectivity, the post-filter index probe's per-depth recall/cost curve
    * NEXT TO the pre-filter brute-force-over-subset arm (exact by
    * construction; its row carries the scan cost). Read beside
    * `q_ann_filtered_sweep` (the post-filter mechanics at one predicate):
    * this gate answers the question a query planner actually asks — at
    * WHICH selectivity does probing stop beating the filtered scan.
    */
  def annFilterXover(spark: SparkSession, dir: String): DataFrame =
    Embeddings.ivfFilterCrossoverSweep(vectors(spark, dir),
      queryVectors(spark, dir), NumCentroids, XoverSels, FilteredSweepProbes, K)

  /** Rerank pool size for the two-stage retrieve-then-rerank queries (5× the
    * final k — the candidate pool the exact stage repairs).
    */
  val RerankR = 50

  /** `q_ivfpq_rerank`: retrieve-then-rerank SERVED FROM the persisted
    * [[pqIndex]] — the ADC pool comes from the read-back codes/assignment/
    * codebook (no in-plan training or encoding; PlanAudit-asserted), and
    * only the refine stage touches the float store, as queries×[[RerankR]]
    * point lookups by candidate id — the full production serving shape.
    * Identical oracle to the in-plan form it replaced (the artifact holds
    * exactly the codebook/codes the oracle recomputes).
    */
  def ivfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    Embeddings.ivfPqRerankFromIndex(idx.codes, idx.assigned,
      queryVectors(spark, dir), idx.centroids, idx.codebook,
      vectors(spark, dir), NProbe, RerankR, K)
  }

  /** `q_ivfpq_res_topk`: the residual (FAISS-IVFPQ) serve from the persisted
    * [[pqIndex]]'s residual parts — codes, shared assignment/centroids, and
    * the residual codebook; no residualization or encode in-plan.
    */
  def ivfPqResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    Embeddings.ivfPqResidualTopKFromIndex(idx.rcodes, idx.assigned,
      queryVectors(spark, dir), idx.centroids, idx.rcodebook, NProbe, K)
  }

  /** MMR-diversified top-[[K]] over the same IVF∘PQ codes-only pool the
    * rerank query uses (see [[Embeddings.mmrSelect]]) — the pool is
    * retrieved from the persisted [[pqIndex]]; the float store is touched
    * only for the selected candidates' pairwise/relevance scoring.
    */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    val v = vectors(spark, dir); val q = queryVectors(spark, dir)
    Embeddings.mmrSelect(v, q,
      Embeddings.ivfPqTopKFromIndex(idx.codes, idx.assigned, q, idx.centroids,
        idx.codebook, NProbe, RerankR), K)
  }

  /** Cosine threshold for the near-dup query (the harness data's top pair is
    * ~0.51, so 0.45 yields a small, stable set).
    */
  val NearDupThreshold = 0.45

  def cosineNearDup(spark: SparkSession, dir: String): DataFrame =
    Embeddings.cosineNearDupPairs(vectors(spark, dir), NearDupThreshold)

  /** Probe width for the bucketed near-dup blocking (top-4 of 16 centroid
    * buckets per vector).
    */
  val NearDupAssign = 4

  /** Id-sample modulus for the scale-safe recall variant: the exact baseline
    * runs on the 1/2 sample (4× cheaper), the bucketed path on everything.
    */
  val RecallSampleMod = 2

  /** SRP bit budget: 32 hyperplanes in 4-bit bands (8 bands). At the 0.45
    * threshold P[bit match] ≈ 0.65, so one-of-8 band collision catches ~80%
    * of threshold pairs while 16-value buckets cut candidate volume ~an order
    * below all-pairs — the knob to widen (more/narrower bands) as the
    * threshold rises.
    */
  val SrpBits = 32

  /** SRP bucket-balance report — the hyperplane index's health view, read
    * the way `q_ivf_stats` is read for the centroid index: per (band,
    * signature) member counts and corpus share in e6. Bucket balance is what
    * keeps the band self-join sub-quadratic; correlated dimensions collapse
    * sign bits and show up here as runaway buckets long before the join cost
    * does. One narrow signature projection + one aggregation + a scalar
    * attach.
    */
  def srpStats(spark: SparkSession, dir: String): DataFrame = {
    val sig = Embeddings.srpSignatures(vectors(spark, dir), SrpBits)
    val tot = vectors(spark, dir).agg(count(lit(1)).as("n_total"))
    sig.groupBy("band", "sig").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("band"), col("sig"), col("n_vecs"),
        expr("(n_vecs * 1000000) div n_total").as("share_e6"))
  }

  /** Retrieval fidelity of the IVF path as a rank metric, not just set
    * overlap: per query, the reciprocal rank (e6 fixed point) at which the
    * IVF list retrieves the EXACT top-1 neighbor — the MRR decomposition
    * search teams read next to recall@k (recall says "is it anywhere in the
    * k"; RR says "how far down did it land"). 0 when the true top-1 was
    * missed entirely. Integer arithmetic end to end.
    */
  def retrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = queryVectors(spark, dir)
    val exact1 = Embeddings.knnExact(v, q, K).filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Embeddings.ivfTopK(v, q, NumCentroids, NProbe, K)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("a_rank"))
    exact1.join(approx, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        coalesce(expr("1000000 div a_rank"), lit(0L)).cast("long").as("rr_e6"))
  }

  /** Embedding-space dedup applied, not just detected: survivors after
    * greedily dropping the higher id of each bucketed-verified near-dup pair
    * — the embedding twin of the text pipeline's cleaning stage, using the
    * sub-quadratic blocked path for candidates.
    */
  def embedDedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val losers = Embeddings
      .ivfNearDupPairs(v, NumCentroids, NearDupAssign, NearDupThreshold)
      .select(col("vec_b").as("vec_id")).distinct()
    v.join(losers, Seq("vec_id"), "left_anti").select(col("vec_id"))
  }

  /** Embedding-space dedup GROUPS: the bucketed near-dup pairs as edges,
    * clustered transitively by [[graft.operators.ConnectedComponents]] —
    * same curation layer as the text pipeline's `q_dedup_groups`, proving
    * the clustering composes across modalities (any pair generator whose
    * output is two id columns plugs in). Vertices = all vectors, so
    * singletons keep their own id as group.
    */
  def embedDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val pairs = Embeddings.ivfNearDupPairs(v, NumCentroids, NearDupAssign,
      NearDupThreshold)
    graft.operators.ConnectedComponents.run(pairs, "vec_a", "vec_b",
        vertices = Some(v.select("vec_id")))
      .select(col("id").as("vec_id"), col("comp").as("group_id"))
  }

  /** SemDeDup over the oracle-pinned first-[[NumCentroids]] cluster cells at
    * the [[NearDupThreshold]] cosine (see [[Embeddings.semDedup]] — cluster
    * first, dedup within cells, keep the member FARTHEST from its centroid).
    * Differs from `q_embed_dedup`/`q_embed_groups` in both halves of the
    * decision: blocking is the single k-means-cell assignment (no
    * multi-probe — the paper accepts cell-boundary misses for Σ|cell|² cost
    * control), and the survivor is chosen geometrically (boundary example
    * kept as most informative) instead of by id order. The paper's 0.95+
    * threshold presumes real encoder embeddings; harness vectors top out
    * near 0.51, so the shared near-dup threshold keeps groups non-empty.
    */
  def semDedupVerdicts(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    Embeddings.semDedup(v, v.filter(col("vec_id") < NumCentroids), NearDupThreshold)
  }

  /** SEMANTIC decontamination — the embedding-space twin of the lexical
    * `q_decontaminate`/`q_decon_bloom` gates: a training item whose embedding
    * sits above the near-dup cosine threshold against ANY benchmark item is
    * flagged as leakage even when it shares no n-grams (paraphrased eval
    * questions are exactly what the lexical gates miss). Eval set = the
    * first-[[NumQueries]] vectors (the same pinned convention as the ANN
    * queries); the corpus streams once against the BROADCAST eval side — the
    * benchmark-sized side is the only thing shipped, the 100 TB side is
    * never shuffled, mirroring the broadcast-shingle decon argument.
    */
  def semanticDecon(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val eval = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_emb"),
        Embeddings.l2Norm(col("embedding")).as("e_norm"))
    v.filter(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("train_id"), col("embedding").as("t_emb"),
        Embeddings.l2Norm(col("embedding")).as("t_norm"))
      .join(broadcast(eval),
        Embeddings.dotD(col("t_emb"), col("e_emb"))
          / (col("t_norm") * col("e_norm")) >= NearDupThreshold)
      .select(col("train_id"), col("eval_id"))
  }

  /** IVF bucket-balance report over the oracle-pinned first-C centroids —
    * the ops view of the ANN index (see [[Embeddings.ivfBucketStats]]).
    */
  def ivfStats(spark: SparkSession, dir: String): DataFrame =
    Embeddings.ivfBucketStats(vectors(spark, dir), NumCentroids)

  /** Per-bucket clustering quality (cohesion + worst member) — see
    * [[Embeddings.ivfBucketQuality]].
    */
  def ivfQuality(spark: SparkSession, dir: String): DataFrame =
    Embeddings.ivfBucketQuality(vectors(spark, dir), NumCentroids)

  /** Lloyd rounds for the gated exact-arithmetic centroid training — 3 is
    * where the float ladder's marginal recall gain fell under its stop rule
    * band ([[Embeddings.kmeansConverged]]'s measured trace); single-sourced
    * into the unrolled oracle CTEs.
    */
  val IvfExactRounds = 3

  /** TRAINED-centroid bucket quality, driver-gated: the per-bucket cohesion
    * report of [[ivfQuality]] over centroids trained by [[IvfExactRounds]]
    * exact-arithmetic spherical-Lloyd rounds
    * ([[Embeddings.kmeansExactRounds]]) — the query that finally puts
    * TRAINED centroids (not just deterministic first-C) under the hash
    * oracle, closing the "converged centroids are trained but not consumed"
    * gap: the oracle replays all three rounds as unrolled SQL CTEs over the
    * same integer means.
    */
  def ivfConvQuality(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    Embeddings.ivfBucketQualityWith(v,
      Embeddings.kmeansExactRounds(v, NumCentroids, IvfExactRounds))
  }

  /** IVF recall at the deployed probe depth under the SAME trained
    * centroids — `q_ann_recall`'s shape, so the first-C vs trained recall
    * comparison is driver-checked data. Measured: cohesion rises sharply
    * (mean own-centroid cosine 0.246 → 0.329 at sf0.01, mirroring the float
    * ladder's 0.245 → 0.343) while recall@4/16 on THIS query set is flat
    * (0.805 → 0.795 at sf0.01, 0.83 → 0.815 at sf0.001): the harness
    * queries are the first 20 vectors, most of which seed first-C centroids
    * and so probe their own buckets dead-center — training helps the
    * non-centroid queries and costs the seeded ones their privileged
    * position. Both halves of that story are now gated data rather than a
    * scaladoc claim.
    */
  def ivfConvRecall(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = queryVectors(spark, dir)
    Embeddings.knnRecallOf(v, q, K, Embeddings.ivfTopKWith(v, q,
      Embeddings.kmeansExactRounds(v, NumCentroids, IvfExactRounds), NProbe, K))
  }

  /** Embedding-table health audit — the data-quality gate a pipeline runs
    * before spending compute on an ANN index build: per label, vector count,
    * the dimension range (a ragged `dim_min ≠ dim_max` means a broken
    * upstream encoder batch), zero-norm vectors (degenerate rows that make
    * cosine undefined and poison centroid training), and the L2-norm range
    * and sum in e6 fixed point (norm collapse or blow-up is the standard
    * symptom of an encoder regression; integer stats keep both engines
    * bit-equal and the sum order-independent).
    *
    * Scale shape: one scan, per-row codegen'd self-dot, two-phase partial
    * aggregation onto the tiny label domain — no shuffle wider than the
    * group-by, no joins.
    */
  def embedStats(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .select(col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        floor(Embeddings.l2Norm(col("embedding")) * lit(1e6)).cast("long").as("norm_e6"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        sum(when(col("norm_e6") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm_e6")).as("norm_min_e6"),
        max(col("norm_e6")).as("norm_max_e6"),
        sum(col("norm_e6")).as("norm_sum_e6"))

  /** Reciprocal-rank-fusion constant (the standard k=60 from Cormack et al.).
    */
  val RrfK = 60

  /** Hybrid retrieval: semantic top-k (exact cosine KNN over the embeddings,
    * `doc_id = vec_id` as everywhere the two tables compose) fused with
    * lexical top-k (3-shingle overlap count) by reciprocal-rank fusion —
    * `score = Σ 1/(60 + rank)` over the lists that retrieved the candidate,
    * here in exact e6 fixed point so both engines agree bit-for-bit. RRF is
    * how production search actually reconciles dense and sparse retrievers:
    * rank-space fusion needs no score calibration between cosine and overlap
    * counts. Plan: the two retrievers run independently (broadcast KNN;
    * shingle equi-join), a full-outer join unions their candidate lists
    * (≤ 2k rows per query), and the final ranking windows over that tiny
    * per-query set.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "documents")
    val sem = Embeddings.knnExact(vectors(spark, dir), queryVectors(spark, dir), K)
      .select(col("query_id"), col("neighbor_id").as("cand_id"), col("rank").as("r_sem"))
    val sh = graft.operators.TextDedup.shingles(d, "doc_id", "text", 3)
    val qsh = sh.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), col("shingle"))
    val csh = sh.select(col("doc_id").as("cand_id"), col("shingle"))
    val inter = qsh.join(csh, "shingle")
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id", "cand_id").agg(count(lit(1)).as("inter"))
    val wL = Window.partitionBy("query_id").orderBy(col("inter").desc, col("cand_id").asc)
    val lex = inter.withColumn("r_lex", row_number().over(wL))
      .filter(col("r_lex") <= K).select("query_id", "cand_id", "r_lex")
    val fused = lex.join(sem, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_e6",
        (coalesce(expr(s"1000000 div ($RrfK + r_sem)"), lit(0)) +
          coalesce(expr(s"1000000 div ($RrfK + r_lex)"), lit(0))).cast("long"))
    val wF = Window.partitionBy("query_id").orderBy(col("rrf_e6").desc, col("cand_id").asc)
    fused.withColumn("rank", row_number().over(wF)).filter(col("rank") <= K)
      .select(col("query_id"), col("cand_id"), col("rrf_e6"),
        col("rank").cast("long").as("rank"))
  }

  /** Node-sample modulus/remainder for the NN-Descent recall gate: the exact
    * brute-force baseline runs only on the 1-in-[[NnSampleMod]] node sample
    * (sample×corpus, linear) while the graph under measurement covers the
    * full corpus — the [[RecallSampleMod]] economics applied to graph ANN.
    */
  val NnSampleMod = 25
  val NnSampleRem = 3

  /** Seed-graph probe width: ≥ 2 is load-bearing — a single-assignment cell
    * seed is transitively closed, so the descent round could never add a
    * candidate (see [[Embeddings.knnGraphSeed]]).
    */
  val NnSeedAssign = 2

  private def nnSeed(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    Embeddings.knnGraphSeed(v, v.filter(col("vec_id") < NumCentroids),
      NnSeedAssign, K)
  }

  /** `q_nndescent_graph`: the corpus kNN graph after ONE NN-Descent round
    * over the IVF-cell seed — graph-based ANN index construction (the
    * HNSW-family substrate) as a gated table: (node_id, neighbor_id, rank),
    * every edge rescored with the exact cosine so the full 20k-edge graph is
    * hash-checkable (see [[Embeddings.nnDescentRound]] for the per-round
    * O(n·k²) equi-join plan).
    */
  def nnDescentGraph(spark: SparkSession, dir: String): DataFrame =
    Embeddings.nnDescent(vectors(spark, dir), nnSeed(spark, dir), K, 1).graph
      .select(col("query_id").as("node_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))

  /** `q_nndescent_recall`: the descent ladder's measured payoff AND price —
    * top-[[K]] recall of the seed graph vs rounds 1 and 2 against the exact
    * kNN of the deterministic node sample, with each stage's scored
    * candidate volume and edge count beside it, as integer (stage, hits,
    * total, n_scored, n_edges) rows. The improvement, its convergence (the
    * round-2 increment is the diminishing one a stopping rule watches), and
    * the cost curve it was bought at are all driver-checked data, not
    * claims.
    */
  def nnDescentRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Par
    import Par.ec
    import scala.concurrent.Future
    val v = vectors(spark, dir)
    // the exact baseline shares nothing with the ladder — materialize it on
    // a pool thread so it hides under the serial rounds (guide §2.6; it was
    // previously a lazy 3-consumer frame relying on AQE stage reuse)
    val fExact = Future(graft.operators.Lineage.cut(
      Embeddings.sampleExact(v, K, NnSampleMod, NnSampleRem)))
    // the seed candidate frame is cut ONCE and both consumers (the scored
    // seed graph and the n_scored count) read the materialization; uncut,
    // the bucket self-join ran twice. The descent collects or cuts the seed.
    val seedCands = graft.operators.Lineage.cut(Embeddings.seedCandidates(v,
      v.filter(col("vec_id") < NumCentroids), NnSeedAssign))
    val d = Embeddings.nnDescent(v, Embeddings.knnGraphSeedFrom(v, seedCands, K), K, 2)
    Embeddings.knnGraphRecallWith(Par.await(fExact),
      ("seed", d.seed, Embeddings.Rows(seedCands)) +:
        d.rounds.zipWithIndex.map { case ((g, scored), i) => (s"round${i + 1}", g, scored) })
  }

  /** Beam width and expansion rounds for the graph-ANN SERVING search
    * (`q_graph_search_indexed`): beam = [[K]] keeps the frontier the size of the
    * answer, two waves match the built graph's descent depth.
    */
  val GsBeam = 10
  val GsRounds = 2

  /** Shared tmp-path recipe of the persisted-index artifacts: md5 of the sf
    * dir (distinct dirs never share a path) plus the application id
    * (concurrent sessions on the same dir get isolated paths) — single-
    * sourced so the isolation invariants live in one place (review catch).
    */
  private def artifactRoot(spark: SparkSession, dir: String,
                           prefix: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      s"${spark.sparkContext.applicationId}_${md5.take(12)}"
  }

  private def gsIndexRoot(spark: SparkSession, dir: String): String =
    artifactRoot(spark, dir, "graft_gsidx_")

  /** Root-level completion marker of a persisted-index artifact, written
    * AFTER every part — completeness is ONE atomic-enough check. Per-part
    * `_SUCCESS` markers alone were a lifecycle hole (review catch): parts
    * are written sequentially, so a crash BETWEEN parts leaves a root whose
    * finished parts all pass their own marker check — only the
    * applicationId salt kept a later session from serving a half-built
    * index. With the manifest, any interruption before the final step
    * forces a full rebuild.
    */
  private[graft] val ArtifactManifest = "_GRAFT_INDEX_COMPLETE"

  /** How old an artifact tree from ANOTHER session must be before the sweep
    * reclaims it: 2× the longest session this harness runs (~6 h), so a
    * CONCURRENT session's live index (at most session-age old) is never
    * swept, while a hard-killed (SIGKILL/OOM) session's orphans — whose
    * shutdown hook never ran, and whose applicationId-salted path no later
    * session would ever match or clean — are reclaimed by the next build on
    * the box instead of accumulating in tmp forever (review catch).
    */
  private[graft] val OrphanArtifactTtlMs: Long = 12L * 3600 * 1000

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** Reclaim sibling `graft_*idx_*` trees left by dead sessions: never the
    * current session's (appId is in the path — belt), never a young tree
    * (a concurrent session may still be serving from it — braces; see
    * [[OrphanArtifactTtlMs]]).
    */
  private[graft] def sweepOrphanArtifacts(dir: java.io.File, currentAppId: String,
                                          nowMs: Long): Unit =
    Option(dir.listFiles).getOrElse(Array.empty[java.io.File]).foreach { f =>
      val stale = (f.getName.startsWith("graft_gsidx_") ||
          f.getName.startsWith("graft_pqidx_")) &&
        !f.getName.contains(currentAppId) &&
        f.lastModified < nowMs - OrphanArtifactTtlMs
      if (stale) rmTree(f)
    }

  /** One monitor per artifact root for [[ensureArtifact]]. */
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Ensure-once body shared by the persisted-index builders: run `write`
    * unless the root's [[ArtifactManifest]] marker is present, then write
    * the marker LAST. The JVM-exit cleanup hook is registered BEFORE the
    * write so a failed or interrupted build's partial tree is cleaned too
    * (review catch); deleting an absent dir at exit is a no-op. Each build
    * first sweeps orphan artifact trees of dead sessions from the shared
    * tmp parent ([[sweepOrphanArtifacts]]). Check and write run under one
    * lock per root, so two threads constructing queries over one index
    * build it once: the second waits and then finds the manifest.
    */
  private[graft] def ensureArtifact(root: String, appId: String)(write: => Unit): Unit =
    artifactLocks.computeIfAbsent(root, _ => new Object).synchronized {
      if (!new java.io.File(root, ArtifactManifest).exists) {
        val rootDir = new java.io.File(root)
        sweepOrphanArtifacts(rootDir.getParentFile, appId, System.currentTimeMillis())
        Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(rootDir)))
        write
        new java.io.File(root, ArtifactManifest).createNewFile(); ()
      }
    }

  /** The search-time index as a PERSISTED ARTIFACT read back from parquet —
    * the serving economics a production graph index actually has: the
    * NN-Descent build (`q_nndescent_graph`'s exact construction) runs ONCE
    * per (session, sf dir), writes the edge list plus the IVF entry-point
    * vectors, and every serving gate reads the artifact back, so serving
    * plans price SEARCH, never an index rebuild (the `ivfPqTopKFromIndex`
    * serving seam, realized through the `q_zorder_prune` write→readback
    * precedent). The build is eagerly ensured at query-construction time
    * (the registry sweep pays the one-time jobs); the root-level
    * [[ArtifactManifest]] marker, written after every part, makes the
    * ensure idempotent without module-level lifecycle state. Returns
    * (edge list as (query_id, neighbor_id), entry vectors as
    * (vec_id, embedding)); float embeddings round-trip parquet bit-exactly,
    * so read-back scores equal in-plan scores. At 100 TB the artifact would
    * be written bucketed by node id so the per-wave frontier⋈edges join
    * co-locates without a shuffle.
    */
  private[graft] def gsIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val root = gsIndexRoot(spark, dir)
    ensureArtifact(root, spark.sparkContext.applicationId) {
      nnDescentGraph(spark, dir).write.mode("overwrite").parquet(s"$root/edges")
      vectors(spark, dir).filter(col("vec_id") < NumCentroids)
        .select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$root/entries")
    }
    // rank rides along (Catalyst prunes it from pure-adjacency serving
    // plans): the maintenance operators' graph contract carries it, so a
    // read-back index composes with graphInsert/graphDelete directly
    (spark.read.parquet(s"$root/edges")
       .select(col("node_id").as("query_id"), col("neighbor_id"), col("rank")),
     spark.read.parquet(s"$root/entries"))
  }

  /** The read-back parts of the persisted IVF∘PQ index ([[pqIndex]]): the
    * plain-PQ serve reads (codes, assigned, centroids, codebook); the
    * RESIDUAL serve reads (rcodes, assigned, centroids, rcodebook) — the
    * inverted file and centroids are shared, only the codebook family
    * differs (plain PQ quantizes v, residual PQ quantizes v − c(v)).
    */
  private[graft] final case class PqIdx(codes: DataFrame, assigned: DataFrame,
                                        centroids: DataFrame, codebook: DataFrame,
                                        rcodes: DataFrame, rcodebook: DataFrame)

  /** The IVF∘PQ index as a PERSISTED ARTIFACT — the [[gsIndex]] treatment
    * applied to the second index family: codes ((neighbor_id, m, code) — 8
    * bytes/vector), the inverted-file assignment ((neighbor_id, cent_id)),
    * the centroid vectors, the PQ codebook, plus the RESIDUAL family's
    * codes/codebook (FAISS-IVFPQ formulation — PQ over v − c(v), sharing
    * the assignment and centroids), each written once per (session, sf dir)
    * and read back for serving, so every PQ-family serving plan's working
    * set is EXACTLY the index parts — the float corpus appears in no
    * retrieve stage (PlanAudit-asserted; the two-stage rerank gates
    * additionally point-look-up the float store by candidate id, the
    * production refine shape). Integer codes and float codewords both
    * round-trip parquet bit-exactly. At 100 TB the codes/assigned parts
    * would be written bucketed by cent_id so a probe's member fetch is a
    * pruned co-located read.
    */
  private[graft] def pqIndex(spark: SparkSession, dir: String): PqIdx = {
    val root = artifactRoot(spark, dir, "graft_pqidx_")
    ensureArtifact(root, spark.sparkContext.applicationId) {
      val v = vectors(spark, dir)
      val cents = v.filter(col("vec_id") < NumCentroids)
      val cb = Embeddings.pqCodebook(v)
      Embeddings.pqEncode(v, cb)
        .select(col("vec_id").as("neighbor_id"), col("m"), col("code"))
        .write.mode("overwrite").parquet(s"$root/codes")
      Embeddings.ivfAssign(v, cents)
        .select(col("vec_id").as("neighbor_id"), col("cent_id"))
        .write.mode("overwrite").parquet(s"$root/assigned")
      cents.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$root/centroids")
      cb.write.mode("overwrite").parquet(s"$root/codebook")
      // residual family: the ivfPqResidualTopK in-plan recipe, persisted —
      // residual codebook trains on the first-PqK vectors AFTER the
      // centroid prefix (whose residuals are exactly zero)
      val res = Embeddings.residualVectors(v, cents)
      val rcb = Embeddings.pqCodebook(res.filter(col("vec_id") >= NumCentroids)
        .select((col("vec_id") - NumCentroids).as("vec_id"), col("embedding")))
      Embeddings.pqEncode(res.select("vec_id", "embedding"), rcb)
        .select(col("vec_id").as("neighbor_id"), col("m"), col("code"))
        .write.mode("overwrite").parquet(s"$root/rcodes")
      rcb.write.mode("overwrite").parquet(s"$root/rcodebook")
    }
    PqIdx(spark.read.parquet(s"$root/codes"),
      spark.read.parquet(s"$root/assigned"),
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/codebook"),
      spark.read.parquet(s"$root/rcodes"),
      spark.read.parquet(s"$root/rcodebook"))
  }

  /** `q_ivfpq_topk_indexed`: IVF∘PQ serving from the persisted index — the
    * same answer contract as `q_ivfpq_topk` (identical oracle), but the
    * registered plan reads ONLY the written index parts: codes, assignment,
    * centroids, codebook ([[Embeddings.ivfPqTopKFromIndex]]). Beside the
    * graph family's `q_graph_search_indexed`, both serving index families
    * now gate their true production read path: build once, serve from the
    * artifact.
    */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    Embeddings.ivfPqTopKFromIndex(idx.codes, idx.assigned,
      queryVectors(spark, dir), idx.centroids, idx.codebook, NProbe, K)
  }

  /** `q_graph_search_indexed`: the graph-ANN SERVING query — IVF-probe-seeded
    * beam search ([[Embeddings.graphSearch]]) over the PERSISTED NN-Descent
    * index ([[gsIndex]]), per-query top-[[K]] as (query_id, neighbor_id,
    * rank). This is the rung that makes the `q_nndescent_*` index build pay
    * off: queries are answered from the read-back edge list + point lookups,
    * never a corpus scan and never an in-plan rebuild (PlanAudit-asserted —
    * the registered plan's lineage contains no NN-Descent stage).
    */
  def graphSearchIndexedQ(spark: SparkSession, dir: String): DataFrame = {
    val (graph, entries) = gsIndex(spark, dir)
    Embeddings.graphSearch(vectors(spark, dir), queryVectors(spark, dir),
        graph, entries, NProbe, GsBeam, GsRounds, K)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** `q_graph_search_recall`: the search ladder's payoff AND price — per-wave
    * top-[[K]] recall vs the exact baseline with the wave's exact-distance-
    * evaluation count beside it, as integer (stage, hits, total, n_scored)
    * rows, served from the persisted index ([[gsIndex]]). Read next to
    * `q_nndescent_recall`: that ladder prices the BUILD, this one prices
    * each SERVE.
    */
  def graphSearchRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val (graph, entries) = gsIndex(spark, dir)
    Embeddings.graphSearchRecall(vectors(spark, dir), queryVectors(spark, dir),
      graph, entries, NProbe, GsBeam, GsRounds, K)
  }

  /** Beam widths the serving sweep prices — bracketing the deployed
    * [[GsBeam]] = 10 from both sides. The deployed width itself is NOT
    * swept: its (hits, total, n_scored) row is exactly
    * `q_graph_search_recall`'s terminal wave (same visited set, same
    * cumulative scored count), so re-running it would duplicate a gated row
    * at ~1/3 of the sweep's cost.
    */
  val GsSweepBeams: Seq[Int] = Seq(4, 24)

  /** `q_graph_sweep`: the serving beam-width knob priced
    * ([[Embeddings.graphSearchSweep]]) — per width, final recall vs the
    * exact baseline and the TOTAL exact-distance evaluations paid, as
    * integer (beam, hits, total, n_scored) rows. `q_graph_search_recall`
    * prices the WAVES at the deployed width; this prices the WIDTH — the
    * two knobs a graph-serving deployment actually turns.
    */
  def graphSweepQ(spark: SparkSession, dir: String): DataFrame = {
    val (graph, entries) = gsIndex(spark, dir)
    Embeddings.graphSearchSweep(vectors(spark, dir), queryVectors(spark, dir),
      graph, entries, NProbe, GsSweepBeams, GsRounds, K)
  }

  /** Batch size of the index-MAINTENANCE gate: the most-recent [[GsInsertN]]
    * vectors (by id — the arrival order of the harness data) are held out of
    * the store and inserted. 25 = 5% of the sf0.001/sf0.01 corpus, nonempty
    * and disjoint from the query/centroid prefixes at every sf.
    */
  val GsInsertN = 25

  /** `q_graph_insert_recall`: the index-FRESHNESS story priced — the r15
    * `graphInsert` maintenance operator (spec-only until now) as a gated
    * query. The store is the corpus minus its last [[GsInsertN]] vectors; a
    * round-1 NN-Descent index is built over the store, the held-out batch is
    * inserted with [[Embeddings.graphInsert]] (search-then-reprune, no
    * rebuild), and the gate emits per stage the inserted nodes' out-edge
    * recall vs their exact top-[[K]] over the FULL corpus plus the graph's
    * edge count: (stage, hits, total, n_edges) for `insert` (the maintained
    * graph) and `rebuild` (the persisted full-corpus index [[gsIndex]] — what
    * a from-scratch rebuild would serve). The recall gap is exactly what
    * incremental maintenance gives up (same-batch neighbors are invisible to
    * a search over the pre-insert store); the matching edge counts show
    * degree stays bounded without the rebuild.
    *
    * A third row, `serve`, closes the question maintenance actually exists
    * to answer: the STANDARD query set's beam-search recall when served
    * over the MAINTAINED graph (total = queries×K, so it reads directly
    * against `q_graph_search_recall`'s terminal row — the same search over
    * the rebuilt index, deliberately NOT re-run here per the
    * [[GsSweepBeams]] no-duplicate-gated-rows convention). If `serve`
    * matches that row, the rebuild can be skipped; the gap, if any, is the
    * serving cost of freshness-by-insertion, as data.
    */
  def graphInsertRecallQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Par
    import Par.ec
    import scala.concurrent.Future
    val v = vectors(spark, dir)
    // bounded 1-row argmax collect (the documented collect class): the batch
    // boundary must be a literal so the store/batch filters push down
    val cutoff = v.agg(max(col("vec_id"))).head.getLong(0) - GsInsertN
    val store = v.filter(col("vec_id") <= cutoff)
    val batch = v.filter(col("vec_id") > cutoff)
    val cents = v.filter(col("vec_id") < NumCentroids)
    val q = queryVectors(spark, dir)
    // DATAFLOW materialization (the dedupDecision pattern, guide §2.6): the
    // pre-insert build→insert chain, the two exact baselines, and the serve
    // are independent chains of eager cuts — sequential construction pays
    // their SUM, the future graph pays the critical path
    // (build → insert → serve) with both baselines hidden under it.
    // Frames and results are identical; only job submission order changes.
    // both serves' IVF entry seeds depend only on (queries, centroids, store
    // embeddings) — not on the maintained graph — so they materialize
    // concurrently with the build→insert chain instead of inside it (the
    // graphDeleteRecallQ shared-seed economics, applied to the critical path)
    val fSeedBatch = Future(Embeddings.graphSearchSeed(store, batch, cents, NProbe))
    val fSeedQ = Future(Embeddings.graphSearchSeed(v, q, cents, NProbe))
    val fUpdated = Future {
      // pre-insert index over the store (the persisted index's exact recipe,
      // seeded within the store)
      val graph0 = Embeddings.nnDescent(store,
        Embeddings.knnGraphSeed(store, cents, NnSeedAssign, K), K, 1).graph
      // the batch seed materialized while the build ran; await it only here
      graft.operators.Lineage.cut(
        Embeddings.graphInsert(store, graph0, batch, cents,
          NProbe, GsBeam, GsRounds, K, seed = Some(Par.await(fSeedBatch))))
    }
    val fExact = Future(graft.operators.Lineage.cut(
      Embeddings.knnExact(v, batch, K)
        .select(col("query_id"), col("neighbor_id"))))
    val fExactQ = Future(graft.operators.Lineage.cut(
      Embeddings.knnExact(v, q, K).select(col("query_id"), col("neighbor_id"))))
    val fServedTopK = for { updated <- fUpdated; seedQ <- fSeedQ } yield
      Embeddings.graphSearch(v, q, updated, cents, NProbe, GsBeam, GsRounds, K,
        seed = Some(seedQ)).select(col("query_id"), col("neighbor_id"))
    val (rebuilt, _) = gsIndex(spark, dir)
    val updated = Par.await(fUpdated)
    val exact = Par.await(fExact)
    def inserted(g: DataFrame): DataFrame =
      g.filter(col("query_id") > cutoff).select(col("query_id"), col("neighbor_id"))
    Seq(("insert", exact, inserted(updated), updated),
        ("rebuild", exact, inserted(rebuilt), rebuilt),
        ("serve", Par.await(fExactQ), Par.await(fServedTopK), updated))
      .map { case (label, e, answers, g) =>
        Embeddings.knnRecallTotals(e, answers, Some("stage" -> label),
          Seq("n_edges" -> Embeddings.Rows(g)))
      }.reduce(_.unionByName(_))
  }

  /** Deterministic tombstone predicate of the index-DELETE gate: ids
    * ≡ [[TombRem]] (mod [[TombMod]]) — ~5% of the corpus, spread across the
    * id range (and thus across IVF cells). The centroid/query prefix is
    * excluded so entry points and the standard query set stay live: the
    * gate prices what deletion does to the GRAPH, not to the probe seeding
    * (a production store versions entry points separately).
    */
  val TombMod = 20
  val TombRem = 7

  /** `q_graph_delete_recall`: the OTHER half of index freshness priced —
    * `q_graph_insert_recall`'s shape for deletes. A deterministic ~5%
    * tombstone set ([[TombMod]]/[[TombRem]]) is deleted three ways, and for
    * each the STANDARD query set's beam-search recall vs the exact top-[[K]]
    * over the LIVE corpus is gated with the serve's exact-evaluation count
    * and the graph's edge count beside it, as (stage, hits, total,
    * n_scored, n_edges) rows:
    *
    *   - `tombstoned`: the persisted full-corpus index [[gsIndex]] served
    *     with the serve-time anti-join ([[Embeddings.graphSearchWithCostFrom]])
    *     — deleted vectors can't be answers but still route; zero index
    *     maintenance paid, edge count unchanged;
    *   - `compacted`: [[Embeddings.graphDelete]]'s connect-around compaction
    *     (deleted nodes gone, broken lists re-pruned over patched
    *     candidates), then a normal serve — what the index looks like after
    *     the maintenance job runs;
    *   - `rebuilt`: a from-scratch build over the live corpus (the
    *     [[gsIndex]] recipe: IVF-cell seed + one NN-Descent round) — the
    *     freshness ceiling a full rebuild would pay for.
    *
    * The tombstoned-vs-compacted gap prices route-through serving from BOTH
    * sides: recall AND the n_scored overhead of exact-scoring dead nodes the
    * search routes through — the per-serve cost that accumulates with the
    * tombstone fraction and is exactly what a compaction-scheduling policy
    * trades against the compaction job (measured, not asserted). The
    * compacted-vs-rebuilt gap is what connect-around repair gives up vs a
    * rebuild. Edge counts pin that compaction keeps degree bounded without
    * rebuilding.
    */
  def graphDeleteRecallQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Par
    import Par.ec
    import scala.concurrent.Future
    val v = vectors(spark, dir)
    val floor = math.max(NumCentroids, NumQueries)
    val tomb = v.filter(col("vec_id") % TombMod === TombRem &&
        col("vec_id") >= floor)
      .select("vec_id")
    val live = v.join(tomb, Seq("vec_id"), "left_anti")
    val cents = v.filter(col("vec_id") < NumCentroids)
    val q = queryVectors(spark, dir)
    val (graph, _) = gsIndex(spark, dir)
    // DATAFLOW materialization (the dedupDecision pattern, guide §2.6): the
    // exact baseline, the tombstoned serve, the compact→serve chain, and the
    // rebuild→serve chain are independent — overlapped, the gate pays the
    // critical path (longest chain) instead of the sum of all four. The IVF
    // entry seed is additionally shared across the three serves
    // ([[Embeddings.graphSearchWithCostFrom]]): entry nodes are centroids,
    // which the tombstone floor keeps live in every arm, so the seed frame
    // is bit-identical — one probe job instead of three.
    val fSeed = Future(Embeddings.graphSearchSeed(v, q, cents, NProbe))
    // the recall baseline: exact top-K over the LIVE corpus (a deleted
    // vector is not a correct answer by definition); cut — three stage rows
    // consume it
    val fExact = Future(graft.operators.Lineage.cut(
      Embeddings.knnExact(live, q, K).select(col("query_id"), col("neighbor_id"))))
    val fTomb = fSeed.map { seed =>
      Embeddings.graphSearchWithCostFrom(v, q, graph, seed,
        GsBeam, GsRounds, K, Some(tomb))
    }
    val fComp = Future(graft.operators.Lineage.cut(
        Embeddings.graphDelete(v, graph, tomb, K)))
      .flatMap { compacted => fSeed.map { seed =>
        (compacted, Embeddings.graphSearchWithCostFrom(live, q, compacted,
          seed, GsBeam, GsRounds, K))
      } }
    val fReb = Future(Embeddings.nnDescent(live,
        Embeddings.knnGraphSeed(live, cents, NnSeedAssign, K), K, 1).graph)
      .flatMap { rebuilt => fSeed.map { seed =>
        (rebuilt, Embeddings.graphSearchWithCostFrom(live, q, rebuilt,
          seed, GsBeam, GsRounds, K))
      } }
    val exact = Par.await(fExact)
    val tombServe = Par.await(fTomb)
    val (compacted, compServe) = Par.await(fComp)
    val (rebuilt, rebServe) = Par.await(fReb)
    Seq(("tombstoned", tombServe, graph), ("compacted", compServe, compacted),
        ("rebuilt", rebServe, rebuilt))
      .map { case (label, (served, scored), g) =>
        Embeddings.knnRecallTotals(exact, served, Some("stage" -> label),
          Seq("n_scored" -> Embeddings.Rows(scored), "n_edges" -> Embeddings.Rows(g)))
      }.reduce(_.unionByName(_))
  }

  /** Candidate-pool depth of the binary-quantization serve (the full-dim
    * rerank then cuts to [[K]] — [[MrlServeR]]'s economics at 1 bit/dim).
    */
  val BqServeR = 50

  /** `q_bq_rerank`: BINARY-QUANTIZATION serving — the coarsest rung of the
    * compression ladder (float → Matryoshka prefix → SQ8 → PQ → 1 bit/dim):
    * Hamming top-[[BqServeR]] pool over 64 packed sign bits (integer
    * xor/popcount, 8 bytes of index per vector), exact rerank to [[K]]
    * ([[Embeddings.bqRerank]]).
    */
  def bqRerankQ(spark: SparkSession, dir: String): DataFrame =
    // the 64-plane signature projection is CPU-bound and the single small
    // harness file arrives as ONE scan partition — spread it so the bit
    // build uses the cores (13 -> ~2 s warm at sf0.1; at 100 TB the scan
    // has natural partitions and no respread runs)
    Embeddings.bqRerank(
      vectors(spark, dir).repartition(spark.sparkContext.defaultParallelism),
      queryVectors(spark, dir), BqServeR, K)

  /** `q_bq_recall`: the 1-bit tier's recall vs the exact top-[[K]] — read
    * beside `q_mrl_recall`/`q_sq8_recall`/`q_pq_recall` to see what each
    * compression level costs in answer quality.
    */
  def bqRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // see bqRerankQ
    val q = queryVectors(spark, dir)
    Embeddings.knnRecallTotals(
      Embeddings.knnExact(v, q, K).select(col("query_id"), col("neighbor_id")),
      Embeddings.bqRerank(v, q, BqServeR, K))
  }

  /** Matryoshka prefix widths the recall ladder prices (vs the full 64). */
  val MrlDims: Seq[Int] = Seq(8, 16, 32)

  /** `q_mrl_recall`: top-[[K]] recall of prefix-dimension cosine rankings
    * ([[Embeddings.knnExactPrefix]]) against the full-dim exact ranking, one
    * integer (dim, hits, total) row per tier — the cost/recall curve behind
    * a Matryoshka serving-tier choice, as gated data.
    */
  def mrlRecall(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir); val q = queryVectors(spark, dir)
    val exact = Embeddings.knnExact(v, q, K).select(col("query_id"), col("neighbor_id"))
    MrlDims.map { d =>
      Embeddings.knnRecallTotals(exact, Embeddings.knnExactPrefix(v, q, K, d),
        Some("dim" -> d.toLong))
    }.reduce(_.unionByName(_))
  }

  /** Two-stage Matryoshka serving constants: prefix width of the cheap wide
    * scan and its candidate depth (the full-dim rerank then cuts to [[K]]).
    */
  val MrlServeDim = 16
  val MrlServeR = 50

  /** `q_mrl_rerank`: the PRODUCTION Matryoshka path — prefix-[[MrlServeDim]]
    * cosine scan keeps [[MrlServeR]] candidates (paying dim/D of the scan),
    * the full-dim exact rerank ([[Embeddings.exactRerank]], point-lookup
    * joins into the vector store) re-scores only queries×R rows and cuts to
    * [[K]] — the same two-stage economics as `q_ivfpq_rerank`, with the
    * cheap representation a prefix instead of a code.
    */
  def mrlRerank(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir); val q = queryVectors(spark, dir)
    Embeddings.exactRerank(v, q,
      Embeddings.knnExactPrefix(v, q, MrlServeR, MrlServeDim), K)
  }

  /** `q_mrl_rerank_recall`: the two-stage path's recall vs the exact top-K —
    * compare with `q_mrl_recall`'s dim-16 row to see what the rerank stage
    * buys back (0.185 → measured ~3× higher at sf0.01).
    */
  def mrlRerankRecall(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir); val q = queryVectors(spark, dir)
    Embeddings.knnRecallTotals(
      Embeddings.knnExact(v, q, K).select(col("query_id"), col("neighbor_id")),
      mrlRerank(spark, dir))
  }

  /** The top-k serve/recall twins, one row each: the serve's ranking and
    * the CTE its oracle replays; the recall is per-query hits vs the exact
    * top-[[K]] ([[RecallTwins.knnQueries]]). Sampled twins of the near-dup
    * recalls are the forms a 100 TB run schedules (exact baseline only on
    * the 1/[[RecallSampleMod]] id-sample, blocked path on the full corpus);
    * the full-recall forms stay registered as this-sf oracles of the
    * sampling itself.
    */
  private lazy val knnTwins: Seq[RecallTwins.KnnTwin] = Seq(
    RecallTwins.KnnTwin("q_ann_topk", "q_ann_recall", base, "approx",
      (s, d) => Embeddings.ivfTopK(vectors(s, d), queryVectors(s, d),
        NumCentroids, NProbe, K)),
    RecallTwins.KnnTwin("q_sq8_topk", "q_sq8_recall", base + sq8Ctes, "sq8",
      (s, d) => Embeddings.sq8TopK(vectors(s, d), queryVectors(s, d), K)),
    RecallTwins.KnnTwin("q_pq_topk", "q_pq_recall", base + pqCtes, "pq",
      (s, d) => Embeddings.pqTopK(vectors(s, d), queryVectors(s, d), K)),
    // IVF probe pruning (base's assign/probes) composed with PQ ADC scoring
    // (pqCtes) — candidates from the probed buckets, scored from codes alone
    RecallTwins.KnnTwin("q_ivfpq_topk", "q_ivfpq_recall",
      base + pqCtes + ivfPqCte, "ivfpq",
      (s, d) => Embeddings.ivfPqTopK(vectors(s, d), queryVectors(s, d),
        NumCentroids, NProbe, K)),
    // two-stage retrieve-then-rerank: the ADC pool (rank <= RerankR) exact-
    // cosine reranked and re-cut at K — the FAISS refine serving pattern
    RecallTwins.KnnTwin("q_ivfpq_rerank", "q_ivfpq_rerank_recall",
      base + pqCtes + ivfPqCte + rerankCte, "reranked", ivfPqRerank),
    // residual IVF-PQ: PQ on v - c(v), centroid terms exact, residual terms
    // e6-floored ADC sums
    RecallTwins.KnnTwin("q_ivfpq_res_topk", "q_ivfpq_res_recall",
      base + residualCtes, "rivfpq", ivfPqResidualTopK))

  /** The near-dup serve/pair-recall twins, one row each (see [[knnTwins]]). */
  private lazy val pairTwins: Seq[RecallTwins.PairTwin] = Seq(
    RecallTwins.PairTwin("q_srp_neardup", "q_srp_recall",
      Some("q_srp_recall_sampled" -> RecallSampleMod), NearDupThreshold,
      srpBase, "srp_pairs", "vec", vectors,
      Embeddings.srpNearDupPairs(_, SrpBits, NearDupThreshold)),
    RecallTwins.PairTwin("q_srp_mp_neardup", "q_srp_mp_recall",
      Some("q_srp_mp_recall_sampled" -> RecallSampleMod), NearDupThreshold,
      srpBase, "srp_mp_pairs", "vec", vectors,
      Embeddings.srpNearDupPairsMultiProbe(_, SrpBits, NearDupThreshold)),
    RecallTwins.PairTwin("q_embed_neardup_ivf", "q_embed_neardup_recall",
      Some("q_embed_neardup_recall_sampled" -> RecallSampleMod), NearDupThreshold,
      nearDupBase, "blocked_pairs", "vec", vectors,
      Embeddings.ivfNearDupPairs(_, NumCentroids, NearDupAssign, NearDupThreshold)))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    RecallTwins.knnQueries(knnTwins, vectors, queryVectors, K) ++
    RecallTwins.pairQueries(pairTwins) ++ Map(
    "q_mrl_recall" -> (mrlRecall _),
    "q_mrl_rerank" -> (mrlRerank _),
    "q_mrl_rerank_recall" -> (mrlRerankRecall _),
    "q_bq_rerank" -> (bqRerankQ _),
    "q_bq_recall" -> (bqRecallQ _),
    "q_graph_search_indexed" -> (graphSearchIndexedQ _),
    "q_graph_search_recall" -> (graphSearchRecallQ _),
    "q_graph_sweep" -> (graphSweepQ _),
    "q_graph_insert_recall" -> (graphInsertRecallQ _),
    "q_graph_delete_recall" -> (graphDeleteRecallQ _),
    "q_ivfpq_topk_indexed" -> (ivfPqTopKIndexed _),
    "q_ann_filtered_sweep" -> (annFilteredSweep _),
    "q_ann_filter_xover" -> (annFilterXover _),
    "q_nndescent_graph" -> (nnDescentGraph _),
    "q_nndescent_recall" -> (nnDescentRecall _),
    "q_srp_stats" -> (srpStats _),
    "q_retrieval_mrr" -> (retrievalMrr _),
    "q_ivf_stats" -> (ivfStats _),
    "q_ivf_quality" -> (ivfQuality _),
    "q_ivf_conv_quality" -> (ivfConvQuality _),
    "q_ivf_conv_recall" -> (ivfConvRecall _),
    "q_embed_stats" -> (embedStats _),
    "q_hybrid_rrf" -> (hybridRrf _),
    "q_embed_groups" -> (embedDedupGroups _),
    "q_knn_topk" -> (knnExact _),
    "q_hard_negatives" -> (hardNegatives _),
    "q_ivf_sweep" -> (ivfSweep _),
    "q_mmr_topk" -> (mmrTopK _),
    "q_mmr_diversity" -> (mmrDiversity _),
    "q_decon_semantic" -> (semanticDecon _),
    "q_embed_neardup" -> (cosineNearDup _),
    "q_embed_dedup" -> (embedDedupSurvivors _),
    "q_semdedup" -> (semDedupVerdicts _))

  /** The MMR trade PRICED — per query, the relevance and redundancy of the
    * two 10-of-50 selections over the SAME pool: `sel = 'topk'` (the exact
    * rerank — pure relevance) vs `sel = 'mmr'` (the diversified pick).
    * `rel_e6` sums the members' e6-floored exact query cosines; `pair_sim_e6`
    * sums the e6-floored pairwise cosines over the 45 unordered member pairs
    * (the redundancy the MMR discount exists to reduce). Every approximate
    * tier in this library carries its price; this is the diversification
    * rule's — measured, not asserted (integer sums, order-independent, so
    * the comparison is hash-stable).
    *
    * Measured at sf0.01 (per-query means): `rel_e6` 2.853 → 2.795 (−2.1%
    * relevance given up) for `pair_sim_e6` 3.652 → 2.736 (−25% redundancy
    * removed) — the 0.7/0.3 trade in numbers.
    */
  def mmrDiversity(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    val v = vectors(spark, dir); val q = queryVectors(spark, dir)
    // ONE materialization of the shared ADC candidate pool (retrieved from
    // the persisted index — no in-plan codebook training/encoding): both
    // selections hang off it and each selection is then consumed by two
    // metric frames, so the pool subplan appears 4x in the single lazy
    // plan — past the checkpoint break-even (measured 3.2 -> 2.6 s warm at
    // sf0.01; the corpus-clean counter-rule is a 2-consumer case)
    val pool = graft.operators.Lineage.cut(
      Embeddings.ivfPqTopKFromIndex(idx.codes, idx.assigned, q, idx.centroids,
        idx.codebook, NProbe, RerankR))
    val topk = Embeddings.exactRerank(v, q, pool, K)
      .select(col("query_id"), col("neighbor_id"))
    val mmr = Embeddings.mmrSelect(v, q, pool, K)
      .select(col("query_id"), col("neighbor_id"))
    val n = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"), Embeddings.l2Norm(col("embedding")).as("n_norm"))
    val qd = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        Embeddings.l2Norm(col("embedding")).as("q_norm"))
    def metrics(sel: DataFrame, label: String): DataFrame = {
      // fetch the members' embeddings ONCE per selection: the selection is
      // queries×K rows (tiny — broadcast side), so the corpus is scanned a
      // single time with no shuffle; rel and the pairwise frame both read
      // this fetched frame (identical subplan → AQE stage reuse), where the
      // previous shape joined the corpus three times (n, na, nb) through
      // corpus-wide sort-merge joins
      val selEmb = n.join(broadcast(sel), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("n_emb"), col("n_norm"))
      val rel = selEmb.join(broadcast(qd), Seq("query_id"))
        .select(col("query_id"),
          floor(Embeddings.dotD(col("q_emb"), col("n_emb"))
            / (col("q_norm") * col("n_norm")) * lit(1e6)).cast("long").as("r"))
        .groupBy("query_id").agg(sum(col("r")).as("rel_e6"))
      val pa = selEmb.select(col("query_id"), col("neighbor_id").as("id_a"),
        col("n_emb").as("a_emb"), col("n_norm").as("a_norm"))
      val pb = selEmb.select(col("query_id"), col("neighbor_id").as("id_b"),
        col("n_emb").as("b_emb"), col("n_norm").as("b_norm"))
      val pairs = pa.join(pb, Seq("query_id"))
        .filter(col("id_a") < col("id_b"))
        .select(col("query_id"),
          floor(Embeddings.dotD(col("a_emb"), col("b_emb"))
            / (col("a_norm") * col("b_norm")) * lit(1e6)).cast("long").as("s"))
        .groupBy("query_id").agg(sum(col("s")).as("pair_sim_e6"))
      rel.join(pairs, Seq("query_id")).withColumn("sel", lit(label))
    }
    metrics(topk, "topk").unionByName(metrics(mmr, "mmr"))
      .select(col("query_id"), col("sel"), col("rel_e6"), col("pair_sim_e6"))
  }

  /** Shared oracle CTEs: double-widened vectors, norms, query set, centroids,
    * and both ranking paths. `list_sum(list_transform(...))` evaluates
    * sequentially left-to-right, matching Spark's `aggregate` bit-for-bit.
    */
  private val base =
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        nrm AS MATERIALIZED (SELECT vec_id,
                  sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                FROM v),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < $NumQueries),
        exact AS MATERIALIZED (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> q.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
            FROM q JOIN v ON v.vec_id <> q.query_id
            JOIN nrm nq ON nq.vec_id = q.query_id
            JOIN nrm nv ON nv.vec_id = v.vec_id)
          WHERE rank <= $K),
        c AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < $NumCentroids),
        assign AS MATERIALIZED (
          SELECT vec_id, cent_id FROM (
            SELECT v.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM v CROSS JOIN c
            JOIN nrm nv ON nv.vec_id = v.vec_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn = 1),
        probes AS MATERIALIZED (
          SELECT query_id, qe, cent_id FROM (
            SELECT q.query_id, q.qe, c.cent_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> q.qe[i]*c.ce[i]))
                  / (nq.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM q CROSS JOIN c
            JOIN nrm nq ON nq.vec_id = q.query_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn <= $NProbe),
        approx AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> p.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, a.vec_id ASC) AS rank
            FROM probes p
            JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
            JOIN v ON v.vec_id = a.vec_id
            JOIN nrm nq ON nq.vec_id = p.query_id
            JOIN nrm nv ON nv.vec_id = a.vec_id)
          WHERE rank <= $K)
     """

  /** The exact-arithmetic Lloyd rounds of
    * [[Embeddings.kmeansExactRounds]] replayed as UNROLLED CTEs (generated
    * from the same [[IvfExactRounds]] constant, one assign + integer-mean +
    * carry-forward block per round — k-means needs a GROUP BY per round,
    * which a recursive CTE cannot express): `qv` = e6-floored unit
    * directions (zero-norm rows dropped, matching the Spark builder),
    * `c0` = the quantized first-C init, round r = argmax-cosine assignment
    * under `k(r-1)` (score DESC, cent_id ASC — the one shared tie-break) →
    * per-component `sum // n` integer mean → empty buckets carried forward;
    * `af` = the final scored assignment both gates read. Integer sums are
    * order-independent, `//` truncates toward zero like Spark's `div` on
    * both signs, and every double comparison is the same sequential
    * list_sum both engines compute.
    */
  private lazy val ivfConvCtes: String = {
    val sb = new StringBuilder
    sb.append(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        nrm AS (SELECT vec_id,
                  sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                FROM v),
        qv AS (SELECT v.vec_id,
                 list_transform(range(1, 65), i -> floor(v.e[i]/n.nm * 1e6)) AS qd
               FROM v JOIN nrm n ON n.vec_id = v.vec_id WHERE n.nm > 0),
        c0 AS (SELECT vec_id AS cent_id, qd AS ce FROM qv
               WHERE vec_id < $NumCentroids),
        k0 AS (SELECT cent_id, ce,
                 sqrt(list_sum(list_transform(range(1, 65), i -> ce[i]*ce[i]))) AS cn
               FROM c0)""")
    for (r <- 1 to IvfExactRounds) {
      sb.append(s""",
        a$r AS (SELECT vec_id, cent_id FROM (
             SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                   / (nv.nm * c.cn)) DESC, c.cent_id ASC) AS rn
             FROM v CROSS JOIN k${r - 1} c
             JOIN nrm nv ON nv.vec_id = v.vec_id) WHERE rn = 1),
        s$r AS (SELECT a.cent_id, u.i AS pos,
                  ((sum(q.qd[u.i])::BIGINT) // count(*))::DOUBLE AS m
                FROM a$r a JOIN qv q USING (vec_id), range(1, 65) AS u(i)
                GROUP BY 1, 2),
        c$r AS (SELECT c.cent_id, coalesce(ns.ce, c.ce) AS ce
                FROM c${r - 1} c LEFT JOIN (
                  SELECT cent_id, list(m ORDER BY pos) AS ce
                  FROM s$r GROUP BY 1) ns USING (cent_id)),
        k$r AS (SELECT cent_id, ce,
                  sqrt(list_sum(list_transform(range(1, 65), i -> ce[i]*ce[i]))) AS cn
                FROM c$r)""")
    }
    sb.append(s""",
        af AS (SELECT v.vec_id, c.cent_id,
                 (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                   / (nv.nm * c.cn)) AS score,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                     / (nv.nm * c.cn)) DESC, c.cent_id ASC) AS rn
               FROM v CROSS JOIN k$IvfExactRounds c
               JOIN nrm nv ON nv.vec_id = v.vec_id)
     """)
    sb.toString
  }

  /** SQ8 CTEs appended to [[base]] (distinct names): quantize, integer
    * norms, quantized-query set, and the sq8 ranking.
    */
  private val sq8Ctes =
    s""", sq AS (
          SELECT vec_id, list_transform(e, x -> round(x / s * 127)) AS sqe
          FROM (SELECT vec_id, e, greatest(list_max(e), -list_min(e), 1e-30) AS s FROM v)),
        sqn AS (SELECT vec_id,
                  greatest(sqrt(list_sum(list_transform(range(1, 65), i -> sqe[i]*sqe[i]))), 1e-30) AS nm
                FROM sq),
        sqq AS (SELECT vec_id AS query_id, sqe AS sqqe FROM sq WHERE vec_id < $NumQueries),
        sq8 AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT sqq.query_id, s2.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY sqq.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> sqq.sqqe[i]*s2.sqe[i]))
                  / (nq.nm * nv.nm)) DESC, s2.vec_id ASC) AS rank
            FROM sqq JOIN sq s2 ON s2.vec_id <> sqq.query_id
            JOIN sqn nq ON nq.vec_id = sqq.query_id
            JOIN sqn nv ON nv.vec_id = s2.vec_id)
          WHERE rank <= $K)
     """

  /** PQ CTEs appended to [[base]]: codebook = first-16 vectors' 8-dim
    * subvectors, L2-nearest encode (c·c − 2·v·c, ties to the smaller code),
    * the query's per-codeword ADC table, and the integer-stabilized score —
    * per-subspace terms e6-FLOORED to BIGINT before summing (an integer sum
    * is order-independent, so both engines agree at any parallelism), final
    * score over the exact query norm and the reconstructed candidate norm.
    * Every double feeding a comparison is the same sequential list_sum both
    * engines compute, mirroring the Spark plan operation-for-operation.
    */
  private lazy val pqCtes =
    s""", cbk AS (
          SELECT t.m, c.vec_id AS k, c.e[t.m*8+1 : t.m*8+8] AS cw
          FROM (SELECT vec_id, e FROM v WHERE vec_id < 16) c, range(0, 8) t(m)),
        cbn AS MATERIALIZED (SELECT m, k, cw,
                  list_sum(list_transform(range(1, 9), i -> cw[i]*cw[i])) AS cwn2
                FROM cbk),
        pcodes AS MATERIALIZED (
          SELECT vec_id, m, code FROM (
            SELECT v.vec_id, cb.m, cb.k AS code,
              row_number() OVER (PARTITION BY v.vec_id, cb.m ORDER BY
                (cb.cwn2 - 2 * list_sum(list_transform(range(1, 9),
                   i -> v.e[cb.m*8+i]*cb.cw[i]))) ASC, cb.k ASC) AS rn
            FROM v CROSS JOIN cbn cb) WHERE rn = 1),
        pqtab AS MATERIALIZED (
          SELECT q.query_id, cb.m, cb.k AS code,
            CAST(floor(list_sum(list_transform(range(1, 9),
              i -> q.qe[cb.m*8+i]*cb.cw[i])) * 1000000) AS BIGINT) AS qdot_e6,
            CAST(floor(cb.cwn2 * 1000000) AS BIGINT) AS cwn2_e6
          FROM q CROSS JOIN cbn cb),
        pqscore AS (
          SELECT t.query_id, c.vec_id AS neighbor_id,
            CAST(sum(t.qdot_e6) AS DOUBLE)
              / (nq.nm * sqrt(greatest(CAST(sum(t.cwn2_e6) AS DOUBLE) / 1000000.0,
                                       1e-30))) AS score
          FROM pcodes c
          JOIN pqtab t ON t.m = c.m AND t.code = c.code
          JOIN nrm nq ON nq.vec_id = t.query_id
          WHERE c.vec_id <> t.query_id
          GROUP BY t.query_id, c.vec_id, nq.nm),
        pq AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM pqscore) WHERE rank <= $K)
     """

  /** The IVF∘PQ composition CTE: probed-bucket candidates scored by the PQ
    * ADC sum — the same integer-stabilized arithmetic as `pqscore`, with the
    * candidate set cut to the `probes`×`assign` bucket intersection.
    */
  private lazy val ivfPqCte =
    s""", ivfpqscore AS MATERIALIZED (
          SELECT p.query_id, a.vec_id AS neighbor_id,
            CAST(sum(t.qdot_e6) AS DOUBLE)
              / (nq.nm * sqrt(greatest(CAST(sum(t.cwn2_e6) AS DOUBLE) / 1000000.0,
                                       1e-30))) AS score
          FROM probes p
          JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
          JOIN pcodes c ON c.vec_id = a.vec_id
          JOIN pqtab t ON t.query_id = p.query_id AND t.m = c.m AND t.code = c.code
          JOIN nrm nq ON nq.vec_id = p.query_id
          GROUP BY p.query_id, a.vec_id, nq.nm),
        ivfpq AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM ivfpqscore) WHERE rank <= $K)
     """

  /** Retrieve-then-rerank CTEs appended to [[ivfPqCte]]: the ADC candidate
    * pool cut at rank ≤ [[RerankR]] (same (score DESC, id ASC) order as the
    * Spark `TopK` aggregator), then the EXACT cosine — the identical
    * sequential double sum as the `exact` CTE — recomputed for just those
    * pool rows and re-cut at [[K]].
    */
  private lazy val rerankCte =
    s""", ivfpqcand AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM ivfpqscore) WHERE rank <= $RerankR),
        rrscore AS (
          SELECT cd.query_id, cd.neighbor_id,
            (list_sum(list_transform(range(1, 65), i -> q.qe[i]*nv.e[i]))
              / (nq.nm * nn.nm)) AS score
          FROM ivfpqcand cd
          JOIN q ON q.query_id = cd.query_id
          JOIN v nv ON nv.vec_id = cd.neighbor_id
          JOIN nrm nq ON nq.vec_id = cd.query_id
          JOIN nrm nn ON nn.vec_id = cd.neighbor_id),
        reranked AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM rrscore) WHERE rank <= $K)
     """

  /** Residual IVF∘PQ CTEs appended to [[base]] (they need only v/nrm/q/c/
    * assign/probes, not the raw-vector PQ CTEs): per-vector residual
    * `float(double(v_i) − double(c_i))` re-widened to double — the same
    * narrow-then-widen the Spark `zip_with` performs — then codebook from
    * residuals [[NumCentroids]]..[[NumCentroids]]+15 (the centroid prefix
    * residualizes to exact zero), argmin encode, the query/centroid ADC
    * tables with every Σ_m term e6-floored, and the reconstructed-norm
    * score `(dot(q,c) + Σqdot) / (‖q‖·√(‖c‖² + 2Σccw + Σcwn2))`.
    */
  private lazy val residualCtes =
    s""", rres AS (
          SELECT v.vec_id, a.cent_id,
            list_transform(range(1, 65),
              i -> CAST(CAST(v.e[i] - c.ce[i] AS FLOAT) AS DOUBLE)) AS re
          FROM v JOIN assign a ON a.vec_id = v.vec_id
          JOIN c ON c.cent_id = a.cent_id),
        rcbk AS (
          SELECT t.m, CAST(r.vec_id - $NumCentroids AS INT) AS k,
                 r.re[t.m*8+1 : t.m*8+8] AS cw
          FROM (SELECT vec_id, re FROM rres
                WHERE vec_id >= $NumCentroids
                  AND vec_id < ${NumCentroids + 16}) r,
               range(0, 8) t(m)),
        rcbn AS (SELECT m, k, cw,
                   list_sum(list_transform(range(1, 9), i -> cw[i]*cw[i])) AS cwn2
                 FROM rcbk),
        rcodes AS (
          SELECT vec_id, m, code FROM (
            SELECT r.vec_id, cb.m, cb.k AS code,
              row_number() OVER (PARTITION BY r.vec_id, cb.m ORDER BY
                (cb.cwn2 - 2 * list_sum(list_transform(range(1, 9),
                   i -> r.re[cb.m*8+i]*cb.cw[i]))) ASC, cb.k ASC) AS rn
            FROM rres r CROSS JOIN rcbn cb) WHERE rn = 1),
        rqtab AS (
          SELECT q.query_id, cb.m, cb.k AS code,
            CAST(floor(list_sum(list_transform(range(1, 9),
              i -> q.qe[cb.m*8+i]*cb.cw[i])) * 1000000) AS BIGINT) AS qdot_e6,
            CAST(floor(cb.cwn2 * 1000000) AS BIGINT) AS cwn2_e6
          FROM q CROSS JOIN rcbn cb),
        ccw AS (
          SELECT c.cent_id, cb.m, cb.k AS code,
            CAST(floor(list_sum(list_transform(range(1, 9),
              i -> c.ce[cb.m*8+i]*cb.cw[i])) * 1000000) AS BIGINT) AS ccw_e6
          FROM c CROSS JOIN rcbn cb),
        centn2 AS (SELECT cent_id,
            list_sum(list_transform(range(1, 65), i -> ce[i]*ce[i])) AS cn2
          FROM c),
        qcd AS (SELECT q.query_id, c.cent_id,
            list_sum(list_transform(range(1, 65), i -> q.qe[i]*c.ce[i])) AS qcdot
          FROM q CROSS JOIN c),
        rivfpqscore AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
            (qcd.qcdot + CAST(sum(t.qdot_e6) AS DOUBLE) / 1000000.0)
              / (nq.nm * sqrt(greatest(
                  cn.cn2 + 2 * CAST(sum(w.ccw_e6) AS DOUBLE) / 1000000.0
                    + CAST(sum(t.cwn2_e6) AS DOUBLE) / 1000000.0,
                  1e-30))) AS score
          FROM probes p
          JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
          JOIN rcodes rc ON rc.vec_id = a.vec_id
          JOIN rqtab t ON t.query_id = p.query_id AND t.m = rc.m AND t.code = rc.code
          JOIN ccw w ON w.cent_id = a.cent_id AND w.m = rc.m AND w.code = rc.code
          JOIN qcd ON qcd.query_id = p.query_id AND qcd.cent_id = a.cent_id
          JOIN centn2 cn ON cn.cent_id = a.cent_id
          JOIN nrm nq ON nq.vec_id = p.query_id
          GROUP BY p.query_id, a.vec_id, nq.nm, qcd.qcdot, cn.cn2),
        rivfpq AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM rivfpqscore) WHERE rank <= $K)
     """

  /** MMR CTEs appended to [[rerankCte]]: pairwise exact cosines among the
    * pool (`msim`), then the greedy selection as a RECURSIVE CTE — one row
    * per (query, step) carrying the selected-id list; each step picks
    * `max(struct(score, −id, id))` over the unselected pool, where score =
    * `0.7·rel − 0.3·max sim-to-selected` (λ written as the literals 0.7/0.3
    * in both engines — `1 − 0.7` is a DIFFERENT double) and the −id field
    * realizes the smaller-id tie-break. Step 1 is the pure-relevance argmax
    * (row_number seed). The recursion references the working table once and
    * groups by the list-typed selection state — both DuckDB-legal.
    *
    * `msim` and `rrscore` must stay NON-materialized: the recursive body
    * reads them through a correlated scalar subquery / join, and DuckDB
    * evaluates a correlated subquery over a MATERIALIZED CTE inside a
    * recursion wrongly and run-to-run flakily (r15 sweep finding — the
    * selection degraded to the −id tie-break on some runs). Their upstream
    * pool chain (`ivfpqcand` → `ivfpqscore` → `pcodes`) IS materialized,
    * which is where the per-reference re-evaluation cost actually lived.
    */
  private lazy val mmrCte =
    s""", msim AS (
          SELECT a.query_id, a.neighbor_id AS ida, b.neighbor_id AS idb,
            (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
              / (na.nm * nb.nm)) AS sim
          FROM ivfpqcand a JOIN ivfpqcand b
            ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
          JOIN v va ON va.vec_id = a.neighbor_id
          JOIN v vb ON vb.vec_id = b.neighbor_id
          JOIN nrm na ON na.vec_id = a.neighbor_id
          JOIN nrm nb ON nb.vec_id = b.neighbor_id),
        mmr(query_id, step, sel, chosen) AS (
          SELECT query_id, 1, [neighbor_id], neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rn
            FROM rrscore) WHERE rn = 1
          UNION ALL
          SELECT t.query_id, t.step + 1, list_append(t.sel, t.best.a), t.best.a
          FROM (
            SELECT m.query_id, m.step, m.sel,
              max(struct_pack(
                s := 0.7 * r.score - 0.3 * (
                  SELECT max(ms.sim) FROM msim ms
                  WHERE ms.query_id = m.query_id AND ms.ida = r.neighbor_id
                    AND list_contains(m.sel, ms.idb)),
                i := -r.neighbor_id,
                a := r.neighbor_id)) AS best
            FROM mmr m JOIN rrscore r
              ON r.query_id = m.query_id
                AND NOT list_contains(m.sel, r.neighbor_id)
            WHERE m.step < $K
            GROUP BY m.query_id, m.step, m.sel) t)
     """

  /** SRP oracle CTEs: the hyperplane signs, banded signatures, bucket-join
    * candidates, and cosine-verified pairs — the Carter-Wegman plane formula
    * is mirrored verbatim, ±1 products are rounding-free, and the dots are
    * sequential double sums, so signatures (and therefore pairs) are
    * bit-identical to the Spark path.
    */
  private[queries] lazy val srpBase =
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        nrm AS MATERIALIZED (SELECT vec_id,
                  sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                FROM v),
        planes AS (
          SELECT j, list_transform(range(0, 64),
            i -> CASE WHEN ((1103515245*(j*64+i) + 12345) % 2147483647) % 2 = 0
                 THEN 1.0 ELSE -1.0 END) AS pv
          FROM range(0, $SrpBits) t(j)),
        bits AS (
          SELECT v.vec_id, p.j,
            CASE WHEN list_sum(list_transform(range(1, 65), i -> v.e[i]*p.pv[i])) > 0
                 THEN 1 ELSE 0 END AS bit
          FROM v CROSS JOIN planes p),
        sig AS MATERIALIZED (
          SELECT vec_id, j // 4 AS band,
            sum(bit * (CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                       ELSE 8 END))::BIGINT AS sg
          FROM bits GROUP BY 1, 2),
        scand AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM sig x JOIN sig y
            ON x.band = y.band AND x.sg = y.sg AND x.vec_id < y.vec_id),
        srp_pairs AS (
          SELECT c.vec_a, c.vec_b
          FROM scand c
          JOIN v a ON a.vec_id = c.vec_a
          JOIN v b ON b.vec_id = c.vec_b
          JOIN nrm na ON na.vec_id = c.vec_a
          JOIN nrm nb ON nb.vec_id = c.vec_b
          WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                  / (na.nm * nb.nm) >= $NearDupThreshold),
        exact_pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          JOIN nrm na ON na.vec_id = a.vec_id
          JOIN nrm nb ON nb.vec_id = b.vec_id
          WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                  / (na.nm * nb.nm) >= $NearDupThreshold),
        sprobes AS (
          SELECT vec_id, band,
                 unnest([sg, xor(sg, 1), xor(sg, 2), xor(sg, 4), xor(sg, 8)]) AS psig
          FROM sig),
        mcand AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM sprobes x JOIN sig y
            ON x.band = y.band AND x.psig = y.sg AND x.vec_id < y.vec_id),
        srp_mp_pairs AS (
          SELECT c.vec_a, c.vec_b
          FROM mcand c
          JOIN v a ON a.vec_id = c.vec_a
          JOIN v b ON b.vec_id = c.vec_b
          JOIN nrm na ON na.vec_id = c.vec_a
          JOIN nrm nb ON nb.vec_id = c.vec_b
          WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                  / (na.nm * nb.nm) >= $NearDupThreshold)
     """

  /** NN-Descent replayed on [[base]]'s `v`/`nrm`/`assign` CTEs: `seed` =
    * within-cell top-K (same cosine, same (score DESC, id ASC) tie-break as
    * the Spark TopK heap), `und` = forward ∪ reverse edges, `cand` = current
    * edges UNION two-hop paths (SQL UNION dedupes exactly like the Spark
    * `.union(...).distinct()`), `round1` = rescored top-K over candidates.
    *
    * Every stage is `MATERIALIZED` (a DuckDB-only evaluation hint — no
    * semantic change): the recall gate references the chain from three
    * UNION arms plus the n_scored/n_edges scalar counts, and DuckDB's
    * default inlining re-evaluated the scored rounds per reference — 380 s
    * and an OOM under memory pressure at sf0.1; materialized, each stage
    * runs once.
    */
  private val nnGraphCtes =
    s""", massign AS MATERIALIZED (
          SELECT vec_id, cent_id FROM (
            SELECT v.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM v CROSS JOIN c
            JOIN nrm nv ON nv.vec_id = v.vec_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn <= $NnSeedAssign),
        scand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS node_id, b.vec_id AS neighbor_id
                  FROM massign a JOIN massign b
                    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
        seed AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT sc.node_id, sc.neighbor_id,
              row_number() OVER (PARTITION BY sc.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, sc.neighbor_id ASC) AS rank
            FROM scand sc
            JOIN v va ON va.vec_id = sc.node_id
            JOIN v vb ON vb.vec_id = sc.neighbor_id
            JOIN nrm na ON na.vec_id = sc.node_id
            JOIN nrm nb ON nb.vec_id = sc.neighbor_id)
          WHERE rank <= $K),
        und AS MATERIALIZED (SELECT node_id AS u, neighbor_id AS w FROM seed
                UNION ALL SELECT neighbor_id, node_id FROM seed),
        cand AS MATERIALIZED (SELECT node_id, neighbor_id FROM seed
                 UNION
                 SELECT x.u AS node_id, y.w AS neighbor_id
                 FROM und x JOIN und y ON x.w = y.u WHERE x.u <> y.w),
        round1 AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT cd.node_id, cd.neighbor_id,
              row_number() OVER (PARTITION BY cd.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, cd.neighbor_id ASC) AS rank
            FROM cand cd
            JOIN v va ON va.vec_id = cd.node_id
            JOIN v vb ON vb.vec_id = cd.neighbor_id
            JOIN nrm na ON na.vec_id = cd.node_id
            JOIN nrm nb ON nb.vec_id = cd.neighbor_id)
          WHERE rank <= $K)
     """

  /** The descent LADDER's tail (rounds 2 + the node-sample exact baseline) —
    * split from [[nnGraphCtes]] so the graph-search oracles can reuse the
    * round-1 graph without dragging (and paying for) the materialized
    * round-2/sample stages they never read.
    */
  private val nnLadderCtes =
    s""", und2 AS MATERIALIZED (SELECT node_id AS u, neighbor_id AS w FROM round1
                 UNION ALL SELECT neighbor_id, node_id FROM round1),
        cand2 AS MATERIALIZED (SELECT node_id, neighbor_id FROM round1
                  UNION
                  SELECT x.u AS node_id, y.w AS neighbor_id
                  FROM und2 x JOIN und2 y ON x.w = y.u WHERE x.u <> y.w),
        round2 AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT cd.node_id, cd.neighbor_id,
              row_number() OVER (PARTITION BY cd.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, cd.neighbor_id ASC) AS rank
            FROM cand2 cd
            JOIN v va ON va.vec_id = cd.node_id
            JOIN v vb ON vb.vec_id = cd.neighbor_id
            JOIN nrm na ON na.vec_id = cd.node_id
            JOIN nrm nb ON nb.vec_id = cd.neighbor_id)
          WHERE rank <= $K),
        nn_sample AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe FROM v
                      WHERE vec_id % $NnSampleMod = $NnSampleRem),
        nn_exact AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT s.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY s.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> s.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
            FROM nn_sample s JOIN v ON v.vec_id <> s.query_id
            JOIN nrm nq ON nq.vec_id = s.query_id
            JOIN nrm nv ON nv.vec_id = v.vec_id)
          WHERE rank <= $K)
     """

  private val nnCtes = nnGraphCtes + nnLadderCtes

  /** The insert-gate oracle's store-side chain: the [[nnGraphCtes]] build
    * replayed over the corpus MINUS its last [[GsInsertN]] vectors (suffix
    * `_i`), the held-out batch as the query set `qb`, the beam search over
    * the store graph (the parameterized [[gsProbeCtesOver]]/[[gsWaveCtes]]
    * instances), then [[Embeddings.graphInsert]]'s exact replay: back-edge
    * candidates, affected-node re-prune to top-[[K]] by the shared cosine,
    * and the updated edge set (untouched ∪ repruned ∪ inserted). `nbx` is
    * the inserted nodes' exact top-[[K]] over the FULL corpus — the recall
    * baseline both stages are scored against.
    */
  private val gsInsertCtes =
    s""", icut AS (SELECT max(vec_id) - $GsInsertN AS cut FROM v),
        sv AS MATERIALIZED (SELECT vec_id, e FROM v
              WHERE vec_id <= (SELECT cut FROM icut)),
        qb AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe FROM v
              WHERE vec_id > (SELECT cut FROM icut)),
        massign_i AS MATERIALIZED (
          SELECT vec_id, cent_id FROM (
            SELECT sv.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY sv.vec_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> sv.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM sv CROSS JOIN c
            JOIN nrm nv ON nv.vec_id = sv.vec_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn <= $NnSeedAssign),
        scand_i AS MATERIALIZED (
          SELECT DISTINCT a.vec_id AS node_id, b.vec_id AS neighbor_id
          FROM massign_i a JOIN massign_i b
            ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
        seed_i AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT sc.node_id, sc.neighbor_id,
              row_number() OVER (PARTITION BY sc.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, sc.neighbor_id ASC) AS rank
            FROM scand_i sc
            JOIN v va ON va.vec_id = sc.node_id
            JOIN v vb ON vb.vec_id = sc.neighbor_id
            JOIN nrm na ON na.vec_id = sc.node_id
            JOIN nrm nb ON nb.vec_id = sc.neighbor_id)
          WHERE rank <= $K),
        und_i AS MATERIALIZED (SELECT node_id AS u, neighbor_id AS w FROM seed_i
                 UNION ALL SELECT neighbor_id, node_id FROM seed_i),
        cand_i AS MATERIALIZED (SELECT node_id, neighbor_id FROM seed_i
                  UNION
                  SELECT x.u AS node_id, y.w AS neighbor_id
                  FROM und_i x JOIN und_i y ON x.w = y.u WHERE x.u <> y.w),
        round1_i AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT cd.node_id, cd.neighbor_id,
              row_number() OVER (PARTITION BY cd.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, cd.neighbor_id ASC) AS rank
            FROM cand_i cd
            JOIN v va ON va.vec_id = cd.node_id
            JOIN v vb ON vb.vec_id = cd.neighbor_id
            JOIN nrm na ON na.vec_id = cd.node_id
            JOIN nrm nb ON nb.vec_id = cd.neighbor_id)
          WHERE rank <= $K)
        ${gsProbeCtesOver("qb", "_i")}
        ${gsWaveCtes(GsBeam, "_i", "round1_i", "gs0_i", "qb")},
        ${gsTopCte("out_i", "vis2_i", K.toString)},
        backc AS MATERIALIZED (SELECT neighbor_id AS node_id,
                 query_id AS cand FROM out_i),
        affected AS MATERIALIZED (SELECT DISTINCT node_id FROM backc),
        resc AS (SELECT g.node_id, g.neighbor_id
                 FROM round1_i g JOIN affected a USING (node_id)
                 UNION
                 SELECT node_id, cand AS neighbor_id FROM backc),
        reprune AS MATERIALIZED (
          SELECT node_id, neighbor_id FROM (
            SELECT rc.node_id, rc.neighbor_id,
              row_number() OVER (PARTITION BY rc.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, rc.neighbor_id ASC) AS rank
            FROM resc rc
            JOIN v va ON va.vec_id = rc.node_id
            JOIN v vb ON vb.vec_id = rc.neighbor_id
            JOIN nrm na ON na.vec_id = rc.node_id
            JOIN nrm nb ON nb.vec_id = rc.neighbor_id)
          WHERE rank <= $K),
        upedges AS MATERIALIZED (
          SELECT node_id, neighbor_id FROM round1_i
          WHERE node_id NOT IN (SELECT node_id FROM affected)
          UNION ALL SELECT node_id, neighbor_id FROM reprune
          UNION ALL SELECT query_id AS node_id, neighbor_id FROM out_i),
        nbx AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT qq.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY qq.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> qq.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
            FROM qb qq JOIN v ON v.vec_id <> qq.query_id
            JOIN nrm nq ON nq.vec_id = qq.query_id
            JOIN nrm nv ON nv.vec_id = v.vec_id)
          WHERE rank <= $K)
        ${gsProbeCtesOver("q", "_m")}
        ${gsWaveCtes(GsBeam, "_m", "upedges", "gs0_m", "q")},
        ${gsTopCte("serve_m", "vis2_m", K.toString)}"""

  /** The delete-gate oracle's chain: the deterministic tombstone set, the
    * live corpus and the exact baseline over it, then the three stages —
    * the full-graph search's visited set anti-filtered
    * ([[Embeddings.graphSearchWithCostFrom]]'s tombstone anti-join replayed
    * over `vis2`),
    * [[Embeddings.graphDelete]]'s connect-around compaction replayed edge
    * for edge (kept minus broken, patch candidates through the deleted
    * node's list, re-prune by the shared cosine) with a serve over the
    * compacted graph, and the [[nnGraphCtes]] build replayed over the live
    * corpus (suffix `_r`) with its own serve. Both extra wave chains reuse
    * the beam-independent `gs0` probe (live centroids — the tombstone floor
    * keeps the prefix out of the set).
    */
  private val gsDeleteCtes =
    s""", tombd AS MATERIALIZED (SELECT vec_id FROM v
          WHERE vec_id % $TombMod = $TombRem
            AND vec_id >= ${math.max(NumCentroids, NumQueries)}),
        lv AS MATERIALIZED (SELECT vec_id, e FROM v
          WHERE vec_id NOT IN (SELECT vec_id FROM tombd)),
        dexact AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT qq.query_id, lv.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY qq.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> qq.qe[i]*lv.e[i]))
                  / (nq.nm * nv.nm)) DESC, lv.vec_id ASC) AS rank
            FROM q qq JOIN lv ON lv.vec_id <> qq.query_id
            JOIN nrm nq ON nq.vec_id = qq.query_id
            JOIN nrm nv ON nv.vec_id = lv.vec_id)
          WHERE rank <= $K),
        vis2x AS (SELECT query_id, neighbor_id, score FROM vis2
          WHERE neighbor_id NOT IN (SELECT vec_id FROM tombd)),
        ${gsTopCte("tomb_serve", "vis2x", K.toString)},
        keptd AS MATERIALIZED (SELECT node_id, neighbor_id FROM round1
          WHERE node_id NOT IN (SELECT vec_id FROM tombd)),
        brokend AS MATERIALIZED (SELECT node_id, neighbor_id FROM keptd
          WHERE neighbor_id IN (SELECT vec_id FROM tombd)),
        affd AS MATERIALIZED (SELECT DISTINCT node_id FROM brokend),
        candd AS MATERIALIZED (
          SELECT DISTINCT node_id, neighbor_id FROM (
            SELECT k.node_id, k.neighbor_id FROM keptd k
              JOIN affd a USING (node_id)
            UNION ALL
            SELECT b.node_id, g.neighbor_id FROM brokend b
              JOIN round1 g ON g.node_id = b.neighbor_id)
          WHERE neighbor_id NOT IN (SELECT vec_id FROM tombd)
            AND node_id <> neighbor_id),
        repaird AS MATERIALIZED (
          SELECT node_id, neighbor_id FROM (
            SELECT cd.node_id, cd.neighbor_id,
              row_number() OVER (PARTITION BY cd.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, cd.neighbor_id ASC) AS rank
            FROM candd cd
            JOIN v va ON va.vec_id = cd.node_id
            JOIN v vb ON vb.vec_id = cd.neighbor_id
            JOIN nrm na ON na.vec_id = cd.node_id
            JOIN nrm nb ON nb.vec_id = cd.neighbor_id)
          WHERE rank <= $K),
        compd AS MATERIALIZED (
          SELECT node_id, neighbor_id FROM keptd
          WHERE node_id NOT IN (SELECT node_id FROM affd)
          UNION ALL SELECT node_id, neighbor_id FROM repaird)
        ${gsWaveCtes(GsBeam, "_d", "compd", "gs0", "q")},
        ${gsTopCte("serve_d", "vis2_d", K.toString)},
        massign_r AS MATERIALIZED (
          SELECT vec_id, cent_id FROM (
            SELECT lv.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY lv.vec_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> lv.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM lv CROSS JOIN c
            JOIN nrm nv ON nv.vec_id = lv.vec_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn <= $NnSeedAssign),
        scand_r AS MATERIALIZED (
          SELECT DISTINCT a.vec_id AS node_id, b.vec_id AS neighbor_id
          FROM massign_r a JOIN massign_r b
            ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
        seed_r AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT sc.node_id, sc.neighbor_id,
              row_number() OVER (PARTITION BY sc.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, sc.neighbor_id ASC) AS rank
            FROM scand_r sc
            JOIN v va ON va.vec_id = sc.node_id
            JOIN v vb ON vb.vec_id = sc.neighbor_id
            JOIN nrm na ON na.vec_id = sc.node_id
            JOIN nrm nb ON nb.vec_id = sc.neighbor_id)
          WHERE rank <= $K),
        und_r AS MATERIALIZED (SELECT node_id AS u, neighbor_id AS w FROM seed_r
                 UNION ALL SELECT neighbor_id, node_id FROM seed_r),
        cand_r AS MATERIALIZED (SELECT node_id, neighbor_id FROM seed_r
                  UNION
                  SELECT x.u AS node_id, y.w AS neighbor_id
                  FROM und_r x JOIN und_r y ON x.w = y.u WHERE x.u <> y.w),
        round1_r AS MATERIALIZED (
          SELECT node_id, neighbor_id, rank FROM (
            SELECT cd.node_id, cd.neighbor_id,
              row_number() OVER (PARTITION BY cd.node_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> va.e[i]*vb.e[i]))
                  / (na.nm * nb.nm)) DESC, cd.neighbor_id ASC) AS rank
            FROM cand_r cd
            JOIN v va ON va.vec_id = cd.node_id
            JOIN v vb ON vb.vec_id = cd.neighbor_id
            JOIN nrm na ON na.vec_id = cd.node_id
            JOIN nrm nb ON nb.vec_id = cd.neighbor_id)
          WHERE rank <= $K)
        ${gsWaveCtes(GsBeam, "_r", "round1_r", "gs0", "q")},
        ${gsTopCte("serve_r", "vis2_r", K.toString)}"""

  /** One selectivity rung of the crossover oracle (`label < s`, suffix
    * `_x$s`): the `q_ann_filtered_sweep` replay over this rung's subset —
    * exact baseline, post-filtered probe candidates against the shared
    * `fpr_x`/`fcfg_x` probe ranking, per-depth top-[[K]]/hits/candidate
    * counts. The pre-filter arm needs no CTEs of its own: its hits/total
    * ARE the baseline's row count and its cost is scalar arithmetic over
    * `flbl_x$s`.
    */
  private def xoverSelCtes(s: Int): String =
    s""", flbl_x$s AS (SELECT vec_id FROM embeddings WHERE label < $s),
        fex_x$s AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> q.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
            FROM q JOIN v ON v.vec_id <> q.query_id
            JOIN flbl_x$s fl ON fl.vec_id = v.vec_id
            JOIN nrm nq ON nq.vec_id = q.query_id
            JOIN nrm nv ON nv.vec_id = v.vec_id)
          WHERE rank <= $K),
        fcand_x$s AS MATERIALIZED (
          SELECT p.query_id, p.c_rank, a.vec_id AS neighbor_id,
            (list_sum(list_transform(range(1, 65), i -> p.qe[i]*v.e[i]))
              / (nq.nm * nv.nm)) AS score
          FROM fpr_x p
          JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
          JOIN flbl_x$s fl ON fl.vec_id = a.vec_id
          JOIN v ON v.vec_id = a.vec_id
          JOIN nrm nq ON nq.vec_id = p.query_id
          JOIN nrm nv ON nv.vec_id = a.vec_id),
        fswept_x$s AS (
          SELECT fcfg_x.nprobe, cd.query_id, cd.neighbor_id, cd.score
          FROM fcand_x$s cd JOIN fcfg_x ON cd.c_rank <= fcfg_x.nprobe),
        fivf_x$s AS (
          SELECT nprobe, query_id, neighbor_id FROM (
            SELECT nprobe, query_id, neighbor_id,
              row_number() OVER (PARTITION BY nprobe, query_id
                ORDER BY score DESC, neighbor_id ASC) AS rnk
            FROM fswept_x$s)
          WHERE rnk <= $K),
        fexs_x$s AS (SELECT fcfg_x.nprobe, e.query_id, e.neighbor_id
                     FROM fex_x$s e CROSS JOIN fcfg_x),
        fh_x$s AS (
          SELECT fexs_x$s.nprobe, count(i.neighbor_id) AS hits,
                 count(*) AS total
          FROM fexs_x$s LEFT JOIN fivf_x$s i
            ON i.nprobe = fexs_x$s.nprobe AND i.query_id = fexs_x$s.query_id
               AND i.neighbor_id = fexs_x$s.neighbor_id
          GROUP BY 1),
        fncand_x$s AS (SELECT nprobe, count(*) AS n_candidates
                       FROM fswept_x$s GROUP BY 1)"""

  /** One scored-expansion block of the beam-search oracle: score `src`'s
    * (query_id, neighbor_id) pairs with the shared sequential-double cosine
    * (the exact arithmetic the score joins of `Embeddings.graphSearchSeed`
    * and `Embeddings.graphSearchWaves` run, so stored scores are
    * bit-identical across engines).
    */
  private def gsScoreCte(name: String, src: String,
                         qtab: String = "q"): String =
    s"""$name AS MATERIALIZED (
          SELECT p.query_id, p.neighbor_id,
            (list_sum(list_transform(range(1, 65), i -> qq.qe[i]*v.e[i]))
              / (nq.nm * nv.nm)) AS score
          FROM $src p
          JOIN $qtab qq ON qq.query_id = p.query_id
          JOIN v ON v.vec_id = p.neighbor_id
          JOIN nrm nq ON nq.vec_id = p.query_id
          JOIN nrm nv ON nv.vec_id = p.neighbor_id)"""

  /** Per-query top-`lim` of a scored visited set by (score DESC, id ASC) —
    * the oracle twin of the TopK heap's ordering.
    */
  private def gsTopCte(name: String, src: String, lim: String): String =
    s"""$name AS (SELECT query_id, neighbor_id, rn FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id ASC) AS rn
          FROM $src) WHERE rn <= $lim)"""

  /** The beam search replayed wave by wave on [[base]]'s `q`/`v` and
    * [[nnGraphCtes]]' `round1` graph: `gprobe` = each query's [[NProbe]]
    * nearest centroids (self excluded before ranking), `gs0` their exact
    * scores, then per wave a beam cut, a frontier⋈edges expansion with a
    * NOT-EXISTS visited guard (the anti-join), and a scored union.
    */
  /** The beam-independent prefix of the search replay: each query's
    * [[NProbe]] nearest centroids (self excluded before ranking) and their
    * exact scores — shared by every beam width in the sweep.
    */
  private def gsProbeCtesOver(qtab: String, sfx: String): String =
    s""", gprobe$sfx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT qq.query_id, c.cent_id AS neighbor_id,
              row_number() OVER (PARTITION BY qq.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> qq.qe[i]*c.ce[i]))
                  / (nq.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM $qtab qq JOIN c ON c.cent_id <> qq.query_id
            JOIN nrm nq ON nq.vec_id = qq.query_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn <= $NProbe),
        ${gsScoreCte(s"gs0$sfx", s"gprobe$sfx", qtab)}"""

  private val gsProbeCtes = gsProbeCtesOver("q", "")

  /** The per-beam wave chain (beam cut, frontier expansion with the
    * NOT-EXISTS visited guard, scored union — [[GsRounds]] waves), CTE
    * names suffixed so several widths coexist in one sweep oracle. The
    * default-width instance uses the empty suffix, so `q_graph_search_indexed`'s
    * oracle text is exactly the pre-sweep form.
    */
  private def gsWaveCtes(beam: Int, sfx: String, graph: String = "round1",
                         seed: String = "gs0", qtab: String = "q"): String =
    s""", ${gsTopCte(s"beam0$sfx", seed, beam.toString)},
        exp1$sfx AS MATERIALIZED (
          SELECT DISTINCT b.query_id, g.neighbor_id
          FROM beam0$sfx b JOIN $graph g ON g.node_id = b.neighbor_id
          WHERE g.neighbor_id <> b.query_id
            AND NOT EXISTS (SELECT 1 FROM $seed s
                            WHERE s.query_id = b.query_id
                              AND s.neighbor_id = g.neighbor_id)),
        ${gsScoreCte(s"sc1$sfx", s"exp1$sfx", qtab)},
        vis1$sfx AS MATERIALIZED (
          SELECT query_id, neighbor_id, score FROM $seed
          UNION ALL SELECT query_id, neighbor_id, score FROM sc1$sfx),
        ${gsTopCte(s"beam1$sfx", s"vis1$sfx", beam.toString)},
        exp2$sfx AS MATERIALIZED (
          SELECT DISTINCT b.query_id, g.neighbor_id
          FROM beam1$sfx b JOIN $graph g ON g.node_id = b.neighbor_id
          WHERE g.neighbor_id <> b.query_id
            AND NOT EXISTS (SELECT 1 FROM vis1$sfx s
                            WHERE s.query_id = b.query_id
                              AND s.neighbor_id = g.neighbor_id)),
        ${gsScoreCte(s"sc2$sfx", s"exp2$sfx", qtab)},
        vis2$sfx AS MATERIALIZED (
          SELECT query_id, neighbor_id, score FROM vis1$sfx
          UNION ALL SELECT query_id, neighbor_id, score FROM sc2$sfx)"""

  private val gsCtes = gsProbeCtes + gsWaveCtes(GsBeam, "")

  /** The binary-quantization serve replayed on [[base]]'s `v`/`q`: the
    * Carter-Wegman plane signs (the `srpBase` formula verbatim — ±1
    * products are rounding-free, so bits are bit-identical), two-halves
    * packing with every shift below 2³² (overflow-free in both engines),
    * integer Hamming ranking, exact-cosine rerank. `bqpk` is materialized —
    * the pool self-join reads it twice.
    */
  private lazy val bqCtes =
    s""", bqplanes AS (
          SELECT j, list_transform(range(0, 64),
            i -> CASE WHEN ((1103515245*(j*64+i) + 12345) % 2147483647) % 2 = 0
                 THEN 1.0 ELSE -1.0 END) AS pv
          FROM range(0, 64) t(j)),
        bqbits AS (
          SELECT v.vec_id, p.j,
            CASE WHEN list_sum(list_transform(range(1, 65), i -> v.e[i]*p.pv[i])) > 0
                 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          FROM v CROSS JOIN bqplanes p),
        bqpk AS MATERIALIZED (
          SELECT vec_id,
            CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS lo,
            CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT) AS hi
          FROM bqbits GROUP BY 1),
        bqpool AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q2.vec_id AS query_id, p.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q2.vec_id ORDER BY
                (bit_count(xor(p.lo, q2.lo)) + bit_count(xor(p.hi, q2.hi))) ASC,
                p.vec_id ASC) AS rn
            FROM bqpk q2 JOIN bqpk p ON p.vec_id <> q2.vec_id
            WHERE q2.vec_id < $NumQueries)
          WHERE rn <= $BqServeR),
        bqrr AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, p.neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> q.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, p.neighbor_id ASC) AS rank
            FROM bqpool p
            JOIN q ON q.query_id = p.query_id
            JOIN v ON v.vec_id = p.neighbor_id
            JOIN nrm nq ON nq.vec_id = p.query_id
            JOIN nrm nv ON nv.vec_id = p.neighbor_id)
          WHERE rank <= $K)"""

  /** Per-tier Matryoshka rankings on [[base]]'s `v`/`q`: the same sequential
    * prefix dot and prefix norms (a/(b·c) grouping) as the Spark slice form.
    */
  private lazy val mrlCtes: String = MrlDims.map { d =>
    s""", mrl$d AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                (list_sum(list_transform(range(1, ${d + 1}), i -> q.qe[i]*v.e[i]))
                  / (sqrt(list_sum(list_transform(range(1, ${d + 1}), i -> q.qe[i]*q.qe[i])))
                    * sqrt(list_sum(list_transform(range(1, ${d + 1}), i -> v.e[i]*v.e[i]))))) DESC,
                v.vec_id ASC) AS rank
            FROM q JOIN v ON v.vec_id <> q.query_id)
          WHERE rank <= $K)"""
  }.mkString

  /** Two-stage Matryoshka serve replayed: prefix-[[MrlServeDim]] pool of
    * [[MrlServeR]], full-dim rerank cut at [[K]].
    */
  private lazy val mrlServeCtes: String =
    s""", mrlpool AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                (list_sum(list_transform(range(1, ${MrlServeDim + 1}), i -> q.qe[i]*v.e[i]))
                  / (sqrt(list_sum(list_transform(range(1, ${MrlServeDim + 1}), i -> q.qe[i]*q.qe[i])))
                    * sqrt(list_sum(list_transform(range(1, ${MrlServeDim + 1}), i -> v.e[i]*v.e[i]))))) DESC,
                v.vec_id ASC) AS rank
            FROM q JOIN v ON v.vec_id <> q.query_id)
          WHERE rank <= $MrlServeR),
        mrlrr AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, p.neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> q.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, p.neighbor_id ASC) AS rank
            FROM mrlpool p
            JOIN q ON q.query_id = p.query_id
            JOIN v ON v.vec_id = p.neighbor_id
            JOIN nrm nq ON nq.vec_id = p.query_id
            JOIN nrm nv ON nv.vec_id = p.neighbor_id)
          WHERE rank <= $K)"""

  /** A node_id-keyed graph CTE (with an optional WHERE) as the (query_id,
    * neighbor_id) relation [[Embeddings.knnRecallTotalsSql]] joins.
    */
  private def byNode(from: String): String =
    s"(SELECT node_id AS query_id, neighbor_id FROM $from)"

  val oracleSql: Map[String, String] =
    RecallTwins.knnOracle(knnTwins) ++ RecallTwins.pairOracle(pairTwins) ++ Map(
    "q_mrl_rerank" -> (base + mrlServeCtes +
      "SELECT query_id, neighbor_id, rank FROM mrlrr"),
    "q_mrl_rerank_recall" -> (base + mrlServeCtes + knnRecallTotalsSql("exact", "mrlrr")),
    "q_mrl_recall" -> (base + mrlCtes + MrlDims.map(d =>
      knnRecallTotalsSql("exact", s"mrl$d", Some("dim" -> d.toLong))).mkString(" UNION ALL ")),
    "q_bq_rerank" -> (base + bqCtes +
      "SELECT query_id, neighbor_id, rank FROM bqrr"),
    "q_bq_recall" -> (base + bqCtes + knnRecallTotalsSql("exact", "bqrr")),
    "q_graph_sweep" -> (base + nnGraphCtes + gsProbeCtes +
      GsSweepBeams.map(b => gsWaveCtes(b, s"_b$b")).mkString +
      GsSweepBeams.map { b =>
        s""", ${gsTopCte(s"top_b$b", s"vis2_b$b", K.toString)}"""
      }.mkString + " " +
      GsSweepBeams.map { b =>
        knnRecallTotalsSql("exact", s"top_b$b", Some("beam" -> b.toLong),
          Seq("n_scored" -> Seq("gs0", s"sc1_b$b", s"sc2_b$b")))
      }.mkString(" UNION ALL ")),
    "q_graph_insert_recall" -> (base + nnGraphCtes + gsInsertCtes + " " + Seq(
      knnRecallTotalsSql("nbx", byNode("upedges WHERE node_id > (SELECT cut FROM icut)"),
        Some("stage" -> "insert"), Seq("n_edges" -> Seq("upedges"))),
      knnRecallTotalsSql("nbx", byNode("round1 WHERE node_id > (SELECT cut FROM icut)"),
        Some("stage" -> "rebuild"), Seq("n_edges" -> Seq("round1"))),
      knnRecallTotalsSql("exact", "serve_m", Some("stage" -> "serve"),
        Seq("n_edges" -> Seq("upedges")))).mkString(" UNION ALL ")),
    "q_graph_delete_recall" -> (base + nnGraphCtes + gsCtes + gsDeleteCtes + " " +
      Seq(("tombstoned", "tomb_serve", "", "round1"),
          ("compacted", "serve_d", "_d", "compd"),
          ("rebuilt", "serve_r", "_r", "round1_r")).map { case (stage, served, sfx, g) =>
        knnRecallTotalsSql("dexact", served, Some("stage" -> stage),
          Seq("n_scored" -> Seq("gs0", s"sc1$sfx", s"sc2$sfx"), "n_edges" -> Seq(g)))
      }.mkString(" UNION ALL ")),
    "q_graph_search_indexed" -> (base + nnGraphCtes + gsCtes +
      s""", ${gsTopCte("gsfinal", "vis2", K.toString)}
         SELECT query_id, neighbor_id, rn::BIGINT AS rank FROM gsfinal"""),
    "q_graph_search_recall" -> {
      val stages = Seq(("seed", "gs0", "gs0"), ("round1", "vis1", "sc1"),
        ("round2", "vis2", "sc2"))
      base + nnGraphCtes + gsCtes + stages.map { case (stage, vis, _) =>
        s", ${gsTopCte(s"top_$stage", vis, K.toString)}"
      }.mkString + " " + stages.map { case (stage, _, scored) =>
        knnRecallTotalsSql("exact", s"top_$stage", Some("stage" -> stage),
          Seq("n_scored" -> Seq(scored)))
      }.mkString(" UNION ALL ")
    },
    "q_nndescent_graph" -> (base + nnCtes +
      "SELECT node_id, neighbor_id, rank::BIGINT AS rank FROM round1"),
    "q_nndescent_recall" -> (base + nnCtes +
      Seq(("seed", "seed", "scand"), ("round1", "round1", "cand"),
          ("round2", "round2", "cand2")).map { case (stage, g, cands) =>
        knnRecallTotalsSql("nn_exact", byNode(g), Some("stage" -> stage),
          Seq("n_scored" -> Seq(cands), "n_edges" -> Seq(g)))
      }.mkString(" UNION ALL ")),
    "q_srp_stats" -> (srpBase +
      """SELECT band, sg AS sig, count(*)::BIGINT AS n_vecs,
                (count(*) * 1000000) // (SELECT count(*) FROM v) AS share_e6
         FROM sig GROUP BY band, sg"""),
    // the same max-cosine/lowest-id assignment rule as `base`'s assign CTE,
    // widened with the winning score so the bucket rollup can price
    // cohesion; e6-floored to integers before any sum
    "q_ivf_quality" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          nrm AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                  FROM v),
          c AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < $NumCentroids),
          scored AS (
            SELECT v.vec_id, c.cent_id,
              (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                / (nv.nm * nc.nm)) AS score,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM v CROSS JOIN c
            JOIN nrm nv ON nv.vec_id = v.vec_id
            JOIN nrm nc ON nc.vec_id = c.cent_id),
          best AS (SELECT cent_id, floor(score * 1e6)::BIGINT AS cos_e6
                   FROM scored WHERE rn = 1)
          SELECT cent_id, count(*)::BIGINT AS n_vecs,
                 sum(cos_e6)::BIGINT AS sum_cos_e6, min(cos_e6) AS min_cos_e6
          FROM best GROUP BY 1""",
    // q_ivf_quality's report over TRAINED centroids: the unrolled Lloyd
    // rounds, then the same e6-floored cohesion rollup on the final
    // assignment
    "q_ivf_conv_quality" -> (ivfConvCtes +
      """SELECT cent_id, count(*)::BIGINT AS n_vecs,
                sum(cos_e6)::BIGINT AS sum_cos_e6, min(cos_e6) AS min_cos_e6
         FROM (SELECT cent_id, floor(score * 1e6)::BIGINT AS cos_e6
               FROM af WHERE rn = 1)
         GROUP BY 1"""),
    // q_ann_recall's report under the trained centroids: exact top-K vs the
    // nProbe-probed buckets of the FINAL assignment
    "q_ivf_conv_recall" -> (ivfConvCtes +
      s""", q2 AS (SELECT vec_id AS query_id, e AS qe FROM v
                   WHERE vec_id < $NumQueries),
          ex2 AS (SELECT query_id, neighbor_id FROM (
              SELECT q2.query_id, v.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q2.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> q2.qe[i]*v.e[i]))
                    / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
              FROM q2 JOIN v ON v.vec_id <> q2.query_id
              JOIN nrm nq ON nq.vec_id = q2.query_id
              JOIN nrm nv ON nv.vec_id = v.vec_id) WHERE rank <= $K),
          pr2 AS (SELECT query_id, qe, cent_id FROM (
              SELECT q2.query_id, q2.qe, c.cent_id,
                row_number() OVER (PARTITION BY q2.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> q2.qe[i]*c.ce[i]))
                    / (nq.nm * c.cn)) DESC, c.cent_id ASC) AS rn
              FROM q2 CROSS JOIN k$IvfExactRounds c
              JOIN nrm nq ON nq.vec_id = q2.query_id) WHERE rn <= $NProbe),
          ap2 AS (SELECT query_id, neighbor_id FROM (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY p.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> p.qe[i]*v.e[i]))
                    / (nq.nm * nv.nm)) DESC, a.vec_id ASC) AS rank
              FROM pr2 p
              JOIN (SELECT vec_id, cent_id FROM af WHERE rn = 1) a
                ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
              JOIN v ON v.vec_id = a.vec_id
              JOIN nrm nq ON nq.vec_id = p.query_id
              JOIN nrm nv ON nv.vec_id = a.vec_id) WHERE rank <= $K)
          """ + RecallTwins.knnRecallSql("ex2", "ap2")),
    // len()-driven index range (not the fixed 64) so the dim audit and the
    // norm agree even on a ragged table; list_sum(list_transform(...))
    // evaluates sequentially left-to-right, matching the Spark expression
    // bit-for-bit; every reported stat is integer so the sums are
    // order-independent
    "q_embed_stats" ->
      """WITH v AS (SELECT label::BIGINT AS label,
                embedding::DOUBLE[] AS e,
                len(embedding)::BIGINT AS dim
              FROM embeddings),
          n AS (SELECT label, dim,
                floor(sqrt(list_sum(list_transform(range(1, len(e)::INT + 1),
                                                   i -> e[i]*e[i]))) * 1e6)::BIGINT AS norm_e6
              FROM v)
          SELECT label, count(*)::BIGINT AS n_vecs,
                 min(dim) AS dim_min, max(dim) AS dim_max,
                 sum(CASE WHEN norm_e6 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
                 min(norm_e6) AS norm_min_e6, max(norm_e6) AS norm_max_e6,
                 sum(norm_e6)::BIGINT AS norm_sum_e6
          FROM n GROUP BY 1""",
    "q_retrieval_mrr" -> (base +
      """SELECT e.query_id,
                coalesce(1000000 // a.rank, 0)::BIGINT AS rr_e6
         FROM (SELECT query_id, neighbor_id FROM exact WHERE rank = 1) e
         LEFT JOIN approx a
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"""),
    "q_ivf_stats" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          nrm AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                  FROM v),
          c AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < $NumCentroids),
          assign AS (
            SELECT vec_id, cent_id FROM (
              SELECT v.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                    / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
              FROM v CROSS JOIN c
              JOIN nrm nv ON nv.vec_id = v.vec_id
              JOIN nrm nc ON nc.vec_id = c.cent_id)
            WHERE rn = 1),
          b AS (SELECT cent_id, count(*) AS n_vecs FROM assign GROUP BY 1),
          tot AS (SELECT count(*) AS n_total FROM assign)
          SELECT cent_id, n_vecs, (n_vecs * 1000000) // n_total AS share_e6
          FROM b, tot""",
    "q_knn_topk" -> (base + "SELECT query_id, neighbor_id, rank FROM exact"),
    // the exact CTE with the label-disagreement predicate folded in — same
    // sequential double dots, same (score DESC, id ASC) determinism
    "q_hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
          nrm AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                  FROM v),
          q AS (SELECT vec_id AS query_id, label AS ql, e AS qe
                FROM v WHERE vec_id < $NumQueries)
          SELECT query_id, neighbor_id, rank FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> q.qe[i]*v.e[i]))
                  / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
            FROM q JOIN v ON v.vec_id <> q.query_id AND v.label <> q.ql
            JOIN nrm nq ON nq.vec_id = q.query_id
            JOIN nrm nv ON nv.vec_id = v.vec_id)
          WHERE rank <= $K""",
    "q_hybrid_rrf" -> (base +
      s""", sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)),
          lexinter AS (
            SELECT a.doc_id AS query_id, b.doc_id AS cand_id, count(*) AS inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < $NumQueries AND b.doc_id <> a.doc_id
            GROUP BY 1, 2),
          lex AS (
            SELECT query_id, cand_id, r_lex FROM (
              SELECT query_id, cand_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY inter DESC, cand_id ASC) AS r_lex
              FROM lexinter)
            WHERE r_lex <= $K),
          sem AS (SELECT query_id, neighbor_id AS cand_id, rank AS r_sem FROM exact),
          fused AS (
            SELECT coalesce(l.query_id, s.query_id) AS query_id,
                   coalesce(l.cand_id, s.cand_id) AS cand_id,
                   (coalesce(1000000 // ($RrfK + s.r_sem), 0)
                    + coalesce(1000000 // ($RrfK + l.r_lex), 0))::BIGINT AS rrf_e6
            FROM lex l FULL JOIN sem s
              ON l.query_id = s.query_id AND l.cand_id = s.cand_id)
          SELECT query_id, cand_id, rrf_e6, rank FROM (
            SELECT query_id, cand_id, rrf_e6,
              row_number() OVER (PARTITION BY query_id
                ORDER BY rrf_e6 DESC, cand_id ASC) AS rank
            FROM fused)
          WHERE rank <= $K"""),
    // int8 scalar quantization: round(x/s*127) with s = max|x| per vector;
    // quantized dots/norms are exact integers, so no sequential-sum caveat
    // identical contract to q_ivfpq_topk, served from the persisted index
    // artifact
    "q_ivfpq_topk_indexed" -> (base + pqCtes + ivfPqCte +
      "SELECT query_id, neighbor_id, rank FROM ivfpq"),
    // greedy diversified selection over the same pool — the recursion is the
    // oracle's sequential twin of the per-group flatMapGroups loop. DuckDB's
    // WITH RECURSIVE needs the RECURSIVE keyword on the shared WITH, hence
    // the replace.
    "q_mmr_topk" -> (base + pqCtes + ivfPqCte + rerankCte + mmrCte +
      "SELECT query_id, chosen AS neighbor_id, step::BIGINT AS step FROM mmr")
      .replaceFirst("WITH ", "WITH RECURSIVE "),
    // both 10-of-50 selections priced on the same pool: rel from rrscore
    // (every member is a pool row), redundancy from msim pairwise cosines,
    // e6-floored so the sums are order-independent
    "q_mmr_diversity" -> (base + pqCtes + ivfPqCte + rerankCte + mmrCte +
      s""", selu AS (
            SELECT query_id, neighbor_id, 'topk' AS sel FROM reranked
            UNION ALL
            SELECT query_id, chosen AS neighbor_id, 'mmr' AS sel FROM mmr),
          relm AS (
            SELECT s.query_id, s.sel,
              sum(CAST(floor(r.score * 1000000) AS BIGINT))::BIGINT AS rel_e6
            FROM selu s
            JOIN rrscore r ON r.query_id = s.query_id
              AND r.neighbor_id = s.neighbor_id
            GROUP BY 1, 2),
          prm AS (
            SELECT a.query_id, a.sel,
              sum(CAST(floor(m.sim * 1000000) AS BIGINT))::BIGINT AS pair_sim_e6
            FROM selu a
            JOIN selu b ON b.query_id = a.query_id AND b.sel = a.sel
              AND a.neighbor_id < b.neighbor_id
            JOIN msim m ON m.query_id = a.query_id
              AND m.ida = a.neighbor_id AND m.idb = b.neighbor_id
            GROUP BY 1, 2)
          SELECT r.query_id, r.sel, r.rel_e6, p.pair_sim_e6
          FROM relm r JOIN prm p USING (query_id, sel)""")
      .replaceFirst("WITH ", "WITH RECURSIVE "),
    "q_decon_semantic" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          nrm AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                  FROM v)
          SELECT t.vec_id AS train_id, b.vec_id AS eval_id
          FROM v t JOIN v b
            ON t.vec_id >= $NumQueries AND b.vec_id < $NumQueries
          JOIN nrm nt ON nt.vec_id = t.vec_id
          JOIN nrm nb ON nb.vec_id = b.vec_id
          WHERE list_sum(list_transform(range(1, 65), i -> t.e[i]*b.e[i]))
                  / (nt.nm * nb.nm) >= $NearDupThreshold""",
    // the `probes`/`approx` CTEs re-derived at depth max(IvfSweepProbes)
    // with the bucket rank carried, swept by one config join; the final
    // LEFT JOIN re-attach keeps explicit zero rows on an empty table
    "q_ann_filtered_sweep" -> (base +
      s""", flbl AS (SELECT vec_id FROM embeddings WHERE label = $FilterLabel),
          fex AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, v.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> q.qe[i]*v.e[i]))
                    / (nq.nm * nv.nm)) DESC, v.vec_id ASC) AS rank
              FROM q JOIN v ON v.vec_id <> q.query_id
              JOIN flbl fl ON fl.vec_id = v.vec_id
              JOIN nrm nq ON nq.vec_id = q.query_id
              JOIN nrm nv ON nv.vec_id = v.vec_id)
            WHERE rank <= $K),
          fpr AS (
            SELECT query_id, qe, cent_id, rn AS c_rank FROM (
              SELECT q.query_id, q.qe, c.cent_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> q.qe[i]*c.ce[i]))
                    / (nq.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
              FROM q CROSS JOIN c
              JOIN nrm nq ON nq.vec_id = q.query_id
              JOIN nrm nc ON nc.vec_id = c.cent_id)
            WHERE rn <= ${FilteredSweepProbes.max}),
          fcand AS MATERIALIZED (
            SELECT p.query_id, p.c_rank, a.vec_id AS neighbor_id,
              (list_sum(list_transform(range(1, 65), i -> p.qe[i]*v.e[i]))
                / (nq.nm * nv.nm)) AS score
            FROM fpr p
            JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
            JOIN flbl fl ON fl.vec_id = a.vec_id
            JOIN v ON v.vec_id = a.vec_id
            JOIN nrm nq ON nq.vec_id = p.query_id
            JOIN nrm nv ON nv.vec_id = a.vec_id),
          fcfg AS (SELECT unnest([${FilteredSweepProbes.mkString(", ")}]) AS nprobe),
          fswept AS (
            SELECT fcfg.nprobe, cd.query_id, cd.neighbor_id, cd.score
            FROM fcand cd JOIN fcfg ON cd.c_rank <= fcfg.nprobe),
          fivf AS (
            SELECT nprobe, query_id, neighbor_id FROM (
              SELECT nprobe, query_id, neighbor_id,
                row_number() OVER (PARTITION BY nprobe, query_id
                  ORDER BY score DESC, neighbor_id ASC) AS rnk
              FROM fswept)
            WHERE rnk <= $K),
          fexs AS (SELECT fcfg.nprobe, e.query_id, e.neighbor_id
                   FROM fex e CROSS JOIN fcfg),
          fh AS (
            SELECT fexs.nprobe, count(i.neighbor_id) AS hits, count(*) AS total
            FROM fexs LEFT JOIN fivf i
              ON i.nprobe = fexs.nprobe AND i.query_id = fexs.query_id
                 AND i.neighbor_id = fexs.neighbor_id
            GROUP BY 1),
          fncand AS (SELECT nprobe, count(*) AS n_candidates FROM fswept GROUP BY 1)
          SELECT fcfg.nprobe::BIGINT AS nprobe,
                 coalesce(fh.hits, 0)::BIGINT AS hits,
                 coalesce(fh.total, 0)::BIGINT AS total,
                 coalesce(fncand.n_candidates, 0)::BIGINT AS n_candidates
          FROM fcfg
          LEFT JOIN fh USING (nprobe)
          LEFT JOIN fncand USING (nprobe)"""),
    "q_ann_filter_xover" -> (base +
      s""", fpr_x AS MATERIALIZED (
            SELECT query_id, qe, cent_id, rn AS c_rank FROM (
              SELECT q.query_id, q.qe, c.cent_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> q.qe[i]*c.ce[i]))
                    / (nq.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
              FROM q CROSS JOIN c
              JOIN nrm nq ON nq.vec_id = q.query_id
              JOIN nrm nc ON nc.vec_id = c.cent_id)
            WHERE rn <= ${FilteredSweepProbes.max}),
          fcfg_x AS (SELECT unnest([${FilteredSweepProbes.mkString(", ")}]) AS nprobe)""" +
      XoverSels.map(xoverSelCtes).mkString + " " +
      XoverSels.map { s =>
        s"""SELECT CAST($s AS BIGINT) AS sel, 'post' AS arm,
                  fcfg_x.nprobe::BIGINT AS nprobe,
                  coalesce(fh_x$s.hits, 0)::BIGINT AS hits,
                  coalesce(fh_x$s.total, 0)::BIGINT AS total,
                  coalesce(fncand_x$s.n_candidates, 0)::BIGINT AS n_scored
           FROM fcfg_x
           LEFT JOIN fh_x$s USING (nprobe)
           LEFT JOIN fncand_x$s USING (nprobe)
           UNION ALL
           SELECT CAST($s AS BIGINT) AS sel, 'pre' AS arm, 0::BIGINT AS nprobe,
                  (SELECT count(*) FROM fex_x$s)::BIGINT AS hits,
                  (SELECT count(*) FROM fex_x$s)::BIGINT AS total,
                  ((SELECT count(*) FROM flbl_x$s) * (SELECT count(*) FROM q)
                    - (SELECT count(*) FROM flbl_x$s
                       WHERE vec_id < $NumQueries))::BIGINT AS n_scored"""
      }.mkString(" UNION ALL ")),
    "q_ivf_sweep" -> (base +
      s""", pr AS (
            SELECT query_id, qe, cent_id, rn AS c_rank FROM (
              SELECT q.query_id, q.qe, c.cent_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> q.qe[i]*c.ce[i]))
                    / (nq.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
              FROM q CROSS JOIN c
              JOIN nrm nq ON nq.vec_id = q.query_id
              JOIN nrm nc ON nc.vec_id = c.cent_id)
            WHERE rn <= ${IvfSweepProbes.max}),
          cand AS (
            SELECT p.query_id, p.c_rank, a.vec_id AS neighbor_id,
              (list_sum(list_transform(range(1, 65), i -> p.qe[i]*v.e[i]))
                / (nq.nm * nv.nm)) AS score
            FROM pr p
            JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
            JOIN v ON v.vec_id = a.vec_id
            JOIN nrm nq ON nq.vec_id = p.query_id
            JOIN nrm nv ON nv.vec_id = a.vec_id),
          cfg AS (SELECT unnest([${IvfSweepProbes.mkString(", ")}]) AS nprobe),
          swept AS (
            SELECT cfg.nprobe, cd.query_id, cd.neighbor_id, cd.score
            FROM cand cd JOIN cfg ON cd.c_rank <= cfg.nprobe),
          ivf AS (
            SELECT nprobe, query_id, neighbor_id FROM (
              SELECT nprobe, query_id, neighbor_id,
                row_number() OVER (PARTITION BY nprobe, query_id
                  ORDER BY score DESC, neighbor_id ASC) AS rnk
              FROM swept)
            WHERE rnk <= $K),
          ex AS (SELECT cfg.nprobe, e.query_id, e.neighbor_id
                 FROM exact e CROSS JOIN cfg),
          h AS (
            SELECT ex.nprobe, count(i.neighbor_id) AS hits, count(*) AS total
            FROM ex LEFT JOIN ivf i
              ON i.nprobe = ex.nprobe AND i.query_id = ex.query_id
                 AND i.neighbor_id = ex.neighbor_id
            GROUP BY 1),
          ncand AS (SELECT nprobe, count(*) AS n_candidates FROM swept GROUP BY 1)
          SELECT cfg.nprobe::BIGINT AS nprobe,
                 coalesce(h.hits, 0)::BIGINT AS hits,
                 coalesce(h.total, 0)::BIGINT AS total,
                 coalesce(ncand.n_candidates, 0)::BIGINT AS n_candidates
          FROM cfg
          LEFT JOIN h USING (nprobe)
          LEFT JOIN ncand USING (nprobe)"""),
    "q_embed_neardup" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          nrm AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                  FROM v)
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          JOIN nrm na ON na.vec_id = a.vec_id
          JOIN nrm nb ON nb.vec_id = b.vec_id
          WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                  / (na.nm * nb.nm) >= $NearDupThreshold""",
    "q_embed_dedup" -> (nearDupBase +
      """SELECT v.vec_id
         FROM v
         LEFT JOIN (SELECT DISTINCT vec_b FROM blocked_pairs) l
           ON v.vec_id = l.vec_b
         WHERE l.vec_b IS NULL"""),
    // transitive closure of the blocked pairs by recursive CTE (the WITH of
    // the shared base is promoted to WITH RECURSIVE)
    "q_embed_groups" -> (nearDupBase.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, edges AS (
           SELECT vec_a AS eu, vec_b AS ev FROM blocked_pairs
           UNION SELECT vec_b, vec_a FROM blocked_pairs),
         reach(x, r) AS (
           SELECT vec_id, vec_id FROM v
           UNION
           SELECT e.ev, reach.r FROM reach JOIN edges e ON e.eu = reach.x)
         SELECT x AS vec_id, min(r) AS group_id FROM reach GROUP BY x"""),
    // SemDeDup: single-cell assignment (rn = 1 of the centroid ranking),
    // within-cell verified pairs, recursive closure, keeper = argmin
    // (cent_cos, vec_id) per group — the geometric keep-rule mirrored
    "q_semdedup" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          nrm AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                  FROM v),
          c AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < $NumCentroids),
          assign AS (
            SELECT vec_id, cent_id, sc AS cent_cos FROM (
              SELECT v.vec_id, c.cent_id,
                (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) AS sc,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                    / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
              FROM v CROSS JOIN c
              JOIN nrm nv ON nv.vec_id = v.vec_id
              JOIN nrm nc ON nc.vec_id = c.cent_id)
            WHERE rn = 1),
          spairs AS (
            SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
            FROM assign x JOIN assign y
              ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
            JOIN v a ON a.vec_id = x.vec_id
            JOIN v b ON b.vec_id = y.vec_id
            JOIN nrm na ON na.vec_id = x.vec_id
            JOIN nrm nb ON nb.vec_id = y.vec_id
            WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                    / (na.nm * nb.nm) >= $NearDupThreshold),
          edges AS (SELECT vec_a AS eu, vec_b AS ev FROM spairs
                    UNION SELECT vec_b, vec_a FROM spairs),
          reach(x, r) AS (
            SELECT vec_id, vec_id FROM v
            UNION
            SELECT e.ev, reach.r FROM reach JOIN edges e ON e.eu = reach.x),
          grp AS (SELECT x AS vec_id, min(r) AS group_id FROM reach GROUP BY x),
          keep AS (
            SELECT group_id, vec_id AS canonical_id FROM (
              SELECT g.group_id, g.vec_id,
                row_number() OVER (PARTITION BY g.group_id
                  ORDER BY a.cent_cos ASC, g.vec_id ASC) AS rn
              FROM grp g JOIN assign a USING (vec_id))
            WHERE rn = 1)
          SELECT g.vec_id, a.cent_id, k.canonical_id,
                 CASE WHEN g.vec_id = k.canonical_id THEN 'kept' ELSE 'dropped' END AS verdict
          FROM grp g JOIN assign a USING (vec_id) JOIN keep k USING (group_id)""")

  /** Shared CTEs for the bucketed near-dup oracle: the blocking (top-NAssign
    * centroid buckets per vector, bucket-local candidate self-join, exact
    * cosine verify) is mirrored operation-for-operation, so the oracle checks
    * the bucketed SEMANTICS; `exact_pairs` is the all-pairs baseline the
    * recall query scores against.
    */
  private[queries] lazy val nearDupBase =
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        nrm AS MATERIALIZED (SELECT vec_id,
                  sqrt(list_sum(list_transform(range(1, 65), i -> e[i]*e[i]))) AS nm
                FROM v),
        c AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < $NumCentroids),
        massign AS MATERIALIZED (
          SELECT vec_id, cent_id FROM (
            SELECT v.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                (list_sum(list_transform(range(1, 65), i -> v.e[i]*c.ce[i]))
                  / (nv.nm * nc.nm)) DESC, c.cent_id ASC) AS rn
            FROM v CROSS JOIN c
            JOIN nrm nv ON nv.vec_id = v.vec_id
            JOIN nrm nc ON nc.vec_id = c.cent_id)
          WHERE rn <= $NearDupAssign),
        cand AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM massign x JOIN massign y
            ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id),
        blocked_pairs AS MATERIALIZED (
          SELECT c.vec_a, c.vec_b
          FROM cand c
          JOIN v a ON a.vec_id = c.vec_a
          JOIN v b ON b.vec_id = c.vec_b
          JOIN nrm na ON na.vec_id = c.vec_a
          JOIN nrm nb ON nb.vec_id = c.vec_b
          WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                  / (na.nm * nb.nm) >= $NearDupThreshold),
        exact_pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          JOIN nrm na ON na.vec_id = a.vec_id
          JOIN nrm nb ON nb.vec_id = b.vec_id
          WHERE list_sum(list_transform(range(1, 65), i -> a.e[i]*b.e[i]))
                  / (na.nm * nb.nm) >= $NearDupThreshold)
     """
}
