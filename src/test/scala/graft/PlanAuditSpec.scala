package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** The scale-killers checklist, executed: every registered query's physical
  * plan is audited for the structures that break at 100 TB.
  *
  *   - `CartesianProductExec` (both sides unbroadcast) is banned outright —
  *     no registered plan may contain one.
  *   - `BroadcastNestedLoopJoinExec` (non-equi join against a broadcast side)
  *     is allowed ONLY in the embedding family, where the broadcast side is
  *     the small query/centroid set and the non-equi predicate (`<`, `=!=`)
  *     is the documented all-pairs/probe design; anywhere else it means a
  *     join key was lost and the plan silently degraded.
  *
  * Plans are built and optimized at sf0.001 — the audit inspects structure,
  * not timing, so the smallest dataset suffices; a broadcast threshold can't
  * "hide" a cartesian product (that is exactly what CartesianProductExec is
  * not).
  *
  * Every sweep runs inside [[graft.operators.Lineage.withoutCuts]]: a
  * `localCheckpoint` truncates lineage, so with cuts on the walk would stop
  * at the checkpointed RDD and an all-pairs stage upstream of a cut (e.g.
  * inside the pipeline feeding ConnectedComponents) would be INVISIBLE —
  * the round-9 blind spot. With cuts degraded to the identity the audited
  * plan is the full lineage, mechanically: no query can hide a
  * scale-killer behind a materialization, now or in the future (the
  * mechanism itself is tripwired below).
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose designs legitimately contain a broadcast nested-loop stage:
    * exact KNN / all-pairs verification / centroid probing against a BROADCAST
    * small side (see graft.operators.Embeddings scaladoc).
    *
    * Every entry is provably CURRENT (the minimality test below fails on any
    * entry whose plan stops producing a BNLJ), and none is convertible to an
    * equi-join in substance: the probe patterns have no join key (scoring n
    * rows against C broadcast centroids / queries is O(n·C) by definition),
    * so the only way to remove the node is cosmetic (a constant-key join
    * plans as BroadcastHashJoin while doing identical work) or a scale
    * regression (literal-embedded centroids à la srpSignatures cap C at
    * codegen-size limits; a real index wants C in the tens of thousands).
    */
  private val nestedLoopAllowed: Set[String] = Set(
    "q_knn_topk", "q_hard_negatives",
    "q_ann_topk", "q_ann_recall", "q_ivf_sweep", "q_ann_filtered_sweep",
    "q_ann_filter_xover",
    "q_ivf_stats", "q_ivf_quality", "q_hybrid_rrf",
    "q_sq8_topk", "q_sq8_recall", "q_pq_topk", "q_pq_recall",
    "q_ivfpq_topk", "q_ivfpq_recall", "q_ivfpq_topk_indexed",
    "q_ivfpq_rerank", "q_ivfpq_rerank_recall", "q_mmr_topk", "q_mmr_diversity",
    "q_ivfpq_res_topk", "q_ivfpq_res_recall",
    "q_srp_recall", "q_srp_mp_recall",
    "q_srp_recall_sampled", "q_srp_mp_recall_sampled",
    "q_retrieval_mrr",
    "q_embed_neardup", "q_embed_neardup_ivf",
    "q_embed_neardup_recall", "q_embed_neardup_recall_sampled", "q_embed_dedup",
    "q_media_neardup", "q_media_neardup_recall", "q_decon_semantic",
    "q_split_leakage",
    // Composite queries whose FULL lineage contains the ivfNearDupPairs
    // broadcast-centroid probe (O(n·C), C=16 broadcast rows — the same
    // documented design as q_embed_neardup_ivf). Their registered plans
    // hide it behind Par/ConnectedComponents lineage cuts; the
    // withoutCuts sweep exposed it in round 10 — which is precisely the
    // blind spot this audit mode exists to close.
    // q_semdedup: same shape — the O(n·C) broadcast-centroid assignment
    // probe feeding ConnectedComponents, partially behind its lineage cuts.
    "q_dedup_decision", "q_embed_groups", "q_unified_groups", "q_semdedup",
    // exact-arithmetic Lloyd training: each round is the SAME O(n·C)
    // broadcast-centroid assignment probe (C = 16), behind per-round
    // Lineage cuts the withoutCuts walk sees through; the recall twin adds
    // the knnExact broadcast-query probe every recall gate carries
    "q_ivf_conv_quality", "q_ivf_conv_recall",
    // NN-Descent: the seed graph's lineage starts at the same O(n·C)
    // broadcast-centroid assignment probe (C = 16); the recall gate adds
    // the knnExact broadcast-sample probe. The descent round itself is
    // pure equi-joins (see Embeddings.nnDescentRound).
    "q_nndescent_graph", "q_nndescent_recall",
    // Graph-ANN SERVING: the graph comes from the persisted index artifact
    // (no in-plan rebuild — asserted below), but the query-side IVF entry
    // probe (queries × C broadcast entry vectors) is the documented O(q·C)
    // design; the recall/sweep twins add the knnExact broadcast-query
    // baseline. The search waves themselves are pure equi-joins + bounded
    // heaps (see Embeddings.graphSearchWaves).
    "q_graph_search_indexed", "q_graph_search_recall", "q_graph_sweep",
    // Index MAINTENANCE gates: their lineages legitimately contain a build —
    // the store/live-side seed's O(n·C) broadcast-centroid assignment probe,
    // the serve's entry probe, and the knnExact baseline (batch / live
    // corpus respectively)
    "q_graph_insert_recall", "q_graph_delete_recall",
    // Binary-quantization serving: the Hamming scan is the documented
    // broadcast-query probe over packed integer signatures (n × queries,
    // no join key by design); the recall twin adds the knnExact baseline.
    "q_bq_rerank", "q_bq_recall",
    // Matryoshka ladder: per-tier knnExactPrefix broadcast-query probes
    // plus the full-dim knnExact baseline — the documented all-pairs design
    "q_mrl_recall", "q_mrl_rerank", "q_mrl_rerank_recall",
    // KMV set ops: the G×G pair join runs on G=3 POST-AGGREGATION sketch
    // rows (one per order status) — bounded by group cardinality, not data
    // volume; the raw-key side of the query is all equi-joins.
    "q_kmv_setops")

  /** Every registered query's physical plan with every lineage cut in the
    * library disabled — the full-lineage form every sweep audits. Planned
    * once, in one `withoutCuts` scope, and shared by all the checks below.
    */
  private lazy val fullPlans: Map[String, Seq[SparkPlan]] =
    graft.operators.Lineage.withoutCuts {
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        name -> collectPlan(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
      }.toMap
    }

  private def fullPlan(name: String): Seq[SparkPlan] = fullPlans(name)

  test("no registered plan contains an unbroadcast cartesian product") {
    val bad = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      fullPlan(name).exists(_.isInstanceOf[CartesianProductExec])
    }
    assert(bad.isEmpty,
      s"cartesian products (both sides unbroadcast, O(n*m) at scale) in: $bad")
  }

  /** A BNLJ whose broadcast side is a no-grouping aggregate carries at most
    * ONE row — the standard scalar-attach (cross-join a global count onto
    * every row, e.g. the corpus size in q_tfidf_terms). O(n·1), scale-safe,
    * so it is exempt; any other build side stays banned.
    */
  private def isScalarAttach(j: BroadcastNestedLoopJoinExec): Boolean = {
    def scalarOut(p: SparkPlan): Boolean = p match {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => scalarOut(e.child)
      case pr: org.apache.spark.sql.execution.ProjectExec => scalarOut(pr.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => scalarOut(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => scalarOut(i.child)
      // row-count-preserving-or-reducing wrappers over a scalar stay scalar
      case f: org.apache.spark.sql.execution.FilterExec => scalarOut(f.child)
      case s: org.apache.spark.sql.execution.SerializeFromObjectExec => scalarOut(s.child)
      // a cross of two 1-row sides is still 1 row (scalar × scalar attach)
      case j2: BroadcastNestedLoopJoinExec => scalarOut(j2.left) && scalarOut(j2.right)
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      case _ => false
    }
    val side = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
    }
    scalarOut(side)
  }

  test("broadcast nested-loop joins appear only in the documented embedding family") {
    val bad = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(nestedLoopAllowed.contains)
      .filter { name =>
        fullPlan(name)
          .collect { case j: BroadcastNestedLoopJoinExec => j }
          .exists(!isScalarAttach(_))
      }
    assert(bad.isEmpty,
      s"BroadcastNestedLoopJoin outside the allowlisted embedding family " +
        s"(a join key was probably lost) in: $bad")
  }

  /** The allowlist must stay MINIMAL: every entry must actually plan a
    * non-scalar nested-loop stage, so a query whose plan improves to pure
    * equi-joins (or whose all-pairs stage moves behind a lineage cut) fails
    * here until its stale exemption is removed — the list can only ever
    * document real, current broadcast-probe/all-pairs designs.
    */
  test("every BNLJ-allowlisted query still plans a nested-loop stage") {
    nestedLoopAllowed.toSeq.sorted.foreach { name =>
      val bnlj = fullPlan(name)
        .collect { case j: BroadcastNestedLoopJoinExec => j }
        .filterNot(isScalarAttach)
      assert(bnlj.nonEmpty,
        s"$name is BNLJ-allowlisted but plans no nested-loop join — remove the stale entry")
    }
  }

  private def scansOf(name: String) = fullPlan(name)
    .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }

  /** Predicate pushdown reaches the parquet reader: q6 (the pushdown showcase)
    * must carry its selective filters in the scan's PushedFilters, not apply
    * them post-scan only.
    */
  test("q6_filter pushes its predicates into the parquet scan") {
    val scan = scansOf("q6_filter").head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(c), s"filter on $c not pushed: $pushed")
    }
  }

  /** Column pruning reaches the scan: q1_agg touches 7 of lineitem's columns;
    * reading the rest (notably the wide l_comment) would multiply scan bytes
    * at 100 TB for nothing.
    */
  test("q1_agg scans only the lineitem columns it uses") {
    val scan = scansOf("q1_agg").head
    val readCols = scan.schema.fieldNames.toSet
    assert(readCols.contains("l_quantity") && readCols.contains("l_shipdate"))
    assert(!readCols.contains("l_comment"), s"unpruned scan: $readCols")
    assert(readCols.size <= 8, s"scan reads ${readCols.size} columns: $readCols")
  }

  /** The curation queries read `documents` many times over — every one of
    * those scans must prune to the columns it actually uses (never the full
    * 5-column row; `q_tfidf_terms`/`q_decontaminate` in particular must not
    * drag `source`/`lang`/`n_chars` through tokenization shuffles).
    */
  test("curation-layer document scans prune to the used columns") {
    Seq("q_tfidf_terms" -> Set("doc_id", "text"),
      "q_decontaminate" -> Set("doc_id", "text"),
      "q_decon_bloom" -> Set("doc_id", "text"),
      "q_bloom_merge" -> Set("doc_id", "text", "source"),
      "q_token_budget" -> Set("doc_id", "text"),
      "q_token_budget_scan" -> Set("doc_id", "text"),
      "q_token_budget_bpe" -> Set("doc_id", "text"),
      "q_token_budget_unigram" -> Set("doc_id", "text"),
      "q_seq_pack_bpe" -> Set("doc_id", "text"),
      "q_mixture_report" -> Set("doc_id", "text", "source"),
      "q_mixture_report_bpe" -> Set("doc_id", "text", "source"),
      "q_vocab_stats_bpe" -> Set("source", "text"),
      "q_oov_rate_bpe" -> Set("doc_id", "text"),
      "q_unigram_round" -> Set("text"),
      "q_unigram_round2" -> Set("text"),
      "q_unigram_conv" -> Set("text"),
      "q_unigram_target" -> Set("text"),
      "q_tokenizer_fertility_eq" -> Set("text"),
      "q_unigram_bylang" -> Set("text"),
      "q_unigram_fertility_bylang" -> Set("text"),
      "q_tokenizer_fertility" -> Set("text"),
      "q_source_quota" -> Set("doc_id", "source"),
      "q_weighted_sample" -> Set("doc_id", "source", "n_chars"),
      "q_passage_overlap" -> Set("doc_id", "text"),
      "q_winnow" -> Set("doc_id", "text"),
      "q_phrase_tags" -> Set("doc_id", "text"),
      "q_phrase_tags_ac" -> Set("doc_id", "text"),
      "q_doc_rank" -> Set("doc_id", "text"),
      "q_bm25_topk" -> Set("doc_id", "text"),
      "q_lm_score" -> Set("doc_id", "text"),
      "q_lm_score_bpe" -> Set("doc_id", "text"),
      "q_curriculum_bpe" -> Set("doc_id", "text"),
      "q_data_split" -> Set("doc_id", "text"),
      "q_seq_pack" -> Set("doc_id", "text"),
      "q_seq_pack_scan" -> Set("doc_id", "text"),
      "q_containment" -> Set("doc_id", "text"),
      "q_keyframes" -> Set("doc_id", "text"),
      "q_heaps_law" -> Set("doc_id", "text"),
      "q_heavy_hitters" -> Set("text"),
      "q_dedup_report" -> Set("text"),
      "q_vocab_stats" -> Set("source", "text"),
      "q_length_hist" -> Set("source", "n_chars"),
      "q_quantile_sketch" -> Set("doc_id", "lang", "n_chars"),
      "q_quantile_merge" -> Set("doc_id", "lang", "source", "n_chars"),
      "q_dedup_decision" -> Set("doc_id", "text"),
      "q_corpus_manifest" -> Set("doc_id", "text"),
      "q_graph_degree" -> Set("doc_id", "text"),
      "q_cms_freq" -> Set("text"),
      "q_bpe_pairs" -> Set("text"),
      "q_bpe_encode" -> Set("text"),
      "q_bpe_budget" -> Set("doc_id", "text"),
      "q_bpe_fertility" -> Set("text"),
      "q_bpe_bylang" -> Set("text"),
      "q_bpe_fertility_bylang" -> Set("text"),
      "q_oov_rate" -> Set("doc_id", "text"),
      "q_dsir_weights" -> Set("doc_id", "text", "lang"),
      "q_corpus_diff" -> Set("doc_id", "text"),
      "q_mixture_weights" -> Set("source", "text"),
      "q_gopher_rules" -> Set("doc_id", "text"),
      "q_nfc_canon" -> Set("doc_id", "text"),
      "q_moji_repair" -> Set("doc_id", "text"),
      "q_ws_norm" -> Set("doc_id", "text"),
      "q_jaccard_calib" -> Set("doc_id", "text"),
      "q_lsh_calib" -> Set("doc_id", "text"),
      "q_cap_calib" -> Set("doc_id", "text"),
      "q_pack_calib" -> Set("doc_id", "text"),
      "q_span_scrub" -> Set("doc_id", "text"),
      "q_line_dedup" -> Set("doc_id", "text"),
      "q_epoch_plan" -> Set("doc_id", "text", "source"),
      "q_shard_plan" -> Set("doc_id", "text", "source"),
      "q_shard_plan_scan" -> Set("doc_id", "text", "source"),
      "q_curriculum" -> Set("doc_id", "text"),
      "q_priority_sample" -> Set("doc_id", "source", "n_chars"),
      "q_neyman_alloc" -> Set("source", "n_chars"),
      "q_collocations" -> Set("text"),
      "q_langid_confusion" -> Set("lang", "text"),
      "q_mixture_capped" -> Set("lang", "text")).foreach { case (name, allowed) =>
      scansOf(name)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
        .foreach { scan =>
          val readCols = scan.schema.fieldNames.toSet
          assert(readCols.subsetOf(allowed),
            s"$name scans unpruned columns ${readCols.diff(allowed)} (reads $readCols)")
        }
    }
  }

  /** The audit mechanism itself, tripwired: a scale-killer placed BEHIND a
    * [[graft.operators.Lineage]] cut must be invisible to a cuts-on walk
    * (that is the blind spot) and EXPOSED by the withoutCuts walk the sweeps
    * above use — so the sweeps provably see through every checkpoint in the
    * library, and a future de-bucketed pair generator cannot hide behind
    * ConnectedComponents' per-round cuts.
    */
  test("withoutCuts exposes nested-loop stages hidden behind a lineage cut") {
    import spark.implicits._
    def hidden() = graft.operators.Lineage.cut(
        spark.range(4).toDF("x").join(spark.range(4).toDF("y"),
          col("x") =!= col("y")))
      .groupBy().count()
    def loops(p: SparkPlan): Seq[SparkPlan] = collectPlan(p).collect {
      case c: CartesianProductExec => c
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(loops(hidden().queryExecution.executedPlan).isEmpty,
      "a cuts-on walk was expected to stop at the checkpoint (blind spot)")
    val exposed = graft.operators.Lineage.withoutCuts {
      loops(hidden().queryExecution.executedPlan)
    }
    assert(exposed.nonEmpty,
      "withoutCuts failed to expose the nested-loop stage behind the cut")
  }

  /** The graph-ANN serving gates price SEARCH, not index construction: each
    * must read the PERSISTED index artifact (`graft_gsidx_*` parquet — the
    * write→readback contract), and none may rebuild the NN-Descent graph
    * in-plan. The rebuild's structural signature is the IVF cell assignment
    * (`knnGraphSeed`'s `cent_id` attribute — the seed's within-cell
    * self-join key); the serving path probes entry VECTORS directly and
    * never materializes an assignment, so any `cent_id` in the full lineage
    * means a build stage crept back into a serving plan.
    */
  test("graph serving gates read the persisted index, never rebuild it in-plan") {
    Seq("q_graph_search_indexed", "q_graph_search_recall", "q_graph_sweep")
      .foreach { name =>
        val idxScans = scansOf(name).filter(_.relation.location.rootPaths
          .exists(_.toString.contains("graft_gsidx")))
        assert(idxScans.nonEmpty,
          s"$name does not scan the persisted graft_gsidx index artifact")
        val rebuild = fullPlan(name)
          .filter(_.output.exists(_.name == "cent_id"))
        assert(rebuild.isEmpty,
          s"$name's lineage carries a cent_id assignment — an NN-Descent " +
            s"build stage is back in a serving plan: ${rebuild.map(_.nodeName)}")
      }
  }

  /** Every PQ-family SERVING gate reads the persisted `graft_pqidx_*`
    * artifact and trains/encodes nothing in-plan. The rebuild's structural
    * signature is a `dist` attribute — `pqSubDists`, the ONE builder both
    * codebook training and corpus encoding take their argmin over, is the
    * only producer in the library; no FromIndex serving path emits one. The
    * recall/rerank/mmr gates legitimately ALSO scan the float corpus (the
    * exact baseline, the refine stage's point-lookup store, the MMR metric
    * frames), so the corpus-scan ban below applies only to the pure
    * retrieve gates.
    */
  test("PQ serving gates read the persisted index, never rebuild it in-plan") {
    val servingGates = Seq("q_ivfpq_topk_indexed", "q_ivfpq_rerank",
      "q_ivfpq_rerank_recall", "q_mmr_topk", "q_mmr_diversity",
      "q_ivfpq_res_topk", "q_ivfpq_res_recall")
    servingGates.foreach { name =>
      assert(scansOf(name).exists(_.relation.location.rootPaths
          .exists(_.toString.contains("graft_pqidx"))),
        s"$name does not scan the persisted graft_pqidx artifact")
      val rebuild = fullPlan(name).filter(_.output.exists(_.name == "dist"))
      assert(rebuild.isEmpty,
        s"$name's lineage carries a pqSubDists `dist` attribute — a PQ " +
          s"train/encode stage is back in a serving plan: ${rebuild.map(_.nodeName)}")
    }
  }

  /** The two pure-retrieve indexed serves' working set is EXACTLY the
    * persisted index: the only embeddings scans allowed are the QUERY set
    * (vec_id-filtered at the reader) — an unfiltered corpus scan means a
    * build stage (pqEncode/ivfAssign over the floats) crept back in.
    */
  test("pure-retrieve PQ serves never scan the float corpus") {
    Seq("q_ivfpq_topk_indexed", "q_ivfpq_res_topk").foreach { name =>
      scansOf(name).filter(_.relation.location.rootPaths
          .exists(_.toString.contains("embeddings")))
        .foreach { s =>
          // a BOUNDING predicate, not merely any mention of vec_id: an
          // in-plan rebuild's full-corpus scan still gets IsNotNull(vec_id)
          // pushed via the downstream equi-join, so "contains(vec_id)" alone
          // cannot catch the regression this test exists for (review catch) —
          // the query set's vec_id < NumQueries range filter is the signature
          val pushed = s.metadata.getOrElse("PushedFilters", "")
          assert(pushed.contains("LessThan(vec_id"),
            s"$name: embeddings scan without a bounding vec_id predicate " +
              s"(an index build crept into the indexed serve?): $pushed")
        }
    }
  }

  /** The media metadata query prunes the opaque payload blob: its stats come
    * from the metadata columns, and dragging the binary through the scan is
    * the single biggest avoidable cost of a multimodal table.
    */
  test("q_media_meta does not scan the binary payload column") {
    val reads = scansOf("q_media_meta").flatMap(_.schema.fieldNames)
    assert(reads.nonEmpty)
    assert(!reads.contains("payload"),
      s"payload blob scanned by a metadata-only query: $reads")
  }

  /** Scalar hot paths must stay inside whole-stage codegen — the graft native
    * expressions (Fingerprint, Shingles, DotProduct) implement `doGenCode`
    * precisely so these plans don't fall out of codegen into interpreted
    * evaluation; a regression there would silently cost ~10-20x on scans.
    * AQE inserts codegen stages lazily per query stage, so the structural
    * check compiles with AQE off (the codegen decision itself is identical).
    */
  test("scalar/text/fingerprint hot paths plan inside whole-stage codegen") {
    val key = "spark.sql.adaptive.enabled"
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      Seq("q_text_stats", "q_scalar_funcs", "q_string_funcs", "q_fingerprint_dedup",
        "q_knn_topk").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val wscg = collectPlan(plan).collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }
        assert(wscg.nonEmpty, s"$name planned with no WholeStageCodegen stage")
      }
      // the fingerprint projection itself must be INSIDE a codegen stage, not
      // interpreted between stages
      val fpPlan = SparkEntry.queries("q_fingerprint_dedup")(spark, sfDir)
        .queryExecution.executedPlan
      val inCodegen = collectPlan(fpPlan).exists {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.toString.contains("fingerprint(")
        case _ => false
      }
      assert(inCodegen, "fingerprint() evaluates outside whole-stage codegen")
    } finally {
      previous match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
