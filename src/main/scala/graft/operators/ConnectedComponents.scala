package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed connected components over an edge list — the clustering layer
  * that turns pairwise near-dup evidence (LSH / SimHash / embedding pairs)
  * into dedup GROUPS: every vertex is labeled with the minimum vertex id
  * reachable from it, so a group is "all docs transitively near-dup to each
  * other" and the label doubles as a stable group id.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round does
  *
  *   1. propagate:  comp(v) ← min(comp(v), min over neighbors u of comp(u))
  *   2. jump:       comp(v) ← comp(comp(v))   (path compression)
  *
  * Both steps are plain shuffled joins/aggregations on vertex-id keys, so the
  * work per round is O(|E|) with map-side combine on the neighbor-min. The
  * jump step halves the label-chain depth each round, giving O(log d)
  * convergence in the component diameter d. Rounds are not few in practice:
  * `q_dedup_decision` on the `perfbench` input (about 2,000 join-set rows)
  * takes 14, the sf0.1 testdata's pairs (1,551 rows) take 3; a
  * pathological chain of length 10⁶ needs ~20. Lineage is truncated per
  * round with a [[Lineage.cut]] (on a real cluster, swap for reliable
  * `checkpoint`). Convergence is a label-sum probe: labels only decrease, so
  * the sum of all labels strictly decreases until the fixpoint, and one
  * aggregate job per round over the materialized labels compares it with
  * the previous round's sum.
  *
  * '''Driver finish.''' Each round costs a cut job and a probe job whatever
  * the edge count, so a small edge set pays its rounds in scheduling, not
  * work. When the symmetric join set is at most [[LocalFinishRows]] rows,
  * [[run]] collects it in one job and labels it with [[CompactedUnionFind]]
  * on the driver — the same min-id labels — and the rounds never run. The
  * collect is a [[Lineage.collect]], so plan audits under
  * [[Lineage.withoutCuts]] still take the distributed path and see the
  * upstream pair plan.
  *
  * This is the DataFrame form of the classic MapReduce CC recipe (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14 — the
  * hash-to-min family); no GraphX/RDD dependency, so AQE and codegen apply.
  *
  * '''Skew (mega-component) anatomy.''' A giant dedup group concentrates one
  * label's traffic, but neither per-round stage funnels it through one task
  * unsalted:
  *   - the propagate step is `groupBy(u).agg(min)` — Spark plans a PARTIAL
  *     min, so a hot vertex's neighbor rows collapse to ≤ one row per map
  *     partition before the exchange (degree skew never crosses the wire);
  *   - the jump step is an equi-join whose build side (`jid`) is UNIQUE per
  *     key — probe-side-only skew, exactly the shape AQE's skew-join split
  *     (`spark.sql.adaptive.skewJoin.enabled`, on by default) re-partitions
  *     at runtime when a partition crosses the size threshold; below the
  *     threshold the label frame broadcasts and there is no shuffle at all.
  * Both properties are pinned mechanically in `ConnectedComponentsSpec`
  * ("min propagation plans map-side partial aggregation"), and a 20k-degree
  * hub + chain mega-component is exercised for correctness there. On the
  * distributed path (`graft.CcSkewBench`, 4 cores, table at
  * [[LocalFinishRows]]) ONE degree-10⁶ hub labels in 9.5 s vs 65.2 s for a
  * chain and 95.8 s for random pairs of the same edge count — the
  * pathological skew case is the FASTEST shape, because partial min
  * collapses the hub's rows map-side and a star converges in few rounds.
  * No salting needed; salting the min-label aggregation would only
  * re-shard what map-side combine already bounds at
  * (#map partitions × #distinct labels) rows. Re-price with
  * `SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.CcSkewBench"` when this file
  * changes; it forces each path.
  */
object ConnectedComponents {

  /** Largest symmetric join set (two rows per undirected edge plus one
    * self-loop per endpoint) that [[run]] labels on the driver.
    *
    * Priced by `graft.CcSkewBench` at `SPARK_GRAFT_CPUS=4` (4 vCPUs, 3 GB
    * heap, one run per rung), distributed vs driver seconds:
    * {{{
    *   edges   shape   join-set rows   distributed   driver   driver B/row
    *   10^3    chain        3,001          4.0 s      0.4 s      4,858
    *   10^4    random      28,620          6.5 s      0.4 s        954
    *   10^5    chain      300,001         15.7 s      1.2 s        548
    *   10^5    hub        300,001          2.2 s      0.8 s        427
    *   10^6    chain    3,000,001         65.2 s      6.4 s        486
    *   10^6    hub      3,000,001          9.5 s      5.6 s        386
    *   10^6    random   2,864,719         95.8 s      8.4 s        475
    * }}}
    * There is no crossover below 3×10⁶ rows: the finish wins on every rung
    * and shape. So the bound is the driver's memory, not time. The driver
    * thread allocates at most ~560 bytes per row from 10⁵ rows up (the
    * decoded collect, the union-find maps, the local frame; fixed planning
    * costs dominate below). 2¹⁸ rows is then at most ~150 MB, under a
    * tenth of a 2 GB driver heap. Above the bound the rounds spread the
    * work over the executors.
    */
  val LocalFinishRows: Long = 1L << 18

  /** (id, comp), as the distributed rounds produce it. */
  private val LabelSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("comp", LongType)))

  /** Label every vertex with the min id reachable from it.
    *
    * @param edges    undirected edge list (direction is ignored; self-loops
    *                 and duplicates are tolerated; an edge with a NULL
    *                 endpoint is dropped)
    * @param srcCol   source-id column name (castable to long)
    * @param dstCol   destination-id column name
    * @param vertices optional extra vertex universe (first column, castable to
    *                 long): isolated vertices not present in any edge get a
    *                 singleton component (their own id)
    * @param maxIter  safety bound on the distributed rounds; throws if not
    *                 converged (never hit in practice — see the O(log d)
    *                 argument above)
    * @return (id, comp) with one row per vertex
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          vertices: Option[DataFrame] = None, maxIter: Int = 50): DataFrame =
    label(edges, srcCol, dstCol, vertices, maxIter, LocalFinishRows)

  /** [[run]] with the driver-finish bound as a parameter, so specs and
    * `CcSkewBench` can force each path: -1 always runs the distributed
    * rounds, `Long.MaxValue` always finishes on the driver.
    */
  private[graft] def label(edges: DataFrame, srcCol: String, dstCol: String,
                           vertices: Option[DataFrame], maxIter: Int,
                           finishRows: Long): DataFrame = {
    // The whole init — symmetric closure, endpoint universe, per-endpoint
    // self-loops — materializes as ONE checkpoint job: each input edge
    // explodes to (u,v),(v,u),(u,u),(v,v) and one distinct() yields exactly
    // {symmetric non-self edges} ∪ {one self-loop per endpoint}. This is the
    // hash-to-min join set every round reads: the self-loop rows supply the
    // "min over self" term, so each round is ONE join + ONE aggregation — no
    // per-round union with the label frame (which also trips a Catalyst
    // constraint-rewrite bug when unioning a frame with its own derivative).
    // The (possibly expensive) upstream pair plan (e.g. the whole MinHash-LSH
    // pipeline) executes exactly once, inside this job; the former
    // three-checkpoint init (raw pairs, endpoints, sym ∪ self-loops) paid
    // three serial driver-synchronized jobs and re-scanned the pair
    // checkpoint twice for the same rows. Only EDGE-ENDPOINT vertices
    // iterate: a vertex outside every edge can never change label, so the
    // propagation rounds run over the (orders smaller) near-dup endpoint set
    // and the rest of the universe attaches as singletons at the END via one
    // anti-join. At 100 TB the corpus is V and the dedup evidence is ≪ V, so
    // rounds must scale with the evidence, not the corpus.
    // An edge with a NULL endpoint joins nothing: it is dropped before the
    // explode, so NULL never becomes a vertex and the edge gives its non-NULL
    // endpoint no self-loop. The filter pipelines into the cut's job.
    val selfSym = Lineage.cut(
      edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")),
          struct(col("u"), col("u").as("v")),
          struct(col("v").as("u"), col("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .distinct())
    // One aggregate over the cut picks the path and is the rounds' round-0
    // label sum: the self-loop rows are the endpoints, and identity labels
    // sum to the sum of their ids.
    val init = selfSym.agg(count(lit(1)),
      sum(when(col("u") === col("v"), col("u").cast("decimal(38,0)")))).head
    val local =
      if (init.getLong(0) <= finishRows)
        Lineage.collect(selfSym.filter(col("u") <= col("v"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)))
      else None
    val labels = local match {
      case Some(rows) => driverFinish(selfSym.sparkSession, rows)
      case None => rounds(selfSym, orZero(init.getDecimal(1)), maxIter)
    }
    // attach the non-endpoint universe as singletons — one anti-join at the
    // end instead of dragging every corpus vertex through every round
    vertices match {
      case Some(vs) =>
        val uni = vs.select(col(vs.columns.head).cast("long").as("id")).distinct()
        val singletons = uni.join(labels.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("comp"))
        labels.union(singletons)
      case None => labels
    }
  }

  private def orZero(d: java.math.BigDecimal): java.math.BigDecimal =
    if (d == null) java.math.BigDecimal.ZERO else d // zero edges → empty frame

  /** Labels from half the join set — each undirected edge once (u < v) and
    * each endpoint's self-loop (u = v) — as a local frame.
    */
  private def driverFinish(spark: SparkSession, rows: Array[(Long, Long)]): DataFrame = {
    val uf = new CompactedUnionFind(_ => None)
    rows.foreach { case (u, v) => if (u != v) uf.union(u, v) }
    val labels = new java.util.ArrayList[Row](rows.length)
    rows.foreach { case (u, v) => if (u == v) labels.add(Row(u, uf.find(u))) }
    spark.createDataFrame(labels, LabelSchema)
  }

  /** The distributed rounds over the cut join set, starting from identity
    * labels whose sum is `sum0`.
    */
  private def rounds(selfSym: DataFrame, sum0: java.math.BigDecimal,
                     maxIter: Int): DataFrame = {
    // one row per endpoint vertex — a cheap filter of the checkpointed set,
    // not its own checkpoint job
    val verts = selfSym.filter(col("u") === col("v")).select(col("u").as("id"))

    // round-0 labels are the identity (comp = id) — no materialization needed
    // (verts filters the checkpointed join set and the first round never
    // reads a label frame, see below)
    var labels = verts.select(col("id"), col("id").as("comp"))
    // Convergence probe: labels only ever DECREASE, so the label sum strictly
    // decreases until the fixpoint — comparing one aggregate per round (on the
    // already-materialized result) replaces carrying per-vertex previous
    // labels through the round's joins. decimal(38,0) keeps the sum exact for
    // any realistic id domain x vertex count.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      orZero(df.agg(sum(col("comp").cast("decimal(38,0)")).as("s")).head.getDecimal(0))
    var prevSum = sum0
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // propagate: min over {own label} ∪ {neighbors' labels} — the self-loop
      // rows supply the own-label term. Round 1 reads identity labels
      // (comp(v) = v), so the label join collapses to a plain aggregation
      // over the edge set — one shuffle saved on the round every run pays.
      val prop =
        (if (it == 0) selfSym.select(col("u"), col("v").as("nc"))
         else selfSym
           .join(labels.select(col("id").as("v"), col("comp").as("nc")), "v"))
        .groupBy(col("u")).agg(min(col("nc")).as("comp"))
        .select(col("u").as("id"), col("comp"))
      // comp values are always vertex ids, so the jump lookup is a self-join
      val jumped = Lineage.cut(prop.as("x")
        .join(prop.select(col("id").as("jid"), col("comp").as("jc")).as("y"),
          col("x.comp") === col("jid"), "left")
        .select(col("x.id").as("id"), coalesce(col("jc"), col("x.comp")).as("comp")))
      val curSum = labelSum(jumped)
      labels = jumped
      done = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      it += 1
    }
    if (!done)
      throw new IllegalStateException(s"connected components did not converge in $maxIter rounds")
    labels
  }

  /** Incremental min-label union-find — the driver-side state of the
    * STREAMING dedup-group maintainer ([[graft.streaming.GroupStream]]),
    * [[run]]'s driver finish, and the sequential twin of [[run]]'s
    * distributed labeling: union attaches the larger
    * root under the smaller, so `find` yields the component's MINIMUM id —
    * exactly the distributed algorithm's label convention, which is what
    * lets the streaming snapshot be compared against [[run]] row-for-row.
    * Path-compressed; unions are IDEMPOTENT, so at-least-once redelivery of
    * a pair batch is harmless by construction.
    *
    * `base` resolves a vertex to a COMPACTED label (a point-read into a
    * distributed (id, comp) table in production; a map in specs); a vertex
    * the base has never seen resolves to itself. With an empty base
    * (`_ => None`) every vertex is fresh and [[freshSnapshot]] is the whole
    * labeling, O(#vertices ever seen in a pair). Over a compacted base it is
    * the distributed escalation seam: when "docs ever matched" outgrows one
    * driver, a periodic batch [[run]] pass compacts the accumulated pair log
    * into the label table and the low-latency tier restarts FLAT on top of
    * it. Driver state is then only the DELTA — one parent edge per compacted
    * label or fresh vertex moved SINCE the compaction — so driver memory is
    * bounded by post-compaction evidence, not by all history ([[deltaSize]]
    * makes the bound measurable). A fresh vertex with an id below an old
    * component's label becomes the new label exactly as a batch re-run over
    * the full log would decide. The merged labeling materializes
    * distributively without rescanning the pair log: relabel the compacted
    * table with [[relabels]] (one broadcastable left join —
    * [[graft.streaming.GroupStream.mergedLabels]]) and append
    * [[freshSnapshot]] for vertices first seen after the compaction.
    */
  final class CompactedUnionFind(base: Long => Option[Long]) {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    private val freshVerts = scala.collection.mutable.HashSet.empty[Long]
    /** Iterative: a chain of parents can be as long as the unions that
      * built it (descending unions (n-1,n), (n-2,n-1), … make one of depth
      * n), so one stack frame per hop would overflow. The second walk
      * points every vertex on the path at the root.
      */
    private def resolve(l: Long): Long = {
      var root = l
      var p = parent.getOrElse(root, root)
      while (p != root) { root = p; p = parent.getOrElse(root, root) }
      var x = l
      while (x != root) { val next = parent(x); parent(x) = root; x = next }
      root
    }
    private def baseLabel(x: Long): Long = base(x).getOrElse(x)
    /** Logically read-only (path-compresses `parent` internally) — a lookup
      * of an unseen vertex must not inflate the delta state or inject a
      * spurious singleton into [[freshSnapshot]] (review catch); only
      * [[union]] registers fresh vertices. Synchronized on the same monitor
      * as every other accessor (review catch): path compression mutates the
      * parent map, so an unsynchronized find racing [[relabels]] or a
      * concurrent [[union]] would corrupt it — thread safety must not depend
      * on callers wrapping their own `uf.synchronized` blocks.
      */
    def find(x: Long): Long = synchronized { resolve(baseLabel(x)) }
    def union(a: Long, b: Long): Unit = synchronized {
      if (base(a).isEmpty) freshVerts += a
      if (base(b).isEmpty) freshVerts += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    /** Driver-held delta entries — the bounded-state claim as a number. */
    def deltaSize: Int = synchronized { parent.size + freshVerts.size }
    /** (old compacted label → merged label), only for COMPACTED labels that
      * moved — fresh-vertex parent entries are excluded (a fresh id is by
      * definition absent from the base, so it can never match a labels-table
      * row; shipping it would only bloat the broadcast relabel map).
      */
    def relabels: Map[Long, Long] = synchronized {
      parent.keys.toSeq.filterNot(freshVerts.contains)
        .map(l => l -> resolve(l)).filter(p => p._1 != p._2).toMap
    }
    /** (vertex → merged label) for vertices first seen since compaction. */
    def freshSnapshot: Map[Long, Long] = synchronized {
      freshVerts.toSeq.map(v => v -> find(v)).toMap
    }
  }
}
