package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One vocabulary word as a symbol sequence under the merges learned so far.
  * Top-level (not nested in [[Bpe]]) so Spark's generated encoder projections
  * can reach the constructor.
  */
case class BpeSymWord(syms: Seq[String], wfreq: Long)

/** One vocabulary word with its BPE token sequence under a ranked merge
  * table. Top-level for the same encoder-codegen reason as [[BpeSymWord]].
  */
case class BpeEncWord(word: String, wfreq: Long, toks: Seq[String])

/** [[BpeEncWord]] keyed by language — the per-language tokenizer's unit.
  * Top-level for the same encoder-codegen reason.
  */
case class BpeLangEncWord(lang_id: String, word: String, wfreq: Long, toks: Seq[String])

/** Byte-pair-encoding tokenizer TRAINING at corpus scale — the merge-rule
  * learning loop (Sennrich et al., "Neural Machine Translation of Rare Words
  * with Subword Units", ACL'16) expressed as Spark aggregations.
  *
  * The classic trainer is a single-machine loop over a word-frequency table;
  * the corpus-scale realization splits it into
  *
  *   1. ONE corpus pass that rolls the token stream up to the (word, freq)
  *      vocabulary — the only stage that touches corpus-sized data, a plain
  *      hash aggregation with map-side combine, after which everything is
  *      vocabulary-sized (≤ a few million rows at 100 TB, vs billions of
  *      documents);
  *   2. per merge round, an adjacent-pair count over the symbolized vocabulary
  *      (explode + weighted sum — the pair domain is at most Σ|word| over the
  *      vocab), an argmax collect of exactly ONE row to the driver (the merge
  *      rule — bounded by construction, not a `.collect()` anti-pattern), and
  *      a narrow typed map that applies the merge to each word's symbol array
  *      (no shuffle; the vocabulary stays partitioned as-is).
  *
  * Ties break deterministically by (count DESC, pair ASC) so training is
  * reproducible run-to-run and across partitionings. The round loop
  * checkpoints the symbol table every few rounds via [[Lineage.cut]] —
  * without it, round r's plan contains r nested typed maps and driver
  * planning time grows quadratically.
  *
  * [[pairCounts]] (the round-1 count over raw characters) is registered as
  * `q_bpe_pairs` with a DuckDB oracle; the full trainer is spec-proven
  * against a sequential reference implementation (`BpeSpec`).
  */
object Bpe {

  /** Corpus pass: whitespace token stream → (word, freq) vocabulary.
    * The ONLY corpus-sized stage of BPE training.
    */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wfreq"))

  /** Adjacent CHARACTER-pair counts over the vocabulary, weighted by word
    * frequency — BPE round 1, where every symbol is still a single character,
    * so a pair is exactly a 2-char substring. Vocabulary-sized input, pair
    * fan-out bounded by Σ(|word|-1), one aggregation with map-side combine.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(length(col("word")) >= 2)
      .select(col("word"), col("wfreq"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("wfreq"), col("word").substr(col("i"), lit(2)).as("pair"))
      .groupBy("pair").agg(sum(col("wfreq")).as("freq"))

  /** Top-`k` merge candidates by weighted pair frequency, deterministically
    * tie-broken — plans as TakeOrdered (per-partition heaps, no global sort).
    */
  def topPairs(docs: DataFrame, textCol: String, k: Int): DataFrame =
    topPairsOfVocab(wordVocab(docs, textCol), k)

  /** [[topPairs]] over a prebuilt (word, wfreq) vocabulary — the seam that
    * lets one (possibly checkpointed) vocabulary feed both the merge-list
    * derivation and the encode plan without a second corpus rollup.
    */
  def topPairsOfVocab(vocab: DataFrame, k: Int): DataFrame =
    pairCounts(vocab)
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(k)

  /** UTF-8 BINARY string order — the collation Spark's `UTF8String`
    * comparisons (the distributed loops' `orderBy`) and DuckDB's default
    * binary collation (the oracle's `ORDER BY a, b`) both implement. Every
    * DRIVER-side argmax tie-break in this file must use it instead of
    * JVM `String.compareTo`: the two orders disagree exactly when one
    * string leads with a supplementary code point (UTF-16 surrogates
    * 0xD800–0xDFFF sort below 0xE000–0xFFFF code units, while their UTF-8
    * encodings, 0xF0…, sort ABOVE the 3-byte 0xE… forms) — a tied pair
    * count on such symbols would otherwise pick different merge rules on
    * the driver vs the cluster/oracle paths (`BpeSpec` pins the case).
    */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** (left, right) pair order under [[utf8Lt]] — the tie-break key. */
  private[graft] def pairLt(p: (String, String), q: (String, String)): Boolean =
    utf8Lt(p._1, q._1) || (p._1 == q._1 && utf8Lt(p._2, q._2))

  /** Split into Unicode CODE POINTS — the symbolization Spark's
    * split-on-empty produces (its `UTF8String` regex walks code points).
    * JVM `String.split("")` splits UTF-16 code UNITS instead, tearing a
    * supplementary character into two lone surrogates — a driver-side
    * symbol alphabet that silently diverges from the cluster's the moment
    * a corpus contains an emoji (and whose lone-surrogate symbols don't
    * even round-trip through UTF-8). Every driver-side symbolization in
    * this file must use this helper (`BpeSpec` pins an astral corpus
    * across all four trainer paths).
    */
  private[graft] def codePoints(w: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toSeq
  }

  /** Vocabulary-size ceiling for localizing the merge loop: below it the
    * (word, freq) table collects to the driver and the rounds run in memory.
    * 2M rows × ~50 B ≈ 100 MB — comfortably inside any driver heap, and a
    * 100 TB natural-language corpus rarely exceeds a few million distinct
    * words once the corpus rollup (the distributed stage) has run.
    */
  val MaxLocalVocab: Int = 2 << 20

  /** Train `rounds` BPE merge rules over the corpus. Returns the learned
    * merges in order. Stops early when no pair occurs twice (nothing left to
    * compress).
    *
    * The corpus rollup to (word, freq) is always distributed — the only
    * corpus-sized stage. The merge loop then dispatches on vocabulary size:
    * when the distinct-word table fits the driver ([[MaxLocalVocab]]), the
    * rounds run in memory with incremental pair-count maintenance
    * ([[trainLocal]]) — this is how production tokenizer trainers structure
    * the work, because a 32k-merge vocabulary at one Spark job per round is
    * a driver-side bottleneck by construction. The batched distributed loop
    * ([[trainDistributedBatched]]) is the fallback for a vocabulary that
    * cannot localize — it proves several sequential rules per pair-count
    * snapshot instead of one job per rule.
    *
    * Measured on the sf0.01 corpus (8 rounds, local[32], warm session):
    * distributed loop 4.34 s (~1.8 rounds/s, one job per round); localized
    * path 0.21 s end-to-end, of which the in-memory rounds take 1.3 ms
    * (~6000 rounds/s) — the localized path is rollup-bound, so a 32k-merge
    * vocabulary costs the same one corpus pass instead of 32k Spark jobs.
    * Both paths are spec-equal to the sequential Sennrich'16 reference
    * (`BpeSpec`).
    *
    * Production depth, measured on a 485k-distinct-word synthetic Zipf
    * vocabulary (single driver thread): 2k merges 16.8 s, 8k merges 17.7 s,
    * **32k merges 25.8 s** (~1.2k rounds/s sustained — later rounds touch
    * fewer words). The first cut of [[trainLocal]] re-scanned the whole
    * pair-count map per argmax; because the map grows roughly linearly
    * with the merge count, total cost went quadratic and a 32k-merge run
    * did not finish in 7 minutes on the same vocabulary (8k merges alone
    * took 84 s). The lazy max-heap argmax in [[trainLocal]] removed that
    * term: a full Sennrich-style driver-side training pass at production
    * vocabulary size now costs well under a minute beyond the one
    * distributed corpus rollup.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int,
            maxLocalVocab: Int = MaxLocalVocab): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = wordVocab(docs, textCol)
      .select(col("word"), col("wfreq")).as[(String, Long)]
    // limit(n+1) answers "does the vocab fit?" and fetches it in one job;
    // bounded by construction, so not a `.collect()` anti-pattern
    val local = vocab.limit(maxLocalVocab + 1).collect()
    if (local.length <= maxLocalVocab) trainLocal(local.toSeq, rounds)
    else trainDistributedBatched(docs, textCol, rounds)
  }

  /** In-memory merge loop over a collected (word, freq) vocabulary, with
    * incremental pair-count maintenance: each round takes the
    * (count DESC, pair ASC) argmax from a lazy max-heap (stale entries
    * discarded at pop time — see the inline invariant), then touches ONLY
    * the words containing the merged pair (via an occurrence index),
    * subtracting their old adjacent-pair contributions and adding the new
    * ones. Index entries
    * go stale rather than being eagerly removed (lazy deletion) — a word is
    * re-checked for containment before it is rewritten, so counts stay
    * exact. Semantics identical to [[trainDistributed]] and the sequential
    * reference: all adjacent occurrences count (overlap included), merges
    * apply left-to-right non-overlapping, stop when no pair occurs twice.
    */
  def trainLocal(vocab: Seq[(String, Long)], rounds: Int,
                 compactSlack: Int = 1 << 16): Seq[(String, String)] = {
    // compactSlack keeps compaction amortized in production (rebuild only
    // once stale entries dominate AND the heap is large); it is injectable
    // so BpeSpec can force the rebuild branch every round (a negative
    // slack) and prove compaction cannot change the learned sequence
    import scala.collection.mutable
    val words: Array[(mutable.ArrayBuffer[String], Long)] = vocab.iterator
      .map { case (w, f) =>
        (mutable.ArrayBuffer.from[String](codePoints(w)), f)
      }.toArray
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // pairs whose count changed since the last argmax — flushed to the heap
    // once per round, so heap growth is per-TYPE, not per-occurrence
    val touched = mutable.HashSet.empty[(String, String)]
    def addPairs(wi: Int, sign: Long): Unit = {
      val (s, f) = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * f
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        touched += p
        if (sign > 0) index.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(addPairs(_, 1L))
    // Lazy max-heap argmax, (count DESC, pair ASC in UTF-8 binary order) —
    // the same deterministic order the cluster/oracle paths use. Every
    // count change pushes a fresh (pair, count) entry; an entry is current
    // iff its stored count still equals the map's, so stale entries are
    // detected and discarded at pop time. Invariant: every pair with a
    // nonzero count has a current entry (initial flush + per-change pushes).
    // A full-map scan here instead is O(|pair map|) per round, and the map
    // grows with the merge count — measured quadratic-total at a 32k-merge
    // production vocabulary (see object scaladoc numbers).
    val heapOrd = new Ordering[((String, String), Long)] {
      def compare(x: ((String, String), Long), y: ((String, String), Long)): Int = {
        val c = java.lang.Long.compare(x._2, y._2)
        if (c != 0) c
        else if (x._1 == y._1) 0
        else if (pairLt(x._1, y._1)) 1 else -1
      }
    }
    val heap = mutable.PriorityQueue.empty[((String, String), Long)](heapOrd)
    def flushTouched(): Unit = {
      touched.foreach { p =>
        val c = counts.getOrElse(p, 0L)
        if (c > 0L) heap += ((p, c))
      }
      touched.clear()
      // compact when lazily-deleted entries dominate: rebuild from the map
      if (heap.size > 4L * counts.size + compactSlack) {
        heap.clear()
        counts.foreach(heap += _)
      }
    }
    flushTouched()
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      var best: ((String, String), Long) = null
      while (best == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.getOrElse(e._1, 0L) == e._2) best = e
      }
      if (best == null || best._2 < 2L) exhausted = true
      else {
        val (a, b) = best._1
        merges += ((a, b))
        val merged = a + b
        index.getOrElse(best._1, mutable.HashSet.empty).foreach { wi =>
          val s = words(wi)._1
          var contains = false
          var i = 0
          while (!contains && i < s.length - 1) {
            contains = s(i) == a && s(i + 1) == b; i += 1
          }
          if (contains) { // skip lazily-deleted (stale) index entries
            addPairs(wi, -1L)
            val out = mutable.ArrayBuffer.empty[String]
            i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += merged; i += 2
              } else { out += s(i); i += 1 }
            }
            s.clear(); s ++= out
            addPairs(wi, 1L)
          }
        }
        flushTouched()
      }
      round += 1
    }
    merges.toSeq
  }

  /** The character symbolization of the (word, freq) vocabulary — round 0 of
    * either distributed merge loop. split-on-empty keeps a trailing "" under
    * Spark's limit=-1 semantics — array_remove drops it so symbols are
    * exactly the characters.
    */
  private def symVocab(docs: DataFrame, textCol: String): Dataset[BpeSymWord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordVocab(docs, textCol)
      .select(array_remove(split(col("word"), ""), "").as("syms"), col("wfreq"))
      .as[BpeSymWord]
  }

  /** Adjacent symbol-pair counts over the CURRENT symbolization: (left,
    * right) pairs weighted by word frequency — vocabulary-sized work, one
    * aggregation with map-side combine.
    */
  def symPairCounts(vocab: Dataset[BpeSymWord]): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.flatMap { w =>
        w.syms.iterator.zip(w.syms.iterator.drop(1))
          .map { case (a, b) => (a, b, w.wfreq) }.toSeq
      }
      .toDF("left", "right", "wfreq")
      .groupBy("left", "right").agg(sum(col("wfreq")).as("freq"))
  }

  /** Apply a merge-rule list to one word's symbol array, sequentially in
    * rule order, each rule left-to-right non-overlapping — the single
    * definition of "apply" shared by both distributed loops and
    * [[segment]], so trainer and inference cannot drift.
    */
  def applyMerges(syms: Seq[String], merges: Seq[(String, String)]): Seq[String] = {
    var cur = syms
    merges.foreach { case (a, b) =>
      val merged = a + b
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
          out += merged; i += 2
        } else { out += cur(i); i += 1 }
      }
      cur = out.toSeq
    }
    cur
  }

  /** Distributed merge loop — one Spark job per merge rule. Kept as the
    * reference shape the batched loop ([[trainDistributedBatched]]) is
    * spec-proven equal to; [[train]]'s distributed fallback uses the
    * batched loop. The symbol table lives distributed for the whole loop;
    * only the single argmax row crosses to the driver each round.
    */
  def trainDistributed(docs: DataFrame, textCol: String, rounds: Int): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = symVocab(docs, textCol)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      val best = symPairCounts(vocab)
        .orderBy(col("freq").desc, col("left").asc, col("right").asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect() // exactly one row — the learned rule
      best.headOption match {
        case Some((a, b, freq)) if freq >= 2 =>
          merges += ((a, b))
          val rule = Seq((a, b))
          vocab = vocab.map(w => BpeSymWord(applyMerges(w.syms, rule), w.wfreq))
          // truncate the growing typed-map lineage every few rounds
          if ((merges.length % 4) == 0)
            vocab = Lineage.cut(vocab.toDF()).as[BpeSymWord]
        case _ => exhausted = true
      }
      round += 1
    }
    merges.toSeq
  }

  /** Saturating add for nonnegative longs — the hazard caps in
    * [[planBatch]] sum upper bounds and must degrade to "unbounded"
    * (= reject everything after) rather than wrap.
    */
  private def satAdd(x: Long, y: Long): Long =
    if (x + y < x) Long.MaxValue else x + y

  /** Plan the longest batch of merge rules provably equal to running the
    * sequential trainer rule-by-rule, from ONE frozen snapshot of the
    * top-`M` pair counts. Pure driver-side logic — the distributed loop
    * calls it between jobs; specs drive it directly.
    *
    * `frozen` is the (count DESC, pair ASC)-sorted top of the pair-count
    * table; `sawAll` says the snapshot is the WHOLE table (uncollected
    * pairs otherwise have count ≤ the last frozen count). The plan walks
    * the frozen list in order and accepts each candidate only while the
    * sequential schedule is still provable from the snapshot:
    *
    *   - structural exactness: the candidate shares no symbol with an
    *     already-accepted rule (its occurrences can be neither destroyed
    *     nor created by applying the batch so far) and neither of its
    *     symbols equals an earlier rule's merged string (a frozen symbol
    *     spelled like a new symbol would conflate their counts);
    *   - dominance: its frozen count strictly exceeds every OTHER pair's
    *     best-case current count — the next frozen count (sort order
    *     bounds the rest), the uncollected-pair ceiling, and `gainCap`,
    *     the summed upper bound on every pair count the batch can have
    *     raised. Applying rule (a,b) creates only pair types containing
    *     the new symbol a+b, and each new occurrence consumes an adjacency
    *     (x→a) or (b→y), so one rule's new-pair types are each bounded by
    *     its worst frozen neighbor count (or the uncollected ceiling, or
    *     earlier gains); summing those per-rule bounds caps every possible
    *     gain, including regained counts of already-applied rules and
    *     conflated spellings. Ties are never accepted (strict >), so the
    *     (count DESC, pair ASC) tie-break cannot be usurped.
    *
    * A self-pair (a,a) is its own frozen neighbor, so its bound equals its
    * own count and the batch naturally ends right after it — no special
    * case. The first candidate is the true argmax of a fresh snapshot and
    * is always accepted, so every batch makes progress and the worst case
    * degrades to the one-rule-per-job baseline, never below it.
    */
  def planBatch(frozen: Seq[((String, String), Long)], sawAll: Boolean,
                maxMerges: Int): Seq[(String, String)] = {
    if (frozen.isEmpty || maxMerges <= 0 || frozen.head._2 < 2L) return Nil
    val unknownCeil: Long = if (sawAll) 0L else frozen.last._2
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val batchSyms = scala.collection.mutable.Set.empty[String]
    val mergedStrs = scala.collection.mutable.Set.empty[String]
    var gainCap = 0L
    var i = 0
    var stopped = false
    while (!stopped && i < frozen.length && out.length < maxMerges) {
      val ((a, b), cnt) = frozen(i)
      val structuralOk = i == 0 ||
        (!batchSyms(a) && !batchSyms(b) && !mergedStrs(a) && !mergedStrs(b))
      val restCeil =
        if (i + 1 < frozen.length) math.max(frozen(i + 1)._2, unknownCeil)
        else unknownCeil
      val dominanceOk = i == 0 || cnt > satAdd(restCeil, gainCap)
      if (cnt < 2L || !structuralOk || !dominanceOk) stopped = true
      else {
        out += ((a, b))
        // worst-case count of any ONE pair type this rule can create:
        // consumed adjacencies are (x→a) and (b→y) — frozen neighbors,
        // uncollected pairs (≤ ceiling), or earlier-gain adjacencies
        val neighborMax = frozen.iterator
          .filter { case ((x, y), _) => y == a || x == b }
          .map(_._2).maxOption.getOrElse(0L)
        gainCap = satAdd(gainCap, satAdd(math.max(neighborMax, unknownCeil), gainCap))
        batchSyms += a += b
        mergedStrs += (a + b)
      }
      i += 1
    }
    out.toSeq
  }

  /** Cap on the collected rows of the full pair+triple statistics table.
    * The table is bounded by DISTINCT adjacency types, not vocabulary
    * size — a natural-language symbol alphabet keeps it in the tens of
    * thousands (driver-trivial at ~60 B/row) — but an adversarial corpus
    * (huge raw alphabet) can blow it up, so collection is capped and the
    * loop degrades to the pairs-only top-`M` proof past the cap.
    */
  val StatsCapDefault: Int = 200000

  /** ONE Spark job that freezes the planner's whole world: the COMPLETE
    * aggregated pair-count and triple-count tables of the current
    * symbolization. One flatMap emits boundary-padded triples — (sᵢ, sᵢ₊₁,
    * sᵢ₊₂ or "" at the word end), exactly n−1 rows per n-symbol word, the
    * SAME map-side row count as a plain pair-count job ("" is safe as the
    * pad: real symbols are never empty) — one aggregation shuffles them,
    * one capped collect lands them. The pair table is the padded-triple
    * table summed over its third symbol, computed driver-side; the triple
    * table is the unpadded rows. So the exact planner's extra statistics
    * are free at the map side, which is what dominates — without the
    * padding trick a separate pairs+triples emission measured the batched
    * loop 1.7× SLOWER than the one-rule baseline on a 3M-word synthetic
    * corpus whose batches degenerate to one rule (random text self-chains
    * everywhere). Returns None when the table exceeds `cap` (collection
    * order is arbitrary under limit, so a truncated table is discarded,
    * not trusted).
    */
  private def collectStats(vocab: Dataset[BpeSymWord], cap: Int)
    : Option[(Map[(String, String), Long], Map[(String, String, String), Long])] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val rows = vocab.flatMap { w =>
        val n = w.syms.length
        (0 until n - 1).iterator.map { i =>
          (w.syms(i), w.syms(i + 1), if (i + 2 < n) w.syms(i + 2) else "", w.wfreq)
        }.toSeq
      }
      .toDF("s1", "s2", "s3", "wfreq")
      .groupBy("s1", "s2", "s3").agg(sum(col("wfreq")).as("freq"))
      .limit(cap + 1)
      .as[(String, String, String, Long)]
      .collect()
    if (rows.length > cap) None
    else {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      rows.foreach { case (a, b, _, f) =>
        val k = (a, b); pairs.update(k, pairs.getOrElse(k, 0L) + f)
      }
      Some((
        pairs.toMap,
        rows.iterator.filter(_._3.nonEmpty)
          .map { case (a, b, c, f) => ((a, b, c), f) }.toMap))
    }
  }

  /** Plan the longest batch of merge rules EXACTLY equal to running the
    * sequential trainer rule-by-rule, from the complete frozen pair and
    * triple statistics of [[collectStats]]. Pure driver-side logic.
    *
    * With the whole pair table in hand every maintained count is exact,
    * so every argmax pick (count DESC, pair ASC) IS the sequential pick —
    * no dominance margins needed. After emitting rule (a,b) the planner
    * updates counts exactly from the triple table — #(x,a,b) moves from
    * pair (x,a) to the new (x,a+b), #(a,b,y) from (b,y) to (a+b,y); a
    * spelling collision (a+b naming an existing symbol) just adds counts,
    * which is exactly what happens in the data — and keeps going. The
    * batch closes (after the emitted rule, whose pick is still exact)
    * only when the NEXT update would outrun the frozen triples:
    *   - the picked rule is a batch-created pair, or its symbols carry an
    *     earlier rule's symbols or spelling (its contexts are 4-gram- or
    *     post-batch-dependent);
    *   - a context symbol of the rule was touched by an earlier rule
    *     (the frozen triple predates that rewrite);
    *   - the rule can self-chain — triple (a,b,a) or (b,a,b) nonzero,
    *     (a,a,a) for a self-pair — making left-to-right application
    *     4-gram-dependent.
    * Every batch emits ≥ 1 rule, so the worst case is the one-rule
    * baseline loop, never below it. Exactness (not approximation) is the
    * contract: `BpeSpec` replays random corpora against the sequential
    * reference.
    */
  def planBatchExact(pairs: Map[(String, String), Long],
                     triples: Map[(String, String, String), Long],
                     maxMerges: Int): Seq[(String, String)] = {
    // index the triple table by the rule pair it contextualizes, ONCE per
    // snapshot — without it each emitted rule rescans all |triples| rows,
    // quadratic driver work across a production 32k-rule run (the per-rule
    // argmax below stays a linear scan, the same cost class trainLocal
    // accepts per round)
    val leftCtx = triples.toSeq.groupBy { case ((_, y, z), _) => (y, z) }
    val rightCtx = triples.toSeq.groupBy { case ((x, y, _), _) => (x, y) }
    val known = scala.collection.mutable.Map.from(pairs)
    val newPairs = scala.collection.mutable.Set.empty[(String, String)]
    val touched = scala.collection.mutable.Set.empty[String]
    val mergedStrs = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var open = true
    while (open && out.length < maxMerges) {
      // exact argmax by (count DESC, pair ASC-in-UTF-8-binary-order) over
      // maintained counts — the same collation as the cluster/oracle paths
      var best: ((String, String), Long) = null
      known.foreach { e =>
        if (best == null || e._2 > best._2 ||
          (e._2 == best._2 && pairLt(e._1, best._1)))
          best = e
      }
      if (best == null || best._2 < 2L) open = false // exhausted — exact, no unknowns
      else {
        val (a, b) = best._1
        out += ((a, b))
        val m = a + b
        // distinct: the one triple shape in both indexes, (a,a,a) under a
        // self-pair rule, must appear once (as the old linear filter had
        // it); it is unreachable past `clean` anyway
        val contexts = (leftCtx.getOrElse((a, b), Nil) ++
          rightCtx.getOrElse((a, b), Nil)).distinct
        val clean = !newPairs(best._1) &&
          !touched(a) && !touched(b) && !mergedStrs(a) && !mergedStrs(b) &&
          triples.getOrElse((a, b, a), 0L) == 0L &&
          triples.getOrElse((b, a, b), 0L) == 0L &&
          contexts.forall { case ((x, y, z), _) =>
            val ctx = if (y == a && z == b) x else z
            !touched(ctx) && !mergedStrs(ctx)
          }
        if (!clean) open = false // rule emitted; updates beyond proof — stop
        else {
          known.remove((a, b))
          contexts.foreach { case ((x, y, z), c) =>
            if (y == a && z == b) { // left context: (x,a) -> (x, m)
              known.updateWith((x, a))(_.map(_ - c).filter(_ != 0L))
              known.updateWith((x, m))(o => Some(o.getOrElse(0L) + c))
              newPairs += ((x, m))
            } else { // right context: (b,z) -> (m, z)
              known.updateWith((b, z))(_.map(_ - c).filter(_ != 0L))
              known.updateWith((m, z))(o => Some(o.getOrElse(0L) + c))
              newPairs += ((m, z))
            }
          }
          touched += a += b
          mergedStrs += m
        }
      }
    }
    out.toSeq
  }

  /** Consecutive one-rule statistics batches before the batched loop
    * concludes the corpus doesn't chain (random/adversarial text
    * self-chains almost every rule) and drops to plain one-rule argmax
    * jobs; it retries a statistics snapshot every [[StatsRetryEvery]]
    * rounds in case later symbolizations chain again.
    */
  val DegenerateAfter: Int = 2
  val StatsRetryEvery: Int = 8

  /** Distributed merge loop, BATCHED: one Spark job freezes the complete
    * pair+triple statistics ([[collectStats]] — one scan, one shuffle,
    * one capped collect, map-side rows equal to a plain pair job via the
    * padded-triple trick), [[planBatchExact]] proves as many sequential
    * rules from the frozen tables as their exactness holds, and one typed
    * map applies the whole batch. Output is EXACTLY [[trainDistributed]]'s
    * — spec-proven against the sequential reference on random corpora.
    *
    * The win is driver round-trips per rule on corpora whose merge
    * schedules CHAIN (natural language does: es→est-style shared-symbol
    * merges). Measured at sf0.1 documents (16 rules, warm session):
    * 7 snapshots for 16 rules (2.3 rules/job), 3.12 s vs the one-rule
    * loop's 3.84 s (0.81×). Random text is the opposite regime — nearly
    * every rule self-chains, batches degenerate to one rule, and the
    * stats job's wider shuffle (triple types ≫ pair types) made the loop
    * 1.5× SLOWER on a 3M-word base36 corpus — so the loop is adaptive:
    * after [[DegenerateAfter]] consecutive one-rule batches it switches
    * to plain one-rule argmax jobs (the baseline's exact step) and
    * retries a statistics snapshot every [[StatsRetryEvery]] rounds,
    * bounding the adversarial case near baseline (measured 32.7 s vs
    * 27.4 s = 1.19×, 3 stats + 13 argmax jobs for 16 rules, on the same
    * 3M-word corpus) while keeping the chaining win. At a production
    * 32k-rule vocabulary the expected mix is batch-deep on the early
    * Zipf-dominated rules and argmax-bound on the tail, with the retry
    * re-arming batching whenever the symbolization chains again — the
    * worst case is the one-rule baseline plus one stats retry per
    * [[StatsRetryEvery]] rounds, never an extra scan of the corpus
    * (everything here is vocabulary-sized). If the statistics table
    * outgrows
    * `statsCap` (default [[StatsCapDefault]]; adversarially large symbol
    * alphabet — injectable so specs can force the branch), the snapshot
    * degrades to a top-`topM` pairs-only proof ([[planBatch]]).
    */
  def trainDistributedBatched(docs: DataFrame, textCol: String, rounds: Int,
                              topM: Int = 64,
                              statsCap: Int = StatsCapDefault): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = symVocab(docs, textCol)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var batches = 0
    var exhausted = false
    var oneRuleBatches = 0 // consecutive stats batches that landed 1 rule
    var sinceStats = 0     // one-rule-mode rounds since the last stats try
    while (merges.length < rounds && !exhausted) {
      val degenerate = oneRuleBatches >= DegenerateAfter
      val batch =
        if (degenerate && sinceStats < StatsRetryEvery) {
          // the corpus isn't chaining: a plain argmax job (1 row to the
          // driver) is cheaper than a statistics snapshot
          sinceStats += 1
          symPairCounts(vocab)
            .orderBy(col("freq").desc, col("left").asc, col("right").asc)
            .limit(1)
            .as[(String, String, Long)]
            .collect()
            .collect { case (a, b, f) if f >= 2L => (a, b) }.toSeq
        } else {
          sinceStats = 0
          val planned = collectStats(vocab, statsCap) match {
            case Some((pairs, triples)) =>
              planBatchExact(pairs, triples, rounds - merges.length)
            case None => // stats table too big to land: pairs-only top-M proof
              val rows = symPairCounts(vocab)
                .orderBy(col("freq").desc, col("left").asc, col("right").asc)
                .limit(topM + 1)
                .as[(String, String, Long)]
                .collect()
              val frozen = rows.iterator.map { case (l, r, f) => ((l, r), f) }.toSeq
              planBatch(frozen, rows.length <= topM, rounds - merges.length)
          }
          oneRuleBatches = if (planned.length <= 1) oneRuleBatches + 1 else 0
          planned
        }
      if (batch.isEmpty) exhausted = true
      else {
        merges ++= batch
        vocab = vocab.map(w => BpeSymWord(applyMerges(w.syms, batch), w.wfreq))
        batches += 1
        if ((batches % 4) == 0)
          vocab = Lineage.cut(vocab.toDF()).as[BpeSymWord]
      }
    }
    merges.toSeq
  }

  /** The ranked merge table as a rank lookup: (left, right) → rank, lower =
    * higher priority (training order).
    */
  def rankMap(merges: Seq[(String, String)]): Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** ENCODE one word under a ranked merge table — the inference half of the
    * tokenizer (the path every token-denominated pipeline statistic needs;
    * training alone never tokenizes a corpus). Semantics: repeatedly merge
    * the LEFTMOST occurrence of the LOWEST-RANK pair present, until no
    * ranked pair remains. This is canonical rank-greedy BPE encoding with a
    * fully deterministic step order; merging one occurrence per step (rather
    * than all occurrences of the best pair at once) is the tie-break the
    * DuckDB oracle replays exactly — the two conventions only differ inside
    * odd-length runs of a self-adjacent pair, and the single-step rule makes
    * the choice explicit instead of data-dependent. O(|word| · merges
    * applied) with O(1) rank lookups; words are short, so the rescan per
    * step never matters against the corpus rollup.
    */
  def encodeWord(word: String, rank: Map[(String, String), Int]): Seq[String] = {
    val syms = scala.collection.mutable.ArrayBuffer.from[String](codePoints(word))
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestPos = -1
      var i = 0
      while (i < syms.length - 1) {
        rank.get((syms(i), syms(i + 1))) match {
          case Some(r) if r < bestRank => bestRank = r; bestPos = i
          case _ =>
        }
        i += 1
      }
      if (bestPos < 0) done = true
      else {
        val merged = syms(bestPos) + syms(bestPos + 1)
        syms.remove(bestPos + 1)
        syms.update(bestPos, merged)
        done = syms.length < 2
      }
    }
    syms.toSeq
  }

  /** Encode the (word, freq) VOCABULARY under the ranked merges — the
    * corpus-scale shape of tokenization: the corpus rolls up to the
    * vocabulary once (the only corpus-sized stage), each distinct word is
    * encoded exactly once here (vocabulary-sized, embarrassingly parallel,
    * no shuffle), and corpus token statistics come from joining the token
    * stream back through the word column. One `mapPartitions` with the
    * rank map built once per partition from the broadcast merge list.
    */
  def encodeVocab(vocab: DataFrame, merges: Seq[(String, String)]): Dataset[BpeEncWord] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges)
    vocab.select(col("word"), col("wfreq")).as[(String, Long)]
      .mapPartitions { it =>
        val rank = rankMap(bc.value) // once per partition, O(1) per lookup
        it.map { case (w, f) => BpeEncWord(w, f, encodeWord(w, rank)) }
      }
  }

  /** The deterministic top-`k` round-1 pair list of a prebuilt vocabulary
    * AS a ranked merge table — (freq DESC, pair ASC) order, collected to the
    * driver (k rows, bounded by construction; same pattern as the trainer's
    * argmax). This is the merge list `q_bpe_encode`'s oracle re-derives in
    * SQL; full multi-round merges from [[train]] plug into [[encodeVocab]]
    * the same way. See [[topPairsOfVocab]] for why the vocabulary seam
    * exists.
    */
  def rankedPairMergesOfVocab(vocab: DataFrame, k: Int): Seq[(String, String)] =
    topPairsOfVocab(vocab, k).select("pair").collect()
      .map { r => // a "pair" is TWO CODE POINTS (Spark substr counts code
        // points) — JVM substring(0,1)/(1,2) would tear an astral first char
        val cps = codePoints(r.getString(0))
        (cps(0), cps(1))
      }
      .toSeq

  /** Per-document BPE token counts under the ranked merges — the
    * token-budget denominator a real pipeline uses where the whitespace
    * count (`q_token_budget`) approximates. Scale shape: encode the
    * vocabulary once (vocabulary-sized), then one broadcast join of the
    * (word → n_toks) table onto the corpus word stream and a per-doc sum —
    * the corpus is scanned once and shuffled only on `doc_id`.
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame =
    bpeTokenCountsWith(docs, idCol, textCol,
      encodeVocab(wordVocab(docs, textCol), merges).toDF()
        .select(col("word"), size(col("toks")).cast("long").as("n_toks")))

  /** The deterministic top-`k` per-word BPE token-count table from ONE
    * [[Lineage.cut]] vocabulary rollup — the SINGLE builder every
    * token-denominator consumer shares (`q_bpe_budget`, `q_bpe_fertility`,
    * and the `_bpe` curation twins all gate the same merge semantics, so
    * the denominator must be constructed in exactly one place).
    * Broadcast-sized: one row per distinct corpus word.
    */
  def wordTokenTable(docs: DataFrame, textCol: String, k: Int): DataFrame =
    encodedVocabTable(docs, textCol, k)
      .select(col("word"), size(col("toks")).cast("long").as("n_toks"))

  /** The deterministic top-`k` encoded vocabulary as (word, toks) — the
    * segment-level sibling of [[wordTokenTable]] from the SAME single
    * [[Lineage.cut]] rollup, for consumers that need the token STRINGS
    * (BPE-token vocabulary stats, OOV against a subword vocabulary), not
    * just their count. Broadcast-sized: one row per distinct corpus word.
    */
  def encodedVocabTable(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val vocab = Lineage.cut(wordVocab(docs, textCol))
    encodeVocab(vocab, rankedPairMergesOfVocab(vocab, k)).toDF()
      .select(col("word"), col("toks"))
  }

  /** [[bpeTokenCounts]] against a prebuilt broadcastable (word, n_toks)
    * table — the seam callers with a shared vocabulary use.
    */
  def bpeTokenCountsWith(docs: DataFrame, idCol: String, textCol: String,
                         wordToks: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(broadcast(wordToks), Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n_toks")).as("n_bpe_tokens"))

  /** Segment `word` with the learned merges (applied in training order) —
    * the inference half, driver-side over one word; used by specs to show
    * the rules round-trip.
    */
  def segment(word: String, merges: Seq[(String, String)]): Seq[String] =
    applyMerges(codePoints(word), merges)

  // ------------------------------------------------------- per-language BPE

  /** PER-LANGUAGE vocabulary: (lang_id, word, wfreq), with the language
    * label riding the word stream from the same scan ([[wordVocab]] keyed by
    * language) — the input of a multilingual tokenizer build, where each
    * language trains its own merge table instead of competing for slots in
    * one global ranking (the fertility-inequity fix `q_bpe_fertility`
    * measures the need for). Still the only corpus-sized stage.
    */
  def langWordVocab(docs: DataFrame, textCol: String,
                    lang: org.apache.spark.sql.Column): DataFrame =
    // two selects, NOT one: ExtractGenerator leaves non-generator select
    // items in a Project ABOVE the Generate, so a single
    // select(lang, explode(...)) re-evaluates the language expression (8
    // full-text regex scans) once per WORD row — measured 10x on q_bpe_bylang
    // at sf0.1. Projections do not collapse across a Generate, so computing
    // lang below the explode pins it to once per document.
    docs.select(lang.as("lang_id"), col(textCol).as("__text"))
      .select(col("lang_id"), explode(split(col("__text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("lang_id", "word").agg(count(lit(1)).as("wfreq"))

  /** Ranked round-1 merge candidates PER LANGUAGE — [[topPairsOfVocab]]'s
    * (freq DESC, pair ASC) order as a per-language `row_number` window
    * (partitioned on the tiny language domain over vocabulary-pair counts,
    * never corpus rows), keeping the top `k` of each language. Emits
    * (lang_id, merge_rank, pair, freq).
    */
  def pairsByLang(langVocab: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang_id").orderBy(col("freq").desc, col("pair").asc)
    langVocab.filter(length(col("word")) >= 2)
      .select(col("lang_id"), col("wfreq"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"), col("word"))
      .select(col("lang_id"), col("wfreq"),
        col("word").substr(col("i"), lit(2)).as("pair"))
      .groupBy("lang_id", "pair").agg(sum(col("wfreq")).as("freq"))
      .withColumn("merge_rank", row_number().over(w))
      .filter(col("merge_rank") <= k)
  }

  /** The per-language merge tables collected to the driver (≤ languages·k
    * rows, bounded by construction). Rank order is carried as DATA
    * (`merge_rank` from the cluster-side window), so no driver-side string
    * comparator can desync from the cluster/oracle collation ([[utf8Lt]]'s
    * hazard never arises).
    */
  def rankedPairMergesByLang(langVocab: DataFrame,
                             k: Int): Map[String, Seq[(String, String)]] =
    pairsByLang(langVocab, k)
      .select("lang_id", "merge_rank", "pair").collect()
      .groupBy(_.getString(0))
      .map { case (langId, rows) =>
        langId -> rows.sortBy(_.getInt(1)).map { r =>
          val cps = codePoints(r.getString(2)) // substr counts code points
          (cps(0), cps(1))
        }.toSeq
      }

  /** Encode each language's vocabulary under ITS OWN merge table — the
    * multilingual twin of [[encodeVocab]]: one `mapPartitions` pass over
    * the (lang_id, word, wfreq) vocabulary with per-language rank maps
    * built lazily from the broadcast tables; vocabulary-sized, no shuffle.
    */
  def encodeVocabByLang(langVocab: DataFrame,
      mergesByLang: Map[String, Seq[(String, String)]]): Dataset[BpeLangEncWord] = {
    val spark = langVocab.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(mergesByLang)
    langVocab.select(col("lang_id"), col("word"), col("wfreq"))
      .as[(String, String, Long)]
      .mapPartitions { it =>
        val ranks = scala.collection.mutable.HashMap.empty[String, Map[(String, String), Int]]
        it.map { case (langId, w, f) =>
          val rank = ranks.getOrElseUpdate(langId,
            rankMap(bc.value.getOrElse(langId, Seq.empty)))
          BpeLangEncWord(langId, w, f, encodeWord(w, rank))
        }
      }
  }
}
