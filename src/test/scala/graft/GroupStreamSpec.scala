package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{ConnectedComponents, TextDedup}
import graft.streaming.GroupStream

/** The incremental group maintainer against the distributed batch algorithm:
  * the same pair evidence, chunked into different trigger counts, must yield
  * a snapshot identical to [[ConnectedComponents.run]] — including across a
  * cross-batch MERGE (two groups built in earlier triggers joined by a later
  * bridge pair, the case per-batch-local grouping gets wrong) — and the
  * maintainer must compose with the REAL ingest probe
  * ([[TextDedup.nearDupProbeStream]]) end-to-end.
  */
class GroupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ccLabels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("u", "v"), "u", "v")
      .as[(Long, Long)].collect().toMap

  /** Stream `edges` in `nChunks` triggers into a maintainer on `base`. */
  private def runChunkedOn(edges: Seq[(Long, Long)], nChunks: Int,
                           base: Map[Long, Long]): ConnectedComponents.CompactedUnionFind = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val uf = new ConnectedComponents.CompactedUnionFind(base.get)
    val q = GroupStream.maintainGroups(
      in.toDF().toDF("u", "v"), "u", "v", uf,
      Files.createTempDirectory(s"grp-ck-$nChunks").toString)
    val size = math.max(1, math.ceil(edges.size.toDouble / nChunks).toInt)
    edges.grouped(size).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    uf
  }

  /** A maintainer on an empty base: every vertex is fresh. */
  private def runChunked(edges: Seq[(Long, Long)], nChunks: Int): Map[Long, Long] =
    runChunkedOn(edges, nChunks, Map.empty).freshSnapshot

  test("streamed union-find equals batch CC across trigger chunkings") {
    // bridge pair (6,16) arrives LAST: two separately-built groups must merge
    val edges = Seq(
      (5L, 6L), (6L, 7L), (15L, 16L), (16L, 17L), (30L, 31L),
      (7L, 8L), (17L, 18L), (40L, 40L), // self-loop tolerated
      (6L, 16L))
    val expected = ccLabels(edges)
    Seq(1, 3, 9).foreach { n =>
      val got = runChunked(edges, n)
      assert(got === expected, s"nChunks=$n diverged from batch CC")
    }
    // the merge actually happened: one component spans both early groups
    assert(expected(18L) === 5L && expected(8L) === 5L)
  }

  /** The distributed escalation seam: batch-compact phase-A evidence, restart
    * the driver tier as a DELTA over the compacted labels, stream phase B —
    * the merged labeling must equal batch CC over the FULL history at every
    * chunking (bridge merges across the seam and a fresh-vertex NEW MINIMUM
    * relabeling an old component included), with driver state bounded by
    * post-compaction evidence and redelivery still idempotent.
    */
  test("compaction handoff: merged labels equal batch CC over the full history") {
    val phaseA = Seq((5L, 6L), (6L, 7L), (15L, 16L), (16L, 17L), (30L, 31L))
    val phaseB = Seq(
      (6L, 16L),  // bridges two compacted components across the seam
      (50L, 51L), // an all-fresh component the labels table never saw
      (2L, 30L),  // fresh id 2 becomes the NEW min label of old {30,31}
      (17L, 17L)) // self-loop tolerated
    val labels = GroupStream.compactPairLog(phaseA.toDF("u", "v"), "u", "v")
      .localCheckpoint(true)
    val labelMap = labels.as[(Long, Long)].collect().toMap
    assert(labelMap === ccLabels(phaseA), "compaction must reproduce batch labels")
    val expected = ccLabels(phaseA ++ phaseB)
    Seq(1, 2, 4).foreach { n =>
      val uf = runChunkedOn(phaseB, n, labelMap)
      val merged = GroupStream.mergedLabels(labels, uf)
        .as[(Long, Long)].collect().toMap
      assert(merged === expected, s"nChunks=$n diverged across the seam")
      // bounded driver state: 3 merging unions + 3 fresh vertices — never
      // the 8-vertex compacted history
      assert(uf.deltaSize === 6, s"delta state grew: ${uf.deltaSize}")
    }
    // at-least-once redelivery across the seam stays idempotent
    val uf2 = new ConnectedComponents.CompactedUnionFind(labelMap.get)
    (phaseB ++ phaseB).foreach { case (a, b) => uf2.union(a, b) }
    assert(GroupStream.mergedLabels(labels, uf2).as[(Long, Long)].collect().toMap
      === expected)
    assert(uf2.deltaSize === 6)
    // find() is a PURE read: probing an unseen vertex must not grow the
    // delta or add a spurious singleton to the merged labeling
    val sizeBefore = uf2.deltaSize
    assert(uf2.find(999L) === 999L && uf2.find(999L) === 999L)
    assert(uf2.deltaSize === sizeBefore, "find() mutated delta state")
    assert(GroupStream.mergedLabels(labels, uf2).as[(Long, Long)].collect().toMap
      === expected, "find() injected a row into the merged labeling")
    // the new-min case actually exercised: old component {30,31} relabeled 2
    assert(expected(31L) === 2L && expected(30L) === 2L)
  }

  test("property: random edge streams equal batch CC at every chunking") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val edges = Seq.fill(30)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val expected = ccLabels(edges)
      assert(runChunked(edges, 4) === expected)
    }
  }

  test("property: random compaction seams equal batch CC over full history") {
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { _ =>
      val a = Seq.fill(20)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val b = Seq.fill(20)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val labelMap = ccLabels(a)
      val uf = new ConnectedComponents.CompactedUnionFind(labelMap.get)
      b.foreach { case (x, y) => uf.union(x, y) }
      val merged = GroupStream.mergedLabels(labelMap.toSeq.toDF("id", "comp"), uf)
        .as[(Long, Long)].collect().toMap
      assert(merged === ccLabels(a ++ b))
    }
  }

  test("end-to-end: probe stream pairs fold into the batch groups") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val shifted = (3 to 32).map(i => s"token$i").mkString(" ")
    val unrelated = (51 to 80).map(i => s"token$i").mkString(" ")
    val index = TextDedup.lshBandedIndex(
      Seq(10L -> base, 11L -> shifted, 12L -> unrelated).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, numHashes = 32, rowsPerBand = 2)

    val in = MemoryStream[(Long, String, Timestamp)]
    val pairs = TextDedup.nearDupProbeStream(
      in.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      "10 seconds", index, n = 3, thresholdPct = 60,
      numHashes = 32, rowsPerBand = 2)
    val uf = new ConnectedComponents.CompactedUnionFind(_ => None)
    val q = GroupStream.maintainGroups(pairs, "probe_id", "match_id", uf,
      Files.createTempDirectory("grp-probe-ck").toString)

    val t0 = new Timestamp(1700000000000L)
    // 100 matches both indexed near-dups of base; 101 matches nothing
    in.addData(Seq((100L, base + " extra", t0), (101L, "zebra yak xylo", t0)))
    q.processAllAvailable()
    // a second arrival matching the shifted doc joins the SAME group
    in.addData(Seq((102L, shifted + " tail", t0)))
    q.processAllAvailable()
    q.stop()

    val snap = uf.freshSnapshot
    assert(snap.nonEmpty)
    // every matched probe doc and its index targets share one min-label group
    val grouped = Set(10L, 11L, 100L, 102L).map(snap)
    assert(grouped.size === 1 && grouped.head === 10L,
      s"probe evidence must form one min-labeled group: $snap")
    assert(!snap.contains(101L), "an unmatched doc contributes no pair")
  }
}
