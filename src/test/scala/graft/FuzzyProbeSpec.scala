package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.FuzzyJoin
import graft.streaming.EachBatch

/** The streamed fuzzy probe must emit, across arbitrary micro-batch cuts,
  * exactly the pairs the batch [[FuzzyJoin.probePairs]] finds on the whole
  * probe set — the operator is batch-local, so chunking must be invisible.
  */
class FuzzyProbeSpec extends SparkSpec {
  import spark.implicits._

  private val reference = Seq(
    (100L, "acme corp"), (101L, "globex"), (102L, "initech"),
    (103L, "hooli"), (104L, "umbrella"))

  private val probes = Seq(
    (1L, "acme corp"),   // exact duplicate -> dist 0
    (2L, "acme c0rp"),   // substitution    -> dist 1
    (3L, "globexx"),     // insertion       -> dist 1
    (4L, "initec"),      // deletion        -> dist 1
    (5L, "wayne ent"),   // no match
    (6L, "hooli"))       // exact

  test("streamed probe equals the batch operator across micro-batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = FuzzyJoin.variantIndex(reference.toDF("id", "name"), "id", "name")

    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = EachBatch(in.toDF().toDF("id", "name"),
      Files.createTempDirectory("fuzzyprobe-ck").toString) { (batch, _) =>
      val rows = FuzzyJoin.probePairs(batch, "id", "name", index)
        .as[(Long, Long, Long)].collect()
      emitted.synchronized { emitted ++= rows }
    }
    probes.grouped(2).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()

    val batch = FuzzyJoin.probePairs(probes.toDF("id", "name"), "id", "name", index)
      .as[(Long, Long, Long)].collect().toSet
    assert(emitted.synchronized(emitted.toSet) === batch,
      s"streamed ${emitted.toSet} != batch $batch")
    // the designed matches are all found, the non-match is not
    assert(batch.contains((1L, 100L, 0L)) && batch.contains((2L, 100L, 1L)))
    assert(batch.contains((3L, 101L, 1L)) && batch.contains((4L, 102L, 1L)))
    assert(batch.contains((6L, 103L, 0L)))
    assert(!batch.exists(_._1 == 5L))
  }
}
