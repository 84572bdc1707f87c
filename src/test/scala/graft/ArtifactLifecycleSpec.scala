package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EmbeddingQueries

/** Lifecycle of the persisted-index artifacts (`EmbeddingQueries.gsIndex`/
  * `pqIndex` plumbing): completion is gated by ONE root-level manifest
  * written after every part, and orphan trees left in tmp by hard-killed
  * sessions are reclaimed age-based by the next build. Pure file-system
  * contracts — no SparkSession needed.
  */
class ArtifactLifecycleSpec extends AnyFunSuite {

  test("ensureArtifact builds once, and a missing manifest forces a full rebuild") {
    // the ensure SWEEPS the root's parent for orphan trees: give the test
    // an isolated parent so `sbt test` can never reclaim a real session's
    // >TTL-old artifact still being served from the shared tmpdir
    // (review catch)
    val root = Files.createTempDirectory("graft_test_ensure")
      .resolve("graft_gsidx_appX_root").toString
    var builds = 0
    // the write closure creates the tree (as the parquet writers do) —
    // the manifest lands in what the write produced
    def build(): Unit = { new java.io.File(root).mkdirs(); builds += 1 }
    EmbeddingQueries.ensureArtifact(root, "appX") { build() }
    assert(builds == 1)
    assert(new java.io.File(root, EmbeddingQueries.ArtifactManifest).exists,
      "manifest marker not written after a successful build")
    EmbeddingQueries.ensureArtifact(root, "appX") { build() }
    assert(builds == 1, "rebuilt despite a present manifest")

    // the crash-between-parts hole the manifest closes: parts that look
    // complete on their own (per-part _SUCCESS markers present) but no
    // root manifest — a later ensure must run the FULL build again, not
    // trust the partial tree
    new java.io.File(root, EmbeddingQueries.ArtifactManifest).delete()
    Seq("codes", "assigned").foreach { p =>
      val d = new java.io.File(root, p); d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile()
    }
    EmbeddingQueries.ensureArtifact(root, "appX") { build() }
    assert(builds == 2,
      "complete-looking parts without the root manifest did not force a rebuild")
  }

  test("two threads ensuring one fresh root run the build once") {
    val root = Files.createTempDirectory("graft_test_race")
      .resolve("graft_pqidx_appR_root").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    // each build waits (bounded) for a second build to start: two unlocked
    // ensures both pass the manifest check and both build; a locked ensure
    // holds the second thread until the first build's manifest is written
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    def ensure(): Thread = {
      val t = new Thread(() => EmbeddingQueries.ensureArtifact(root, "appR") {
        builds.incrementAndGet()
        bothIn.countDown()
        bothIn.await(2, java.util.concurrent.TimeUnit.SECONDS)
        new java.io.File(root).mkdirs(); ()
      })
      t.start(); t
    }
    Seq(ensure(), ensure()).foreach(_.join())
    assert(builds.get == 1, s"the build body ran ${builds.get} times for one root")
    assert(new java.io.File(root, EmbeddingQueries.ArtifactManifest).exists)
  }

  test("orphan sweep reclaims only dead sessions' stale trees") {
    val parent = Files.createTempDirectory("graft_test_sweep").toFile
    val now = System.currentTimeMillis()
    def mk(name: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(parent, name); d.mkdirs()
      new java.io.File(d, "part-00000").createNewFile()
      d.setLastModified(now - ageMs); d
    }
    val ttl = EmbeddingQueries.OrphanArtifactTtlMs
    val deadOld = mk("graft_gsidx_deadapp_aaa", 2 * ttl)
    val deadOldPq = mk("graft_pqidx_deadapp_bbb", 2 * ttl)
    val otherYoung = mk("graft_gsidx_liveapp_ccc", 1000L) // concurrent session
    val mineOld = mk("graft_pqidx_myapp_ddd", 2 * ttl) // belt: never mine
    val unrelated = mk("some_other_dir", 2 * ttl) // not an artifact tree
    EmbeddingQueries.sweepOrphanArtifacts(parent, "myapp", now)
    assert(!deadOld.exists, "stale dead-session gsidx tree not reclaimed")
    assert(!deadOldPq.exists, "stale dead-session pqidx tree not reclaimed")
    assert(otherYoung.exists, "young tree of a possibly-live session swept")
    assert(mineOld.exists, "current session's own tree swept")
    assert(unrelated.exists, "non-artifact directory swept")
  }
}
