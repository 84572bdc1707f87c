package graft

import scala.concurrent.Future

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.operators.Par

/** A cut submitted through [[Par.ckpt]] runs on a pool thread whose stack
  * holds no graft frame; its stages must still name the graft frame that
  * called `ckpt`, so `Explain` can attribute them.
  */
class ParCallSiteSpec extends SparkSpec {

  /** Stage names (short call sites) reported while `f` runs. */
  private def stageNames(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        names.synchronized { names += e.stageInfo.name; () }
    }
    sc.addSparkListener(listener)
    try {
      f
      // listener events arrive in order but asynchronously: once a marker
      // job's stage is reported, every stage `f` ran has been too
      sc.setCallSite(marker)
      try spark.range(1).rdd.count() finally sc.clearCallSite()
      val deadline = System.nanoTime() + 10000000000L
      while (!names.synchronized(names.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(names.synchronized(names.contains(marker)), "listener events never arrived")
      names.synchronized(names.filterNot(_ == marker).toList)
    } finally sc.removeSparkListener(listener)
  }

  test("stages of a Par.ckpt cut are attributed to the calling graft frame") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").repartition(3).groupBy($"x" % 7).count()
    val names = stageNames { Par.await(Par.ckpt(df)); () }
    assert(names.nonEmpty, "the cut ran no stage")
    names.foreach { n =>
      assert(n.startsWith("graft.ParCallSiteSpec") && n.contains("(ParCallSiteSpec.scala:"),
        s"stage not attributed to the calling frame: $n (all: $names)")
      assert(!n.contains("Par.scala") && !n.contains("Lineage.scala"), n)
    }

    // pool threads are reused: a later job on the pool no longer carries it
    val ckptSite = names.head
    val later = stageNames {
      import Par.ec
      Par.await(Future.sequence((1 to 8).map(i => Future(spark.range(0, 10 * i, 1, 2).count()))))
      ()
    }
    assert(later.nonEmpty && !later.contains(ckptSite),
      s"a reused pool thread kept the cut's call site: $later")
  }
}
