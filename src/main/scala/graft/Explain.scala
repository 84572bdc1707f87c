package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool (measurement only): print the formatted physical plan of one
  * registered query, then time `runs` runs of it through the noop sink. The
  * last (warm) run is instrumented: a listener prints every job's wall time
  * and every stage's duration/task count, so a multi-job (checkpoint-chain)
  * query's cost can be attributed without the UI.
  * Usage: runMain graft.Explain <queryName> [sfDir] [runs]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 0
    val spark = SparkEntry.session()
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")

    val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val maxTask = scala.collection.concurrent.TrieMap.empty[Int, Long]
    @volatile var record = false
    @volatile var runStart = 0L
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) { jobStart(js.jobId) = js.time; () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (record) jobStart.get(je.jobId).foreach { t0 =>
          println(f"[jobs] job=${je.jobId}%4d wall=${(je.time - t0) / 1e3}%7.3fs")
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (record) {
          val cur = maxTask.getOrElse(te.stageId, 0L)
          if (te.taskInfo.duration > cur) { maxTask(te.stageId) = te.taskInfo.duration; () }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val dur = for {a <- si.completionTime; b <- si.submissionTime} yield (a - b) / 1e3
          val run = si.taskMetrics.executorRunTime / 1e3
          val rows = si.taskMetrics.shuffleReadMetrics.recordsRead +
            si.taskMetrics.inputMetrics.recordsRead
          // the first graft frame of the submission callsite names the
          // operator/future body the stage belongs to — the bare callsite is
          // just the action (localCheckpoint / future dispatch) and ambiguous;
          // a stage cut on a Par pool thread has no graft frame there and
          // carries the caller's frame, set by Par.ckpt, as its name
          val where = si.details.split('\n')
            .find(l => l.contains("graft.") && !l.contains("graft.Explain") &&
              !l.contains("graft.SparkEntry") && !l.contains("Lineage.scala") &&
              !l.contains("Par.scala"))
            .map(_.trim.replaceAll("^at ", ""))
            .orElse(Some(si.name).filter(_.startsWith("graft.")))
            .getOrElse("")
          // t0/t1 are submit/complete offsets from the run start — adjacent
          // stages with overlapping [t0, t1] windows really ran concurrently,
          // which a duration alone cannot show
          val sub = si.submissionTime.map(t => (t - runStart) / 1e3)
          val fin = si.completionTime.map(t => (t - runStart) / 1e3)
          println(f"[jobs]   stage=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"dur=${dur.getOrElse(-1.0)}%7.3fs cpu=$run%7.3fs " +
            f"maxTask=${maxTask.getOrElse(si.stageId, 0L) / 1e3}%6.3fs rows=$rows%8d " +
            f"t=[${sub.getOrElse(-1.0)}%6.2f,${fin.getOrElse(-1.0)}%6.2f] " +
            si.name.takeWhile(_ != '\n').take(30) + " @ " + where.take(70))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to runs).foreach { i =>
      record = i == runs // only instrument the last (warm) run
      runStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      SparkEntry.materialize(spark, name, sfDir)
      val took = (System.nanoTime() - t0) / 1e9
      // let straggling listener events drain before the summary line
      if (record) Thread.sleep(300)
      println(f"[explain] $name run $i took $took%.2f s")
    }
    spark.stop()
  }
}
