package graft.operators

import org.apache.spark.sql.DataFrame

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Concurrent materialization of INDEPENDENT DataFrames.
  *
  * Spark parallelizes the independent branches of ONE action automatically
  * (stages with no parent dependency schedule together), but SEPARATE eager
  * checkpoints are separate actions and run back-to-back — a pipeline that
  * materializes a doc-facts frame, a shingle-intersection frame, and an
  * embedding-pair frame as three sequential `localCheckpoint(true)` calls
  * pays the SUM of the three jobs even though they share nothing. Submitting
  * the actions from separate threads lets the scheduler interleave their
  * tasks, so the wall-clock cost is the max, not the sum — on a cluster this
  * is the difference between utilizing the executors and draining them
  * between jobs.
  *
  * [[ckpt]]/[[await]] expose the futures directly so a caller can express a
  * DATAFLOW: a stage that needs only one of the base frames (`fut.map(...)`)
  * starts the moment that frame lands, overlapping with the still-running
  * siblings — e.g. the decision table's hash-canonical windows run while the
  * shingle join and the iterative connected-components rounds are still in
  * flight.
  *
  * `SparkSession` job submission is thread-safe; results are unchanged (the
  * frames are independent by contract). Exceptions propagate from whichever
  * materialization failed.
  */
object Par {

  /** Shared pool for materialization threads — the threads only BLOCK on
    * Spark actions (the work happens on Spark's scheduler), so the global
    * pool's cores-sized default is plenty.
    *
    * Priced against strict program order (every future body run inline on
    * the calling thread, the since-deleted `GRAFT_PAR_SERIAL=1` baseline) on
    * `Explain q_dedup_decision <sf0.1> 2`, warm run 2, local[4] on 4 vCPUs,
    * three alternating runs each: serial 12.94 / 16.40 / 16.84 s vs
    * overlapped 12.92 / 18.15 / 13.75 s, medians 16.40 vs 13.75 s — a
    * difference inside the runs' own spread, so unresolved at 4 cores. At
    * local[32] (r9) the same pair read 7.13 vs 5.20 s (1.37×).
    */
  implicit val ec: ExecutionContext = ExecutionContext.global

  /** Submit an eager localCheckpoint on a pool thread (a [[Lineage]] cut,
    * so plan audits see through it).
    */
  def ckpt(df: DataFrame): Future[DataFrame] = Future(Lineage.cut(df))

  def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
}
