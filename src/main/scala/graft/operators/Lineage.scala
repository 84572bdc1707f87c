package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** The ONE seam every lineage cut in the library goes through.
  *
  * `localCheckpoint(true)` is the right call at run time (materialize an
  * expensive frame once, truncate the lineage every consumer would otherwise
  * re-execute) — but a cut also HIDES the upstream plan from structural
  * audits: the physical plan of anything downstream of a checkpoint starts at
  * the checkpointed RDD, so a cartesian product or nested-loop join smuggled
  * into the producing pipeline never appears in the plan the audit walks.
  * Round-9 review found exactly this blind spot: `ConnectedComponents`'
  * per-round cuts hid an upstream broadcast-probe BNLJ, and the protection
  * ("remember to audit a lazy twin") was convention, not mechanism.
  *
  * This object makes it mechanism. Production code calls [[cut]] instead of
  * `localCheckpoint(true)`; the plan audit builds every registered query
  * inside [[withoutCuts]], which turns every cut in the library into the
  * identity — so the audited plan is the FULL lineage, construction runs no
  * checkpoint jobs, and no current or future cut site can hide a
  * scale-killer. Results are identical either way: a cut only changes
  * materialization, never semantics.
  *
  * The flag is a volatile global, not a DynamicVariable: [[Par]] runs cuts on
  * pool threads that a thread-local would not reach, and the only writer is
  * the serially-executed test suite (`build.sbt` parallelExecution=false).
  */
object Lineage {

  @volatile private var cutsEnabled: Boolean = true

  /** Materialize `df` and truncate its lineage — unless a surrounding
    * [[withoutCuts]] has disabled cuts, in which case `df` passes through
    * lazily with its full lineage intact.
    */
  def cut(df: DataFrame): DataFrame =
    if (cutsEnabled) df.localCheckpoint(true) else df

  /** A cut that lands on the DRIVER: `ds`'s rows, collected in one job, for
    * a caller that finishes its work there — or None under [[withoutCuts]],
    * where the caller keeps its lazy distributed path. A driver finish
    * returns a local frame, and a plan that starts at a local frame hides
    * its upstream pipeline exactly as a checkpoint does.
    */
  def collect[T](ds: Dataset[T]): Option[Array[T]] =
    if (cutsEnabled) Some(ds.collect()) else None

  /** Run `f` with every [[cut]] in the library degraded to the identity —
    * the plan-audit mode. Restores the PREVIOUS flag value on exit (also on
    * exception), so nested/overlapping scopes cannot re-enable cuts inside
    * an outer audit sweep — a silent re-enable would recreate the exact
    * checkpoint blind spot this mechanism closes.
    */
  def withoutCuts[A](f: => A): A = {
    val prev = cutsEnabled
    cutsEnabled = false
    try f finally cutsEnabled = prev
  }
}
