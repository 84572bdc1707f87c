package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = SparkEntry.session(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Walk a physical plan INCLUDING the AQE-wrapped input plan and every
    * subquery — the one plan walker every structural audit shares, so an
    * AQE/subquery handling fix lands in all of them at once.
    */
  protected def collectPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: collectPlan(a.inputPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(collectPlan)
  }
}
