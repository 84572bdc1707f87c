package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
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

  /** The steady-trigger contract of a streaming state: each of
    * `steps` runs one trigger of a query whose plan holds still and whose
    * steps after the first deliver no event time above the first's, so the
    * watermark moves once, in the second trigger. The first two triggers
    * may compile; no later one may (a collection-typed state recompiles its
    * decoder once per trigger). Then `stop` ends the query, and the state it
    * wrote under `checkpoint` must hold no array or map.
    */
  protected def assertSteadyState(checkpoint: String, stop: () => Unit)(
      steps: Seq[() => Unit]): Unit = {
    val compiles = try steps.map { step =>
      step()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    } finally stop()
    assert(compiles.drop(1).forall(_ == compiles(1)),
      s"codegen compiles after steps 2..${steps.size}: ${compiles.drop(1).mkString(", ")}")

    def collection(t: DataType): Boolean = t match {
      case _: ArrayType | _: MapType => true
      case s: StructType => s.fields.exists(x => collection(x.dataType))
      case _ => false
    }
    val stateSchema = spark.read.format("statestore").load(checkpoint).schema
    assert(!collection(stateSchema), stateSchema.treeString)
  }
}
