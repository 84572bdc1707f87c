package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.operators.Lineage

/** Plan-identity dump: one line per registered query with its optimized
  * logical plan, built under [[Lineage.withoutCuts]] the way
  * `PlanAuditSpec.fullPlans` builds it, then one line per oracle SQL string
  * with whitespace runs collapsed. Run-dependent tokens are masked
  * (expression ids `#123`, JVM identity hashes, lambda class names, the
  * application id inside artifact paths), and each query is built from a
  * fixed expression-id base — the distinct-aggregate rewrite orders its
  * `Expand` groups by expression hashes, which carry the ids. So two runs
  * of one build print byte-identical files and `diff` of two builds' files
  * shows exactly the plans and oracle strings a change moved.
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump <sfDir> <out>"
  * }}}
  */
object PlanDump {

  private val masks: Seq[(scala.util.matching.Regex, String)] = Seq(
    """\$\$Lambda[$/\w]*""".r -> "\\$\\$Lambda",
    """@[0-9a-f]{4,}\b""".r -> "@H",
    """0x[0-9a-f]+""".r -> "0xH",
    """#\d+""".r -> "#",
    """local-\d+""".r -> "local-APP")

  def mask(s: String): String = masks.foldLeft(s) { case (acc, (re, to)) => re.replaceAllIn(acc, to) }

  /** Restart expression ids at `base` (above every id issued so far, so no
    * id is reused).
    */
  private def startExprIdsAt(base: Long): Unit = {
    val m = org.apache.spark.sql.catalyst.expressions.NamedExpression
    val f = m.getClass.getDeclaredField("curId")
    f.setAccessible(true)
    f.get(m).asInstanceOf[java.util.concurrent.atomic.AtomicLong].set(base)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <sfDir> <out>")
    val Array(sfDir, out) = args
    val spark = SparkEntry.session()
    val planLines = Lineage.withoutCuts {
      SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (name, i) =>
        startExprIdsAt((i + 1).toLong << 32)
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
          .treeString(verbose = true, addSuffix = false, maxFields = Int.MaxValue)
        s"plan $name ${mask(plan).replace("\n", " | ")}"
      }
    }
    val oracleLines = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (name, sql) =>
      s"oracle $name ${sql.trim.replaceAll("\\s+", " ")}"
    }
    Files.write(Paths.get(out),
      (planLines ++ oracleLines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] ${planLines.size} plans, ${oracleLines.size} oracle strings -> $out")
    spark.stop()
  }
}
