package graft

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One definition per ANN kernel: the tie-breaks that decide which centroid
  * a vector or a query lands in are written once in the main sources, so an
  * assignment and a probe can never rank centroids differently. Pure source
  * scan — no SparkSession needed.
  */
class AnnKernelSpec extends AnyFunSuite {

  private def codeLinesOf(literal: String): Seq[String] = {
    val re = new Regex(Regex.quote(literal))
    SourceScan.scalaFiles("src/main/scala")
      .flatMap(f => SourceScan.codeLines(f, re).map(n => s"$f:$n"))
  }

  test("the centroid-probe ranking appears on exactly one code line of src/main") {
    val hits = codeLinesOf("""orderBy(col("c_score").desc, col("cent_id").asc)""")
    // exactly one, not zero: the scan must see the definition it protects
    assert(hits.size == 1, s"probe ranking must be defined once, found at: ${hits.mkString(", ")}")
  }

  test("the assignment argmax appears on exactly one code line of src/main") {
    val hits = codeLinesOf("""max_by(struct(col("cent_id"), col("score"))""")
    assert(hits.size == 1, s"assignment argmax must be defined once, found at: ${hits.mkString(", ")}")
  }
}
