package graft

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One definition per ANN kernel: the tie-breaks that decide which centroid
  * a vector or a query lands in are written once in the main sources, so an
  * assignment and a probe can never rank centroids differently. Pure source
  * scan — no SparkSession needed.
  */
class AnnKernelSpec extends AnyFunSuite {

  private def codeLinesOf(literal: String): Seq[String] =
    codeLinesMatching(new Regex(Regex.quote(literal)))

  private def codeLinesMatching(re: Regex): Seq[String] =
    SourceScan.scalaFiles("src/main/scala")
      .flatMap(f => SourceScan.codeLines(f, re).map(n => s"$f:$n"))

  test("the centroid-probe ranking appears on exactly one code line of src/main") {
    val hits = codeLinesOf("""orderBy(col("c_score").desc, col("cent_id").asc)""")
    // exactly one, not zero: the scan must see the definition it protects
    assert(hits.size == 1, s"probe ranking must be defined once, found at: ${hits.mkString(", ")}")
  }

  test("the assignment argmax appears on exactly one code line of src/main") {
    val hits = codeLinesOf("""max_by(struct(col("cent_id"), col("score"))""")
    assert(hits.size == 1, s"assignment argmax must be defined once, found at: ${hits.mkString(", ")}")
  }

  /** Every global recall row's oracle is written by
    * `Embeddings.knnRecallTotalsSql`; a gate that pastes its own totals
    * SELECT can drift from the Spark row on ties or NULLs. `total\b` keeps
    * unrelated `total_*` columns out of the match.
    */
  test("the totals-row oracle SELECT appears on exactly one code line of src/main") {
    val hits = codeLinesMatching(raw"count\(\*\)::BIGINT AS total\b".r)
    assert(hits.size == 1, s"totals SELECT must be written once, found at: ${hits.mkString(", ")}")
  }

  test("the Spark recall-row cost column appears on exactly one code line of src/main") {
    val hits = codeLinesMatching(raw"crossJoin\(broadcast\(.*count\(lit\(1\)\)\.as\(".r)
    assert(hits.size == 1, s"recall-row cost column must be built once, found at: ${hits.mkString(", ")}")
  }

  /** Every Scala dot product — the expression's interpreted path, the
    * NN-Descent driver rounds, MMR selection — calls
    * `DotProductExpression.dot`, so a driver-side score cannot drift from
    * the distributed one. The codegen template (`(double) $a.getFloat`) is
    * the kernel's only other spelling and does not match.
    */
  test("the float dot-product loop appears on exactly one code line of src/main") {
    val hits = codeLinesMatching(raw"[\w.]+\(\w+\)\.toDouble \* [\w.]+\(\w+\)\.toDouble".r)
    assert(hits.size == 1, s"dot kernel must be written once, found at: ${hits.mkString(", ")}")
  }
}
