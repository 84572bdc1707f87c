package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming state-type rule as a check: a `GroupState` in the main
  * sources holds one `Array[Byte]` written by `graft.operators.StateCodec`,
  * or an allowlisted flat case class of scalars. A collection-typed state
  * recompiles its decoder once per trigger.
  */
class StateCodecSpec extends AnyFunSuite {

  /** Flat case classes of scalars that may be a state as they are. */
  private val FlatStates = Set("ShardCursor")

  test("every GroupState in the main sources holds a binary blob or a flat case class") {
    // the type argument, one level of nested brackets deep (`Array[Byte]`)
    val state = """\bGroupState\[((?:[^\[\]]|\[[^\[\]]*\])*)\]""".r
    val sites = SourceScan.scalaFiles("src/main/scala").flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f)
      SourceScan.codeLines(f, state).flatMap { n =>
        state.findAllMatchIn(lines.get(n - 1))
          .map(m => (s"${SourceScan.base.relativize(f)}:$n", m.group(1).trim))
      }
    }
    val bad = sites.filterNot { case (_, t) => t == "Array[Byte]" || FlatStates(t) }
    assert(bad.isEmpty, "hold the state as one Array[Byte] through StateCodec, not: " +
      bad.map { case (at, t) => s"GroupState[$t] at $at" }.mkString(", "))
    // the scan sees the blob states and the allowlisted one, so it is not vacuous
    assert(sites.count(_._2 == "Array[Byte]") >= 3 && sites.exists(s => FlatStates(s._2)),
      sites.mkString(", "))
  }
}
