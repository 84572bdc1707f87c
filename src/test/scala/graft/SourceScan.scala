package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

/** Source scans for rules a type cannot carry ("only X may call Y"): the
  * code lines of the repository's Scala sources that match a pattern.
  * Lines that open or continue a comment are skipped, so scaladoc may name
  * the call freely.
  */
object SourceScan {

  val base: Path = Paths.get(sys.props.getOrElse("user.dir", "."))

  /** 1-based numbers of `file`'s code lines matching `pattern`. */
  def codeLines(file: Path, pattern: Regex): Seq[Int] =
    Files.readAllLines(file).asScala.toSeq.zipWithIndex.collect {
      case (line, i) if !Seq("*", "//", "/*").exists(line.trim.startsWith) &&
        pattern.findFirstIn(line).isDefined => i + 1
    }

  /** Every `.scala` file under the repository-relative `roots`. */
  def scalaFiles(roots: String*): Seq[Path] = roots.flatMap { root =>
    Using.resource(Files.walk(base.resolve(root))) { paths =>
      paths.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    }
  }
}
