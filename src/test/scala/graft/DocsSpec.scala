package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** README names specs as the evidence for what the engine does: every
  * `…Spec` it names must exist under `src/test`, as a file or a class. */
class DocsSpec extends AnyFunSuite {

  private def scalaFiles(dir: File): Seq[File] =
    dir.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("every spec README names exists under src/test") {
    val files = scalaFiles(new File("src/test"))
    val classDef = """\bclass\s+(\w+Spec)\b""".r
    val defined = files.map(_.getName.stripSuffix(".scala")).toSet ++
      files.flatMap(f => classDef.findAllMatchIn(read(f)).map(_.group(1)))
    val named = """\b[A-Z]\w*Spec\b""".r.findAllIn(read(new File("README.md"))).toSet
    assert(named.nonEmpty)
    val missing = (named -- defined).toSeq.sorted
    assert(missing.isEmpty, s"README names specs that do not exist: $missing")
  }
}
