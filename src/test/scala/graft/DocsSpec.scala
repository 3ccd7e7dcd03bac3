package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** README names specs as the evidence for what the engine does, and
  * engine types as where it does it: every `…Spec` it names must exist
  * under `src/test`, as a file or a class, and every engine type it
  * names in code must exist under `src/main`. */
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

  test("every engine type README names in code exists under src/main") {
    val packages = Set("graft", "app", "outbreak", "streaming", "plans",
      "operators", "queries", "sources", "functions", "tools")
    // even parts lie outside fenced blocks (code is a `span`), odd parts
    // are fenced code
    val code = read(new File("README.md")).split("```").toSeq.zipWithIndex
      .flatMap { case (part, i) =>
        if (i % 2 == 1) Seq(part) else "`[^`]+`".r.findAllIn(part).toSeq
      }
    val dotted = """(?<![\w.])[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+""".r
    val named = code.flatMap(dotted.findAllIn).filter { n =>
      packages(n.takeWhile(_ != '.')) && n.split('.').last.head.isUpper
    }.toSet
    assert(named.nonEmpty)
    val packageDecl = """(?m)^package\s+([\w.]+)""".r
    val typeDef = """\b(?:object|class|trait)\s+(\w+)""".r
    val defined = scalaFiles(new File("src/main")).flatMap { f =>
      val src = read(f)
      val pkg = packageDecl.findAllMatchIn(src).map(_.group(1)).mkString(".")
      typeDef.findAllMatchIn(src).map(m => s"$pkg.${m.group(1)}")
    }.toSet
    // `streaming.Ingest` means `graft.streaming.Ingest`; a nested type
    // resolves within its package
    def exists(name: String): Boolean = {
      val (path, types) = name.split('.').toSeq.span(!_.head.isUpper)
      val pkg = (if (path.head == "graft") path else "graft" +: path).mkString(".")
      types.filter(_.head.isUpper).forall(t => defined(s"$pkg.$t"))
    }
    val missing = named.filterNot(exists).toSeq.sorted
    assert(missing.isEmpty, s"README names engine types that do not exist: $missing")
  }
}
