package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Guards the program's entry points: one diagnostic probe, not a main
  * per investigation, and deployment settings read only where a main
  * starts. */
class SourceGuardSpec extends AnyFunSuite {
  private val mains = Set("graft.Bench", "graft.Verify", "graft.Repl",
    "graft.tools.Probe", "graft.tools.ScaleProbe")

  /** (qualified object name, source text) of every program file. */
  private lazy val sources: List[(String, String)] = SourceTree.files.map { p =>
    (SourceTree.root.relativize(p).toString.stripSuffix(".scala").replace('/', '.'),
      Files.readString(p))
  }

  test("the only mains are Bench, Verify, Repl, tools.Probe and tools.ScaleProbe") {
    val objectRx = """(?m)^\s*object\s+(\w+)""".r
    val declared = sources.flatMap { case (file, text) =>
      val pkg = file.split('.').init.mkString(".")
      // The object enclosing a main is the last one declared before it.
      """def main\(""".r.findAllMatchIn(text).flatMap(at =>
        objectRx.findAllMatchIn(text.take(at.start)).toSeq.lastOption
          .map(m => s"$pkg.${m.group(1)}"))
    }
    assert(declared.toSet == mains && declared.size == mains.size,
      s"entry points: ${declared.sorted.mkString(", ")}")
  }

  test("only the mains and Scratch read the environment") {
    val readers = sources.collect {
      case (file, text) if text.contains("sys.env") || text.contains("System.getenv") => file
    }.toSet
    assert(readers.subsetOf(mains + "graft.Scratch"),
      s"environment read outside a main: ${(readers -- mains - "graft.Scratch").mkString(", ")}")
  }
}
