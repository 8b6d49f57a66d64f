package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The program's own Scala sources, for the specs that guard the shape
  * of the code rather than its behaviour. Paths are relative to the
  * repository root, which is where the suite runs. */
object SourceTree {
  val root: Path = Paths.get("src/main/scala")

  def files: List[Path] = {
    require(Files.isDirectory(root), s"run from the repository root: no $root")
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
  }
}
