package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The `src/main/scala` tree, read by the structural tests. Paths are
  * relative to it; tests run from the project root. */
object SourceTree {
  private val root = Paths.get("src/main/scala")

  /** Files whose text contains `needle`. */
  def filesWith(needle: String): Set[String] = {
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => root.relativize(p).toString).toSet
    finally files.close()
  }

  def read(file: String): String = Files.readString(root.resolve(file))
}
