package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The source scan behind the guard specs: every line under src/main
  * that matches `banned`, outside the `allowed` files (paths relative
  * to src/main/scala), as `file:line: text`.
  */
object SourceGuard {

  def hits(allowed: Set[String], banned: Regex): List[String] = {
    val root = Paths.get("src/main/scala")
    require(Files.isDirectory(root), s"run from the project root (no $root)")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => allowed(root.relativize(p).toString))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
  }
}
