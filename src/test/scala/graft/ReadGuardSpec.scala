package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `Tables.read` the one way engine code opens a Parquet table: a
  * bare `spark.read.parquet` infers the schema in a Spark job on every
  * call.
  */
class ReadGuardSpec extends AnyFunSuite {

  private val Allowed = Set("graft/Tables.scala")
  private val Banned = """\.read\.parquet\(""".r

  test("no bare .read.parquet( under src/main outside Tables") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => Allowed(root.relativize(p).toString))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if Banned.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
