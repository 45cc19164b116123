package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.util.Par` the one way engine code runs Spark job chains
  * concurrently: a hand-rolled Future or thread pool neither tags its
  * jobs nor cancels its siblings on failure. `Verify`'s query pool is
  * the one exception — there a failing query must not cancel the
  * others.
  */
class ConcurrencyGuardSpec extends AnyFunSuite {

  private val Allowed = Set("graft/util/Par.scala", "graft/Verify.scala")
  private val Banned =
    """ExecutionContext\.Implicits\.global|Executors\.new|\bFuture\s*[({]""".r

  test("no hand-rolled Future or thread pool under src/main outside Par and Verify") {
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
