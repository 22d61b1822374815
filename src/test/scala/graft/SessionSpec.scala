package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[Session]] is the only place a graft session is configured: a second
  * `SparkSession.builder()` in main code is a session that can drift. */
class SessionSpec extends AnyFunSuite {
  test("SparkSession.builder() appears in main code only in Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { (f: Path) =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("SparkSession.builder()") =>
              s"${root.relativize(f)}:${i + 1}"
          }
        }
    }
    assert(hits.nonEmpty && hits.forall(_.startsWith("graft/Session.scala:")),
      s"SparkSession.builder() outside graft.Session: ${hits.mkString(", ")}")
  }
}
