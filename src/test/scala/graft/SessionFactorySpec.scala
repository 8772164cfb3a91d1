package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every session main code builds goes through
  * `GraftSession.builder`, so extensions, AQE and the local-mode
  * heartbeat tolerance cannot drift apart between entry points. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val factory = root.resolve("graft/session/GraftSession.scala")
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_ == factory).flatMap { p: Path =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("SparkSession.builder()") =>
              s"$p:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty, s"sessions built outside GraftSession.builder: $hits")
  }
}
