package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One owner per engine-wide decision: each (token, file) row says the
  * token may appear in main code only inside that file.
  *  - Every session main code builds goes through `GraftSession.builder`,
  *    so extensions, AQE and the local-mode heartbeat tolerance cannot
  *    drift apart between entry points.
  *  - Every lineage cut goes through `graft.util.Reuse`, so the
  *    local-versus-cluster materialization mode is decided in one place. */
class SessionFactorySpec extends AnyFunSuite {

  private val owners = Seq(
    "SparkSession.builder()" -> "graft/session/GraftSession.scala",
    ".localCheckpoint(" -> "graft/util/Reuse.scala")

  owners.foreach { case (token, owner) =>
    test(s"$token appears only in ${Paths.get(owner).getFileName}") {
      val root = Paths.get("src/main/scala")
      assert(Files.isDirectory(root), s"run from the repository root: $root")
      val allowed = root.resolve(owner)
      assert(Files.isRegularFile(allowed), s"owner file missing: $allowed")
      val walk = Files.walk(root)
      val hits =
        try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
          .filterNot(_ == allowed).flatMap { p: Path =>
            Files.readAllLines(p).asScala.zipWithIndex.collect {
              case (line, i) if line.contains(token) => s"$p:${i + 1}"
            }
          }.toList
        finally walk.close()
      assert(hits.isEmpty, s"$token outside $owner: $hits")
    }
  }
}
