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
  *    local-versus-cluster materialization mode is decided in one place,
  *    and its blocks live as long as the scope that made it: no main
  *    sweeps the session's persisted RDDs, and only the Spark shim drops
  *    blocks by id.
  *  - Shuffle width is set where data is resolved (`Tables`,
  *    `SourceRegistry`), so no main sizes it on its own.
  *  - Filter pushdown into remote SQL is rendered in one place
  *    (`RemoteSqlSource.whereClause`, quoting and escaping from
  *    `graft.sql.Dialects`), so no source keeps its own copy.
  *  - Iceberg table metadata is written by one applier
  *    (`IcebergCommit`), so local and catalog commits cannot drift
  *    apart. */
class SessionFactorySpec extends AnyFunSuite {

  private val owners = Seq(
    "SparkSession.builder()" -> Seq("graft/session/GraftSession.scala"),
    ".localCheckpoint(" -> Seq("graft/util/Reuse.scala"),
    "getPersistentRDDs" -> Seq("graft/util/Reuse.scala"),
    "unpersistRDD" -> Seq("org/apache/spark/sql/GraftPlanBridge.scala"),
    "ShuffleWidth.configure" -> Seq("graft/session/ShuffleWidth.scala",
      "graft/Tables.scala", "graft/sources/SourceRegistry.scala"),
    "def whereClause" -> Seq("graft/sources/RemoteSqlSource.scala"),
    "writeMetadataFile(" -> Seq("graft/sources/iceberg/IcebergCommit.scala"))

  owners.foreach { case (token, files) =>
    test(s"$token appears only in " +
        files.map(f => Paths.get(f).getFileName).mkString(", ")) {
      val root = Paths.get("src/main/scala")
      assert(Files.isDirectory(root), s"run from the repository root: $root")
      val allowed = files.map(root.resolve).toSet
      allowed.foreach(a => assert(Files.isRegularFile(a), s"owner file missing: $a"))
      val walk = Files.walk(root)
      val hits =
        try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
          .filterNot(allowed).flatMap { p: Path =>
            Files.readAllLines(p).asScala.zipWithIndex.collect {
              case (line, i) if line.contains(token) => s"$p:${i + 1}"
            }
          }.toList
        finally walk.close()
      assert(hits.isEmpty, s"$token outside ${files.mkString(", ")}: $hits")
    }
  }
}
