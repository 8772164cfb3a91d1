package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main file is reached: once comments are stripped, one of its
  * top-level class, trait or object names must appear in another main
  * file or in the benchmark sources (`perfbench/src`). A file is exempt
  * only if it defines `def main`, is listed in `META-INF/services`, or is
  * a row of the root table below, which says why the name scan cannot
  * see what reaches it. Code that only its own spec names is deleted,
  * not kept. */
class ReachabilitySpec extends AnyFunSuite {

  private val streaming =
    "a Structured Streaming pipeline whose writeStream.start() user code " +
      "owns; StreamingSpec and KafkaSourceSpec pin stream == batch"

  private val roots = Map(
    "graft/sources/GraftCatalog.scala" ->
      "loaded by class name through spark.sql.catalog.<name>",
    "graft/server/JwtAuthenticator.scala" ->
      ("the OIDC/JWT auth profile; it plugs into the edges' " +
        "`authenticator: String => Option[AuthenticatedUser]`, but no " +
        "serving main takes multi-user bearer tokens yet"),
    "graft/streaming/EventStream.scala" -> streaming,
    "graft/streaming/NearDupStream.scala" -> streaming,
    "graft/streaming/DocumentStream.scala" -> streaming)

  /** Not reached and not a root: named here until it is wired into a
    * path that a main, the registry or an edge reaches, or deleted
    * (ROADMAP item 7). Its nested constraint classes share names with
    * Catalyst's `In` and the SQL AST's `Between`, which hid it from a
    * scan over every declared name. */
  private val unwired = Set("graft/session/Contracts.scala")

  private val mainRoot = Paths.get("src/main/scala")

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  private def scalaFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  /** `src` without comments; with `blankLiterals`, string and character
    * literal contents are dropped too, so braces inside them do not
    * count. Scala block comments nest. */
  private def strip(src: String, blankLiterals: Boolean): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def literal(end: Int): Unit = {
      out.append(if (blankLiterals) "\"\"" else src.substring(i, end))
      i = end
    }
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        i = if (e < 0) n else e
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var end = if (e < 0) n else e + 3
        while (end < n && src.charAt(end) == '"') end += 1
        literal(end)
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        literal(math.min(n, j + 1))
      } else {
        val char =
          if (src.charAt(i) != '\'') None
          else CharLiteral.findPrefixOf(src.substring(i, math.min(n, i + 12)))
        char match {
          case Some(c) => literal(i + c.length)
          case None => out.append(src.charAt(i)); i += 1
        }
      }
    }
    out.toString
  }

  private val CharLiteral = """'(\\[^']*|[^'\\])'""".r
  private val Declaration = """[{}]|\b(?:class|trait|object)\s+([A-Za-z_]\w*)""".r
  private val Identifier = """[A-Za-z_]\w*""".r
  private val Package = """(?m)^\s*package\s+([\w.]+)\s*$""".r

  /** Names of the classes, traits and objects declared outside any brace. */
  private def topLevel(skeleton: String): Seq[String] = {
    var depth = 0
    Declaration.findAllMatchIn(skeleton).flatMap { m =>
      m.matched match {
        case "{" => depth += 1; None
        case "}" => depth -= 1; None
        case _ => if (depth == 0) Some(m.group(1)) else None
      }
    }.toList
  }

  private final case class MainFile(rel: String, pkg: String,
      names: Seq[String], words: Set[String], isMain: Boolean)

  private lazy val mainFiles: Seq[MainFile] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: $mainRoot")
    scalaFiles(mainRoot).map { p =>
      val src = read(p)
      val code = strip(src, blankLiterals = false)
      val skeleton = strip(src, blankLiterals = true)
      MainFile(mainRoot.relativize(p).toString.replace('\\', '/'),
        Package.findAllMatchIn(skeleton).map(_.group(1)).mkString("."),
        topLevel(skeleton), Identifier.findAllIn(code).toSet,
        """\bdef\s+main\s*\(""".r.findFirstIn(skeleton).isDefined)
    }
  }

  private lazy val benchWords: Set[String] =
    scalaFiles(Paths.get("perfbench/src"))
      .flatMap(p => Identifier.findAllIn(strip(read(p), blankLiterals = false)))
      .toSet

  private lazy val services: Set[String] = {
    val dir = Paths.get("src/main/resources/META-INF/services")
    val list = Files.list(dir)
    try list.iterator.asScala.flatMap(p => read(p).linesIterator.map(_.trim)).toSet
    finally list.close()
  }

  /** Another main file or the benchmark names one of `f`'s declarations. */
  private def named(f: MainFile): Boolean =
    f.names.exists(n => benchWords(n) || mainFiles.exists(o => (o ne f) && o.words(n)))

  private def exempt(f: MainFile): Boolean =
    f.isMain || roots.contains(f.rel) || f.names.exists(n => services(s"${f.pkg}.$n"))

  test("every main file is named by another main file, the benchmark, " +
      "a service file or the root table") {
    assert(mainFiles.forall(_.names.nonEmpty),
      s"no top-level declaration found: ${mainFiles.filter(_.names.isEmpty).map(_.rel)}")
    val unreached = mainFiles.filterNot(f => exempt(f) || named(f)).map(_.rel)
    val unexpected = unreached.filterNot(unwired)
    assert(unexpected.isEmpty,
      s"main files nothing reaches (wire them in or delete them): $unexpected")
    assert(unwired.forall(unreached.contains),
      s"reached now, drop from the unwired list: ${unwired.filterNot(unreached.contains)}")
  }

  test("each root is a main file the name scan alone would not reach") {
    roots.foreach { case (rel, why) =>
      val f = mainFiles.find(_.rel == rel)
      assert(f.isDefined, s"root missing: $rel ($why)")
      assert(!named(f.get), s"$rel is named elsewhere; drop its root row")
    }
  }
}
