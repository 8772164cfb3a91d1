package graft

import graft.sources.RemoteSqlSource
import graft.sources.arrowhttp.ArrowHttpScanBuilder
import graft.sources.clickhouse.ClickHouseRemote
import graft.sources.mysql.MySqlRemote
import graft.sources.pg.PgRemote
import graft.sql.SparkDialect
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** Filter pushdown as each remote receives it: one row per filter
  * shape, one column per renderer (the postgres, MySQL and ClickHouse
  * wires, and the arrowhttp scan's Spark SQL). None = the filter stays
  * in Spark. The remotes compare these strings, so any change here
  * changes what a database returns. */
class RemoteSqlSourceSpec extends AnyFunSuite {

  private def pg(f: Filter) = RemoteSqlSource.whereClause(f, PgRemote.dialect, PgRemote.literal)
  private def my(f: Filter) = RemoteSqlSource.whereClause(f, MySqlRemote.dialect, MySqlRemote.literal)
  private def ch(f: Filter) =
    RemoteSqlSource.whereClause(f, ClickHouseRemote.dialect, ClickHouseRemote.literal)
  private def sp(f: Filter) =
    RemoteSqlSource.whereClause(f, SparkDialect, ArrowHttpScanBuilder.literal)

  private val day = java.sql.Date.valueOf("2024-01-02")

  //      filter, postgres, mysql, clickhouse, spark
  private val rows: Seq[(Filter, Option[String], Option[String], Option[String], Option[String])] = Seq(
    (EqualTo("c", 5), Some("\"c\" = 5"), Some("`c` = 5"), Some("`c` = 5"), Some("`c` = 5")),
    (GreaterThan("c", 5L), Some("\"c\" > 5"), Some("`c` > 5"), Some("`c` > 5"), Some("`c` > 5")),
    (GreaterThanOrEqual("c", 5.toShort),
      Some("\"c\" >= 5"), Some("`c` >= 5"), Some("`c` >= 5"), Some("`c` >= 5")),
    (LessThan("c", 5.toByte), Some("\"c\" < 5"), Some("`c` < 5"), Some("`c` < 5"), Some("`c` < 5")),
    (LessThanOrEqual("c", 5),
      Some("\"c\" <= 5"), Some("`c` <= 5"), Some("`c` <= 5"), Some("`c` <= 5")),
    (IsNull("b"), Some("\"b\" IS NULL"), Some("`b` IS NULL"), Some("`b` IS NULL"),
      Some("`b` IS NULL")),
    (IsNotNull("b"), Some("\"b\" IS NOT NULL"), Some("`b` IS NOT NULL"),
      Some("`b` IS NOT NULL"), Some("`b` IS NOT NULL")),
    (In("c", Array(1, 2, 3)), Some("\"c\" IN (1, 2, 3)"), Some("`c` IN (1, 2, 3)"),
      Some("`c` IN (1, 2, 3)"), Some("`c` IN (1, 2, 3)")),
    (In("c", Array[Any](1, null)), None, None, None, None),
    (In("c", Array.empty[Any]), None, None, None, None),
    (In("s", Array[Any]("x'y", "z")), Some("\"s\" IN ('x''y', 'z')"),
      Some("`s` IN ('x''y', 'z')"), Some("`s` IN ('x''y', 'z')"),
      Some("`s` IN ('x''y', 'z')")),
    (And(GreaterThan("a", 1), IsNull("b")), Some("(\"a\" > 1 AND \"b\" IS NULL)"),
      Some("(`a` > 1 AND `b` IS NULL)"), Some("(`a` > 1 AND `b` IS NULL)"),
      Some("(`a` > 1 AND `b` IS NULL)")),
    (Or(EqualTo("a", 1), IsNotNull("b")), Some("(\"a\" = 1 OR \"b\" IS NOT NULL)"),
      Some("(`a` = 1 OR `b` IS NOT NULL)"), Some("(`a` = 1 OR `b` IS NOT NULL)"),
      Some("(`a` = 1 OR `b` IS NOT NULL)")),
    (Or(EqualTo("a", 1), StringContains("b", "x")), None, None, None, None),
    (EqualTo("c", "o'brien"), Some("\"c\" = 'o''brien'"), Some("`c` = 'o''brien'"),
      Some("`c` = 'o''brien'"), Some("`c` = 'o''brien'")),
    // postgres reads backslashes literally (standard_conforming_strings);
    // MySQL, ClickHouse and Spark read them as escapes, so they double
    (EqualTo("c", """C:\tmp"""), Some(""""c" = 'C:\tmp'"""), Some("""`c` = 'C:\\tmp'"""),
      Some("""`c` = 'C:\\tmp'"""), Some("""`c` = 'C:\\tmp'""")),
    (EqualTo("c", """x\' OR 1=1 --"""), Some(""""c" = 'x\'' OR 1=1 --'"""),
      Some("""`c` = 'x\\'' OR 1=1 --'"""), Some("""`c` = 'x\\'' OR 1=1 --'"""),
      Some("""`c` = 'x\\'' OR 1=1 --'""")),
    // doubles: an explicit round-trippable cast where a bare literal
    // would not read back as the same double
    (LessThan("a", 1.5), Some("\"a\" < CAST('1.5' AS double precision)"),
      Some("`a` < 1.5"), Some("`a` < 1.5"), Some("`a` < CAST('1.5' AS DOUBLE)")),
    (EqualTo("a", Double.NaN), None, None, None, None),
    (EqualTo("a", Double.PositiveInfinity), None, None, None, None),
    (EqualTo("a", Double.NegativeInfinity), None, None, None, None),
    (EqualTo("a", 1.5f), None, None, None, None),
    (EqualTo("d", day), Some("\"d\" = DATE '2024-01-02'"), Some("`d` = DATE '2024-01-02'"),
      Some("`d` = toDate32('2024-01-02')"), Some("`d` = DATE '2024-01-02'")),
    (EqualTo("d", day.toLocalDate), Some("\"d\" = DATE '2024-01-02'"),
      Some("`d` = DATE '2024-01-02'"), Some("`d` = toDate32('2024-01-02')"),
      Some("`d` = DATE '2024-01-02'")),
    (EqualTo("f", true), Some("\"f\" = true"), Some("`f` = 1"), Some("`f` = true"),
      Some("`f` = true")),
    (EqualTo("f", false), Some("\"f\" = false"), Some("`f` = 0"), Some("`f` = false"),
      Some("`f` = false")),
    (EqualTo("m", new java.math.BigDecimal("12.50")), Some("\"m\" = 12.50"),
      Some("`m` = 12.50"), Some("`m` = 12.50"), Some("`m` = 12.50")),
    (StringContains("a", "x"), None, None, None, None),
    (Not(EqualTo("a", 1)), None, None, None, None),
    // a malicious column name cannot reach the remote SQL
    (EqualTo("a\"; DROP TABLE t; --", 1), None, None, None, None),
    (EqualTo("a`b", 1), None, None, None, None),
    (EqualTo("a;b", 1), None, None, None, None))

  test("filters translate to each remote's WHERE fragment exactly or not at all") {
    rows.foreach { case (f, wantPg, wantMy, wantCh, wantSp) =>
      assert(pg(f) == wantPg, s"postgres: $f")
      assert(my(f) == wantMy, s"mysql: $f")
      assert(ch(f) == wantCh, s"clickhouse: $f")
      assert(sp(f) == wantSp, s"spark: $f")
    }
  }
}
