package graft

import graft.server.{ApiKeyAuthenticator, ApiServer}
import graft.session._
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** The session's query log is bounded: it keeps the last
  * `GraftSession.LogCapacity` entries, and the `/metrics` counters come from
  * running totals over every query, not from the retained entries. */
class QueryLogSpec extends AnyFunSuite {
  import SparkTestSession._

  private val N = GraftSession.LogCapacity

  private def entry(i: Int, ms: Long) =
    QueryLogEntry(s"u$i", s"SELECT $i", ms, cacheHit = i % 4 == 0, succeeded = i % 10 != 0)

  test("100k appends hold at most LogCapacity entries, the newest in order") {
    val engine = new GraftSession(spark)
    (0 until 100000).foreach(i => engine.record(entry(i, i % 7)))
    val kept = engine.queryLog
    assert(kept.size == N)
    assert(kept.map(_.scrubbedSql) == (100000 - N until 100000).map(i => s"SELECT $i"))
    val t = engine.queryTotals
    assert(t.count == 100000 && t.ok == 90000 && t.error == 10000)
    assert(t.cacheHits == 25000)
    assert(t.durationSumMillis == (0 until 100000).map(_ % 7L).sum)
  }

  test("/metrics counts every query past LogCapacity; quantiles cover the retained entries") {
    val engine = new GraftSession(spark)
    // the older entries are all slow and the retained ones all fast: a
    // quantile taken over the full history would read the slow value
    val total = 100000
    (0 until total).foreach(i => engine.record(entry(i, if (i < total - N) 5000L else 3L)))
    val api = new ApiServer(engine, new ApiKeyAuthenticator(Map.empty).apply)
    val port = api.start()
    val body =
      try {
        val conn = new URI(s"http://localhost:$port/metrics").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        assert(conn.getResponseCode == 200)
        try new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        finally conn.disconnect()
      } finally api.stop()
    def metric(name: String): Long =
      s"(?m)^${java.util.regex.Pattern.quote(name)} (\\d+)$$".r
        .findFirstMatchIn(body).getOrElse(fail(s"$name missing:\n$body")).group(1).toLong
    assert(metric("graft_queries_total{status=\"ok\"}") == 90000)
    assert(metric("graft_queries_total{status=\"error\"}") == 10000)
    assert(metric("graft_cache_hits_total") == 25000)
    assert(metric("graft_query_duration_ms_count") == total)
    assert(metric("graft_query_duration_ms_sum") == (total - N) * 5000L + N * 3L)
    Seq("0.5", "0.95", "0.99").foreach { q =>
      assert(metric(s"graft_query_duration_ms{quantile=\"$q\"}") == 3L, body)
    }
  }
}
