package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Reuse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus retrieval and collocation mining over the `documents` table —
  * the query-side counterpart of the per-doc quality/statistics ops: BM25
  * ranked retrieval (the classic probabilistic relevance function, the
  * baseline every data-curation "find documents like this query" pass
  * starts from) and PMI collocation extraction (multiword-expression
  * mining over the corpus bigram table).
  *
  * Scale design (100 TB of documents):
  *  - BM25 needs exactly ONE corpus pass: per-doc (dl, tf per query term)
  *    is a single map-side-combined aggregate over the exploded tokens
  *    (the per-term tf columns are conditional sums, not a pivot join);
  *    corpus statistics (N, total dl, per-term df) collapse to a 1-row
  *    broadcast; scoring is map-only arithmetic; the final top-k is a
  *    TakeOrderedAndProject — no global sort, no window over the corpus.
  *  - PMI aggregates the (bounded, vocabulary-sized) bigram count table,
  *    never the corpus: counts are map-side combinable, the marginals
  *    join by key, and the top-k is again TakeOrdered.
  *
  * Cross-engine float discipline: per-term BM25 contributions and PMI
  * values cross engines as ROUNDED INTEGER MICRO-UNITS (the
  * t_unigram_logprob pattern) so sums are exact BIGINT aggregates; ranks
  * order by the ROUNDED score with an id tiebreak (rank-stable in the
  * last ULP, the s_ann discipline).
  *
  * Reference anchors: the reference's curation surface exposes text
  * scoring but no ranked retrieval (crates/ops/src/text — quality and
  * dedup kernels); BM25/PMI are the standard extensions a training-data
  * pipeline layers on the same token statistics (Robertson & Zaragoza
  * 2009; Church & Hanks 1990).
  */
object Retrieval {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Fixed query terms for the registry entry — plan constants, embedded
    * identically in the oracle SQL (the LSH-plane discipline). */
  private val QueryTerms = Seq("spark", "join", "vector")
  private val K1 = "1.2"
  private val B75 = "0.75" // b; (1 - b) written as 0.25 literally below
  private val TopK = 20

  /** Okapi idf with the +1 floor (Lucene's form — never negative):
    * ln(1 + (N − df + 0.5) / (df + 0.5)). */
  private def idfSql(n: String, df: String): String =
    s"ln(1 + ($n - $df + 0.5) / ($df + 0.5))"

  /** One term's micro-unit contribution; identical text feeds Spark's
    * expr() and the DuckDB oracle so the operation ORDER (and therefore
    * every intermediate double) matches bit-for-bit. */
  private def termMicroSql(tf: String, df: String, n: String,
      dl: String, avgdl: String): String =
    s"""CASE WHEN $tf > 0 THEN CAST(round(${idfSql(n, df)}
       | * ($tf * 2.2) / ($tf + $K1 * (0.25 + $B75 * $dl / $avgdl))
       | * 1000000, 0) AS BIGINT) ELSE 0 END""".stripMargin.replace("\n", "")

  val defs: Seq[GraftQuery] = Seq(

    // --------------------------------------------------- BM25 retrieval
    // Top-k documents for a fixed conjunctive-OR query under BM25
    // (k1 = 1.2, b = 0.75). dl counts ALL tokens (the query-independent
    // length normalizer); N and avgdl are over documents with ≥ 1 token.
    GraftQuery("t_bm25_topk", {
      val cases = QueryTerms.zipWithIndex.map { case (qt, i) =>
        s"sum(CASE WHEN w = '$qt' THEN 1 ELSE 0 END) AS tf$i" }
      val dfs = QueryTerms.indices.map(i =>
        s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      val micro = QueryTerms.indices.map(i =>
        termMicroSql(s"tf$i", s"df$i", "n", "dl", "avgdl")).mkString(" + ")
      val hits = QueryTerms.indices.map(i =>
        s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(${TextPipeline.normSqlDuck}, ' ')) AS w
         |              FROM documents),
         |words AS (SELECT doc_id, w FROM toks WHERE w <> ''),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
         |          ${cases.mkString(",\n          ")}
         |        FROM words GROUP BY doc_id),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(dl) AS BIGINT) AS totdl,
         |         ${dfs.mkString(",\n         ")}
         |       FROM per),
         |sc AS (SELECT doc_id,
         |         CAST($hits AS BIGINT) AS n_terms_hit,
         |         ($micro) AS micro
         |       FROM per CROSS JOIN (
         |         SELECT *, CAST(totdl AS DOUBLE) / n AS avgdl FROM st)
         |       WHERE ${QueryTerms.indices.map(i => s"tf$i").mkString(" + ")} > 0)
         |SELECT doc_id, n_terms_hit,
         |  round(CAST(micro AS DOUBLE) / 1000000, 6) AS score
         |FROM sc ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    }) { (s, dir) =>
      // one corpus pass: per-doc dl + per-query-term tf in a single
      // map-side-combined aggregate (the tf columns are conditional
      // sums — no join, no pivot shuffle)
      val words = TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"), explode(col("words")).as("w"))
        .filter(col("w") =!= "")
      // feeds the stats AND the scoring pass
      val per = Reuse.materialize(words.groupBy(col("doc_id")).agg(
        count(lit(1)).cast("bigint").as("dl"),
        QueryTerms.zipWithIndex.map { case (qt, i) =>
          sum(when(col("w") === qt, 1L).otherwise(0L)).as(s"tf$i")
        }: _*))
      // corpus statistics: one row, broadcast — N, total length, per-term df
      val st = per.agg(
        count(lit(1)).cast("bigint").as("n"),
        (Seq(sum(col("dl")).cast("bigint").as("totdl")) ++
          QueryTerms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L))
              .cast("bigint").as(s"df$i"))): _*)
        .withColumn("avgdl", col("totdl").cast("double") / col("n"))
      val micro = QueryTerms.indices.map(i =>
        termMicroSql(s"tf$i", s"df$i", "n", "dl", "avgdl")).mkString(" + ")
      val hits = QueryTerms.indices.map(i =>
        s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      per.crossJoin(broadcast(st))
        .filter(QueryTerms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
        .select(col("doc_id"),
          expr(s"CAST($hits AS BIGINT)").as("n_terms_hit"),
          round(expr(s"($micro)").cast("double") / 1000000, 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")) // + limit ⇒ TakeOrdered
        .limit(TopK)
    },

    // --------------------------------------------- PMI collocation mining
    // Pointwise mutual information over the corpus bigram table:
    // pmi(w1, w2) = ln(cb · T / (c1 · c2)) with cb the bigram count, T the
    // total bigram count, and c1/c2 the prefix/suffix marginals (counts of
    // the word as first/second element of any bigram — the standard
    // contingency-table marginals, so the four counts are consistent).
    // A minimum-count floor keeps the rare-pair PMI artifact out.
    GraftQuery("t_collocations_pmi", {
      val pmiMicro = "CAST(round(ln(CAST(cb AS DOUBLE) * tt / " +
        "(CAST(c1 AS DOUBLE) * c2)) * 1000000, 0) AS BIGINT)"
      s"""WITH ${TextPipeline.bigramCtesDuck},
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bi
         |       GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(cb) AS c1 FROM cb GROUP BY w1),
         |c2 AS (SELECT w2, sum(cb) AS c2 FROM cb GROUP BY w2),
         |tot AS (SELECT sum(cb) AS tt FROM cb),
         |sc AS (SELECT cb.w1, cb.w2, cb.cb,
         |         round(CAST($pmiMicro AS DOUBLE) / 1000000, 6) AS pmi
         |       FROM cb JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
         |       WHERE cb.cb >= 5)
         |SELECT w1, w2, cb, pmi FROM sc
         |ORDER BY pmi DESC, w1, w2 LIMIT $TopK""".stripMargin
    }) { (s, dir) =>
      // bigram extraction is the shared adjacency contract
      // (TextPipeline.bigramPairs); everything downstream aggregates the
      // VOCABULARY-sized bigram table, never the corpus
      val bi = TextPipeline.bigramPairs(s, dir).select(col("w1"), col("w2"))
      // feeds both marginals, the total, and the probe
      val cb = Reuse.materialize(bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("bigint").as("cb")))
      val c1 = cb.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
      val c2 = cb.groupBy(col("w2")).agg(sum(col("cb")).as("c2"))
      val tot = cb.agg(sum(col("cb")).as("tt"))
      val pmiMicro = "CAST(round(ln(CAST(cb AS DOUBLE) * tt / " +
        "(CAST(c1 AS DOUBLE) * c2)) * 1000000, 0) AS BIGINT)"
      cb.filter(col("cb") >= 5)
        .join(c1, "w1").join(c2, "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("cb"),
          round(expr(pmiMicro).cast("double") / 1000000, 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")) // ⇒ TakeOrdered
        .limit(TopK)
    }
  )
}
