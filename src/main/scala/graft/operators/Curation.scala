package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Reuse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines, beyond the
  * per-document text statistics in [[TextPipeline]]:
  *
  *  - `d_semdedup` — semantic (embedding-space) deduplication, the
  *    SemDeDup shape: partition vectors into hyperplane-LSH buckets
  *    (the deterministic stand-in for the paper's k-means clusters),
  *    compare only within a bucket, and drop every vector that has a
  *    smaller-id neighbor above the cosine threshold (keep-first).
  *  - `d_source_filter` — domain/source-level curation: aggregate quality
  *    statistics per source and keep documents only from sources that
  *    pass; the "block low-quality domains" stage of a web-corpus
  *    pipeline.
  *  - `d_lang_balance` — deterministic language rebalancing: downsample
  *    every language to the size of the smallest via portable hash
  *    sampling, so the kept subset is reproducible on any engine.
  *  - `t_unigram_logprob` — unigram-LM surprisal per document (the
  *    CCNet-style perplexity proxy): mean −ln p(word) under the corpus's
  *    own unigram distribution; high surprisal ⇒ text unlike the corpus
  *    (gibberish), low ⇒ boilerplate.
  *
  * All four are exactly DuckDB-oracled: bucket signs re-derive via the
  * sequential list_reduce fold (same index-order double summation as the
  * fused HyperplaneBands loop), sampling uses the portable fmix63 recipe,
  * and float summations cross engines only as integer micro-units.
  */
object Curation {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** 8 hyperplanes of ±1 over 64 dims — one 8-bit band ⇒ 256 buckets.
    * Fixed seed, embedded as literals in the oracle SQL. Distinct seed
    * from the ANN planes so the two operators stay independent. */
  private lazy val planes: IndexedSeq[Array[Double]] = {
    val rng = new scala.util.Random(7031)
    IndexedSeq.fill(8)(Array.fill(64)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  private def bucketCol(v: Column): Column =
    GraftColumnBridge.column(graft.functions.HyperplaneBands(
      GraftColumnBridge.expression(v), planes.toArray, bands = 1, planesPerBand = 8))

  /** DuckDB bucket re-derivation: per-plane sequential sign fold (the
    * list_reduce visits v[i]·s_i in index order — bit-identical to the
    * fused loop), packed exactly like HyperplaneBands (`d > 0 ⇒ 1 << j`). */
  private def bucketSql: String = {
    def signLit(j: Int): String =
      planes(j).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    def dotFold(j: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(list_zip(v, ${signLit(j)}), p -> p[1] * p[2])), " +
        "(a, x) -> a + x)"
    (0 until 8).map(j =>
      s"(CASE WHEN ${dotFold(j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
  }

  private val dotAB =
    "list_sum(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  /** The words → per-(doc, word) term-frequency CTE pair — ONE
    * definition of the tokenization contract, shared by the surprisal
    * chain and the classifier oracle. */
  private def wordsTfCtes: String =
    s"""words AS (
       |  SELECT doc_id, unnest(string_split(${TextPipeline.normSqlDuck}, ' ')) AS w
       |  FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
       |       WHERE w <> '' GROUP BY doc_id, w)""".stripMargin

  /** Shared unigram-surprisal CTE chain ending in
    * `surp(doc_id, n_tokens, surprisal)` — the basis of both
    * `t_unigram_logprob` and `d_ccnet_buckets`. */
  private def surprisalCtes: String =
    s"""$wordsTfCtes,
       |cf AS (SELECT w, sum(tf) AS cf FROM tf GROUP BY w),
       |tot AS (SELECT sum(cf) AS tot FROM cf),
       |terms AS (
       |  SELECT tf.doc_id, tf.tf,
       |    CAST(round(tf.tf * ln(CAST(cf.cf AS DOUBLE) / tot.tot) * 1000000, 0)
       |         AS BIGINT) AS micro
       |  FROM tf JOIN cf ON tf.w = cf.w CROSS JOIN tot),
       |surp AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(-sum(micro) AS BIGINT) AS pmicro,
       |    round(-CAST(sum(micro) AS DOUBLE) / 1000000 / sum(tf), 6) AS surprisal
       |  FROM terms GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[surprisalCtes]]: (doc_id, n_tokens, surprisal).
    * cf via map-side-combined groupBy + join-back (the t_tfidf_topterms
    * shape): a sum-over-Window.partitionBy(w) would put every (doc,word)
    * row of a stopword on ONE task — a hot spot AQE cannot split, since
    * skew handling covers joins/aggregates, not windows. tf is lazily
    * materialized (Reuse) so the explode+aggregate runs once for both the
    * cf aggregation and the join probe. The token total comes from a
    * separate cheap scan (per-doc word counts, no explode) and
    * broadcasts as one row. */
  private def docSurprisal(s: SparkSession, dir: String): DataFrame = {
    val words = TextPipeline.withNorm(t(s, dir).documents)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .filter(col("w") =!= "")
    val tf = Reuse.materialize(words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf")))
    val cf = tf.groupBy(col("w")).agg(sum(col("tf")).as("cf"))
    // norm is trimmed, so split() only yields an empty token when the
    // whole norm is empty — which contributes 0 tokens either way, so
    // the corpus total IS sum(tf) over the checkpointed tf relation:
    // one aggregate over rows already materialized, not a SECOND
    // tokenization pass over every document (this was the single
    // biggest cost on the surprisal path)
    val tot = tf.agg(sum(col("tf")).as("tot"))
    val terms = tf.join(cf, "w")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        round(col("tf") * log(col("cf").cast("double") / col("tot"))
          * 1000000, 0).cast("bigint").as("micro"))
    terms.groupBy(col("doc_id")).agg(
      sum(col("tf")).as("n_tokens"),
      (-sum(col("micro"))).cast("bigint").as("pmicro"),
      round(-sum(col("micro")).cast("double") / 1000000 / sum(col("tf")), 6)
        .as("surprisal"))
  }

  /** 64 integer micro-unit weights for the hashed linear classifier —
    * fixed seed, embedded as a list literal in the oracle SQL (the same
    * plan-constant discipline as the LSH planes). */
  private lazy val clfWeights: IndexedSeq[Long] = {
    val rng = new scala.util.Random(4099)
    IndexedSeq.fill(64)((rng.nextInt(1000001) - 500000).toLong)
  }

  /** Per-(doc, bigram) tf + global bigram counts over the shared
    * adjacency CTEs ([[TextPipeline.bigramCtesDuck]]) — the stage both
    * LM queries (MLE and Kneser-Ney) aggregate their statistics from. */
  private def bigramCountCtes: String =
    s"""tfb AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf FROM bi
       |        GROUP BY doc_id, w1, w2),
       |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb FROM tfb
       |       GROUP BY w1, w2)""".stripMargin

  /** Spark twin of [[bigramCountCtes]]: (tfb, cb), both checkpointed —
    * tfb feeds cb AND the per-doc probe side; cb feeds every marginal
    * AND the scoring join. */
  private def bigramTfCb(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tfb = Reuse.materialize(TextPipeline.bigramPairs(s, dir)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf")))
    val cb = Reuse.materialize(tfb.groupBy(col("w1"), col("w2"))
      .agg(sum(col("tf")).cast("bigint").as("cb")))
    (tfb, cb)
  }

  /** One Kneser-Ney term's micro-unit contribution — IDENTICAL text feeds
    * Spark's expr() and the DuckDB oracle so the operation order (and
    * therefore every intermediate double) matches bit-for-bit. Column
    * contract: tf/cb/cp/n1f/nbw/ntot are all BIGINT on both sides. */
  private val knMicroSql =
    "CAST(round(tf * ln(((CAST(cb AS DOUBLE) - 0.75) + " +
      "0.75 * (n1f * (CAST(nbw AS DOUBLE) / ntot))) / cp) * 1000000, 0) AS BIGINT)"

  /** The DSIR target domain: a fixed source subset standing in for the
    * "high-quality corpus" (Wikipedia/books in the paper). Plan constant,
    * embedded in the oracle SQL. */
  private val dsirTarget = Seq("src0", "src1", "src2", "src3")

  val defs: Seq[GraftQuery] = Seq(

    // -------------------------------------------- URL canonicalization
    // The web-corpus URL dedup stage (Dolma/CCNet run it before any
    // content pass — two crawls of the same page differ only in
    // tracking params and case): canonicalize each document's URL —
    // strip the fragment, lowercase scheme+host (path case is
    // SIGNIFICANT and kept), drop default ports :80/:443, remove every
    // utm_* tracking param while keeping real ones, tidy dangling
    // ?/& and trailing slashes — then group by the canonical form:
    // dup count + keep-first(min doc_id). URLs are synthesized
    // deterministically from doc_id (the corpus carries no URL column;
    // same pattern as the codec fixtures), messy on purpose: mixed
    // case, optional default port, optional trailing slash, utm params
    // in every position, fragments. The canonicalization chain is the
    // SAME regex sequence in Spark and DuckDB (common Java/RE2 subset,
    // no backrefs), so the hash gate proves the two engines' regex
    // engines agree byte-for-byte. Scale shape: map-only derivation,
    // one groupBy on the canonical key, join back BY KEY (never a
    // window over the key — dup groups are unbounded on a real crawl).
    GraftQuery("d_url_canonical",
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 'HTTPS://WWW.Example.COM'
        |                     WHEN 1 THEN 'https://News.site.ORG'
        |                     ELSE 'http://Blog.example.Com' END)
        |    || (CASE doc_id % 4 WHEN 0 THEN (CASE WHEN doc_id % 3 = 2 THEN ':80' ELSE ':443' END) ELSE '' END)
        |    || '/Articles/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END)
        |    || (CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
        |                        WHEN 1 THEN '?ref=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
        |                        WHEN 2 THEN '?utm_medium=rss'
        |                        ELSE '' END)
        |    || (CASE doc_id % 6 WHEN 0 THEN '#Section2' ELSE '' END) AS raw_url
        |  FROM documents),
        |c AS (SELECT doc_id, regexp_replace(raw_url, '#.*$', '') AS nofrag FROM u),
        |s AS (SELECT doc_id,
        |    lower(regexp_extract(nofrag, '^([^:]+://[^/?#]+)', 1)) AS head,
        |    substr(nofrag, length(regexp_extract(nofrag, '^([^:]+://[^/?#]+)', 1)) + 1) AS tail
        |  FROM c),
        |n AS (SELECT doc_id,
        |    regexp_replace(head, ':(443|80)$', '')
        |    || regexp_replace(regexp_replace(regexp_replace(
        |         regexp_replace(tail, 'utm_[a-z]+=[^&#]*&?', '', 'g'),
        |         '[?&]$', ''), '/\?', '?'), '/$', '') AS canonical_url
        |  FROM s),
        |g AS (SELECT canonical_url, count(*) AS url_dups,
        |             min(doc_id) AS first_doc FROM n GROUP BY canonical_url)
        |SELECT n.doc_id, n.canonical_url, g.url_dups,
        |       n.doc_id = g.first_doc AS keep
        |FROM n JOIN g ON n.canonical_url = g.canonical_url""".stripMargin) {
      (s, dir) =>
      val synth =
        """(CASE doc_id % 3 WHEN 0 THEN 'HTTPS://WWW.Example.COM'
          |                 WHEN 1 THEN 'https://News.site.ORG'
          |                 ELSE 'http://Blog.example.Com' END)
          ||| (CASE doc_id % 4 WHEN 0 THEN (CASE WHEN doc_id % 3 = 2 THEN ':80' ELSE ':443' END) ELSE '' END)
          ||| '/Articles/' || CAST(doc_id % 50 AS STRING)
          ||| (CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END)
          ||| (CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS STRING)
          |                    WHEN 1 THEN '?ref=' || CAST(doc_id % 7 AS STRING) || '&utm_campaign=x'
          |                    WHEN 2 THEN '?utm_medium=rss'
          |                    ELSE '' END)
          ||| (CASE doc_id % 6 WHEN 0 THEN '#Section2' ELSE '' END)""".stripMargin
      val canon = t(s, dir).documents.select(col("doc_id"))
        .selectExpr("doc_id", s"$synth AS raw_url")
        .selectExpr("doc_id",
          "regexp_replace(raw_url, '#.*$', '') AS nofrag")
        .selectExpr("doc_id",
          "lower(regexp_extract(nofrag, '^([^:]+://[^/?#]+)', 1)) AS head",
          "substring(nofrag, length(regexp_extract(nofrag, " +
            "'^([^:]+://[^/?#]+)', 1)) + 1) AS tail")
        .selectExpr("doc_id",
          "concat(regexp_replace(head, ':(443|80)$', ''), " +
            "regexp_replace(regexp_replace(regexp_replace(" +
            "regexp_replace(tail, 'utm_[a-z]+=[^&#]*&?', ''), " +
            "'[?&]$', ''), '/\\\\?', '?'), '/$', '')) AS canonical_url")
      // dup accounting by KEY (aggregate + equi-join), never a window
      // over canonical_url: a hot URL is a hot key, and the per-key
      // aggregate combines map-side while a window would serialize it
      val groups = canon.groupBy(col("canonical_url")).agg(
        count(lit(1)).as("url_dups"), min(col("doc_id")).as("first_doc"))
      canon.join(groups, "canonical_url")
        .select(col("doc_id"), col("canonical_url"), col("url_dups"),
          (col("doc_id") === col("first_doc")).as("keep"))
    },

    // ------------------------------------------------- semantic dedup
    // SemDeDup (Abbas et al. 2023): cluster, then near-dup only within a
    // cluster. Buckets come from one 8-plane LSH band (deterministic, so
    // the full pipeline is hash-oracled; the paper's k-means would train
    // on a sample — the s_ann_ivf pattern — at the cost of the oracle).
    // Candidate generation ships (vec_id, bucket) ONLY; vectors are
    // re-fetched by id for the bounded rerank — at 100 TB the bucket join
    // never carries an embedding, and there is never an all-pairs pass.
    GraftQuery("d_semdedup",
      s"""WITH vecs AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |norms AS (SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM vecs),
         |sig AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM norms),
         |capped AS (
         |  SELECT * FROM (SELECT vec_id, v, nrm, bucket,
         |    count(*) OVER (PARTITION BY bucket) AS bsize FROM sig)
         |  WHERE bsize <= 1000),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM capped a JOIN capped b ON a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id
         |    AND round(coalesce($dotAB / nullif(a.nrm * b.nrm, 0), 0), 6) >= 0.3)
         |SELECT s.vec_id, s.bucket, (d.vec_id IS NOT NULL) AS is_dup
         |FROM sig s LEFT JOIN dups d ON s.vec_id = d.vec_id""".stripMargin) {
      (s, dir) =>
        graft.functions.VectorFunctions.register(s)
        val vecs = t(s, dir).embeddings
          .select(col("vec_id"), col("embedding").as("v"))
          .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
        val sig = vecs.withColumn("bucket",
          element_at(bucketCol(col("v")), 1))
        // ids-only candidate generation (the s_ann_lsh shape), with the
        // degenerate-bucket cap the minhash path uses: a pathological
        // bucket (all-zero embeddings land together) would otherwise go
        // quadratic — at this corpus the cap (1000 ≫ observed sizes)
        // changes nothing, which is why the oracle can mirror it exactly
        val banded = graft.util.Buckets.cap(
          sig.select(col("vec_id"), col("bucket")), 1000, col("bucket"))
        val candIds = banded.alias("a")
          .join(banded.alias("b"), col("a.bucket") === col("b.bucket"))
          .filter(col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        // rerank: re-fetch vectors by id, keep-first ⇒ the LARGER id of
        // any pair above the threshold is the duplicate
        val av = vecs.select(col("vec_id").as("id_a"), col("v").as("va"),
          col("nrm").as("na"))
        val bv = vecs.select(col("vec_id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb"))
        val dupIds = candIds.join(av, "id_a").join(bv, "id_b")
          .filter(Similarity.cosine(expr("graft_dot(va, vb)"), col("na") * col("nb"))
            >= 0.3)
          .select(col("id_b").as("vec_id")).distinct()
        sig.select(col("vec_id"), col("bucket"))
          .join(dupIds.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("bucket"),
            coalesce(col("is_dup"), lit(false)).as("is_dup"))
    },

    // -------------------------------------------- source-level curation
    // Per-source quality gate: sources are few (domain cardinality ≪ doc
    // count), so the stats relation is tiny and broadcasts back onto the
    // fact side — one full-table aggregate plus a map-side join, no
    // second fact shuffle. avg length is exact-integer-derived
    // (sum/count of BIGINTs), so the filter is engine-portable.
    GraftQuery("d_source_filter",
      """WITH stats AS (
        |  SELECT source, count(*) AS src_docs,
        |         round(sum(n_chars) / count(*), 6) AS src_avg_chars
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, s.src_docs, s.src_avg_chars
        |FROM documents d JOIN stats s ON d.source = s.source
        |WHERE s.src_avg_chars >= 295 AND s.src_docs >= 10""".stripMargin) {
      (s, dir) =>
        val docs = t(s, dir).documents
        val stats = docs.groupBy(col("source")).agg(
          count(lit(1)).as("src_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
            .as("src_avg_chars"))
        docs.join(broadcast(stats), "source")
          .filter(col("src_avg_chars") >= 295 && col("src_docs") >= 10)
          .select(col("doc_id"), col("source"), col("src_docs"),
            col("src_avg_chars"))
    },

    // ------------------------------------------- source frequency cap
    // Per-source document cap (the RefinedWeb/C4 "domain frequency"
    // guard: no single domain may dominate the corpus): keep the cap=10
    // docs per source with the smallest md5 rank key — deterministic,
    // order-free, reproducible by any engine. The rank is the
    // d_token_budget_sample two-level prefix count, NEVER a row_number
    // window over the bare source (a mega-domain would serialize one
    // partition at 100 TB): bucket = first 2 hex chars of the rank key,
    // per-(source, bucket) doc counts make a ≤ 256·n_sources relation
    // whose tiny window yields bucket offsets, and the within-bucket
    // running count (windows over ~1/256 of a source) completes the
    // exact global rank because the bucket id is a PREFIX of the rank
    // key. Selection `rank <= cap` is then the exact per-source top-N;
    // the oracle re-derives it with DuckDB's naive single-window
    // row_number. Output pins the SELECTED SET (id-sum + char-sum), not
    // just its size.
    GraftQuery("d_source_cap",
      """WITH d AS (SELECT source, doc_id, n_chars,
        |  md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS rnk
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_ids_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |FROM r WHERE rnk <= 10 GROUP BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cap = 10L
      val d = t(s, dir).documents
        .select(col("source"), col("doc_id"), col("n_chars"),
          md5(col("doc_id").cast("string")).as("rk"))
        .withColumn("bucket", substring(col("rk"), 1, 2))
      // tiny relation: (sources × 256) rows; its window is over ≤256 rows
      val offsets = d.groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("bn"))
        .withColumn("offset",
          coalesce(sum(col("bn")).over(Window.partitionBy(col("source"))
            .orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("bn")
      val withinW = Window.partitionBy(col("source"), col("bucket"))
        .orderBy(col("rk"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(offsets), Seq("source", "bucket"))
        .withColumn("rnk", col("offset") + count(lit(1)).over(withinW))
        .filter(col("rnk") <= cap)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("bigint").as("kept_ids_sum"),
          sum(col("n_chars")).cast("bigint").as("kept_chars"))
    },

    // -------------------------------------------- global training shuffle
    // Deterministic corpus shuffle + shard assignment — the LAST stage of
    // every training-data pipeline: training wants the corpus in a random
    // order that is (a) uncorrelated with ingestion order, (b) exactly
    // reproducible for resume/re-runs, and (c) splittable into shards a
    // data loader streams independently. A seeded RNG shuffle fails (b)
    // across engines and partition layouts; the portable-hash order
    // fmix63(doc_id) is a fixed pseudorandom permutation any engine
    // re-derives from the data alone. shard = h mod 8 (low bits);
    // within-shard position = rank in (h, doc_id) order, computed with
    // the d_token_budget_sample two-level prefix count over hash-prefix
    // buckets (h's top 8 bits — a PREFIX of the ordering key, which is
    // what makes offset + within-bucket rank a global rank), NEVER a
    // row_number window over a bare shard (corpus/8 rows on one task).
    // The manifest pins the ENTIRE permutation: order_checksum =
    // Σ pos·doc_id differs if any two docs swap places.
    GraftQuery("d_shuffle_shards", {
      val (ctes, last) = graft.operators.SketchOracleSql
        .fmixScalarCtes("f", "d0", "doc_id, n_chars", "k")
      s"""WITH d0 AS (SELECT doc_id, n_chars,
         |  CAST(doc_id AS HUGEINT) AS k FROM documents),
         |$ctes,
         |s AS (SELECT doc_id, n_chars, fh AS h,
         |  CAST(fh % 8 AS INT) AS shard FROM $last),
         |r AS (SELECT shard, n_chars, doc_id,
         |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
         |  FROM s)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
         |FROM r GROUP BY shard""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir).documents
        .select(col("doc_id"), col("n_chars"),
          expr("graft_fmix63(doc_id)").as("h"))
        .withColumn("shard", (col("h") % 8).cast("int"))
        .withColumn("bucket", expr("shiftright(h, 55)"))
      // tiny relation: (8 shards × 256 buckets) rows
      val offsets = d.groupBy(col("shard"), col("bucket"))
        .agg(count(lit(1)).as("bn"))
        .withColumn("offset",
          coalesce(sum(col("bn")).over(Window.partitionBy(col("shard"))
            .orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("bn")
      val withinW = Window.partitionBy(col("shard"), col("bucket"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(offsets), Seq("shard", "bucket"))
        .withColumn("pos", col("offset") + count(lit(1)).over(withinW))
        .groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("chars_sum"),
          sum(col("pos") * col("doc_id")).cast("bigint").as("order_checksum"))
    },

    // ------------------------------------------------ language balance
    // Downsample every language to the smallest language's size with
    // portable hash sampling: keep doc ⇔ fmix63(doc_id) mod 2^20 falls
    // under the per-language rate. The comparison is pure integer
    // arithmetic ((h mod 2^20)·n_lang < 2^20·target), so the kept set is
    // bit-reproducible on any engine. Language counts are a 5-row
    // broadcast; the pass over documents is map-only — the exact shape
    // that holds at 100 TB (no per-language shuffle, no window).
    GraftQuery("d_lang_balance", {
      val (ctes, last) = SketchOracleSql.fmixScalarCtes(
        "f", "k", "doc_id, lang", "h")
      s"""WITH k AS (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS h
         |           FROM documents),
         |$ctes,
         |counts AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
         |target AS (SELECT min(n_lang) AS target FROM counts)
         |SELECT f.doc_id, f.lang
         |FROM $last f JOIN counts c ON f.lang = c.lang CROSS JOIN target t
         |WHERE (f.fh % 1048576) * c.n_lang < 1048576 * t.target""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val docs = t(s, dir).documents
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val target = counts.agg(min(col("n_lang")).as("target"))
      docs.select(col("doc_id"), col("lang"),
          expr("graft_fmix63(doc_id) % 1048576").as("slot"))
        .join(broadcast(counts), "lang")
        .crossJoin(broadcast(target))
        .filter(col("slot") * col("n_lang") < lit(1048576L) * col("target"))
        .select(col("doc_id"), col("lang"))
    },

    // ------------------------------------------------ mixture weights
    // Training-mixture design (the DoReMi-style reweighting input): per
    // domain/source, the sampling weight that makes every source
    // contribute an equal token share to the training mix — weight > 1
    // means the source must be upsampled (repeated), < 1 downsampled.
    // One aggregate over a map-only token-count pass; the totals are a
    // 1-row broadcast. All inputs are exact integers, and the weight
    // divides them in a fixed order, so the output is engine-portable.
    GraftQuery("d_mix_weights",
      s"""WITH tok AS (
         |  SELECT source, ${TextPipeline.normSqlDuck} AS nm FROM documents),
         |stats AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN nm = '' THEN 0
         |             ELSE len(string_split(nm, ' ')) END) AS BIGINT) AS n_tokens
         |  FROM tok GROUP BY source),
         |tot AS (SELECT sum(n_tokens) AS t, count(*) AS s FROM stats)
         |SELECT source, n_docs, n_tokens,
         |  round(CAST(tot.t AS DOUBLE) / tot.s / n_tokens, 6) AS weight
         |FROM stats CROSS JOIN tot""".stripMargin) { (s, dir) =>
      val stats = TextPipeline.withNorm(t(s, dir).documents)
        .select(col("source"),
          when(col("norm") === "", lit(0))
            .otherwise(size(col("words"))).as("n"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n")).cast("bigint").as("n_tokens"))
      val tot = stats.agg(sum(col("n_tokens")).as("t"),
        count(lit(1)).as("s"))
      stats.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("t").cast("double") / col("s") /
            when(col("n_tokens") =!= 0, col("n_tokens")), 6)
            .as("weight"))
    },

    // ------------------------------------------- token-budget sampling
    // "Take documents, in a deterministic order, until each language has
    // contributed N tokens" — the cut a training-data pipeline makes when
    // a mixture recipe fixes per-language token budgets. The naive shape
    // is a running sum over Window.partitionBy(lang) ORDER BY hash: one
    // task per language holding the whole language's corpus — the exact
    // hot spot the cf/df rewrite removed. Instead the prefix sum is
    // DISTRIBUTED two-level: documents bucket by a hash PREFIX (256
    // buckets here; the prefix width is the knob that scales the shape —
    // corpus/16^k rows per window task), per-(lang,bucket) token totals
    // aggregate map-side into a tiny relation whose cumulative offsets
    // broadcast back, and the running sum inside each bucket completes
    // the global prefix sum because the bucket id is a PREFIX of the
    // ordering key. Selection "cum_before < budget" is then exact
    // take-until over the global hash order; the oracle re-derives it
    // with DuckDB's naive single-window cumsum.
    GraftQuery("d_token_budget_sample",
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CASE WHEN ${TextPipeline.normSqlDuck} = '' THEN 0
         |         ELSE len(string_split(${TextPipeline.normSqlDuck}, ' ')) END AS tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS rk
         |  FROM documents),
         |c AS (
         |  SELECT lang, tokens,
         |    coalesce(sum(tokens) OVER (PARTITION BY lang ORDER BY rk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS n_tokens
         |FROM c WHERE cum_before < 2000 GROUP BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 2000L
      val d = TextPipeline.withNorm(t(s, dir).documents)
        .select(col("lang"), col("doc_id"),
          when(col("norm") === "", lit(0L))
            .otherwise(size(col("words")).cast("long")).as("tokens"),
          md5(col("doc_id").cast("string")).as("rk"))
        .withColumn("bucket", substring(col("rk"), 1, 2))
      // tiny relation: (langs × 256) rows; its window is over ≤256 rows
      val offsets = d.groupBy(col("lang"), col("bucket"))
        .agg(sum(col("tokens")).as("btok"))
        .withColumn("offset",
          coalesce(sum(col("btok")).over(Window.partitionBy(col("lang"))
            .orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("btok")
      // per-bucket running sum: window partitions hold corpus/256 rows,
      // never a whole language
      val withinW = Window.partitionBy(col("lang"), col("bucket"))
        .orderBy(col("rk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(offsets), Seq("lang", "bucket"))
        .withColumn("cum_before",
          col("offset") + sum(col("tokens")).over(withinW) - col("tokens"))
        .filter(col("cum_before") < budget)
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("tokens")).cast("bigint").as("n_tokens"))
    },

    // ---------------------------------------------- unigram surprisal
    // CCNet-style quality proxy without a trained LM: the corpus's own
    // unigram distribution scores each document's mean −ln p(word).
    // Same scale shape as TF-IDF: tf by (doc, word), corpus frequency by
    // word (vocabulary-sized — joined by key, never broadcast), token
    // total as a 1-row broadcast. Per-term surprisal crosses engines as
    // ROUNDED INTEGER MICRO-UNITS so the per-doc sum is an exact BIGINT
    // aggregate — no float summation-order hazard; the final mean
    // divides exact integers.
    GraftQuery("t_unigram_logprob",
      s"""WITH $surprisalCtes
         |SELECT doc_id, n_tokens, surprisal FROM surp""".stripMargin) {
      (s, dir) => docSurprisal(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("surprisal"))
    },

    // ----------------------------------------- end-to-end curation verdict
    // The composed decision a corpus pipeline actually renders per
    // document — one operator that chains the individually-oracled stages
    // and attributes every drop to its FIRST failing stage (the order
    // real pipelines use: dedup before quality before decontamination, so
    // downstream stage statistics aren't polluted by copies):
    //   duplicate     — a smaller doc_id shares the normalized md5
    //   low_quality   — < 20 tokens OR distinct-token ratio < 0.3
    //                   (exact integer cross-multiplication, no division)
    //   contaminated  — ≥ 50% of its distinct 5-grams occur in the held
    //                   eval split (doc_id % 10 = 0; the d_decontaminate
    //                   contract, 2·hits ≥ grams as an integer test)
    //   kept          — everything else
    // Scale shape: stage features are map-only; keep-first is a
    // (16-byte hash, id) aggregate joined back (never a window); the
    // contamination probe joins 8-byte fused gram hashes against the
    // distinct eval-gram relation. One corpus scan feeds every stage
    // (checkpointed), and the verdict is a single CASE over the three
    // left-joined stage relations.
    GraftQuery("d_curation_pipeline",
      s"""WITH base AS (SELECT doc_id, ${TextPipeline.normSqlDuck} AS norm FROM documents),
         |tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM base),
         |feat AS (SELECT doc_id, norm, ws,
         |    CASE WHEN norm = '' THEN 0 ELSE len(ws) END AS n_tokens,
         |    CASE WHEN norm = '' THEN 0 ELSE len(list_distinct(ws)) END AS n_distinct
         |  FROM tok WHERE doc_id % 10 <> 0),
         |minper AS (SELECT md5(norm) AS h, min(doc_id) AS keep_id
         |  FROM base WHERE doc_id % 10 <> 0 GROUP BY md5(norm)),
         |evalg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |      range(1, len(ws) - 3), i -> md5(array_to_string(ws[i : i + 4], ' '))))) AS g
         |  FROM tok WHERE doc_id % 10 = 0 AND len(ws) >= 5),
         |traing AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, len(ws) - 3), i -> md5(array_to_string(ws[i : i + 4], ' '))))) AS g
         |  FROM feat WHERE len(ws) >= 5),
         |ov AS (SELECT t.doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM traing t LEFT JOIN evalg e ON t.g = e.g GROUP BY t.doc_id)
         |SELECT f.doc_id,
         |  CAST(f.n_tokens AS BIGINT) AS n_tokens,
         |  CASE WHEN f.doc_id <> m.keep_id THEN 'duplicate'
         |       WHEN f.n_tokens < 20 OR f.n_distinct * 10 < f.n_tokens * 3
         |         THEN 'low_quality'
         |       WHEN coalesce(o.n_hit, 0) * 2 >= o.n_grams THEN 'contaminated'
         |       ELSE 'kept' END AS verdict
         |FROM feat f
         |JOIN minper m ON md5(f.norm) = m.h
         |LEFT JOIN ov o ON o.doc_id = f.doc_id""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      // one corpus scan feeds all three stages
      val feat = Reuse.materialize(TextPipeline.withNorm(t(s, dir).documents)
        .filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("norm"), col("words"),
          when(col("norm") === "", lit(0))
            .otherwise(size(col("words"))).as("n_tokens"),
          when(col("norm") === "", lit(0))
            .otherwise(size(array_distinct(col("words")))).as("n_distinct")))
      val minper = feat.groupBy(md5(col("norm")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
      val evalg = TextPipeline.withNorm(
          t(s, dir).documents.filter(col("doc_id") % 10 === 0))
        .filter(size(col("words")) >= 5)
        .select(explode(expr("graft_gram_hashes(words, 5)")).as("g"))
        .distinct()
      val traing = feat.filter(size(col("words")) >= 5)
        .select(col("doc_id"), explode(expr("graft_gram_hashes(words, 5)")).as("g"))
      val ov = traing.join(evalg.withColumn("hit", lit(1L)), Seq("g"), "left")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      feat.join(minper, md5(col("norm")) === minper("h"))
        .join(ov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          when(col("doc_id") =!= col("keep_id"), "duplicate")
            .when(col("n_tokens") < 20 ||
              col("n_distinct") * 10 < col("n_tokens") * 3, "low_quality")
            .when(coalesce(col("n_hit"), lit(0L)) * 2 >= col("n_grams"),
              "contaminated")
            .otherwise("kept").as("verdict"))
    },

    // ------------------------------------------------ bigram surprisal
    // One Markov order up from t_unigram_logprob — the direction CCNet's
    // KenLM scorer actually goes: per document, the mean −ln p(w_i |
    // w_{i−1}) under the corpus's own MLE bigram model (counts come from
    // the corpus being scored, so every observed bigram has count ≥ 1 and
    // no smoothing mass is needed). Conditional probability = bigram
    // count / count of the prefix AS A PREFIX (occurrences of w1 as the
    // first element of any bigram — NOT its unigram count, which would
    // overweight document-final tokens). Scale shape mirrors the unigram
    // chain: per-(doc, bigram) tf by map-side-combined groupBy; global
    // bigram counts aggregate FROM tf (checkpointed, so the explode runs
    // once); prefix counts aggregate from the bigram counts (vocab-sized,
    // joined by key — never broadcast, never a window over the corpus).
    // Per-term contributions cross engines as rounded integer micro-units
    // (the t_unigram_logprob discipline), so the per-doc sum is an exact
    // BIGINT aggregate.
    GraftQuery("t_bigram_logprob",
      s"""WITH ${TextPipeline.bigramCtesDuck},
         |$bigramCountCtes,
         |cp AS (SELECT w1, sum(cb) AS cp FROM cb GROUP BY w1),
         |terms AS (SELECT tfb.doc_id, tfb.tf,
         |    CAST(round(tfb.tf * ln(CAST(cb.cb AS DOUBLE) / cp.cp) * 1000000, 0)
         |         AS BIGINT) AS micro
         |  FROM tfb JOIN cb USING (w1, w2) JOIN cp USING (w1))
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  round(-CAST(sum(micro) AS DOUBLE) / 1000000 / sum(tf), 6) AS surprisal
         |FROM terms GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val (tfb, cb) = bigramTfCb(s, dir)
      val cp = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cp"))
      val terms = tfb.join(cb, Seq("w1", "w2")).join(cp, Seq("w1"))
        .select(col("doc_id"), col("tf"),
          round(col("tf") * log(col("cb").cast("double") / col("cp"))
            * 1000000, 0).cast("bigint").as("micro"))
      terms.groupBy(col("doc_id")).agg(
        sum(col("tf")).cast("bigint").as("n_bigrams"),
        round(-sum(col("micro")).cast("double") / 1000000 / sum(col("tf")), 6)
          .as("surprisal"))
    },

    // ------------------------------- interpolated Kneser-Ney surprisal
    // The smoothing KenLM actually ships (Heafield 2011; Kneser & Ney
    // 1995): p_KN(w2 | w1) = (c(w1,w2) − D)/c(w1·) + D·N1+(w1,·)/c(w1·)
    // · N1+(·,w2)/N1+(··) with absolute discount D = 0.75. t_bigram_logprob
    // is the MLE baseline; KN redistributes discount mass to the
    // CONTINUATION distribution (how many distinct contexts a word
    // follows), the estimate that made backoff LMs work. The model is
    // trained on the corpus being scored, so every scored bigram has
    // count ≥ 1 and (c − D) stays positive — the max(·, 0) clamp never
    // binds and is omitted on both sides. Scale shape: identical to
    // t_bigram_logprob (per-(doc,bigram) tf → vocabulary-sized count
    // relations joined by key; the type total is a 1-row broadcast); the
    // continuation counts are COUNT(*) over the checkpointed bigram-type
    // table, so KN costs two extra vocab-sized aggregates, nothing more.
    // Per-term contributions cross engines as rounded integer micro-units
    // through ONE shared expression text (knMicroSql), the established
    // float discipline.
    GraftQuery("t_kn_logprob",
      s"""WITH ${TextPipeline.bigramCtesDuck},
         |$bigramCountCtes,
         |pre AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cp,
         |          CAST(count(*) AS BIGINT) AS n1f FROM cb GROUP BY w1),
         |nb AS (SELECT w2, CAST(count(*) AS BIGINT) AS nbw FROM cb GROUP BY w2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM cb),
         |terms AS (SELECT tfb.doc_id, tfb.tf, $knMicroSql AS micro
         |  FROM tfb JOIN cb USING (w1, w2) JOIN pre USING (w1)
         |  JOIN nb USING (w2) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  round(-CAST(sum(micro) AS DOUBLE) / 1000000 / sum(tf), 6) AS kn_surprisal
         |FROM terms GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val (tfb, cb) = bigramTfCb(s, dir)
      val pre = cb.groupBy(col("w1")).agg(
        sum(col("cb")).cast("bigint").as("cp"),
        count(lit(1)).cast("bigint").as("n1f"))
      val nb = cb.groupBy(col("w2"))
        .agg(count(lit(1)).cast("bigint").as("nbw"))
      val tot = cb.agg(count(lit(1)).cast("bigint").as("ntot"))
      val terms = tfb.join(cb, Seq("w1", "w2")).join(pre, Seq("w1"))
        .join(nb, Seq("w2")).crossJoin(broadcast(tot))
        .select(col("doc_id"), col("tf"), expr(knMicroSql).as("micro"))
      terms.groupBy(col("doc_id")).agg(
        sum(col("tf")).cast("bigint").as("n_bigrams"),
        round(-sum(col("micro")).cast("double") / 1000000 / sum(col("tf")), 6)
          .as("kn_surprisal"))
    },

    // --------------------------------------- perplexity bucketing (CCNet)
    // CCNet (Wenzek et al. 2020) splits each language's documents into
    // head/middle/tail perplexity terciles and typically keeps head+middle.
    // The classic implementation sorts per language — a single-task hot
    // spot at corpus scale. Here tercile BOUNDARIES come from a cumulative
    // walk over the per-(lang, rounded-ppl) HISTOGRAM: the histogram
    // aggregate is map-side combinable and its window partitions hold one
    // row per distinct 2-dp surprisal value (bounded, corpus-size
    // independent), then boundaries broadcast back onto the documents —
    // no corpus-cardinality sort or window anywhere. Boundary rank tests
    // are exact integer comparisons (3·cum ≥ n ⇔ cum ≥ n/3).
    GraftQuery("d_ccnet_buckets",
      s"""WITH $surprisalCtes,
         |d AS (SELECT s.doc_id, doc.lang,
         |        CAST((s.pmicro + 5000 * s.n_tokens) // (10000 * s.n_tokens)
         |             AS DOUBLE) / 100 AS ppl
         |      FROM surp s JOIN documents doc USING (doc_id)),
         |hist AS (SELECT lang, ppl, count(*) AS c FROM d GROUP BY lang, ppl),
         |cum AS (SELECT lang, ppl,
         |        sum(c) OVER (PARTITION BY lang ORDER BY ppl) AS cum,
         |        sum(c) OVER (PARTITION BY lang) AS n FROM hist),
         |bounds AS (SELECT lang,
         |    min(CASE WHEN cum * 3 >= n THEN ppl END) AS b1,
         |    min(CASE WHEN cum * 3 >= 2 * n THEN ppl END) AS b2
         |  FROM cum GROUP BY lang)
         |SELECT d.doc_id, d.lang, d.ppl,
         |  CASE WHEN d.ppl <= b.b1 THEN 'head'
         |       WHEN d.ppl <= b.b2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM d JOIN bounds b USING (lang)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // d feeds both the histogram/bounds branch and the final labeling
      // join — checkpoint it (the docSurprisal pattern) so the surprisal
      // pipeline executes once, not once per branch
      val d = Reuse.materialize(docSurprisal(s, dir)
        .join(t(s, dir).documents.select(col("doc_id"), col("lang")), "doc_id")
        // ppl in exact integer centi-units from the micro sum: a second
        // float round() of the already-rounded surprisal can land on a
        // decimal half boundary where Spark (BigDecimal HALF_UP on the
        // shortest repr) and DuckDB (binary-value rounding) disagree —
        // (pmicro + 5000n) div (10000n) is HALF_UP by construction and
        // BIGINT-identical in both engines
        .select(col("doc_id"), col("lang"),
          (expr("(pmicro + 5000L * n_tokens) div (10000L * n_tokens)")
            .cast("double") / 100).as("ppl")))
      val hist = d.groupBy(col("lang"), col("ppl"))
        .agg(count(lit(1)).as("c"))
      // windows over the HISTOGRAM (distinct ppl values per lang), never
      // the documents; DuckDB's default RANGE frame and this one agree
      // because (lang, ppl) rows are distinct — no peers
      val cum = hist
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("lang")).orderBy(col("ppl"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      val bounds = cum.groupBy(col("lang")).agg(
        min(when(col("cum") * 3 >= col("n"), col("ppl"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("ppl"))).as("b2"))
      d.join(broadcast(bounds), "lang")
        .select(col("doc_id"), col("lang"), col("ppl"),
          when(col("ppl") <= col("b1"), "head")
            .when(col("ppl") <= col("b2"), "middle")
            .otherwise("tail").as("bucket"))
    },

    // --------------------------------- model-based quality filter (hashed
    // linear classifier). The DCLM/fineweb-edu stage a heuristic pipeline
    // lacks: score = w·x for hashed bag-of-words features (64 buckets via
    // the portable 63-bit hash), keep iff score > 0. Weights are fixed
    // plan constants (a real deployment loads trained ones; the CONTRACT —
    // feature hashing, sparse dot, threshold — is what's exercised), and
    // all arithmetic is exact: integer micro-unit weights × integer tf,
    // summed as BIGINT, divided once at the end. Scale shape: tf by
    // (doc, word), per-word hash map-side, two scalar shuffles — no
    // vocabulary broadcast, no window, no model server round-trips.
    GraftQuery("t_quality_classifier", {
      val wLit = clfWeights.mkString("[", ", ", "]")
      val (hashCtes, hashLast) = SketchOracleSql.hashScalarCtes(
        "qc", "tf", "doc_id, tf", "w")
      s"""WITH $wordsTfCtes,
         |$hashCtes,
         |m AS (SELECT doc_id, tf,
         |    tf * ($wLit[CAST(fh % 64 + 1 AS INT)]) AS m FROM $hashLast)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(m) AS DOUBLE) / 1000000 / sum(tf), 6) AS score,
         |  (sum(m) > 0) AS kept
         |FROM m GROUP BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val tf = TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"), explode(col("words")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val m = tf.select(col("doc_id"), col("tf"),
        (col("tf") * element_at(lit(clfWeights.toArray),
          (expr("graft_porthash63(w) % 64") + 1).cast("int"))).as("m"))
      m.groupBy(col("doc_id")).agg(
        sum(col("tf")).cast("bigint").as("n_tokens"),
        round(sum(col("m")).cast("double") / 1000000 / sum(col("tf")), 6)
          .as("score"),
        (sum(col("m")) > 0).as("kept"))
    },

    // --------------------------------- DSIR importance weights (Xie et al.
    // 2023, "Data Selection for Language Models via Importance Resampling").
    // Per-document log importance weight ln p_target(x) − ln p_raw(x) under
    // two hashed bag-of-words unigram models: the target model trains on a
    // fixed high-quality source subset, the raw model on the whole corpus,
    // both over 64 hash buckets with add-one smoothing. Scale shape: one
    // (doc, word) tf shuffle (map-side combined), bucket distributions as a
    // ≤64-row aggregate whose log-ratio table broadcasts back — the "model"
    // is a plan constant-sized relation, so scoring 100 TB is a map-only
    // pass over tf. The per-bucket log-ratios cross engines as ROUNDED
    // INTEGER MICRO-UNITS (the surprisal discipline), so each doc's score
    // is an exact BIGINT dot product divided once at the end.
    GraftQuery("t_dsir_score", {
      val tgtList = dsirTarget.map(s => s"'$s'").mkString(", ")
      val (hashCtes, hashLast) = SketchOracleSql.hashScalarCtes(
        "ds", "tf", "doc_id, is_t, tf", "w")
      s"""WITH wt AS (
         |  SELECT doc_id, (source IN ($tgtList)) AS is_t,
         |    unnest(string_split(${TextPipeline.normSqlDuck}, ' ')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id, is_t, w, count(*) AS tf FROM wt
         |       WHERE w <> '' GROUP BY 1, 2, 3),
         |$hashCtes,
         |bkt AS (SELECT doc_id, is_t, tf, fh % 64 AS b FROM $hashLast),
         |dist AS (SELECT b, sum(tf) AS cr,
         |    sum(CASE WHEN is_t THEN tf ELSE 0 END) AS ct
         |  FROM bkt GROUP BY b),
         |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM dist),
         |micro AS (SELECT b,
         |    CAST(round(ln((CAST(ct + 1 AS DOUBLE) / (tt + 64))
         |      / (CAST(cr + 1 AS DOUBLE) / (tr + 64))) * 1000000, 0)
         |      AS BIGINT) AS m
         |  FROM dist CROSS JOIN tot)
         |SELECT k.doc_id, CAST(sum(k.tf) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(k.tf * m.m) AS DOUBLE) / 1000000 / sum(k.tf), 6)
         |    AS dsir_logratio
         |FROM bkt k JOIN micro m ON k.b = m.b
         |GROUP BY k.doc_id""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val tf = TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"),
          col("source").isin(dsirTarget: _*).as("is_t"),
          explode(col("words")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("is_t"), col("w"))
        .agg(count(lit(1)).as("tf"))
      // bkt feeds both the distribution aggregate and the scoring pass —
      // checkpoint so the explode+tf shuffle runs once (docSurprisal's
      // pattern); the hash is recomputed nowhere downstream
      val bkt = Reuse.materialize(
        tf.withColumn("b", expr("graft_porthash63(w) % 64")).drop("w"))
      val dist = bkt.groupBy(col("b")).agg(
        sum(col("tf")).as("cr"),
        sum(when(col("is_t"), col("tf")).otherwise(0L)).as("ct"))
      val tot = dist.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
      val micro = dist.crossJoin(broadcast(tot))
        .select(col("b"),
          round(log(((col("ct") + 1).cast("double") / (col("tt") + 64))
            / ((col("cr") + 1).cast("double") / (col("tr") + 64)))
            * 1000000, 0).cast("bigint").as("m"))
      bkt.join(broadcast(micro), "b")
        .groupBy(col("doc_id")).agg(
          sum(col("tf")).cast("bigint").as("n_tokens"),
          round(sum(col("tf") * col("m")).cast("double") / 1000000
            / sum(col("tf")), 6).as("dsir_logratio"))
    },

    // ------------------------------ weighted sampling without replacement
    // Efraimidis–Spirakis (2006) one-pass weighted reservoir sampling as a
    // deterministic top-k: each document draws u from the portable fmix63
    // hash of its id and ranks by ln(u)/weight (equivalent to the paper's
    // u^(1/w) key); the k largest keys ARE a weighted sample without
    // replacement, here with weight = token count. Scale shape: the key is
    // a map-only expression and the selection is TakeOrdered top-k —
    // per-partition heaps merged on the driver, never a global sort; the
    // exact shape a 100 TB "sample n docs ∝ length" step needs. Keys cross
    // engines as rounded integer micro-units so the cut line is identical
    // everywhere; doc_id breaks the (measure-zero) ties totally.
    GraftQuery("d_weighted_sample", {
      val (ctes, last) = SketchOracleSql.fmixScalarCtes(
        "es", "k", "doc_id, lang, n_tokens", "h")
      s"""WITH k AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN ${TextPipeline.normSqlDuck} = '' THEN 0
         |         ELSE len(string_split(${TextPipeline.normSqlDuck}, ' ')) END
         |      AS n_tokens,
         |    CAST(doc_id AS HUGEINT) AS h
         |  FROM documents),
         |$ctes
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(round(ln((CAST(fh % 1048576 AS DOUBLE) + 0.5) / 1048576)
         |    / n_tokens * 1000000, 0) AS BIGINT) AS es_key
         |FROM $last WHERE n_tokens > 0
         |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"), col("lang"),
          when(col("norm") === "", lit(0L))
            .otherwise(size(col("words")).cast("long")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("es_key",
          round(log((expr("graft_fmix63(doc_id) % 1048576").cast("double")
            + 0.5) / 1048576) / col("n_tokens") * 1000000, 0).cast("bigint"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(100)
    },

    // ------------------------------- count-min-sketch heavy hitters
    // The frequency-estimation sketch (Cormode & Muthukrishnan 2005)
    // beside the registry's cardinality sketch (q_approx_distinct/HLL):
    // depth 4 × width 1024 counters, row hashes = fmix63(porthash63(w)
    // XOR r) % 1024 (the avalanche finalizer decorrelates the 4 row
    // salts), estimate = min over rows — a conservative OVERestimate,
    // never under. Heavy hitters = words whose estimate is ≥ 0.5% of
    // total token mass; the exact count rides along so the driver's
    // oracle pins est ≥ exact row by row (CmsSpec pins the ε bound).
    // Scale shape: word counts are ONE map-side-combined corpus
    // aggregate; everything after is vocabulary-sized; the 4096-counter
    // sketch is a CONSTANT-size broadcast at any corpus scale (and the
    // reason the sketch matters at 100 TB: per-partition sketches merge
    // by counter addition — the aggregate is associative).
    // Fully hash-oracled: DuckDB re-derives every row hash through the
    // staged fmix CTEs (the t_quality_classifier pattern).
    GraftQuery("t_heavy_hitters_cms", {
      val (hashCtes, hashLast) = SketchOracleSql.hashScalarCtes(
        "ch", "cf", "w, c", "w")
      val (fmixCtes, fmixLast) = SketchOracleSql.fmixScalarCtes(
        "cm", "rows0", "w, c, r", "x")
      s"""WITH $wordsTfCtes,
         |cf AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY w),
         |$hashCtes,
         |rows0 AS (SELECT w, c, r,
         |    CAST(xor(fh, CAST(r AS BIGINT)) AS HUGEINT) AS x
         |  FROM $hashLast, UNNEST([0, 1, 2, 3]) t(r)),
         |$fmixCtes,
         |slots AS (SELECT w, c, r, fh % 1024 AS slot FROM $fmixLast),
         |sk AS (SELECT r, slot, CAST(sum(c) AS BIGINT) AS sc FROM slots
         |       GROUP BY r, slot),
         |est AS (SELECT s.w, max(s.c) AS exact, min(k.sc) AS est
         |  FROM slots s JOIN sk k ON s.r = k.r AND s.slot = k.slot
         |  GROUP BY s.w),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cf)
         |SELECT w, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact
         |FROM est CROSS JOIN tot WHERE est * 200 >= tt
         |ORDER BY est DESC, w LIMIT 50""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      // feeds the sketch, the probe, and the total
      val cf = Reuse.materialize(TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"), explode(col("words")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).cast("bigint").as("c")))
      val slots = cf.select(col("w"), col("c"),
          explode(lit(Array(0, 1, 2, 3))).as("r"))
        .withColumn("slot",
          expr("graft_fmix63(graft_porthash63(w) ^ CAST(r AS BIGINT)) % 1024"))
      val sk = slots.groupBy(col("r"), col("slot"))
        .agg(sum(col("c")).cast("bigint").as("sc"))
      val tot = cf.agg(sum(col("c")).cast("bigint").as("tt"))
      slots.join(broadcast(sk), Seq("r", "slot"))
        .groupBy(col("w"))
        .agg(max(col("c")).as("exact"), min(col("sc")).as("est"))
        .crossJoin(broadcast(tot))
        .filter(col("est") * 200 >= col("tt"))
        .select(col("w"), col("est").cast("bigint").as("est"),
          col("exact").cast("bigint").as("exact"))
        .orderBy(col("est").desc, col("w"))
        .limit(50)
    }
  )
}
