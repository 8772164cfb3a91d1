package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Reuse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data text pipeline over the `documents` table:
  * exact + fuzzy deduplication, token statistics, language ID, quality
  * scoring, fingerprinting.
  *
  * Everything is built from codegen'd built-ins and native Catalyst
  * expressions — no UDFs — so whole-stage codegen covers the hot path and
  * the pipeline scales linearly with documents. MinHash/SimHash/winnow
  * signatures use the engine-portable basis hash
  * ([[graft.functions.PortableHash]]), so every sketch query is fully
  * DuckDB-oracled ([[SketchOracleSql]] re-derives the exact signatures in
  * SQL); the *exact-jaccard* twins verify the rerank arithmetic
  * independently.
  *
  * Scale design (100 TB of documents):
  *  - all per-doc feature extraction is map-only (no shuffle);
  *  - near-dup candidate generation shuffles on (band, bucket) keys, never
  *    cross-joins the corpus; bucket sizes are bounded by the band width;
  *  - exact dedup groups on a 128-bit content hash, not the raw text, so
  *    shuffle rows are ~16 bytes + key.
  */
object TextPipeline {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Normalized text: lowercase, strip non-alphanumerics, squash spaces.
    * Spark and DuckDB forms kept in lockstep for oracle parity — this
    * pair IS the cross-engine contract for every text/sketch/corpus
    * query, so there is exactly ONE definition (CorpusOps shares it). */
  private val normExpr =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))"
  private[operators] val normSqlDuck =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** Corpus bigram extraction — ONE definition of the adjacency
    * contract (normalized words, docs of ≥ 2 tokens, sequence +
    * element_at pairing), shared by the bigram-LM, Kneser-Ney, and PMI
    * queries in [[Curation]]/[[Retrieval]] so a guard or checkpoint fix
    * can't silently reach only some of them. The DuckDB side ends in
    * CTE `bi(doc_id, w1, w2)`; the Spark side returns the same three
    * columns. */
  private[operators] def bigramCtesDuck: String =
    s"""w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS ws
       |           FROM documents),
       |bi0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
       |        FROM w WHERE len(ws) >= 2),
       |bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bi0)""".stripMargin

  /** Spark twin of [[bigramCtesDuck]]: (doc_id, w1, w2) adjacency rows.
    * size >= 2 guards the sequence bounds (sequence(1, 0) would count
    * DOWN); single-token and empty-norm docs have no bigrams in either
    * engine. Adjacency via sequence + element_at — codegen'd built-ins,
    * no lambda in the corpus-wide path. */
  private[operators] def bigramPairs(s: SparkSession, dir: String): DataFrame =
    withNorm(t(s, dir).documents)
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), col("words"),
        explode(expr("sequence(1, size(words) - 1)")).as("i"))
      .select(col("doc_id"),
        expr("words[i - 1]").as("w1"), expr("words[i]").as("w2"))

  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.NormalizeText(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")))))
      .withColumn("words", split(col("norm"), " "))

  // MinHash: h_j(x) = (a_j * x + b_j) mod P over base hash
  // x = porthash63(shingle) mod P; constants live in VectorFunctions and
  // are evaluated by the fused codegen'd graft_shingle3 + graft_minhash32
  // expressions.

  val defs: Seq[GraftQuery] = Seq(

    // ------------------------------------------------------- exact dedup
    GraftQuery("d_dedup_exact",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      t(s, dir).documents
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // --------------------------------------------- sentence statistics
    // Sentence segmentation + per-doc sentence stats — the curation
    // signals sentence-level filters key on (C4 drops docs whose
    // sentences are too long/short; sentence-level dedup needs the
    // boundaries). The corpus carries no punctuation, so boundaries
    // are SYNTHESIZED deterministically first (every 'table' token
    // ends a sentence — the codec-fixture pattern), then the actual
    // splitter runs: regex split on '. ', empties filtered, per-doc
    // count / longest sentence / over-120-chars count. The split+lambda
    // chain is the same in both engines (Spark split/filter/transform
    // vs DuckDB string_split_regex/list_filter/list_transform), so the
    // hash gate pins their segmentation semantics against each other.
    // Map-only: sentences never leave their document's row.
    GraftQuery("t_sentence_stats",
      """WITH p AS (
        |  SELECT doc_id, regexp_replace(text, 'table', 'table.', 'g') AS sent_text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(sent_text, '\. '),
        |                x -> length(trim(x)) > 0) AS sents
        |  FROM p)
        |SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(list_aggregate(list_transform(sents, x -> length(trim(x))), 'max') AS BIGINT) AS max_sent_chars,
        |  CAST(len(list_filter(sents, x -> length(trim(x)) > 120)) AS BIGINT) AS long_sentences
        |FROM s""".stripMargin) { (s, dir) =>
      t(s, dir).documents
        .selectExpr("doc_id",
          "regexp_replace(text, 'table', 'table.') AS sent_text")
        .selectExpr("doc_id",
          "filter(split(sent_text, '\\\\. '), x -> length(trim(x)) > 0) AS sents")
        .selectExpr("doc_id",
          "CAST(size(sents) AS BIGINT) AS n_sentences",
          "CAST(array_max(transform(sents, x -> length(trim(x)))) AS BIGINT) AS max_sent_chars",
          "CAST(size(filter(sents, x -> length(trim(x)) > 120)) AS BIGINT) AS long_sentences")
    },

    // Normalized dedup: case/punctuation-insensitive content identity.
    GraftQuery("d_dedup_norm",
      s"""SELECT md5($normSqlDuck) AS norm_hash, min(doc_id) AS keep_id,
         |       count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      withNorm(t(s, dir).documents)
        .groupBy(md5(col("norm")).as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // Incremental (cross-snapshot) dedup: the "ingest the next crawl
    // increment against the existing corpus" stage — admit an incoming
    // document iff its normalized content hash appears neither in the
    // existing corpus (anti-join) nor earlier within the increment itself
    // (keep-first). Split here is by doc_id (a deterministic stand-in for
    // the snapshot boundary). Scale shape: both passes move only
    // (16-byte hash, id) pairs — a hash anti-join plus a min-per-hash
    // aggregate, no text in any exchange beyond the map-side md5.
    GraftQuery("d_incremental_dedup",
      s"""WITH hashed AS (
         |  SELECT doc_id, md5($normSqlDuck) AS h FROM documents),
         |corpus AS (SELECT h FROM hashed WHERE doc_id < 250),
         |increment AS (SELECT doc_id, h FROM hashed WHERE doc_id >= 250),
         |fresh AS (
         |  SELECT i.doc_id, i.h FROM increment i
         |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = i.h))
         |SELECT h AS norm_hash, CAST(min(doc_id) AS BIGINT) AS admit_id,
         |  CAST(count(*) AS BIGINT) AS n_in_increment
         |FROM fresh GROUP BY h""".stripMargin) { (s, dir) =>
      // both sides of the anti-join derive from hashed — checkpoint it so
      // the normalize+md5 scan runs once, not once per side
      val hashed = Reuse.materialize(withNorm(t(s, dir).documents)
        .select(col("doc_id"), md5(col("norm")).as("h")))
      val corpus = hashed.filter(col("doc_id") < 250).select(col("h"))
      val increment = hashed.filter(col("doc_id") >= 250)
      increment.join(corpus, Seq("h"), "left_anti")
        .groupBy(col("h").as("norm_hash"))
        .agg(min(col("doc_id")).cast("bigint").as("admit_id"),
          count(lit(1)).cast("bigint").as("n_in_increment"))
    },

    // -------------------------------------------------- token statistics
    GraftQuery("t_token_count",
      s"""SELECT doc_id,
         |  len(string_split($normSqlDuck, ' ')) AS n_ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
         |  length(text) AS n_chars_actual,
         |  n_chars
         |FROM documents""".stripMargin) { (s, dir) =>
      withNorm(t(s, dir).documents).select(
        col("doc_id"),
        size(col("words")).cast("bigint").as("n_ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .cast("bigint").as("n_bpe_tokens"),
        length(col("text")).cast("bigint").as("n_chars_actual"),
        col("n_chars"))
    },

    // --------------------------------------------------- quality scoring
    GraftQuery("t_quality_score",
      s"""WITH q AS (
         |  SELECT doc_id, text, $normSqlDuck AS norm,
         |         len(string_split($normSqlDuck, ' ')) AS n_words
         |  FROM documents)
         |SELECT doc_id, n_words,
         |  CAST(length(replace(norm, ' ', '')) AS DOUBLE) / n_words AS avg_word_len,
         |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |    / length(text) AS punct_ratio,
         |  least(1.0, CAST(n_words AS DOUBLE) / 64.0)
         |    * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |             / length(text)) AS quality
         |FROM q""".stripMargin) { (s, dir) =>
      val punct = (length(col("text")) -
        length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("double") /
        length(col("text"))
      withNorm(t(s, dir).documents)
        .withColumn("n_words", size(col("words")).cast("bigint"))
        .select(col("doc_id"), col("n_words"),
          (length(regexp_replace(col("norm"), " ", "")).cast("double") / col("n_words"))
            .as("avg_word_len"),
          punct.as("punct_ratio"),
          (least(lit(1.0), col("n_words").cast("double") / 64.0) * (lit(1.0) - punct))
            .as("quality"))
    },

    // ------------------------------------------------------- language ID
    // n-gram/stopword heuristic: count marker-word hits per language,
    // argmax with a fixed tie order. Identical arithmetic both engines.
    GraftQuery("t_langid", {
      def hits(duck: String): String =
        s"len(list_filter(string_split($normSqlDuck, ' '), w -> $duck))"
      val en = hits("w IN ('the','and','of','to','a','is','in','that')")
      val es = hits("w IN ('el','la','de','que','y','los','se','un')")
      val de = hits("w IN ('der','die','das','und','ist','nicht','ein','zu')")
      val fr = hits("w IN ('le','la','les','et','des','est','une','du')")
      s"""SELECT doc_id, lang,
         |  $en AS en_hits, $es AS es_hits, $de AS de_hits, $fr AS fr_hits,
         |  CASE WHEN greatest($en, $es, $de, $fr) = 0 THEN 'unk'
         |       WHEN $en >= greatest($es, $de, $fr) THEN 'en'
         |       WHEN $es >= greatest($de, $fr) THEN 'es'
         |       WHEN $de >= $fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      // marker-hit counting via the codegen'd graft_count_in (constant
      // lookup set, no per-element lambda / OR-chain dispatch)
      def hits(ws: Seq[String]): Column =
        expr(s"graft_count_in(words, array(${ws.map("'" + _ + "'").mkString(",")}))")
          .cast("bigint")
      val en = hits(Seq("the", "and", "of", "to", "a", "is", "in", "that"))
      val es = hits(Seq("el", "la", "de", "que", "y", "los", "se", "un"))
      val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"))
      val fr = hits(Seq("le", "la", "les", "et", "des", "est", "une", "du"))
      withNorm(t(s, dir).documents).select(
        col("doc_id"), col("lang"),
        en.as("en_hits"), es.as("es_hits"), de.as("de_hits"), fr.as("fr_hits"),
        when(greatest(en, es, de, fr) === 0, "unk")
          .when(en >= greatest(es, de, fr), "en")
          .when(es >= greatest(de, fr), "es")
          .when(de >= fr, "de")
          .otherwise("fr").as("lang_pred"))
    },

    // --------------------------------------------------- fingerprinting
    // Bag-of-words fingerprint (order-insensitive content identity) +
    // md5 content hash.
    GraftQuery("t_fingerprint",
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(string_split($normSqlDuck, ' '))), ' ')) AS bow_fp,
         |  md5(text) AS content_fp
         |FROM documents""".stripMargin) { (s, dir) =>
      withNorm(t(s, dir).documents).select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(col("words"))), " ")).as("bow_fp"),
        md5(col("text")).as("content_fp"))
    },

    // --------------------------------------------- end-to-end corpus clean
    // The composed training-data pipeline in one query: quality scoring →
    // threshold filter → exact-dedup keep-first → per-language counts.
    // Each stage is individually oracled elsewhere (t_quality_score,
    // d_dedup_exact); this verifies their COMPOSITION end-to-end. Scale
    // shape: quality is map-only; dedup groups on a 16-byte hash; the
    // keep-list join is keyed on doc_id (shuffle join — the keep list
    // grows with the corpus, never broadcast).
    GraftQuery("d_corpus_clean",
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    least(1.0, CAST(len(string_split($normSqlDuck, ' ')) AS DOUBLE) / 64.0)
         |      * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |               / length(text)) AS quality
         |  FROM documents),
         |keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text))
         |SELECT q.lang, count(*) AS n_kept
         |FROM q JOIN keep ON q.doc_id = keep.keep_id
         |WHERE q.quality >= 0.5 GROUP BY q.lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir).documents
      val punct = (length(col("text")) -
        length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("double") /
        length(col("text"))
      val q = withNorm(docs).select(col("doc_id"), col("lang"),
        (least(lit(1.0), size(col("words")).cast("double") / 64.0) *
          (lit(1.0) - punct)).as("quality"))
      val keep = docs.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("keep_id"))
      q.join(keep, col("doc_id") === col("keep_id"))
        .filter(col("quality") >= 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    },

    // ------------------------------------------------- corpus vocabulary
    // Corpus-level term frequencies, top 50. Map-side-combinable word
    // count — the canonical linear-scaling corpus statistic; the final
    // top-k is a TakeOrdered over the (small) aggregated vocabulary.
    GraftQuery("t_vocab_topk",
      s"""WITH words AS (
         |  SELECT unnest(string_split($normSqlDuck, ' ')) AS word
         |  FROM documents)
         |SELECT word, count(*) AS freq FROM words GROUP BY word
         |ORDER BY freq DESC, word LIMIT 50""".stripMargin) { (s, dir) =>
      withNorm(t(s, dir).documents)
        .select(explode(col("words")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word")).limit(50)
    },

    // ------------------------------------------------------------- TF-IDF
    // Top-3 characteristic terms per document. Three shuffles, all on
    // aggregated relations: tf by (doc, term), df by term (vocabulary-
    // sized — joined by key, never broadcast: vocabulary grows with the
    // corpus), then back by doc for the ranking window. idf values are
    // rank-stable across engines via round(., 6) with term tiebreak.
    GraftQuery("t_tfidf_topterms",
      s"""WITH words AS (
         |  SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
         |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT tf.doc_id, tf.w AS term,
         |             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
         |           FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, tfidf,
         |             row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY tfidf DESC, term) AS rn
         |           FROM scored)
         |SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val docs = withNorm(t(s, dir).documents)
      val n = docs.agg(count(lit(1)).as("n"))
      // df via groupBy + join-back, NOT count-over-Window.partitionBy(w):
      // a window partition is ONE task, and the partition for a stopword
      // holds a row per containing document — a single-reducer hot spot
      // AQE cannot split (skew handling covers joins/aggregates, not
      // windows). The groupBy is map-side combined (reducers see one row
      // per map task, not per doc) and the join back is a SHUFFLED join,
      // which AQE's skew-join CAN split. tf is materialized (Reuse) so
      // the explode+aggregate pipeline executes once, feeding both the df
      // aggregation and the join probe from materialized blocks.
      val tf = Reuse.materialize(
        docs.select(col("doc_id"), explode(col("words")).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
      tf.join(df, "w")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("w").as("term"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("tfidf"))
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rn"))
    },

    // ------------------------------------- deterministic stratified sample
    // Hash-based per-language sampling: a document is kept iff the first
    // md5 nibble of its id is in {0,1,2,3} (a 25% rate) — reproducible,
    // engine-portable, and map-only, unlike RNG-based sampling. The
    // canonical way to cut a training subset that any engine can re-derive.
    GraftQuery("d_stratified_sample",
      """SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |                IN ('0','1','2','3') THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      t(s, dir).documents.groupBy(col("lang")).agg(
        count(lit(1)).as("n_total"),
        sum(when(substring(md5(col("doc_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"), 1).otherwise(0)).cast("bigint").as("n_sampled"))
    },

    // ------------------------------------------------ exact n-gram jaccard
    // Word-set Jaccard over a bounded candidate set (doc_id < 60), fully
    // oracled. At scale the candidate set comes from LSH banding (below),
    // never a cross join; the bounded cross here exists to verify the
    // jaccard arithmetic itself.
    GraftQuery("d_ngram_jaccard", {
      val setSql = s"list_distinct(string_split($normSqlDuck, ' '))"
      s"""WITH d AS (SELECT doc_id, $setSql AS ws FROM documents WHERE doc_id < 60)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         |    / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
         |FROM d a, d b WHERE a.doc_id < b.doc_id""".stripMargin
    }) { (s, dir) =>
      val d = withNorm(t(s, dir).documents.filter(col("doc_id") < 60))
        .select(col("doc_id"), array_distinct(col("words")).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("ws").as("ws_a"))
      val b = d.select(col("doc_id").as("id_b"), col("ws").as("ws_b"))
      val inter = size(array_intersect(col("ws_a"), col("ws_b")))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (inter.cast("double") /
            (size(col("ws_a")) + size(col("ws_b")) - inter)).as("jaccard"))
    },

    // ------------------------------------------- winnowed rolling-hash fp
    // Karp-Rabin rolling hash + winnowing (the MOSS fingerprint): any two
    // documents sharing a normalized substring of >= w+k-1 bytes share at
    // least one fingerprint. The 31-bit Karp-Rabin hash is plain integer
    // arithmetic, so DuckDB re-derives the exact fingerprints (full hash
    // oracle); the selection guarantee and a reference implementation are
    // additionally asserted by spec.
    GraftQuery("t_winnow_fp", SketchOracleSql.winnowFp(normSqlDuck)) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      withNorm(t(s, dir).documents)
        .select(col("doc_id"), expr("graft_winnow(norm)").as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fp"),
          expr("fps[0]").as("fp_min"))
    },

    // Shared-fingerprint candidate pairs — the scale twin of plagiarism /
    // near-dup detection over winnowed fingerprints: explode to (fp,
    // doc_id), cap degenerate fingerprints (boilerplate guard, same as the
    // LSH bucket cap), self-join per fingerprint, rank pairs by how many
    // fingerprints they share. Shuffles only (fp, doc_id) pairs.
    GraftQuery("d_winnow_pairs", SketchOracleSql.winnowPairs(normSqlDuck)) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val f = withNorm(t(s, dir).documents)
        .select(col("doc_id"), explode(expr("graft_winnow(norm)")).as("fp"))
      // cap 50 (vs 200 in the LSH pipeline): this corpus's tiny synthetic
      // vocabulary makes boilerplate fingerprints near-universal, and the
      // pair volume inside a bucket is quadratic in its size — the cap is
      // the knob that bounds join fan-out at any corpus scale
      val capped = f.withColumn("fsize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp"))))
        .filter(col("fsize") <= 50).drop("fsize")
      capped.select(col("fp"), col("doc_id").as("id_a"))
        .join(capped.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
        .limit(100)
    },

    // --------------------------------------------------------- MinHash LSH
    // Signatures: 32 permutations over 3-word shingles on the portable
    // basis hash — DuckDB re-derives sig[0] exactly (full hash oracle).
    GraftQuery("d_minhash_signatures", SketchOracleSql.minhashSignatures(normSqlDuck)) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      minhashSignatures(shingleHashed(withNorm(t(s, dir).documents)))
        .select(col("doc_id"), col("sig"))
        .withColumn("sig_head", expr("sig[0]"))
        .drop("sig")
    },

    // Candidate pairs via band-bucket join (8 bands × 4 minhash rows over
    // 3-word shingles), exact-jaccard rerank, top-100 pairs.
    //
    // The 100 TB shape, in order:
    //  1. signatures are map-only;
    //  2. the self-join shuffles ONLY (band, bucket, doc_id) — never text
    //     or shingle arrays;
    //  3. degenerate buckets (bucket size > 200, i.e. hash skew or
    //     boilerplate-heavy corpora) are dropped before the join — the
    //     standard LSH skew guard; candidate volume is bounded by
    //     bands × cap² per bucket;
    //  4. shingle sets are re-attached to the *small* candidate pair set
    //     for exact rerank.
    GraftQuery("d_minhash_lsh_pairs", SketchOracleSql.minhashLshPairs(normSqlDuck)) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val docs = shingleHashed(withNorm(t(s, dir).documents))
      lshRerankedPairs(docs, col("id_a") < col("id_b"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(100)
    },


    // ------------------------------------------- fuzzy decontamination
    // Doc-level NEAR-duplicate decontamination — the d_decontaminate
    // gram-overlap check catches verbatim leakage; this catches eval
    // documents that reached the training set lightly edited (the
    // Llama/GPT-3 reports' "near-dedup against benchmarks" step). The
    // machinery IS the MinHash LSH pipeline pointed across the
    // train/eval split (train = doc_id % 10 ≠ 0, eval = % 10 = 0 — the
    // d_decontaminate contract): signatures map-only, candidates from
    // band-bucket collisions between the two sides (the banded exchange
    // is computed once and reused by both filtered sides), exact-jaccard
    // rerank over distinct shingle hashes, flag at jaccard ≥ 0.5.
    // Emits the contamination REPORT (train doc, the eval doc it
    // matches, the score) — the relation a pipeline anti-joins its
    // training set against. Fully hash-oracled: DuckDB re-derives
    // signatures, buckets, candidates, and the rerank exactly.
    GraftQuery("d_decontaminate_fuzzy",
        SketchOracleSql.fuzzyDecontaminate(normSqlDuck, "0.5")) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val docs = shingleHashed(withNorm(t(s, dir).documents))
      lshRerankedPairs(docs,
          col("id_a") % 10 =!= 0 && col("id_b") % 10 === 0)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("train_id"), col("id_b").as("eval_id"),
          col("jaccard"))
        .orderBy(col("train_id"), col("eval_id"))
        .limit(500)
    },


    // ----------------------------------- within-doc duplicate windows
    // The fineweb/Gopher "duplicated line fraction" signal adapted to
    // line-less text: the fraction of a document's 3-word sliding
    // windows that repeat WITHIN the document — template stutter and
    // copy-paste loops that cross-document dedup never sees. Map-only:
    // the fused positional gram-hash kernel emits every window's 63-bit
    // hash and the metric is size vs distinct-size arithmetic on the
    // row; the oracle re-derives with md5-string grams (equality
    // structure crosses engines, not hash values).
    GraftQuery("t_dup_windows",
      s"""WITH g AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(string_split($normSqlDuck, ' ')) - 1),
         |      i -> md5(array_to_string(string_split($normSqlDuck, ' ')[i : i + 2], ' '))) AS gs
         |  FROM documents
         |  WHERE len(string_split($normSqlDuck, ' ')) >= 3)
         |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_windows,
         |  CAST(len(gs) - len(list_distinct(gs)) AS BIGINT) AS n_dup_windows,
         |  round(CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
         |    AS dup_frac
         |FROM g""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      withNorm(t(s, dir).documents)
        .filter(size(col("words")) >= 3)
        .withColumn("gs", expr("graft_gram_pos_hashes(words, 3)"))
        .select(col("doc_id"),
          size(col("gs")).cast("bigint").as("n_windows"),
          (size(col("gs")) - size(array_distinct(col("gs"))))
            .cast("bigint").as("n_dup_windows"),
          round((size(col("gs")) - size(array_distinct(col("gs"))))
            .cast("double") / size(col("gs")), 6).as("dup_frac"))
    },

    // ------------------------------------------ incremental near-dedup
    // The fuzzy twin of d_incremental_dedup: admit a crawl-increment
    // document (doc_id ≥ 250, the same split contract) only if it has
    // no NEAR-duplicate (jaccard ≥ 0.5) among the existing corpus OR
    // among smaller-id increment docs — "dedup dump N+1 against dumps
    // 1..N plus itself", the per-snapshot operation an exact hash join
    // can't do for lightly-edited recrawls. Keep-first convention: a
    // doc is blocked by ANY smaller-id near neighbor regardless of
    // that neighbor's own fate (the d_semdedup stance — deterministic,
    // one pass, no cascade recomputation). Base ids sort below
    // increment ids, so one `id_a < id_b` predicate covers both
    // blocker classes and the banded exchange is computed once. Output
    // is the full admission relation (every increment doc, its
    // verdict, and the smallest blocker), fully hash-oracled.
    GraftQuery("d_incremental_neardup",
        SketchOracleSql.incrementalNearDup(normSqlDuck, 250L, "0.5")) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val docs = shingleHashed(withNorm(t(s, dir).documents))
      val blk = lshRerankedPairs(docs,
          col("id_a") < col("id_b") && col("id_b") >= 250)
        .filter(col("jaccard") >= 0.5)
        .groupBy(col("id_b").as("doc_id"))
        .agg(min(col("id_a")).cast("bigint").as("blocked_by"))
      t(s, dir).documents.filter(col("doc_id") >= 250)
        .select(col("doc_id"))
        .join(blk, Seq("doc_id"), "left")
        .select(col("doc_id"), col("blocked_by").isNull.as("admitted"),
          col("blocked_by"))
    },


    // ------------------------------------------------------------ SimHash
    // Near-dup pairs via 3 DISJOINT bands of the 32-bit simhash (see
    // simhashCandidates: bits 21-31 / 10-20 / 0-9, perfect recall at
    // hamming <= 2 by pigeonhole). Same shuffle discipline as the MinHash
    // pipeline: the banded exchange carries only (band, bucket, doc_id,
    // simhash) and is REUSED by both self-join sides; degenerate buckets
    // are capped before the join; exact graft_hamming64 rerank.
    GraftQuery("d_simhash_pairs", SketchOracleSql.simhashPairs(normSqlDuck)) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      simhashCandidates(simhashes(s, dir))
        .filter(col("hamming") <= 10)
        .orderBy(col("hamming"), col("id_a"), col("id_b"))
        .limit(100)
    },

    // 32-bit simhash over word hashes; near-dups = small hamming distance.
    GraftQuery("d_simhash", SketchOracleSql.simhash(normSqlDuck)) { (s, dir) =>
      simhashes(s, dir)
        .select(col("doc_id"), col("simhash"))
    },

    // ----------------------------------------------- Gopher quality rules
    // The Gopher paper's repetition-independent document gates (Rae et al.
    // 2021, table A1), the de-facto pretraining filter set: word-count
    // bounds, mean word length bounds, symbol ratio, stopword presence,
    // alphabetic-word fraction. Every gate is evaluated in INTEGER
    // arithmetic (3·wc ≤ chars ≤ 10·wc instead of a float mean; 10·sym ≤
    // len instead of a ratio) so the row hashes identically on any
    // engine. Map-only — scales with scan bandwidth.
    GraftQuery("t_gopher_rules",
      s"""WITH g AS (
         |  SELECT doc_id, $normSqlDuck AS norm,
         |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS sym,
         |    length(text) AS raw_len
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, sym, raw_len,
         |    CASE WHEN norm = '' THEN 0
         |         ELSE len(string_split(norm, ' ')) END AS wc,
         |    CASE WHEN norm = '' THEN 0
         |         ELSE length(norm) - len(string_split(norm, ' ')) + 1 END AS chars,
         |    CASE WHEN norm = '' THEN 0
         |         ELSE len(list_filter(string_split(norm, ' '),
         |                              x -> regexp_matches(x, '[a-z]'))) END AS alpha_wc,
         |    CASE WHEN norm = '' THEN false
         |         ELSE list_has_any(string_split(norm, ' '),
         |           ['the','be','to','of','and','that','have','with']) END AS has_stop
         |  FROM g)
         |SELECT doc_id, CAST(wc AS BIGINT) AS wc,
         |  wc BETWEEN 50 AND 100000 AS pass_wc,
         |  wc > 0 AND 3 * wc <= chars AND chars <= 10 * wc AS pass_wordlen,
         |  10 * sym <= raw_len AS pass_symbols,
         |  has_stop AS pass_stopwords,
         |  wc > 0 AND 5 * alpha_wc >= 4 * wc AS pass_alpha,
         |  (wc BETWEEN 50 AND 100000) AND (wc > 0 AND 3 * wc <= chars AND chars <= 10 * wc)
         |    AND (10 * sym <= raw_len) AND has_stop
         |    AND (wc > 0 AND 5 * alpha_wc >= 4 * wc) AS pass
         |FROM w""".stripMargin) { (s, dir) =>
      val d = withNorm(t(s, dir).documents)
        .withColumn("sym", length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
        .withColumn("raw_len", length(col("text")))
        .withColumn("wc", when(col("norm") === "", 0).otherwise(size(col("words"))))
        .withColumn("chars", when(col("norm") === "", 0)
          .otherwise(length(col("norm")) - size(col("words")) + 1))
        .withColumn("alpha_wc", when(col("norm") === "", 0)
          .otherwise(expr("size(filter(words, x -> x rlike '[a-z]'))")))
        .withColumn("has_stop", when(col("norm") === "", lit(false))
          .otherwise(arrays_overlap(col("words"), array(
            Seq("the", "be", "to", "of", "and", "that", "have", "with")
              .map(lit): _*))))
      val passWc = col("wc").between(50, 100000)
      val passWordlen = col("wc") > 0 &&
        lit(3) * col("wc") <= col("chars") && col("chars") <= lit(10) * col("wc")
      val passSymbols = lit(10) * col("sym") <= col("raw_len")
      val passAlpha = col("wc") > 0 && lit(5) * col("alpha_wc") >= lit(4) * col("wc")
      d.select(col("doc_id"), col("wc").cast("bigint").as("wc"),
        passWc.as("pass_wc"), passWordlen.as("pass_wordlen"),
        passSymbols.as("pass_symbols"), col("has_stop").as("pass_stopwords"),
        passAlpha.as("pass_alpha"),
        (passWc && passWordlen && passSymbols && col("has_stop") && passAlpha)
          .as("pass"))
    },

    // -------------------------------------------- per-document token entropy
    // Shannon entropy of each document's unigram distribution — the
    // vocabulary-diversity signal (low entropy = template/boilerplate).
    // H = ln(n) − (Σ c·ln c)/n; each c·ln c term is ROUNDED TO INTEGER
    // MICRO-UNITS before summing (the t_unigram_logprob discipline), so
    // the aggregate is an exact BIGINT sum with no float-order hazard, and
    // the final division of exact integers is deterministic on any
    // engine. Per-doc aggregation only — scales with scan bandwidth.
    GraftQuery("t_token_entropy",
      s"""WITH words AS (
         |  SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS c FROM words
         |       WHERE w <> '' GROUP BY doc_id, w),
         |agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(c * ln(c) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s_micro
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n AS n_tokens,
         |  round((CAST(round(ln(n) * 1000000, 0) AS BIGINT) * n - s_micro)
         |        / 1000000.0 / n, 6) AS entropy
         |FROM agg""".stripMargin) { (s, dir) =>
      val tf = withNorm(t(s, dir).documents)
        .select(col("doc_id"), explode(col("words")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id")).agg(
          sum(col("c")).as("n"),
          sum(round(col("c") * log(col("c")) * 1000000, 0).cast("bigint"))
            .as("s_micro"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          round((round(log(col("n")) * 1000000, 0).cast("bigint") * col("n") -
            col("s_micro")).cast("double") / 1000000.0 / col("n"), 6)
            .as("entropy"))
    }
  )

  /** doc_id, simhash for every document (map-only, fused codegen'd loop —
    * same bit-count formulation the interpreted aggregate/zip_with version
    * computed, minus per-token array allocations). */
  private def simhashes(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    withNorm(t(s, dir).documents)
      .withColumn("hashes", expr("graft_porthash_arr(array_distinct(words))"))
      // coalesce makes the column non-nullable, which matters downstream:
      // when simhash feeds a join key, Catalyst infers IsNotNull(key)
      // filters and pushes them below the projection — re-evaluating this
      // whole pipeline once per inferred filter. Non-nullable → the
      // inferred filters fold away and the signature is computed once.
      .withColumn("simhash", coalesce(expr("graft_simhash32(hashes)"), lit(0L)))
      .select(col("doc_id"), col("simhash"))
  }

  /** Multi-band SimHash candidate pairs with exact hamming rerank.
    * THREE DISJOINT bands of the 32-bit signature (bits 21-31, 10-20,
    * 0-9): by pigeonhole, any pair within hamming distance 2 leaves at
    * least one band flip-free, so recall at distance <= bands-1 is
    * PERFECT — strictly better than the previous 4 rotated 16-bit
    * windows (recall ~0.8 at distance 2) while exploding 3 rows per doc
    * instead of 4. Coarser buckets admit more candidates per band; the
    * exact `graft_hamming64` rerank keeps precision, and the bucket-size
    * cap (200 — boilerplate/skew guard, same as the MinHash pipeline)
    * bounds the join fan-out at any corpus scale. Candidates dedup
    * across bands BEFORE the (cheap) hamming rerank. Exposed for the
    * recall spec. */
  private[graft] def simhashCandidates(sigsIn: DataFrame): DataFrame = {
    val sigs = sigsIn.select(col("doc_id"), col("simhash"))
    // disjoint band keys: bits [21,31], [10,20], [0,9]
    def bandKey(b: Int): Column = b match {
      case 0 => shiftright(col("simhash"), 21)
      case 1 => shiftright(col("simhash"), 10).bitwiseAND(lit(2047L))
      case 2 => col("simhash").bitwiseAND(lit(1023L))
    }
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 3).map(bandKey): _*)).as(Seq("band", "bucket")))
    val capped = graft.util.Buckets.cap(banded, 200, col("band"), col("bucket"))
    // shuffle_hash: both sides shuffle on (band, bucket) and Spark reuses
    // the single banded exchange (ReusedExchange, pinned by
    // PlanShapeSpec). Without it AQE broadcasts one side — a build side
    // that GROWS with the corpus, and the whole signature pipeline would
    // be computed twice (once per join input).
    capped.select(col("band"), col("bucket"), col("doc_id").as("id_a"),
        col("simhash").as("sim_a"))
      .join(capped.select(col("band"), col("bucket"),
        col("doc_id").as("id_b"), col("simhash").as("sim_b"))
        .hint("shuffle_hash"),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("graft_hamming64(sim_a, sim_b)").as("hamming")).distinct()
  }

  /** (doc_id, band, bucket) MinHash LSH band buckets from raw documents
    * (text column) — ONE definition of the banding contract, shared by
    * the batch pair pipeline below and the streaming online-dedup twin
    * ([[graft.streaming.NearDupStream]]). Map-only and codegen'd end to
    * end, so it runs identically on a static or streaming DataFrame. */
  private[graft] def minhashBandedFromRaw(docs: DataFrame): DataFrame =
    bandBuckets(minhashSignatures(shingleHashed(withNorm(docs))))

  /** posexplode of the 8×4 folded band buckets of `sig`. */
  private[graft] def bandBuckets(sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    sigs.select(col("doc_id"),
      posexplode(GraftColumnBridge.column(graft.functions.MinHashBandBuckets(
        GraftColumnBridge.expression(col("sig")), bands = 8, rowsPerBand = 4)))
        .as(Seq("band", "bucket")))
  }

  /** Candidate pairs from the banded MinHash LSH (cap 200) under
    * `cond`, reranked with exact jaccard over distinct shingle-hash
    * sets — the shared engine of the three near-dup pipelines
    * (d_minhash_lsh_pairs, d_decontaminate_fuzzy,
    * d_incremental_neardup). `cond` predicates referencing one side
    * push below the join (Catalyst), so split filters cost the same as
    * filtering the sides by hand. The rerank melts each pair into its
    * two member roles so ONE pass over the map-only shingle pipeline
    * feeds both sides. Returns (id_a, id_b, jaccard). */
  private def lshRerankedPairs(docs: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame = {
    val banded = bandBuckets(minhashSignatures(docs))
    val capped = graft.util.Buckets.cap(banded, 200, col("band"), col("bucket"))
    val pairs = capped.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(capped.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(cond)
      .select(col("id_a"), col("id_b")).distinct()
    val roles = pairs.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    val sets = docs.select(col("doc_id"),
      array_distinct(col("sh")).as("shingles"))
    val paired = sets.join(roles, "doc_id")
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(when(col("doc_id") === col("id_a"), col("shingles"))).as("sh_a"),
        max(when(col("doc_id") === col("id_b"), col("shingles"))).as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    paired.select(col("id_a"), col("id_b"),
      (inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
  }

  /** Hashed 3-word shingles per document via the fused native expression
    * (docs shorter than 3 words get their whole text as one shingle).
    * Map-only; `sh` is a multiset of 31-bit shingle hashes. */
  private def shingleHashed(docs: DataFrame): DataFrame =
    docs.withColumn("sh", expr("graft_shingle3(words)"))

  /** doc_id, sh, sig: array of 32 minhash values over the hashed shingles.
    * Map-only; minima are duplicate-insensitive so the multiset `sh` needs
    * no distinct. Products stay < 2^62, no overflow. */
  private def minhashSignatures(docs: DataFrame): DataFrame =
    docs.withColumn("sig", expr("graft_minhash32(sh)"))
}
