package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training over the corpus (Schuster & Nakajima
  * 2012; the BERT-family vocabulary builder) — the third member of the
  * tokenizer family next to [[Tokenizer]] (BPE) and [[SpmTokenizer]]
  * (unigram LM). Same merge loop as BPE, different objective: each step
  * merges the pair maximizing the LIKELIHOOD gain
  * `count(w1 w2) / (count(w1) * count(w2))` — the pair whose merge most
  * increases the corpus likelihood under a unigram model — rather than
  * the raw pair frequency.
  *
  * Distributed shape (100 TB of documents): identical to BPE — training
  * runs on the WORD FREQUENCY table (one map-side-combined corpus
  * aggregate), each step's pair counts AND symbol counts are map-side-
  * combinable aggregates over that vocabulary-sized relation joined by
  * broadcast, and the argmax is a 1-row TakeOrdered. The per-step
  * decision is inherently sequential, so the step loop runs on the
  * driver over vocabulary-sized intermediates. Unlike BPE (whose loop
  * runs BATCHED via [[Subword.batchedArgmax]] — frequency counts of
  * disjoint pairs are merge-invariant and bounded, so k merges per
  * round provably equal k sequential steps), the likelihood objective
  * CANNOT batch safely: a freshly merged symbol's small count is an
  * unboundedly small denominator, so a new pair can out-score any
  * pending batch member — WordPiece stays one argmax per step.
  *
  * Cross-engine exactness: every OUTPUT column is integer or string.
  * The score only ORDERS the argmax; it is computed in both engines as
  * `CAST(c AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))` —
  * three correctly-rounded IEEE-754 operations on exactly-representable
  * integers, so Spark and DuckDB derive bit-identical doubles and the
  * same argmax (ties broken by the pair itself). Encoding reuses the
  * BPE greedy-fold kernel [[graft.functions.BpeTokenCount]] — applying
  * an ordered merge list is the same algorithm; only the training
  * objective distinguishes the tokenizers.
  *
  * Reference anchors: the reference ships no tokenizer (its surface
  * stops at SQL text ops, crates/ops/src/text); WordPiece is a standard
  * training-data-pipeline extension alongside BPE/unigram.
  */
object WpTokenizer {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  private[graft] val WpSteps = 6

  /** IEEE-deterministic likelihood score used ONLY for ordering — the
    * same text in Spark SQL and DuckDB. */
  private val scoreSql =
    "CAST(c AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))"

  /** Shared CTE chain `w, wf0, (sym/sc/px/pc/best/wf)×steps` ending in
    * `wf$WpSteps(word, freq, seg)` — reused by the train and encode
    * oracles. The chain's machinery (corpus pass, pair counts, greedy
    * re-segmentation) lives in [[Subword]]; WordPiece contributes the
    * per-step symbol-count CTE and the likelihood-scored argmax. */
  private def wpCtes: String =
    (Subword.wordFreqCte +: (1 to WpSteps).map { i =>
      Subword.stepCtes(i,
        s"""sc$i AS (SELECT s AS w, CAST(sum(freq) AS BIGINT) AS c
           |         FROM (SELECT freq, unnest(sym) AS s FROM sym$i) GROUP BY 1),
           |best$i AS (SELECT * FROM (
           |           SELECT p.w1 AS w1, p.w2 AS w2, p.c AS c,
           |                  a.c AS c1, b.c AS c2
           |           FROM pc$i p JOIN sc$i a ON a.w = p.w1
           |                       JOIN sc$i b ON b.w = p.w2) s$i
           |         ORDER BY $scoreSql DESC, w1, w2 LIMIT 1)""".stripMargin)
    }).mkString(",\n")

  private def wpTrainOracle: String = {
    val arms = (1 to WpSteps).map(i =>
      s"""SELECT $i AS step, w1, w2, w1 || w2 AS merged,
         |  c AS pair_count, c1, c2 FROM best$i""".stripMargin)
      .mkString("\nUNION ALL ")
    "WITH " + wpCtes + "\n" + arms
  }

  private def wpEncodeOracle: String =
    Subword.encodeOracle(wpCtes, WpSteps, "n_wp_tokens")

  /** Driver-side training loop over vocabulary-sized intermediates:
    * one corpus pass builds the word-frequency table; each of the
    * `WpSteps` iterations aggregates pair + symbol counts over it,
    * broadcast-joins them, and takes the likelihood-argmax pair. */
  private def trainWp(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long, Long, Long)] = {
    var wf = Subword.wordFreqSeg(s, dir)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long, Long)]
    for (step <- 1 to WpSteps) {
      // symbol counts with multiplicity — the unigram denominators
      val sc = wf.select(col("freq"), split(col("seg"), " ").as("sym"))
        .select(col("freq"), explode(col("sym")).as("sw"))
        .groupBy(col("sw")).agg(sum(col("freq")).cast("bigint").as("scnt"))
      // symbol counts are vocabulary-sized → broadcast both joins
      val scored = Subword.pairCounts(wf)
        .join(broadcast(sc), col("w1") === col("sw"))
        .drop("sw").withColumnRenamed("scnt", "c1")
        .join(broadcast(sc.withColumnRenamed("scnt", "scnt2")),
          col("w2") === col("sw"))
        .drop("sw").withColumnRenamed("scnt2", "c2")
      val best = scored
        .orderBy(expr(scoreSql).desc, col("w1"), col("w2"))
        .limit(1).select("w1", "w2", "c", "c1", "c2").collect()
      if (best.nonEmpty) {
        val r = best(0)
        val (w1, w2) = (r.getString(0), r.getString(1))
        merges += ((step, w1, w2, r.getLong(2), r.getLong(3), r.getLong(4)))
        wf = Subword.applyMerge(wf, w1, w2)
      }
    }
    merges.toSeq
  }

  val defs: Seq[GraftQuery] = Seq(

    // ----------------------------------------------- WordPiece training
    GraftQuery("t_wp_train", wpTrainOracle) { (s, dir) =>
      import s.implicits._
      trainWp(s, dir).map { case (st, w1, w2, c, c1, c2) =>
        (st, w1, w2, w1 + w2, c, c1, c2)
      }.toDF("step", "w1", "w2", "merged", "pair_count", "c1", "c2")
    },

    // ----------------------------------------------- WordPiece encoding
    // Per-doc token counts under the learned merge table — the corpus
    // pass is MAP-ONLY through the shared greedy-fold kernel (merge
    // list as a reference object); the oracle independently re-derives
    // the counts by joining each document's words to the training
    // chain's final per-word segmentation.
    GraftQuery("t_wp_encode", wpEncodeOracle) { (s, dir) =>
      val merges = trainWp(s, dir)
        .map { case (_, w1, w2, _, _, _) => Array(w1, w2) }.toArray
      TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"),
          when(col("norm") === "", lit(0))
            .otherwise(size(col("words"))).cast("bigint").as("n_words"),
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.functions.BpeTokenCount(
              org.apache.spark.sql.GraftColumnBridge.expression(col("words")),
              merges)).as("n_wp_tokens"))
        .filter(col("n_words") > 0)
    }
  )
}
