package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Reuse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer training over the corpus — byte-pair encoding (Sennrich,
  * Haddow, Birch 2016), the stage that turns a cleaned corpus into the
  * vocabulary a training run tokenizes with.
  *
  * Distributed shape (100 TB of documents): BPE trains on the WORD
  * FREQUENCY table, not the raw corpus — one map-side-combined
  * aggregate reduces the corpus to a vocabulary-sized relation, and
  * every merge iteration touches only that relation (pair counts are a
  * map-side-combinable aggregate over it; the argmax pair is a 1-row
  * TakeOrdered). The merge choice itself is inherently sequential —
  * each step conditions on the last — so the step loop runs on the
  * driver over vocabulary-sized intermediates, the same structure as
  * the reference era's distributed BPE trainers.
  *
  * Cross-engine exactness: the greedy left-to-right re-segmentation is
  * ONE string-fold algorithm expressed identically in Spark
  * (`aggregate` over the symbol array) and DuckDB (`list_reduce`), so
  * the oracle re-derives the full merge table — argmax, tie order
  * (count desc, pair asc), and all — through chained CTE stages (the
  * d_dup_pagerank pattern for iterative algorithms). Words segment as
  * characters plus the `_` end-of-word symbol (the normalized alphabet
  * is a-z0-9 + space, so `_` cannot collide).
  */
object Tokenizer {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  private[graft] val BpeSteps = 6

  /** The shared CTE chain `w, wf0, (sym/px/pc/best/wf)×steps` ending in
    * `wf$BpeSteps(word, freq, seg)` — reused by both the train and the
    * encode oracles. The chain's machinery lives in [[Subword]]; BPE
    * contributes only its argmax objective: raw pair frequency. */
  private def bpeCtes: String =
    (Subword.wordFreqCte +: (1 to BpeSteps).map(i => Subword.stepCtes(i,
      s"best$i AS (SELECT w1, w2, c FROM pc$i ORDER BY c DESC, w1, w2 LIMIT 1)")))
      .mkString(",\n")

  private def bpeTrainOracle: String = {
    val arms = (1 to BpeSteps).map(i =>
      s"SELECT $i AS step, w1, w2, w1 || w2 AS merged, c AS pair_count FROM best$i")
      .mkString("\nUNION ALL ")
    "WITH " + bpeCtes + "\n" + arms
  }

  private def bpeEncodeOracle: String =
    Subword.encodeOracle(bpeCtes, BpeSteps, "n_bpe_tokens")

  /** Pairs merged per driver round-trip. 4 roughly quarters the
    * sequential job count at equal output (equality PROVEN, not
    * sampled — see [[Subword.batchedArgmax]]'s soundness argument);
    * a real 32k-vocab run then costs ~8k jobs instead of 32k. */
  private[graft] val BatchK = 4

  /** Run the driver-side training loop: word-frequency table (the one
    * corpus pass), then BATCHED argmax rounds — each round is ONE
    * driver round-trip selecting up to [[BatchK]] merges guaranteed
    * equal to that many sequential argmax steps, re-segmenting once per
    * round. Returns the ordered merge table plus the number of rounds
    * taken (the driver-job saving the spec pins). */
  private[graft] def trainBpeRounds(s: SparkSession,
      dir: String, k: Int): (Seq[(Int, String, String, Long)], Int) = {
    var wf = Subword.wordFreqSeg(s, dir)
    // the checkpoint each round's argmax action just materialized;
    // released when the NEXT round's action materializes its successor,
    // so a vocabulary-scale run holds one round's cut, not thousands —
    // the result of training is a driver-side merge table, so none
    // outlives the loop
    var live: Option[org.apache.spark.sql.DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rounds = 0
    def finish(): (Seq[(Int, String, String, Long)], Int) = {
      live.foreach(Reuse.release)
      Reuse.release(wf)
      (merges.toSeq, rounds)
    }
    while (merges.size < BpeSteps) {
      val want = math.min(k, BpeSteps - merges.size)
      val batch = Subword.batchedArgmax(wf, want)
      // wf's pending checkpoint is now materialized: the previous
      // round's (whose data fed this plan) is dead weight
      live.foreach(Reuse.release)
      live = Some(wf)
      rounds += 1
      if (batch.isEmpty) return finish()
      batch.zipWithIndex.foreach { case ((w1, w2, c), i) =>
        merges += ((merges.size + 1, w1, w2, c))
        // one materialization per ROUND: only the last merge checkpoints
        wf = Subword.applyMerge(wf, w1, w2,
          checkpoint = i == batch.size - 1)
      }
    }
    finish()
  }

  private def trainBpe(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    trainBpeRounds(s, dir, BatchK)._1

  val defs: Seq[GraftQuery] = Seq(

    // ------------------------------------------------------ BPE training
    GraftQuery("t_bpe_train", bpeTrainOracle) { (s, dir) =>
      import s.implicits._
      trainBpe(s, dir).map { case (st, w1, w2, c) =>
        (st, w1, w2, w1 + w2, c)
      }.toDF("step", "w1", "w2", "merged", "pair_count")
    },

    // ------------------------------------------------------ BPE encoding
    // Tokenize the corpus under the learned merges and report per-doc
    // token counts — the number a token-budget sampler or packing stage
    // actually consumes. Training happens once on the vocabulary
    // (trainBpe); the corpus pass is MAP-ONLY through the codegen'd
    // graft.functions.BpeTokenCount kernel (merge table as one reference
    // object, O(word-length x merges) per row, no shuffle at all until
    // the driver-visible result). The oracle re-derives the same counts
    // by joining each document's words to the training chain's final
    // per-word segmentation — one algorithm, two independent routes to
    // the token count.
    GraftQuery("t_bpe_encode", bpeEncodeOracle) { (s, dir) =>
      val merges = trainBpe(s, dir)
        .map { case (_, w1, w2, _) => Array(w1, w2) }.toArray
      TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"),
          when(col("norm") === "", lit(0))
            .otherwise(size(col("words"))).cast("bigint").as("n_words"),
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.functions.BpeTokenCount(
              org.apache.spark.sql.GraftColumnBridge.expression(col("words")),
              merges)).as("n_bpe_tokens"))
        .filter(col("n_words") > 0)
    }
  )
}
