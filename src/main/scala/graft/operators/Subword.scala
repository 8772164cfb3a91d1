package graft.operators

import graft.util.Reuse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Machinery shared by the subword-tokenizer trainers ([[Tokenizer]] BPE
  * and [[WpTokenizer]] WordPiece): ONE greedy merge-fold algorithm, one
  * word-frequency/segmentation representation, one pair-count shape and
  * one encode oracle. The two trainers differ ONLY in the per-step argmax
  * objective (raw pair frequency vs likelihood gain), so that is the only
  * thing they define themselves — a fix to the fold lands in both at
  * once. [[SpmTokenizer]] (unigram LM) prunes rather than merges and
  * shares nothing here.
  */
private[operators] object Subword {

  /** The greedy merge fold, as a SQL expression over a `seg` column with
    * the pair (w1, w2) available as columns — IDENTICAL text semantics
    * in Spark (`aggregate`) and DuckDB (`list_reduce`, inside
    * [[stepCtes]]) modulo the fold builtin's name. */
  val mergeFoldSpark: String =
    """CASE WHEN size(split(seg, ' ')) < 2 THEN seg ELSE
      |  aggregate(slice(split(seg, ' '), 2, size(split(seg, ' ')) - 1),
      |    element_at(split(seg, ' '), 1), (acc, x) ->
      |    CASE WHEN x = w2 AND (acc = w1 OR right(acc, length(w1) + 1) = concat(' ', w1))
      |         THEN concat(left(acc, length(acc) - length(w1)), w1, w2)
      |         ELSE concat(acc, ' ', x) END) END""".stripMargin

  /** DuckDB: corpus → `wf0(word, freq, seg)` — words segmented as
    * characters plus the `_` end-of-word symbol (the normalized
    * alphabet is a-z0-9 + space, so `_` cannot collide). */
  def wordFreqCte: String = {
    val norm = TextPipeline.normSqlDuck
    s"""w AS (SELECT unnest(string_split($norm, ' ')) AS word FROM documents),
       |wf0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |  array_to_string(string_split(word, ''), ' ') || ' _' AS seg
       |  FROM w WHERE word <> '' GROUP BY word)""".stripMargin
  }

  /** DuckDB: one training step — symbol split, pair counts, the
    * caller's argmax CTE (`best$i(w1, w2, ...)`, possibly preceded by
    * extra CTEs it needs), then the shared greedy re-segmentation into
    * `wf$i`. The step's CTEs are MATERIALIZED: each `wf$p` feeds both
    * the next split and the next re-segmentation, so an inlined chain
    * re-evaluates every earlier step twice per step. */
  def stepCtes(i: Int, extraAndBest: String): String = {
    val p = i - 1
    s"""sym$i AS MATERIALIZED (SELECT freq, string_split(seg, ' ') AS sym FROM wf$p),
       |px$i AS MATERIALIZED (SELECT freq, sym, unnest(range(1, len(sym))) AS j
       |         FROM sym$i WHERE len(sym) >= 2),
       |pc$i AS MATERIALIZED (SELECT sym[j] AS w1, sym[j + 1] AS w2,
       |           CAST(sum(freq) AS BIGINT) AS c
       |         FROM px$i GROUP BY 1, 2),
       |$extraAndBest,
       |wf$i AS MATERIALIZED (SELECT word, freq,
       |  CASE WHEN b.w1 IS NULL OR len(string_split(seg, ' ')) < 2 THEN seg ELSE
       |    list_reduce(string_split(seg, ' '), (acc, x) ->
       |      CASE WHEN x = b.w2 AND (acc = b.w1 OR
       |             right(acc, length(b.w1) + 1) = ' ' || b.w1)
       |           THEN left(acc, length(acc) - length(b.w1)) || b.w1 || b.w2
       |           ELSE acc || ' ' || x END) END AS seg
       |  FROM wf$p LEFT JOIN best$i b ON TRUE)""".stripMargin
  }

  /** DuckDB: per-doc token counts under the chain's final segmentation
    * `wf$steps` — the encode oracle, identical for both objectives
    * modulo the token column's name. */
  def encodeOracle(ctes: String, steps: Int, tokCol: String): String =
    s"""WITH $ctes,
       |docw AS (SELECT doc_id, unnest(string_split(${TextPipeline.normSqlDuck}, ' ')) AS word
       |         FROM documents),
       |dw AS (SELECT doc_id, word FROM docw WHERE word <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(string_split(f.seg, ' '))) AS BIGINT) AS $tokCol
       |FROM dw JOIN wf$steps f USING (word)
       |GROUP BY doc_id""".stripMargin

  /** Spark: the one corpus pass → (word, freq, seg), checkpointed so
    * each training step re-reads the vocabulary-sized relation, not the
    * corpus. */
  def wordFreqSeg(s: SparkSession, dir: String): DataFrame =
    Reuse.materialize(TextPipeline.withNorm(graft.Tables(s, dir).documents)
      .select(explode(col("words")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).cast("bigint").as("freq"))
      .withColumn("seg",
        expr("concat(concat_ws(' ', split(word, '')), ' _')")))

  /** Spark: per-step adjacent-pair counts `(w1, w2, c)` over the
    * current segmentation — a map-side-combinable aggregate over the
    * vocabulary-sized relation. */
  def pairCounts(wf: DataFrame): DataFrame =
    wf.select(col("freq"), split(col("seg"), " ").as("sym"))
      .filter(size(col("sym")) >= 2)
      .select(col("freq"),
        col("sym"), explode(expr("sequence(1, size(sym) - 1)")).as("j"))
      .select(col("freq"), expr("sym[j - 1]").as("w1"),
        expr("sym[j]").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("freq")).cast("bigint").as("c"))

  /** Spark: re-segment every word under the chosen pair with the greedy
    * fold; the pair rides as columns so the fold text stays identical
    * to the oracle's. Checkpointed by default — vocab-sized; truncates
    * the fold lineage. Batched rounds pass `checkpoint = false` for the
    * intermediate merges of a round (one materialization per ROUND, not
    * per merge — the fold plans compose). */
  def applyMerge(wf: DataFrame, w1: String, w2: String,
      checkpoint: Boolean = true): DataFrame = {
    val merged = wf.withColumn("w1", lit(w1)).withColumn("w2", lit(w2))
      .withColumn("seg2", expr(mergeFoldSpark))
      .select(col("word"), col("freq"), col("seg2").as("seg"))
    if (checkpoint) Reuse.materialize(merged) else merged
  }

  /** One driver round-trip selecting up to `k` frequency-argmax merges
    * PROVEN equal to applying `k` sequential argmax steps — the batched
    * trainer for count-objective (BPE) merge loops, so a 32k-vocab
    * training run costs ~vocab/k sequential Spark jobs instead of one
    * per merge.
    *
    * Soundness (why the batch equals the sequential sequence): take the
    * pair list sorted by (count DESC, w1, w2) — the sequential argmax
    * order. Accept a PREFIX of pairwise-disjoint pairs, stopping at the
    * first pair sharing a symbol with an accepted one; let `stop` be
    * that pair's count (or the last fetched count when the fetch
    * truncates first). Merging disjoint pairs never changes each
    * other's counts (no adjacency involving {a,b} is an adjacency of
    * {c,d}), and every pair a merge CAN change — or create, like
    * (x, ab) — has count bounded by an existing pair sharing a merged
    * symbol, all of which sit at or after the stop position, i.e. count
    * ≤ stop. So after dropping accepted pairs (beyond the first, which
    * IS the argmax by construction) whose count ≤ stop, each remaining
    * batch member strictly dominates everything a prior batch merge
    * could have promoted — the sequential argmax would pick exactly
    * this sequence. WordPiece's likelihood objective has NO such bound
    * (a fresh merged symbol's small count is an unboundedly small
    * denominator, so a new pair can out-score anything), which is why
    * its loop stays sequential.
    */
  def batchedArgmax(wf: DataFrame, k: Int): Seq[(String, String, Long)] = {
    val fetchN = math.max(32, 8 * k)
    val top = pairCounts(wf)
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(fetchN).collect()
    if (top.isEmpty) return Nil
    val exhaustive = top.length < fetchN
    var touched = Set.empty[String]
    val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = if (exhaustive) -1L else top.last.getLong(2)
    val it = top.iterator
    var stopped = false
    while (it.hasNext && !stopped) {
      val r = it.next()
      val (w1, w2, c) = (r.getString(0), r.getString(1), r.getLong(2))
      if (touched(w1) || touched(w2)) { stop = c; stopped = true }
      // a full batch keeps SCANNING: the strictness bound is against the
      // first interacting pair anywhere in the order, found or not
      else if (batch.size < k) {
        batch += ((w1, w2, c)); touched ++= Set(w1, w2, w1 + w2)
      }
    }
    // keep the head (it is the argmax regardless); later members must
    // STRICTLY dominate anything a prior merge could promote
    batch.head +: batch.tail.takeWhile(_._3 > stop).toSeq
  }
}
