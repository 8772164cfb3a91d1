package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Reuse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training over the corpus — the SentencePiece
  * algorithm family (Kudo 2018), the OTHER major subword tokenizer
  * beside BPE ([[Tokenizer]]): pieces carry log-probabilities and each
  * word segments by Viterbi (the max-probability split), rather than by
  * a greedy merge order.
  *
  * The concrete procedure here is the honest distributed core of the
  * published trainer:
  *   1. seed vocabulary = every substring of length ≤ [[PieceMax]] of
  *      corpus words, scored by corpus occurrence mass;
  *   2. Viterbi-segment every word under the seed scores;
  *   3. refit piece counts from the chosen segmentations (the hard-EM
  *      M-step; add-one smoothing keeps every surviving transition
  *      defined) and PRUNE: a multi-char piece never chosen in round 1
  *      leaves the model (single chars always stay, so every word
  *      remains segmentable — the paper's keep-the-alphabet rule);
  *   4. re-segment under the refitted scores — the final model.
  *
  * Distributed shape (100 TB): ONE map-side-combined corpus pass
  * reduces to the word-frequency table; everything after is
  * vocabulary-sized. The Viterbi DP is NOT a per-row lambda: it unrolls
  * into [[WordCap]] chained stages, each one join between the
  * scored-substring relation and the prefix-best relation — bounded,
  * data-independent depth, no driver loop over data, no collect
  * anywhere. Encoding joins doc words to the per-word piece counts by
  * key (the vocabulary grows with the corpus — never broadcast).
  *
  * Cross-engine exactness (the FULL-hash-oracle discipline): scores are
  * integer micro-units of ln(count/total); the DP argmax is
  * max(struct(total, −j)) — lexicographic struct comparison in both
  * engines, ties broken toward the smaller split point (= longer final
  * piece) — so every backpointer, every chosen piece, and every count
  * is re-derived exactly by DuckDB through ~4·[[WordCap]] chained CTE
  * stages (the t_bpe_train pattern, generalized from a greedy argmax
  * chain to dynamic programming).
  *
  * Words longer than [[WordCap]] are excluded from the model and fall
  * back to character segmentation at encode time — the same bound both
  * engines apply.
  */
object SpmTokenizer {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  private[graft] val PieceMax = 4
  private[graft] val WordCap = 12
  private val TopK = 50

  private def norm = TextPipeline.normSqlDuck

  /** score = micro(ln(cnt / tot)) — identical text in both engines;
    * `cnt`/`tot` are BIGINT on both sides. */
  private def scoreSql(cnt: String, tot: String): String =
    s"CAST(round(ln(CAST($cnt AS DOUBLE) / $tot) * 1000000, 0) AS BIGINT)"

  // ------------------------------------------------------------- oracle

  /** One Viterbi round in DuckDB: DP stages dp{r}_0..L over transition
    * CTE `s$r(word, j, k, sc)`, then backtrack stages bt{r}_1..L each
    * carrying the piece just consumed, ending in
    * `chosen$r(word, piece)`. */
  private def viterbiCtesDuck(r: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String](
      s"""dp${r}_0 AS MATERIALIZED (SELECT word, len, 0 AS pos,
         |  CAST(0 AS BIGINT) AS best, -1 AS bj FROM wf)""".stripMargin)
    for (k <- 1 to WordCap) {
      ctes += s"""dp${r}_$k AS MATERIALIZED (
         |  SELECT word, len, pos, best, bj FROM dp${r}_${k - 1}
         |  UNION ALL
         |  SELECT word, len, $k AS pos, mx.best AS best, -mx.nj AS bj FROM (
         |    SELECT t.word, max(p.len) AS len,
         |      max({'best': p.best + t.sc, 'nj': -t.j}) AS mx
         |    FROM s$r t JOIN dp${r}_${k - 1} p
         |      ON p.word = t.word AND p.pos = t.j
         |    WHERE t.k = $k GROUP BY t.word))""".stripMargin
    }
    ctes += s"""bt${r}_0 AS MATERIALIZED (SELECT word, len AS pos,
       |  CAST(NULL AS VARCHAR) AS piece FROM wf)""".stripMargin
    for (k <- 1 to WordCap) {
      ctes += s"""bt${r}_$k AS MATERIALIZED (
         |  SELECT b.word, d.bj AS pos,
         |    substr(b.word, d.bj + 1, b.pos - d.bj) AS piece
         |  FROM bt${r}_${k - 1} b JOIN dp${r}_$WordCap d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }
    ctes += (1 to WordCap).map(k =>
      s"SELECT word, piece FROM bt${r}_$k").mkString(
      s"chosen$r AS MATERIALIZED (", "\nUNION ALL ", ")")
    ctes.mkString(",\n")
  }

  /** The shared model chain: corpus pass → seed scores → round-1
    * Viterbi → refit → round-2 scores → round-2 Viterbi; ends with
    * `sc2(piece, cnt, rc, sc)` and `npieces(word, np)`. */
  private def spmCtesDuck: String =
    s"""w AS (SELECT unnest(string_split($norm, ' ')) AS word FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |         CAST(length(word) AS INT) AS len
       |       FROM w WHERE word <> '' AND length(word) <= $WordCap
       |       GROUP BY word),
       |sub AS MATERIALIZED (SELECT word, freq, j, j + l AS k, substr(word, j + 1, l) AS piece
       |        FROM wf, UNNEST(range(0, $WordCap)) t(j),
       |             UNNEST(range(1, ${PieceMax + 1})) u(l)
       |        WHERE j + l <= len),
       |seed AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |         FROM sub GROUP BY piece),
       |tot1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM seed),
       |sc1 AS MATERIALIZED (SELECT piece, cnt, ${scoreSql("cnt", "tot")} AS sc
       |        FROM seed CROSS JOIN tot1),
       |s1 AS MATERIALIZED (SELECT s.word, s.j, s.k, c.sc FROM sub s JOIN sc1 c USING (piece)),
       |${viterbiCtesDuck(1)},
       |refit AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS rc
       |          FROM chosen1 JOIN wf USING (word) GROUP BY piece),
       |base2 AS MATERIALIZED (SELECT s.piece, s.cnt, coalesce(r.rc, 0) AS rc,
       |            coalesce(r.rc, 0) + 1 AS cnt2
       |          FROM seed s LEFT JOIN refit r USING (piece)),
       |tot2 AS (SELECT CAST(sum(cnt2) AS BIGINT) AS tot FROM base2),
       |sc2 AS MATERIALIZED (SELECT piece, cnt, rc, ${scoreSql("cnt2", "tot")} AS sc
       |        FROM base2 CROSS JOIN tot2),
       |s2 AS MATERIALIZED (SELECT s.word, s.j, s.k, c.sc FROM sub s JOIN sc2 c USING (piece)
       |        WHERE c.rc > 0 OR length(c.piece) = 1),
       |${viterbiCtesDuck(2)},
       |npieces AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS np
       |            FROM chosen2 GROUP BY word)""".stripMargin

  private def trainOracle: String =
    s"""WITH $spmCtesDuck
       |SELECT piece, cnt AS seed_cnt, rc AS refit_cnt, sc AS score_micro
       |FROM sc2 ORDER BY refit_cnt DESC, piece LIMIT $TopK""".stripMargin

  private def encodeOracle: String =
    s"""WITH $spmCtesDuck,
       |docw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |         FROM documents),
       |dw AS (SELECT doc_id, word FROM docw WHERE word <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(coalesce(np, length(word))) AS BIGINT) AS n_spm_tokens
       |FROM dw LEFT JOIN npieces USING (word)
       |GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------------- spark

  /** The whole Viterbi round as ONE map-only pass: each word carries
    * its sorted transition array `tr` (struct(k, j, sc), lexicographic
    * (k, j) order), the forward DP and the backpointer walk are
    * higher-order folds over it, and the chosen pieces explode out.
    * The per-word work is bounded by WordCap × PieceMax — a local
    * computation, so expressing it per row is the right distributed
    * shape (an earlier cut ran the DP as WordCap chained joins: correct,
    * but it paid a shuffle per position for work that never leaves the
    * row). Strict `>` over the j-ascending transition order IS the
    * max(total, −j) tie rule the oracle's staged CTEs apply — two
    * independent derivations of the same argmax. */
  private val bestsSql =
    """aggregate(sequence(1, len),
      |  array(named_struct('best', CAST(0 AS BIGINT), 'bj', -1)),
      |  (acc, kk) -> concat(acc, array(
      |    aggregate(filter(tr, t -> t.k = kk),
      |      named_struct('best', CAST(-1000000000000000 AS BIGINT), 'bj', -1),
      |      (m, t) -> CASE WHEN element_at(acc, t.j + 1).best + t.sc > m.best
      |        THEN named_struct('best', element_at(acc, t.j + 1).best + t.sc,
      |                          'bj', t.j)
      |        ELSE m END))))""".stripMargin

  private val pathSql =
    """aggregate(sequence(1, len), array(len),
      |  (p, x) -> CASE WHEN element_at(p, size(p)) > 0
      |    THEN concat(p, array(element_at(bests,
      |                   element_at(p, size(p)) + 1).bj))
      |    ELSE p END)""".stripMargin

  private val piecesSql =
    """transform(sequence(1, size(path) - 1),
      |  i -> substring(word, element_at(path, i + 1) + 1,
      |                 element_at(path, i) - element_at(path, i + 1)))""".stripMargin

  /** `scored(word, j, k, sc)` → `chosen(word, piece)` for every word. */
  private def viterbiRound(scored: DataFrame, wf: DataFrame): DataFrame =
    Reuse.materialize(scored.groupBy(col("word"))
      .agg(sort_array(collect_list(
        struct(col("k"), col("j"), col("sc")))).as("tr"))
      .join(wf.select(col("word"), col("len")), "word")
      .withColumn("bests", expr(bestsSql))
      .withColumn("path", expr(pathSql))
      .select(col("word"), explode(expr(piecesSql)).as("piece")))

  /** The trained model: sc2 piece scores and npieces per-word counts,
    * both cut through [[Reuse]]. Each row trains the model it reads. */
  private[graft] def model(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // the ONE corpus pass
    val wf = Reuse.materialize(TextPipeline.withNorm(t(s, dir).documents)
      .select(explode(col("words")).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= WordCap)
      .groupBy(col("word")).agg(count(lit(1)).cast("bigint").as("freq"))
      .withColumn("len", length(col("word")).cast("int")))
    val sub = Reuse.materialize(wf
      .select(col("word"), col("freq"), col("len"),
        explode(expr(s"sequence(0, ${WordCap - 1})")).as("j"))
      .select(col("word"), col("freq"), col("len"), col("j"),
        explode(expr(s"sequence(1, $PieceMax)")).as("l"))
      .filter(col("j") + col("l") <= col("len"))
      .select(col("word"), col("freq"), col("j"),
        (col("j") + col("l")).as("k"),
        expr("substring(word, j + 1, l)").as("piece")))
    val seed = sub.groupBy(col("piece"))
      .agg(sum(col("freq")).cast("bigint").as("cnt"))
    val tot1 = seed.agg(sum(col("cnt")).cast("bigint").as("tot"))
    val sc1 = seed.crossJoin(broadcast(tot1))
      .select(col("piece"), col("cnt"),
        expr(scoreSql("cnt", "tot")).as("sc"))
    val s1 = sub.join(sc1.select(col("piece"), col("sc")), "piece")
      .select(col("word"), col("j"), col("k"), col("sc"))
    val chosen1 = viterbiRound(s1, wf)
    val refit = chosen1.join(wf.select(col("word"), col("freq")), "word")
      .groupBy(col("piece")).agg(sum(col("freq")).cast("bigint").as("rc"))
    val base2 = seed.join(refit, Seq("piece"), "left")
      .select(col("piece"), col("cnt"),
        coalesce(col("rc"), lit(0L)).as("rc"),
        (coalesce(col("rc"), lit(0L)) + 1).as("cnt2"))
    val tot2 = base2.agg(sum(col("cnt2")).cast("bigint").as("tot"))
    val sc2 = Reuse.materialize(base2.crossJoin(broadcast(tot2))
      .select(col("piece"), col("cnt"), col("rc"),
        expr(scoreSql("cnt2", "tot")).as("sc")))
    // the prune step (SentencePiece drops the least-useful pieces
    // between EM rounds): a multi-char piece never chosen in round 1
    // leaves the final model; single-char pieces always stay so every
    // word remains segmentable
    val s2 = sub.join(sc2.select(col("piece"), col("rc"), col("sc")), "piece")
      .filter(col("rc") > 0 || length(col("piece")) === 1)
      .select(col("word"), col("j"), col("k"), col("sc"))
    val chosen2 = viterbiRound(s2, wf)
    val npieces = Reuse.materialize(chosen2.groupBy(col("word"))
      .agg(count(lit(1)).cast("bigint").as("np")))
    (sc2, npieces)
  }

  val defs: Seq[GraftQuery] = Seq(

    // --------------------------------------- unigram tokenizer training
    GraftQuery("t_spm_train", trainOracle) { (s, dir) =>
      val (sc2, _) = model(s, dir)
      sc2.select(col("piece"), col("cnt").as("seed_cnt"),
          col("rc").as("refit_cnt"), col("sc").as("score_micro"))
        .orderBy(col("refit_cnt").desc, col("piece"))
        .limit(TopK)
    },

    // --------------------------------------- unigram corpus encoding
    // Per-doc token counts under the final Viterbi segmentation — the
    // unigram twin of t_bpe_encode. The corpus pass joins doc words to
    // the vocabulary-sized per-word counts BY KEY (never broadcast);
    // words over the training cap fall back to character segmentation,
    // the same rule the oracle applies.
    GraftQuery("t_spm_encode", encodeOracle) { (s, dir) =>
      val (_, npieces) = model(s, dir)
      TextPipeline.withNorm(t(s, dir).documents)
        .select(col("doc_id"), explode(col("words")).as("word"))
        .filter(col("word") =!= "")
        .join(npieces, Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum(coalesce(col("np"), length(col("word")).cast("bigint")))
            .cast("bigint").as("n_spm_tokens"))
    }
  )
}
