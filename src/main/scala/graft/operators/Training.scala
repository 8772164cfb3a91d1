package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Reuse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed classifier TRAINING over the corpus — the stage that
  * turns curation heuristics into a learned model (the fastText-style
  * quality/language classifier every large pipeline trains on its own
  * data; [[Curation]]'s `t_quality_classifier` is the inference side).
  *
  * The model is a batch perceptron (Rosenblatt 1958; lr = 1): exactly
  * the fixed-point linear-classifier loop, chosen over logistic
  * regression deliberately — every update is INTEGER arithmetic
  * (`w += Σ_misclassified y·x`), so training is bit-exact across
  * engines with no transcendental (sigmoid/exp) whose last-ULP
  * behavior differs between libm implementations. The task is the
  * classic one: predict `lang = 'en'` from (bias, English-marker hits,
  * word count) — linearly separable-ish by the marker-density rule the
  * heuristic langid uses.
  *
  * Distributed shape (100 TB): each step is ONE map-side-combined
  * aggregate over the feature relation (three conditional BIGINT sums
  * + a count) with the current weights riding as broadcast literals;
  * the weight update is a driver-side add on a 1-row result — the
  * s_kmeans_step / t_bpe_train discipline for inherently sequential
  * outer loops. Features are computed once and checkpointed (3 ints
  * per doc), so K steps cost K column-pruned passes over that narrow
  * relation, not K corpus re-reads.
  *
  * Cross-engine exactness: everything is BIGINT; the oracle re-derives
  * all K steps through chained CTE stages (the t_bpe_train pattern).
  *
  * Honesty note on this corpus: the synthetic documents table draws
  * the SAME vocabulary for every `lang` value, so the label carries no
  * text signal and batch training oscillates between the two constant
  * classifiers — the registry entry verifies the distributed training
  * MECHANICS (gradients, updates, counts) bit-exactly. Convergence is
  * proven where it can be: the spec trains on a linearly separable
  * corpus and asserts zero training error with the marker weight
  * positive. */
object Training {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  private[graft] val Steps = 6
  private val EnMarkers =
    Seq("the", "and", "of", "to", "a", "is", "in", "that")

  private def featCteDuck: String = {
    val norm = TextPipeline.normSqlDuck
    val inList = EnMarkers.map("'" + _ + "'").mkString(", ")
    s"""f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |  CAST(1 AS BIGINT) AS x0,
       |  CAST(len(list_filter(string_split($norm, ' '),
       |    w -> w IN ($inList))) AS BIGINT) AS x1,
       |  CAST(len(string_split($norm, ' ')) AS BIGINT) AS x2
       |  FROM documents)""".stripMargin
  }

  private def perceptronOracle: String = {
    val ctes = scala.collection.mutable.ArrayBuffer(featCteDuck,
      """wt0 AS (SELECT CAST(0 AS BIGINT) AS w0,
        |  CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2)""".stripMargin)
    val mis = "y * (w0 * x0 + w1 * x1 + w2 * x2) <= 0"
    for (i <- 1 to Steps) {
      val p = i - 1
      ctes += s"""g$i AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN $mis THEN y * x0 END), 0) AS BIGINT) AS g0,
         |  CAST(coalesce(sum(CASE WHEN $mis THEN y * x1 END), 0) AS BIGINT) AS g1,
         |  CAST(coalesce(sum(CASE WHEN $mis THEN y * x2 END), 0) AS BIGINT) AS g2,
         |  CAST(count(CASE WHEN $mis THEN 1 END) AS BIGINT) AS n_mis
         |  FROM f CROSS JOIN wt$p),
         |wt$i AS (SELECT w0 + g0 AS w0, w1 + g1 AS w1, w2 + g2 AS w2
         |  FROM wt$p CROSS JOIN g$i)""".stripMargin
    }
    val arms = (1 to Steps).map(i =>
      s"SELECT $i AS step, t.w0, t.w1, t.w2, g.n_mis FROM wt$i t CROSS JOIN g$i g")
      .mkString("\nUNION ALL ")
    "WITH " + ctes.mkString(",\n") + "\n" + arms
  }

  val defs: Seq[GraftQuery] = Seq(

    GraftQuery("t_train_perceptron", perceptronOracle) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val markers = EnMarkers.map("'" + _ + "'").mkString(",")
      // one corpus pass → narrow (y, x0, x1, x2) relation, checkpointed
      // so each training step re-reads 3 ints per doc, not the corpus
      val feats = Reuse.materialize(TextPipeline.withNorm(t(s, dir).documents)
        .select(
          when(col("lang") === "en", 1).otherwise(-1).cast("bigint").as("y"),
          lit(1L).as("x0"),
          expr(s"graft_count_in(words, array($markers))").cast("bigint").as("x1"),
          size(col("words")).cast("bigint").as("x2")))
      var (w0, w1, w2) = (0L, 0L, 0L)
      val steps = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long, Long, Long)]
      for (step <- 1 to Steps) {
        val mis = col("y") *
          (lit(w0) * col("x0") + lit(w1) * col("x1") + lit(w2) * col("x2")) <= 0
        val r = feats.agg(
          coalesce(sum(when(mis, col("y") * col("x0"))), lit(0L)).as("g0"),
          coalesce(sum(when(mis, col("y") * col("x1"))), lit(0L)).as("g1"),
          coalesce(sum(when(mis, col("y") * col("x2"))), lit(0L)).as("g2"),
          count(when(mis, lit(1))).as("n_mis")).collect()(0)
        w0 += r.getLong(0); w1 += r.getLong(1); w2 += r.getLong(2)
        steps += ((step, w0, w1, w2, r.getLong(3)))
      }
      import s.implicits._
      steps.toSeq.toDF("step", "w0", "w1", "w2", "n_mis")
    }
  )
}
