package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the TPC-H-ish testdata: replicate the fact
  * tables `factor`× with disjoint key ranges (copy c shifts every order
  * key by c·(max+1)), keeping dimension tables as-is — the dbgen-style
  * trick for probing headline-query scaling past the largest driver-
  * provided SF. Join semantics survive exactly: each replicated order
  * keeps its lineitems (same shifted key) and its original customer, so
  * Q1/Q3/Q6/Q10 results scale linearly by construction and their
  * wall-clock SHOULD too — a super-linear bench curve is an engine
  * problem (spill, shuffle blow-up), which is what the probe detects.
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <dstDir> <factor>`
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <dstDir> <factor>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.session.GraftSession.builder(s"local[$cpus]")
      .appName("graft-scalegen").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }

  /** The generator itself, on a caller-owned session. */
  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val off = orders.agg(max("o_orderkey")).head().getLong(0) + 1L

    /** `factor` copies with `keyCol` shifted into disjoint ranges. */
    def rep(df: DataFrame, keyCol: String): DataFrame = df
      .withColumn("__c", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn(keyCol, col(keyCol) + col("__c").cast("long") * off)
      .drop("__c")

    rep(orders, "o_orderkey")
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    rep(spark.read.parquet(s"$src/lineitem.parquet"), "l_orderkey")
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    // dimensions ride along unchanged (every replica joins the originals)
    Seq("customer", "nation", "region", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    // LLM-pipeline tables, for the d_/t_/s_ family sweep. documents:
    // doc_id shifted per copy; replica k>0 rotates the TEXT alphabet by
    // k so replicas are genuinely distinct content (replicating the
    // bytes verbatim would make every doc a 5-way exact dup, and the
    // pair-generating near-dup rows would measure pair blow-up from
    // artificial duplication, not engine scaling). Token statistics
    // (lengths, whitespace, frequencies-by-rank) survive rotation, so
    // the workload character is preserved.
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$src/documents.parquet"))) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val dOff = docs.agg(max("doc_id")).head().getLong(0) + 1L
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def rot(k: Int): String = alpha.drop(k) + alpha.take(k)
      val rotated = (1 until factor).foldLeft(
        when(col("__c") === 0, col("text"))) { (acc, k) =>
        acc.when(col("__c") === k,
          translate(col("text"), alpha + alpha.toUpperCase,
            rot(k) + rot(k).toUpperCase))
      }
      docs.withColumn("__c", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("doc_id", col("doc_id") + col("__c").cast("long") * dOff)
        .withColumn("text", rotated)
        .drop("__c")
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }
    // embeddings: vec_id shifted, vectors replicated as-is — real
    // corpora carry duplicate embeddings, and the ANN paths are
    // bucket-capped by design, which is exactly what the probe tests
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$src/embeddings.parquet"))) {
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val eOff = emb.agg(max("vec_id")).head().getLong(0) + 1L
      rep2(emb, "vec_id", eOff, factor)
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }
    val n = spark.read.parquet(s"$dst/lineitem.parquet").count()
    println(s"""{"scalegen":"$dst","factor":$factor,"lineitem_rows":$n}""")
  }

  private def rep2(df: DataFrame, keyCol: String, off: Long,
      factor: Int): DataFrame = df
    .withColumn("__c", explode(sequence(lit(0), lit(factor - 1))))
    .withColumn(keyCol, col(keyCol) + col("__c").cast("long") * off)
    .drop("__c")

}
