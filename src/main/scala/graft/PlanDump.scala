package graft

import graft.session.GraftSession

/** Measurement tool (guide §1/§7.2): dump `explain("formatted")` for
  * named registry queries to files, so plan claims (Exchange count,
  * join strategy, PushedFilters/ReadSchema, WholeStageCodegen spans)
  * are checkable offline without re-running Spark. Run it with one row
  * name to inspect a single plan.
  *
  * Usage: runMain graft.PlanDump <outDir> [query ...]
  *   (no query names = every registered query)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_SUFFIX (file suffix, default "before").
  *
  * Not part of the driver contract — a diagnostics main only.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val names = args.drop(1).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_SUFFIX", "before")
    val spark = GraftSession.builder(s"local[$cpus]")
      .appName("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected =
      if (names.isEmpty) SparkEntry.registry
      else SparkEntry.registry.filter(q => names(q.name))
    selected.foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q.name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] ${q.name} ok")
      } catch { case e: Throwable =>
        println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
