package graft

import graft.session.GraftSession
import scala.collection.immutable.ListMap

/** Scale-rung recall probe for the ANN family: recall@10 of each
  * approximate variant against `s_ann_bruteforce` on an arbitrary SF
  * dir — the evidence that the bucketed candidate generation (bands ×
  * planes, nprobe lists, PQ codes) still SEES the true neighbors when
  * the corpus grows 50×, not just at the spec's smoke scale. The spec
  * pins recall ≥ 0.3 at sf0.001 (`OperatorSemanticsSpec`); this main
  * re-measures the same quantity wherever `args(0)` points and prints
  * one JSON line, so a sweep can assert the pins hold at sf5.0.
  *
  * Usage: `graft.RecallProbe <sfDir>` (env `SPARK_GRAFT_CPUS` as in
  * Bench).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .appName("graft-recall-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topk("s_ann_bruteforce")
    val recalls = Seq("s_ann_lsh", "s_ann_ivf", "s_ann_pq", "s_ann_ivfpq")
      .map { name =>
        val approx = topk(name)
        val recall = exact.map { case (q, ids) =>
          ids.intersect(approx.getOrElse(q, Set.empty)).size.toDouble /
            math.max(ids.size, 1)
        }.sum / math.max(exact.size, 1)
        name -> BenchOutput.round(recall, 3)
      }
    println(BenchOutput.mapper.writeValueAsString(ListMap(
      "sf_dir" -> dir, "recall_at_10" -> ListMap.from(recalls))))
    spark.stop()
  }
}
