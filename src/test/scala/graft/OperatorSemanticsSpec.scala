package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Targeted value-level assertions for operators whose semantics deserve a
  * local proof independent of the DuckDB differential gate. */
class OperatorSemanticsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** The trained SPM model, built once for the specs that inspect it. */
  private lazy val spmModel = graft.operators.SpmTokenizer.model(spark, sf)

  test("recursive CTE fixpoint yields 1..20") {
    val rows = run("q_recursive_cte").collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(rows.map(_._1).toSeq == (1 to 20))
    assert(rows.forall { case (n, sq) => sq == n * n })
  }

  test("GROUPS frame composition matches the SQL-standard definition by hand") {
    // SQL standard (T620): GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW
    // frames whole ORDER BY peer groups. Hand-computed on a tied dataset:
    //   k=1: {10,20}   frame = group(1)          → 30 for both rows
    //   k=2: {5}       frame = groups(1,2)       → 35
    //   k=3: {1,2,3}   frame = groups(2,3)       → 11 for all three rows
    // The engine's composition (dense_rank → integer RANGE frame, the
    // q_window_groups rewrite) must reproduce exactly these values.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1, 10L), (1, 20L), (2, 5L), (3, 1L), (3, 2L), (3, 3L))
      .toDF("k", "v")
    val grp = dense_rank().over(Window.orderBy(col("k")))
    val out = df.select(col("k"), col("v"), grp.as("grp"))
      .select(col("k"), col("v"), sum(col("v")).over(
        Window.orderBy(col("grp")).rangeBetween(-1, Window.currentRow))
        .as("grp_sum"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set(
      (1, 10L, 30L), (1, 20L, 30L), (2, 5L, 35L),
      (3, 1L, 11L), (3, 2L, 11L), (3, 3L, 11L)), out.mkString(","))
  }

  test("token-budget sample equals a naive take-until, independently derived") {
    // re-derive the expected selection with a driver-side scan: per lang,
    // sort docs by md5(doc_id), take documents until the budget (2000) is
    // reached — the two-level distributed prefix sum must agree exactly
    val docs = Tables(spark, sf).documents
      .selectExpr("lang",
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' ')) AS norm",
        "md5(cast(doc_id AS string)) AS rk")
      .selectExpr("lang",
        "CAST(CASE WHEN norm = '' THEN 0 ELSE size(split(norm, ' ')) END AS BIGINT) AS tokens",
        "rk")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expected = docs.groupBy(_._1).map { case (lang, rows) =>
      var cum = 0L; var n = 0L; var tok = 0L
      rows.sortBy(_._3).foreach { case (_, t, _) =>
        if (cum < 2000L) { n += 1; tok += t }
        cum += t
      }
      lang -> ((n, tok))
    }
    val got = run("d_token_budget_sample").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("distinct_on keeps exactly one row per customer") {
    val df = run("q_distinct_on")
    val n = df.count()
    assert(df.select("o_custkey").distinct().count() == n)
  }

  test("topk is ordered and bounded") {
    val prices = run("q_topk").collect().map(_.getDouble(1))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("window rank bounded to 3 per partition") {
    val df = run("q_window_rank")
    val maxPer = df.groupBy("o_custkey").count().agg(max("count")).head().getLong(0)
    assert(maxPer <= 3)
  }

  test("as-of join matches the brute-force greatest-lower-bound pairing") {
    val asof = run("q_join_asof")
    // every matched purchase is at-or-before its click
    assert(asof.filter(col("purchase_ts") > col("ts")).count() == 0)
    // brute force: max purchase ts <= click ts per user via inequality join
    val ev = Tables(spark, sf).events
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val brute = c.join(p, col("user_id") === col("pu") && col("pts") <= col("ts"), "left")
      .groupBy(col("event_id")).agg(max(col("pts")).as("expect_ts"))
    val joined = asof.join(brute, "event_id")
    assert(joined.count() == asof.count())
    assert(joined.filter(
      !(col("purchase_ts") <=> col("expect_ts"))).count() == 0)
  }

  test("range join equals the unbucketed inequality join") {
    val ranged = run("q_join_range")
    assert(ranged.filter(abs(col("dt_ms")) > 3600000L).count() == 0)
    val e = Tables(spark, sf).events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
    val a = e.select(col("event_id").as("id_a"), col("user_id"), col("ms").as("ms_a"))
    val b = e.select(col("event_id").as("id_b"), col("user_id"), col("ms").as("ms_b"))
    val brute = a.join(b, "user_id")
      .filter(col("id_a") < col("id_b") && abs(col("ms_b") - col("ms_a")) <= 3600000L)
    assert(ranged.count() == brute.count())
    assert(ranged.except(
      brute.select(col("id_a"), col("id_b"), (col("ms_b") - col("ms_a")).as("dt_ms")))
      .count() == 0)
  }

  test("tfidf emits at most 3 ranked terms per document") {
    val df = run("t_tfidf_topterms")
    assert(df.filter(col("rn") < 1 || col("rn") > 3).count() == 0)
    val perDoc = df.groupBy("doc_id").count().agg(max("count")).head().getLong(0)
    assert(perDoc <= 3)
  }

  test("stratified sample keeps a plausible per-language fraction") {
    val rows = run("d_stratified_sample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_total"); val samp = r.getAs[Long]("n_sampled")
      assert(samp >= 0 && samp <= total)
    }
    // 25% nominal rate over the whole corpus, generous tolerance
    val total = rows.map(_.getAs[Long]("n_total")).sum.toDouble
    val samp = rows.map(_.getAs[Long]("n_sampled")).sum.toDouble
    assert(samp / total > 0.1 && samp / total < 0.45)
  }

  test("exact dedup groups cover all documents") {
    val total = Tables(spark, sf).documents.count()
    val sumCopies = run("d_dedup_exact").agg(sum("n_copies")).head().getLong(0)
    assert(sumCopies == total)
  }

  test("minhash signature similarity approximates jaccard on synthetic dups") {
    import spark.implicits._
    // two near-identical docs must agree on most minhash rows
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "completely different content about spark catalyst optimizer internals")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("minhash_test_docs")
    val norm = lower(col("text"))
    val sigs = docs
      .withColumn("norm", norm)
      .withColumn("words", split(col("norm"), " "))
      .withColumn("shingles", expr(
        """array_distinct(transform(sequence(1, size(words) - 2),
          |  i -> concat_ws(' ', element_at(words, i), element_at(words, i + 1),
          |                 element_at(words, i + 2))))""".stripMargin))
      .withColumn("bh", expr("transform(shingles, w -> pmod(xxhash64(w), 2147483647L))"))
    // reuse the public pair query on real data for plan sanity; here just
    // check base-hash arrays differ appropriately
    val rows = sigs.select("doc_id", "bh").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val simDup = rows(1L).intersect(rows(2L)).size.toDouble / rows(1L).union(rows(2L)).size
    val simDiff = rows(1L).intersect(rows(3L)).size.toDouble / rows(1L).union(rows(3L)).size
    assert(simDup > 0.7, s"near-dup shingle overlap too low: $simDup")
    assert(simDiff < 0.1, s"unrelated docs overlap too high: $simDiff")
  }

  test("multi-band simhash candidates recall vs brute-force hamming pairs") {
    val sigs = run("d_simhash")
    val l = sigs.select(col("doc_id").as("ba"), col("simhash").as("sa"))
    val r = sigs.select(col("doc_id").as("bb"), col("simhash").as("sb"))
    graft.functions.VectorFunctions.register(spark)
    val brute = l.crossJoin(r).filter(col("ba") < col("bb"))
      .select(col("ba"), col("bb"), expr("graft_hamming64(sa, sb)").as("h"))
      .filter(col("h") <= 2).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getAs[Number](2).longValue)).toMap
    val cand = graft.operators.TextPipeline.simhashCandidates(sigs)
      .select("id_a", "id_b", "hamming").collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getAs[Number](2).longValue)).toMap
    assert(cand.keySet.forall(k => cand(k) >= 0 && cand(k) <= 32))
    // candidates carry the TRUE hamming distance (rerank is exact)
    brute.keySet.intersect(cand.keySet).foreach(k => assert(brute(k) == cand(k)))
    // pigeonhole guarantee: with 3 disjoint bands, any pair within
    // hamming 2 leaves at least one band flip-free, so recall at
    // hamming <= 2 must be PERFECT (the brute set here IS hamming <= 2) —
    // strictly stronger than the rotated-window scheme this replaces,
    // whose 16-bit windows could all be hit by two flips ~16 apart
    val within2 = brute.keySet
    assert(within2.subsetOf(cand.keySet),
      s"missed ${within2.diff(cand.keySet).size} of ${within2.size} hamming<=2 pairs")
  }

  test("ann bruteforce returns 10 ranked neighbors per query vector") {
    val df = run("s_ann_bruteforce")
    val perQ = df.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.forall(_ == 10))
    val cos = df.select("cos").collect().map(_.getDouble(0))
    assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("ann ivf returns 10 ranked candidates per query with useful recall") {
    val ivf = run("s_ann_ivf")
    val perQ = ivf.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.length == 5 && perQ.forall(_ == 10), perQ.mkString(","))
    // recall@10 vs brute force: probing half the lists (nprobe=4 of k=8)
    // must recover a meaningful share of the true neighbors even on
    // near-orthogonal random vectors
    val exact = run("s_ann_bruteforce").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ivf.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall@10 too low: $recall")
  }

  test("ann pq returns 10 ranked candidates per query with useful recall") {
    val pq = run("s_ann_pq")
    val perQ = pq.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.length == 5 && perQ.forall(_ == 10), perQ.mkString(","))
    // ADC distances on normalized vectors live in [0, 4] (‖u−w‖² = 2−2cos
    // plus quantization error) and must rank ascending
    val ranked = pq.select("qid", "adist", "rn").collect()
      .groupBy(_.getLong(0)).values
    ranked.foreach { rows =>
      val byRank = rows.sortBy(_.getInt(2)).map(_.getDouble(1))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        byRank.mkString(","))
    }
    // recall@10 vs exact cosine top-10: 16 centroids per 8-dim subspace is
    // a coarse quantizer, but on this corpus the ADC ordering must still
    // recover a meaningful share of the true neighbors
    val exact = run("s_ann_bruteforce").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = pq.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall@10 too low: $recall")
  }

  test("ann ivfpq prunes to probed lists and still recalls against brute force") {
    val df = run("s_ann_ivfpq")
    val perQ = df.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.length == 5 && perQ.forall(_ == 10), perQ.mkString(","))
    // double approximation (nprobe pruning AND PQ scoring) — the floor is
    // looser than either path alone but must stay meaningful
    val exact = run("s_ann_bruteforce").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = df.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVFPQ recall@10 too low: $recall")
  }

  test("pq L2 kmeans is deterministic; codes/ADC agree with a hand-built quantizer") {
    val sample = Array.tabulate(40)(i =>
      Array.tabulate(8)(d => math.cos(i * 3 + d) * (1 + d)))
    val a = graft.operators.Similarity.kmeansL2(sample, 4, 5)
    val b = graft.operators.Similarity.kmeansL2(sample, 4, 5)
    assert(a.length == 4 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // kernel consistency: PqEncode picks the argmin-L2 code and
    // PqLut+PqAdc reproduces the summed quantized subspace distance
    val books = Array.fill(2)(a.map(_.take(4)).take(4)) // 2 subspaces, 4 cents, dim 4
    val v = Array(0.3f, -1.2f, 0.8f, 0.05f, 2.0f, -0.6f, 0.4f, 1.1f)
    val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
    val u = v.map(_ / nrm)
    def subDist(j: Int, c: Int): Double =
      (0 until 4).map(t => math.pow(u(j * 4 + t) - books(j)(c)(t), 2)).sum
    val expectedCodes = (0 until 2).map(j =>
      (0 until 4).minBy(c => (subDist(j, c), c)))
    val expectedAdc = expectedCodes.zipWithIndex
      .map { case (c, j) => subDist(j, c) }.sum
    import org.apache.spark.sql.GraftColumnBridge
    import spark.implicits._
    val df = Seq(Tuple1(v)).toDF("v")
    val enc = df.select(GraftColumnBridge.column(graft.functions.PqEncode(
      GraftColumnBridge.expression(col("v")), books)).as("codes"))
    val got = enc.collect().head.getSeq[Int](0)
    assert(got == expectedCodes, s"codes $got vs $expectedCodes")
    val adc = df.select(GraftColumnBridge.column(graft.functions.PqAdc(
      GraftColumnBridge.expression(GraftColumnBridge.column(
        graft.functions.PqLut(GraftColumnBridge.expression(col("v")), books))),
      GraftColumnBridge.expression(GraftColumnBridge.column(
        graft.functions.PqEncode(GraftColumnBridge.expression(col("v")), books))),
      4)).as("d")).collect().head.getDouble(0)
    assert(math.abs(adc - expectedAdc) < 1e-12, s"adc $adc vs $expectedAdc")
  }

  test("bpe merge table is well-formed and the count kernel matches by hand") {
    val df = run("t_bpe_train").collect().sortBy(_.getInt(0))
    assert(df.length == graft.operators.Tokenizer.BpeSteps)
    // merged symbol is the concatenation, counts are positive and each
    // step's count never exceeds the previous (greedy argmax property
    // holds on this corpus where no merge creates a more frequent pair
    // than it consumes)
    df.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0)
    }
    // kernel vs hand-applied merges: "banana" with (a,n)->(an,an)
    val merges = Array(Array("a", "n"), Array("an", "an"))
    import org.apache.spark.sql.GraftColumnBridge
    import spark.implicits._
    val got = Seq(Tuple1(Seq("banana", "nab")))
      .toDF("ws").select(GraftColumnBridge.column(
        graft.functions.BpeTokenCount(
          GraftColumnBridge.expression(col("ws")), merges)).as("n"))
      .collect().head.getLong(0)
    // banana: b a n a n a _ -> b an an a _ -> b anan a _  = 4 tokens
    // nab:    n a b _       -> n a b _ (no 'a n' adjacency) = 4 tokens
    assert(got == 8, s"kernel count $got")
  }

  test("batched bpe rounds equal sequential argmax steps, in fewer round-trips") {
    // the proven-equal gate (Subword.batchedArgmax): merging k disjoint
    // pairs per driver round must reproduce the EXACT sequential merge
    // table — same pairs, same order, same counts — while taking fewer
    // argmax round-trips than merges
    import graft.operators.Tokenizer
    val (sequential, seqRounds) = Tokenizer.trainBpeRounds(spark, sf, 1)
    val (batched, batRounds) = Tokenizer.trainBpeRounds(spark, sf, 4)
    assert(seqRounds == sequential.size)
    assert(batched == sequential,
      s"batched $batched differs from sequential $sequential")
    assert(batRounds < seqRounds,
      s"batching saved nothing: $batRounds rounds for ${batched.size} merges")
  }

  test("wordpiece merge table is well-formed; counts bound the pair") {
    val rows = run("t_wp_train").collect().sortBy(_.getInt(0))
    assert(rows.length == graft.operators.WpTokenizer.WpSteps)
    rows.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      // a pair can't occur more often than either constituent symbol
      assert(r.getLong(4) > 0)
      assert(r.getLong(4) <= math.min(r.getLong(5), r.getLong(6)),
        s"pair_count ${r.getLong(4)} exceeds a symbol count")
    }
  }

  test("wordpiece argmax is likelihood, not frequency: rare 'qu' beats common 'ab'") {
    // Corpus where the most FREQUENT pair (a,b: 10 occurrences, score
    // 10/(20*20)=0.025) loses to the highest-LIKELIHOOD pair (q,u: 3
    // occurrences but q only ever precedes u, score 3/(3*3)=0.333).
    // Frequency-scored BPE picks a 10-count pair first; WordPiece must
    // pick (q,u).
    import spark.implicits._
    val words = Seq.fill(10)("ab") ++ Seq.fill(10)("ax") ++
      Seq.fill(10)("by") ++ Seq.fill(3)("qu")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w, "en", "t") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("wplik").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = SparkEntry.queries("t_wp_train")(spark, dir)
      .collect().sortBy(_.getInt(0)).head
    assert(first.getString(1) == "q" && first.getString(2) == "u",
      s"expected (q,u) first, got (${first.getString(1)},${first.getString(2)})")
  }

  test("z-order layout: manifest covers all rows; both dimensions prune") {
    val manifest = run("d_zorder_layout").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val li = Tables(spark, sf).lineitem
      .select(col("l_partkey").cast("long"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(manifest.map(_._1).sum == li.length, "manifest drops rows")
    val nFiles = manifest.length
    // data-skipping effectiveness: a one-sixteenth range predicate on
    // EITHER dimension must overlap well under half the z-ordered files.
    // A single-column sort layout serves its own column but shreds the
    // other — computed on the same data as the honest comparison.
    val (smin, smax) = (li.map(_._2).min, li.map(_._2).max)
    val (pmin, pmax) = (li.map(_._1).min, li.map(_._1).max)
    val sHi = smin + math.max((smax - smin) / 16, 1)
    val pHi = pmin + math.max((pmax - pmin) / 16, 1)
    val zOverlapS = manifest.count(f => f._4 <= sHi && f._5 >= smin)
    val zOverlapP = manifest.count(f => f._2 <= pHi && f._3 >= pmin)
    assert(zOverlapS.toDouble / nFiles < 0.5,
      s"suppkey range hits $zOverlapS/$nFiles z-files")
    assert(zOverlapP.toDouble / nFiles < 0.5,
      s"partkey range hits $zOverlapP/$nFiles z-files")
    // partkey-sorted layout with the same file count: nearly every file
    // spans the whole suppkey range, so the suppkey predicate prunes
    // (almost) nothing
    val chunk = math.max(li.length / nFiles, 1)
    val sortedFiles = li.sortBy(_._1).grouped(chunk).toArray
      .map(c => (c.map(_._2).min, c.map(_._2).max))
    val sortedOverlapS = sortedFiles.count(f => f._1 <= sHi && f._2 >= smin)
    assert(sortedOverlapS.toDouble / sortedFiles.length > 0.9,
      s"expected the sorted layout NOT to prune suppkey: " +
        s"$sortedOverlapS/${sortedFiles.length}")
    assert(zOverlapS.toDouble / nFiles <
      0.5 * sortedOverlapS.toDouble / sortedFiles.length)
  }

  test("fuzzy ER join: full recall for <=2-substitution typos; cap drops skew") {
    import spark.implicits._
    // ids chosen so every tercet block stays under the 256 cap; typo
    // pairs differ in 1 or 2 digit positions, the miss differs in 3
    val names = Seq(
      "Customer#123456789", "Customer#123456780", // lev 1 (pos 9)
      "Customer#223456789",                       // lev 1 vs row0 (pos 1)
      "Customer#123956719",                       // lev 2 vs row0 (pos 4, 8)
      "Customer#999956789")                       // lev 3 vs row0 — excluded
    val dir = java.nio.file.Files.createTempDirectory("fuzzyer").toString
    names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val pairs = SparkEntry.queries("q_fuzzy_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // every <=2-substitution pair shares >=1 untouched tercet → found
    assert(pairs.contains((0L, 1L, 1L)), pairs)
    assert(pairs.contains((0L, 2L, 1L)), pairs)
    assert(pairs.contains((0L, 3L, 2L)), pairs)
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 4L),
      s"lev-3 pair must be filtered: $pairs")
    // skew guard: a block bigger than the cap contributes no candidates —
    // 300 identical-suffix records would otherwise be ~45k lev-0 pairs
    val dir2 = java.nio.file.Files.createTempDirectory("fuzzyskew").toString
    (0 until 300).map(i => (1000L + i, "Customer#000000000"))
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir2/customer.parquet")
    val n = SparkEntry.queries("q_fuzzy_join")(spark, dir2).count()
    assert(n == 0, s"oversized blocks must be dropped, got $n pairs")
  }

  test("perceptron training reaches zero error on a separable corpus") {
    import spark.implicits._
    // en docs are marker-dense, others marker-free and same length —
    // linearly separable; batch training must reach zero training error
    // within the step budget with a positive marker weight
    val en = (0 until 20).map(i =>
      (i.toLong, "the and of to is in that the and of", "en", "t"))
    val xx = (0 until 20).map(i =>
      (100L + i, "foo bar baz qux zap fizz buzz foo bar baz", "de", "t"))
    val dir = java.nio.file.Files.createTempDirectory("perceptron").toString
    (en ++ xx).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val steps = SparkEntry.queries("t_train_perceptron")(spark, dir)
      .collect().sortBy(_.getInt(0))
    assert(steps.length == graft.operators.Training.Steps)
    val last = steps.last
    assert(last.getLong(4) == 0,
      s"training error ${last.getLong(4)} after ${steps.length} steps: " +
        steps.map(r => r.getLong(4)).mkString(","))
    assert(last.getLong(2) > 0, s"marker weight ${last.getLong(2)} not positive")
  }

  test("audio VAD segments by hand: V V U V -> 2 segments, longest 2") {
    import spark.implicits._
    // '0' (48) deviates 48 from the center 96 → ssq 64·48² = 147456 >
    // 57000 (voiced); 'z' (122) deviates 26 → 43264 (unvoiced)
    val text = "0" * 128 + "z" * 64 + "0" * 64
    val dir = java.nio.file.Files.createTempDirectory("vad").toString
    Seq((1L, text, "en", "t")).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("m_audio_vad")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      == ((4L, 3L, 2L, 2L)), row.toSeq)
  }

  test("an all-zero embedding doesn't crash ANSI division; its cosine is 0") {
    import spark.implicits._
    // vec_id 0 is a query vector with zero norm — under Spark 4's
    // default ANSI mode the unguarded cosine division would throw
    // DIVIDE_BY_ZERO; the convention (matching the oracle's
    // coalesce(x / nullif(d, 0), 0)) is cos = 0
    val rows = (0L until 20L).map { i =>
      val v = Array.tabulate(64)(d =>
        if (i == 0) 0f else ((i * 64 + d) % 7).toFloat * 0.1f + 0.1f)
      (i, v, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("zerovec").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("s_ann_bruteforce")(spark, dir).collect()
    assert(got.nonEmpty)
    val q0 = got.filter(_.getLong(0) == 0L)
    assert(q0.nonEmpty && q0.forall(_.getDouble(2) == 0.0), q0.toSeq)
    // the kmeans assignment path survives the zero vector too
    assert(SparkEntry.queries("s_kmeans_step")(spark, dir).count() > 0)
  }

  test("bpe survives a merge-exhausted corpus: encode still counts every doc") {
    import spark.implicits._
    // every document is the single word 'a': step 1 merges (a,_), step 2
    // finds no pairs — training must stop early and encode must still
    // emit one row per doc (the oracle's LEFT JOIN pass-through twin)
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("bpedeg").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val train = SparkEntry.queries("t_bpe_train")(spark, dir).collect()
    assert(train.length == 1, train.toSeq)
    assert(train.head.getString(1) == "a" && train.head.getString(2) == "_")
    val enc = SparkEntry.queries("t_bpe_encode")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(enc == Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)), enc)
  }

  test("ivf kmeans is deterministic and produces k unit centroids") {
    val sample = Array.tabulate(40)(i =>
      Array.tabulate(8)(d => math.sin(i * 8 + d).abs + 0.01))
    val a = graft.operators.Similarity.kmeans(sample, 4, 5)
    val b = graft.operators.Similarity.kmeans(sample, 4, 5)
    assert(a.length == 4)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    a.foreach(c => assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
  }

  test("ccnet buckets: per-language terciles cover all docs, head first") {
    val rows = run("d_ccnet_buckets").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("ppl"),
        r.getAs[String]("bucket")))
    assert(rows.nonEmpty)
    assert(rows.map(_._3).toSet.subsetOf(Set("head", "middle", "tail")))
    // bucket assignment must be monotone in ppl within a language: every
    // head ppl ≤ every middle ppl ≤ every tail ppl
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      def ppls(b: String) = rs.filter(_._3 == b).map(_._2)
      for (h <- ppls("head").maxOption; m <- ppls("middle").minOption)
        assert(h <= m, s"$lang: head max $h > middle min $m")
      for (m <- ppls("middle").maxOption; t <- ppls("tail").minOption)
        assert(m <= t, s"$lang: middle max $m > tail min $t")
      // tercile boundaries: head holds at least a third of the docs
      // (ties can only grow it), and strictly less than all of them
      val n = rs.size
      if (n >= 9) {
        val head = ppls("head").size
        assert(head * 3 >= n, s"$lang: head $head of $n")
        assert(head < n, s"$lang: everything in head")
      }
    }
  }

  test("quality classifier: kept ⇔ positive score, scores are bounded means") {
    val rows = run("t_quality_classifier").collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Double]("score"),
        r.getAs[Boolean]("kept")))
    assert(rows.nonEmpty)
    rows.foreach { case (n, score, kept) =>
      assert(kept == (score > 0) || score == 0.0,
        s"kept=$kept disagrees with score=$score")
      // score is a mean of per-token weights in [-0.5, 0.5]
      assert(score >= -0.5 && score <= 0.5 && n > 0, s"($n, $score)")
    }
    // the fixed weights must actually split the corpus, not rubber-stamp it
    assert(rows.exists(_._3) && rows.exists(!_._3), "degenerate classifier")
  }

  test("dsir: target-domain docs score higher than the rest on average") {
    val scored = run("t_dsir_score")
      .join(Tables(spark, sf).documents.select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("doc_id"), col("dsir_logratio"),
        col("source").isin("src0", "src1", "src2", "src3").as("is_t"))
      .collect().map(r => (r.getAs[Double]("dsir_logratio"),
        r.getAs[Boolean]("is_t")))
    assert(scored.nonEmpty)
    // the importance weight's whole purpose: under the target-trained
    // numerator model, target-like text must rank above the raw corpus
    def mean(xs: Array[Double]) = xs.sum / xs.length
    val (tgt, rest) = scored.partition(_._2)
    assert(tgt.nonEmpty && rest.nonEmpty)
    assert(mean(tgt.map(_._1)) > mean(rest.map(_._1)),
      s"target mean ${mean(tgt.map(_._1))} <= rest ${mean(rest.map(_._1))}")
  }

  test("weighted sample: exactly k docs, keys valid, biased toward weight") {
    val rows = run("d_weighted_sample").collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("es_key")))
    assert(rows.length == 100)
    // ES keys are ln(u)/w with u ∈ (0,1): negative before rounding, but
    // a long doc drawing u near 1 legitimately rounds to 0 micro-units —
    // and 0 is the max key, so such a doc WOULD be sampled. ≤ 0 is the
    // contract; < 0 would be fixture-fragile.
    rows.foreach { case (n, k) => assert(n > 0 && k <= 0, s"($n, $k)") }
    // weight = token count, so the sample must over-represent long docs:
    // sampled mean length above the corpus mean (deterministic given the
    // fixed hash — a pinned property, not a flaky probabilistic one)
    val sampleMeanTokens = rows.map(_._1).sum.toDouble / rows.length
    val corpusMeanTokens = run("t_token_count")
      .select(avg(col("n_ws_tokens"))).collect()(0).getDouble(0)
    assert(sampleMeanTokens > corpusMeanTokens,
      s"sample mean $sampleMeanTokens <= corpus mean $corpusMeanTokens")
  }

  test("bloom decontamination: no false negatives, exact-join parity, " +
      "real rejection") {
    val bloom = run("d_decontaminate_bloom").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_bloom"),
          r.getAs[Long]("n_true"))).toMap
    assert(bloom.nonEmpty)
    // a Bloom filter admits supersets, never drops a member
    bloom.foreach { case (id, (n, b, t)) =>
      assert(t <= b && b <= n, s"doc $id: grams=$n bloom=$b true=$t")
    }
    // prefiltering must not change the exact answer: n_true per doc ==
    // d_decontaminate's n_overlap (same split, same gram contract)
    val exact = run("d_decontaminate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    assert(bloom.keySet == exact.keySet)
    bloom.foreach { case (id, (_, _, t)) =>
      assert(t == exact(id), s"doc $id: bloom-path true=$t exact=${exact(id)}")
    }
    // and the filter must actually reject something on this corpus, or
    // the "fast path" demonstrates nothing
    assert(bloom.values.map { case (n, b, _) => n - b }.sum > 0,
      "bloom filter rejected no grams")
  }

  test("repeated ngrams: counts bounded, metric separates twins from uniques") {
    val rows = run("d_repeated_ngrams").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_shared"), r.getAs[Double]("shared_frac")))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, s, f) =>
      assert(s >= 0 && s <= n && f >= 0.0 && f <= 1.0, s"doc $id: $n/$s/$f")
    }
    // the metric must discriminate on this fixture: the near-dup pairs
    // planted for the LSH family give some docs full gram coverage
    // (boilerplate twins → shared_frac 1.0) while unique docs sit at 0
    assert(rows.exists(_._4 == 1.0), "no fully-covered near-dup docs")
    assert(rows.exists(_._4 == 0.0), "no unique docs")
    // symmetry: a shared gram is shared from BOTH sides, so the number of
    // docs with any sharing can never be 1
    assert(rows.count(_._3 > 0) != 1)
  }

  test("approx distinct within 5% of exact") {
    // the in-query boolean IS the error contract now (hash-gated); the
    // spec re-asserts it holds on every group at this scale too
    val rows = run("q_approx_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"flag ${r.getString(0)}: " +
        s"estimate strayed >5% from exact=${r.getLong(1)}")
    }
  }

  test("histogram quantiles overshoot the exact quantile by at most one bin") {
    val est = run("q_quantile_hist").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(est.nonEmpty)
    // exact disc quantiles per flag, derived driver-side
    val byFlag = Tables(spark, sf).lineitem
      .selectExpr("l_returnflag", "CAST(l_extendedprice AS DOUBLE) AS p")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (f, rows) => f -> rows.map(_._2).sorted }
    est.foreach { case (flag, (p50, p90)) =>
      val vs = byFlag(flag)
      // percentile_disc(q) = smallest v with CDF >= q = vs[ceil(q·n) − 1]
      val exact50 = vs(math.ceil(vs.length * 0.5).toInt - 1)
      val exact90 = vs(math.ceil(vs.length * 0.9).toInt - 1)
      // the estimate is the containing bin's upper edge: strictly above
      // the exact value, by at most the bin width (100)
      assert(p50 > exact50 && p50 - exact50 <= 100, s"$flag p50: $p50 vs $exact50")
      assert(p90 > exact90 && p90 - exact90 <= 100, s"$flag p90: $p90 vs $exact90")
    }
  }

  test("cms heavy hitters: conservative overestimate, no false negatives") {
    val out = run("t_heavy_hitters_cms").collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("est"),
        r.getAs[Long]("exact")))
    assert(out.nonEmpty)
    // count-min can only overestimate (counters absorb collisions)
    out.foreach { case (w, est, exact) =>
      assert(est >= exact, s"$w: est=$est < exact=$exact")
    }
    // every TRUE heavy hitter must be reported: est >= exact means the
    // threshold test est*200 >= T admits a superset of the exact one
    val counts = Tables(spark, sf).documents
      .selectExpr(
        "explode(split(trim(regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9 ]', ''), ' +', ' ')), ' ')) AS w")
      .filter(col("w") =!= "")
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = counts.map(_._2).sum
    val trueHeavy = counts.filter(_._2 * 200 >= total).map(_._1).toSet
    assert(trueHeavy.nonEmpty, "fixture has no heavy hitters at 0.5%")
    assert(trueHeavy.subsetOf(out.map(_._1).toSet),
      s"missed true heavy hitters: ${trueHeavy -- out.map(_._1).toSet}")
    // and the exact counts the query carries must match the recount
    val exactByWord = counts.toMap
    out.foreach { case (w, _, exact) => assert(exactByWord(w) == exact, w) }
  }

  test("kneser-ney equals a driver-side reference implementation") {
    val kn = run("t_kn_logprob").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("kn_surprisal")))).toMap
    assert(kn.nonEmpty)
    // independent reference: collect the corpus, build the bigram model
    // in plain Scala, score with the interpolated-KN formula (D = 0.75)
    val docs = Tables(spark, sf).documents
      .selectExpr("doc_id",
        "split(trim(regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9 ]', ''), ' +', ' ')), ' ') AS ws")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toArray)
    val bigrams = docs.flatMap { case (_, ws) => ws.sliding(2).collect {
      case Array(a, b) => (a, b) } }
    val cb = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cp = cb.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1f = cb.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val nbw = cb.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val ntot = cb.size.toLong
    docs.filter(_._2.length >= 2).foreach { case (id, ws) =>
      val terms = ws.sliding(2).collect { case Array(a, b) => (a, b) }.toSeq
      val s = terms.map { case (a, b) =>
        val p = ((cb((a, b)) - 0.75) +
          0.75 * (n1f(a) * (nbw(b).toDouble / ntot))) / cp(a)
        -math.log(p)
      }.sum / terms.length
      val (n, got) = kn(id)
      assert(n == terms.length, s"doc $id n_bigrams")
      // the engine rounds per-TERM micro-units, the reference doesn't —
      // tolerance covers accumulated per-term rounding (< 1e-6 each)
      assert(math.abs(got - s) < 1e-4, s"doc $id: got=$got ref=$s")
    }
  }

  test("fuzzy decontamination: exact precision, split discipline, recall " +
      "on the planted near-dups") {
    val rep = run("d_decontaminate_fuzzy").collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"),
        r.getAs[Double]("jaccard")))
    assert(rep.nonEmpty, "no contamination found on the planted fixture")
    rep.foreach { case (tr, ev, j) =>
      assert(tr % 10 != 0 && ev % 10 == 0, s"pair ($tr,$ev) ignores the split")
      assert(j >= 0.5 && j <= 1.0, s"pair ($tr,$ev) jaccard $j")
    }
    // brute-force cross-split jaccard over distinct 3-word shingles:
    // everything reported must be exactly right (precision 1 — the rerank
    // is exact), and the near-verbatim pairs (j >= 0.9) must all be found
    // (at j = 0.9 a 4-row band collides w.p. 0.9^4 = 0.66; eight
    // independent bands miss with prob 0.34^8 < 1e-3 — and the planted
    // fixture's collisions are deterministic under the fixed hash)
    val sets = Tables(spark, sf).documents
      .selectExpr("doc_id",
        "split(trim(regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9 ]', ''), ' +', ' ')), ' ') AS ws")
      .collect()
      .map { r =>
        val ws = r.getSeq[String](1).toArray
        val sh = if (ws.length < 3) Set(ws.mkString(" "))
          else ws.sliding(3).map(_.mkString(" ")).toSet
        r.getLong(0) -> sh
      }.toMap
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size
    rep.foreach { case (tr, ev, j) =>
      assert(math.abs(jac(sets(tr), sets(ev)) - j) < 1e-9,
        s"pair ($tr,$ev) jaccard off: $j vs ${jac(sets(tr), sets(ev))}")
    }
    val nearVerbatim = for {
      (tr, sa) <- sets.toSeq if tr % 10 != 0
      (ev, sb) <- sets.toSeq if ev % 10 == 0
      if jac(sa, sb) >= 0.9
    } yield (tr, ev)
    val found = rep.map(p => (p._1, p._2)).toSet
    nearVerbatim.foreach(p =>
      assert(found.contains(p), s"missed near-verbatim pair $p"))
  }

  test("incremental near-dedup: genuine blockers, near-verbatim recall, " +
      "full partition of the increment") {
    val out = run("d_incremental_neardup").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
        Option(r.getAs[java.lang.Long]("blocked_by")).map(_.toLong)))
    val incrementIds = Tables(spark, sf).documents
      .filter(col("doc_id") >= 250).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet == incrementIds, "not a partition of the increment")
    assert(out.exists(!_._2), "fixture planted no near-dups to block")
    val sets = Tables(spark, sf).documents
      .selectExpr("doc_id",
        "split(trim(regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9 ]', ''), ' +', ' ')), ' ') AS ws")
      .collect()
      .map { r =>
        val ws = r.getSeq[String](1).toArray
        val sh = if (ws.length < 3) Set(ws.mkString(" "))
          else ws.sliding(3).map(_.mkString(" ")).toSet
        r.getLong(0) -> sh
      }.toMap
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size
    out.foreach {
      case (id, false, Some(blk)) =>
        // precision: the named blocker is real — smaller id, j >= 0.5
        assert(blk < id, s"$id blocked by a LATER doc $blk")
        assert(jac(sets(id), sets(blk)) >= 0.5,
          s"$id blocked by $blk at j=${jac(sets(id), sets(blk))}")
      case (id, true, b) => assert(b.isEmpty, s"admitted $id carries blocker $b")
      case (id, false, None) => fail(s"blocked $id names no blocker")
    }
    // deterministic recall on near-verbatim recrawls: any increment doc
    // with a j >= 0.9 smaller-id neighbor must be blocked
    val admitted = out.filter(_._2).map(_._1).toSet
    for {
      id <- incrementIds if admitted(id)
      (other, so) <- sets if other < id
    } assert(jac(sets(id), so) < 0.9,
      s"admitted $id has a near-verbatim blocker $other")
  }

  test("knn join: structure is sound and recall vs brute force is useful") {
    val out = run("s_knn_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.nonEmpty)
    val byQ = out.groupBy(_._1)
    // every vector appears as a query with at most 3 ranked neighbors,
    // never itself
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 3 && rows.map(_._3).sorted.toSeq == (1 to rows.length))
      assert(!rows.exists(_._2 == q), s"$q is its own neighbor")
    }
    // brute-force true top-3 per vector; the banded approximation must
    // find a solid share (deterministic under the fixed planes)
    val vecs = Tables(spark, sf).embeddings
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val hits = vecs.map { case (q, qv) =>
      val truth = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
      val got = byQ.getOrElse(q, Array.empty).map(_._2).toSet
      (truth & got).size
    }
    val recall = hits.sum.toDouble / (3 * vecs.length)
    assert(recall >= 0.5, s"knn-join recall@3 too low: $recall")
  }

  test("semantic decontamination: exact pairs, split discipline, useful recall") {
    val rep = run("d_decontaminate_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rep.nonEmpty)
    rep.foreach { case (tr, ev, c) =>
      assert(tr % 10 != 0 && ev % 10 == 0, s"pair ($tr,$ev) ignores the split")
      assert(c >= 0.3, s"($tr,$ev) below threshold: $c")
    }
    // brute-force cross-split pairs at the threshold: everything
    // reported must be exactly right, and the banded candidates must
    // recover a solid share (deterministic under the fixed planes)
    val vecs = Tables(spark, sf).embeddings
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0
      else math.rint(d / math.sqrt(na) / math.sqrt(nb) * 1e6) / 1e6
    }
    rep.foreach { case (tr, ev, c) =>
      val bf = cos(vecs(tr), vecs(ev))
      assert(math.abs(bf - c) < 2e-6, s"($tr,$ev): $c vs brute $bf")
    }
    val truth = for {
      (tr, vt) <- vecs.toSeq if tr % 10 != 0
      (ev, ve) <- vecs.toSeq if ev % 10 == 0
      if cos(vt, ve) >= 0.3
    } yield (tr, ev)
    val found = rep.map(p => (p._1, p._2)).toSet
    val recall = truth.count(found.contains).toDouble / math.max(1, truth.size)
    assert(truth.nonEmpty && recall >= 0.5,
      s"semantic-decon recall too low: $recall of ${truth.size}")
  }

  test("spm tokenizer: the engine's Viterbi equals an exact driver-side DP") {
    import graft.operators.SpmTokenizer
    val (sc2, npieces) = spmModel
    // the final model prunes multi-char pieces never chosen in round 1
    // (single chars always survive) — the reference DP must see the
    // same transition set
    val scores = sc2.collect()
      .filter(r => r.getAs[Long]("rc") > 0 ||
        r.getAs[String]("piece").length == 1)
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("sc")).toMap
    val np = npieces.collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("np")).toMap
    assert(scores.nonEmpty && np.nonEmpty)
    // rebuild the word set independently and replicate the DP exactly:
    // integer micro scores, argmax by (total, -j) — ties toward the
    // smaller split point, i.e. the longer final piece
    val words = Tables(spark, sf).documents
      .selectExpr("explode(split(trim(regexp_replace(regexp_replace(" +
        "lower(text), '[^a-z0-9 ]', ''), ' +', ' ')), ' ')) AS w")
      .filter(col("w") =!= "" && length(col("w")) <= SpmTokenizer.WordCap)
      .distinct().collect().map(_.getString(0))
    assert(words.toSet == np.keySet, "model vocabulary mismatch")
    words.foreach { w =>
      val n = w.length
      val best = Array.fill(n + 1)(Long.MinValue)
      val pieces = Array.fill(n + 1)(0L)
      best(0) = 0L; pieces(0) = 0L
      for (k <- 1 to n) {
        var chosenJ = -1
        for (j <- math.max(0, k - SpmTokenizer.PieceMax) until k) {
          // pruned pieces are not transitions (single chars always are)
          scores.get(w.substring(j, k)).foreach { sc =>
            val cand = best(j) + sc
            // strictly-greater on ties keeps the SMALLEST j (they are
            // visited in ascending order) — the engine's (total, -j) rule
            if (cand > best(k)) { best(k) = cand; chosenJ = j }
          }
        }
        pieces(k) = pieces(chosenJ) + 1
      }
      assert(np(w) == pieces(n),
        s"word '$w': engine np=${np(w)}, reference DP=${pieces(n)}")
    }
    // and every encode row is consistent: n_spm_tokens <= characters
    // (a piece has at least one char) and >= words
    run("t_spm_encode").collect().foreach { r =>
      val (nw, nt) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_spm_tokens"))
      assert(nt >= nw, s"doc ${r.get(0)}: $nt tokens < $nw words")
    }
  }

  test("spm rows train the model they read, in every row scope") {
    import graft.util.Reuse
    def encode() = Reuse.scoped(run("t_spm_encode").orderBy("doc_id")
      .limit(5).collect().map(r => (r.get(0), r.getAs[Long]("n_spm_tokens"))).toSeq)
    val first = encode()
    // the first scope dropped its model's blocks: a model kept across
    // rows would now read truncated lineage and throw
    assert(encode() == first)
    // the row's vocabulary is the model the spec builds on its own
    val (sc2, _) = spmModel
    val want = sc2.orderBy(col("rc").desc, col("piece")).limit(50)
      .select("piece").collect().map(_.getString(0)).toSeq
    val got = Reuse.scoped(run("t_spm_train").collect().map(_.getString(0)).toSeq)
    assert(got == want)
  }

  test("resize kernel emits fixed-size deterministic thumbnails") {
    val p = ("abcdefghij" * 10).getBytes("UTF-8")
    val k = graft.functions.ByteSample(
      org.apache.spark.sql.catalyst.expressions.Literal(p), target = 16)
    val r1 = k.compute(p); val r2 = k.compute(p)
    assert(r1.length == 16 && r1.sameElements(r2))
    // position i samples byte floor(i*n/target)
    assert(r1(0) == p(0) && r1(15) == p(15 * p.length / 16))
    // empty payload → empty thumbnail, no crash
    assert(k.compute(Array.empty).isEmpty)
  }

  test("frame sampling demuxes one row per real GIF frame") {
    val frames = run("m_frame_sample")
      .groupBy(col("asset_id")).agg(count(lit(1)).as("n_frames"))
    val expected = Tables(spark, sf).documents.select(
      col("doc_id").as("asset_id"),
      (lit(2L) + col("doc_id") % 7).as("expected"))
    val joined = expected.join(frames, Seq("asset_id"), "left")
    assert(joined.filter(col("n_frames").isNull ||
      col("n_frames") =!= col("expected")).count() == 0)
  }

  test("animated-GIF encode → demux is lossless on the gray palette") {
    // the container contract behind m_frame_sample/m_keyframes: the
    // GIF sequence writer + reader must round-trip every frame's pixel
    // plane EXACTLY (gray palette: index == color == original byte)
    val frames = graft.operators.Multimodal.demuxGif(
      graft.operators.Multimodal.encodeGif(42L, 9, 8, 5))
    assert(frames.size == 5, "demux must find every written frame")
    frames.zipWithIndex.foreach { case ((w, h, bytes), f) =>
      assert(w == 9 && h == 8 && bytes.length == 72)
      for (y <- 0 until 8; x <- 0 until 9)
        assert((bytes(y * 9 + x) & 0xff) ==
          ((42L * 31 + f * 101 + x * 7 + y * 13) % 256).toInt,
          s"frame $f pixel ($x,$y) corrupted by the container round-trip")
    }
  }

  test("decode stub produces deterministic byte features") {
    val r = Multimodal_decodeCheck()
    assert(r._1 == r._2)
  }
  private def Multimodal_decodeCheck(): (Long, Long) = {
    val payload = "hello graft".getBytes("UTF-8")
    val a = graft.operators.Multimodal.decodeStub(1L, payload).getLong(3)
    val b = graft.operators.Multimodal.decodeStub(1L, payload).getLong(3)
    (a, b)
  }

  test("JPEG (lossy) round-trips with exact dimensions and bounded pixel error") {
    // the lossy-codec contract the PNG/WAV hash oracles can't cover:
    // a real ImageIO JPEG encode/decode must preserve dimensions
    // exactly and pixels approximately — a channel swap or stride bug
    // produces errors far above any sane quantization noise, so the
    // bound is a genuine detector even without bit-exactness
    val w = 16; val h = 12
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      // smooth gradient: JPEG quantization error stays small on it
      val v = (x * 255 / (w - 1) + y * 255 / (h - 1)) / 2
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG writer")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(back.getWidth == w && back.getHeight == h)
    var maxErr = 0
    for (y <- 0 until h; x <- 0 until w) {
      val a = img.getRGB(x, y); val b = back.getRGB(x, y)
      Seq(16, 8, 0).foreach { sh =>
        maxErr = math.max(maxErr,
          math.abs(((a >> sh) & 0xff) - ((b >> sh) & 0xff)))
      }
    }
    assert(maxErr <= 24, s"JPEG round-trip error $maxErr exceeds bound")
  }

  test("m_jpeg_thumbs contract holds corpus-wide; the bound detects channel swaps") {
    // the boolean-contract columns ride the hash gate; here: (a) they
    // actually hold on the corpus, (b) the bound is a real DETECTOR —
    // an R/B swap on the channel-distinct ramps blows far past it, so
    // a silently-miswired codec cannot stay within_bound
    val rows = SparkEntry.queries("m_jpeg_thumbs")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("jpeg_ok"), s"dims lost: $r")
      assert(r.getAs[Boolean]("within_bound"), s"error bound exceeded: $r")
    }
    val img = graft.operators.Multimodal.renderSmooth(20, 20)
    val swapped = new java.awt.image.BufferedImage(
      20, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 20) {
      val p = img.getRGB(x, y)
      swapped.setRGB(x, y,
        ((p & 0xff) << 16) | (p & 0xff00) | ((p >> 16) & 0xff))
    }
    val back = graft.operators.Multimodal.jpegRoundTrip(swapped)
    var maxErr = 0
    for (y <- 0 until 20; x <- 0 until 20) {
      val a = img.getRGB(x, y); val b = back.getRGB(x, y)
      Seq(16, 8, 0).foreach(sh => maxErr = math.max(maxErr,
        math.abs(((a >> sh) & 0xff) - ((b >> sh) & 0xff))))
    }
    assert(maxErr > graft.operators.Multimodal.JpegErrorBound,
      s"channel swap not detected: max_err $maxErr within bound")
  }

  test("IMA ADPCM: contract corpus-wide, lockstep state, real detector") {
    import graft.operators.Multimodal.{imaEncode, imaDecode}
    // (a) the boolean contract actually holds on the corpus
    val rows = run("m_adpcm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("quarter_bytes"), s"not 4:1: $r")
      assert(r.getAs[Boolean]("snr_bounded"), s"SNR under 12 dB: $r")
      assert(r.getAs[Boolean]("truly_lossy"), s"suspiciously exact: $r")
    }
    // (b) decoder-mirrored reconstruction keeps state in lockstep: a
    // slow ramp the step table can follow decodes within one max step
    val ramp = Array.tabulate(512)(i => i * 8 - 2048)
    val dec = imaDecode(imaEncode(ramp), ramp.length)
    val tail = (64 until ramp.length).map(i => math.abs(dec(i) - ramp(i)))
    assert(tail.max <= 64,
      s"ramp tracking error ${tail.max} — encoder/decoder state diverged")
    // (c) the SNR bound is a DETECTOR: flipping the sign nibble (the
    // classic packing bug — high nibble first) wrecks reconstruction
    val x = Array.tabulate(512)(i =>
      (math.sin(2 * math.Pi * 440 * i / 8000.0) * 20000).toInt)
    val good = imaDecode(imaEncode(x), x.length)
    val swapped = imaEncode(x).map(b =>
      (((b & 0x0f) << 4) | ((b >> 4) & 0x0f)).toByte)
    val bad = imaDecode(swapped, x.length)
    def snr(y: Array[Int]) = {
      val e = x.indices.map(i => math.pow(y(i) - x(i).toDouble, 2)).sum
      val s = x.map(v => v.toDouble * v).sum
      s / math.max(e, 1e-9)
    }
    assert(snr(good) > 16, s"codec under 12 dB on a tone: ${snr(good)}")
    assert(snr(bad) < 16, s"nibble-order bug not detected: ${snr(bad)}")
    // (d) odd length packs the final nibble alone
    assert(imaEncode(Array(1, 2, 3)).length == 2)
  }

  test("t_pii_redact finds every planted span and strips them all") {
    // the hash gate proves Spark == DuckDB; this proves neither is
    // VACUOUSLY matching (a broken pattern would count 0 in BOTH
    // engines symmetrically): every document's planted email/IP/phone/
    // SSN is found exactly once and no planted span survives redaction
    val rows = SparkEntry.queries("t_pii_redact")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1 && r.getAs[Long]("n_ips") == 1 &&
        r.getAs[Long]("n_phones") == 1 && r.getAs[Long]("n_ssns") == 1,
        s"planted PII missed: $r")
      val red = r.getAs[String]("redacted")
      assert(red.contains("<EMAIL>") && red.contains("<IP>") &&
        red.contains("<PHONE>") && red.contains("<SSN>"), red)
      assert(!red.contains("@mail") && !red.contains("+1-555-") &&
        !red.contains("ip 10.0."), s"PII span survived redaction: $red")
    }
  }

  test("portable HLL estimate lands within theory bounds of the exact count") {
    // raw-regime check at sf0.01: n = 2000 distinct parts per flag >
    // 2.5m = 1280, where the raw estimator applies. 1σ = 1.04/sqrt(512)
    // = 4.6%; assert 3σ.
    val rows = SparkEntry.queries("q_hll_portable")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("hll_estimate").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      assert(exact > 2.5 * 512, s"accuracy probe needs the raw regime, n=$exact")
      assert(math.abs(est - exact) / exact < 0.14,
        s"estimate $est vs exact $exact")
    }
  }

  test("portable HLL registers merge: sharded max-union equals the one-pass sketch") {
    // the 100 TB property: sketches built on disjoint shards combine by
    // per-bucket max into exactly the single-pass sketch. Recompute
    // driver-side from first principles on a small key set.
    def reg(keys: Seq[Long]): Map[Long, Int] =
      keys.foldLeft(Map.empty[Long, Int]) { (m, k) =>
        val h = graft.functions.PortableHash.fmix64(k) >>> 1
        val b = h >>> 54
        val w = h & ((1L << 54) - 1)
        val rho = if (w == 0) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        m.updated(b, math.max(m.getOrElse(b, 0), rho))
      }
    val keys = (1L to 5000L)
    val whole = reg(keys)
    val (l, rgt) = keys.partition(_ % 2 == 0)
    val merged = (reg(l).toSeq ++ reg(rgt).toSeq)
      .groupBy(_._1).map { case (b, vs) => b -> vs.map(_._2).max }
    assert(merged == whole)
  }
}
