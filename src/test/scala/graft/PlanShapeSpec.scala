package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Structural plan assertions: the properties that make these plans hold
  * at 100 TB (pushdown reaching the scan, pruned read schemas, broadcast
  * dimension joins, fused top-k, partial aggregation, codegen coverage)
  * are checked here so a refactor can't silently regress them. */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("filters reach the parquet scan (PushedFilters non-empty)") {
    Seq("q_filter_complex", "q6_forecast_revenue", "q3_shipping_priority")
      .foreach { q =>
        val p = plan(q)
        assert("PushedFilters: \\[.+\\]".r.findFirstIn(p).isDefined,
          s"$q has no pushed filters:\n$p")
      }
  }

  test("projection pruning: scans read only referenced columns") {
    val p = plan("q_scan_projection")
    val read = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).get.group(1)
    assert(read.split(",").length == 2, s"over-read: $read")
    // q6 must not read any of the 12 unreferenced lineitem columns
    val p6 = plan("q6_forecast_revenue")
    val read6 = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p6).get.group(1)
    assert(!read6.contains("l_comment") && !read6.contains("l_orderkey"),
      s"q6 over-reads: $read6")
  }

  test("only fixed-size dims broadcast; SF-scaling relations never do") {
    // q3: customer grows with SF (0.15×SF rows) — at 100 TB a forced
    // broadcast is a driver OOM. Both its joins are distributed
    // shuffled-hash; nothing broadcasts.
    val p3 = plan("q3_shipping_priority")
    assert(p3.contains("ShuffledHashJoin"), p3)
    assert(!p3.contains("BroadcastHashJoin"),
      s"q3 must not broadcast an SF-scaling relation:\n$p3")
    // q10: exactly one broadcast — nation (25 rows, constant in SF);
    // the customer and revenue joins are shuffled.
    val p10 = plan("q10_returned_items")
    // formatted explain lists every node twice (tree + details): count the
    // details-section entries, "(n) BroadcastHashJoin"
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p10).size == 1, p10)
    assert(p10.contains("ShuffledHashJoin"), p10)
    // the fact table reaches its join/aggregation through a hash
    // partition exchange, not a broadcast of lineitem
    assert(p10.contains("hashpartitioning"), p10)
  }

  test("sort+limit fuses to TakeOrderedAndProject") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("aggregations are two-phase (partial before the shuffle)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("hashpartitioning"), p)
  }

  test("rollup expands the reduced relation, not the fact table") {
    val p = plan("q_agg_rollup")
    // Expand must appear; the scan feeding it reads only the 3 needed cols
    assert(p.contains("Expand"), p)
    val read = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).get.group(1)
    assert(read.split(",").length == 3, s"rollup over-reads: $read")
    // two aggregation layers: pre-agg + rollup agg
    assert("HashAggregate".r.findAllIn(p).size >= 3, p)
  }

  test("as-of join is a single shuffle by user, no broadcast of either side") {
    val p = plan("q_join_asof")
    // tag+union+window form: one Window over one Exchange, never a join
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"as-of regressed to a join:\n$p")
    assert("hashpartitioning\\(user_id".r.findFirstIn(p).isDefined, p)
  }

  test("range join stays an equi-join on (user, cell), not a cross product") {
    val p = plan("q_join_range")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a cross product:\n$p")
  }

  test("ANN candidate generation never shuffles vector columns") {
    val p = plan("s_ann_lsh")
    // every hash-partition exchange must carry ids/keys only — a vector
    // column (v/embedding) appearing in an exchange means the candidate
    // join is shipping vectors
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(e =>
      assert(!e.contains("v#") && !e.contains("embedding"),
        s"vector column in shuffle key list: $e"))
  }

  test("corpus-frequency stats never window over a corpus-cardinality key") {
    // A Window.partitionBy(word) puts every (doc,word) row of a stopword
    // on ONE task — a hot spot AQE cannot split. cf/df must come from a
    // map-side-combined groupBy joined back by key (a shuffled join AQE
    // CAN skew-split). Pin: any Window node partitions by doc_id only.
    for (q <- Seq("t_tfidf_topterms", "t_unigram_logprob")) {
      val p = plan(q)
      // every window spec's partition key (first windowspecdefinition arg)
      // must be the bounded per-document key
      val windowKeys = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(windowKeys.forall(_ == "doc_id"),
        s"$q windows over a corpus-cardinality key (${windowKeys.mkString(",")}):\n$p")
      // and the per-word stat arrives through an aggregate feeding a join
      assert(p.contains("HashAggregate"), p)
    }
  }

  test("token-budget sample windows by (lang, bucket), never a whole language of docs") {
    val p = plan("d_token_budget_sample")
    // the per-document running sum must partition by BOTH lang and the
    // hash-prefix bucket — a lang-only window over documents is the
    // single-task-per-language hot spot this operator exists to avoid.
    // (A lang-only window IS expected over the tiny per-bucket aggregate;
    // it is distinguished by partitioning spec below.)
    // a partition column is followed by ","; an ORDER BY column carries a
    // sort direction — so the offsets window (partition lang, ORDER BY
    // bucket: "lang#1, bucket#2 ASC ...") must NOT satisfy this pin, only
    // a genuine two-column partition ("lang#1, bucket#2, ord#3 ASC") does
    val specs =
      "windowspecdefinition\\((\\w+)#\\d+(?:, (\\w+)#\\d+( ASC| DESC)?)?".r
        .findAllMatchIn(p)
        .map(m => (m.group(1), Option(m.group(2)), Option(m.group(3))))
        .toSeq
    assert(specs.nonEmpty, p)
    assert(specs.contains(("lang", Some("bucket"), None)),
      s"missing (lang,bucket) partition window: $specs\n$p")
    // the lang-only window's input must be an aggregate (the 256-row
    // bucket-totals relation), never the documents scan: its Window node
    // sits above a HashAggregate in the tree
    assert(p.contains("HashAggregate"), p)
  }

  test("source cap ranks inside (source, bucket) windows, never the bare source") {
    val p = plan("d_source_cap")
    // same discipline (and the same pin) as d_token_budget_sample: the
    // per-document running count must partition by BOTH source and the
    // hash-prefix bucket — a source-only window over documents is the
    // one-task-per-mega-domain hot spot the operator exists to avoid
    val specs =
      "windowspecdefinition\\((\\w+)#\\d+(?:, (\\w+)#\\d+( ASC| DESC)?)?".r
        .findAllMatchIn(p)
        .map(m => (m.group(1), Option(m.group(2)), Option(m.group(3))))
        .toSeq
    assert(specs.nonEmpty, p)
    assert(specs.contains(("source", Some("bucket"), None)),
      s"missing (source,bucket) partition window: $specs\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("shuffle shards rank inside (shard, bucket) windows, never the bare shard") {
    val p = plan("d_shuffle_shards")
    // corpus/8 rows per shard on one window task is the hot spot; the
    // global rank must come from the two-level prefix count
    val specs =
      "windowspecdefinition\\((\\w+)#\\d+(?:, (\\w+)#\\d+( ASC| DESC)?)?".r
        .findAllMatchIn(p)
        .map(m => (m.group(1), Option(m.group(2)), Option(m.group(3))))
        .toSeq
    assert(specs.nonEmpty, p)
    assert(specs.contains(("shard", Some("bucket"), None)),
      s"missing (shard,bucket) partition window: $specs\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("k-means step: seeds via distributed top-k; update shuffles scalars by (cid, dim)") {
    val p = plan("s_kmeans_step")
    // seed selection must plan TakeOrderedAndProject (distributed top-k
    // by hash) — a global row_number window over the corpus would put
    // every vector on one task
    assert(p.contains("TakeOrderedAndProject"), p)
    // the centroid-update exchange carries (cid, dim) scalar triples —
    // full vectors must never appear in its shuffle key list
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.exists(e => e.contains("cid#") && e.contains("dim#")), p)
    exchanges.foreach(e => assert(!e.contains("v#") && !e.contains("cv#"),
      s"vector column in k-means shuffle keys: $e"))
    // the argmax assignment is a projection over the collapsed seed row —
    // a window-based argmax would plan hashpartitioning(vec_id) and ship
    // the k×-replicated corpus (vectors included) through it
    exchanges.foreach(e => assert(!e.contains("vec_id#"),
      s"assignment shuffled the corpus by vec_id: $e"))
  }

  test("simhash multi-band: banded exchange reused by both self-join sides; no text shuffled") {
    val df = SparkEntry.queries("d_simhash_pairs")(spark, sf)
    df.collect() // AQE must finalize THIS QueryExecution (write() re-plans)
    // AQE finalizes exchange reuse at runtime: the (band, bucket, doc_id,
    // simhash) exchange must be computed once and reused — recomputing
    // the signature pipeline per join side doubles the map work at scale
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p)
    assert(!p.contains("BroadcastHashJoin"),
      "banded self-join must not broadcast a corpus-growing side:\n" + p)
    val staticPlan = plan("d_simhash_pairs")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(staticPlan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, staticPlan)
    exchanges.foreach(e =>
      assert(!e.contains("text#") && !e.contains("norm#") && !e.contains("words#"),
        s"raw text in shuffle key list: $e"))
  }

  test("lateral join: the outer domain filter reaches the orders scan") {
    // without the in-lateral copy of the domain predicate, Catalyst only
    // infers o_custkey < 100 ABOVE the decorrelated window — the whole
    // orders table would sort+shuffle before 99.9% of groups are dropped
    val p = plan("q_join_lateral")
    assert("PushedFilters: \\[[^\\]]*LessThan\\(o_custkey,100\\)".r
      .findFirstIn(p).isDefined, s"o_custkey filter not pushed:\n$p")
  }

  test("whole-stage codegen covers the hot path") {
    // AQE-wrapped plans only annotate codegen ids after execution, so
    // probe shuffle-free (non-AQE) plans: the map-only pipelines whose
    // per-row work must stay inside whole-stage codegen
    Seq("q_scan_projection", "d_simhash", "t_token_count").foreach { q =>
      assert(plan(q).contains("[codegen id :"), s"$q lost codegen")
    }
  }

  test("decontamination shuffles 8-byte gram keys, no lambda hashing") {
    val p = plan("d_decontaminate")
    // the fused graft_gram_hashes kernel replaced transform()+md5: an
    // ArrayTransform in this plan means interpreted per-gram lambda
    // dispatch is back in the hot path
    assert(!p.contains("transform("), s"lambda gram hashing regressed:\n$p")
    assert(!p.contains("md5("), s"md5 gram keys regressed:\n$p")
    // every exchange ships longs/ids — never text, words, or hex strings
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(e =>
      assert(!e.contains("text#") && !e.contains("words#") && !e.contains("norm#"),
        s"corpus text in decontamination shuffle: $e"))
  }

  test("sequence packing windows are sharded, never single-partition") {
    val p = plan("d_pack_sequences")
    // a Window with an empty partition spec funnels the corpus through
    // ONE task — the exact bottleneck the shard column exists to avoid
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      s"packing window lost its shard partitioning:\n$p")
  }

  test("semdedup candidate exchanges ship ids and buckets, never vectors") {
    val p = plan("d_semdedup")
    // the bucket self-join and the dup-id dedup shuffle must not carry
    // an embedding — vectors are re-fetched by id for the rerank only
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e =>
      assert(!e.contains("v#") && !e.contains("embedding#"),
        s"vector in a semdedup exchange: $e"))
  }

  test("semdedup-kmeans: top-k seeds; pair join co-partitions on cid only") {
    val p = plan("d_semdedup_kmeans")
    // seed selection stays distributed top-k, as in the k-means step
    assert(p.contains("TakeOrderedAndProject"), p)
    // the within-cluster pair join is an equi-join partitioned by cid —
    // co-locating vectors by cluster is the point of SemDeDup, so vectors
    // DO ride these exchanges, but the partitioning key must be cid alone
    // (a key that included vec_id would break the cluster co-location)
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val cidOnly = exchanges.filter(_.contains("cid#"))
    assert(cidOnly.nonEmpty, p)
    cidOnly.foreach(e => assert(!e.contains("vec_id#") && !e.contains("id_a#"),
      s"pair-join exchange not keyed by cid alone: $e"))
    // and the assignment feeding it must not have shuffled by vec_id
    exchanges.foreach(e => assert(!e.contains("vec_id#"),
      s"assignment shuffled the corpus by vec_id: $e"))
  }

  test("incremental dedup ships hashes and ids only — never text") {
    val p = plan("d_incremental_dedup")
    // the anti-join and the keep-first aggregate move (16-byte md5, id)
    // pairs; document text/norm must stay inside the map-side scan
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e => assert(!e.contains("text#") && !e.contains("norm#"),
      s"text in an incremental-dedup exchange: $e"))
    assert(p.contains("LeftAnti"), p)
  }

  test("ccnet buckets: windows only over the per-language histogram; " +
      "boundaries broadcast back") {
    val p = plan("d_ccnet_buckets")
    // every window partitions by lang and consumes the (lang, ppl)
    // HISTOGRAM aggregate — a window partitioned by anything
    // corpus-cardinality (doc_id, ppl carrier rows) is the per-language
    // sort hot spot this formulation exists to avoid
    val parts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(parts.nonEmpty, p)
    assert(parts.forall(_ == "lang"),
      s"window over a non-lang key: $parts\n$p")
    assert(p.contains("HashAggregate"), p)
    // the tiny (lang, b1, b2) relation joins back as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("quality classifier is two scalar aggregations — no window, no broadcast vocabulary") {
    val p = plan("t_quality_classifier")
    assert(!p.contains("windowspecdefinition"), p)
    // shuffles are keyed by (doc_id, w) then doc_id — per-document work
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("doc_id#")),
      s"unexpected exchange keys: $exchanges\n$p")
  }

  test("dsir: the 64-row log-ratio model broadcasts back; no window; " +
      "no text in exchanges") {
    val p = plan("t_dsir_score")
    assert(!p.contains("windowspecdefinition"), p)
    // the bucketed model is plan-constant-sized — scoring must join it as
    // a broadcast, never shuffle the corpus by bucket id
    assert(p.contains("BroadcastHashJoin"), p)
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e => assert(!e.contains("text#") && !e.contains("norm#"),
      s"text in a dsir exchange: $e"))
  }

  test("weighted sample is a fused top-k, never a global sort") {
    val p = plan("d_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    // a global Sort before the limit would be the 100 TB bottleneck the
    // ES-key formulation avoids (per-partition heaps, driver merge of k)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("bloom decontamination: constant-size filter broadcasts; gram " +
      "exchanges ship longs, never text") {
    val p = plan("d_decontaminate_bloom")
    // the ≤2^16-row positions relation must reach the eval side as a
    // broadcast — shuffling the corpus by bit position would defeat the
    // prefilter's purpose
    assert(p.contains("BroadcastHashJoin"), p)
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e => assert(!e.contains("text#") && !e.contains("norm#"),
      s"text in a bloom-decontaminate exchange: $e"))
  }

  test("repeated ngrams shuffles 8-byte gram hashes, never text") {
    val p = plan("d_repeated_ngrams")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(!e.contains("text#") && !e.contains("norm#"),
      s"text in a repeated-ngrams exchange: $e"))
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("repeated spans: exchanges ship positions and 8-byte hashes, never " +
      "text; windows partition by doc_id only") {
    Seq("d_repeated_spans", "d_span_coverage", "d_strip_spans").foreach { q =>
      val p = plan(q)
      val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(exchanges.nonEmpty, p)
      exchanges.foreach(e => assert(!e.contains("text#") && !e.contains("norm#"),
        s"$q ships text in an exchange: $e"))
      // every window partitions by doc_id — one document per partition,
      // bounded by document length, never corpus cardinality
      val windows = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(windows.nonEmpty, p)
      windows.foreach(w => assert(w == "doc_id", s"$q window over $w:\n$p"))
      // the gram document-frequency aggregate combines map-side before
      // its exchange (partial min/max of doc_id below the g partition —
      // "≥2 distinct docs" is computed as min(doc) ≠ max(doc))
      assert(p.contains("partial_min"), p)
    }
  }

  test("salted join shuffles on (key, salt), spreading hot keys across tasks") {
    val p = plan("q_join_salted")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // both join sides must partition by the composite (custkey, salt) key —
    // a plain custkey partitioning would put a hot customer on one task
    val salted = exchanges.filter(e =>
      e.contains("c_custkey#") && e.contains("__graft_salt#"))
    assert(salted.size >= 2, s"expected both sides salted, got: $exchanges\n$p")
  }

  test("source filter broadcasts the stats relation onto the fact side") {
    val p = plan("d_source_filter")
    assert(p.contains("BroadcastHashJoin"), p)
    // documents (the fact side) is never broadcast: exactly one exchange
    // broadcasts, and it is the aggregated per-source stats
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("language balance is map-only over documents plus tiny broadcasts") {
    val p = plan("d_lang_balance")
    // counts (5 rows) and the target scalar broadcast; the documents
    // pass itself must not hash-exchange by language
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e => assert(!e.contains("doc_id#"),
      s"documents shuffled in a sampling pass: $e"))
  }

  test("unigram surprisal joins checkpointed tf — no window, no re-explode") {
    val p = plan("t_unigram_logprob")
    // cf comes from groupBy + join-back on the checkpointed tf relation;
    // the plan has no Window node at all (a sum-over-window by word would
    // hot-spot one task per stopword)
    assert("\\(\\d+\\) Window".r.findFirstIn(p).isEmpty, p)
    // the explode pipeline was materialized by localCheckpoint: downstream
    // reads it as an existing RDD, so the only parquet scan left is the
    // cheap token-total pass — a vocabulary self-join that re-ran the
    // explode would show a second one
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"unigram plan re-reads documents:\n$p")
    assert(p.contains("ExistingRDD"), s"tf not checkpointed:\n$p")
  }

  test("dup clusters: cluster_size via broadcast label map, no window over cluster_id") {
    // duplicate clusters are exactly the skewed entity in a dedup graph —
    // a Window.partitionBy(cluster_id) puts a 10^8-member boilerplate
    // cluster on ONE task (AQE cannot split window partitions). On the
    // driver union-find path (taken here: the bounded window's pair
    // count is far under the broadcast bar) both labels and sizes come
    // from ONE broadcast join against the union-find map; the
    // distributed path's groupBy+join-back twin is pinned in
    // CorpusOpsSpec. Either way the final plan has no Window at all.
    val p = plan("d_dup_clusters")
    assert(!p.contains("windowspecdefinition"),
      s"d_dup_clusters reintroduced a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("keep-best dedup: representative via argmax aggregate, no window") {
    // same mega-cluster skew argument as d_dup_clusters: the per-cluster
    // representative must come from max(struct(quality, -doc_id)) with
    // map-side combine, never row_number over a cluster_id window (one
    // boilerplate cluster = one unsplittable window task)
    val p = plan("d_dup_keep_best")
    assert(!p.contains("windowspecdefinition"),
      s"d_dup_keep_best reintroduced a window:\n$p")
    // max-of-struct buffers aren't hash-aggregable, so the planner uses
    // SortAggregate — what matters for skew is the PARTIAL aggregate
    // before the exchange (one combined row per task per cluster), so
    // two aggregate nodes must bracket the shuffle
    assert("SortAggregate|HashAggregate".r.findAllIn(p)
      .size >= 2, s"no partial aggregate before the exchange:\n$p")
  }

  test("bm25: one corpus aggregate, 1-row stats broadcast, fused top-k") {
    val p = plan("t_bm25_topk")
    // the ranked list comes from TakeOrderedAndProject (distributed
    // per-partition top-k + merge), never a global sort or a window
    assert(p.contains("TakeOrderedAndProject"), s"bm25 lost its top-k:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"bm25 reintroduced a window:\n$p")
    // per-doc (dl, tf*) is checkpointed and feeds BOTH the stats build
    // and the scoring probe — a plan that re-ran the explode would show
    // a parquet scan below the join
    assert(p.contains("ExistingRDD"), s"per-doc aggregate not reused:\n$p")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).isEmpty,
      s"bm25 re-reads documents:\n$p")
    // corpus statistics ride as a broadcast, not a shuffle-side join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"stats row not broadcast:\n$p")
  }

  test("bigram surprisal: counts join back by key — no window, no re-explode") {
    val p = plan("t_bigram_logprob")
    // the same stopword-skew argument as the unigram pin: a
    // sum-over-window by prefix word would put every bigram row of 'the'
    // on one task; marginals must aggregate + join back instead
    assert(!p.contains("windowspecdefinition"),
      s"t_bigram_logprob reintroduced a window:\n$p")
    assert(p.contains("ExistingRDD"), s"tfb not checkpointed:\n$p")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).isEmpty,
      s"bigram plan re-reads documents:\n$p")
  }

  test("pmi collocations aggregate the bigram table, never re-scan the corpus") {
    val p = plan("t_collocations_pmi")
    assert(p.contains("TakeOrderedAndProject"), s"pmi lost its top-k:\n$p")
    assert(!p.contains("windowspecdefinition"), s"pmi uses a window:\n$p")
    // marginals and the total derive from the checkpointed bigram counts
    assert(p.contains("ExistingRDD"), s"cb not checkpointed:\n$p")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).isEmpty,
      s"pmi re-reads documents:\n$p")
  }

  test("pq ann: sharded two-stage top-k; no corpus-cardinality window partition") {
    val p = plan("s_ann_pq")
    // stage-1 ranking partitions by (qid, shard) — the pmod keeps every
    // window partition bounded at any corpus size; a bare qid partition
    // would put the whole corpus's scores for one query on one task
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).size == 2,
      s"pq lost its two-stage ranking:\n$p")
    // the projected shard key (pmod of the id) feeds the stage-1
    // partition spec
    assert(p.contains("pmod(vec_id"), s"pq stage-1 window is not sharded:\n$p")
    // row_number + filter(rn <= 10) pushes a WindowGroupLimit BELOW each
    // exchange: every task forwards at most 10 rows per partition key,
    // so the stage-2 exchange moves ≤ shards·10 rows per query
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank-limit not pushed below the exchanges:\n$p")
    // queries (5 LUT rows) broadcast; the corpus side never shuffles its
    // raw vectors — only (qid, vec_id, adist) triples reach an exchange
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"query LUTs not broadcast:\n$p")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e =>
      assert(!e.contains("v#") && !e.contains("embedding#"),
        s"raw vectors in a pq exchange: $e"))
  }

  test("ivfpq: probes broadcast; exchanges carry ids and codes, never vectors") {
    val p = plan("s_ann_ivfpq")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"), s"probe rows not broadcast:\n$p")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e =>
      assert(!e.contains("v#") && !e.contains("embedding#"),
        s"raw vectors in an ivfpq exchange: $e"))
  }

  test("pagerank: small graphs resolve on the driver; the distributed " +
      "path reuses checkpointed edges; no window anywhere") {
    // at spec scale the measured pair count sits under the probe bar,
    // so the registry row's plan IS the driver result — no iteration
    // jobs at all
    val p = plan("d_dup_pagerank")
    assert(p.contains("LocalTableScan"), s"driver path not taken:\n$p")
    assert(!p.contains("windowspecdefinition"), p)
    // forcing the distributed path pins the scale shape: each power
    // iteration is join + map-side-combinable sum over the checkpointed
    // edge relation — never a window (a window by node would hot-spot
    // the highest-degree boilerplate neighborhood)
    graft.functions.VectorFunctions.register(spark)
    val pairs = spark.createDataFrame(
      Seq((1L, 2L), (2L, 3L), (1L, 3L))).toDF("u", "v")
    val dist = operators.CorpusOps.pageRankMicro(spark, pairs, -1L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!dist.contains("windowspecdefinition"),
      s"pagerank reintroduced a window:\n$dist")
    assert(dist.contains("ExistingRDD"), s"edges not checkpointed:\n$dist")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(dist).isEmpty,
      s"an iteration re-reads documents:\n$dist")
  }

  test("curation pipeline: one checkpointed corpus scan feeds all stages") {
    val p = plan("d_curation_pipeline")
    assert(!p.contains("windowspecdefinition"),
      s"keep-first became a window:\n$p")
    assert(p.contains("ExistingRDD"), s"features not checkpointed:\n$p")
    // the only parquet scan left is the eval split for the
    // decontamination gram set
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 1,
      s"pipeline re-reads the train split:\n$p")
  }

  test("bpe encode is a map-only corpus pass — no exchange, codegen'd kernel") {
    val p = plan("t_bpe_encode")
    // training collapsed to plan constants (the merge table reference
    // object); the corpus encode itself must not shuffle anything
    assert(!p.contains("Exchange"), s"bpe encode shuffles:\n$p")
    assert(p.contains("[codegen id :"), s"bpe kernel fell out of codegen:\n$p")
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("phash pairs band-join ships (id, window, hash) — payloads stay map-side") {
    val p = plan("m_phash_pairs")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e =>
      assert(!e.contains("payload#") && !e.contains("text#"),
        s"payload bytes in a phash exchange: $e"))
  }

  test("histogram quantiles: one partial aggregate, windows over bins — " +
      "no per-group row sort, two-column read") {
    val p = plan("q_quantile_hist")
    // the whole point vs q_percentiles: no sort-based percentile over
    // the group's ROWS — the only sort feeds the window over the
    // (flag, bin) histogram
    assert(!p.toLowerCase.contains("percentile"), p)
    val read = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).get.group(1)
    assert(read.split(",").length == 2, s"over-read: $read")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"histogram aggregate not map-side combined:\n$p")
  }

  test("kneser-ney: vocabulary-sized joins by key — no window, no text " +
      "in exchanges, type total broadcasts") {
    val p = plan("t_kn_logprob")
    assert(!p.contains("windowspecdefinition"),
      s"KN stats became a window:\n$p")
    // the 1-row bigram-type total must ride a broadcast, not shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exchanges.foreach(e =>
      assert(!e.contains("text#") && !e.contains("norm#") && !e.contains("words#"),
        s"raw text in a KN exchange: $e"))
  }

  test("cms heavy hitters: the 4096-counter sketch joins back as a " +
      "broadcast — no window, one corpus aggregate") {
    val p = plan("t_heavy_hitters_cms")
    assert(!p.contains("windowspecdefinition"), p)
    // the sketch is constant-size at any corpus scale: its join back onto
    // the vocabulary relation must be a BroadcastHashJoin, never a
    // shuffle of the vocabulary by (r, slot)
    assert(p.contains("BroadcastHashJoin"), s"sketch join not broadcast:\n$p")
    assert(p.contains("ExistingRDD"), s"word counts not checkpointed:\n$p")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).isEmpty,
      s"a sketch stage re-reads documents:\n$p")
  }

  test("fuzzy decontamination: banded candidates ship (band, bucket, id) " +
      "— no text in exchanges, no corpus broadcast") {
    val p = plan("d_decontaminate_fuzzy")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(e =>
      assert(!e.contains("text#") && !e.contains("norm#") && !e.contains("words#"),
        s"raw text in a fuzzy-decontamination exchange: $e"))
  }

  test("knn join: the banded exchange is computed once and reused by " +
      "both self-join sides") {
    val df = SparkEntry.queries("s_knn_join")(spark, sf)
    df.collect() // AQE finalizes exchange reuse at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"banded self-join recomputes the signature pipeline per side:\n$p")
  }

  test("knn join + semantic decon: candidate exchanges ship ids and " +
      "bucket keys, never vectors") {
    Seq("s_knn_join", "d_decontaminate_semantic").foreach { q =>
      val p = plan(q)
      val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(exchanges.nonEmpty, p)
      exchanges.foreach(e =>
        assert(!e.contains("v#") && !e.contains("embedding#") && !e.contains("qv#"),
          s"vector column in a $q exchange key: $e"))
    }
  }

  test("wordpiece encode is a map-only corpus pass — no exchange, codegen'd") {
    val p = plan("t_wp_encode")
    assert(!p.contains("Exchange"), s"wp encode shuffles:\n$p")
    assert(p.contains("[codegen id :"), s"wp kernel fell out of codegen:\n$p")
  }

  test("z-order layout: 1-row min/max broadcast, one manifest exchange") {
    val p = plan("d_zorder_layout")
    // the corpus side shuffles exactly once (the bounded file-id
    // aggregate); the min/max side is its own 1-row aggregate broadcast
    // through a nested-loop cross — the row side never sorts or
    // repartitions for the interleave
    // one hashpartitioning shuffle total (the manifest aggregate); the
    // min/max side collapses to a SinglePartition 1-row aggregate
    val shuffles = "Arguments: hashpartitioning\\(".r.findAllIn(p).size
    assert(shuffles == 1, s"expected only the manifest exchange, got $shuffles:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Sort "), s"layout op must not globally sort:\n$p")
    // partial aggregation runs before the manifest exchange (map-side
    // combine on the bounded file id)
    assert("HashAggregate[\\s\\S]*Exchange \\(\\d+\\)[\\s\\S]*HashAggregate".r
      .findFirstIn(p).isDefined, p)
  }

  test("fuzzy ER join: equi-joins only — blocking means no cartesian pass") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct"), s"fuzzy join went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join has a non-equi join:\n$p")
  }

  test("spm tokenizer: the model is checkpointed (no corpus re-scan), " +
      "encode joins by word without a window") {
    val pTrain = plan("t_spm_train")
    // training ends at the checkpointed vocabulary-sized relations —
    // serving the train output must not re-run the corpus pass
    assert(pTrain.contains("ExistingRDD"), pTrain)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(pTrain).isEmpty,
      s"train output re-reads the corpus:\n$pTrain")
    val pEnc = plan("t_spm_encode")
    assert(!pEnc.contains("windowspecdefinition"), pEnc)
    // exactly one corpus scan: the doc-word explode joined to the
    // checkpointed per-word counts
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(pEnc).size == 1, pEnc)
  }

  test("incremental near-dedup: banded LSH shape — no text in exchanges") {
    val p = plan("d_incremental_neardup")
    val exchanges = "Arguments: hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(e =>
      assert(!e.contains("text#") && !e.contains("norm#") && !e.contains("words#"),
        s"raw text in an incremental-neardup exchange: $e"))
    assert(!p.contains("windowspecdefinition") ||
      p.contains("band"), p) // the only window is the bucket-size cap
  }

  test("shuffle width follows data volume, not core count (the r17 50x " +
      "spill-edge rule, automatic)") {
    import graft.session.ShuffleWidth
    // floor: a corpus smaller than cores x target keeps every core busy
    // and nothing more — sf0.1's 17.5 MB at 32 cores stays the recorded
    // 32-wide contract
    assert(ShuffleWidth.forBytes(17L << 20, 32) == 32)
    // volume: the r17 50x probe's 236 MB lands at the empirically-flat
    // ~128-wide shape (118 = ceil(236 MB / 2 MB))
    assert(ShuffleWidth.forBytes(236L << 20, 32) == 118)
    // ceiling guards scheduling overhead
    assert(ShuffleWidth.forBytes(1L << 50, 32) == ShuffleWidth.MaxWidth)
    // end-to-end at two synthetic on-disk volumes (sparse files: size
    // metadata is what the estimator reads)
    def dirOf(bytes: Long): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-width")
      val raf = new java.io.RandomAccessFile(
        d.resolve("t.parquet").toFile, "rw")
      raf.setLength(bytes); raf.close()
      d.toString
    }
    val cores = spark.sparkContext.defaultParallelism
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // configure() adds any catalog stats recorded in the shared
    // session (another suite's SourceRegistry run) — isolate
    ShuffleWidth.clearStats(spark)
    // the test session pins its width, and a pinned width is left alone
    spark.conf.unset("spark.sql.shuffle.partitions")
    try {
      ShuffleWidth.configure(spark, dirOf(1L << 20))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString,
        "small volume must floor at cores")
      // recorded directories add up: start the second volume alone
      ShuffleWidth.clearStats(spark)
      ShuffleWidth.configure(spark, dirOf(512L << 20))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "256",
        "512 MB / 2 MB target = 256-wide")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      ShuffleWidth.clearStats(spark)
    }
  }

  test("a session that resolves a data directory gets its width from the " +
      "directory's bytes, with no configure call; a pinned width stays") {
    import graft.session.ShuffleWidth
    import java.nio.file.{Files, Paths}
    // a directory with a real table and 100 MB of sparse padding
    val dir = Files.createTempDirectory("graft-width-tables")
    Files.copy(Paths.get(s"$sf/nation.parquet"), dir.resolve("nation.parquet"))
    val raf = new java.io.RandomAccessFile(dir.resolve("pad.bin").toFile, "rw")
    raf.setLength(100L << 20); raf.close()
    val want = ShuffleWidth.forBytes(ShuffleWidth.dirBytes(dir.toString),
      spark.sparkContext.defaultParallelism)
    assert(want > 4, s"the padding must lift the width off the test pin: $want")
    // a fresh session as GraftSession.builder leaves it: no width pinned
    // (newSession inherits the shared context's pin from its SparkConf)
    val fresh = spark.newSession()
    fresh.conf.unset("spark.sql.shuffle.partitions")
    assert(Tables(fresh, dir.toString).nation.count() == 25)
    assert(fresh.conf.get("spark.sql.shuffle.partitions") == want.toString)
    // a caller's pin is left alone, on a fresh session and on the shared one
    val pinned = spark.newSession()
    pinned.conf.set("spark.sql.shuffle.partitions", "7")
    assert(Tables(pinned, dir.toString).nation.count() == 25)
    assert(pinned.conf.get("spark.sql.shuffle.partitions") == "7")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(Tables(spark, dir.toString).nation.count() == 25)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("q1 and q6 keep no decimal in their aggregate buffers") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.DecimalType
    Seq("q1_pricing_summary", "q6_forecast_revenue").foreach { q =>
      val aggs = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
        .collect { case a: BaseAggregateExec => a }
      assert(aggs.nonEmpty, q)
      val buffers = aggs.flatMap(_.aggregateExpressions
        .flatMap(_.aggregateFunction.aggBufferAttributes))
      assert(buffers.nonEmpty, q)
      assert(!buffers.exists(_.dataType.isInstanceOf[DecimalType]),
        s"$q buffers: ${buffers.map(b => s"${b.name}:${b.dataType.simpleString}")}")
    }
  }

  test("shuffle width from CATALOG statistics: an Iceberg-registered " +
      "session with no data dir derives volume, not the core floor") {
    import graft.session.ShuffleWidth
    import graft.sources.iceberg.{IcebergCommit, IcebergLocal, IcebergRest,
      IcebergRestCatalog}
    import graft.sources.{SourceDef, SourceRegistry, SourcesConfig, TableDef}
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Files.createTempDirectory("ice-stats-wh")
    val dataDir = java.nio.file.Files.createTempDirectory("ice-stats-data")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.coalesce(1).write.mode("overwrite").parquet(dataDir.toString)
    val parts = java.nio.file.Files.list(dataDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
      .map(p => IcebergLocal.DataFileInfo(p.toUri.toString, 25,
        java.nio.file.Files.size(p)))
    val realBytes = parts.map(_.sizeBytes).sum
    IcebergCommit.local(wh.resolve("t")).append(parts, timestampMs = 1000L)
    val server = new IcebergLocal.CatalogServer(wh, "stats")
    val port = server.start()
    ShuffleWidth.clearStats(spark)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // 1) the local writer records the spec's summary totals
      val cat = new IcebergRestCatalog(s"http://127.0.0.1:$port")
      val snap = cat.loadTable("stats", "t").snapshots.head
      assert(snap.summary.get("total-files-size")
        .contains(realBytes.toString), snap.summary)
      assert(snap.summary.get("total-records").contains("25"), snap.summary)
      // 2) tableSizeBytes answers from the summary
      assert(IcebergRest.tableSizeBytes(spark, cat, "stats", "t")
        .contains(realBytes))
      // 3) registration records the estimate in session conf — NO
      // local data dir anywhere in this source def
      new SourceRegistry(spark).registerAll(SourcesConfig(Seq(
        SourceDef(name = "icestats", sourceType = "iceberg_rest",
          url = Some(s"http://127.0.0.1:$port"),
          options = Map("namespace" -> "stats"),
          tables = Seq(TableDef(name = "t"))))))
      assert(spark.conf.get(
        ShuffleWidth.StatsKeyPrefix + "icestats_t") == realBytes.toString)
      // 4) width follows the RECORDED volume: overlay a synthetic
      // 1 GB estimate (as a big remote table would record) and the
      // stats-only configure chooses 512-wide — volume-derived, far
      // above the core floor, with not one local byte on disk (the
      // test session's pinned width is lifted first: a pin is left alone)
      spark.conf.unset("spark.sql.shuffle.partitions")
      ShuffleWidth.record(spark, "icestats_big", 1L << 30)
      val width = ShuffleWidth.configureFromStats(spark)
      val expected = (((1L << 30) + realBytes +
        ShuffleWidth.TargetBytesPerPartition - 1) /
        ShuffleWidth.TargetBytesPerPartition).toInt
      assert(width == expected, s"stats-derived width $width != $expected")
      assert(width > spark.sparkContext.defaultParallelism)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == width.toString)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      ShuffleWidth.clearStats(spark)
      spark.catalog.dropTempView("icestats_t")
      spark.catalog.dropTempView("t")
      server.stop()
    }
  }
}
