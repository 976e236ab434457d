package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.TimeUnit.SECONDS

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Plan-quality gates — the 100 TB design assertions (build brief:
  * ".explain the plan and iterate until it's the plan you'd want").
  * These pin the physical-plan properties that make the queries scale;
  * a regression that reintroduces a full scan, a lost broadcast, or a
  * global-sort-for-topk fails the build, not just slows it. */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, LocalSpark.sf)
    df.queryExecution.executedPlan.toString()
  }

  /** The round-robin exchanges (the shape a REPARTITION hint plans) of
    * an executed plan, AQE stages and cached plans included, each with
    * the conditions of the filters below it that call a graft kernel. */
  private def hintExchanges(p: SparkPlan): Seq[(ShuffleExchangeExec, Seq[String])] = {
    val walk = new AdaptiveSparkPlanHelper {}
    val isKernel = (e: Expression) => e.getClass.getName.startsWith("graft.")
    val cached = walk.collect(p) { case m: InMemoryTableScanExec => m.relation.cachedPlan }
    walk.collect(p) {
      case x: ShuffleExchangeExec if x.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => x
    }.map(x => x -> walk.collect(x.child) {
      case f: FilterExec if f.condition.find(isKernel).isDefined => f.condition.sql
    }) ++ cached.flatMap(hintExchanges)
  }

  /** The executed plan of every action that building and collecting
    * query `q` runs: an eager query's own actions, then its result. */
  private def executedPlans(q: String): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val sentinel = spark.range(1)
    val seen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq sentinel.queryExecution) seen.countDown() else plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(q)(spark, LocalSpark.sf).collect()
      // listener events arrive in order: the sentinel's comes last
      sentinel.collect()
      assert(seen.await(60, SECONDS), "the sentinel action never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("scan_filter_project pushes filters and prunes columns at the parquet scan") {
    val p = plan("scan_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate") && p.contains("l_quantity"), p)
    // pruned read schema: only the 6 needed columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"column not pruned: $readSchema")
  }

  test("join_broadcast_star broadcasts all three dimension tables") {
    val p = plan("join_broadcast_star")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts == 3, s"expected 3 broadcast joins, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), "fact table must not shuffle for dim joins")
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_pit_scd2 broadcasts the materialized SCD2 dimension") {
    // the materialize-once shape: the dimension is a persisted
    // view broadcast into the fact join — losing the broadcast (or
    // re-deriving the dimension inside the join) regresses 1.7s -> 4.9s
    val p = plan("join_pit_scd2")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"dimension must come from the persisted materialization:\n$p")
  }

  test("q1 aggregates partially before the exchange (map-side combine)") {
    val p = plan("q1_pricing_summary")
    val aggIdx = p.indexOf("HashAggregate")
    val exIdx = p.indexOf("Exchange")
    assert(aggIdx >= 0 && exIdx >= 0)
    // plan prints top-down: final agg, exchange, partial agg, scan —
    // a partial HashAggregate must appear BELOW the exchange too
    assert(p.indexOf("HashAggregate", exIdx) > exIdx,
      s"no partial aggregate under the exchange:\n$p")
  }

  test("whole-stage codegen covers the q1 pipeline") {
    // AQE only materializes codegen stages in the FINAL plan — execute
    // first, then inspect
    val df = SparkEntry.queries("q1_pricing_summary")(spark, LocalSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // codegen stages print as "*(n) Operator" in the final adaptive plan
    assert(p.contains("*(1)"), p)
    // scan → filter → project → partial agg all in one codegen stage
    assert(p.linesIterator.count(_.contains("*(1)")) >= 3, p)
  }

  test("dedup_ngram_jaccard is an equi-join on gram, not a nested-loop") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"jaccard must stay an equi-join:\n$p")
  }

  test("record linkage blocks on (prefix, length) — equi-join, kernel scorer in the plan") {
    for (q <- Seq("link_fuzzy_match", "link_jaro_winkler")) {
      val p = plan(q)
      // the whole point of blocking: the DL/JW kernel only ever runs
      // inside a (prefix, length-bucket) hash join, never all-pairs
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay a blocked equi-join:\n$p")
      val kernel = if (q == "link_fuzzy_match") "damerau_levenshtein" else "jaro_winkler"
      assert(p.toLowerCase.contains(kernel), s"$q must score via the codegen'd kernel:\n$p")
    }
  }

  test("dedup_semantic pairs via a per-cluster kernel; kmeans assignment is a narrow map") {
    val p = plan("dedup_semantic")
    // SemDeDup's whole point: candidate pairs come from within the
    // learned cluster only, never an all-pairs product — and not
    // even from a cluster self-JOIN: the relational pair
    // spelling materialized O(Σ|c|²) ~1 KB rows (263 s at sf10, all
    // bandwidth); the flatMapGroups kernel shuffles O(n) rows once and
    // emits only Tau-survivors
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must block on cluster:\n$p")
    assert(!p.contains("Join"),
      s"pair stage must be the grouped kernel, not a self-join:\n$p")
    assert(p.contains("MapGroups"), s"per-cluster kernel missing:\n$p")
    // the assignment stage consumes a broadcast centroid matrix via one
    // kernel expression — no join, no exchange between the embeddings
    // scan and the argmax projection
    val ap = plan("cluster_kmeans_assign")
    assert("Exchange".r.findAllIn(ap).length == 1, // the output sort only
      s"assignment should add no exchange beyond the final ORDER BY:\n$ap")
    assert(ap.contains("argmax_cosine_d"),
      s"assignment must use the broadcast argmax kernel:\n$ap")
    // the incremental arrival path must stay cluster-blocked too
    val ip = plan("dedup_incremental_semantic")
    assert(!ip.contains("CartesianProduct") && !ip.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-corpus matching must block on cluster:\n$ip")
  }

  test("kmeans assignment plan is O(1) in k — flat at k=256, no literal centroid structs") {
    // a literal-centroid spelling puts k·dim constants in one
    // projection: invisible at k=8, a plan/codegen bomb at the
    // k=10⁴–10⁵ SemDeDup regime the module documents. Gate: at k=256
    // the executed plan stays the SAME SIZE as k=8 (one broadcast
    // matrix + one kernel expression), and the assignment still runs.
    Tables.register(spark, LocalSpark.sf)
    def syntheticCents(k: Int) = (0 until k).map { i =>
      (i, Array.tabulate(64)(d => ((i * 64 + d) % 97 + 1) / 97.0))
    }
    def planOf(k: Int): String = Clustering.assignUnderCentroids(
      spark.table("embeddings"), syntheticCents(k))
      .queryExecution.executedPlan.toString()
    val p8 = planOf(8)
    val p256 = planOf(256)
    // past the IvfThreshold the kernel switches to the two-level IVF
    // form (n·√k per pass — the measured-exponent fix); below it the
    // flat exact kernel stays. Both are ONE broadcast + ONE expression.
    assert(p8.contains("argmax_cosine_d"), p8)
    assert(p256.contains("argmax_cosine_ivf_d"), p256)
    assert(!p256.contains("named_struct"),
      s"literal centroid structs leaked back into the plan:\n$p256")
    assert(p256.length <= p8.length + 64,  // identical shape, maybe id noise
      s"plan grew with k: ${p8.length} chars at k=8, ${p256.length} at k=256")
    val out = Clustering.assignUnderCentroids(
      spark.table("embeddings"), syntheticCents(256))
    val rows = out.select($"vec_id", $"cluster").collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 256))
  }

  test("ann_lsh_bucketed joins on (table,bucket) — no cartesian fallback") {
    val p = plan("ann_lsh_bucketed")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_lsh_bucketed candidate exchanges carry only ids, not embeddings") {
    // the scale contract: the (tbl,bucket) equi-join + pair DISTINCT move
    // ints only; the 64-float vectors re-join after dedup. AQE is turned
    // off for the inspection so Exchanges aren't hidden inside leaf
    // QueryStageExec wrappers.
    import org.apache.spark.sql.execution.exchange.Exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root =
      try SparkEntry.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val exchanges = root.collect { case e: Exchange => e }
    val bucketCarrying = exchanges.filter(_.output.exists(_.name == "bucket"))
    assert(bucketCarrying.nonEmpty, "expected a candidate exchange keyed by bucket")
    bucketCarrying.foreach { e =>
      val wide = e.output.filter(_.name.toLowerCase.contains("emb"))
      assert(wide.isEmpty,
        s"wide vector columns ${wide.map(_.name)} inside the candidate exchange:\n$e")
    }
  }

  test("join_bucketed_smb: sort-merge join over co-located buckets, no pre-join shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root =
      try SparkEntry.queries("join_bucketed_smb")(spark, LocalSpark.sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val p = root.toString()
    assert(p.contains("SortMergeJoin"), p)
    // the only exchanges allowed are post-aggregation (group key/sort) —
    // nothing carrying join-input columns may shuffle
    val preJoin = root.collect { case e: ShuffleExchangeExec => e }
      .filter(_.output.exists(a => a.name == "l_orderkey" || a.name == "l_quantity"))
    assert(preJoin.isEmpty,
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("events_range_join_sessions plans as a binned equi-join, not a nested loop") {
    val p = plan("events_range_join_sessions")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must bin to an equi-join:\n$p")
  }

  test("events_asof_join is one key shuffle + window — no range/nested-loop join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root =
      try SparkEntry.queries("events_asof_join")(spark, LocalSpark.sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val p = root.toString()
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not plan a pairwise join:\n$p")
    // shuffles: one per union branch for the window key + the final sort
    // — the point is |L|+|R| rows move once, never |L|×|R| pairs
    val shuffles = root.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty && shuffles.size <= 3, s"unexpected shuffles:\n$p")
  }

  test("custom text expressions stay inside whole-stage codegen") {
    // TOKENIZE/STOPWORD_RATIO/SHINGLE_SET implement doGenCode — a
    // CodegenFallback expression anywhere in a projection knocks the
    // WHOLE stage out of codegen, so the scan→project pipeline of the
    // text queries must show a codegen span around its Project
    for (q <- Seq("text_quality", "text_fingerprint")) {
      val df = SparkEntry.queries(q)(spark, LocalSpark.sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
      val projectInCodegen = p.linesIterator.exists(l =>
        l.contains("*(") && l.contains("Project"))
      assert(projectInCodegen, s"$q: no codegen span around Project:\n$p")
    }
  }

  test("topk_per_key: custom exec with partial phase below the exchange, no WindowExec") {
    val df = SparkEntry.queries("topk_per_key")(spark, LocalSpark.sf)
    val p = df.queryExecution.executedPlan.toString()
    assert("TopKPerKey".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Window"), s"must not fall back to a window sort:\n$p")
    // partial (below exchange) then final (above): plan prints top-down
    val finalIdx = p.indexOf("TopKPerKey")
    val exIdx = p.indexOf("Exchange", finalIdx)
    val partialIdx = p.indexOf("TopKPerKey", exIdx)
    assert(finalIdx >= 0 && exIdx > finalIdx && partialIdx > exIdx,
      s"expected final/exchange/partial ordering:\n$p")
    // correctness vs the built-in window formulation
    import org.apache.spark.sql.expressions.Window
    Tables.register(spark, LocalSpark.sf)
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val expect = spark.table("lineitem")
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where($"rn" <= 3).drop("rn")
      .orderBy($"l_suppkey", $"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .collect().toSeq
    assert(df.collect().toSeq == expect)
  }

  test("text_decontaminate broadcasts the benchmark gram set; corpus side never shuffles pre-join") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bench grams must broadcast:\n$p")
    // the gram probe must not be a shuffled join: beyond the REPARTITION
    // hint's spread exchange, the only Exchanges are the per-doc COUNT
    // aggregate, the final left join, and the ORDER BY
    assert(!p.contains("SortMergeJoin [gram"), "gram probe must not sort-merge")
  }

  test("repartition hints track the session's parallelism, not the bench host's 32") {
    // the shared SQL texts spell a width-free REPARTITION (a comment to
    // the DuckDB oracle); graft plans it at the session's
    // defaultParallelism, this session's 4 cores, never at a width
    // written into a query
    val dp = spark.sparkContext.defaultParallelism
    for (q <- Seq("link_fuzzy_match", "stats_bootstrap_median",
                  "agg_trimmed_mean", "stats_corr_matrix",
                  "dedup_minhash_lsh", "text_decontaminate_fuzzy")) {
      val p = plan(q)
      assert(p.contains(s"RoundRobinPartitioning($dp)"),
        s"$q: hint width must be the session's $dp:\n$p")
      assert(!p.contains("RoundRobinPartitioning(32)"),
        s"$q: a literal 32-wide repartition:\n$p")
    }
  }

  test("no graft kernel runs below a REPARTITION hint's exchange") {
    // the hint's round-robin exchange exists to spread per-row kernel
    // work over the session's cores; a kernel filter below it runs in
    // the scan stage, one task at test scale, so every document is
    // shingled or tokenized serially before the parallel stage starts.
    // Every hinted query whose plans show its hint: the components
    // queries hand the MinHash pairs to their loop as an RDD, and
    // dedup_minhash_lsh covers that front end.
    val dp = spark.sparkContext.defaultParallelism
    val hinted =
      for (q <- Seq("agg_trimmed_mean", "agg_winsorized_mean",
                    "dedup_containment", "dedup_edit_verify", "dedup_incremental",
                    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
                    "dedup_substring", "link_blocking_metrics", "link_fuzzy_match",
                    "link_jaro_winkler", "multimodal_audio_fp", "multimodal_decode",
                    "multimodal_frames", "multimodal_phash_pairs", "multimodal_resize",
                    "pack_sequences", "pack_shards", "pipeline_curate",
                    "pipeline_curate_ppl", "stats_bootstrap_median",
                    "stats_bootstrap_poisson", "stats_corr_matrix", "text_chunks",
                    "text_context_ngrams", "text_decontaminate",
                    "text_decontaminate_fuzzy", "text_fingerprint", "text_ngrams_topk"))
      yield q -> executedPlans(q).flatMap(hintExchanges)
    val offenders = hinted.flatMap {
      case (q, Nil) => Seq(s"$q plans no round-robin exchange")
      case (q, hints) => hints.collect {
        case (x, _) if x.outputPartitioning != RoundRobinPartitioning(dp) ||
            x.shuffleOrigin != REPARTITION_BY_NUM =>
          s"$q spreads as ${x.outputPartitioning}, ${x.shuffleOrigin}, not over the session's $dp cores"
        case (_, below) if below.nonEmpty =>
          s"$q filters on a graft kernel in its scan stage: ${below.mkString(", ")}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a filter above a width-free REPARTITION stays above its exchange in a twice-read CTE and an IN subquery") {
    Tables.register(spark, LocalSpark.sf)
    spark.range(1, 41).selectExpr("id", "REPEAT('w ', CAST(id % 5 AS INT)) AS text")
      .createOrReplaceTempView("spread_docs")
    val q = """
      WITH t AS (
        SELECT id, TOKENIZE(text) AS toks
        FROM (SELECT /*+ REPARTITION */ id, text FROM spread_docs)
      )
      SELECT a.id, SIZE(a.toks) AS n
      FROM t a JOIN t b ON a.id = b.id + 1
      WHERE SIZE(a.toks) > 0 AND a.id IN (SELECT id FROM t WHERE SIZE(toks) > 1)"""
    try {
      val df = Tables.sql(q)(spark, LocalSpark.sf)
      val rows = df.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val plain = spark.sql(q.replace("/*+ REPARTITION */", ""))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(rows.nonEmpty && rows == plain)
      val hints = hintExchanges(df.queryExecution.executedPlan)
      assert(hints.nonEmpty, "the hint planned no round-robin exchange")
      val dp = spark.sparkContext.defaultParallelism
      for ((x, below) <- hints) {
        assert(x.outputPartitioning == RoundRobinPartitioning(dp) &&
          x.shuffleOrigin == REPARTITION_BY_NUM, s"${x.outputPartitioning}, ${x.shuffleOrigin}")
        assert(below.isEmpty, s"a kernel filter crossed the hint: $below")
      }
    } finally spark.catalog.dropTempView("spread_docs")
  }

  test("text_repetition aggregates partially before both exchanges (map-side combine)") {
    val p = plan("text_repetition")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"expected partial aggregation below the exchange:\n$p")
  }

  test("join_skew_salted: the shuffle key carries the salt") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root =
      try SparkEntry.queries("join_skew_salted")(spark, LocalSpark.sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val p = root.toString()
    // the whole point: a hot supplier key spreads over the 8 salt
    // buckets, so the pre-join exchange must partition on salt too
    assert(p.contains("SortMergeJoin"), s"salting demo requires the shuffle plan:\n$p")
    val saltedExchanges = root.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.toString.contains("salt"))
    assert(saltedExchanges.nonEmpty, s"no exchange partitioned by salt:\n$p")
  }

  test("dedup_embedding_cosine: salted SHUFFLE_MERGE self-join, never a broadcast") {
    // the sf10 scale-killer: Spark broadcast the self-join side and
    // ran the full pair expansion on ONE input partition. The pin:
    // sort-merge on (label, salt) — a broadcast here means the salt
    // (and all 32 cores) are dead weight again. W is adaptive now, so
    // the gate checks the plan SHAPE, not a fixed width.
    val p = plan("dedup_embedding_cosine")
    assert(p.contains("SortMergeJoin"), s"pair join must shuffle on (label, salt):\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join must not broadcast:\n$p")
    assert(p.contains("salt"), s"join key must carry the salt:\n$p")
  }

  test("q5_local_supplier: 5-way join broadcasts the dims, no cartesian") {
    val p = plan("q5_local_supplier")
    assert(!p.contains("CartesianProduct"), p)
    // region/nation/supplier/customer are all broadcast-sized next to
    // the lineitem fact — at least the two geo dims must broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"dims must broadcast in the star join:\n$p")
  }

  test("events_asof_nearest composes two window passes — no pairwise join") {
    val p = plan("events_asof_nearest")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nearest-asof must stay union+window, not a candidate product:\n$p")
  }

  test("search_hybrid_rrf: both rankings top-k before any rank window") {
    val p = plan("search_hybrid_rrf")
    // each leg must cut to 10 rows via TakeOrderedAndProject BEFORE its
    // ROW_NUMBER — an unpartitioned window over the corpus would be the
    // single-reducer bottleneck at scale
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"both ranking legs must TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_bm25_topk: top-k via TakeOrderedAndProject, stats row broadcast") {
    val p = plan("text_bm25_topk")
    // ORDER BY score LIMIT 10 must not global-sort the corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    // the single (N, total_len, df*) stats row joins back as a broadcast
    // (a 1-row BroadcastNestedLoopJoin is the scalar-subquery pattern,
    // fine at any scale); a shuffled join here would move the corpus
    assert(!p.contains("SortMergeJoin"), s"stats row must broadcast:\n$p")
  }

  test("Hive MAPJOIN hint produces a broadcast join") {
    val p = plan("join_mapjoin_hint")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("TABLESAMPLE bucket sampling parses and bounds the sample") {
    Tables.register(spark, LocalSpark.sf)
    val n = spark.sql(
      "SELECT COUNT(*) FROM orders TABLESAMPLE (BUCKET 1 OUT OF 10)"
    ).collect()(0).getLong(0)
    assert(n > 0 && n < 1500, s"bucket sample returned $n of 1500")
  }

  test("subquery_in plans as a semi join, not an aggregate+filter") {
    val p = plan("subquery_in")
    assert(p.contains("SemiJoin") || p.contains("LeftSemi"), p)
  }

  test("q19 OR-of-ANDs keeps the equi-join key, never a nested loop") {
    val p = plan("q19_disjunct_revenue")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the partkey equi-condition must be extracted from the disjunction:\n$p")
  }

  test("q2 correlated MIN subquery de-correlates to aggregate + equi-join") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the per-part minimum must join on l_partkey, not re-execute per row:\n$p")
  }

  test("text_perplexity: count-lookup joins stay equi, no all-pairs product") {
    val p = plan("text_perplexity")
    // the single-row vocab size joins back as a 1-row broadcast (the
    // scalar-subquery pattern); the c(w1,w2)/c(w1) lookups must be
    // equi-joins on token keys — a cartesian anywhere means the corpus
    // is being crossed with itself
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_decay_feature pushes the partition-key filter below the window") {
    val p = plan("events_decay_feature")
    // user_id is the window partition key, so the predicate must reach
    // the parquet scan instead of filtering after the window exec
    assert(p.contains("PushedFilters: [IsNotNull(user_id), LessThanOrEqual(user_id"),
      s"user_id filter must reach the scan:\n$p")
  }

  test("graph queries never degrade to a cartesian product") {
    // graph_triangles is excluded: its query function executes the
    // counts eagerly and returns a LocalRelation, so its plan string
    // contains no joins and the assertion would be vacuous there —
    // the triangle join shape is covered by the oracle compare instead
    for (q <- Seq("graph_degree_stats", "graph_pagerank", "graph_sssp")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay on equi-joins:\n$p")
    }
  }

  test("skyline_orders never plans the quadratic dominance join") {
    val p = plan("skyline_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline must stay on the prefix-max reduction, not NOT-EXISTS:\n$p")
  }

  test("events_attribution joins hash-partitioned on user_id, never nested-loop") {
    val p = plan("events_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the time band must ride as a residual filter on the user equi-join:\n$p")
  }

  test("events_session_overlap plans the overlap band as an equi-join residual") {
    val p = plan("events_session_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap must not degenerate to all-pairs:\n$p")
  }

  test("graph_khop broadcasts the seed frontier into the edge joins") {
    val df = SparkEntry.queries("graph_khop")(spark, LocalSpark.sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"the 10-seed frontier must broadcast, not shuffle the edge list:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("agg_weighted_percentile aggregates partially before its exchange") {
    val p = plan("agg_weighted_percentile")
    // plan prints top-down: the final-mode aggregate sits above the
    // exchange, the partial-mode one below it
    val aggIdx = p.indexOf("HashAggregate")
    val exIdx = p.indexOf("Exchange")
    assert(aggIdx >= 0 && exIdx >= 0 && p.lastIndexOf("HashAggregate") > exIdx,
      s"per-value weight rollup must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("stats_spearman plans windows plus one aggregate, no join at all") {
    val p = plan("stats_spearman")
    assert(!p.contains("Join"), s"rank correlation needs no join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("join_bloom_prefilter filters the fact side below the exact join") {
    val df = SparkEntry.queries("join_bloom_prefilter")(spark, LocalSpark.sf)
    val p = df.queryExecution.executedPlan.toString()
    val pl = p.toLowerCase
    // the membership kernel must run in the fact side's scan stage
    // (before the join shuffle) — that positional fact is the whole
    // point of the runtime-filter pattern
    val filterIdx = pl.indexOf("inbloomfilter")
    assert(filterIdx >= 0, s"bloom membership prefilter missing from plan:\n$p")
    val factJoin = Seq("sortmergejoin", "broadcasthashjoin", "shuffledhashjoin")
      .map(pl.indexOf).filter(_ >= 0)
    assert(factJoin.nonEmpty, s"exact join missing:\n$p")
    assert(filterIdx > factJoin.min,
      s"prefilter must sit BELOW the exact join (plans print top-down):\n$p")
  }

  test("graph_reach_recursive loops over the persisted edge list via UnionLoop") {
    val df = SparkEntry.queries("graph_reach_recursive")(spark, LocalSpark.sf)
    val p = df.queryExecution.executedPlan.toString()
    // the recursion must run on the engine's native loop operator, and
    // its step plan must read the cached symmetric edge list — with the
    // edge build inlined as a CTE every iteration re-ran the full
    // lineitem self-join (24 s at sf0.1 vs ~4 s cached)
    assert(p.contains("UnionLoop"),
      s"recursive CTE must plan as UnionLoop:\n$p")
    // the loop body is re-planned per iteration, so the cached view
    // prints as InMemoryRelation inside the UnionLoop step plan
    assert(p.contains("InMemoryRelation"),
      s"recursion step must read the persisted edge view:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache()
  }

  test("graph_pagerank iterations read the persisted edge list, not the fact table") {
    val df = SparkEntry.queries("graph_pagerank")(spark, LocalSpark.sf)
    val p = df.queryExecution.executedPlan.toString()
    // the lineitem incidence self-join must be materialized once: the
    // iteration plan reads InMemoryTableScan and the raw lineitem scan
    // appears only under it (cache build), not once per iteration
    assert(p.contains("InMemoryTableScan"),
      s"edge list must come from the persisted cache:\n$p")
    spark.catalog.clearCache()
  }

  test("catalog_partition_pruned_scan reads exactly one catalog partition") {
    val df = SparkEntry.queries("catalog_partition_pruned_scan")(spark, LocalSpark.sf)
    val p = df.queryExecution.executedPlan.toString()
    // catalog-level pruning: the o_orderstatus predicate is a
    // PartitionFilter (never a post-scan Filter) and the scan's file
    // index holds ONLY the matching partition's directory
    assert("PartitionFilters: \\[[^\\]]*o_orderstatus".r.findFirstIn(p).isDefined,
      s"partition predicate must prune at the catalog level:\n$p")
    // file index holds exactly ONE path — the matching partition's
    // directory — and no residual data filter survives
    assert(p.contains("(1 paths)[") && p.contains("orders_part/o_order"),
      s"expected a single pruned partition directory in the file index:\n$p")
    assert(p.contains("DataFilters: []"),
      s"o_orderstatus must not appear as a post-scan data filter:\n$p")
  }

  test("graph_ppr joins only the frontier (q > 0), not the full pr vector") {
    val df = SparkEntry.queries("graph_ppr")(spark, LocalSpark.sf)
    val p = df.queryExecution.optimizedPlan.toString()
    // personalized PageRank's whole point is locality: each contrib
    // join must see only the q > 0 frontier, so round-1 cost is
    // O(deg(seed)), not O(E). Catalyst rewrites the three source-level
    // frontier filters into (a) round 1: the one-hot CASE folds to a
    // seed-EQUALITY predicate pushed onto the edge-scan side (src =
    // the seed CTE's scalar subquery — an even tighter plan than the
    // filter as written), and (b) rounds 2-3: the composed-expression
    // filter (... ELSE 0.0 END + floor(17·s/20)) > 0.0 sitting under
    // each contrib join.
    val seedEquality =
      "Filter \\(+src#\\d+L? = scalar-subquery#\\d+ \\[\\]\\) <=> true\\)".r
        .findAllIn(p).length
    val frontierFilters =
      "ELSE 0\\.0 END \\+ cast\\(FLOOR[^\\n]* > 0\\.0\\)".r.findAllIn(p).length
    assert(seedEquality >= 1 && frontierFilters >= 2,
      s"expected the folded seed-equality pushdown (found $seedEquality) " +
        s"and >=2 composed frontier filters (found $frontierFilters):\n$p")
    spark.catalog.clearCache()
  }

  test("embed_pca_power: matrix-vector joins stay equi on vec_id/dim, no cartesian") {
    val p = plan("embed_pca_power")
    // the factored X'(Xv) form must never materialize the d² Gram
    // matrix or cross the corpus with itself — the only non-equi joins
    // allowed are the 1-row renormalizer broadcasts
    assert(!p.contains("CartesianProduct"),
      s"power iteration must stay on vec_id/dim equi-joins:\n$p")
    // big sums combine map-side before the dim/vec_id exchanges
    val exIdx = p.indexOf("Exchange")
    assert(exIdx >= 0 && p.lastIndexOf("HashAggregate") > exIdx,
      s"no partial aggregate under the exchange:\n$p")
  }

  test("recsys_user_cf pairs through the capped inverted index — equi-join on part") {
    val p = plan("recsys_user_cf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"user-pair generation must stay an item equi-join:\n$p")
  }

  test("graph_kcore trajectory is monotone and the result is driver-scale") {
    // like graph_triangles, kcore executes its counts eagerly over
    // checkpointed rounds and returns a LocalRelation — so the plan string
    // carries no joins to gate; assert the SEMANTIC scale property
    // instead: 4 trajectory rows, nodes/edges nonincreasing per peel
    val rows = SparkEntry.queries("graph_kcore")(spark, LocalSpark.sf)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 4, rows.mkString(","))
    val nodes = rows.map(_.getLong(1)); val edges = rows.map(_.getLong(2))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a }, nodes.toSeq)
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a }, edges.toSeq)
    spark.catalog.clearCache()
  }

  test("join_lateral decorrelates to an aggregate plus equi-join, no per-row loop") {
    val p = plan("join_lateral")
    assert(!p.contains("CartesianProduct"),
      s"correlated lateral subquery must decorrelate:\n$p")
    assert(p.contains("HashAggregate"),
      s"decorrelation plans the inner aggregate once, keyed on c_nationkey:\n$p")
  }

  test("stats_ols2 fits from one aggregate pass with map-side partials") {
    val p = plan("stats_ols2")
    val exIdx = p.indexOf("Exchange")
    assert(exIdx >= 0 && p.lastIndexOf("HashAggregate") > exIdx,
      s"the 9 moment sums must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the scalar CTE chain must not shuffle-join:\n$p")
  }

  test("multimodal_audio_fp matches landmarks by equi-join, never all-pairs") {
    val p = plan("multimodal_audio_fp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"landmark matching must stay an fp equi-join:\n$p")
    spark.catalog.clearCache()
  }

  test("pipeline_rag: both retrieval legs are top-k takes, not global sorts") {
    val p = plan("pipeline_rag")
    // lex top-10, dense top-10, fused top-5 — three TakeOrdered cuts
    val takes = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(takes >= 3, s"expected >= 3 TakeOrderedAndProject, got $takes:\n$p")
    assert(!p.contains("CartesianProduct"), s"no corpus-scale cross join:\n$p")
  }

  test("text_decontaminate_fuzzy broadcasts the eval bands — corpus never shuffles for candidates") {
    val p = plan("text_decontaminate_fuzzy")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny eval band table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_pq_adc: codebook/ADC lookups broadcast; scan side never cross-joins") {
    val p = plan("ann_pq_adc")
    // cb (640 rows) joins into encode, qd (40 rows) into the ADC scan —
    // both must be broadcast hash joins, never a shuffle of the codes
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ is equi-join shaped end to end:\n$p")
    // final rank window runs on the top-10 cut, not the corpus
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must cut before the rank window:\n$p")
  }

  test("privacy_kanonymity: both granularities come from one grouping-sets pass") {
    val p = plan("privacy_kanonymity")
    // Expand feeds a single aggregate chain — two separate scans of
    // customer would double the 100 TB cost
    assert(p.contains("Expand"), s"expected grouping-sets Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 1,
      s"customer must be scanned once:\n$p")
  }

  test("text_span_dedup / text_c4_filters: hash-aggregate shapes, no cartesian") {
    Seq("text_span_dedup", "text_c4_filters").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join/aggregate shaped:\n$p")
      val exIdx = p.indexOf("Exchange")
      assert(exIdx >= 0 && p.indexOf("HashAggregate", exIdx) > exIdx,
        s"$q: no partial aggregate under the exchange:\n$p")
    }
  }

  test("stats_cohens_kappa / fleiss: single-scan single-aggregate shapes") {
    Seq("stats_cohens_kappa", "stats_fleiss_kappa").foreach { q =>
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).length == 1,
        s"$q: documents must be scanned once:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("recsys_als_step: the factor dimension broadcasts — ratings never sort-merge") {
    val p = plan("recsys_als_step")
    assert(!p.contains("SortMergeJoin"),
      s"window-derived factor table lost its broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_heaps_law: the fit runs on the materialized 10-point frame, not re-derived CTEs") {
    val p = plan("text_heaps_law")
    // the returned (fit) plan must be corpus-free: the single-statement
    // spelling re-expanded the bigram explode 2× per consumer under
    // CTE inlining (24 scans measured; 66 with scalar subqueries)
    assert(!p.contains("Scan parquet"),
      s"Heaps fit re-derives the corpus:\n$p")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p)
  }

  test("search_near_copies: query grams broadcast — the corpus never shuffles for candidates") {
    val p = plan("search_near_copies")
    assert(p.contains("BroadcastHashJoin"), s"query gram set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("agg_winsorized_mean: one window sort, no boundary self-join") {
    // the first spelling computed boundaries in one CTE and re-joined
    // it against the windowed ranks — evaluating the rank window TWICE
    // (4.6 s vs the trimmed sibling's 2.5 s at sf0.1). The winsorized
    // sum is trim·(lo+hi) + the trimmed kept-interval sum over ONE
    // sorted pass; pin that shape. (The pass prints as TWO Window
    // nodes — running `cum` and whole-partition `n` have different
    // frames so Spark can't fuse them — but both consume the SAME
    // sort/exchange, so the second node is a free extra sweep, not a
    // second shuffle. The old startsWith counter was vacuous: tree
    // lines are '+- ' prefixed, so it counted 0 regardless.)
    val p = plan("agg_winsorized_mean")
    assert(!p.contains("Join"), s"boundary self-join reintroduced:\n$p")
    val windows = "\\bWindow \\[".r.findAllIn(p).length
    assert(windows == 2,
      s"expected the cum+n window pair over one sort (found $windows):\n$p")
    // the two windows must share one partitioning: exactly one
    // hash-exchange on the group key alone (the rf,v partial-agg
    // exchange is keyed on both columns and doesn't match)
    val windowExchanges =
      "Exchange hashpartitioning\\(rf#\\d+, \\d+\\)".r.findAllIn(p).length
    assert(windowExchanges == 1,
      s"windows must share one exchange (found $windowExchanges):\n$p")
  }

  test("source_symlink_scan reads only the linked targets") {
    val df = SparkEntry.queries("source_symlink_scan")(spark, LocalSpark.sf)
    // 3 sources linked, one part file each (coalesce(1) fixture):
    // exactly 3 files, and no scan of the documents parquet itself
    val files = df.inputFiles
    assert(files.length == 3, files.mkString(","))
    assert(files.forall(f => f.contains("/drops/") && f.endsWith(".csv")),
      files.mkString(","))
  }
}
