package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CentroidMatrix, GraftFunctions}

/** Distributed k-means over the embeddings table (Lloyd's algorithm),
  * plus SemDeDup-style semantic dedup that uses the learned clusters as
  * the blocking key (Abbas et al., "SemDeDup", arXiv:2303.09540).
  *
  * Hive 1.2 has no clustering operator — like Dedup/Similarity this is
  * brief-mandated LLM-pipeline surface. The design is the classic
  * distributed-k-means shape (same as Spark MLlib's): centroids are
  * O(k·dim) and live on the driver, each iteration is
  *
  *   1. assignment — a NARROW map stage: centroids ship as ONE
  *      broadcast matrix (once per executor, no join, no shuffle) and
  *      every row picks argmax-cosine via a single codegen'd kernel
  *      expression (ArgMaxCosineD) — the plan holds one expression
  *      node regardless of k, so the k = 10⁴–10⁵ SemDeDup regime is
  *      a data-size change, not a plan-size change;
  *   2. update — one tiny shuffle: groupBy(cluster) with the bounded
  *      mergeable `vec_sum` aggregate (graft.functions.VecSumAgg), so
  *      map-side partials reduce a 100 TB scan to (#partitions × k)
  *      buffer rows before the exchange, then k rows to the driver.
  *
  * DETERMINISM (what makes the DuckDB oracle exact, not approximate):
  * float sums are order-dependent, and Spark's partitioning would make
  * centroid means nondeterministic. So coordinates are quantized first:
  * q(x) = floor(x·1e6) as a double. Each float coordinate times 1e6 is
  * an exact double (24-bit × 20-bit mantissas < 53), floor is exact, and
  * sums of integer-valued doubles are EXACT and order-independent while
  * |sum| < 2^53 (2^53/1e6 ≈ 9e9 rows per cluster at |x|≤1 — far above
  * any real partition). Every downstream value — centroid = sum/n/1e6,
  * cosine as a left fold in index order — is then a fixed IEEE op
  * sequence on identical inputs, so Spark and DuckDB (list_reduce folds
  * in the same order) agree BIT-FOR-BIT: assignments, ties (broken by
  * cluster id), and thresholds all match by construction, with no
  * near-tie validation needed.
  *
  * Init is deterministic too: seeds are the k lowest vec_ids (the same
  * public-data convention as Similarity's IVF pivots). Fixed iteration
  * count, no RNG anywhere.
  *
  * Assignment is by cosine while the update is the plain (un-normalized)
  * mean — this IS spherical k-means w.r.t. assignments: cosine to a
  * centroid is invariant under scaling the centroid, and the normalized
  * and un-normalized means point in the same direction, so normalizing
  * after each update would change no assignment (only the reported
  * magnitudes, which nothing consumes).
  */
object Clustering {

  /** Quantization scale: 6 decimal places. */
  private val Scale = 1e6
  /** Cluster count for the harness queries. Deliberately small for the
    * testdata; at 100 TB SemDeDup runs k in the 10⁴–10⁵ range so each
    * cluster (= dedup block) stays small — k is a parameter, the plan
    * shape does not change. */
  private val K = 8
  /** Expected cluster size the trainer holds as the corpus grows: the
    * effective k is max(requested k, ⌈n / TargetCluster⌉), so
    * within-cluster pair generation stays ~n·TargetCluster (linear)
    * instead of n²/k — with fixed k the sf1→sf10 decade measured 55×
    * (exponent 1.74, quadratic-class) on dedup_semantic_prune; scaling
    * k is how SemDeDup deployments keep blocks bounded. At the
    * driver's sf0.01 (n=200) and the bench's sf0.1 (n=2000) the
    * formula reduces to the requested k=8, so every oracle and spec is
    * byte-identical. At 10⁹+ rows the remaining n·k assignment cost
    * moves to a sampled trainer + centroid-index (IVF) assignment —
    * same plan shape, documented here as the next scale knob. */
  private val TargetCluster = 2000L
  /** Lloyd iterations (updates) before the final assignment. */
  private val Iters = 2

  /** Hard cap on the rows any per-cluster kernel may BUFFER on one
    * executor (16×TargetCluster ≈ 16 MB of 64-double vectors). The
    * trainer's kEff = ⌈n/TargetCluster⌉ keeps the EXPECTED cluster at
    * TargetCluster rows, but k-means offers no worst-case bound: a
    * duplicate-heavy corpus — exactly what dedup runs on — can
    * collapse into one centroid and concentrate a super-sized cluster
    * on a single task, the silent-OOM class at 100 TB. MatchPath /
    * hot-posting discipline applied here: fail LOUDLY naming the
    * cluster and its size instead. The kernels take the cap as a
    * parameter so the adversarial spec can shrink it; every query but
    * dedup_semantic_saltsplit runs this default. */
  private[graft] val MaxGroupDefault: Int = (16L * TargetCluster).toInt

  /** Salt split (the kernels' `saltSplit` parameter, default OFF): the
    * DEGRADATION path for duplicate-heavy corpora where a degenerate
    * k-means collapse would otherwise trip the buffer cap and kill the
    * job. When on, a cluster whose size exceeds the cap is split into
    * ⌈size/cap⌉ deterministic sub-groups before the
    * kernel (balanced row-number salt — see withClusterSalt).
    * Semantics per kernel:
    *  - semanticPairsFrom: pairs are scored WITHIN a sub-group only —
    *    a documented recall haircut (expected miss fraction ≈
    *    1 − 1/nsplit of an over-cap cluster's pairs); clusters at or
    *    under the cap get nsplit=1 and are bit-identical to the
    *    default path.
    *  - incrementalSemantic: EXACT, no haircut — only the
    *    buffered corpus side is salt-split; each batch row replicates
    *    to every sub-group and the per-vector verdicts re-aggregate
    *    (min dup_of / sum n_dups), so every batch row still sees the
    *    whole cluster.
    * Only dedup_semantic_saltsplit turns it on; every other query takes
    * the default (fail-loud) path.
    *
    * Per-cluster split count: ⌈size/cap⌉, min 1 — a ≤kEff-row
    * aggregate meant to be broadcast back onto the rows. */
  private def clusterSplits(df: DataFrame, cap: Int): DataFrame =
    df.groupBy(col("cluster")).agg(
      greatest(lit(1L),
        ceil(count(lit(1)).cast("double") / cap).cast("long")).as("__nsplit"))

  /** Deterministic BALANCED sub-group salt: (row_number within the
    * cluster by vec_id − 1) % nsplit, so every sub-group holds
    * ⌈size/nsplit⌉ ≤ cap rows EXACTLY — a hash salt has variance and
    * can push a sub-group back over the cap. The window buffers via
    * Spark's spillable row array, not a JVM object array, so it is not
    * itself an OOM hazard. */
  private def withClusterSalt(df: DataFrame, splits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.join(splits, Seq("cluster"))
      .withColumn("__salt",
        ((row_number().over(
            Window.partitionBy(col("cluster")).orderBy(col("vec_id"))) - 1)
          % col("__nsplit")).cast("int"))
  }

  /** Drain `it` into an array, refusing past `cap` rows with an error
    * that names the cluster — the guard for every `it.toArray` inside
    * a grouped kernel (see MaxGroupDefault). */
  private[graft] def boundedClusterArray[T: scala.reflect.ClassTag](
      kernel: String, cluster: Int, it: Iterator[T], cap: Int): Array[T] = {
    val buf = new scala.collection.mutable.ArrayBuffer[T]()
    while (it.hasNext) {
      if (buf.length >= cap)
        throw new IllegalStateException(
          s"$kernel: cluster $cluster exceeds the per-group buffer cap " +
            s"($cap rows) — a degenerate k-means collapse would OOM this " +
            "executor at scale. Raise k (the trainer's TargetCluster " +
            "discipline), or take the salt split if the skew is " +
            "intended; measure the skew as rows per cluster in the " +
            "cluster_kmeans_assign query's output.")
      buf += it.next()
    }
    buf.toArray
  }
  /** Within-cluster cosine threshold for semantic near-dup pairs (the
    * same 0.35 dedup_embedding_cosine uses, for comparability). */
  private val Tau = 0.35

  /** (vec_id, qe, ve): qe = floor(x·1e6) per coordinate (integer-valued
    * doubles — the exact-sum representation), ve = qe/1e6 (the working
    * vector all cosines are computed on). */
  private[operators] def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(Scale)).cast("double")).as("qe"))
      .withColumn("ve", transform(col("qe"), x => x / lit(Scale)))

  /** Cosine over double arrays: the codegen'd CosineSimD kernel, whose
    * per-accumulator op sequence equals a left fold in index order —
    * the same sequence DuckDB's list_reduce replication performs, so
    * the doubles match bit-for-bit (see class doc). The -2.0 guard
    * keeps the value total (a zero vector sorts below every real
    * cosine). Kernel, not aggregate/zip_with folds: those are
    * CodegenFallback, and the SemDeDup pair join scores O(|cluster|²)
    * pairs — the interpreted form was 9× slower in the round-5 bench. */
  private[operators] def cosD(a: Column, b: Column): Column =
    GraftFunctions.cosine_sim_d(a, b)

  /** Assignment: ONE broadcast of the k×dim centroid matrix consumed by
    * the codegen'd ArgMaxCosineD kernel — highest cos, ties to the
    * LOWEST cid (mirrors the oracle's ORDER BY cos DESC, cid). Narrow
    * stage; plan size is O(1) in k (a k-literal-structs spelling was a
    * plan/codegen bomb at large k — gated flat in PlanQualitySpec). */
  private def broadcastCents(q: DataFrame, cents: Seq[(Int, Array[Double])])
      : org.apache.spark.broadcast.Broadcast[CentroidMatrix] = {
    val sorted = cents.sortBy(_._1)
    q.sparkSession.sparkContext.broadcast(
      new CentroidMatrix(sorted.map(_._1).toArray, sorted.map(_._2).toArray))
  }

  private def assignBc(q: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[CentroidMatrix]): DataFrame =
    q.withColumn("best", GraftFunctions.argmax_cosine_d(col("ve"), bc))
      .select(col("vec_id"), col("qe"), col("ve"),
        col("best.cluster").as("cluster"), col("best.cos").as("cos"))

  /** Past this k the flat kernel's n·k per-assignment cost is the
    * measured scale killer (dedup_semantic exponent 1.22, _prune 1.36
    * across the sf1→sf10 decade once kEff tracks corpus size) and
    * assignment routes through the two-level IVF kernel: probe the
    * top-4 of ≈√k centroid groups — n·√k total, the SemDeDup
    * deployment discipline. 128 > every oracle/spec kEff (the driver's
    * sf0.01 trains k=8, the sf0.1 bench k=100), so all oracled results
    * stay byte-identical; the IVF path is the bench-only large-k
    * regime, and `probes ≥ groups` would reproduce the flat result
    * bit-for-bit (pinned in ClusteringSpec). */
  private val IvfThreshold = 128
  private val IvfProbes = 4

  private def ivfBroadcast(q: DataFrame, cents: Seq[(Int, Array[Double])])
      : org.apache.spark.broadcast.Broadcast[graft.functions.IvfIndex] = {
    val sorted = cents.sortBy(_._1)
    val cm = new CentroidMatrix(
      sorted.map(_._1).toArray, sorted.map(_._2).toArray)
    val g = math.ceil(math.sqrt(cents.size.toDouble)).toInt
    q.sparkSession.sparkContext.broadcast(
      new graft.functions.IvfIndex(cm, g, IvfProbes))
  }

  private def assignIvfBc(q: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.IvfIndex])
      : DataFrame =
    q.withColumn("best", GraftFunctions.argmax_cosine_ivf_d(col("ve"), bc))
      .select(col("vec_id"), col("qe"), col("ve"),
        col("best.cluster").as("cluster"), col("best.cos").as("cos"))

  /** One assignment pass with an ephemeral broadcast (flat or IVF by
    * the k gate above), destroyed as soon as `f` returns — the Lloyd
    * iteration's discipline, shared by every consumer. */
  private def withAssigned[T](q: DataFrame, cents: Seq[(Int, Array[Double])],
                              destroyAfter: Boolean)(f: DataFrame => T): T =
    if (cents.size <= IvfThreshold) {
      val bc = broadcastCents(q, cents)
      try f(assignBc(q, bc)) finally if (destroyAfter) bc.destroy()
    } else {
      val bc = ivfBroadcast(q, cents)
      try f(assignIvfBc(q, bc)) finally if (destroyAfter) bc.destroy()
    }

  private def assign(q: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    withAssigned(q, cents, destroyAfter = false)(identity)

  /** Update: one k-group shuffle (vec_sum partials merge map-side), k
    * rows to the driver. Exact integer sums ⇒ centroid = sum/n/1e6 is
    * the same double everywhere. Empty clusters simply drop out. */
  private def update(assigned: DataFrame): Seq[(Int, Array[Double])] =
    assigned.groupBy(col("cluster"))
      // denominator counts the same rows vec_sum accumulates (count of
      // qe, not count(*)): a null embedding row would otherwise deflate
      // its centroid silently — and the oracle's COUNT could not catch
      // it because SQL SUM skips nulls the same way
      .agg(GraftFunctions.vec_sum(col("qe")).as("vs"), count(col("qe")).as("n"))
      .collect()
      .map { r =>
        val n = r.getLong(2)
        (r.getInt(0), r.getSeq[Double](1).map(v => v / n / Scale).toArray)
      }.sortBy(_._1).toSeq

  /** Train-once memo: a production pipeline trains a model ONCE and
    * reuses it; four harness queries (cluster_kmeans_assign,
    * dedup_semantic, sample_coreset, dedup_incremental_semantic) need
    * the same converged centroids, and before this memo each repeated
    * the full Lloyd driver loop. Keyed per SparkSession (weakly, the
    * Tables.register pattern — sessions stay collectable) by the full
    * training configuration; any change of sfDir/k/iters/predicate
    * retrains. Centroids are O(k·dim) driver state — tiny. */
  private val models =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[(String, Int, Int, String),
          Seq[(Int, Array[Double])]]]())

  /** Test hook: drop this session's trained models (e.g. after a spec
    * swaps the embeddings view) so the next call retrains. */
  def invalidateModels(spark: SparkSession): Unit = models.remove(spark)

  /** Run Lloyd's for `iters` updates over the rows satisfying
    * `corpusPred` (seeds = the k lowest qualifying vec_ids — on the
    * full table identical to `vec_id < k`); returns the final
    * centroids, memoized per (session, sfDir, k, iters, predicate).
    * A non-trivial predicate is the incremental scenario: the model is
    * learned on the EXISTING corpus only, so a new batch can be
    * assigned under frozen centroids. */
  def kmeansCentroids(spark: SparkSession, sfDir: String,
                      k: Int = K, iters: Int = Iters,
                      corpusPred: Column = lit(true)): Seq[(Int, Array[Double])] = {
    val cache = models.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty)
    cache.getOrElseUpdate((sfDir, k, iters, corpusPred.toString),
      trainKmeans(spark, sfDir, k, iters, corpusPred))
  }

  private def trainKmeans(spark: SparkSession, sfDir: String,
                          k: Int, iters: Int,
                          corpusPred: Column): Seq[(Int, Array[Double])] = {
    Tables.register(spark, sfDir)
    val q = quantized(spark.table("embeddings")).where(corpusPred).persist()
    try {
      // hold expected cluster size at TargetCluster as the corpus
      // grows (see the constant's doc) — reduces to the requested k at
      // oracle/spec scale factors
      val kEff = math.max(k.toLong,
        (q.count() + TargetCluster - 1) / TargetCluster).toInt
      val seeds = q.orderBy(col("vec_id")).limit(kEff).select(col("vec_id"), col("ve"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
      require(seeds.size == kEff, s"k-means: expected $kEff seed vectors, got ${seeds.size}")
      var cents = seeds
      var i = 0
      while (i < iters) {
        // update() collects eagerly, so the iteration's broadcast is
        // dead the moment it returns — destroy it instead of letting
        // a k×dim matrix per iteration pile up in the BlockManager
        // (tens of MB each at the documented SemDeDup k regime).
        // withAssigned routes large-k iterations through the IVF
        // kernel too — training pays the same n·k as assignment
        // otherwise.
        cents = withAssigned(q, cents, destroyAfter = true)(update)
        i += 1
      }
      cents
    } finally q.unpersist()
  }

  /** Final assignment under the converged centroids (fresh scan — the
    * iteration cache is released by then). */
  def kmeansAssign(spark: SparkSession, sfDir: String,
                   k: Int = K, iters: Int = Iters): DataFrame = {
    val cents = kmeansCentroids(spark, sfDir, k, iters)
    assign(quantized(spark.table("embeddings")), cents)
  }

  /** Assign arbitrary (vec_id, embedding) rows under FROZEN centroids.
    * The quantize + argmax projection is fully narrow, so the same call
    * serves a batch DataFrame or a Structured Streaming micro-batch
    * unchanged (StreamingSpec's semantic-dedup twin) — the continuous
    * arrival path of dedup_incremental_semantic. */
  def assignUnderCentroids(df: DataFrame,
                           cents: Seq[(Int, Array[Double])]): DataFrame =
    assign(quantized(df), cents)

  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // vec_id → cluster id + cosine to its centroid after Iters updates.
    "cluster_kmeans_assign" -> ((spark, sfDir) => {
      kmeansAssign(spark, sfDir)
        .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cos"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup: semantic near-dup pairs with the learned cluster as the
    // blocking key — the no-metadata-blocking-label form of
    // dedup_embedding_cosine that scales (cluster = bucket; candidate
    // pairs are within-cluster only, never all-pairs). Blocking trades
    // recall BY DESIGN: only co-clustered pairs are candidates.
    // Measured on the testdata (ClusteringSpec): recall 0.33 at τ=0.35
    // vs the 1/k=0.125 co-cluster chance — 2.6× above chance, but the
    // synthetic embeddings contain no true near-dups (zero pairs at
    // cos ≥ 0.5), which is exactly the regime SemDeDup is NOT for. For
    // recall-1.0 requirements use dedup_embedding_cosine (labeled
    // blocks) or dedup_embedding_lsh (multi-table LSH).
    "dedup_semantic" -> ((spark, sfDir) => {
      semanticPairs(spark, sfDir)
        .select(col("vec_a"), col("vec_b"), col("cluster"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // The full SemDeDup output: connected components over the semantic
    // pair graph (alternating large-star/small-star — the same O(log n)
    // machinery as dedup_clusters), keep = the min-id representative of
    // each component, singletons kept by definition. Every vector is a
    // row with its verdict — the auditable pruned-corpus form a
    // training pipeline actually consumes.
    // The model itself, exported as data: (cluster, dimension, value)
    // rows of the final centroids — what a production pipeline persists
    // so later batches (dedup_incremental_semantic, the streaming twin)
    // can assign under FROZEN centroids without re-clustering. k×dim
    // rows, driver-built (the centroids are already driver state).
    "cluster_centroids" -> ((spark, sfDir) => {
      val cents = kmeansCentroids(spark, sfDir)
      import spark.implicits._
      cents.flatMap { case (cid, c) =>
        c.iterator.zipWithIndex.map { case (v, i) => (cid, i + 1, v) }
      }.toDF("cluster", "d", "value")
        .select(col("cluster"), col("d"), round(col("value"), 9).as("value"))
        .orderBy(col("cluster"), col("d"))
    }),

    // Coreset sampling: the N vectors closest to their centroid per
    // cluster — the representative-subset primitive behind dataset
    // distillation / diversity-budgeted training mixes (cluster-then-
    // select, the same shape SemDeDup uses for pruning). Per-cluster
    // rank, no global sort; at 100 TB this is the k-means assignment
    // plus one window over k partitions.
    "sample_coreset" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("cos").desc, col("vec_id"))
      kmeansAssign(spark, sfDir)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 8)
        .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cos"),
          col("rank"))
        .orderBy(col("cluster"), col("rank"))
    }),

    // Incremental SemDeDup — the production arrival path: centroids are
    // learned on the EXISTING corpus only (vec_id % 5 <> 4; an
    // SF-proportional 80/20 split), then frozen; the new batch is
    // assigned under them (pure narrow map — at 100 TB the batch never
    // re-clusters the corpus) and checked for semantic duplicates
    // against corpus members of its cluster only. Every batch vector is
    // a row: its cluster, its lowest-id corpus duplicate (NULL if
    // none), how many corpus dups, and an is_new verdict.
    "dedup_incremental_semantic" -> ((spark, sfDir) => incrementalSemantic(spark, sfDir)),

    // The salt-split degradation path, exercised END-TO-END: the path
    // most likely to run in production — duplicate-heavy corpora
    // collapsing k-means — must not live only in ScalaTest. Degenerate
    // over-cap fixture built in-query: EVERY vector in one cluster with
    // a 64-row cap, so nsplit = ⌈n/64⌉ ≫ 1 and the kernel runs on
    // row-number-salted sub-groups; the oracle replicates the salt
    // EXACTLY (same row_number-by-vec_id arithmetic), making the
    // documented recall haircut itself the pinned, oracled semantics.
    "dedup_semantic_saltsplit" -> ((spark, sfDir) => {
      graft.Tables.register(spark, sfDir)
      val af = quantized(spark.table("embeddings"))
        .withColumn("cluster", lit(0))
      semanticPairsFrom(af, cap = 64, saltSplit = true)
        .select(col("vec_a"), col("vec_b"), col("cluster"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    "dedup_semantic_prune" -> ((spark, sfDir) => {
      // one Lloyd run serves both the pair generation and the audit
      // join (the driver iteration is eager — running kmeansAssign
      // twice would repeat every assignment/update job)
      val af = kmeansAssign(spark, sfDir)
      val pairs = semanticPairsFrom(af)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val (labels, _) = Dedup.connectedComponents(spark, pairs)
      af.select(col("vec_id"), col("cluster"))
        .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .withColumn("comp", coalesce(col("comp"), col("vec_id")))
        .select(col("vec_id"), col("cluster"), col("comp"),
          (col("vec_id") === col("comp")).cast("int").as("kept"))
        .orderBy(col("vec_id"))
    })
  )

  /** dedup_incremental_semantic's plan under an explicit per-group
    * buffer `cap` and salt split (see clusterSplits); the query runs
    * the defaults. */
  private[graft] def incrementalSemantic(spark: SparkSession, sfDir: String,
                                         cap: Int = MaxGroupDefault,
                                         saltSplit: Boolean = false): DataFrame = {
    require(cap >= 1, s"cap must be >= 1 (got $cap)")
    // batch-vs-corpus matching as a per-cluster COGROUP kernel, same
    // materialization argument as semanticPairsFrom: the cluster
    // equi-join spelling built |batch|·|cluster| ~1 KB rows just to
    // aggregate them away (48.8 s at sf10); the kernel holds one
    // cluster's corpus arrays (bounded by the trainer's
    // TargetCluster) and streams the batch through it, emitting ONE
    // row per batch vector. Folds identical to cosD — bit-exact vs
    // the DuckDB oracle. min-id/count accumulators are order-free.
    import spark.implicits._
    val corpusPred = col("vec_id") % 5 =!= 4
    val cents = kmeansCentroids(spark, sfDir, K, Iters, corpusPred)
    val all = assign(quantized(spark.table("embeddings")), cents)
      .select(col("cluster"), col("vec_id"), col("ve"))
    val tau = Tau
    // the batch-vs-corpus matching kernel, shared by the default
    // (group = cluster) and salt-split (group = corpus sub-group,
    // batch replicated — EXACT, see clusterSplits) paths
    val kernel: (Int, Iterator[(Int, Long, Array[Double])],
                      Iterator[(Int, Long, Array[Double])]) => Iterator[(Long, Int, Option[Long], Long)] =
      (cluster, bIt, cIt) => {
        // corpus side is the only buffered side (the batch streams);
        // cap it — see MaxGroupDefault
        val corp =
          boundedClusterArray("dedup_incremental_semantic", cluster, cIt, cap)
        val m = corp.length
        val cids = new Array[Long](m)
        val cvs = new Array[Array[Double]](m)
        val cna = new Array[Double](m)
        val csq = new Array[Double](m)
        var i = 0
        while (i < m) {
          cids(i) = corp(i)._2
          val v = corp(i)._3; cvs(i) = v
          var s = 0.0; var j = 0
          while (j < v.length) { s += v(j) * v(j); j += 1 }
          cna(i) = s; csq(i) = math.sqrt(s)
          i += 1
        }
        bIt.map { case (_, vid, vb) =>
          var nb = 0.0; var j = 0
          while (j < vb.length) { nb += vb(j) * vb(j); j += 1 }
          val sqb = math.sqrt(nb)
          var n = 0L; var dup = Long.MaxValue
          var c = 0
          while (c < m) {
            val vc = cvs(c)
            var dot = 0.0; var d = 0
            while (d < vc.length) { dot += vb(d) * vc(d); d += 1 }
            val cos = if (nb * cna(c) == 0.0) -2.0
                      else dot / (sqb * csq(c))
            if (cos >= tau) { n += 1; if (cids(c) < dup) dup = cids(c) }
            c += 1
          }
          (vid, cluster, if (n > 0) Some(dup) else None, n)
        }
      }
    val batch = all.where(!corpusPred)
    val corpus = all.where(corpusPred)
    val verdicts =
      if (!saltSplit) {
        def keyed(df: DataFrame) =
          df.as[(Int, Long, Array[Double])].groupByKey(_._1)
        keyed(batch).cogroup(keyed(corpus))(kernel)
          .toDF("vec_id", "cluster", "dup_of", "n_dups")
      } else {
        // exact salt-split: only the BUFFERED corpus side is split;
        // every batch row replicates to each sub-group and the
        // per-vector verdicts re-aggregate, so each batch row still
        // sees its whole cluster (no recall haircut here)
        val splits = broadcast(clusterSplits(corpus, cap))
        val corpusS = withClusterSalt(corpus, splits)
          .select(col("cluster"), col("__salt"), col("vec_id"), col("ve"))
        val batchS = batch.join(splits, Seq("cluster"), "left")
          .withColumn("__salt", explode(sequence(lit(0),
            (coalesce(col("__nsplit"), lit(1L)) - 1).cast("int"))))
          .select(col("cluster"), col("__salt"), col("vec_id"), col("ve"))
        def keyedS(df: DataFrame) =
          df.as[(Int, Int, Long, Array[Double])].groupByKey(r => (r._1, r._2))
        keyedS(batchS).cogroup(keyedS(corpusS)) {
          (k: (Int, Int), bIt: Iterator[(Int, Int, Long, Array[Double])],
           cIt: Iterator[(Int, Int, Long, Array[Double])]) =>
            kernel(k._1, bIt.map(r => (r._1, r._3, r._4)),
                         cIt.map(r => (r._1, r._3, r._4)))
        }.toDF("vec_id", "cluster", "dup_of", "n_dups")
          .groupBy(col("vec_id"), col("cluster"))
          .agg(min(col("dup_of")).as("dup_of"),
               sum(col("n_dups")).as("n_dups"))
      }
    verdicts
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("n_dups"), col("dup_of").isNull.cast("int").as("is_new"))
      .orderBy(col("vec_id"))
  }

  /** Within-cluster near-dup pairs (vec_a < vec_b, cosine ≥ Tau) under
    * the final k-means assignment — the shared core of dedup_semantic
    * and dedup_semantic_prune. */
  private def semanticPairs(spark: SparkSession, sfDir: String): DataFrame =
    semanticPairsFrom(kmeansAssign(spark, sfDir))

  private[graft] def semanticPairsFrom(afIn: DataFrame,
                                       cap: Int = MaxGroupDefault,
                                       saltSplit: Boolean = false): DataFrame = {
    require(cap >= 1, s"cap must be >= 1 (got $cap)")
    // Within-cluster scoring as a per-cluster kernel (flatMapGroups),
    // NOT a cluster self-join: the relational spelling materializes
    // O(Σ|c|²) joined rows each carrying TWO 64-double arrays (~1 KB a
    // pair — the sf10 bench measured 263 s, ~100% of it row
    // materialization bandwidth for 2·10⁸ pairs whose cosine math is
    // ~1 s of flops). The grouped kernel shuffles O(n) rows once on
    // the cluster key, holds one cluster's primitive arrays
    // (|c|·dim·8 B ≈ 1 MB at the TargetCluster the trainer enforces —
    // bounded executor state at any corpus size), and emits ONLY the
    // pairs that clear Tau. Spark-first tiering note: this is the
    // documented (d)-tier mapGroups case — no built-in operator
    // expresses "score all pairs inside a group without materializing
    // them as rows". Cosine fold order is identical to the CosineSimD
    // kernel (independent left folds for dot/na/nb in index order,
    // the -2.0 zero-norm guard), so values — and the DuckDB oracle
    // replication — stay bit-for-bit. Pair order: members ascending by
    // vec_id, i<j loops ⇒ deterministic output set regardless of
    // partitioning.
    val spark = afIn.sparkSession
    import spark.implicits._
    val tau = Tau
    // the per-group scoring kernel, shared by the default (group =
    // cluster) and salt-split (group = cluster sub-group) paths
    val kernel: (Int, Iterator[(Int, Long, Array[Double])]) => Iterator[(Long, Long, Int, Double)] =
      (cluster, it) => {
        val rows =
          boundedClusterArray("semanticPairsFrom", cluster, it, cap).sortBy(_._2)
        val m = rows.length
        val ids = new Array[Long](m)
        val vs = new Array[Array[Double]](m)
        val sq = new Array[Double](m)
        val na = new Array[Double](m)
        var i = 0
        while (i < m) {
          ids(i) = rows(i)._2
          val v = rows(i)._3
          vs(i) = v
          var s = 0.0; var j = 0
          while (j < v.length) { s += v(j) * v(j); j += 1 }
          na(i) = s; sq(i) = math.sqrt(s)
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
        i = 0
        while (i < m) {
          val vi = vs(i)
          var j2 = i + 1
          while (j2 < m) {
            val vj = vs(j2)
            var dot = 0.0; var d = 0
            while (d < vi.length) { dot += vi(d) * vj(d); d += 1 }
            val cos = if (na(i) * na(j2) == 0.0) -2.0
                      else dot / (sq(i) * sq(j2))
            if (cos >= tau) out += ((ids(i), ids(j2), cluster, cos))
            j2 += 1
          }
          i += 1
        }
        out.iterator
      }
    val base = afIn.select(col("cluster"), col("vec_id"), col("ve"))
    val pairs =
      if (!saltSplit)
        base.as[(Int, Long, Array[Double])]
          .groupByKey(_._1)
          .flatMapGroups(kernel)
      else
        // salt-split degradation path (see clusterSplits): over-cap
        // clusters score pairs within row-number-salted sub-groups only
        // (balanced deterministic salt — see withClusterSalt; a hash
        // salt has variance and can land a sub-group back over the cap)
        withClusterSalt(base, broadcast(clusterSplits(base, cap)))
          .select(col("cluster"), col("__salt"), col("vec_id"), col("ve"))
          .as[(Int, Int, Long, Array[Double])]
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (k: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double])]) =>
            kernel(k._1, it.map(r => (r._1, r._3, r._4)))
          }
    pairs.toDF("vec_a", "vec_b", "cluster", "cos")
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB cosine replication: identical fold order as cosD. Shared
    * with Similarity's quantized-ANN oracle (same CosineSimD kernel). */
  private[operators] def cosSql(a: String, b: String): String = {
    def na(v: String) =
      s"list_reduce(list_prepend(0.0, list_transform($v, x -> x * x)), (x, y) -> x + y)"
    val dot = s"""list_reduce(list_prepend(0.0,
        list_transform(range(1, 65), i -> $a[i] * $b[i])), (x, y) -> x + y)"""
    s"""CASE WHEN (${na(a)}) * (${na(b)}) = 0 THEN -2.0
        ELSE ($dot) / (sqrt(${na(a)}) * sqrt(${na(b)})) END"""
  }

  /** The full unrolled k-means CTE chain: q (quantized vectors), c0
    * (seed centroids), per-iteration assignment aᵢ / update cᵢ, ending
    * in `af(vec_id, cid, cos)` — the final assignment. Exactly mirrors
    * kmeansCentroids + assign (see the determinism note in the class
    * doc: identical IEEE op order ⇒ bit-identical values). */
  private[operators] def kmeansCtes(k: Int, iters: Int,
                                    corpusPred: String = "TRUE"): String = {
    def assignCte(s: String, a: String, cents: String, src: String,
                  mat: String = "") = s"""
      $s AS (
        SELECT q.vec_id, c.cid, ${cosSql("q.ve", "c.ce")} AS cos
        FROM $src q CROSS JOIN $cents c
      ), $a AS $mat (
        SELECT vec_id, cid, cos FROM (
          SELECT vec_id, cid, cos,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid) AS rn
          FROM $s) WHERE rn = 1
      )"""
    def updateCte(a: String, u: String, c: String) = s"""
      $u AS (
        SELECT a.cid, g.d, SUM(q.qe[g.d]) AS s, COUNT(q.qe) AS n
        FROM $a a JOIN qc q USING (vec_id) CROSS JOIN range(1, 65) g(d)
        GROUP BY a.cid, g.d
      ), $c AS (
        SELECT cid, LIST(s / n / 1000000.0 ORDER BY d) AS ce FROM $u GROUP BY cid
      )"""
    // Lloyd's iterates over the corpus rows (qc) only; the final
    // assignment `af` covers ALL rows — on the full table (corpusPred
    // TRUE) the two coincide, which keeps the established oracles
    // byte-stable
    val iterCtes = (1 to iters).map { i =>
      assignCte(s"s$i", s"a$i", s"c${i - 1}", "qc") + "," +
        updateCte(s"a$i", s"u$i", s"c$i")
    }.mkString(",")
    s"""
      q0 AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 1000000.0) AS DOUBLE)) AS qe
        FROM embeddings
      ), q AS MATERIALIZED (
        -- MATERIALIZED: q and af are referenced by several consumers
        -- (pair joins reference q twice; the prune oracle's recursive
        -- CC references the af-derived edge list once per iteration) —
        -- without the hint DuckDB may re-inline the WHOLE kmeans chain
        -- per reference, which turned the sf1 prune oracle from
        -- minutes into CPU-hours (r13 sweep). Values are unchanged:
        -- materialization fixes evaluation count, not arithmetic.
        SELECT vec_id, qe, list_transform(qe, x -> x / 1000000.0) AS ve FROM q0
      ), qc AS MATERIALIZED (
        SELECT * FROM q WHERE $corpusPred
      ), c0 AS (
        -- seed count mirrors the trainer's kEff = max(k, ceil(n/TargetCluster))
        -- with the SAME integer arithmetic ((n + T-1) // T), so the oracle
        -- tracks the corpus-size-dependent k at ANY scale factor (the r13
        -- sf1 sweep caught the hardcoded LIMIT k diverging once n > k*T)
        SELECT vec_id AS cid, ve AS ce FROM (
          SELECT vec_id, ve,
                 ROW_NUMBER() OVER (ORDER BY vec_id) AS graft_rn,
                 COUNT(*) OVER () AS graft_n
          FROM qc)
        WHERE graft_rn <= greatest($k, (graft_n + ${TargetCluster - 1}) // $TargetCluster)
      ),$iterCtes,${assignCte("sf", "af", s"c$iters", "q", "MATERIALIZED")}"""
  }

  val oracle: Map[String, String] = Map(
    "cluster_kmeans_assign" -> s"""
      WITH ${kmeansCtes(K, Iters)}
      SELECT vec_id, CAST(cid AS INT) AS cluster, ROUND(cos, 6) AS cos
      FROM af ORDER BY vec_id""",

    "dedup_semantic" -> s"""
      WITH ${kmeansCtes(K, Iters)}, pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(a.cid AS INT) AS cluster,
               ${cosSql("qa.ve", "qb.ve")} AS cos
        FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN q qa ON qa.vec_id = a.vec_id
        JOIN q qb ON qb.vec_id = b.vec_id
      )
      SELECT vec_a, vec_b, cluster, ROUND(cos, 6) AS cos
      FROM pairs WHERE cos >= $Tau
      ORDER BY vec_a, vec_b""",

    // the final-centroid CTE (c$Iters) unrolled to (cluster, d, value)
    "cluster_centroids" -> s"""
      WITH ${kmeansCtes(K, Iters)}
      SELECT CAST(cid AS INT) AS cluster, CAST(g.d AS INT) AS d,
             ROUND(ce[g.d], 9) AS value
      FROM c$Iters CROSS JOIN range(1, 65) g(d)
      ORDER BY cluster, d""",

    // per-cluster top-8 by cosine to centroid over the same chain
    "sample_coreset" -> s"""
      WITH ${kmeansCtes(K, Iters)}
      SELECT vec_id, CAST(cid AS INT) AS cluster, ROUND(cos, 6) AS cos, rank
      FROM (
        SELECT vec_id, cid, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY cid
                 ORDER BY cos DESC, vec_id) AS INT) AS rank
        FROM af)
      WHERE rank <= 8
      ORDER BY cluster, rank""",

    // corpus-trained chain (qc = 80% split), batch assigned under the
    // frozen centroids, lowest-id corpus match per batch vector
    "dedup_incremental_semantic" -> s"""
      WITH ${kmeansCtes(K, Iters, "vec_id % 5 <> 4")}, b AS (
        SELECT vec_id, cid FROM af WHERE vec_id % 5 = 4
      ), corp AS (
        SELECT vec_id, cid FROM af WHERE vec_id % 5 <> 4
      ), m AS (
        SELECT b.vec_id, MIN(corp.vec_id) AS dup_of, COUNT(*) AS n_dups
        FROM b JOIN corp ON b.cid = corp.cid
        JOIN q qa ON qa.vec_id = b.vec_id
        JOIN q qb ON qb.vec_id = corp.vec_id
        WHERE (${cosSql("qa.ve", "qb.ve")}) >= $Tau
        GROUP BY b.vec_id
      )
      SELECT b.vec_id, CAST(b.cid AS INT) AS cluster, m.dup_of,
             COALESCE(m.n_dups, 0) AS n_dups,
             CAST(CASE WHEN m.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS is_new
      FROM b LEFT JOIN m USING (vec_id)
      ORDER BY vec_id""",

    // salt replication: same quantization as the kmeans chain, salt =
    // (row_number by vec_id − 1) % ⌈n/64⌉ (single cluster ⇒ the global
    // row_number IS the within-cluster one), pairs within a sub-group
    // only — the haircut semantics pinned as values
    "dedup_semantic_saltsplit" -> s"""
      WITH q0 AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 1000000.0) AS DOUBLE)) AS qe
        FROM embeddings
      ), s AS MATERIALIZED (
        SELECT vec_id, list_transform(qe, x -> x / 1000000.0) AS ve,
               CAST((ROW_NUMBER() OVER (ORDER BY vec_id) - 1)
                    % ((COUNT(*) OVER () + 63) // 64) AS INT) AS salt
        FROM q0
      )
      SELECT vec_a, vec_b, cluster, ROUND(cos, 6) AS cos FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, 0 AS cluster,
               ${cosSql("a.ve", "b.ve")} AS cos
        FROM s a JOIN s b ON a.salt = b.salt AND a.vec_id < b.vec_id)
      WHERE cos >= $Tau
      ORDER BY vec_a, vec_b""",

    // the pair CTE above + the recursive-CTE CC labeling dedup_clusters
    // established (comp = MIN reachable id), singleton vectors kept
    "dedup_semantic_prune" -> s"""
      WITH RECURSIVE ${kmeansCtes(K, Iters)}, pairs AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN q qa ON qa.vec_id = a.vec_id
        JOIN q qb ON qb.vec_id = b.vec_id
        WHERE (${cosSql("qa.ve", "qb.ve")}) >= $Tau
      ), edges AS MATERIALIZED (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL SELECT vec_b, vec_a FROM pairs
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      )
      SELECT a.vec_id, CAST(a.cid AS INT) AS cluster,
             COALESCE(l.comp, a.vec_id) AS comp,
             CAST(CASE WHEN a.vec_id = COALESCE(l.comp, a.vec_id)
                  THEN 1 ELSE 0 END AS INT) AS kept
      FROM af a LEFT JOIN lab l ON l.node = a.vec_id
      ORDER BY a.vec_id"""
  )
}
