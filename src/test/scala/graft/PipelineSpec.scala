package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.operators._

/** Recall/precision checks for the probabilistic pipeline operators
  * (the ones with no SQL oracle) against brute-force ground truth at
  * sf0.001, plus determinism of the multimodal stub pipeline. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark
  import spark.implicits._

  test("dedup_minhash_lsh finds the planted near-duplicates (recall vs exact jaccard)") {
    Tables.register(spark, LocalSpark.sf)
    // ground truth: all-pairs 3-shingle jaccard >= 0.8 (brute force is
    // fine at 500 docs)
    val truth = spark.sql("""
      WITH t AS (SELECT doc_id, FILTER(SPLIT(LOWER(text),' '), w -> w <> '') toks FROM documents),
      sh AS (SELECT doc_id, ARRAY_DISTINCT(TRANSFORM(SEQUENCE(0, SIZE(toks)-3),
               i -> CONCAT_WS(' ', SLICE(toks, i+1, 3)))) grams FROM t WHERE SIZE(toks) >= 3)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE SIZE(ARRAY_INTERSECT(a.grams, b.grams)) / SIZE(ARRAY_UNION(a.grams, b.grams)) >= 0.8
    """).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val found = Dedup.queries("dedup_minhash_lsh")(spark, LocalSpark.sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(truth.nonEmpty, "test corpus should contain planted near-duplicates")
    // precision is exact by construction (final filter is exact jaccard),
    // and the driver oracle ASSUMES recall is exactly 1.0 on the active
    // testdata (the 1-(1-j^4)^16 >= 0.9996 bound is probabilistic, not a
    // guarantee) — so demand full equality, not a recall threshold: if a
    // testdata regeneration ever breaks the assumption, this fails with a
    // clear message instead of an opaque driver pair-set diff
    assert(found == truth,
      s"LSH recall/precision must be exactly 1.0 for the DuckDB oracle to " +
        s"be valid — missed=${truth.diff(found).take(5)} extra=${found.diff(truth).take(5)}")
  }

  /** Exact truth-vs-LSH pair-set equality at `sfDir` — the validity
    * condition for the dedup_minhash_lsh (and dedup_incremental) DuckDB
    * oracles. Truth via inverted-index join (all-pairs product would be
    * 12.5M at 5000 docs; postings are fine at both SFs). */
  private def assertMinhashOracleValid(sfDir: String): Unit = {
    try {
      Tables.register(spark, sfDir)
      graft.functions.GraftFunctions.register(spark)
      val truth = spark.sql("""
        WITH t AS (SELECT doc_id, FILTER(SPLIT(LOWER(text),' '), w -> w <> '') toks FROM documents),
        sh AS (SELECT doc_id, ARRAY_DISTINCT(TRANSFORM(SEQUENCE(0, SIZE(toks)-3),
                 i -> CONCAT_WS(' ', SLICE(toks, i+1, 3)))) grams FROM t WHERE SIZE(toks) >= 3),
        inv AS (SELECT doc_id, SIZE(grams) n, gram FROM sh LATERAL VIEW EXPLODE(grams) g AS gram),
        prs AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) ni,
                       ANY_VALUE(a.n) na, ANY_VALUE(b.n) nb
                FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
        SELECT da, db FROM prs WHERE ni / (na + nb - ni) >= 0.8
      """).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty)
      assert(found == truth,
        s"oracle assumption broken at $sfDir: missed=${truth.diff(found).take(5)} " +
          s"extra=${found.diff(truth).take(5)}")
    } finally {
      // leave the shared session back on the spec-wide testdata even if
      // the assertion fails — later tests share this SparkSession
      Tables.register(spark, LocalSpark.sf)
    }
  }

  test("dedup_minhash_lsh oracle validity: recall exactly 1.0 at the driver's sf0.01") {
    assertMinhashOracleValid("/root/testdata/sf0.01")
  }

  test("dedup_minhash_lsh oracle validity: recall exactly 1.0 at the bench's sf0.1") {
    assertMinhashOracleValid("/root/testdata/sf0.1")
  }

  test("ann_quantized_topk: int8 recall@3 vs the float path at the driver's sf0.01") {
    val sf = "/root/testdata/sf0.01"
    def pairs(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = pairs("ann_quantized_topk")
    val float = pairs("ann_cosine_topk")
    assert(float.size == 15 && quant.size == 15)
    // int8 reconstruction perturbs cosines by ~1e-3; at most one of the
    // 15 neighbors flips on this data — a drop below 14/15 means the
    // quantize/reconstruct path regressed, not "the data changed"
    val recall = (quant & float).size
    assert(recall >= 14, s"quantized recall dropped: $recall/15 — $quant vs $float")
  }

  test("dedup_clusters equals local union-find over the same pairs") {
    Tables.register(spark, LocalSpark.sf)
    val pairs = Dedup.queries("dedup_minhash_lsh")(spark, LocalSpark.sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference: classic union-find on the driver
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(n => n -> find(n)).toMap
    val got = Dedup.queries("dedup_clusters")(spark, LocalSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => t._1 -> t._2).toMap == expect)
    // csize agrees with the cluster's cardinality
    val sizes = expect.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(got.forall(t => sizes(t._2) == t._3))
  }

  test("curation_dedup_aware_sample builds in a session that registered no tables") {
    // a query registers what it reads: no earlier query's registration
    // may be needed for `documents` to resolve
    val fresh = spark.newSession()
    val rows = Dedup.queries("curation_dedup_aware_sample")(fresh, LocalSpark.sf).collect()
    val docs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(docs == spark.read.parquet(s"${LocalSpark.sf}/documents.parquet").count())
  }

  test("connectedComponents converges in O(log n) rounds on a 64-node chain") {
    // the worst case for hash-min label propagation, which needs
    // diameter-1 = 63 rounds on a path graph. The round count is pinned
    // exactly, so a change to the star steps or to the convergence test
    // cannot pass unnoticed.
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    var built: (org.apache.spark.sql.DataFrame, Int) = null
    val jobs = LocalSpark.jobsIn { built = Dedup.connectedComponents(spark, edges) }
    val (labels, rounds) = built
    assert(rounds == 7, s"took $rounds rounds, not 7")
    // the jobs are pinned too: a round runs its carry's count and
    // checkpoint, plus the exact check once the counts agree
    assert(jobs == 23, s"the build ran $jobs Spark jobs")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (0L until 64L).map(_ -> 0L).toMap)
  }

  test("connectedComponents keeps the caller's key type: an Int chain gets Int labels") {
    val edges = (0 until 63).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = Dedup.connectedComponents(spark, edges)
    assert(labels.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(rounds == 7, s"took $rounds rounds, not 7")
    val got = labels.collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(got == (0 until 64).map(_ -> 0).toMap)
  }

  test("connectedComponents labels a 5,000-leaf star whose hub is not its minimum") {
    // one hot node: the hub is adjacent to every edge, so a step that
    // buffered a node's adjacency would hold the whole graph in a task
    val hub = 2500L
    val edges = (0L to 5000L).filter(_ != hub).map(leaf => (hub, leaf)).toDF("src", "dst")
    val (labels, _) = Dedup.connectedComponents(spark, edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (0L to 5000L).map(_ -> 0L).toMap)
  }

  test("connectedComponents and dedup_clusters leave nothing persisted") {
    val sc = spark.sparkContext
    Tables.register(spark, LocalSpark.sf)
    val before = sc.getPersistentRDDs.keySet
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    Dedup.connectedComponents(spark, chain)._1.collect()
    Dedup.queries("dedup_clusters")(spark, LocalSpark.sf).collect()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"left ${left.size} RDDs persisted: $left")
  }

  test("connectedComponents throws instead of returning labels when it runs out of rounds") {
    // the same chain needs several rounds; one is not enough to converge
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(spark, edges, maxRounds = 1)
    }
    assert(e.getMessage.contains("within 1 rounds"), e.getMessage)
  }

  test("connectedComponents: empty edge set yields empty labels, not an error") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (labels, rounds) = Dedup.connectedComponents(spark, empty)
    assert(labels.collect().isEmpty)
    assert(rounds == 0)
  }

  test("connectedComponents equals union-find on random graphs (seeded sweep)") {
    // the same graphs in sessions of shuffle width 1 and 4: the answer
    // may not depend on how the edges are partitioned
    for (width <- Seq(1, 4)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", width.toLong)
      import s.implicits._
      val rnd = new scala.util.Random(42)
      for (_ <- 1 to 5) {
        val n = 5 + rnd.nextInt(60)
        val m = 1 + rnd.nextInt(2 * n)
        val raw = Seq.fill(m)((rnd.nextLong(n), rnd.nextLong(n)))
        val real = raw.filter { case (a, b) => a != b }
        // reference: union-find, component label = min member
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        real.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expect = parent.keys.map(k => k -> find(k)).toMap
        val (labels, rounds) = Dedup.connectedComponents(s, raw.toDF("src", "dst"))
        val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == expect, s"width=$width n=$n m=$m rounds=$rounds: " +
          s"mismatch ${got.toSet.diff(expect.toSet).take(5)} / ${expect.toSet.diff(got.toSet).take(5)}")
        assert(rounds <= 12, s"width=$width n=$n m=$m took $rounds rounds")
        // a small graph's rounds run at width 1 (their width derives from
        // the edge count), so each star step is also run at width 4 here
        val canon = s.sparkContext.parallelize(
          real.map { case (a, b) => (math.max(a, b), math.min(a, b)) }.distinct, 3)
        for (step <- Seq(Dedup.largeStar _, Dedup.smallStar _))
          assert(step(canon, 4).collect().toSet == step(canon, 1).collect().toSet,
            s"n=$n m=$m: a star step depends on its width")
      }
    }
  }

  test("connectedComponents handles multiple components, self-loops, duplicate edges") {
    val edges = Seq(
      (5L, 3L), (3L, 5L), (5L, 5L),        // dup + reversed + self-loop
      (10L, 11L), (11L, 12L), (12L, 10L),  // triangle
      (20L, 21L)
    ).toDF("src", "dst")
    val (labels, _) = Dedup.connectedComponents(spark, edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("lshCandidatePairs: hot buckets are skipped, cool buckets pair fully") {
    // 100 identical embeddings land in the SAME bucket of every table —
    // bucket size 100 > cap 64 in all 16 tables, so NO pairs may emerge
    // (at 100 TB this is the one-degenerate-bucket quadratic blowup);
    // raising the cap past the bucket size restores all 4950 pairs
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val emb = (0L until 100L).map(id => (id, v)).toDF("vec_id", "embedding")
    val capped = Dedup.lshCandidatePairs(emb, tables = 16, planes = 6, maxBucket = 64)
    assert(capped.count() == 0, "hot bucket must be skipped, not exploded")
    val uncapped = Dedup.lshCandidatePairs(emb, tables = 16, planes = 6, maxBucket = 200)
    assert(uncapped.count() == 100L * 99 / 2)
  }

  test("lsh_buckets plane-prefix invariant: pe-plane bucket = low pe bits of the 18-plane bucket") {
    // the adaptive-pe oracles (dedup_embedding_lsh, ann_lsh_bucketed)
    // replicate ANY pe by masking an 18-plane bucket to its low pe bits
    // — valid only if bucket bit p is plane p and plane signs are
    // seeded independently of the plane COUNT. Pin that invariant.
    import graft.functions.GraftFunctions
    val emb = (0L until 200L)
      .map(id => (id, Array.tabulate(64)(i => math.sin(id * 64 + i + 1).toFloat)))
      .toDF("vec_id", "embedding")
    for (pe <- Seq(6, 7, 13)) {
      val both = emb.select(
        GraftFunctions.lsh_buckets(col("embedding"), 16, pe).as("bp"),
        GraftFunctions.lsh_buckets(col("embedding"), 16, 18).as("b18"))
      val bad = both.where(expr(
        s"exists(zip_with(bp, b18, (x, y) -> x != (y & ${(1 << pe) - 1})), v -> v)"))
      assert(bad.count() == 0,
        s"pe=$pe buckets must equal the low $pe bits of the 18-plane buckets")
    }
  }

  test("lshGeometry: 16 tables, pe = min p in [6, 18] with n <= 64*2^p") {
    assert(Similarity.lshGeometry(64L << 6) == (16, 6))
    assert(Similarity.lshGeometry((64L << 6) + 1) == (16, 7))
    assert(Similarity.lshGeometry(64L << 18) == (16, 18))
    assert(Similarity.lshGeometry((64L << 18) + 1) == (16, 18))
    assert(Similarity.lshGeometry(Long.MaxValue) == (16, 18))
    // the driver-scale corpus sits at the floor: its buckets are the
    // fixed-6-plane buckets the oracles have always replicated
    Tables.register(spark, LocalSpark.sf)
    assert(Similarity.lshGeometry(spark.table("embeddings").count()) == (16, 6))
  }

  test("dedup_ngram_jaccard prefix filter is exact: equals brute-force block pairs") {
    Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    // brute force within source blocks (fine at 500 docs)
    val truth = spark.sql("""
      WITH sh AS (SELECT doc_id, source, SHINGLE_SET(text, 3) grams FROM documents
                  WHERE SIZE(SHINGLE_SET(text, 3)) > 0)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(SIZE(ARRAY_INTERSECT(a.grams, b.grams)) / SIZE(ARRAY_UNION(a.grams, b.grams)), 6) AS jaccard
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE SIZE(ARRAY_INTERSECT(a.grams, b.grams)) / SIZE(ARRAY_UNION(a.grams, b.grams)) >= 0.5
    """).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.queries("dedup_ngram_jaccard")(spark, LocalSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == truth, s"prefix filter must lose nothing: missing=${truth.diff(got)} extra=${got.diff(truth)}")
  }

  test("dedup_ngram_jaccard prefix index shrinks hot postings (scale bound)") {
    Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    val stats = spark.sql("""
      WITH sh AS (SELECT doc_id, source, SHINGLE_SET(text, 3) grams FROM documents
                  WHERE SIZE(SHINGLE_SET(text, 3)) > 0),
      inv AS (SELECT doc_id, source, SIZE(grams) n, gram
              FROM sh LATERAL VIEW EXPLODE(grams) g AS gram),
      df AS (SELECT source, gram, COUNT(*) df FROM inv GROUP BY source, gram),
      prefix AS (
        SELECT doc_id, source, gram FROM (
          SELECT i.doc_id, i.source, i.gram, i.n,
                 ROW_NUMBER() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.gram) rk
          FROM inv i JOIN df d ON i.gram = d.gram AND i.source = d.source
        ) WHERE rk <= n - CEIL(0.5 * n) + 1
      )
      SELECT (SELECT MAX(df) FROM df) AS full_max,
             (SELECT MAX(cnt) FROM (SELECT COUNT(*) cnt FROM prefix GROUP BY source, gram)) AS prefix_max,
             (SELECT COUNT(*) FROM inv) AS full_n,
             (SELECT COUNT(*) FROM prefix) AS prefix_n
    """).collect()(0)
    val (fullMax, prefixMax) = (stats.getLong(0), stats.getLong(1))
    val (fullN, prefixN) = (stats.getLong(2), stats.getLong(3))
    // the index must shrink materially, and the hottest posting must not
    // survive intact — this is the 100 TB pair-blowup guard
    assert(prefixN < fullN * 0.7, s"prefix index $prefixN vs full $fullN")
    assert(prefixMax < fullMax, s"hottest posting not reduced: $prefixMax vs $fullMax")
  }

  test("dedup_substring pairs share verbatim 15-token windows (local recomputation)") {
    Tables.register(spark, LocalSpark.sf)
    val out = Dedup.queries("dedup_substring")(spark, LocalSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val text = spark.table("documents").select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def wins(s: String): Set[String] =
      s.toLowerCase.split(' ').filter(_.nonEmpty).sliding(15)
        .filter(_.length == 15).map(_.mkString(" ")).toSet
    out.foreach { case (a, b, n) =>
      val shared = wins(text(a)).intersect(wins(text(b)))
      // n_shared can undercount shared windows only via the hot-window
      // cap (window in > 64 docs), never overcount
      assert(n <= shared.size.toLong && shared.size >= 3,
        s"pair ($a,$b): reported $n, locally shared ${shared.size}")
    }
    // exact duplicates (same text) must be reported
    val exact = text.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => g.keys.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .filter { case (a, _) => wins(text(a)).size >= 3 }
      .toSet
    val reported = out.map(p => (p._1, p._2)).toSet
    exact.foreach(p => assert(reported.contains(p), s"exact dup pair $p missing"))
  }

  test("dedup_simhash pairs are hamming-verified and include exact duplicates") {
    val df = Dedup.queries("dedup_simhash")(spark, LocalSpark.sf).collect()
    assert(df.nonEmpty)
    assert(df.forall(_.getInt(2) <= 6))
  }

  test("dedup_simhash band buckets stay far below the hot-bucket cap at sf0.001") {
    // at this sf the cap must never bind — that's what keeps the
    // brute-force all-pairs equality test below meaningful (the DuckDB
    // oracle itself replicates the cap and needs no neutrality; this
    // guard pins that the small-sf corpus still exercises the UNCAPPED
    // semantics the pigeonhole argument describes)
    Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    val maxBucket = spark.sql("""
      WITH sh AS (SELECT doc_id, SIMHASH64(TOKENIZE(text)) AS sim FROM documents
                  WHERE SIZE(TOKENIZE(text)) > 0),
      bands AS (SELECT doc_id,
                       CASE WHEN band < 6 THEN (sim >> (band * 9)) & 511
                            ELSE (sim >> 54) & 1023 END AS bandkey, band
                FROM sh LATERAL VIEW EXPLODE(SEQUENCE(0, 6)) b AS band)
      SELECT MAX(c) FROM (SELECT COUNT(*) c FROM bands GROUP BY band, bandkey)""")
      .collect()(0).getLong(0)
    assert(maxBucket <= 250, s"band buckets approaching the 1000 cap: max=$maxBucket")
  }

  test("dedup_simhash 7-band pigeonhole is exact: equals brute-force all-pairs hamming") {
    Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    // any pair at hamming <= 6 leaves >= 1 of the 7 disjoint bands
    // untouched, so with no bucket hot (guard above) the banded
    // candidate join must lose NOTHING vs the O(n^2) all-pairs join
    // (fine at 500 docs) — the pigeonhole exactness claim, tested
    // where the cap never binds
    val truth = spark.sql("""
      WITH sh AS (SELECT doc_id, SIMHASH64(TOKENIZE(text)) AS sim FROM documents
                  WHERE SIZE(TOKENIZE(text)) > 0)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(BIT_COUNT(a.sim ^ b.sim) AS INT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE BIT_COUNT(a.sim ^ b.sim) <= 6""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = Dedup.queries("dedup_simhash")(spark, LocalSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(truth.nonEmpty)
    assert(got == truth, s"missing=${truth.diff(got).take(5)} extra=${got.diff(truth).take(5)}")
  }

  test("pipeline_curate_ppl quantile gate: covers >= 2n/3 of scored docs and t is minimal") {
    // a fixed ppl<=30 gate kept ZERO docs at sf10 (the corpus-LM
    // perplexity floor drifts with scale). Pin the two
    // properties that make the quantile gate scale-proof: the kept
    // fraction can never fall below 2/3 (so the gate cannot silently
    // empty at ANY fixture), and t is the MINIMAL ppl value covering
    // it (so it cannot silently degrade to keep-everything either).
    Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    val ppl = TextAnalysis.queries("text_perplexity")(spark, LocalSpark.sf)
      .select(col("ppl")).collect().map(_.getDouble(0)).sorted
    val n = ppl.length
    assert(n > 0)
    // replicate the gate's own criterion independently on the driver
    val t = ppl(((2 * n + 2) / 3) - 1) // k-th smallest, k = ceil(2n/3)
    val kept = ppl.count(_ <= t)
    assert(kept * 3 >= 2L * n, s"gate must cover >= 2n/3: kept=$kept n=$n")
    val below = ppl.count(_ < t)
    assert(below * 3 < 2L * n, s"t must be minimal: below=$below n=$n")
    // and the composed pipeline actually emits rows under the gate
    val out = Dedup.queries("pipeline_curate_ppl")(spark, LocalSpark.sf)
    assert(out.count() > 0, "the curation funnel must not be empty")
    assert(out.agg(max(col("ppl"))).collect()(0).getDouble(0) <= t + 1e-12)
  }

  test("dedup_simhash cap cost at sf0.1: measured against INDEPENDENT all-pairs truth") {
    // at sf0.1 the 1000-member cap binds (one hot band key), and the
    // DuckDB oracle replicates the cap — so the oracle compare alone
    // can no longer see pairs the cap drops. This test restores the
    // independent measurement: exact all-pairs hamming (12.5M pairs at
    // 5000 docs — fine distributed) vs the capped banded query.
    // Precision must be exact (capping only removes candidates); the
    // recall cost must stay small and is pinned so a corpus or cap
    // change that silently drops many true pairs fails here by name.
    val sf01 = "/root/testdata/sf0.1"
    try {
      Tables.register(spark, sf01)
      graft.functions.GraftFunctions.register(spark)
      val truth = spark.sql("""
        WITH sh AS (SELECT doc_id, SIMHASH64(TOKENIZE(text)) AS sim FROM documents
                    WHERE SIZE(TOKENIZE(text)) > 0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE BIT_COUNT(a.sim ^ b.sim) <= 6""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.queries("dedup_simhash")(spark, sf01)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(truth), // capping never invents pairs
        s"capped result must be a subset of truth: extra=${got.diff(truth).take(5)}")
      val recall = got.size.toDouble / truth.size
      assert(recall >= 0.99,
        f"cap recall cost too high at sf0.1: $recall%.4f (${truth.size - got.size} of ${truth.size} pairs lost)")
    } finally {
      Tables.register(spark, LocalSpark.sf)
    }
  }

  test("ann_lsh_bucketed: exact precision within candidates, measurable recall vs brute force") {
    Tables.register(spark, LocalSpark.sf)
    val truth = Similarity.queries("ann_cosine_topk")(spark, LocalSpark.sf)
      .where($"qid" < 5).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
      .where($"qid" < 5).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    // random-hyperplane LSH on weakly-clustered synthetic vectors: just
    // assert it beats random chance materially and is deterministic
    assert(recall >= 0.2, s"recall@3 $recall")
    val again = Similarity.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
      .where($"qid" < 5).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == lsh, "LSH output must be deterministic")
  }

  test("ann_ivf_probe: deterministic, and recall beats single-table LSH chance") {
    Tables.register(spark, LocalSpark.sf)
    val truth = Similarity.queries("ann_cosine_topk")(spark, LocalSpark.sf)
      .where($"qid" < 5).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.queries("ann_ivf_probe")(spark, LocalSpark.sf)
      .where($"qid" < 5).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.2, s"IVF recall@3 $recall")
    val again = Similarity.queries("ann_ivf_probe")(spark, LocalSpark.sf)
      .where($"qid" < 5).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("embed_quantize_int8: bounded error, exact checksum range, determinism") {
    val out = Similarity.queries("embed_quantize_int8")(spark, LocalSpark.sf).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (scale, qSum, mse) = (r.getDouble(1), r.getLong(2), r.getDouble(3))
      assert(scale > 0, "synthetic embeddings have no zero vectors")
      // per-element |error| ≤ scale/2 (round-half-up, clipping only at
      // the exact max element) ⇒ mse ≤ scale²/4
      assert(mse <= scale * scale / 4.0 + 1e-15, s"mse $mse vs scale $scale")
      // 64 int8 values: checksum must stay inside ±64·127
      assert(math.abs(qSum) <= 64L * 127L)
    }
    val again = Similarity.queries("embed_quantize_int8")(spark, LocalSpark.sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // SURVEY §7.3 trap 7 pin: mse must be computed with the RAW scale,
    // not the rounded output alias — exact local recomputation
    Tables.register(spark, LocalSpark.sf)
    val emb = spark.table("embeddings").orderBy($"vec_id").limit(10)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    out.take(10).foreach { r =>
      val ed = emb(r.getLong(0))
      val sc = ed.map(math.abs).max / 127.0
      val q = ed.map(x => math.min(math.max(math.floor(x / sc + 0.5), -127.0), 127.0))
      var sse = 0.0
      ed.zip(q).foreach { case (x, qi) => val e = x - qi * sc; sse += e * e }
      val expect = BigDecimal(sse / 64.0)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expect,
        s"vec ${r.getLong(0)}: mse ${r.getDouble(3)} != raw-scale $expect (alias shadowing?)")
    }
  }

  test("multimodal decode pipeline: schema, determinism, distributed map") {
    val out = Multimodal.decodePipeline(spark, LocalSpark.sf)
    assert(out.columns.toSeq ==
      Seq("doc_id", "fmt", "width", "height", "mean_byte", "feat"))
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getInt(2) >= 16 && r.getInt(2) < 80))
    assert(rows.forall(r => r.getInt(3) >= 16 && r.getInt(3) < 80),
      "heights must stay in [16,80) — negative-modulo regression guard")
    assert(rows.forall(_.getSeq[Float](5).length == 8))
    val again = Multimodal.decodePipeline(spark, LocalSpark.sf).orderBy("doc_id").collect()
    assert(rows.map(_.getDouble(4)).toSeq == again.map(_.getDouble(4)).toSeq)
  }

  test("multimodal resize: identity resize equals full-grid mean, deterministic") {
    val r1 = Multimodal.resizePipeline(spark, LocalSpark.sf, 32, 32)
      .orderBy("doc_id").collect()
    assert(r1.length == 500)
    assert(r1.forall(r => r.getInt(1) == 32 && r.getInt(2) == 32))
    val again = Multimodal.resizePipeline(spark, LocalSpark.sf, 32, 32)
      .orderBy("doc_id").collect()
    assert(r1.map(_.getDouble(5)).toSeq == again.map(_.getDouble(5)).toSeq)
    // identity resize (target == source dims) is the plain pixel-grid mean
    val row = spark.table("documents").select("doc_id", "text").first()
    val payload = row.getString(1).getBytes("UTF-8")
    val (w0, h0, _) = Multimodal.FakeCodec.decode(payload)
    val identity = Multimodal.FakeCodec.resizeMean(payload, w0, h0, w0, h0)
    val full = (0 until w0 * h0).map(Multimodal.FakeCodec.pixel(payload, _)).sum.toDouble / (w0 * h0)
    assert(identity == full)
  }

  test("multimodal frame sampling: every-Nth cardinality and bounds") {
    val frames = Multimodal.frameSamplePipeline(spark, LocalSpark.sf, 4).collect()
    val byDoc = frames.groupBy(_.getLong(0))
    assert(byDoc.size == 500)
    byDoc.values.foreach { rs =>
      val n = rs.head.getInt(2)
      assert(n >= 8 && n < 32)
      // ceil(n / 4) sampled frames, indices 0, 4, 8, ...
      assert(rs.length == (n + 3) / 4, s"n=$n got ${rs.length}")
      assert(rs.map(_.getInt(1)).sorted.toSeq == (0 until n by 4).toSeq)
    }
  }

  test("percentile_approx stays within group min/max") {
    Tables.register(spark, LocalSpark.sf)
    val rows = Aggregates.queries("agg_percentile_approx")(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty)
    val bounds = spark.sql(
      "SELECT l_returnflag, MIN(l_extendedprice), MAX(l_extendedprice) FROM lineitem GROUP BY 1"
    ).collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      val p = r.getDouble(1)
      assert(p >= lo && p <= hi)
    }
  }

  test("sample_bernoulli is seeded-deterministic and roughly 10%") {
    val n1 = Functions.queries("sample_bernoulli")(spark, LocalSpark.sf).count()
    val n2 = Functions.queries("sample_bernoulli")(spark, LocalSpark.sf).count()
    assert(n1 == n2)
    assert(n1 > 50 && n1 < 350, s"got $n1 of 1500")
  }

  test("pipeline_rag packing invariants: prefix cut, monotone budget, chunk grid") {
    val rows = SparkEntry.queries("pipeline_rag")(spark, LocalSpark.sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // output arrives in (retrieval rank, chunk order); the running
    // budget is strictly increasing, consistent (cum = prefix sum),
    // capped at 768, and every chunk sits on the 48-stride / <=64 grid
    val keys = rows.map(r => (r._1, r._3))
    assert(keys.sameElements(keys.sorted), keys.mkString(","))
    var run = 0L
    rows.foreach { case (rank, _, start, nTok, cum) =>
      assert(rank >= 1 && rank <= 5)
      assert(start % 48 == 0 && nTok >= 1 && nTok <= 64, s"($start, $nTok)")
      run += nTok
      assert(cum == run, s"cum $cum != prefix sum $run")
    }
    assert(run <= 768)
    // prefix property: dropping the LAST packed chunk must leave room
    // for it (i.e. the cut happened exactly at the budget boundary or
    // the stream ended) — no chunk was skipped mid-stream, which the
    // consistent prefix sum above already forces
  }
}
