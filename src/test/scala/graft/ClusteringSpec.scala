package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** K-means + SemDeDup invariants at sf0.001. Values are oracle-checked
  * by the driver (bit-deterministic by construction — see Clustering's
  * class doc); this spec pins the operator-level properties that hold at
  * any scale: determinism across runs, assignment completeness, Lloyd
  * improvement, and the cluster-as-blocking-key contract of
  * dedup_semantic. */
class ClusteringSpec extends AnyFunSuite with Matchers {
  lazy val spark = LocalSpark.spark
  val sf = LocalSpark.sf

  test("kmeans assignment: complete, deterministic, bounded") {
    val a1 = Clustering.queries("cluster_kmeans_assign")(spark, sf).collect()
    val a2 = Clustering.queries("cluster_kmeans_assign")(spark, sf).collect()
    a1.length shouldBe 500
    a1.map(_.getLong(0)).distinct.length shouldBe 500      // every vector once
    // bit-deterministic re-run (exact-sum centroids: partitioning can't
    // perturb the result)
    a1.map(_.toString).toSeq shouldBe a2.map(_.toString).toSeq
    val clusters = a1.map(_.getInt(1)).distinct
    all(clusters.toSeq) should (be >= 0 and be < 8)
    all(a1.map(_.getDouble(2)).toSeq) should (be >= -1.0 and be <= 1.0)
  }

  test("Lloyd iterations improve mean cosine to centroid") {
    import spark.implicits._
    def meanCos(iters: Int): Double =
      Clustering.kmeansAssign(spark, sf, k = 8, iters = iters)
        .agg(avg($"cos")).head().getDouble(0)
    val c0 = meanCos(0)   // assignment under the raw seeds
    val c2 = meanCos(2)
    c2 should be > c0 + 0.05   // observed 0.187 → 0.255 on the testdata
  }

  test("dedup_semantic: pairs are within-cluster, above threshold, canonical") {
    val af = Clustering.queries("cluster_kmeans_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairs = Clustering.queries("dedup_semantic")(spark, sf).collect()
    pairs.length should be > 0
    pairs.foreach { p =>
      val (a, b, cl, cos) = (p.getLong(0), p.getLong(1), p.getInt(2), p.getDouble(3))
      a should be < b                         // canonical orientation
      af(a) shouldBe cl                       // blocking key is the cluster
      af(b) shouldBe cl
      cos should be >= 0.35
    }
    // no duplicate pairs
    pairs.map(p => (p.getLong(0), p.getLong(1))).distinct.length shouldBe pairs.length
  }

  test("dedup_semantic captures pairs well above the 1/k co-cluster chance baseline") {
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions
    // ALL pairs >= tau, no blocking — the ground truth the cluster
    // blocking trades against (500 vectors -> 125k pairs, fine locally)
    graft.Tables.register(spark, sf)
    GraftFunctions.register(spark)
    val truth = spark.sql("""
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE COSINE_SIM(a.embedding, b.embedding) >= 0.35""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Clustering.queries("dedup_semantic")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // everything reported is real (blocking only FILTERS candidates;
    // quantized-vs-float cosine may disagree only in ulps at the
    // threshold, so compare against the float truth with containment)
    val recall = blocked.intersect(truth).size.toDouble / truth.size
    // the testdata is weakly-clustered noise with NO true semantic
    // duplicates (zero pairs at cos >= 0.5 at sf0.001) — the honest pin
    // is capture-above-chance: random pairs co-cluster ~1/k = 0.125 of
    // the time; the learned clusters must beat 2x that. The exact-pair
    // operators (dedup_embedding_cosine/lsh) remain the recall-1.0
    // paths; SemDeDup's premise (true near-dups co-cluster) needs real
    // embeddings to show recall near 1.
    assert(recall >= 0.25, s"recall $recall vs 1/k chance 0.125")
    info(f"cluster-blocked recall at tau=0.35: $recall%.3f (chance 0.125)")
  }

  test("dedup_semantic_prune: one representative per component, pairs collapse") {
    val pairs = Clustering.queries("dedup_semantic")(spark, sf).collect()
      .map(p => (p.getLong(0), p.getLong(1)))
    val prune = Clustering.queries("dedup_semantic_prune")(spark, sf).collect()
    prune.length shouldBe 500                            // every vector audited
    val comp = prune.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val kept = prune.filter(_.getInt(3) == 1).map(_.getLong(0)).toSet
    // exactly one kept per component, and it is the component's min id
    prune.groupBy(_.getLong(2)).foreach { case (c, rows) =>
      rows.count(_.getInt(3) == 1) shouldBe 1
      rows.filter(_.getInt(3) == 1).head.getLong(0) shouldBe rows.map(_.getLong(0)).min
      c shouldBe rows.map(_.getLong(0)).min
    }
    // every near-dup pair is collapsed: same component, at most one kept
    pairs.foreach { case (a, b) =>
      comp(a) shouldBe comp(b)
      (kept.contains(a) && kept.contains(b)) shouldBe false
    }
    // vectors in no pair are singletons and kept
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    prune.filterNot(r => paired.contains(r.getLong(0))).foreach { r =>
      r.getInt(3) shouldBe 1
      r.getLong(2) shouldBe r.getLong(0)
    }
  }

  test("model persistence round-trip: parquet-reloaded centroids reproduce the exact assignment") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cents = Clustering.kmeansCentroids(spark, sf)
    // persist full-precision centroids (the queryable cluster_centroids
    // export rounds to 9 dp for oracle hashing; a pipeline persists the
    // raw doubles, which round-trip parquet bit-exactly)
    val dir = java.nio.file.Files.createTempDirectory("graft-cents").toString
    cents.flatMap { case (cid, c) =>
      c.iterator.zipWithIndex.map { case (v, i) => (cid, i, v) }
    }.toDF("cluster", "d", "value").write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir).collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)))
      }.toSeq.sortBy(_._1)
    graft.Tables.register(spark, sf)
    val emb = spark.table("embeddings")
    val orig = Clustering.assignUnderCentroids(emb, cents)
      .select(col("vec_id"), col("cluster"), col("cos")).collect()
    val redo = Clustering.assignUnderCentroids(emb, reloaded)
      .select(col("vec_id"), col("cluster"), col("cos")).collect()
    orig.map(_.toString).toSeq shouldBe redo.map(_.toString).toSeq
  }

  test("semantic pair graph CC converges in few rounds (O(log n) evidence)") {
    import org.apache.spark.sql.functions.col
    val pairs = Clustering.queries("dedup_semantic")(spark, sf)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val (labels, rounds) = graft.operators.Dedup.connectedComponents(spark, pairs)
    assert(labels.count() > 0)
    // near-dup components are shallow; large-star/small-star must
    // converge fast — the fixed cost that dominates
    // dedup_semantic_prune's bench time is rounds × checkpoint, so a
    // round-count regression is a wall-clock regression at any scale
    assert(rounds <= 6, s"CC took $rounds rounds on the semantic pair graph")
  }

  test("kmeans parameterization: k=16/iters=1 is complete, bounded, deterministic") {
    import org.apache.spark.sql.functions.col
    graft.Tables.register(spark, sf)
    val cents = Clustering.kmeansCentroids(spark, sf, k = 16, iters = 1)
    cents.length should be <= 16           // empty clusters may drop out
    cents.foreach(_._2.length shouldBe 64)
    val a1 = Clustering.assignUnderCentroids(spark.table("embeddings"), cents)
      .select(col("vec_id"), col("cluster")).collect()
    a1.length shouldBe 500
    a1.map(_.getInt(1)).distinct.length should be <= 16
    // drop the train-once memo so the second call actually retrains —
    // otherwise this determinism check would compare a cached Seq to itself
    graft.Tables.invalidate(spark)
    val cents2 = Clustering.kmeansCentroids(spark, sf, k = 16, iters = 1)
    cents.map { case (c, v) => (c, v.toSeq) } shouldBe
      cents2.map { case (c, v) => (c, v.toSeq) }   // bit-deterministic re-run
  }

  test("kmeansCentroids trains once per table registration") {
    val s = spark.newSession()
    val c1 = Clustering.kmeansCentroids(s, sf, k = 4, iters = 1)
    Clustering.kmeansCentroids(s, sf, k = 4, iters = 1).eq(c1) shouldBe true
    Clustering.kmeansCentroids(s, sf, k = 4, iters = 0).eq(c1) shouldBe false
  }

  test("kmeansCentroids retrains after Tables.invalidate") {
    val s = spark.newSession()
    val c1 = Clustering.kmeansCentroids(s, sf, k = 4, iters = 1)
    graft.Tables.invalidate(s)
    graft.Tables.register(s, sf)
    val c2 = Clustering.kmeansCentroids(s, sf, k = 4, iters = 1)
    withClue("the model outlived its registration: ") { c2.eq(c1) shouldBe false }
    c2.map { case (c, v) => (c, v.toSeq) } shouldBe c1.map { case (c, v) => (c, v.toSeq) }
  }

  test("argmax kernel at k=256 equals brute-force per-centroid cosines") {
    // the flat-plan gate (PlanQualitySpec) proves the plan shape; this
    // proves the VALUES: for a sample of vectors the broadcast-kernel
    // assignment must pick exactly the centroid a driver-side
    // per-centroid cosine scan picks, ties to the lowest id
    import org.apache.spark.sql.functions.col
    graft.Tables.register(spark, sf)
    val cents = (0 until 256).map { i =>
      (i, Array.tabulate(64)(d => ((i * 64 + d) % 97 + 1) / 97.0))
    }
    val out = Clustering.assignUnderCentroids(spark.table("embeddings"), cents)
      .select(col("vec_id"), col("ve"), col("cluster"), col("cos"))
      .where(col("vec_id") < 20).collect()
    out.length shouldBe 20
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      if (na * nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    out.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val scored = cents.map { case (cid, c) => (cid, cos(v, c)) }
      val best = scored.maxBy { case (cid, s) => (s, -cid) }
      r.getInt(2) shouldBe best._1
      r.getDouble(3) shouldBe best._2 // bit-exact: same fold order
    }
  }

  test("kmeans fails loudly when the corpus has fewer than k vectors") {
    val ex = intercept[IllegalArgumentException] {
      Clustering.kmeansCentroids(spark, sf, k = 8, iters = 1,
        corpusPred = org.apache.spark.sql.functions.col("vec_id") < 3)
    }
    assert(ex.getMessage.contains("expected 8 seed vectors"))
  }

  test("dedup_incremental_semantic: batch-only rows, corpus dups verified, verdict consistent") {
    val out = Clustering.queries("dedup_incremental_semantic")(spark, sf).collect()
    out.length shouldBe 100                      // 20% of 500 ids (vec_id % 5 == 4)
    out.foreach { r =>
      r.getLong(0) % 5 shouldBe 4                // batch rows only
      val isNew = r.getInt(4) == 1
      if (isNew) {
        r.isNullAt(2) shouldBe true
        r.getLong(3) shouldBe 0L
      } else {
        r.getLong(2) % 5 should not be 4         // dup_of is a CORPUS id
        r.getLong(3) should be >= 1L
      }
    }
    // deterministic re-run (frozen corpus-trained centroids)
    val again = Clustering.queries("dedup_incremental_semantic")(spark, sf).collect()
    out.map(_.toString).toSeq shouldBe again.map(_.toString).toSeq
  }

  test("IVF assignment: probe-all is bit-identical to flat; probe-4 near-exact") {
    // the large-k scale path (assign routes through ArgMaxCosineIvfD
    // past kEff=128): with probes >= groups the scanned member set is
    // every centroid and the fold/tie discipline matches ArgMaxCosineD,
    // so results must be BIT-identical; with probes=4 the documented
    // approximation must stay near-exact on this (worst-case,
    // structureless) synthetic corpus
    import graft.functions.{CentroidMatrix, IvfIndex, GraftFunctions}
    Tables.register(spark, sf)
    val vecs = spark.table("embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("ve"))
    val cents = vecs.where(col("vec_id") < 200).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val cm = new CentroidMatrix(cents.map(_._1), cents.map(_._2))
    val sc = spark.sparkContext
    def run(colFn: org.apache.spark.sql.Column): Seq[(Long, Int, Double)] =
      vecs.withColumn("best", colFn)
        .select(col("vec_id"), col("best.cluster"), col("best.cos"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val flat = run(GraftFunctions.argmax_cosine_d(col("ve"), sc.broadcast(cm)))
    val probeAll = run(GraftFunctions.argmax_cosine_ivf_d(col("ve"),
      sc.broadcast(new IvfIndex(cm, 15, 15))))
    probeAll shouldBe flat                       // exactness anchor
    val probe4 = run(GraftFunctions.argmax_cosine_ivf_d(col("ve"),
      sc.broadcast(new IvfIndex(cm, 15, 4))))
    val byId = flat.map(t => t._1 -> t).toMap
    val agree = probe4.count(t => byId(t._1)._2 == t._2)
    agree.toDouble / probe4.size should be >= 0.8
    probe4.foreach { case (id, _, cos) =>
      val flatCos = byId(id)._3
      cos should be <= flatCos + 1e-15           // subset argmax can't beat flat
      (flatCos - cos) should be <= 0.2           // misses are near-ties
    }
  }

  test("boundedClusterArray: passthrough under cap, loud error naming the cluster over it") {
    Clustering.boundedClusterArray("k", 7, Iterator(1, 2, 3), 3).toSeq shouldBe Seq(1, 2, 3)
    val e = intercept[IllegalStateException] {
      Clustering.boundedClusterArray("dedup_incremental_semantic", 7,
        Iterator(1, 2, 3, 4), 3)
    }
    e.getMessage should include ("dedup_incremental_semantic")
    e.getMessage should include ("cluster 7")
    e.getMessage should include ("3 rows")
  }

  test("per-cluster buffer cap fires on a degenerate collapsed assignment, inert below it") {
    // adversarial: force the k=1 collapse the trainer's kEff discipline
    // normally prevents — every row lands in cluster 0, exceeding the
    // (spec-shrunk) cap. The kernel must fail LOUDLY naming the
    // cluster, not silently buffer toward an executor OOM.
    import spark.implicits._
    val collapsed = (0 until 50).map(i => (0, i.toLong, Array.fill(4)(1.0)))
      .toDF("cluster", "vec_id", "ve")
    val ex = intercept[Exception] {
      Clustering.semanticPairsFrom(collapsed, cap = 10).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val chain = msgs(ex).mkString("\n")
    chain should include ("semanticPairsFrom")
    chain should include ("cluster 0")
    chain should include ("10 rows")
    // non-degenerate groups under the same cap pass through untouched
    val ok = (0 until 9).map(i => (i % 3, i.toLong, Array.fill(4)(1.0)))
      .toDF("cluster", "vec_id", "ve")
    val pairs = Clustering.semanticPairsFrom(ok, cap = 10).collect()
    pairs.length shouldBe 9                      // 3 clusters × C(3,2) pairs
  }

  test("salt-split fallback: over-cap cluster degrades to within-sub-group pairs instead of failing") {
    // same degenerate collapse as above, but with the salt split
    // on: nsplit = ceil(50/10) = 5 balanced sub-groups (row-number
    // salt: rank-1 % 5, here = vec_id % 5), pairs scored within a
    // sub-group only (the documented recall haircut) — and NO exception.
    import spark.implicits._
    val collapsed = (0 until 50).map(i => (0, i.toLong, Array.fill(4)(1.0)))
      .toDF("cluster", "vec_id", "ve")
    val got = Clustering.semanticPairsFrom(collapsed, cap = 10, saltSplit = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val salts = (0L until 50L).map(id => id -> (id % 5).toInt).toMap
    val expected = (for {
      g <- salts.groupBy(_._2).values.map(_.keys.toSeq.sorted)
      i <- g.indices; j <- (i + 1) until g.length
    } yield (g(i), g(j), 0, 1.0)).toSet
    expected.size should be > 0
    got shouldBe expected
    // balanced salt: every sub-group is exactly at the cap boundary
    salts.groupBy(_._2).values.map(_.size).max should be <= 10
  }

  test("salt-split fallback: non-degenerate clusters (nsplit=1) are bit-identical to the default path") {
    import spark.implicits._
    val ok = (0 until 40).map(i =>
        (i % 4, i.toLong, Array.tabulate(4)(d => 1.0 + 0.01 * ((i + d) % 7))))
      .toDF("cluster", "vec_id", "ve")
    val off = Clustering.semanticPairsFrom(ok).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val on = Clustering.semanticPairsFrom(ok, saltSplit = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    on shouldBe off                              // τ-survivor set preserved
  }

  test("salt-split fallback: dedup_incremental_semantic is EXACT under a cap that splits every cluster") {
    // corpus side splits, batch replicates, verdicts re-aggregate —
    // results must equal the default (uncapped) run bit-for-bit.
    val q = Clustering.queries("dedup_incremental_semantic")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)), r.getLong(3), r.getInt(4)))
      .toSeq
    val base = rows(q(spark, sf))
    rows(Clustering.incrementalSemantic(spark, sf, cap = 8, saltSplit = true)) shouldBe base
  }
}
