package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.HiveBucketedIO

/** The persisted-LSH-index serving path: build/probe split contracts — answer equality with the batch
  * form, driver-side file pruning, within-file key sort (the row-group
  * pruning precondition), geometry reuse from the index meta, and a
  * rebuild when the embeddings source changes. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark

  private lazy val fixture = Similarity.lshIndexFixture(spark, LocalSpark.sf)

  test("probe answer equals the batch ann_lsh_bucketed answer exactly") {
    val batch = SparkEntry.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    val probe = SparkEntry.queries("ann_lsh_probe_indexed")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(probe.nonEmpty)
    assert(probe == batch)
  }

  test("index files are sorted by key inside each bucket (row-group stats precondition)") {
    val (dir, _, _) = fixture
    var nonEmpty = 0
    for (n <- 0 until 8) { // a sample of buckets is enough to pin the contract
      val keys = HiveBucketedIO.readBucketFile(spark, dir, n)
        .select("key").collect().map(_.getLong(0))
      if (keys.nonEmpty) {
        nonEmpty += 1
        assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
          s"bucket file $n not key-sorted")
      }
    }
    assert(nonEmpty > 0, "all sampled bucket files empty — fixture broken?")
  }

  test("every index row sits in the bucket file its pe-invariant route key hashes to") {
    val (dir, _, planes) = fixture
    for (n <- Seq(0, 7, 31, 63)) {
      val keys = HiveBucketedIO.readBucketFile(spark, dir, n)
        .select("key").distinct().collect().map(_.getLong(0))
      assert(keys.forall(k => HiveBucketedIO.bucketIdOf(
        64, Similarity.invRouteKeyOf(k, planes)) == n),
        s"misrouted key in bucket $n")
    }
  }

  test("single-probe scan opens only the probed keys' files, never the whole index") {
    val (dir, tables, planes) = fixture
    graft.Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    // one query vector -> `tables` probe keys -> at most `tables` files
    val keys = Similarity.lshIndexRows(
        spark.table("embeddings").where(col("vec_id") === 0), tables, planes)
      .select("key").collect().map(_.getLong(0)).toSeq
    assert(keys.length == tables)
    val (scan, hit) = Similarity.prunedIndexScan(spark, dir, keys.distinct, planes)
    assert(hit.length <= tables && hit.length < 64,
      s"pruning must cut below the 64-file index, got ${hit.length}")
    val indexFiles = scan.inputFiles.filter(_.contains("lsh_index_"))
    assert(indexFiles.length == hit.length,
      s"scan opened ${indexFiles.length} index files for ${hit.length} hit buckets")
    // the key filter reaches the parquet scan (row-group pruning path)
    val plan = scan.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [In(key"),
      s"key IN filter not pushed to the index scan:\n$plan")
    // and the pruned scan really carries the probed keys' rows
    val got = scan.select("key").distinct().collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(keys.toSet) && got.nonEmpty)
  }

  test("empty probe batch yields an empty scan, not an error") {
    val (dir, _, planes) = fixture
    val (scan, hit) = Similarity.prunedIndexScan(spark, dir, Seq.empty, planes)
    assert(hit.isEmpty && scan.count() == 0)
  }

  test("migrated-epoch index equals a direct pe build file-for-file and serves the batch answer") {
    val batch = SparkEntry.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    val (migDir, tables, pe) = Similarity.lshIndexMigratedFixture(spark, LocalSpark.sf)
    val probe = SparkEntry.queries("ann_lsh_probe_migrated")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(probe.nonEmpty && probe == batch,
      "pe-step-migrated index must serve the batch form's exact top-3")
    // content gate: each migrated bucket file carries EXACTLY the rows
    // the direct-pe build routes there (prefix invariant + invariant
    // routing make the equality per-file, not just per-index)
    val (dirDirect, tD, pD) = Similarity.lshIndexFixture(spark, LocalSpark.sf)
    assert(tD == tables && pD == pe)
    for (n <- Seq(0, 7, 31, 63)) {
      def rows(d: String) = HiveBucketedIO.readBucketFile(spark, d, n)
        .select("key", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(rows(migDir) == rows(dirDirect),
        s"migrated bucket $n diverges from the direct pe=$pe build")
    }
  }

  test("the epoch migration plan is shuffle-free: zero Exchange in every per-file branch") {
    val (migDir, _, pe) = Similarity.lshIndexMigratedFixture(spark, LocalSpark.sf)
    val epoch0 = migDir + "_epoch0" // kept by the fixture as the migration source
    val branches = Similarity.migratedBuckets(spark, epoch0, pe - 1)
    for ((b, i) <- branches.zipWithIndex) {
      val plan = b.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"migration branch $i introduced a shuffle:\n$plan")
    }
    // and each branch is one partition, concatenated verbatim by the
    // RDD-level union — the partition→file identity the zero-shuffle
    // writer relies on (a DataFrame-level union would NOT preserve it:
    // CollapseRepartition pulls coalesce(1) through the union)
    val union = spark.sparkContext.union(
      branches.map(_.queryExecution.toRdd))
    assert(union.getNumPartitions == 64)
  }

  test("geometry is reused from the index meta, not recounted") {
    val (dir1, t1, p1) = Similarity.lshIndexFixture(spark, LocalSpark.sf)
    val (dir2, t2, p2) = Similarity.lshIndexFixture(spark, LocalSpark.sf)
    assert(dir1 == dir2 && t1 == t2 && p1 == p2)
    assert(t1 == 16 && p1 >= 6 && p1 <= 18)
  }

  test("incremental probe equals the batch answer; append touches only delta buckets") {
    import org.apache.hadoop.fs.Path
    val batch = SparkEntry.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    val (dir, tables, planes) = Similarity.lshIndexIncrFixture(spark, LocalSpark.sf)
    val incr = SparkEntry.queries("ann_lsh_probe_incremental")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(incr.nonEmpty && incr == batch,
      "base+appended-delta index must serve the batch form's exact top-3")
    // layout: every bucket has its generation-0 base file; generation-1
    // delta files exist only where delta keys actually landed, and the
    // union of generations carries the FULL corpus exactly once per table
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert((0 until 64).forall(n => names.contains(f"$n%06d_0")))
    val gen1 = names.count(_.endsWith("_1"))
    assert(gen1 > 0 && gen1 <= 64, s"expected some delta files, got $gen1")
    graft.Tables.register(spark, LocalSpark.sf)
    val nVec = spark.table("embeddings").count()
    val idx = spark.read.parquet(
      (0 until 64).flatMap(n => HiveBucketedIO.bucketGenFiles(spark, dir, n)): _*)
    assert(idx.count() == nVec * tables)
    assert(idx.select("vec_id").distinct().count() == nVec)
    // delta generations keep the within-file key sort (row-group stats)
    val aGen1 = names.filter(_.endsWith("_1")).min
    val keys = spark.read.parquet(s"$dir/$aGen1")
      .select("key").collect().map(_.getLong(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
      s"delta file $aGen1 not key-sorted")
  }

  test("a crashed (unmarked) append generation is invisible to readers and renumbered over") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.lit
    val dir = spark.conf.get("spark.sql.warehouse.dir") +
      "/_graft_fixtures/gen_marker_spec"
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (65L, "c")).toDF("key", "v")
    HiveBucketedIO.writeBucketed(base, dir, 4, Seq(col("key")), col("key"))
    // committed append: gen 1 with its marker
    HiveBucketedIO.appendBucketed(
      Seq((3L, "d")).toDF("key", "v"), dir, 4, Seq(col("key")), col("key"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dir, "_GEN_1_OK")))
    // simulate a crash mid-append: gen-2 files exist, marker does not
    val bucketOf3 = HiveBucketedIO.bucketIdOf(4, 3L)
    val partial = new Path(dir, f"$bucketOf3%06d_2")
    fs.create(partial).close() // content irrelevant — readers must never open it
    val visible = (0 until 4)
      .flatMap(n => HiveBucketedIO.bucketGenFiles(spark, dir, n))
    assert(!visible.exists(_.endsWith("_2")),
      "unmarked generation served to a reader")
    assert(spark.read.parquet(visible: _*).count() == 4) // base 3 + delta 1
    // the next append deletes the leftovers and reclaims generation 2
    HiveBucketedIO.appendBucketed(
      Seq((4L, "e")).toDF("key", "v"), dir, 4, Seq(col("key")), col("key"))
    assert(fs.exists(new Path(dir, "_GEN_2_OK")))
    val after = (0 until 4)
      .flatMap(n => HiveBucketedIO.bucketGenFiles(spark, dir, n))
    assert(spark.read.parquet(after: _*).count() == 5)
    assert(spark.read.parquet(after.filter(_.endsWith("_2")): _*)
      .select("key").as[Long].collect().toSeq == Seq(4L))
  }

  test("tombstoned index serves as if the deleted vectors were never indexed") {
    import org.apache.spark.sql.functions.{lit, shiftright}
    val served = SparkEntry.queries("ann_lsh_probe_deleted")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("ann_lsh_bucketed")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served != batch,
      "delete set changed no answer — the fixture is not exercising deletion")
    // from-scratch index over the corpus MINUS the delete set, at the
    // SAME build geometry (logical deletes don't step the epoch)
    val (_, tables, pe) = Similarity.lshIndexDeletedFixture(spark, LocalSpark.sf)
    graft.Tables.register(spark, LocalSpark.sf)
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.table("embeddings")
      .where(!(col("vec_id") >= 50 && col("vec_id") % 10 === 3))
    val rows = Similarity.lshIndexRows(emb, tables, pe)
    val dirScratch = spark.conf.get("spark.sql.warehouse.dir") +
      "/_graft_fixtures/lsh_scratch_nodel"
    HiveBucketedIO.writeBucketed(rows, dirScratch, 64, Seq(col("key")),
      shiftright(col("key"), pe) * lit(32L) + col("key").bitwiseAND(lit(31L)))
    val scratch = Similarity.probeIndexTopK(spark, dirScratch, tables, pe)
      .collect().map(_.toSeq).toSeq
    assert(served == scratch,
      "tombstone subtraction diverges from a never-indexed build")
  }

  test("folding tombstones reclaims them physically and serves the same bytes with no anti-join") {
    val (dir, tables, pe) = Similarity.lshIndexDeletedFixture(spark, LocalSpark.sf)
    val before = Similarity.probeIndexTopK(spark, dir, tables, pe)
      .collect().map(_.toSeq).toSeq
    assert(HiveBucketedIO.hasTombstones(spark, dir))
    // under-threshold tick: no-op (the Initiator discipline)
    assert(!HiveBucketedIO.foldTombstones(spark, dir, 64, ratio = 1e9))
    assert(HiveBucketedIO.hasTombstones(spark, dir))
    // real fold: tombstones folded into base files, layout recommitted
    assert(HiveBucketedIO.foldTombstones(spark, dir, 64, ratio = 1e-9,
      sortWithin = Seq(col("key"))))
    assert(!HiveBucketedIO.hasTombstones(spark, dir))
    val after = Similarity.probeIndexTopK(spark, dir, tables, pe)
      .collect().map(_.toSeq).toSeq
    assert(after == before, "fold changed the serving answer")
    // folded files keep the within-file key sort (row-group stats)
    val keys = HiveBucketedIO.readBucketFile(spark, dir, 1)
      .select("key").collect().map(_.getLong(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b })
    // the fixture dir no longer matches "has tombstones" semantics the
    // driver query relies on — force a rebuild for later tests/queries
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, Fixtures.Meta), false)
  }

  test("pq probe serves from persisted codes: batch-identical answer, no corpus re-encode") {
    val batch = SparkEntry.queries("ann_pq_adc")(spark, LocalSpark.sf)
      .collect().map(_.toSeq).toSeq
    val probe = SparkEntry.queries("ann_pq_adc_indexed")(spark, LocalSpark.sf)
    val got = probe.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == batch,
      "served ADC answer diverges from the recompute form")
    // plan gates: the only raw-embedding scan is the key-pruned query
    // row; the corpus side is the persisted code files (no embedding
    // column anywhere in their ReadSchema)
    val plan = probe.queryExecution.executedPlan.toString()
    val scans = plan.split("FileScan parquet").drop(1)
    val embScans = scans.filter(_.contains("embeddings"))
    assert(embScans.nonEmpty && embScans.forall(_.contains("EqualTo(vec_id,0")),
      s"probe scanned raw embeddings without the query-row pushdown:\n$plan")
    val codeScans = scans.filter(_.contains("pq_index_"))
    assert(codeScans.nonEmpty, s"probe did not read the persisted index:\n$plan")
    assert(!codeScans.exists(_.contains("embedding:array")),
      "a persisted-index scan decodes raw vectors — codes only, that's the PQ deal")
    // and the fixture is fingerprint-cached: a second call must not rebuild
    val d1 = Similarity.pqIndexFixture(spark, LocalSpark.sf)
    val d2 = Similarity.pqIndexFixture(spark, LocalSpark.sf)
    assert(d1 == d2)
  }

  test("ivf probe opens only the probed cells' code files and stays candidacy-consistent") {
    val probe = SparkEntry.queries("ann_pq_ivf_probe")(spark, LocalSpark.sf)
    val got = probe.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    // file pruning: nprobe=3 cells hash to at most 3 of the 16 code
    // files, decided on the driver — the scan never lists the rest
    val codeFiles = probe.inputFiles
      .filter(f => f.contains("pq_index_") && f.contains("/codes/")).distinct
    assert(codeFiles.nonEmpty && codeFiles.length <= 3,
      s"cell pruning opened ${codeFiles.length} of 16 code files")
    // same raw-vector discipline as the exhaustive probe: only the
    // key-pruned query row, never an embedding column off the index
    val plan = probe.queryExecution.executedPlan.toString()
    val scans = plan.split("FileScan parquet").drop(1)
    val embScans = scans.filter(_.contains("embeddings"))
    assert(embScans.nonEmpty && embScans.forall(_.contains("EqualTo(vec_id,0")),
      s"probe scanned raw embeddings without the query-row pushdown:\n$plan")
    assert(!scans.filter(_.contains("pq_index_")).exists(_.contains("embedding:array")),
      "a persisted-index scan decodes raw vectors")
    // candidacy consistency: every served neighbor is a member of a
    // probed cell, and its ADC distance equals the exhaustive probe's
    val exhaustive = SparkEntry.queries("ann_pq_adc_indexed")(spark, LocalSpark.sf)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val servedDists = got.map(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    assert(servedDists.forall { case (nid, d) =>
      exhaustive.get(nid).forall(_ == d) },
      "a probed neighbor's ADC distance diverges from the exhaustive scan")
  }

  test("a fixture is rebuilt when its embeddings source changes") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a private copy of the fixture whose corpus the test rewrites; a
    // new session keeps the shared session's views untouched
    val sfDir = Files.createTempDirectory("graft-ann-src")
    graft.Tables.names.foreach { t =>
      Files.copy(Paths.get(LocalSpark.sf, s"$t.parquet"), sfDir.resolve(s"$t.parquet"))
    }
    val s = spark.newSession()
    def indexRows(dir: String) = s.read.parquet(
      (0 until 64).flatMap(n => HiveBucketedIO.bucketGenFiles(s, dir, n)): _*).count()
    val (dir, tables, _) = Similarity.lshIndexFixture(s, sfDir.toString)
    val n0 = s.table("embeddings").count()
    assert(indexRows(dir) == n0 * tables)

    // the same file name, fewer vectors (the 50-query batch kept)
    val staged = Files.createTempDirectory("graft-ann-staged")
    s.table("embeddings").where(col("vec_id") < 300).coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, sfDir.resolve("embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.Tables.register(s, sfDir.toString)
    val n1 = s.table("embeddings").count()
    assert(n1 < n0)

    val (dir1, tables1, _) = Similarity.lshIndexFixture(s, sfDir.toString)
    assert(dir1 == dir)
    assert(indexRows(dir1) == n1 * tables1,
      "the index over the old corpus was served after its source changed")
    val probe = SparkEntry.queries("ann_lsh_probe_indexed")(s, sfDir.toString)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("ann_lsh_bucketed")(s, sfDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(probe.nonEmpty && probe == batch)
  }
}
