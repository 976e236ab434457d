package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{HiveHash, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Hive-compatible bucketed-table layout: read path with bucket pruning
  * (SURVEY.md §7.3#3 — the `BucketMapJoinOptimizer`-era contract;
  * Hive `serde2/objectinspector/ObjectInspectorUtils.getBucketNumber`:
  * `(hashCode & Integer.MAX_VALUE) % numberOfBuckets`, with
  * `getBucketHashCode` the per-type hash Spark ships verbatim as
  * `catalyst.expressions.HiveHash`; bucket files are `%06d_0` in the
  * table directory, Hive `ql/exec/Utilities` naming).
  *
  * Why it matters: Spark's own `bucketBy` uses Murmur3, so a table
  * written by Hive CANNOT be bucket-pruned (or SMB-joined) by Spark's
  * native bucketing — a migrating user's existing bucketed warehouse
  * would silently fall back to full scans. This module maps Hive's
  * file→bucket contract directly: a point lookup on the bucket key
  * hashes the literal ONCE on the driver and reads exactly one of the
  * N bucket files — 1/N of the table's bytes at any scale, no filter
  * pass over the other buckets. That is the same I/O shape Hive's
  * bucket pruning produced, recovered under Spark.
  *
  * Keys hash as BIGINT on both write and read (Hive's long hash
  * `(int)(v ^ (v >>> 32))` equals the int hash for all values < 2^31,
  * and casting both sides makes the contract exact for ANY key
  * domain). The writer routes rows in ONE shuffle (repartition on the
  * bucket id, dynamic-partition write, N driver-side renames), so
  * producing Hive-layout data is a single data pass at any scale —
  * though in the migration story the bucketed data usually already
  * exists (Hive wrote it), and the product surface is the read path.
  */
object HiveBucketedIO {

  /** Hive bucket id of (possibly compound) key columns. */
  def bucketIdColumn(numBuckets: Int, keys: Column*): Column =
    Bridge.column(HiveHash(keys.map(Bridge.expression)))
      .bitwiseAND(lit(Int.MaxValue)) % lit(numBuckets)

  /** Driver-side bucket id of a literal key — the pruning decision. */
  def bucketIdOf(numBuckets: Int, key: Any): Int = {
    val h = HiveHash(Seq(Literal(key))).eval(null).asInstanceOf[Int]
    (h & Int.MaxValue) % numBuckets
  }

  /** Hive's bucket-file name for bucket n (first copy). */
  def bucketFileName(n: Int): String = f"$n%06d_0"

  /** Writes `df` into Hive bucket-file layout under `dir` (parquet
    * content, Hive file naming/routing). Fixture-scale: one filtered
    * pass: see below.
    *
    * `sortWithin` (the ANN index path): secondary sort columns
    * applied INSIDE each bucket's task after the bucket routing — rows
    * land in the bucket file in that order, so parquet row-group
    * min/max statistics on those columns become selective and a
    * key-filtered read decodes only the matching row groups (Hive's
    * own `SORTED BY` clustered-table contract). No extra pass: the
    * dynamic-partition writer's required ordering (partition column
    * prefix) is already satisfied by the explicit sort, so the write
    * planner inserts no second sort on top. */
  def writeBucketed(df: DataFrame, dir: String, numBuckets: Int,
                    sortWithin: Seq[Column], keys: Column*): Unit = {
    val spark = df.sparkSession
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new Path(dir)
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    routeAndRename(df, dir, numBuckets, sortWithin, keys, gen = 0,
      emptyBucketFiles = true)
    // marker written LAST: its presence certifies a complete layout
    fs.create(new Path(out, "_BUCKETS_OK")).close()
  }

  /** Appends a delta batch to an EXISTING bucketed layout as the next
    * file GENERATION per bucket (`%06d_1`, `%06d_2`, … — Hive's own
    * multi-copy bucket-file naming): the base files are never
    * rewritten, only buckets that actually receive delta rows gain a
    * file, and the delta is routed/sorted by the SAME hash and sort
    * contract, so per-bucket reads stay pruned and row-group stats
    * stay selective. This is the index MAINTENANCE path: one
    * shuffle of the delta, O(delta) work at any corpus size — a full
    * rebuild is only needed when the layout itself must change (more
    * buckets, new geometry). Readers that must see appended data use
    * `bucketGenFiles`/`readBucketGens`; the single-generation readers
    * keep their one-file contract for gen-0-only tables. */
  def appendBucketed(df: DataFrame, dir: String, numBuckets: Int,
                     sortWithin: Seq[Column], keys: Column*): Unit = {
    val spark = df.sparkSession
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dir, "_BUCKETS_OK")),
      s"append target $dir is not a complete bucketed layout")
    // Committed-generation discipline (mirrors _BUCKETS_OK): a
    // generation exists for readers only once its _GEN_<g>_OK marker
    // does, and the marker is written LAST. A crash mid-append leaves
    // unmarked files that (a) readers ignore (`bucketGenFiles` serves
    // the last committed state) and (b) the NEXT append deletes and
    // re-numbers over — so a partial delta can never be served and the
    // generation sequence has no committed gaps.
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    val committed = committedGens(names)
    names.collect { case n @ BucketFileRe(_, g) if !committed(g.toInt) => n }
      .foreach(n => fs.delete(new Path(dir, n), false))
    val gen = committed.max + 1
    routeAndRename(df, dir, numBuckets, sortWithin, keys, gen,
      emptyBucketFiles = false)
    // marker written LAST: its presence certifies a complete delta
    fs.create(new Path(dir, genMarkerName(gen))).close()
  }

  private val BucketFileRe = """(\d{6})_(\d+)""".r
  private val GenMarkerRe = """_GEN_(\d+)_OK""".r
  private def genMarkerName(g: Int): String = s"_GEN_${g}_OK"
  private val TombFileRe = """(\d{6})_d(\d+)""".r
  private val TombMarkerRe = """_TOMBS_(\d+)_OK""".r
  private def tombMarkerName(g: Int): String = s"_TOMBS_${g}_OK"

  /** Writes a DELETE batch as a tombstone generation: rows routed by
    * the SAME bucket hash as the data (a tombstone lands exactly where
    * the row it retires lives, so a pruned read picks up its bucket's
    * tombstones for free), one `%06d_d<g>` file per hit bucket, marker
    * `_TOMBS_<g>_OK` written LAST (crash → unmarked files are invisible
    * and the next delete renumbers over them — the appendBucketed
    * discipline). `df`'s columns are the anti-join identity readers
    * subtract on (for the LSH index: key, vec_id). O(delta) work at
    * any corpus size; base files byte-untouched. This is Hive's ACID
    * delete-delta file in bucket-layout form (QL/io/AcidInputFormat
    * delete deltas, SURVEY §1.1): logical deletion now, physical
    * reclamation deferred to `foldTombstones`. */
  def deleteBucketed(df: DataFrame, dir: String, numBuckets: Int,
                     keys: Column*): Unit = {
    val spark = df.sparkSession
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dir, "_BUCKETS_OK")),
      s"delete target $dir is not a complete bucketed layout")
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    val committed = names.collect { case TombMarkerRe(g) => g.toInt }.toSet
    names.collect { case n @ TombFileRe(_, g) if !committed(g.toInt) => n }
      .foreach(n => fs.delete(new Path(dir, n), false))
    val gen = (committed + 0).max + 1
    val staging = new Path(dir + "_tomb_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    val routed = df.withColumn("__bucket", bucketIdColumn(numBuckets, keys: _*))
      .repartition(numBuckets, col("__bucket"))
      .sortWithinPartitions(col("__bucket"))
    routed.write.partitionBy("__bucket").parquet(staging.toString)
    try {
      for (n <- 0 until numBuckets) {
        val bucketDir = new Path(staging, s"__bucket=$n")
        if (fs.exists(bucketDir)) {
          val parts = fs.listStatus(bucketDir).map(_.getPath)
            .filter(_.getName.startsWith("part-"))
          parts match {
            case Array(single) =>
              fs.rename(single, new Path(dir, f"$n%06d_d$gen"))
            case Array() => ()
            case many => sys.error(
              s"tombstone bucket $n produced ${many.length} files")
          }
        }
      }
    } finally fs.delete(staging, true)
    fs.create(new Path(dir, tombMarkerName(gen))).close()
  }

  /** COMMITTED tombstone files of bucket `n`, sorted. */
  def bucketTombFiles(spark: SparkSession, dir: String, n: Int): Seq[String] = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq
    val committed = names.collect { case TombMarkerRe(g) => g.toInt }.toSet
    names.collect {
      case nm @ TombFileRe(b, g) if b.toInt == n && committed(g.toInt) => nm
    }.sorted.map(nm => new Path(dir, nm).toString)
  }

  /** True if the layout has ANY committed tombstones (one FS listing —
    * the serving path's cheap "do I need the anti-join at all" test). */
  def hasTombstones(spark: SparkSession, dir: String): Boolean = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    val committed = names.collect { case TombMarkerRe(g) => g.toInt }.toSet
    names.exists { case TombFileRe(_, g) => committed(g.toInt); case _ => false }
  }

  /** MAJOR compaction of a tombstoned layout — the Compactor-tick
    * analog for bucket-file indexes (Hive: delete-delta fold during
    * major compaction). Metadata-only trigger first (the Initiator
    * discipline): fold only when committed tombstone bytes reach
    * `ratio` of data bytes — below it the logical deletes stay cheap
    * and base files stay byte-untouched. The fold itself is 64
    * independent per-file `zipPartitions` filters (data minus its own
    * bucket's tombstones, matched on the tombstone columns by byte
    * equality through UnsafeProjection) — ZERO shuffle, written
    * through the same local-rewrite path as the epoch migration.
    * `sortWithin` restores the layout's within-file sort contract: a
    * base generation alone folds in file order, but base ⊕ appended
    * deltas are separately-sorted runs whose concatenation is NOT
    * key-sorted (and Spark's split packing orders multi-file scans by
    * size, not name) — without the local re-sort a fold would silently
    * demote every future probe's row-group pruning to full-file
    * decodes. The sort is per-partition (no exchange), so the fold
    * stays a per-file pass. Crash story: the layout's `_BUCKETS_OK` is
    * the commit point of the swapped-in fold; a crash mid-swap leaves
    * the marker absent and the standard rebuild/rerun discipline
    * applies (the index is derived data). Returns true if a fold ran. */
  def foldTombstones(spark: SparkSession, dir: String, numBuckets: Int,
                     ratio: Double = 0.2,
                     sortWithin: Seq[Column] = Nil): Boolean = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.listStatus(new Path(dir))
    val committedT = stats.map(_.getPath.getName)
      .collect { case TombMarkerRe(g) => g.toInt }.toSet
    val tombBytes = stats.filter(s => s.getPath.getName match {
      case TombFileRe(_, g) => committedT(g.toInt); case _ => false
    }).map(_.getLen).sum
    val dataBytes = stats.filter(s => s.getPath.getName match {
      case BucketFileRe(_, _) => true; case _ => false
    }).map(_.getLen).sum
    if (tombBytes == 0 || tombBytes.toDouble < ratio * dataBytes) return false
    val schema = readBucketFile(spark, dir, 0).schema
    val tombSchema = spark.read
      .parquet(bucketTombFiles(spark, dir,
        (0 until numBuckets).find(bucketTombFiles(spark, dir, _).nonEmpty).get).head)
      .schema
    val antiIdx = tombSchema.fields.map(f => schema.fieldIndex(f.name))
    val antiTypes = tombSchema.fields.map(_.dataType)
    val branches = (0 until numBuckets).map { n =>
      val merged = spark.read
        .parquet(bucketGenFiles(spark, dir, n): _*).coalesce(1)
      val data = (if (sortWithin.isEmpty) merged
                  else merged.sortWithinPartitions(sortWithin: _*))
        .queryExecution.toRdd
      bucketTombFiles(spark, dir, n) match {
        case Nil => data
        case tf =>
          val tombs = spark.read.parquet(tf: _*).coalesce(1)
            .queryExecution.toRdd
          data.zipPartitions(tombs) { (dit, tit) =>
            import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
            val tProj = UnsafeProjection.create(antiTypes.zipWithIndex.map {
              case (dt, i) => BoundReference(i, dt, nullable = true)
            }.toIndexedSeq)
            val dProj = UnsafeProjection.create(antiTypes.zip(antiIdx).map {
              case (dt, i) => BoundReference(i, dt, nullable = true)
            }.toIndexedSeq)
            val dead = new scala.collection.mutable.HashSet[UnsafeRow]
            tit.foreach(r => dead += tProj(r).copy())
            dit.filter(r => !dead.contains(dProj(r)))
          }
      }
    }
    val foldDir = dir + "_fold"
    writeBucketedLocalCore(spark, branches, schema, foldDir)
    // swap: uncommit the live layout, move folded files in, recommit
    fs.delete(new Path(dir, "_BUCKETS_OK"), false)
    stats.map(_.getPath.getName).foreach {
      case nm @ (BucketFileRe(_, _) | TombFileRe(_, _) | TombMarkerRe(_) |
                 GenMarkerRe(_)) =>
        fs.delete(new Path(dir, nm), true)
      case _ => ()
    }
    fs.listStatus(new Path(foldDir)).map(_.getPath)
      .filter(_.getName != "_BUCKETS_OK")
      .foreach(p => fs.rename(p, new Path(dir, p.getName)))
    fs.create(new Path(dir, "_BUCKETS_OK")).close()
    fs.delete(new Path(foldDir), true)
    true
  }

  /** Generations certified complete: 0 via `_BUCKETS_OK` (the caller
    * checks it), appended deltas via their `_GEN_<g>_OK` markers. */
  private def committedGens(names: Seq[String]): Set[Int] =
    names.collect { case GenMarkerRe(g) => g.toInt }.toSet + 0

  /** ZERO-SHUFFLE bucket-layout write for data that is ALREADY routed:
    * `parts(i)` must be a single-partition DataFrame holding exactly
    * bucket i's rows in their final within-file order (the caller's
    * per-bucket transform — e.g. the LSH re-bucketing epoch's local
    * key split — keeps rows in their bucket, so no exchange is ever
    * needed). The branches are unioned into one job whose partition i
    * IS bucket i (union concatenates child partitions in order and
    * every branch is one partition), written once, and each task's
    * part-%05d file renamed to Hive's %06d_0 — Spark's task file
    * numbering is the partition id, which is what makes the rename
    * mapping exact. The union happens at the RDD level: the optimizer's
    * CollapseRepartition pulls a DataFrame-level `coalesce(1)` THROUGH
    * a union (collapsing all branches into one partition and one
    * task), while `sparkContext.union` concatenates the branch
    * partitions verbatim. Buckets whose partition emitted no file
    * (empty) get schema-only placeholders; `_BUCKETS_OK` is written
    * LAST. Every branch plan is asserted exchange-free — a regression
    * that re-introduces a shuffle fails loudly here rather than
    * silently costing a full re-route at deployment scale. */
  def rewriteBucketedLocal(parts: Seq[DataFrame], dir: String): Unit = {
    require(parts.nonEmpty, "no bucket partitions to write")
    val rdds = parts.zipWithIndex.map { case (p, i) =>
      val plan = p.queryExecution.executedPlan.toString()
      require(!plan.contains("Exchange"),
        s"local bucket rewrite branch $i contains a shuffle:\n$plan")
      p.queryExecution.toRdd
    }
    writeBucketedLocalCore(parts.head.sparkSession, rdds, parts.head.schema, dir)
  }

  /** RDD-level core of the zero-shuffle layout write: `rdds(i)` is one
    * partition holding bucket i's final rows in final order. Shared by
    * `rewriteBucketedLocal` (DataFrame branches) and `foldTombstones`
    * (zipPartitions branches, which have no SQL plan to check). */
  private def writeBucketedLocalCore(
      spark: SparkSession,
      rdds: Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]],
      schema: org.apache.spark.sql.types.StructType, dir: String): Unit = {
    rdds.zipWithIndex.foreach { case (rdd, i) =>
      require(rdd.getNumPartitions == 1,
        s"branch $i is ${rdd.getNumPartitions} partitions, not 1 — " +
          "partition/bucket mapping broken")
    }
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new Path(dir)
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val df = Bridge.internalCreateDataFrame(
      spark, spark.sparkContext.union(rdds), schema)
    val staging = new Path(dir + "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    df.write.parquet(staging.toString)
    val PartRe = """part-(\d{5})-.*""".r
    try {
      val written = fs.listStatus(staging)
        .map(_.getPath)
        .flatMap(p => p.getName match {
          case PartRe(i) => Some(i.toInt -> p)
          case _         => None
        }).toMap
      for (n <- rdds.indices) {
        val target = new Path(out, f"$n%06d_0")
        written.get(n) match {
          case Some(p) => fs.rename(p, target)
          case None => // empty bucket: schema-only placeholder
            df.limit(0).write.parquet((target + "_tmp"))
            val p = fs.listStatus(new Path(target + "_tmp")).map(_.getPath)
              .find(_.getName.startsWith("part-")).get
            fs.rename(p, target)
            fs.delete(new Path(target + "_tmp"), true)
        }
      }
    } finally fs.delete(staging, true)
    fs.create(new Path(out, "_BUCKETS_OK")).close()
  }

  /** One shuffle at any scale: repartition on the bucket id so each
    * bucket's rows land in a single task, then a dynamic-partition
    * write emits exactly one file per __bucket=N directory (one task
    * owns each directory). The driver then renames each directory's
    * part file to Hive's flat %06d_<gen> layout — ≤N cheap FS renames,
    * no second data pass. (A task may own several buckets; it still
    * writes one file per directory.) `emptyBucketFiles`: the full
    * write lays down schema-only files for empty buckets (the read
    * contract needs all N); an append skips them. */
  private def routeAndRename(df: DataFrame, dir: String, numBuckets: Int,
                             sortWithin: Seq[Column], keys: Seq[Column],
                             gen: Int, emptyBucketFiles: Boolean): Unit = {
    val spark = df.sparkSession
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new Path(dir)
    val staging = new Path(dir + "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    val routed = df.withColumn("__bucket", bucketIdColumn(numBuckets, keys: _*))
      .repartition(numBuckets, col("__bucket"))
    val ordered =
      if (sortWithin.isEmpty) routed
      else routed.sortWithinPartitions(col("__bucket") +: sortWithin: _*)
    ordered.write.partitionBy("__bucket").parquet(staging.toString)
    try {
      for (n <- 0 until numBuckets) {
        val bucketDir = new Path(staging, s"__bucket=$n")
        val target = new Path(out, f"$n%06d_$gen")
        val parts =
          if (fs.exists(bucketDir))
            fs.listStatus(bucketDir).map(_.getPath)
              .filter(_.getName.startsWith("part-"))
          else Array.empty[Path]
        parts match {
          case Array(single) => fs.rename(single, target)
          case Array() if emptyBucketFiles => // schema-only placeholder
            df.limit(0).write.parquet((target + "_tmp"))
            val p = fs.listStatus(new Path(target + "_tmp")).map(_.getPath)
              .find(_.getName.startsWith("part-")).get
            fs.rename(p, target)
            fs.delete(new Path(target + "_tmp"), true)
          case Array() => () // append: bucket got no delta rows
          case many => sys.error(
            s"bucket $n produced ${many.length} files — repartition contract broken")
        }
      }
    } finally fs.delete(staging, true)
  }

  /** All COMMITTED generations of bucket `n` (base + appended deltas
    * whose `_GEN_<g>_OK` marker exists), sorted. Unmarked generations
    * are a crashed append's leftovers — serving them would expose a
    * partial delta, so they are invisible here until the next append
    * reclaims their numbers. */
  def bucketGenFiles(spark: SparkSession, dir: String, n: Int): Seq[String] = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedGens(
      fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq)
    fs.globStatus(new Path(dir, f"$n%06d_*")).toSeq
      .map(_.getPath)
      .filter(p => p.getName match {
        case BucketFileRe(_, g) => committed(g.toInt)
        case _                  => false
      })
      .map(_.toString).sorted
  }

  /** Unsorted-file form, for plain bucket-routing callers. */
  def writeBucketed(df: DataFrame, dir: String, numBuckets: Int,
                    keys: Column*): Unit =
    writeBucketed(df, dir, numBuckets, Nil, keys: _*)

  /** Reads one bucket file (1/numBuckets of the table's bytes). */
  def readBucketFile(spark: SparkSession, dir: String, n: Int): DataFrame =
    spark.read.parquet(new Path(dir, bucketFileName(n)).toString)

  /** Reads the whole bucketed table (all bucket files). */
  def readAll(spark: SparkSession, dir: String, numBuckets: Int): DataFrame =
    spark.read.parquet(
      (0 until numBuckets).map(n => new Path(dir, bucketFileName(n)).toString): _*)

  /** Bucket-pruned point lookup: hashes the literal on the driver,
    * scans only that bucket's file, applies the key equality as the
    * residual filter. The key column must be the table's (single)
    * bucket key, hashed as BIGINT at write time. */
  def lookup(spark: SparkSession, dir: String, numBuckets: Int,
             keyCol: String, value: Long): DataFrame =
    readBucketFile(spark, dir, bucketIdOf(numBuckets, value))
      .where(col(keyCol) === lit(value))

  /** Exchange-free inner equi-join of two CO-BUCKETED Hive-layout
    * tables — the `BucketMapJoinOptimizer` contract recovered under
    * Spark: both tables hashed the join key with HiveHash into the
    * same bucket count, so bucket i of A can only match bucket i of B.
    * Bucket pairs are aligned as same-index RDD partitions (one
    * partition per bucket file) and joined with a per-bucket hash
    * build via `zipPartitions` — NO shuffle of either side at any
    * scale; each task streams one A-bucket against the hash table of
    * one B-bucket (the build side is bucket-sized, which is the same
    * memory contract Hive's bucket map join required). Output columns:
    * all of A's, then B's minus its join key. */
  def bucketedJoin(spark: SparkSession, dirA: String, dirB: String,
                   numBuckets: Int, keyA: String, keyB: String): DataFrame = {
    import org.apache.spark.sql.types.StructType
    def perBucket(dir: String) = (0 until numBuckets)
      .map(i => readBucketFile(spark, dir, i).rdd.coalesce(1))
    val schemaA = readBucketFile(spark, dirA, 0).schema
    val schemaB = readBucketFile(spark, dirB, 0).schema
    val kA = schemaA.fieldIndex(keyA)
    val kB = schemaB.fieldIndex(keyB)
    val bIdx = schemaB.indices.filterNot(_ == kB)
    val joinedSchema = StructType(schemaA.fields ++ bIdx.map(schemaB(_)))
    val rddA = spark.sparkContext.union(perBucket(dirA))
    val rddB = spark.sparkContext.union(perBucket(dirB))
    val joined = rddA.zipPartitions(rddB) { (ita, itb) =>
      // hash-build the B bucket, stream the A bucket against it
      val build = new scala.collection.mutable.HashMap[Any,
        scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]]()
      itb.foreach { r =>
        val k = r.get(kB)
        if (k != null)
          build.getOrElseUpdate(k,
            new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()) += r
      }
      ita.flatMap { a =>
        val k = a.get(kA)
        if (k == null) Iterator.empty
        else build.get(k) match {
          case None => Iterator.empty
          case Some(bs) => bs.iterator.map { b =>
            org.apache.spark.sql.Row.fromSeq(
              a.toSeq ++ bIdx.map(b.get))
          }
        }
      }
    }
    spark.createDataFrame(joined, joinedSchema)
  }

  // ------------------------------------------------------------------
  // driver-contract query: customer bucketed by c_custkey into 8 Hive
  // buckets, point lookups pruned to one file each
  // ------------------------------------------------------------------

  private val NumBuckets = 8

  /** Hive-bucket-layout copy of `table` bucketed on `key` for `sfDir`,
    * a `graft.Fixtures.buildOnce` fixture: built once per warehouse and
    * rebuilt when the table's files change. */
  def tableFixture(spark: SparkSession, sfDir: String,
                   table: String, key: String): String =
    graft.Fixtures.buildOnce(spark, sfDir, s"hive_bucketed_$table$NumBuckets",
        Seq(table), committed = "_BUCKETS_OK") { dir =>
      writeBucketed(spark.table(table), dir, NumBuckets, col(key).cast("bigint"))
      0L
    }._1

  def customerFixture(spark: SparkSession, sfDir: String): String =
    tableFixture(spark, sfDir, "customer", "c_custkey")

  private type Q = (SparkSession, String) => DataFrame

  private val LookupKeys = Seq(1L, 19L, 42L)

  val queries: Map[String, Q] = Map(
    "source_hive_bucket_lookup" -> ((spark, sfDir) => {
      val dir = customerFixture(spark, sfDir)
      LookupKeys
        .map(k => lookup(spark, dir, NumBuckets, "c_custkey", k))
        .reduce(_ union _)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // co-located bucket join (BucketMapJoinOptimizer twin): customer
    // and orders both Hive-bucketed on the customer key, joined
    // exchange-free via aligned bucket partitions; the aggregate after
    // the join is the only shuffle in the query. The oracle re-derives
    // the same join from the source parquet — equality proves both
    // routing (no key lands in the wrong bucket pair) and completeness
    // (no match lost at a bucket boundary).
    "join_hive_bucketed_colocated" -> ((spark, sfDir) => {
      val dirC = tableFixture(spark, sfDir, "customer", "c_custkey")
      val dirO = tableFixture(spark, sfDir, "orders", "o_custkey")
      bucketedJoin(spark, dirO, dirC, NumBuckets, "o_custkey", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")
            .cast("decimal(18,0)")).cast("bigint").as("price_cents"))
        .orderBy(col("c_mktsegment"))
    })
  )

  // the oracle reads the SOURCE table: the bucket-pruned read of the
  // fixture must return exactly the rows a plain key filter returns
  val oracle: Map[String, String] = Map(
    "source_hive_bucket_lookup" -> s"""
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey IN (${LookupKeys.mkString(", ")})
      ORDER BY c_custkey""",

    "join_hive_bucketed_colocated" -> """
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""
  )
}
