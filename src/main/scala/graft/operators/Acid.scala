package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive ACID UPDATE/DELETE (QL/parse/UpdateDeleteSemanticAnalyzer.java,
  * base+delta files — SURVEY.md §1.1) mapped to the vanilla-Spark
  * equivalent: read → rewrite → overwrite. No delta files or compactor
  * are needed because the rewrite IS the compaction.
  *
  * Scale behavior: an unscoped UPDATE/DELETE rewrites the whole table —
  * unavoidable without a delta format. Passing `partitionScope` (a
  * predicate over the table's partition columns) confines BOTH the read
  * and the rewrite to matching partitions under dynamic partition
  * overwrite, so at 100 TB the cost is proportional to touched
  * partitions, not table size. Rows outside the scope are untouched on
  * disk, not rewritten. Exception: an UPDATE whose assignment targets a
  * partition column can MOVE rows into partitions outside the scope —
  * dynamic overwrite would then replace those target partitions with
  * only the moved rows. That case falls back to a full static rewrite
  * (correct for any movement pattern; costs a table scan, like Hive's
  * own rewrite of a bucketed/partitioned update).
  *
  * Durability: the staged copy lives on the TABLE's own filesystem (a
  * `_graft_staging_*` sibling of the table directory), so on a real
  * cluster every executor writes to the shared FS — never to
  * driver-local temp (round-1 flaw). The final overwrite inherits
  * Spark's INSERT OVERWRITE commit protocol (job-commit rename); the
  * staged copy is kept until that commit returns, so a crash
  * mid-overwrite still leaves a complete staged copy on the table FS
  * for manual recovery.
  */
object Acid {

  /** UPDATE table SET assignments WHERE cond [scoped to partitions].
    * All assignment values and the condition are evaluated against the
    * ORIGINAL row (SQL UPDATE semantics) — a single projection, not
    * sequential withColumn rewrites where later assignments would see
    * earlier ones' results. */
  def updateTable(spark: SparkSession, table: String,
                  cond: Column, assignments: Map[String, Column],
                  partitionScope: Option[Column] = None): Unit =
    withWriterLock(spark, table) {
    val movesAcrossPartitions =
      partitionColumns(spark, table).exists(assignments.contains)
    (partitionScope, movesAcrossPartitions) match {
      case (Some(scope), true) =>
        // rows may leave the scoped partitions: rewrite the whole table
        // statically (see header) with the scope folded into the
        // update condition so out-of-scope rows pass through unchanged
        val base = spark.table(table)
        overwrite(spark, table,
          project(base, cond && scope, assignments), dynamicPartitions = false)
      case _ =>
        val base = scoped(spark, table, partitionScope)
        // UPDATE preserves per-partition row counts here (no partition
        // column changes), so every scoped partition reappears in the
        // staged output and dynamic overwrite covers all of them
        overwrite(spark, table,
          project(base, cond, assignments), partitionScope.isDefined)
    }
  }

  /** DELETE FROM table WHERE cond [scoped to partitions]. The whole
    * sequence — scoped-partition collect, staged overwrite, and the
    * emptied-partition DROP — runs under one statement-scoped writer
    * lock, so a racing writer can never commit a fresh partition
    * between the collect and the DROP and have it dropped as
    * "emptied". */
  def deleteFrom(spark: SparkSession, table: String, cond: Column,
                 partitionScope: Option[Column] = None): Unit =
    withWriterLock(spark, table) {
    val remaining = scoped(spark, table, partitionScope)
      .where(!coalesce(cond, lit(false)))
    partitionScope match {
      case None =>
        overwrite(spark, table, remaining, dynamicPartitions = false)
      case Some(scope) =>
        // dynamic overwrite only rewrites partitions PRESENT in the
        // staged data — a scoped partition whose every row is deleted
        // would silently survive. Record the scoped partitions first and
        // drop the ones the rewrite emptied.
        val partCols = partitionColumns(spark, table)
        require(partCols.nonEmpty, "partitionScope given but table is unpartitioned")
        val scopedParts = spark.table(table).where(scope)
          .select(partCols.map(col).toIndexedSeq: _*).distinct().collect()
        // partitions surviving the delete = partitions present in the
        // STAGED output (collected before the overwrite — afterwards the
        // untouched-by-dynamic-overwrite partitions would look "kept")
        val stagedParts = remaining
          .select(partCols.map(col).toIndexedSeq: _*).distinct().collect()
          .map(_.toSeq).toSet
        overwrite(spark, table, remaining, dynamicPartitions = true)
        scopedParts.filterNot(r => stagedParts.contains(r.toSeq)).foreach { r =>
          val spec = partCols.zip(r.toSeq).map { case (c, v) =>
            s"$c = '${String.valueOf(v).replace("'", "''")}'"
          }.mkString(", ")
          spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")
        }
    }
  }

  /** Hive ACID `MERGE INTO target USING source ON keys` (Hive 2.2
    * surface, QL MergeSemanticAnalyzer shape) in its dominant SCD-upsert
    * form: WHEN MATCHED [AND deleteCond] THEN DELETE, WHEN MATCHED THEN
    * UPDATE SET * (row replaced by the source row), WHEN NOT MATCHED
    * THEN INSERT *. Spark-first rewrite — three equi-joins on the merge
    * key (kept targets via anti join, surviving matches via semi join,
    * inserts via anti join), one staged overwrite; at scale all three
    * joins shuffle on the same key and AQE plans the small-source case
    * as broadcasts. Hive's cardinality rule is enforced (a source with
    * duplicate keys fails loudly instead of silently duplicating
    * target rows). `deleteCond` is evaluated over the SOURCE row, the
    * common change-data-capture spelling (e.g. an is_deleted flag).
    *
    * Lock caveat: the writer lock refreshes the TARGET table's listing
    * on acquire, which covers plans resolved inside this method — but a
    * caller-supplied `source` that itself scans the target table was
    * resolved BEFORE the lock and still carries a pre-lock file listing
    * (it can fail or read predecessor state under a racing writer).
    * Build `source` from other tables / literal data; if it must read
    * the target, re-read via `spark.table` inside your own lock scope. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            keyCols: Seq[String],
            deleteCond: Option[Column] = None): Unit = {
    require(keyCols.nonEmpty, "MERGE requires at least one key column")
    withWriterLock(spark, table) {
    val target = spark.table(table)
    val src = source.select(target.columns.map(col).toIndexedSeq: _*)
    val dupKeys = src.groupBy(keyCols.map(col): _*)
      .count().where(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"MERGE cardinality violation: source has duplicate keys ${dupKeys.mkString}")
    val targetKeys = target.select(keyCols.map(col).toIndexedSeq: _*)
    val kept = target.join(src.select(keyCols.map(col).toIndexedSeq: _*),
      keyCols, "left_anti")
    // the delete condition voids a source row EVERYWHERE — a matched
    // row deletes its target, and a NOT-matched delete event (re-
    // delivered or upstream-compacted CDC) must be a no-op, never an
    // insert of the ghost row
    val live = deleteCond match {
      case Some(c) => src.where(!coalesce(c, lit(false)))
      case None => src
    }
    val surviving = live.join(targetKeys, keyCols, "left_semi")
    val inserts = live.join(targetKeys, keyCols, "left_anti")
    overwrite(spark, table,
      kept.unionByName(surviving).unionByName(inserts),
      dynamicPartitions = false)
    }
  }

  /** Hive `ALTER TABLE ... [PARTITION ...] CONCATENATE`
    * (QL/parse/DDLSemanticAnalyzer, merge task — SURVEY.md §2.1 #19):
    * merge small files without changing data. Spark-first form: a
    * partition-pruned read, a repartition sized from the ACTUAL on-disk
    * bytes, then the same staged overwrite as UPDATE/DELETE — table-FS
    * staging, dynamic overwrite confined to the scoped partitions,
    * crash-safe.
    *
    * Convergence contract (so cron-ed compaction never rewrites a
    * healthy table): the no-op threshold is the file count the rewrite
    * itself would produce — Σ over row-bearing directories of
    * ceil(dirBytes / targetFileBytes) (each partition sized from its OWN
    * bytes: a skewed 10 GB partition splits across salt buckets instead
    * of funnelling through one task, while small partitions keep one
    * bucket and never fragment) plus the count of files in dirs that
    * yield no rows at all (zero-row residue from other writers — a
    * dynamic overwrite can never remove those, so they must not trigger
    * perpetual rewrites). The staged read-back scan is kept from
    * re-splitting the compacted files by raising `maxPartitionBytes` for
    * the duration of the overwrite.
    *
    * `partitionScope` must reference ONLY partition columns — a
    * data-column predicate would silently DELETE the non-matching rows
    * of rewritten partitions (this is a data-preserving operation, so it
    * refuses).
    *
    * @return (filesBefore, minAchievable) — equal when nothing was done
    */
  def concatenate(spark: SparkSession, table: String,
                  targetFileBytes: Long = 128L << 20,
                  partitionScope: Option[Column] = None): (Int, Int) = {
    require(targetFileBytes > 0)
    withWriterLock(spark, table) {
    val partCols = partitionColumns(spark, table)
    partitionScope.foreach { scope =>
      require(partCols.nonEmpty, "partitionScope given but table is unpartitioned")
      // NB: a freestanding Column is an opaque ColumnNodeExpression in
      // Spark 4 (its catalyst children are not traversable, and
      // .references is empty pre-resolution) — resolve the predicate
      // against the table and read the references off the ANALYZED plan
      val refs = spark.table(table).where(scope).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name.toLowerCase).toSeq
      }.flatten.toSet
      val bad = refs.diff(partCols.map(_.toLowerCase).toSet)
      require(bad.isEmpty,
        s"partitionScope must reference only partition columns; found ${bad.mkString(", ")} — " +
          "a data-column predicate would delete the non-matching rows of rewritten partitions")
    }
    val base = scoped(spark, table, partitionScope)
    val files = base.inputFiles // partition-pruned under a (validated) scope
    if (files.isEmpty) (0, 0) else {
    val fs = tableLocation(spark, table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // PER-DIRECTORY (= per-partition) byte totals, via one listStatus per
    // directory rather than one getFileStatus RPC per file —
    // many-small-files is exactly this operator's workload
    val byDir: Map[Path, Array[Path]] = files.map(new Path(_)).groupBy(_.getParent)
    val dirBytes: Map[Path, Long] = byDir.map { case (dir, paths) =>
      val names = paths.map(_.getName).toSet
      dir -> fs.listStatus(dir).collect {
        case st if names.contains(st.getPath.getName) => st.getLen
      }.sum
    }
    // files that actually yield rows: a dir whose files are ALL zero-row
    // (e.g. residue from another writer) cannot be removed by a dynamic
    // overwrite, so its files count as permanent in the no-op threshold
    // — otherwise cron-ed compaction would rewrite the healthy rest of
    // the table forever chasing unremovable files
    val rowFileNames = base.select(input_file_name().as("__f"))
      .distinct().collect().map(_.getString(0))
    val activeDirs = rowFileNames.map(new Path(_).getParent).toSet
    val residual = files.count(f => !activeDirs.contains(new Path(f).getParent))
    // salt-bucket count PER DIRECTORY from that directory's own bytes (a
    // global average would under-split one hot partition into a single
    // unbounded task and judge fragmented small partitions healthy):
    // each active dir compacts to ceil(dirBytes / targetFileBytes) files
    val dirK: Map[Path, Int] = dirBytes.collect {
      case (dir, bytes) if activeDirs.contains(dir) =>
        dir -> math.min(Int.MaxValue.toLong,
          math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong)).toInt
    }
    val minAchievable = math.min(Int.MaxValue.toLong,
      dirK.valuesIterator.map(_.toLong).sum + residual).toInt
    if (files.length > minAchievable) {
      // deterministic salt (rand() keys break shuffle-retry correctness):
      // data-column hash mod the source directory's own bucket count,
      // routed per row via a broadcast file→k map. The map keys are the
      // COLLECTED input_file_name() strings (same provenance as the join
      // column), so every row matches by construction; a left join +
      // coalesce guards the impossible miss anyway — an inner join here
      // would silently drop rows on a path-encoding mismatch.
      val dataCols = base.columns.filterNot(partCols.contains)
      val fileK = rowFileNames.toSeq.map { f =>
        f -> dirK.getOrElse(new Path(f).getParent, 1)
      }
      import spark.implicits._
      val kDf = fileK.toDF("__f", "__k")
      val hashExpr =
        if (dataCols.isEmpty) lit(0) else hash(dataCols.map(col).toIndexedSeq: _*)
      val nOut = math.max(1, math.min(minAchievable - residual, Int.MaxValue))
      val compacted = base.withColumn("__f", input_file_name())
        .join(broadcast(kDf), Seq("__f"), "left")
        .withColumn("__salt", pmod(hashExpr, coalesce(col("__k"), lit(1))))
        .repartition(nOut, (partCols.map(col) :+ col("__salt")).toIndexedSeq: _*)
        .drop("__f", "__k", "__salt")
      // the staged read-back must not re-split the just-compacted files
      // into maxPartitionBytes-sized scan tasks (one output file per
      // task would undo the merge and the operation would never converge)
      // (a session conf: Spark's FilePartition.maxSplitBytes reads no
      // per-read option)
      graft.Tables.withConf(spark, "spark.sql.files.maxPartitionBytes",
          (targetFileBytes * 4).toString) {
        overwrite(spark, table, compacted, dynamicPartitions = partitionScope.isDefined)
      }
      (files.length, minAchievable)
    } else (files.length, files.length)
    }
    }
  }

  private def project(base: DataFrame, cond: Column,
                      assignments: Map[String, Column]): DataFrame =
    base.select(base.columns.map { c =>
      assignments.get(c) match {
        case Some(v) => when(cond, v).otherwise(base(c)).as(c)
        case None => base(c)
      }
    }.toIndexedSeq: _*)

  private def partitionColumns(spark: SparkSession, table: String): Seq[String] =
    spark.catalog.listColumns(table)
      .collect().filter(_.isPartition).map(_.name).toSeq

  private def scoped(spark: SparkSession, table: String,
                     partitionScope: Option[Column]): DataFrame = {
    val df = spark.table(table)
    partitionScope.fold(df)(df.where) // partition predicate → pruned scan
  }

  /** The table's storage location (works for managed and external
    * datasource tables; DESCRIBE FORMATTED is the public API for it).
    * Only the detailed-information section is scanned — a user COLUMN
    * named "Location" would otherwise shadow the real row. */
  private[operators] def tableLocation(spark: SparkSession, table: String): Path =
    new Path(
      spark.sql(s"DESCRIBE FORMATTED ${quoted(table)}").collect()
        .dropWhile(!_.getString(0).trim.startsWith("# Detailed Table Information"))
        .find(_.getString(0).trim == "Location")
        .map(_.getString(1).trim)
        .getOrElse(throw new IllegalStateException(s"no Location for $table")))

  /** Exclusive per-table writer lock — the minimal analog of Hive's
    * lock-manager write lock (`QL/lockmgr/` in the canonical tree:
    * ZooKeeperHiveLockManager / DbTxnManager acquire an EXCLUSIVE lock
    * for the duration of a mutating statement). Spark-first form: a
    * lock FILE next to the table directory, created with the
    * filesystem's atomic create-if-absent (`fs.create(p, false)` —
    * O_EXCL semantics on HDFS and local FS; best-effort on object
    * stores without atomic create, where a real deployment swaps in
    * its coordination service). The lock is held for the WHOLE
    * statement — every public mutation (`updateTable` / `deleteFrom` /
    * `merge` / `concatenate`) wraps its full body, and the first thing
    * done under the lock is a `REFRESH TABLE`, which drops any file
    * listing Spark resolved before the lock was acquired. So a second
    * live writer blocks, then SUCCEEDS against the first writer's
    * committed state (Hive's EXCLUSIVE-lock guarantee) rather than
    * dying on a stale pre-commit listing. What
    * this deliberately does NOT provide — multi-statement
    * transactions, read locks (readers see whichever committed
    * snapshot the scan starts on; parquet overwrite commits are
    * atomic at the directory-rename level), deadlock detection — is
    * Hive DbTxnManager deployment surface, adjudicated in SURVEY §2.3.
    *
    * A holder that crashes leaves the lock file behind: waiters break
    * locks older than `ttlMs` (default 1h — the same
    * class of TTL the compactor uses for crashed staging dirs) and
    * otherwise fail loudly after `waitMs` (default 60s)
    * naming the holder token, never queue forever. Breaking is done by
    * an atomic `fs.rename` of the lock file to a unique tombstone —
    * never delete-then-create, where two waiters that both observed
    * the same expired lock could each delete, and B's delete would
    * remove the fresh lock A just re-created. Rename is atomic on
    * HDFS/local FS: exactly one breaker wins; losers loop back and
    * contend on create like everyone else. */
  private[graft] def withWriterLock[T](spark: SparkSession, table: String,
                                       waitMs: Long = 60000L,
                                       ttlMs: Long = 3600000L)
                                      (body: => T): T = {
    // a non-positive TTL would declare EVERY live writer's lock stale
    // and break it — silent lost-update territory, so refuse it here by
    // name (and before any catalog/filesystem work)
    require(waitMs >= 0, s"waitMs must be >= 0 (got $waitMs)")
    require(ttlMs > 0, s"ttlMs must be > 0 (got $ttlMs)")
    val lock = lockPath(spark, table)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName // pid@host
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        val out = fs.create(lock, false) // atomic create-if-absent
        try out.write(token.getBytes("UTF-8")) finally out.close()
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val stale =
            try System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime > ttlMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale) {
            // atomic break: rename to a unique tombstone — only one
            // breaker's rename of a given lock file succeeds. But rename
            // alone has a TOCTOU hole: between OUR staleness check and
            // OUR rename, another waiter can break the expired lock AND
            // re-create a fresh live lock at the same path — our rename
            // then succeeds against that FRESH lock (rename fails only
            // when the source is absent, not when it was replaced). So
            // after winning the rename, re-check the tombstone's OWN
            // mtime: only an actually-expired lock is discarded; a fresh
            // one was stolen from a live holder and is renamed straight
            // back (the holder never notices — it only touches the path
            // again at release).
            val tomb = new Path(lock.getParent,
              s"${lock.getName}.broken_${java.util.UUID.randomUUID().toString.take(8)}")
            if (fs.rename(lock, tomb)) {
              val tombStale =
                try System.currentTimeMillis() -
                  fs.getFileStatus(tomb).getModificationTime > ttlMs
                catch { case _: java.io.FileNotFoundException => true }
              // (If the stolen holder released in this same window, the
              // restore re-creates a lock nobody holds — that lock is
              // unreadable-by-token and expires by TTL: a bounded
              // liveness hiccup, never two concurrent writers.)
              if (tombStale) fs.delete(tomb, false)
              else if (!fs.rename(tomb, lock))
                // the path was re-created while we held the stolen lock
                // as a tombstone: restoring is impossible and two live
                // writers would otherwise proceed — fail loudly
                throw new IllegalStateException(
                  s"writer-lock break race on $table: stole live lock " +
                    s"$lock but could not restore it (path re-created); " +
                    s"manual check required — stolen copy kept at $tomb")
            }
            // loop: contend on create like everyone else
          }
          else if (System.currentTimeMillis() > deadline) {
            val holder =
              try {
                val in = fs.open(lock)
                try new String(in.readAllBytes(), "UTF-8") finally in.close()
              } catch { case _: Exception => "<unreadable>" }
            throw new IllegalStateException(
              s"writer lock on $table held by $holder (lock file $lock); " +
                s"waited ${waitMs}ms — concurrent writer, or break a dead " +
                "holder by deleting the lock file")
          } else Thread.sleep(200)
      }
    }
    try {
      // any plan resolved BEFORE the lock was acquired holds the
      // predecessor's file listing; refresh so the statement's reads
      // resolve against the committed post-predecessor state
      spark.sql(s"REFRESH TABLE ${quoted(table)}")
      body
    } finally fs.delete(lock, false)
  }

  /** Backtick-quote a (possibly db-qualified) identifier for embedding
    * in SQL text — each dot-separated part quoted separately. */
  private[graft] def quoted(table: String): String =
    table.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")

  private[graft] def lockPath(spark: SparkSession, table: String): Path = {
    val tableDir = tableLocation(spark, table)
    new Path(tableDir.getParent, s"_graft_lock_${tableDir.getName}")
  }

  /** Staged table overwrite. Callers hold the statement-scoped writer
    * lock already (the public entry points wrap their whole bodies and
    * the lock is non-reentrant) — this method does NOT acquire it. */
  private def overwrite(spark: SparkSession, table: String, data: DataFrame,
                        dynamicPartitions: Boolean): Unit = {
    // stage to a scratch directory ON THE TABLE'S FILESYSTEM (a
    // distributed write — never a driver-side collect or driver-local
    // temp dir), because overwriting a table from a plan that reads the
    // same table would truncate the source mid-read
    val tableDir = tableLocation(spark, table)
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(tableDir.getParent,
      s"_graft_staging_${tableDir.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    data.write.mode("overwrite").parquet(staging.toString)
    def insert(): Unit =
      spark.read.parquet(staging.toString).write.mode("overwrite").insertInto(table)
    // dynamic mode rewrites ONLY the partitions present in the staged
    // data. A session conf: insertInto drops the writer's options before
    // InsertIntoHadoopFsRelationCommand reads the mode
    try {
      if (dynamicPartitions)
        graft.Tables.withConf(spark,
          "spark.sql.sources.partitionOverwriteMode", "dynamic")(insert())
      else insert()
    } catch { case e: Throwable =>
      // overwrite failed mid-commit: the staged copy is now the only
      // complete version of the data — KEEP it (the header's recovery
      // guarantee) and tell the operator where it is
      throw new IllegalStateException(
        s"overwrite of $table failed; complete staged copy kept at $staging", e)
    }
    // success: the staged copy is table-sized — never leak it
    fs.delete(staging, true)
  }
}
