package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** LOAD DATA statement analog (SURVEY.md §3.2 dispatch table `TOK_LOAD
  * → QL/parse/LoadSemanticAnalyzer` in the canonical tree): Hive's
  * file-relocation ingest — `LOAD DATA [LOCAL] INPATH p [OVERWRITE]
  * INTO TABLE t [PARTITION (k=v)]` moves (INPATH) or copies (LOCAL
  * INPATH) files into the table's / partition's warehouse directory
  * and registers the partition in the metastore. No rows are read,
  * parsed, or rewritten — that is the whole point of the statement:
  * at warehouse scale, ingest of already-correctly-formatted files is
  * a metadata operation plus an O(files) rename, never a data job.
  *
  * Spark-first mapping, two dispatch targets:
  *  - Hive-serde tables on a Hive-metastore session (the Verify
  *    correctness harness): Spark SQL ships the statement natively
  *    (`LoadDataCommand`), so the analog IS Spark's own `LOAD DATA`
  *    against a `STORED AS PARQUET` table.
  *  - Datasource (`USING parquet`) tables, where Spark refuses the
  *    statement: the same semantics implemented directly — an
  *    O(files) filesystem rename into the table/partition directory
  *    plus `ALTER TABLE ... ADD PARTITION` registration. Identical
  *    contract (no data job), so the one correctness row holds on
  *    both catalog implementations.
  *
  * Surface parity with the reference (Hive 1.2 LoadSemanticAnalyzer):
  *  - unpartitioned LOAD and static-partition LOAD (`PARTITION
  *    (k=v)`) — both covered (row + WritePathsSpec);
  *  - dynamic-partition LOAD does NOT exist in the reference (its
  *    LoadSemanticAnalyzer requires a full static spec; dynamic
  *    ingest is the INSERT path, covered by WritePathsSpec's dynamic
  *    partition cases) — parity means not inventing it here either;
  *  - `OVERWRITE` clears the target directory first; without it files
  *    accumulate (append semantics, collision-safe renames);
  *  - `LOCAL` copies and keeps the source; plain INPATH moves it.
  */
object LoadData {

  /** Issue the statement (or its datasource-table equivalent).
    * `partition` e.g. `Seq("s_nationkey" -> "3")` — values rendered as
    * SQL literals (pure integers unquoted, everything else quoted). */
  def loadData(
      spark: SparkSession,
      inPath: String,
      table: String,
      partition: Seq[(String, String)] = Nil,
      overwrite: Boolean = false,
      local: Boolean = false): Unit = {
    val (db, tbl) = splitTarget(spark, table)
    // LOAD DATA mutates the table directory (deletes on OVERWRITE,
    // renames files in) exactly like the ACID statements do — Hive 1.2's
    // LoadSemanticAnalyzer takes the same EXCLUSIVE lock as UPDATE/
    // DELETE. Without it, a LOAD racing a staged-overwrite writer could
    // have its freshly-landed files silently dropped by the concurrent
    // rewrite (built from a pre-LOAD listing) — so the whole statement
    // runs under the shared writer lock.
    graft.operators.Acid.withWriterLock(spark, s"$db.$tbl") {
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(tbl, Some(db)))
    val isHiveSerde = meta.provider.exists(_.equalsIgnoreCase("hive"))
    if (isHiveSerde) {
      val localKw = if (local) "LOCAL " else ""
      val ow = if (overwrite) "OVERWRITE " else ""
      val part =
        if (partition.isEmpty) ""
        else s"PARTITION (${partitionSpecSql(partition)})"
      spark.sql(
        s"LOAD DATA $localKw INPATH '${inPath.replace("'", "''")}' " +
          s"${ow}INTO TABLE ${graft.operators.Acid.quoted(s"$db.$tbl")} $part")
    } else {
      // datasource table: same move-and-register semantics by hand.
      // Source and destination may live on DIFFERENT filesystems — the
      // defining LOCAL INPATH use case is local staging files loaded
      // into an HDFS/object-store warehouse — so each side resolves
      // its own FileSystem from its own path.
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new Path(inPath)
      val srcFs = src.getFileSystem(conf)
      val tableLoc = new Path(meta.location)
      val destFs = tableLoc.getFileSystem(conf)
      // directory names use Hive/Spark partition-path escaping (via
      // ExternalCatalogUtils) so values with spaces, colons, '%', etc.
      // land where the catalog's own partition registration will look
      val dest =
        if (partition.isEmpty) tableLoc
        else new Path(tableLoc, partition.map { case (k, v) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(k, v)
        }.mkString("/"))
      if (overwrite && destFs.exists(dest)) {
        if (partition.nonEmpty) destFs.delete(dest, true)
        else // a table dir that doesn't exist yet is a valid empty target
          destFs.listStatus(dest).filterNot(_.getPath.getName.startsWith("_"))
            .foreach(f => destFs.delete(f.getPath, true))
      }
      destFs.mkdirs(dest)
      val files = srcFs.listStatus(src).filter(_.isFile)
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
      val sameFs = srcFs.getUri == destFs.getUri
      files.foreach { f =>
        val target = new Path(dest, f.getPath.getName)
        require(!destFs.exists(target), s"LOAD DATA collision: $target")
        if (local) { // LOCAL = copy, source kept
          require(org.apache.hadoop.fs.FileUtil.copy(srcFs, f.getPath,
            destFs, target, false, conf),
            s"LOAD DATA LOCAL copy failed: ${f.getPath} -> $target")
        } else if (sameFs) require(srcFs.rename(f.getPath, target),
          s"LOAD DATA rename failed: ${f.getPath} -> $target")
        else // cross-FS INPATH: rename is impossible — copy, delete source
          require(org.apache.hadoop.fs.FileUtil.copy(srcFs, f.getPath,
            destFs, target, true, conf),
            s"LOAD DATA cross-FS move failed: ${f.getPath} -> $target")
      }
      if (partition.nonEmpty)
        spark.sql(s"ALTER TABLE ${graft.operators.Acid.quoted(s"$db.$tbl")} " +
          s"ADD IF NOT EXISTS PARTITION (${partitionSpecSql(partition)})")
      spark.sql(s"REFRESH TABLE ${graft.operators.Acid.quoted(s"$db.$tbl")}")
    }
    }
  }

  /** CREATE the load target with the right DDL family for the session
    * catalog: Hive-serde `STORED AS PARQUET` (partition columns typed
    * in the PARTITIONED BY clause) under a Hive metastore, datasource
    * `USING parquet` (partition columns by reference) otherwise. */
  def createLoadTarget(
      spark: SparkSession,
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): Unit = {
    val hiveCatalog =
      spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    val dataDdl = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionCols.contains(f.name))).toDDL
    if (hiveCatalog) {
      val partDdl = org.apache.spark.sql.types.StructType(
        schema.filter(f => partitionCols.contains(f.name))).toDDL
      val partClause =
        if (partitionCols.isEmpty) "" else s"PARTITIONED BY ($partDdl)"
      spark.sql(s"CREATE TABLE ${graft.operators.Acid.quoted(table)} " +
        s"($dataDdl) $partClause STORED AS PARQUET")
    } else {
      val allDdl = org.apache.spark.sql.types.StructType(
        schema.filterNot(f => partitionCols.contains(f.name)) ++
          schema.filter(f => partitionCols.contains(f.name))).toDDL
      val partClause =
        if (partitionCols.isEmpty) ""
        else s"PARTITIONED BY (${partitionCols.mkString(", ")})"
      spark.sql(s"CREATE TABLE ${graft.operators.Acid.quoted(table)} " +
        s"($allDdl) USING parquet $partClause")
    }
  }

  /** Unquoted ONLY for CANONICAL integer literals (`0` or no leading
    * zero); everything else — dates like `2024-01-01` above all, and
    * zero-padded numerics like `007` — is quoted. Quoting is always
    * legal in a partition spec; a digits-and-dashes heuristic would
    * render `ds=2024-01-01` unquoted, which Spark's partition grammar
    * rejects (or parses as arithmetic). `007` unquoted would normalize
    * to 7 in the metastore on a string-typed partition column, pointing
    * the registered partition away from the `k=007` directory the files
    * actually landed in. */
  private def partitionSpecSql(partition: Seq[(String, String)]): String =
    partition.map { case (k, v) =>
      val lit =
        if (v.matches("-?(0|[1-9]\\d*)")) v
        else s"'${v.replace("'", "''")}'"
      s"$k=$lit"
    }.mkString(", ")

  private def splitTarget(
      spark: SparkSession, target: String): (String, String) =
    target.split('.') match {
      case Array(db, tbl) => (db, tbl)
      case Array(tbl) => (spark.catalog.currentDatabase, tbl)
      case _ => throw new IllegalArgumentException(
        s"target must be [db.]table, got: $target")
    }

  // ------------------------------------------------------------------
  // harness row: static-partition LOAD into a metastore-registered
  // table. Stage supplier rows for nations 0-4 as plain parquet
  // subtrees (fixture setup — real pipelines land files with their own
  // writers), LOAD each directory into its partition, and aggregate
  // THROUGH the loaded catalog table. In the Verify harness (Hive
  // metastore) this runs Spark's native LOAD DATA against a Hive-serde
  // table; oracle = the same aggregate over the source parquet
  // restricted to those nations. Equality proves the file moves landed
  // in the right partitions, the partitions registered, and the
  // (Hive-serde) read path agrees with the raw files.
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_load_data" -> ((spark, sfDir) => {
      graft.Tables.register(spark, sfDir)
      import org.apache.spark.sql.functions.col
      val nations = 0 to 4
      val base = graft.Fixtures.dir(spark, sfDir, "load")
      val supplier = spark.table("supplier")
      // staged files EXCLUDE the partition column (Hive partition data
      // layout), one directory per target partition
      nations.foreach { n =>
        supplier.where(col("s_nationkey") === n).drop("s_nationkey")
          .coalesce(1).write.parquet(s"$base/stage/n=$n")
      }
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_load")
      spark.sql("DROP TABLE IF EXISTS graft_load.supplier_loaded")
      createLoadTarget(spark, "graft_load.supplier_loaded",
        supplier.schema, Seq("s_nationkey"))
      nations.foreach { n =>
        loadData(spark, s"$base/stage/n=$n", "graft_load.supplier_loaded",
          partition = Seq("s_nationkey" -> n.toString), overwrite = true)
      }
      spark.sql("""
        SELECT s_nationkey AS nation,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
               CAST(MAX(s_suppkey) AS BIGINT) AS max_key
        FROM graft_load.supplier_loaded
        GROUP BY s_nationkey
        ORDER BY nation""")
    })
  )

  val oracle: Map[String, String] = Map(
    "source_load_data" -> """
      SELECT s_nationkey AS nation,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))
               AS BIGINT) AS sum_cents,
             CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
             CAST(MAX(s_suppkey) AS BIGINT) AS max_key
      FROM supplier
      WHERE s_nationkey BETWEEN 0 AND 4
      GROUP BY s_nationkey
      ORDER BY nation"""
  )
}
