package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{DataType, StructType}

/** EXPORT / IMPORT analog (SURVEY.md §2.3 `TOK_EXPORT`/`TOK_IMPORT`;
  * Hive's `ql/parse/ExportSemanticAnalyzer` + `ImportSemanticAnalyzer`
  * with the bundle layout of `ql/parse/EximUtil` in the canonical
  * tree): the warehouse-to-warehouse migration primitive — dump a
  * table to a self-describing directory bundle, re-import it under a
  * fresh catalog/database with partitions recovered.
  *
  * Bundle layout mirrors Hive's (metadata sidecar + data subtree):
  * {{{
  *   <dest>/_graft_metadata.json   # schema, partition spec, format
  *   <dest>/data/[p1=v1/...]*.parquet
  * }}}
  *
  * Spark-first design, 100 TB notes:
  *  - EXPORT is one distributed `DataFrameWriter.partitionBy` job —
  *    the data never routes through the driver; only the ~1 KB
  *    manifest is driver-written.
  *  - IMPORT registers the bundle's `data/` directory as the table
  *    LOCATION (zero-copy — at warehouse scale you move the bundle
  *    with distcp-class tooling, not through an engine) and recovers
  *    partitions from the directory tree (Spark parallelizes the
  *    listing). Hive's copying IMPORT is `importTableManaged`: the
  *    same registration followed by one distributed INSERT OVERWRITE
  *    into a managed table.
  *  - The manifest carries the full Spark schema JSON, so an import
  *    into a session that has never seen the source preserves types
  *    exactly (no inference pass over the data).
  *  - v2 manifests also carry the BUCKET spec (bucketColumns /
  *    numBuckets / sortColumns — Hive's EXIM metadata preserves
  *    bucketing too); `exportCatalogTable` reads it from the
  *    metastore and copies files name-preserving so bucket ids stay
  *    valid, and IMPORT re-applies it with CLUSTERED BY so SMB joins
  *    on the imported table still plan exchange-free.
  */
object ExportImport {

  private val ManifestName = "_graft_metadata.json"
  private val FormatVersion = 2 // v2 adds the bucket spec keys

  /** Everything the bundle carries besides the data subtree. */
  case class Manifest(
      schema: StructType,
      partitionCols: Seq[String],
      format: String,
      bucketCols: Seq[String] = Nil,
      numBuckets: Int = 0,
      sortCols: Seq[String] = Nil) {
    def bucketed: Boolean = numBuckets > 0 && bucketCols.nonEmpty
  }

  /** Dump `df` as a bundle at `dest` (must not exist or be empty).
    * `partitionCols` become directory-level partitions in `data/`,
    * exactly as the re-imported table will be partitioned. */
  def exportTable(
      df: DataFrame,
      dest: String,
      partitionCols: Seq[String] = Nil,
      format: String = "parquet"): Unit = {
    val missing = partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"partition columns not in schema: $missing")
    val writer = df.write.format(format).mode("errorifexists")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).save(s"$dest/data")
    // manifest AFTER the data job: a bundle with a manifest is complete
    // by construction (the reader keys on the manifest, so a killed
    // export leaves a recognizably-partial directory, not a lie).
    writeManifest(df.sparkSession, dest,
      Manifest(df.schema, partitionCols, format))
  }

  /** EXPORT of a CATALOG table — the full Hive `EXPORT TABLE t
    * [PARTITION (k=v, ...)] TO dir` shape (ExportSemanticAnalyzer
    * accepts a partition spec): metadata (schema, partition spec,
    * BUCKET spec) comes from the metastore entry and the data subtree
    * is the table's files copied VERBATIM. Verbatim matters for
    * bucketed tables: Spark encodes the bucket id in the file name
    * (`..._00003.c000...`), so a name-preserving copy keeps the
    * clustering valid and the re-imported table still plans
    * exchange-free SMB joins. (The DataFrame-rewrite path above would
    * redistribute rows and lose it.) The copy here is a driver-side
    * Hadoop `FileUtil.copy`; at warehouse scale you ship the subtree
    * with distcp-class tooling and write only the manifest through
    * this API — the bundle layout is the contract, not the copier.
    *
    * `partitionSpec` restricts the export to matching partitions —
    * the routine warehouse-migration unit ("ship yesterday's ds").
    * Like Hive's, the spec may be PARTIAL but must follow the table's
    * partition-column order from the top (a `(ds)` spec on a
    * `(ds, hr)` table exports every hour of that day; an `(hr)`-only
    * spec is rejected — there is no single subtree for it). Only the
    * selected subtrees are copied, so the bundle's IMPORT recovers
    * exactly the exported partitions; the manifest is unchanged (full
    * schema + partition + bucket spec). */
  def exportCatalogTable(
      spark: SparkSession, table: String, dest: String,
      partitionSpec: Seq[(String, String)] = Nil): Unit = {
    val (db, tbl) = splitTarget(table)
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(tbl, Some(db)))
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(meta.location)
    val dst = new Path(dest, "data")
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    require(!dstFs.exists(dst), s"bundle data dir already exists: $dst")
    if (partitionSpec.isEmpty) {
      require(FileUtil.copy(srcFs, src, dstFs, dst, false, conf),
        s"copy failed: $src -> $dst")
    } else {
      val partCols = meta.partitionColumnNames
      require(partCols.nonEmpty,
        s"PARTITION spec given but $db.$tbl is unpartitioned")
      val specKeys = partitionSpec.map(_._1.toLowerCase)
      require(specKeys == partCols.take(specKeys.length).map(_.toLowerCase),
        s"partition spec must follow (${partCols.mkString(", ")}) from the " +
          s"top, got (${specKeys.mkString(", ")})")
      // the spec prefix names ONE directory subtree, escaped the way
      // the writer laid it out (ExternalCatalogUtils partition-path
      // rules); copying it name-preserving keeps deeper partition
      // levels AND bucket file names intact
      val rel = partitionSpec.map { case (k, v) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(k, v)
      }.mkString("/")
      val srcPart = new Path(src, rel)
      require(srcFs.exists(srcPart), s"no such partition: $srcPart")
      val dstPart = new Path(dst, rel)
      dstFs.mkdirs(dstPart.getParent)
      require(FileUtil.copy(srcFs, srcPart, dstFs, dstPart, false, conf),
        s"copy failed: $srcPart -> $dstPart")
    }
    val (bucketCols, numBuckets, sortCols) = meta.bucketSpec match {
      case Some(bs) => (bs.bucketColumnNames, bs.numBuckets, bs.sortColumnNames)
      case None => (Nil, 0, Nil)
    }
    writeManifest(spark, dest, Manifest(
      meta.schema, meta.partitionColumnNames,
      meta.provider.getOrElse("parquet").toLowerCase,
      bucketCols, numBuckets, sortCols))
  }

  private def writeManifest(
      spark: SparkSession, dest: String, m: Manifest): Unit = {
    // Hadoop FS, not java.nio — the bundle may live on HDFS/object
    // storage, or carry a file: scheme the nio API can't parse.
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", FormatVersion)
    root.put("format", m.format)
    val pc = root.putArray("partitionColumns")
    m.partitionCols.foreach(pc.add)
    val bc = root.putArray("bucketColumns")
    m.bucketCols.foreach(bc.add)
    root.put("numBuckets", m.numBuckets)
    val sc = root.putArray("sortColumns")
    m.sortCols.foreach(sc.add)
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", mapper.readTree(m.schema.json))
    val text = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root)
    val mPath = new Path(dest, ManifestName)
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mPath, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Re-register a bundle as `db.table` (EXTERNAL, zero-copy: the
    * table's LOCATION is the bundle's `data/`). Creates the database
    * if needed, recovers partitions, returns the imported table.
    *
    * `partitionSpec` is Hive's `IMPORT TABLE t PARTITION (k=v,...)
    * FROM dir` (ImportSemanticAnalyzer filters the bundle's partitions
    * against the spec): only partitions under the matching subtree are
    * registered — a whole-table bundle can be imported one partition
    * at a time. Same partial-top-down spec contract as the
    * partition-scoped EXPORT; the selected subtree must exist in the
    * bundle. */
  def importTable(
      spark: SparkSession,
      src: String,
      target: String,
      overwrite: Boolean = false,
      partitionSpec: Seq[(String, String)] = Nil): DataFrame = {
    val m = readManifest(spark, src)
    val (db, tbl) = splitTarget(target)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    if (overwrite) spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
    spark.sql(
      s"""CREATE TABLE $db.$tbl (${m.schema.toDDL})
         |USING ${m.format} ${partClause(m)} ${bucketClause(m)}
         |LOCATION '$src/data'""".stripMargin)
    if (partitionSpec.nonEmpty) {
      require(m.partitionCols.nonEmpty,
        s"PARTITION spec given but the bundle at $src is unpartitioned")
      val specKeys = partitionSpec.map(_._1.toLowerCase)
      require(specKeys ==
        m.partitionCols.take(specKeys.length).map(_.toLowerCase),
        s"partition spec must follow (${m.partitionCols.mkString(", ")}) " +
          s"from the top, got (${specKeys.mkString(", ")})")
      // register exactly the partitions under the selected subtree: a
      // recursive directory walk to the partition depth (driver-side —
      // one listStatus per directory level of ONE subtree, the same
      // metadata cost Hive's filtered IMPORT pays), then explicit ADD
      // PARTITIONs. MSCK would recover every partition in the bundle.
      val esc = partitionSpec.map { case (k, v) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(k, v)
      }
      val dataRoot = new Path(s"$src/data")
      val fs = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val subtree = esc.foldLeft(dataRoot)(new Path(_, _))
      require(fs.exists(subtree), s"no such partition in bundle: $subtree")
      def leaves(dir: Path, depth: Int): Seq[Path] =
        if (depth == m.partitionCols.length) Seq(dir)
        else fs.listStatus(dir).filter(_.isDirectory).toSeq
          .flatMap(s => leaves(s.getPath, depth + 1))
      val adds = leaves(subtree, partitionSpec.length).map { leaf =>
        // leaf path = <dataRoot>/k1=v1/.../kn=vn — decode each level
        // with the same escaping rules the writer used
        val rel = leaf.toString.stripPrefix(dataRoot.toString)
          .stripPrefix("/")
        val spec = rel.split('/').map { seg =>
          val Array(k, v) = seg.split("=", 2)
          val dv = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(v)
          s"`$k`='${dv.replace("'", "''")}'"
        }.mkString(", ")
        s"PARTITION ($spec)"
      }
      require(adds.nonEmpty, s"no partitions found under $subtree")
      spark.sql(
        s"ALTER TABLE $db.$tbl ADD IF NOT EXISTS ${adds.mkString(" ")}")
    } else if (m.partitionCols.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE $db.$tbl")
    spark.table(s"$db.$tbl")
  }

  private def partClause(m: Manifest): String =
    if (m.partitionCols.nonEmpty)
      s"PARTITIONED BY (${m.partitionCols.mkString(", ")})"
    else ""

  private def bucketClause(m: Manifest): String =
    if (m.bucketed) {
      val sorted =
        if (m.sortCols.nonEmpty) s"SORTED BY (${m.sortCols.mkString(", ")})"
        else ""
      s"CLUSTERED BY (${m.bucketCols.mkString(", ")}) $sorted " +
        s"INTO ${m.numBuckets} BUCKETS"
    } else ""

  /** Hive's copying IMPORT: register the bundle, then one distributed
    * INSERT OVERWRITE into a fresh MANAGED table (warehouse-owned
    * storage). The staging external table is dropped afterwards. */
  def importTableManaged(
      spark: SparkSession,
      src: String,
      target: String,
      overwrite: Boolean = false): DataFrame = {
    val m = readManifest(spark, src)
    val (db, tbl) = splitTarget(target)
    val stage = s"${tbl}_graft_import_stage"
    importTable(spark, src, s"$db.$stage", overwrite = true)
    try {
      if (overwrite) spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
      spark.sql(
        s"""CREATE TABLE $db.$tbl (${m.schema.toDDL})
           |USING ${m.format} ${partClause(m)} ${bucketClause(m)}"""
          .stripMargin)
      // data columns first, partition columns last — INSERT matches by
      // position against the table's reordered (data ++ partition) layout
      val dataCols = m.schema.fieldNames.filterNot(m.partitionCols.contains)
      val ordered = (dataCols ++ m.partitionCols).mkString(", ")
      spark.sql(
        s"INSERT OVERWRITE TABLE $db.$tbl SELECT $ordered FROM $db.$stage")
      spark.table(s"$db.$tbl")
    } finally spark.sql(s"DROP TABLE IF EXISTS $db.$stage")
  }

  private def readManifest(spark: SparkSession, src: String): Manifest = {
    val mPath = new Path(src, ManifestName)
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(mPath),
      s"not a graft export bundle (no $ManifestName): $src")
    val in = fs.open(mPath)
    val text =
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val node = new ObjectMapper().readTree(text)
    require(node.has("schema") && node.has("format"),
      s"malformed bundle manifest at $mPath")
    def strings(key: String): Seq[String] =
      if (!node.has(key)) Nil
      else {
        val it = node.get(key).elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }
    Manifest(
      schema = DataType.fromJson(node.get("schema").toString)
        .asInstanceOf[StructType],
      partitionCols = strings("partitionColumns"),
      format = node.get("format").asText(),
      bucketCols = strings("bucketColumns"),
      numBuckets = if (node.has("numBuckets")) node.get("numBuckets").asInt() else 0,
      sortCols = strings("sortColumns"))
  }

  private def splitTarget(target: String): (String, String) =
    target.split('.') match {
      case Array(db, tbl) => (db, tbl)
      case Array(tbl) => ("default", tbl)
      case _ => throw new IllegalArgumentException(
        s"target must be [db.]table, got: $target")
    }

  /** Hive 1.2 `ALTER TABLE dest EXCHANGE PARTITION (spec) WITH TABLE
    * source` (grammar TOK_ALTERTABLE_EXCHANGEPARTITION; metastore
    * `exchange_partition`): MOVES one partition's data and registration
    * from `source` to `dest`. Hive's preconditions enforced: identical
    * column and partition schemas, a FULL partition spec, and `dest`
    * must not already hold the partition. The data move is a
    * filesystem rename into dest's standard partition layout —
    * metadata-speed, no rewrite, exactly Hive's metastore-move shape —
    * then the source side drops with retainData (the files now belong
    * to dest). Both tables' statement-scoped writer locks are held in
    * CANONICAL-name order — db.table after splitTarget resolution, not
    * the raw user spellings, which could order ('db.t', 't') and
    * ('t', 'db.t') oppositely across two concurrent exchanges and
    * deadlock. Same-table exchange ('t' vs 'db.t' spellings included)
    * is refused up front: the lock is non-reentrant and the move is a
    * no-op-with-side-effects anyway. */
  def exchangePartition(spark: SparkSession, dest: String, source: String,
      spec: Seq[(String, String)]): Unit = {
    import graft.operators.Acid
    val (sdb, stbl) = splitTarget(source)
    val (ddb, dtbl) = splitTarget(dest)
    require((sdb, stbl) != (ddb, dtbl),
      s"EXCHANGE PARTITION: source and dest resolve to the same table $sdb.$stbl")
    val cat = spark.sessionState.catalog
    val sId = TableIdentifier(stbl, Some(sdb))
    val dId = TableIdentifier(dtbl, Some(ddb))
    val sm = cat.getTableMetadata(sId)
    val dm = cat.getTableMetadata(dId)
    require(sm.schema == dm.schema,
      s"EXCHANGE PARTITION: column schemas differ between $source and $dest")
    require(sm.partitionColumnNames.nonEmpty &&
        sm.partitionColumnNames == dm.partitionColumnNames,
      s"EXCHANGE PARTITION: partition schemas differ between $source and $dest")
    require(spec.map(_._1) == sm.partitionColumnNames,
      s"EXCHANGE PARTITION needs the full partition spec " +
        s"(${sm.partitionColumnNames.mkString(", ")}), got ${spec.map(_._1).mkString(", ")}")
    // spec values are quoted-escaped in SQL (same class of bug LOAD
    // DATA hit: a value containing ' breaks the generated DDL) and
    // Hive-path-escaped in the directory name (ExternalCatalogUtils is
    // Hive's FileUtils.escapePathName shape — %XX for path specials),
    // so `ds=a'b/c` round-trips instead of generating broken DDL or a
    // non-Hive-layout directory
    val specSql = spec.map { case (k, v) =>
      s"$k='${v.replace("'", "''")}'" }.mkString(", ")
    val specPath = spec.map { case (k, v) =>
      s"${ExternalCatalogUtils.escapePathName(k)}=" +
        ExternalCatalogUtils.escapePathName(v) }.mkString("/")
    val Seq(first, second) = Seq(s"$sdb.$stbl", s"$ddb.$dtbl").sorted
    Acid.withWriterLock(spark, first) { Acid.withWriterLock(spark, second) {
      val sp = cat.getPartition(sId, spec.toMap) // throws if source lacks it
      val srcDir = new Path(sp.location)
      val destDir = new Path(new Path(dm.location), specPath)
      val fs = destDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(cat.listPartitions(dId, Some(spec.toMap)).isEmpty && !fs.exists(destDir),
        s"EXCHANGE PARTITION: $dest already holds ($specSql)")
      fs.mkdirs(destDir.getParent)
      require(fs.rename(srcDir, destDir), s"move failed: $srcDir -> $destDir")
      spark.sql(s"ALTER TABLE $ddb.$dtbl ADD PARTITION ($specSql) " +
        s"LOCATION '${destDir.toString.replace("'", "''")}'")
      // metadata-only drop: the files were renamed away and now belong
      // to dest, so retainData — a plain DROP PARTITION would try to
      // delete dest's data through the stale source location
      cat.dropPartitions(sId, Seq(sp.spec),
        ignoreIfNotExists = false, purge = false, retainData = true)
    }}
  }

  // ------------------------------------------------------------------
  // harness row: full warehouse-migration round trip — EXPORT orders
  // partitioned by status, IMPORT under a fresh database (registering
  // in whatever catalog the session runs — the Hive metastore in the
  // verify harness), aggregate THROUGH the imported catalog table.
  // The oracle computes the same aggregate over the source parquet:
  // equality proves bundle data + manifest schema + partition recovery
  // all survived the trip. Cents-grid money (exact BIGINT sums).
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_export_import" -> ((spark, sfDir) => {
      graft.Tables.register(spark, sfDir)
      val base = graft.Fixtures.dir(spark, sfDir, "exim")
      // supplier partitioned by nation: 25 recovered partitions (the
      // densest partition-recovery shape in the fixtures) at 1/15th of
      // orders' bytes — the bundle mechanics are identical
      exportTable(spark.table("supplier"), s"$base/bundle",
        Seq("s_nationkey"))
      importTable(spark, s"$base/bundle",
        "graft_exim.supplier_imported", overwrite = true)
      spark.sql("""
        SELECT s_nationkey AS nation,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
               CAST(MAX(s_suppkey) AS BIGINT) AS max_key
        FROM graft_exim.supplier_imported
        GROUP BY s_nationkey
        ORDER BY nation""")
    }),

    // partition-scoped EXPORT: ship ONE partition of a catalog table
    // (the routine migration unit), IMPORT recovers exactly that
    // partition, aggregate through the imported table. Oracle = the
    // same aggregate over the source restricted to the partition —
    // equality proves the subtree selection, the verbatim copy, and
    // the restricted partition recovery.
    "source_export_partition" -> ((spark, sfDir) => {
      graft.Tables.register(spark, sfDir)
      val base = graft.Fixtures.dir(spark, sfDir, "exim_part")
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_exim")
      spark.sql("DROP TABLE IF EXISTS graft_exim.supplier_psrc")
      spark.table("supplier").write.partitionBy("s_nationkey")
        .saveAsTable("graft_exim.supplier_psrc")
      // smallest nation present — guaranteed non-empty at every SF (a
      // hardcoded key could be absent from a tiny fixture's supplier)
      val nk = spark.table("supplier")
        .agg(org.apache.spark.sql.functions.min("s_nationkey"))
        .head.get(0).toString
      exportCatalogTable(spark, "graft_exim.supplier_psrc",
        s"$base/bundle", partitionSpec = Seq("s_nationkey" -> nk))
      importTable(spark, s"$base/bundle",
        "graft_exim.supplier_p7", overwrite = true)
      spark.sql("""
        SELECT s_nationkey AS nation,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
               CAST(MAX(s_suppkey) AS BIGINT) AS max_key
        FROM graft_exim.supplier_p7
        GROUP BY s_nationkey
        ORDER BY nation""")
    })
  )

  val oracle: Map[String, String] = Map(
    "source_export_import" -> """
      SELECT s_nationkey AS nation,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))
               AS BIGINT) AS sum_cents,
             CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
             CAST(MAX(s_suppkey) AS BIGINT) AS max_key
      FROM supplier
      GROUP BY s_nationkey
      ORDER BY nation""",

    "source_export_partition" -> """
      SELECT s_nationkey AS nation,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))
               AS BIGINT) AS sum_cents,
             CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
             CAST(MAX(s_suppkey) AS BIGINT) AS max_key
      FROM supplier
      WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
      GROUP BY s_nationkey
      ORDER BY nation"""
  )
}
