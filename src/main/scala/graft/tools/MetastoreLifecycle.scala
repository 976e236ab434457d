package graft.tools

import org.apache.spark.sql.SparkSession

/** Two-phase Hive-metastore lifecycle driver (SURVEY §1.1
  * `MS/HiveMetaStoreClient.java`, `QL/metadata/Hive.java`; the
  * prescribed architecture is "Spark SQL + Hive metastore"). Each
  * phase is a SEPARATE JVM against the same embedded-Derby metastore
  * directory, so persistence across engine restarts is tested for
  * real — not simulated by re-creating a SparkSession over a shared
  * SharedState.
  *
  *   phase "create": database + partitioned table + inserts + view +
  *     ANALYZE (table and FOR ALL COLUMNS) — everything a migrating
  *     warehouse registers.
  *   phase "read":  a fresh JVM rediscovers all of it purely from the
  *     metastore: databases, tables, partitions, view text, row
  *     counts, table stats (rowCount/sizeInBytes feeding CBO) and
  *     column stats (min/max/ndv), and the AnswerFromStats rule
  *     answering COUNT/MIN/MAX from metastore statistics with zero
  *     scan.
  *
  * Prints `PHASE-OK <phase>` markers; MetastoreCatalogSpec asserts on
  * them plus the exit code. */
object MetastoreLifecycle {

  def main(args: Array[String]): Unit = {
    val Array(phase, baseDir) = args.take(2)
    System.setProperty("derby.stream.error.file", s"$baseDir/derby.log")
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-metastore-$phase")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$baseDir/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$baseDir/metastore_db;create=true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.cbo.enabled", "true")
      // opt into AnswerFromStats (Hive's hive.compute.query.using.stats)
      .config("spark.graft.answerFromStats", "true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      phase match {
        case "create" => create(spark)
        case "read"   => read(spark)
        case other    => sys.error(s"unknown phase: $other")
      }
      println(s"PHASE-OK $phase")
    } finally spark.stop()
  }

  private def create(spark: SparkSession): Unit = {
    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "session must run on the Hive catalog")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_ms")
    spark.sql("DROP TABLE IF EXISTS graft_ms.sales")
    spark.sql("""CREATE TABLE graft_ms.sales (k INT, amount DOUBLE)
                 USING parquet PARTITIONED BY (ds STRING)""")
    spark.sql("""INSERT INTO graft_ms.sales PARTITION (ds='2024-01-01')
                 VALUES (1, 10.0), (2, 20.0), (3, 30.0)""")
    spark.sql("""INSERT INTO graft_ms.sales PARTITION (ds='2024-01-02')
                 VALUES (4, 40.0), (5, 50.0)""")
    // a partition registered via ALTER TABLE (metastore partition API)
    spark.sql("""ALTER TABLE graft_ms.sales
                 ADD PARTITION (ds='2024-01-03')""")
    spark.sql("DROP VIEW IF EXISTS graft_ms.sales_v")
    spark.sql("""CREATE VIEW graft_ms.sales_v AS
                 SELECT ds, COUNT(*) AS n, SUM(amount) AS total
                 FROM graft_ms.sales GROUP BY ds""")
    spark.sql("ANALYZE TABLE graft_ms.sales COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE graft_ms.sales COMPUTE STATISTICS FOR ALL COLUMNS")
    // PERSISTENT function (SURVEY §2.8 "persistent fns via metastore
    // CREATE FUNCTION"): a migrating user's permanent Hive UDFs are
    // metastore objects; registering one of Hive's own GenericUDF
    // classes exercises both the catalog entry and Spark's Hive-UDF
    // adapter when the next JVM resolves it
    spark.sql("DROP FUNCTION IF EXISTS graft_ms.hive_upper")
    spark.sql("""CREATE FUNCTION graft_ms.hive_upper AS
                 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'""")
    // ALTER TABLE serde surface (TOK_ALTERTABLE_SERIALIZER /
    // _SERDEPROPERTIES — AlterTableParitySpec's audit): Hive-catalog
    // statements, persisted in the metastore, re-read next JVM
    spark.sql("DROP TABLE IF EXISTS graft_ms.serde_t")
    spark.sql("CREATE TABLE graft_ms.serde_t (x INT, y STRING) STORED AS TEXTFILE")
    spark.sql("INSERT INTO graft_ms.serde_t VALUES (1, 'a')")
    // same serde class TEXTFILE already uses and a BENIGN property —
    // changing field.delim after data exists would mis-parse the rows
    // (the exact Hive 1.2 footgun this statement carries)
    spark.sql("""ALTER TABLE graft_ms.serde_t SET SERDE
                 'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
                 WITH SERDEPROPERTIES ('graft.serde.set'='via-serializer')""")
    spark.sql("ALTER TABLE graft_ms.serde_t SET SERDEPROPERTIES ('graft.audit'='r14')")
  }

  private def read(spark: SparkSession): Unit = {
    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "session must run on the Hive catalog")
    val dbs = spark.sql("SHOW DATABASES").collect().map(_.getString(0))
    require(dbs.contains("graft_ms"), s"database lost across restart: ${dbs.toSeq}")
    val parts = spark.sql("SHOW PARTITIONS graft_ms.sales")
      .collect().map(_.getString(0)).toSet
    require(parts == Set("ds=2024-01-01", "ds=2024-01-02", "ds=2024-01-03"),
      s"partitions lost: $parts")
    // read the rows themselves: AnswerFromStats would answer a count()
    // from the metastore's rowCount without touching the files
    require(spark.table("graft_ms.sales").collect().length == 5, "rows lost")
    // view definition survived in the metastore
    val v = spark.table("graft_ms.sales_v").orderBy("ds").collect()
    require(v.length == 2 && v(0).getLong(1) == 3 && v(1).getLong(1) == 2,
      s"view wrong: ${v.toSeq}")
    // metastore-held CatalogStatistics feed the optimizer (CBO input)
    val rel = spark.table("graft_ms.sales").queryExecution.optimizedPlan
    val stats = rel.stats
    require(stats.rowCount.contains(BigInt(5)),
      s"ANALYZE rowCount not visible to the optimizer: ${stats.rowCount}")
    // column-level stats survived (min/max/ndv from FOR ALL COLUMNS)
    val desc = spark.sql("DESCRIBE EXTENDED graft_ms.sales k")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    require(desc.get("min").contains("1") && desc.get("max").contains("5") &&
      desc.get("distinct_count").contains("5"), s"column stats lost: $desc")
    // persistent Hive UDF rediscovered from the metastore and executed
    // through Spark's Hive-function adapter
    val up = spark.sql("SELECT graft_ms.hive_upper('graft') AS u").head.getString(0)
    require(up == "GRAFT", s"persistent function lost or wrong: $up")
    // serde alterations persisted and the table still reads (benign
    // props only — see create): TOK_ALTERTABLE_SERIALIZER/_SERDEPROPERTIES
    require(spark.table("graft_ms.serde_t").head.getInt(0) == 1,
      "serde_t rows lost after SET SERDE")
    val serdeInfo = spark.sql("DESCRIBE FORMATTED graft_ms.serde_t")
      .collect().map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
    require(serdeInfo.contains("LazySimpleSerDe"), s"serde class lost:\n$serdeInfo")
    require(serdeInfo.contains("graft.serde.set") && serdeInfo.contains("graft.audit"),
      s"serde properties lost across restart:\n$serdeInfo")
    // AnswerFromStats consumes the metastore stats: COUNT/MIN/MAX with
    // ZERO scan (optimized plan collapses to a LocalRelation)
    val q = spark.sql(
      "SELECT COUNT(*) AS n, MIN(k) AS mn, MAX(k) AS mx FROM graft_ms.sales")
    val op = q.queryExecution.optimizedPlan.toString()
    require(op.contains("LocalRelation") && !op.contains("parquet") &&
      !op.contains("Aggregate"),
      s"expected stats-answered LocalRelation plan, got:\n$op")
    val row = q.head
    require(row.getLong(0) == 5 && row.getInt(1) == 1 && row.getInt(2) == 5,
      s"stats-answered values wrong: $row")
  }
}
