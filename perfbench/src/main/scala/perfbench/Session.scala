package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one pinned session shape of the benchmark: `local[4]`, 4 shuffle
  * partitions, UTC, and the Hive-metastore catalog `graft.Verify` runs
  * on (embedded Derby, fresh warehouse and metastore for every run). */
object Session {
  def build(warehouse: File, localDir: File): SparkSession = {
    warehouse.mkdirs(); localDir.mkdirs()
    System.setProperty("derby.stream.error.file", new File(warehouse, "derby.log").getPath)
    val spark = SparkSession.builder()
      .master(s"local[${Main.Cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getPath)
      .config("spark.sql.warehouse.dir", warehouse.getPath)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${warehouse.getPath}/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the metastore client is created lazily; open it here so the first
    // catalog-touching query is not charged for it
    spark.catalog.databaseExists("default")
    spark
  }

  /** The shared warm-up of `graft.Bench`: parquet reader and view
    * resolution, the codegen compiler, broadcast and shuffle joins, window
    * execution and the custom expression kernels. */
  def warmUp(spark: SparkSession): Unit = {
    def run(sql: String): Unit = spark.sql(sql).write.mode("overwrite").format("noop").save()
    run("""
      SELECT o.o_orderstatus, COUNT(*) n,
             SUM(l.l_quantity) sq,
             ROW_NUMBER() OVER (PARTITION BY o.o_orderstatus ORDER BY o.o_orderkey) rn
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_orderkey < 500
      GROUP BY o.o_orderstatus, o.o_orderkey
      ORDER BY n DESC LIMIT 10""")
    run("SELECT SIZE(SHINGLE_SET(text, 3)) s, SIZE(TOKENIZE(text)) t FROM documents LIMIT 50")
  }
}
