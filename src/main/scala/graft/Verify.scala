package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only third arg: comma-separated query names to run
    // (the driver always passes exactly two args → full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // The correctness harness runs on the REAL Hive-metastore catalog
    // (BASELINE.json's prescribed "Spark SQL + Hive metastore"
    // architecture): every catalog-routed row — CREATE DATABASE/TABLE,
    // saveAsTable, ACID tables, bucketed SMB tables, EXPORT/IMPORT
    // registration, ANALYZE stats — executes against an embedded-Derby
    // metastore, not the in-memory shim. Fresh metastore + warehouse
    // per run (one JVM per run, so embedded Derby's single-process
    // constraint never bites).
    val wh = Files.createTempDirectory("graft-wh").toString
    System.setProperty("derby.stream.error.file", s"$wh/derby.log")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // queries may persist() intermediates; release them so cached
        // blocks from one query don't squeeze execution memory for the
        // remaining ~96 (mirrors Bench)
        spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(sfDir))
    spark.stop()
  }

  /** The oracle_sql.json text for `sfDir`: every SparkEntry oracle
    * statement by query name. The one writer of that file, shared with
    * `tools.DumpOracleSql`, so both produce the same bytes. */
  def oracleJson(sfDir: String): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Path token substitution: oracles that need PER-FILE parquet
    // metadata (scan_block_offset's file_row_number) must read the
    // physical files directly, not the driver-created view — the token
    // resolves to the fixture's actual layout (single file at driver
    // SFs, a directory of part files for ScaleGen fixtures).
    val docsPath = {
      val p = s"$sfDir/documents.parquet"
      if (new java.io.File(p).isDirectory) s"$p/*.parquet" else p
    }
    SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_DOCUMENTS_PARQUET__", docsPath))}" }
      .mkString("{", ",", "}")
  }
}
