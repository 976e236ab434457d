package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Schema evolution across a table's file generations — Hive's
  * `ALTER TABLE ADD COLUMNS` read path (metastore schema vs per-file
  * schema, resolved BY NAME at read time; ql/io/parquet's
  * DataWritableReadSupport does the projection): old files simply lack
  * the new columns and surface NULLs, and physical column ORDER is
  * allowed to differ between generations. A migrating warehouse always
  * has such tables — every long-lived fact table has been ALTERed.
  *
  * Spark-first mapping: `spark.read.option("mergeSchema", true)` over
  * the generation directories — Parquet footer schemas union by name,
  * absent columns read as NULL, and column pruning/pushdown still plan
  * against the MERGED schema (gated in WritePathsSpec). Scale: schema
  * merge is footer metadata work (driver-side, ∝ files — and in
  * production pinned once in a catalog rather than re-merged per
  * query); the data scan stays fully distributed and prunes to the
  * referenced columns of each generation's files.
  */
object SchemaEvolutionIO {

  private type Q = (SparkSession, String) => DataFrame

  /** Writes the two-generation fixture (v1: 3 columns; v2: adds
    * `o_orderpriority` AND physically reorders columns) and returns
    * the generation directories. Deterministic split: even orderkeys
    * are the "old" files, odd the post-ALTER ones. */
  def writeFixture(spark: SparkSession, sfDir: String): (String, String) = {
    Tables.register(spark, sfDir)
    val base = graft.Fixtures.dir(spark, sfDir, "schevo")
    val orders = spark.table("orders")
    val (g1, g2) = (s"$base/data/gen1", s"$base/data/gen2")
    orders.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.parquet(g1)
    orders.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"), col("o_custkey"))
      .write.parquet(g2)
    (g1, g2)
  }

  /** Name-based merged read over every generation. */
  def readMerged(spark: SparkSession, gens: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(gens: _*)

  val queries: Map[String, Q] = Map(
    "source_schema_evolution" -> ((spark, sfDir) => {
      val (g1, g2) = writeFixture(spark, sfDir)
      // per-generation audit off the MERGED frame: the evolved column
      // must be NULL exactly on pre-ALTER rows, values/cents exact
      readMerged(spark, g1, g2)
        .groupBy((col("o_orderkey") % 2).cast("int").as("gen"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          count(col("o_orderpriority")).cast("bigint").as("n_priority"),
          countDistinct(col("o_orderpriority")).cast("bigint").as("n_prio_values"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
        .orderBy(col("gen"))
    })
  )

  // oracle simulates the evolution on the source table: the evolved
  // column exists only for odd (post-ALTER) orderkeys
  val oracle: Map[String, String] = Map(
    "source_schema_evolution" -> """
      SELECT CAST(o_orderkey % 2 AS INT) AS gen,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(CASE WHEN o_orderkey % 2 = 1
                             THEN o_orderpriority END) AS BIGINT) AS n_priority,
             CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1
                             THEN o_orderpriority END) AS BIGINT) AS n_prio_values,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM orders
      GROUP BY CAST(o_orderkey % 2 AS INT)
      ORDER BY gen"""
  )
}
