package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Hive `SymlinkTextInputFormat` analog (ql/io/SymlinkTextInputFormat
  * .java, SURVEY.md §2.2 — a format with a real migration story): a
  * table's storage directory holds small "symlink" TEXT files whose
  * LINES are paths (or globs) to the actual data files living
  * elsewhere. Hive resolves the links in `getSplits` on the client and
  * plans splits over the TARGETS; the format exists so a
  * warehouse can expose externally-produced files (logs dropped by
  * other teams, S3 drops, etc.) as a table without copying them.
  *
  * Spark-first mapping: resolution is driver-side metadata work exactly
  * as in Hive — one pass over the (small) manifest files, glob
  * expansion via `FileSystem.globStatus`, order-stable dedup — and the
  * DATA read is a normal distributed `spark.read` over the resolved
  * target paths, so every Catalyst scan optimization (column pruning,
  * pushdown, split planning) applies to the targets untouched. Scale:
  * manifest bytes ∝ number of target FILES (metadata, not data); the
  * 100 TB of targets never route through the driver.
  */
object SymlinkTextIO {

  /** Resolves every non-blank line of every manifest file under
    * `manifestDir` (non-recursive, Hive's layout) to concrete target
    * paths. Lines may be globs; missing globs resolve to nothing
    * (Hive behavior: empty splits, not an error) but a LITERAL path
    * that does not exist fails loudly — a silent skip would turn a
    * typo into missing data. Duplicate lines resolve once. */
  def resolve(spark: SparkSession, manifestDir: String): Seq[String] = {
    val dir = new Path(manifestDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath).sortBy(_.getName)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    manifests.foreach { m =>
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(m), "UTF-8"))
      try {
        Iterator.continually(in.readLine()).takeWhile(_ != null)
          .map(_.trim).filter(_.nonEmpty).foreach { line =>
            val p = new Path(line)
            val isGlob = line.exists("*?[{".contains(_))
            val targetFs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (isGlob) {
              val hits = Option(targetFs.globStatus(p)).getOrElse(Array.empty)
              hits.filter(_.isFile).foreach(h => seen += h.getPath.toString)
            } else {
              require(targetFs.exists(p),
                s"symlink manifest $m names a missing target: $line")
              if (targetFs.getFileStatus(p).isDirectory)
                targetFs.listStatus(p).filter(_.isFile)
                  .foreach(h => seen += h.getPath.toString)
              else seen += p.toString
            }
          }
      } finally in.close()
    }
    seen.toSeq
  }

  /** Reads the manifest's targets as text lines — the format's own
    * semantics (Hive pairs it with a text SerDe). */
  def readText(spark: SparkSession, manifestDir: String): DataFrame =
    spark.read.text(resolve(spark, manifestDir): _*)

  /** Reads the targets with an arbitrary Spark reader format — the
    * generalization Hive never had (its symlink format was text-only). */
  def read(spark: SparkSession, manifestDir: String, format: String,
           schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val r0 = spark.read.format(format).options(options)
    val r = schema.fold(r0)(r0.schema)
    r.load(resolve(spark, manifestDir): _*)
  }

  /** Hive `NullRowsInputFormat`/`OneNullRowInputFormat` analog
    * (ql/io/NullRowsInputFormat.java): a storage-less "table" of `n`
    * all-NULL rows in the given schema — Hive uses it to answer
    * metadata-only queries (constant projections over views) without
    * touching storage. Spark-first: a `range(n)` projected to typed
    * NULL columns; no files, no scan. */
  def nullRows(spark: SparkSession, schema: StructType, n: Long = 1L): DataFrame =
    spark.range(n).select(schema.fields.toIndexedSeq.map(f =>
      lit(null).cast(f.dataType).as(f.name)): _*)

  // ------------------------------------------------------------------
  // driver-contract query: three document sources materialized as CSV
  // drops in separate directories, exposed through one symlink table —
  // one manifest line per access style (explicit file, glob, directory,
  // plus a duplicate line that must not double-count).
  // ------------------------------------------------------------------

  private type Q = (SparkSession, String) => DataFrame
  private val Sources = Seq("src3", "src7", "src11")

  val queries: Map[String, Q] = Map(
    "source_symlink_scan" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val base = graft.Fixtures.dir(spark, sfDir, "symlink")
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // external "drops": one directory of CSV part files per source
      Sources.foreach { s =>
        spark.table("documents").where(col("source") === s)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .coalesce(1)
          .write.option("header", "false").csv(s"$base/drops/$s")
      }
      def partFiles(s: String): Seq[String] =
        fs.listStatus(new Path(s"$base/drops/$s"))
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
          .map(_.getPath.toString).toSeq
      // the symlink table: manifest lines exercise every access style
      val links =
        partFiles("src3") ++ // explicit file path(s)
          Seq(s"$base/drops/src7/part-*") ++ // glob
          Seq(s"$base/drops/src11") ++ // directory
          partFiles("src3").take(1) // duplicate line — resolves once
      val manifestDir = new Path(s"$base/table")
      fs.mkdirs(manifestDir)
      val out = fs.create(new Path(manifestDir, "link_0"))
      out.write(links.mkString("\n").getBytes("UTF-8"))
      out.close()
      read(spark, manifestDir.toString, "csv",
        schema = Some(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"),
          min(col("doc_id")).cast("bigint").as("min_doc"))
        .orderBy(col("source"))
    })
  )

  // the oracle reads the SOURCE table: symlink indirection must surface
  // exactly the linked sources' rows, once each
  val oracle: Map[String, String] = Map(
    "source_symlink_scan" -> s"""
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(MIN(doc_id) AS BIGINT) AS min_doc
      FROM documents
      WHERE source IN (${Sources.map(s => s"'$s'").mkString(", ")})
      GROUP BY source ORDER BY source"""
  )
}
