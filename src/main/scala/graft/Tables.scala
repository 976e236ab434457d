package graft

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Registers the driver-generated parquet testdata (TESTDATA.md) as temp
  * views so queries can be expressed in the Hive-ish SQL dialect Spark SQL
  * natively accepts (SURVEY.md §2.3 — no custom parser).
  *
  * Views are cheap catalog entries over parquet scans: Catalyst still gets
  * full predicate pushdown / column pruning / partition pruning through
  * them, so at 100 TB the scan only reads what each query touches.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // skip re-registration while the session's views already point at this
  // sfDir: re-registering costs 10 view definitions per query, and 10
  // Spark schema-inference jobs whenever `schemas` misses. Temp views
  // are PER SparkSession, so key by the session itself (weakly —
  // sessions must stay collectable), remembering only the LAST dir:
  // switching sfDir must re-register.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  // (qualified path, session's parquet-inference confs) -> (identity of
  // every leaf file under the path, the schema inference returned).
  // JVM-wide, unlike `registered`: the schema is a function of the files
  // and those confs alone, so a new session reuses it.
  private val schemas = new scala.collection.concurrent.TrieMap[
    (String, Seq[(String, String)]), (Seq[(String, Long, Long)], StructType)]()

  // every session setting Spark's parquet schema inference reads
  // (ParquetUtils.inferSchema and ParquetToSparkSchemaConverter);
  // `nanosAsLong`, which `register` sets, is under the legacy prefix
  private val inferenceConfPrefixes = Seq("spark.sql.parquet.",
    "spark.sql.legacy.parquet.", "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles")

  /** Read a parquet path the way `spark.read.parquet(path)` does, without
    * re-running Spark's schema-inference job (one job per call, even for
    * a single file) when this JVM already inferred the same files.
    *
    * Invariant: a memo hit returns exactly the schema inference would
    * return in this session. The memo checks every input of inference —
    * each leaf file's qualified path, length and modification time, and
    * the session's settings under `inferenceConfPrefixes` — so a changed
    * file or conf is a miss that infers again (and replaces the path's
    * stale entry: one entry per path and conf set). A miss is the plain
    * `spark.read.parquet(path)`, so the first read of a file in a JVM
    * and its errors (missing path, no parquet files) are unchanged. The
    * price of a hit is one file listing, which the read itself repeats. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, path, spark.sessionState.newHadoopConf())

  private def parquet(spark: SparkSession, path: String,
                      hadoopConf: Configuration): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val files =
      try {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        b.result().sortBy(_._1)
      } catch {
        // a missing path (or a glob, which only Spark expands) reads
        // unmemoized, so Spark raises or resolves it exactly as before
        case _: FileNotFoundException => return spark.read.parquet(path)
      }
    val confs = spark.conf.getAll.iterator.filter { case (k, _) =>
      inferenceConfPrefixes.exists(k.startsWith)
    }.toSeq.sorted
    val key = (fs.makeQualified(p).toString, confs)
    schemas.get(key) match {
      case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (files, df.schema))
        df
    }
  }

  /** Set a session up for the harness queries: a temp view per fixture
    * table in `sfDir` (events.ts normalized, below) and every graft SQL
    * function (`GraftFunctions.register`). Memoized per session and
    * dir, so every query calls it and a repeat costs one map lookup. */
  def register(spark: SparkSession, sfDir: String): Unit = {
    if (registered.get(spark) == sfDir) return
    // events.ts precision varies across testdata generations: TIMESTAMP
    // (NANOS) (read as a nanos long under the legacy flag, floor-divided
    // to µs — integer div, double division would lose precision above
    // 2^53) or plain timestamp[us] (read as TIMESTAMP_NTZ). Normalize
    // both to session-TZ TimestampType (session TZ is pinned UTC, so the
    // NTZ→TZ cast is value-preserving) — queries and the DuckDB oracle
    // then see identical µs instants either way (FIXTURES.md §2).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val hadoopConf = spark.sessionState.newHadoopConf()
    names.foreach { t =>
      val raw = parquet(spark, s"$sfDir/$t.parquet", hadoopConf)
      val df =
        if (t == "events") {
          import org.apache.spark.sql.functions._
          import org.apache.spark.sql.types._
          raw.schema("ts").dataType match {
            case LongType => // nanos-as-long generation
              raw.withColumn("ts",
                timestamp_micros(expr("CAST(ts DIV 1000L AS LONG)")))
            case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
          }
        } else raw
      df.createOrReplaceTempView(t)
    }
    graft.functions.GraftFunctions.register(spark)
    // memoize only after every view and function registered: a partial
    // failure must re-throw on the next query, not cascade into
    // missing-view errors
    registered.put(spark, sfDir)
  }

  /** Drop the memoized sfDir for this session so the NEXT register()
    * call re-reads the parquet views even for the same dir. Test hook:
    * specs that temporarily replace a view (e.g. planting a document)
    * restore the pristine views with invalidate+register instead of
    * bouncing through a sibling testdata dir that may not exist. */
  def invalidate(spark: SparkSession): Unit = registered.remove(spark)

  /** Run `body` with the session conf `key` set to `value`, then put the
    * key back as the caller had it: its old value restored, or unset if
    * the session never set it (a key left at Spark's default stays
    * absent, not pinned to the default), also when `body` throws. The
    * one scoped conf write in `src/main`; use it only where Spark has
    * no per-operation route for the setting, and only around eager
    * work — a DataFrame built inside but run after would plan under the
    * restored value. Its only caller is `Acid`: the dynamic
    * partition-overwrite mode of a partition-scoped rewrite, and the
    * split size of a compaction's read-back. */
  private[graft] def withConf[T](spark: SparkSession, key: String, value: String)
                               (body: => T): T = {
    val saved = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Scale the shared SQL texts' repartition hints to the session.
    *
    * The query texts spell `/*+ REPARTITION(32) */` because the SAME
    * string is the DuckDB oracle text (the hint parses as a plain block
    * comment there, so Spark and the oracle share one statement). But
    * the literal 32 is the local bench host's core count, wrong in both
    * directions anywhere else: at `local[8]` it over-splits the tiny
    * inputs, and on a cluster-sized session it would COALESCE a
    * thousands-of-splits scan down to 32 tasks — a hard parallelism cap
    * (guide §2.5). At execution time the Spark side rewrites the width
    * to the session's `defaultParallelism` (= the configured core
    * count locally, total executor cores on a cluster); the oracle text
    * keeps the comment verbatim. REPARTITION(1) spellings are exactness
    * contracts (single partial per group), never rewritten. */
  def scaleHints(spark: SparkSession, q: String): String =
    q.replace("REPARTITION(32)",
      s"REPARTITION(${spark.sparkContext.defaultParallelism})")

  /** Standard shape of a harness query: register views and functions,
    * run SQL. */
  def sql(q: String): (SparkSession, String) => DataFrame =
    (spark, sfDir) => { register(spark, sfDir); spark.sql(scaleHints(spark, q)) }
}
