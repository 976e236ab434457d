package graft

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Registers the driver-generated parquet testdata (TESTDATA.md) as temp
  * views so queries can be expressed in the Hive-ish SQL dialect Spark SQL
  * natively accepts (SURVEY.md §2.3 — no custom parser).
  *
  * Views are cheap catalog entries over parquet scans: Catalyst still gets
  * full predicate pushdown / column pruning / partition pruning through
  * them, so at 100 TB the scan only reads what each query touches.
  *
  * A session has one registration: `register` makes it, and it owns
  * everything the session derives from those tables (`derived`: the
  * k-means models, the MV definitions). It stands while the sfDir and
  * the file identity of its tables are unchanged; a changed file makes
  * the next `register` replace it, and `invalidate` drops it, in both
  * cases with everything derived from it. The same file identity keys
  * the JVM's schema memo (`parquet`) and the warehouse fixtures
  * (`Fixtures.buildOnce`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Registration(sfDir: String,
      files: Seq[Seq[(String, Long, Long)]],
      derived: TrieMap[Any, Any] = TrieMap.empty)

  // temp views are per SparkSession: keyed by the session, weakly, so
  // sessions stay collectable
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Registration]())

  // (qualified path, session's parquet-inference confs) -> (identity of
  // every leaf file under the path, the schema inference returned).
  // JVM-wide, unlike a registration: the schema is a function of the files
  // and those confs alone, so a new session reuses it.
  private val schemas = new TrieMap[
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
      try fileIdentity(fs, p)
      catch {
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

  /** The identity of the files under `p`: every leaf file's qualified
    * path, length and modification time, sorted by path. A metadata
    * listing, no Spark job; a file rewritten in place changes it. The
    * one staleness key of derived data: `parquet`'s schema memo (per
    * JVM), `register`'s registration (per session) and
    * `Fixtures.buildOnce`'s warehouse fixtures (on disk). Throws
    * `FileNotFoundException` for a missing path. Plain statuses, not
    * `listFiles`, whose located statuses also load each local file's
    * permissions (3.5 ms against 0.02 ms for a one-file table). */
  private[graft] def fileIdentity(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    leaves(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
  }

  /** Set a session up for the harness queries: a temp view per fixture
    * table in `sfDir` (events.ts normalized, below) and every graft SQL
    * function (`GraftFunctions.register`). A hit while the sfDir and
    * the `fileIdentity` of its tables are unchanged costs a listing and
    * no Spark job; otherwise the views are registered again and the
    * registration is replaced, with everything derived from it. */
  def register(spark: SparkSession, sfDir: String): Unit = {
    val fs = new Path(sfDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = names.map { t =>
      // a missing table is a miss; its read then raises as before
      try fileIdentity(fs, new Path(s"$sfDir/$t.parquet"))
      catch { case _: FileNotFoundException => Nil }
    }
    val cur = registered.get(spark)
    if (cur != null && cur.sfDir == sfDir && cur.files == files) return
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
    // record only after every view and function registered: a partial
    // failure must re-throw on the next query, not cascade into
    // missing-view errors
    registered.put(spark, Registration(sfDir, files))
  }

  /** The value this session derived under `key` from its registered
    * tables, built once per registration. The caller registers first. */
  private[graft] def derived[T](spark: SparkSession, key: Any)(build: => T): T = {
    val r = registered.get(spark)
    require(r != null, s"derived $key: the session registered no tables")
    r.derived.getOrElseUpdate(key, build).asInstanceOf[T]
  }

  /** Every value derived so far in this session's registration. */
  private[graft] def derivedValues(spark: SparkSession): Iterable[Any] =
    Option(registered.get(spark)).fold(Iterable.empty[Any])(_.derived.values)

  /** Drop this session's registration and everything derived from it,
    * so the next `register` registers the views again even for the same
    * files. Test hook: a spec that replaced a view (e.g. planting a
    * document) restores the pristine views with invalidate+register. */
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
