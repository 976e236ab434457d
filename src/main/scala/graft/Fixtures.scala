package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one owner of the warehouse fixtures: files a query derives from
  * the tables of an sfDir and keeps under
  * `<warehouse>/_graft_fixtures/<name>_<hex(sfDir.hashCode)>`. A
  * fixture is either built once and reused while its sources are
  * unchanged (`buildOnce`: the ANN indexes, the RCFile and Hive-bucketed
  * table copies, the lineitem MV) or rewritten by every call (`dir`: the
  * source queries' scratch trees). Nothing else decides where a derived
  * file lives or when it may be reused. */
object Fixtures {

  /** The meta file of a `buildOnce` fixture. Deleting it forces the
    * next call to rebuild. */
  val Meta = "_FIXTURE_META"

  /** First line of every meta; a meta in any other format is stale. */
  private val Format = "fixture1"

  private val lock = new Object

  private def path(spark: SparkSession, sfDir: String, name: String): String =
    spark.conf.get("spark.sql.warehouse.dir") +
      s"/_graft_fixtures/${name}_" + Integer.toHexString(sfDir.hashCode)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The fixture dir `name` of `sfDir`, emptied: scratch for a query
    * that writes its whole tree on every call. */
  def dir(spark: SparkSession, sfDir: String, name: String): String = {
    val d = path(spark, sfDir, name)
    val p = new Path(d)
    fsOf(spark, p).delete(p, true)
    d
  }

  /** The fixture dir `name` of `sfDir`, built at most once while its
    * sources are unchanged, with the value its build returned.
    *
    * The dir is served while its layout's commit marker `committed`
    * exists and its meta holds `Format` and the current file identity
    * (`Tables.fileIdentity`) of every table in `sources`: a metadata
    * listing and one small file read, no Spark job. A source rewritten
    * in place therefore rebuilds. Otherwise the dir is emptied, the
    * session's views of `sfDir` are registered, `build(dir)` runs, and
    * the meta is written last, recording the one value `build`
    * returns. A build that throws or dies midway leaves no meta, so the
    * next call builds again. One JVM-wide lock serializes the check
    * and the build. */
  def buildOnce(spark: SparkSession, sfDir: String, name: String,
                sources: Seq[String], committed: String)
               (build: String => Long): (String, Long) = lock.synchronized {
    val d = path(spark, sfDir, name)
    val fs = fsOf(spark, new Path(d))
    val meta = new Path(d, Meta)
    val identity = sources.flatMap { t =>
      val src = new Path(s"$sfDir/$t.parquet")
      Tables.fileIdentity(fsOf(spark, src), src)
    }.map { case (f, len, mtime) => s"$f,$len,$mtime" }
    val served =
      if (!fs.exists(new Path(d, committed)) || !fs.exists(meta)) None
      else {
        val in = fs.open(meta)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList match {
          case Format :: value :: files if files == identity => Some(value.toLong)
          case _ => None
        } finally in.close()
      }
    val value = served.getOrElse {
      fs.delete(new Path(d), true)
      Tables.register(spark, sfDir)
      val v = build(d)
      val out = fs.create(meta, true)
      try out.write((Format +: v.toString +: identity).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      v
    }
    (d, value)
  }
}
