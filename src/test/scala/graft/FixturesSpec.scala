package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The warehouse fixtures' one owner, `Fixtures.buildOnce`: a fixture is
  * served only while its sources' files are unchanged, a failed build
  * leaves nothing that can be served, and no fixture lives outside the
  * warehouse. */
class FixturesSpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  test("the RCFile, Hive-bucketed and MV fixtures follow a source regenerated in place") {
    // a private copy of the testdata whose tables the test rewrites
    val sfDir = Files.createTempDirectory("graft-fixtures-src")
    Tables.names.foreach { t =>
      Files.copy(Paths.get(LocalSpark.sf, s"$t.parquet"), sfDir.resolve(s"$t.parquet"))
    }
    val sf = sfDir.toString
    val queries = Seq("source_rcfile_scan", "source_hive_bucket_lookup", "agg_mv_rewrite")
    // the answer over the current files, from a session with no fixture
    // and no rewrite rule: the query's oracle text run by Spark
    def expected(q: String) = {
      val fresh = spark.newSession()
      Tables.register(fresh, sf)
      rows(fresh.sql(SparkEntry.oracleSql(q)))
    }
    val s = spark.newSession()
    val before = queries.map { q =>
      val got = rows(SparkEntry.queries(q)(s, sf))
      assert(got.nonEmpty && got == expected(q), s"$q before the rewrite")
      got
    }

    // the same file names, about half the rows
    val staged = Files.createTempDirectory("graft-fixtures-staged")
    for ((t, key) <- Seq("supplier" -> "s_suppkey", "customer" -> "c_custkey",
                         "lineitem" -> "l_orderkey")) {
      val out = staged.resolve(t)
      s.table(t).where(s"$key % 2 = 0").coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, sfDir.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    Tables.register(s, sf)

    for ((q, old) <- queries.zip(before)) {
      val want = expected(q)
      assert(want != old, s"$q: the rewrite did not change the answer")
      assert(rows(SparkEntry.queries(q)(s, sf)) == want,
        s"$q served a fixture built from the old files")
    }
  }

  test("a build that throws leaves no meta, so the next call builds again") {
    val s = spark.newSession()
    val sf = LocalSpark.sf
    def built(dir: String): Unit = {
      val p = new Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(p)
      fs.create(new Path(p, "_OK")).close()
    }
    var dir = ""
    intercept[IllegalStateException] {
      Fixtures.buildOnce(s, sf, "fixtures_spec_throw", Seq("supplier"), "_OK") { d =>
        dir = d
        built(d) // the layout is committed, but the build still fails
        throw new IllegalStateException("build failed")
      }
    }
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dir, "_OK")) && !fs.exists(new Path(dir, Fixtures.Meta)))

    var builds = 0
    def call(value: Long) =
      Fixtures.buildOnce(s, sf, "fixtures_spec_throw", Seq("supplier"), "_OK") { d =>
        builds += 1
        built(d)
        value
      }
    assert(call(7L) == ((dir, 7L)) && builds == 1)
    // served from the meta: no build, and the recorded value
    assert(call(8L) == ((dir, 7L)) && builds == 1)
    // a layout without its commit marker is not served
    fs.delete(new Path(dir, "_OK"), false)
    assert(call(9L) == ((dir, 9L)) && builds == 2)
  }

  test("the MV fixture creates no graft-mv dir under java.io.tmpdir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def mvDirs: Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-mv")).toSet
      finally ls.close()
    }
    val before = mvDirs
    val s = spark.newSession()
    assert(SparkEntry.queries("agg_mv_rewrite")(s, LocalSpark.sf).collect().nonEmpty)
    assert(mvDirs -- before == Set.empty[String])
  }
}
