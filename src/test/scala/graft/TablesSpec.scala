package graft

import java.nio.file.{Files, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The JVM-wide parquet schema memo behind `Tables.register` and
  * `Tables.parquet`, and the session registration: a hit must be exactly
  * what Spark's inference would return in that session, and a changed
  * file or conf must infer (and register) again.
  * Every spec works in its own `newSession()`, so the shared session's
  * views are never touched. */
class TablesSpec extends AnyFunSuite with Matchers {
  lazy val spark = LocalSpark.spark
  private val sf = LocalSpark.sf
  import LocalSpark.jobsIn

  private def nanosAsLong(s: SparkSession, on: Boolean): SparkSession = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", on.toString)
    s
  }

  test("memoized schema equals inference for every fixture table") {
    val s = nanosAsLong(spark.newSession(), on = true)
    Tables.names.foreach { t =>
      val p = s"$sf/$t.parquet"
      val inferred = s.read.parquet(p).schema
      Tables.parquet(s, p).schema shouldBe inferred // miss or hit
      Tables.parquet(s, p).schema shouldBe inferred // hit
    }
    // the view over the memoized read normalizes events.ts as before
    Tables.register(s, sf)
    s.table("events").schema("ts").dataType shouldBe TimestampType
  }

  test("a second session's registration runs no Spark job") {
    Tables.register(spark.newSession(), sf)
    val s = spark.newSession()
    jobsIn(Tables.register(s, sf)) shouldBe 0
    s.table("lineitem").count() should be > 0L
    // the same read without the memo does run inference jobs
    jobsIn(s.read.parquet(s"$sf/lineitem.parquet").schema) should be > 0
  }

  /** A copy of the testdata tables in a new temp dir. */
  private def testdataCopy(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-tables")
    Tables.names.foreach { t =>
      Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  /** Rewrite `table` in `dir` in place, at the same path, with one more
    * column (`extra`, an `expr AS name` select item). */
  private def addColumnInPlace(s: SparkSession, dir: java.nio.file.Path,
                               table: String, extra: String): Unit = {
    val staged = Files.createTempDirectory("graft-tables-staged")
    s.table(table).selectExpr("*", extra)
      .coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a file rewritten at the same path is inferred again") {
    val dir = testdataCopy()
    val s = spark.newSession()
    Tables.register(s, dir.toString)
    s.table("region").columns should not contain "r_extra"

    addColumnInPlace(s, dir, "region", "r_regionkey * 10 AS r_extra")
    Tables.invalidate(s)
    Tables.register(s, dir.toString)
    s.table("region").columns should contain("r_extra")
    s.table("region").where("r_extra = r_regionkey * 10").count() shouldBe
      s.table("region").count()
  }

  test("a registration miss re-registers the views but replaces no function") {
    val s = spark.newSession()
    Tables.register(s, sf)
    val reg = s.sessionState.functionRegistry
    def entries = graft.functions.GraftFunctions.builders.keys.toSeq.sorted
      .map(n => n -> reg.lookupFunction(FunctionIdentifier(n)).get)
    val before = entries
    def nation = s.sessionState.catalog.getTempView("nation").get
    val view = nation
    Tables.invalidate(s)
    Tables.register(s, sf)
    nation should not be theSameInstanceAs(view)
    // a function installed again gets a new registry entry
    val replaced = before.zip(entries).collect { case ((n, a), (_, b)) if !(a eq b) => n }
    replaced shouldBe empty
  }

  test("a table rewritten in place is seen by the next register, without invalidate") {
    val dir = testdataCopy()
    val s = spark.newSession()
    Tables.register(s, dir.toString)
    // an unchanged registration is a hit: no job, and the views stay
    jobsIn(Tables.register(s, dir.toString)) shouldBe 0
    s.table("nation").columns should not contain "n_extra"

    addColumnInPlace(s, dir, "nation", "n_nationkey + 1 AS n_extra")
    Tables.register(s, dir.toString)
    s.table("nation").columns should contain("n_extra")
    s.table("nation").where("n_extra = n_nationkey + 1").count() shouldBe
      s.table("nation").count()
  }

  test("flipping nanosAsLong is a miss, not a stale hit") {
    val file = Files.createTempDirectory("graft-nanos").resolve("ts.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1234567890123456789L))
    finally w.close()

    val on = nanosAsLong(spark.newSession(), on = true)
    Tables.parquet(on, file).schema("ts").dataType shouldBe LongType
    Tables.parquet(on, file).schema shouldBe on.read.parquet(file).schema

    val off = nanosAsLong(spark.newSession(), on = false)
    val inferred = Try(off.read.parquet(file).schema)
    val memo = Try(Tables.parquet(off, file).schema)
    inferred.map(_("ts").dataType) should not be scala.util.Success(LongType)
    memo.toOption shouldBe inferred.toOption
    memo.isFailure shouldBe inferred.isFailure

    // and flipping back hits the first entry again
    val back = nanosAsLong(spark.newSession(), on = true)
    jobsIn(Tables.parquet(back, file).schema) shouldBe 0
  }
}
