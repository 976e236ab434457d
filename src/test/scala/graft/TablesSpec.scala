package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.SECONDS
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The JVM-wide parquet schema memo behind `Tables.register` and
  * `Tables.parquet`: a hit must be exactly what Spark's inference would
  * return in that session, and a changed file or conf must infer again.
  * Every spec works in its own `newSession()`, so the shared session's
  * views are never touched. */
class TablesSpec extends AnyFunSuite with Matchers {
  lazy val spark = LocalSpark.spark
  private val sf = LocalSpark.sf

  private def nanosAsLong(s: SparkSession, on: Boolean): SparkSession = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", on.toString)
    s
  }

  /** Spark jobs `body` starts on this thread. Jobs carry their job group;
    * a sentinel job in a second group, seen by the listener, proves every
    * earlier job event was delivered (the listener bus is in order). */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val jobs = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-sentinel" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, SECONDS), "sentinel job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
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

  test("a file rewritten at the same path is inferred again") {
    val dir = Files.createTempDirectory("graft-tables")
    Tables.names.foreach { t =>
      Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    val s = spark.newSession()
    Tables.register(s, dir.toString)
    s.table("region").columns should not contain "r_extra"

    val staged = Files.createTempDirectory("graft-tables-staged")
    s.table("region").selectExpr("*", "r_regionkey * 10 AS r_extra")
      .coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, dir.resolve("region.parquet"), StandardCopyOption.REPLACE_EXISTING)

    Tables.invalidate(s)
    Tables.register(s, dir.toString)
    s.table("region").columns should contain("r_extra")
    s.table("region").where("r_extra = r_regionkey * 10").count() shouldBe
      s.table("region").count()
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
