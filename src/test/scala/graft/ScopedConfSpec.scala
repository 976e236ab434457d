package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.Acid

/** The scoped session-conf contract: `Tables.withConf` and the Acid
  * writes built on it (its only caller) hand the session back exactly
  * as they found it — a value the caller set comes back, and a key the
  * caller never set stays unset rather than pinned to Spark's default. */
class ScopedConfSpec extends AnyFunSuite with Matchers {
  lazy val spark = LocalSpark.spark

  /** The value the session itself holds for `key` (None = never set,
    * reads fall through to Spark's default). */
  private def explicit(key: String): Option[String] = spark.conf.getAll.get(key)

  /** Run `body` on a session where none of `keys` is set (the shared
    * session may carry another spec's settings), then put back what
    * was there. */
  private def fromUnset(keys: String*)(body: => Unit): Unit = {
    val saved = keys.map(k => k -> explicit(k))
    keys.foreach(spark.conf.unset)
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("withConf restores a set value, unsets an absent key, and restores on throw") {
    val key = "spark.sql.files.openCostInBytes"
    fromUnset(key) {
      Tables.withConf(spark, key, "1m")(spark.conf.get(key)) shouldBe "1m"
      explicit(key) shouldBe None
      intercept[IllegalStateException] {
        Tables.withConf(spark, key, "2m")(throw new IllegalStateException("boom"))
      }
      explicit(key) shouldBe None

      spark.conf.set(key, "8m")
      Tables.withConf(spark, key, "1m")(spark.conf.get(key)) shouldBe "1m"
      explicit(key) shouldBe Some("8m")
      intercept[IllegalStateException] {
        Tables.withConf(spark, key, "2m")(throw new IllegalStateException("boom"))
      }
      explicit(key) shouldBe Some("8m")
    }
  }

  test("scoped UPDATE and a compacting CONCATENATE leave both Acid confs as they were") {
    val keys = Seq("spark.sql.sources.partitionOverwriteMode",
      "spark.sql.files.maxPartitionBytes")
    def snapshot() = keys.map(k => (k, explicit(k), spark.conf.getOption(k)))
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")

    def runBoth(): Unit = {
      spark.sql("DROP TABLE IF EXISTS graft_db.scoped_conf")
      // 8 small files in each of two partitions
      spark.range(200).select(col("id").as("doc_id"),
          concat(lit("t"), col("id")).as("text"),
          when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))
        .repartition(8).write.partitionBy("lang").saveAsTable("graft_db.scoped_conf")

      val beforeUpdate = snapshot()
      Acid.updateTable(spark, "graft_db.scoped_conf",
        col("doc_id") < 50, Map("text" -> lit("[REDACTED]")),
        partitionScope = Some(col("lang") === "en"))
      snapshot() shouldBe beforeUpdate

      val beforeConcat = snapshot()
      val (was, target) = Acid.concatenate(spark, "graft_db.scoped_conf",
        partitionScope = Some(col("lang") === "de"))
      assert(was > target, s"expected a compacting rewrite, got $was -> $target")
      snapshot() shouldBe beforeConcat

      spark.table("graft_db.scoped_conf").count() shouldBe 200
    }

    fromUnset(keys: _*) {
      // keys the session never set stay absent
      runBoth()
      keys.foreach(k => explicit(k) shouldBe None)

      // values the session set come back unchanged
      spark.conf.set(keys(0), "STATIC")
      spark.conf.set(keys(1), "64m")
      runBoth()
      explicit(keys(0)) shouldBe Some("STATIC")
      explicit(keys(1)) shouldBe Some("64m")
    }
  }
}
