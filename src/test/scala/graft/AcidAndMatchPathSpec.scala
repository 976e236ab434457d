package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Acid, MatchPath}

class AcidAndMatchPathSpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark
  import spark.implicits._

  test("UPDATE via read-rewrite-overwrite") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_t")
    Tables.register(spark, LocalSpark.sf)
    spark.table("supplier").write.saveAsTable("graft_db.acid_t")
    val total = spark.table("graft_db.acid_t").count()
    val before = spark.table("graft_db.acid_t").where($"s_suppkey" < 5).count()
    assert(before > 0)
    Acid.updateTable(spark, "graft_db.acid_t",
      col("s_suppkey") < 5,
      Map("s_acctbal" -> lit(0.0), "s_name" -> concat(col("s_name"), lit("_U"))))
    val t = spark.table("graft_db.acid_t")
    assert(t.count() == total) // row count unchanged
    val updated = t.where($"s_name".endsWith("_U"))
    assert(updated.count() == before)
    assert(updated.agg(sum($"s_acctbal")).collect()(0).getDouble(0) == 0.0)
    // untouched rows keep their names
    assert(t.where($"s_suppkey" >= 5 && $"s_name".endsWith("_U")).count() == 0)
  }

  test("DELETE via read-rewrite-overwrite, null-safe predicate") {
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_d")
    Tables.register(spark, LocalSpark.sf)
    spark.table("orders").write.saveAsTable("graft_db.acid_d")
    val total = spark.table("graft_db.acid_d").count()
    val hits = spark.table("graft_db.acid_d").where($"o_totalprice" > 400000).count()
    Acid.deleteFrom(spark, "graft_db.acid_d", col("o_totalprice") > 400000)
    assert(spark.table("graft_db.acid_d").count() == total - hits)
    assert(spark.table("graft_db.acid_d").where($"o_totalprice" > 400000).count() == 0)
  }

  test("MERGE: upsert with delete condition, cardinality rule enforced") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_m")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v").write.saveAsTable("graft_db.acid_m")
    // source: id=2 updated, id=3 flagged deleted (v < 0), id=4
    // inserted, id=9 a delete event for a key ABSENT from the target
    // (re-delivered CDC delete) — must be a no-op, not a ghost insert
    val src = Seq((2L, "b2", 22.0), (3L, "c", -1.0), (4L, "d", 40.0),
      (9L, "ghost", -5.0)).toDF("id", "name", "v")
    Acid.merge(spark, "graft_db.acid_m", src, Seq("id"),
      deleteCond = Some(col("v") < 0))
    val rows = spark.table("graft_db.acid_m").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "b2", 22.0), (4L, "d", 40.0)), rows)
    // Hive's cardinality rule: duplicate source keys must fail loudly
    val dup = Seq((5L, "x", 1.0), (5L, "y", 2.0)).toDF("id", "name", "v")
    intercept[IllegalArgumentException] {
      Acid.merge(spark, "graft_db.acid_m", dup, Seq("id"))
    }
    // the failed merge must not have altered the table
    assert(spark.table("graft_db.acid_m").count() == 3)
  }

  test("partition-scoped UPDATE rewrites only the targeted partitions") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_p")
    Tables.register(spark, LocalSpark.sf)
    spark.table("documents")
      .select($"doc_id", $"text", $"lang")
      .write.partitionBy("lang").saveAsTable("graft_db.acid_p")
    val warehouse = spark.sql("DESCRIBE EXTENDED graft_db.acid_p").collect()
      .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
    // record the 'de' partition's files before a scoped update of 'en'
    def deFiles() = new java.io.File(s"$warehouse/lang=de").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val before = deFiles()
    Acid.updateTable(spark, "graft_db.acid_p",
      col("doc_id") < 100, Map("text" -> lit("[REDACTED]")),
      partitionScope = Some(col("lang") === "en"))
    // untouched partition: identical files on disk
    assert(deFiles() == before, "lang=de partition must not be rewritten")
    val t = spark.table("graft_db.acid_p")
    assert(t.where($"lang" === "en" && $"doc_id" < 100 && $"text" =!= "[REDACTED]").count() == 0)
    assert(t.where($"lang" === "de" && $"text" === "[REDACTED]").count() == 0)
    assert(t.count() == 500)
  }

  test("scoped UPDATE that moves rows across partitions preserves target partitions") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_mv")
    Tables.register(spark, LocalSpark.sf)
    spark.table("documents").select($"doc_id", $"text", $"lang")
      .write.partitionBy("lang").saveAsTable("graft_db.acid_mv")
    val t0 = spark.table("graft_db.acid_mv")
    val deBefore = t0.where($"lang" === "de").count()
    val enMoved = t0.where($"lang" === "en" && $"doc_id" < 50).count()
    val total = t0.count()
    assert(enMoved > 0 && deBefore > 0)
    // an assignment to the PARTITION column, scoped to lang=en: the moved
    // rows land in lang=de, which dynamic overwrite would clobber — the
    // fallback full rewrite must keep de's pre-existing rows
    Acid.updateTable(spark, "graft_db.acid_mv",
      col("doc_id") < 50, Map("lang" -> lit("de")),
      partitionScope = Some($"lang" === "en"))
    val t = spark.table("graft_db.acid_mv")
    assert(t.count() == total, "row count preserved")
    assert(t.where($"lang" === "de").count() == deBefore + enMoved,
      "target partition keeps its own rows AND gains the moved ones")
    assert(t.where($"lang" === "en" && $"doc_id" < 50).count() == 0, "rows moved out")
    // staging is a sibling of the table dir on the table's FS — and must
    // never leak after the rewrite
    val warehouse = spark.sql("DESCRIBE EXTENDED graft_db.acid_mv").collect()
      .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
    val parent = new java.io.File(warehouse).getParentFile
    val leaked = parent.listFiles().filter(_.getName.startsWith("_graft_staging_"))
    assert(leaked.isEmpty, s"staging leak: ${leaked.map(_.getName).toSeq}")
  }

  test("scoped DELETE that empties a partition actually removes it") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_pd")
    Tables.register(spark, LocalSpark.sf)
    spark.table("documents").select($"doc_id", $"text", $"lang")
      .write.partitionBy("lang").saveAsTable("graft_db.acid_pd")
    val enRows = spark.table("graft_db.acid_pd").where($"lang" === "en").count()
    assert(enRows > 0)
    val total = spark.table("graft_db.acid_pd").count()
    // delete EVERY row of the scoped partition — dynamic overwrite alone
    // would silently keep them (no data written for the partition)
    Acid.deleteFrom(spark, "graft_db.acid_pd", lit(true),
      partitionScope = Some($"lang" === "en"))
    val t = spark.table("graft_db.acid_pd")
    assert(t.where($"lang" === "en").count() == 0, "emptied partition must be dropped")
    assert(t.count() == total - enRows, "other partitions untouched")
  }

  test("CONCATENATE merges small files without changing data; compact tables are a no-op") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_c")
    Tables.register(spark, LocalSpark.sf)
    // 20 deliberately tiny files
    spark.table("supplier").repartition(20).write.saveAsTable("graft_db.acid_c")
    val before = spark.table("graft_db.acid_c")
      .orderBy("s_suppkey").collect().toSeq
    val filesBefore = spark.table("graft_db.acid_c").inputFiles.length
    // supplier at sf0.001 has few rows — empty shuffle partitions write
    // no file, so "20 partitions" lands well under 20 actual files
    assert(filesBefore >= 5, s"expected many small files, got $filesBefore")
    val (was, target) = Acid.concatenate(spark, "graft_db.acid_c")
    assert(was == filesBefore && target == 1)
    assert(spark.table("graft_db.acid_c").inputFiles.length == 1)
    assert(spark.table("graft_db.acid_c").orderBy("s_suppkey").collect().toSeq == before)
    // second call: already compact → no rewrite
    val (w2, t2) = Acid.concatenate(spark, "graft_db.acid_c")
    assert(w2 == 1 && t2 == 1)
  }

  test("partition-scoped CONCATENATE compacts only the scoped partition") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_cp")
    Tables.register(spark, LocalSpark.sf)
    spark.table("documents").select("doc_id", "text", "lang")
      .repartition(10).write.partitionBy("lang").saveAsTable("graft_db.acid_cp")
    val t = spark.table("graft_db.acid_cp")
    val before = t.orderBy("doc_id").collect().toSeq
    val otherFiles = t.where($"lang" =!= "en").inputFiles.toSet
    assert(t.where($"lang" === "en").inputFiles.length > 1)
    Acid.concatenate(spark, "graft_db.acid_cp",
      partitionScope = Some(col("lang") === "en"))
    val after = spark.table("graft_db.acid_cp")
    assert(after.where($"lang" === "en").inputFiles.length == 1)
    // untouched partitions keep their exact files (not rewritten)
    assert(after.where($"lang" =!= "en").inputFiles.toSet == otherFiles)
    assert(after.orderBy("doc_id").collect().toSeq == before)
  }

  test("CONCATENATE refuses a data-column scope and converges on partitioned tables") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_cc")
    Tables.register(spark, LocalSpark.sf)
    spark.table("documents").select("doc_id", "text", "lang")
      .repartition(6).write.partitionBy("lang").saveAsTable("graft_db.acid_cc")
    // a data-column predicate would DELETE non-matching rows of
    // rewritten partitions — must be refused up front
    val ex = intercept[IllegalArgumentException] {
      Acid.concatenate(spark, "graft_db.acid_cc",
        partitionScope = Some(col("doc_id") > 100))
    }
    assert(ex.getMessage.contains("partition columns"))
    // full-table compaction, then the healthy table must be a NO-OP:
    // the threshold accounts for one-file-per-partition being the floor
    val before = spark.table("graft_db.acid_cc").orderBy("doc_id").collect().toSeq
    Acid.concatenate(spark, "graft_db.acid_cc")
    val filesAfter = spark.table("graft_db.acid_cc").inputFiles.toSet
    val (w2, t2) = Acid.concatenate(spark, "graft_db.acid_cc")
    assert(w2 == t2, s"healthy partitioned table must be a no-op, got $w2 -> $t2")
    assert(spark.table("graft_db.acid_cc").inputFiles.toSet == filesAfter,
      "no-op must not rewrite any file")
    assert(spark.table("graft_db.acid_cc").orderBy("doc_id").collect().toSeq == before)
  }

  test("writer lock: concurrent writer fails loudly; stale lock is broken by TTL") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_lk")
    Tables.register(spark, LocalSpark.sf)
    spark.table("region").write.saveAsTable("graft_db.acid_lk")
    val lock = Acid.lockPath(spark, "graft_db.acid_lk")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // someone else holds the lock → a second writer times out loudly,
    // naming the holder, and leaves the table untouched
    val out = fs.create(lock, false)
    out.write("pid12345@otherhost".getBytes("UTF-8")); out.close()
    val before = spark.table("graft_db.acid_lk").count()
    val e = intercept[IllegalStateException] {
      Acid.withWriterLock(spark, "graft_db.acid_lk", waitMs = 400) {
        spark.sql("""INSERT OVERWRITE TABLE graft_db.acid_lk
                     SELECT * FROM region WHERE r_regionkey <> 0""")
      }
    }
    assert(e.getMessage.contains("writer lock") &&
      e.getMessage.contains("pid12345@otherhost"), e.getMessage)
    assert(spark.table("graft_db.acid_lk").count() == before)

    // a crashed holder's lock (mtime beyond TTL) is broken and the
    // write proceeds; the lock file is released afterwards
    // (2 h old against the default 1 h TTL)
    fs.setTimes(lock, System.currentTimeMillis() - 7200000L, -1)
    Acid.deleteFrom(spark, "graft_db.acid_lk", col("r_regionkey") === 0)
    assert(spark.table("graft_db.acid_lk").count() == before - 1)
    assert(!fs.exists(lock), "lock must be released after the statement")
  }

  test("writer lock: second live writer blocks, then succeeds on post-commit state") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.acid_2w")
    Tables.register(spark, LocalSpark.sf)
    spark.table("region").write.saveAsTable("graft_db.acid_2w")
    val lock = Acid.lockPath(spark, "graft_db.acid_2w")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // writer A holds the statement lock
    val out = fs.create(lock, false)
    out.write("writerA".getBytes("UTF-8")); out.close()
    val bErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val b = new Thread(() =>
      try Acid.deleteFrom(spark, "graft_db.acid_2w", col("r_regionkey") === 4)
      catch { case t: Throwable => bErr.set(t) })
    try {
      b.start()
      Thread.sleep(1000)
      assert(b.isAlive, "writer B must block while A holds the lock")
      assert(spark.table("graft_db.acid_2w").count() == 5,
        "B must not have mutated anything while waiting")
      // A commits: full rewrite with NEW file names (old files deleted) —
      // exactly the state change that would strand a pre-commit listing
      spark.sql("""INSERT OVERWRITE TABLE graft_db.acid_2w
                   SELECT * FROM region WHERE r_regionkey <> 0""")
    } finally {
      fs.delete(lock, false) // A releases
      b.join(60000)
    }
    assert(!b.isAlive, "writer B must have completed")
    assert(bErr.get() == null,
      s"B must SUCCEED on post-A state, not fail: ${bErr.get()}")
    // final state reflects BOTH mutations: A removed key 0, B removed key 4
    assert(spark.table("graft_db.acid_2w").orderBy("r_regionkey")
      .select("r_regionkey").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(!fs.exists(lock), "lock must be released after B's statement")
  }

  test("writer lock: LOAD DATA blocks behind a live writer, both effects survive") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql("DROP TABLE IF EXISTS graft_db.load_race")
    Tables.register(spark, LocalSpark.sf)
    spark.table("region").write.saveAsTable("graft_db.load_race")
    // staged files to LOAD: region rows with keys offset +100
    val stage = java.nio.file.Files.createTempDirectory("graft_load_race").toString
    spark.table("region")
      .withColumn("r_regionkey", col("r_regionkey") + lit(100))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/files")

    val lock = Acid.lockPath(spark, "graft_db.load_race")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A holds the statement lock
    val out = fs.create(lock, false)
    out.write("writerA".getBytes("UTF-8")); out.close()
    val bErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val b = new Thread(() =>
      try graft.sources.LoadData.loadData(spark, s"$stage/files", "graft_db.load_race")
      catch { case t: Throwable => bErr.set(t) })
    try {
      b.start()
      Thread.sleep(1000)
      assert(b.isAlive, "LOAD DATA must block while A holds the lock")
      assert(spark.table("graft_db.load_race").count() == 5,
        "LOAD must not have landed files while waiting")
      // A commits a full rewrite (new file names, old files deleted) —
      // the exact mutation that would have silently dropped an unlocked
      // LOAD's freshly-landed files had the LOAD already run
      spark.sql("""INSERT OVERWRITE TABLE graft_db.load_race
                   SELECT * FROM region WHERE r_regionkey <> 0""")
    } finally {
      fs.delete(lock, false) // A releases
      b.join(60000)
    }
    assert(!b.isAlive, "LOAD DATA must have completed")
    assert(bErr.get() == null, s"LOAD must SUCCEED after A commits: ${bErr.get()}")
    // BOTH effects survive: A's rewrite (key 0 gone) and B's loaded rows
    val keys = spark.table("graft_db.load_race")
      .orderBy("r_regionkey").select("r_regionkey")
      .collect().map(_.getInt(0)).toSeq
    assert(keys == Seq(1, 2, 3, 4, 100, 101, 102, 103, 104), keys.toString)
    assert(!fs.exists(lock), "lock must be released after the LOAD")
  }

  test("matchpath PTF agrees with a local reference implementation") {
    Tables.register(spark, LocalSpark.sf)
    val got = MatchPath.matches(spark, LocalSpark.sf, "v+p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    // reference: same regex over locally-sorted per-user sequences
    val evs = spark.table("events")
      .select($"user_id", $"event_id", $"event_type", $"ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val expect = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(e => (e._4.getTime, e._4.getNanos, e._2))
      val syms = sorted.map(e => MatchPath.symbolOf.getOrElse(e._3, "?")).mkString
      val m = java.util.regex.Pattern.compile("v+p").matcher(syms)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      while (m.find()) out += ((uid, sorted(m.start())._2, m.end() - m.start()))
      out
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == expect)
    assert(got.nonEmpty, "corpus should contain view+ purchase sequences")
  }

  test("lock knobs are validated by name: a non-positive TTL would break live locks") {
    val ttl = intercept[IllegalArgumentException] {
      Acid.withWriterLock(spark, "graft_db.knob_probe", ttlMs = 0) { 1 }
    }
    assert(ttl.getMessage.contains("ttlMs"), ttl.getMessage)
    val wait = intercept[IllegalArgumentException] {
      Acid.withWriterLock(spark, "graft_db.knob_probe", waitMs = -5) { 1 }
    }
    assert(wait.getMessage.contains("waitMs"), wait.getMessage)
  }
}
