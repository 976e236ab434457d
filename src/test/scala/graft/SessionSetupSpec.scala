package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.functions.GraftFunctions
import graft.operators.Dedup

/** Where session and context state is installed, and how often:
  * `Tables.register` installs every graft SQL function, the iterative
  * loops share one checkpoint dir per SparkContext, and each of these
  * has exactly one installer in the sources. */
class SessionSetupSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = LocalSpark.spark
  private val sf = LocalSpark.sf

  private def exists(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  test("Tables.register installs every graft function and shadows no Spark built-in") {
    val names = GraftFunctions.builders.keySet
    val s = spark.newSession()
    assert(names.filter(exists(s, _)).isEmpty, "a fresh session already has graft functions")
    Tables.register(s, sf)
    val missing = names.filterNot(exists(s, _))
    assert(missing.isEmpty, s"not installed by Tables.register: $missing")
    // every session now gets every function, so a builder named like a
    // Spark built-in would silently change every query that calls it
    val shadowing = names.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.isEmpty, s"graft builders shadow Spark built-ins: $shadowing")
  }

  /** Checkpoint files under `dir`. */
  private def filesUnder(dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
  }

  /** Runs `body` on the shared context with its checkpoint dir set to
    * `dir`, restoring the context's exact dir afterwards. */
  private def withCheckpointDir[T](dir: Option[String])(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    CheckpointDirs.set(sc, dir)
    try body finally CheckpointDirs.set(sc, saved)
  }

  private def ccEdges(s: SparkSession) =
    s.createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L))).toDF("src", "dst")

  private def ccLabels(s: SparkSession): Seq[(Long, Long)] =
    Dedup.connectedComponents(s, ccEdges(s))._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("with no checkpoint dir, the loops set one under the warehouse once") {
    val sc = spark.sparkContext
    withCheckpointDir(None) {
      ccLabels(spark.newSession()) shouldBe
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      val dir = sc.getCheckpointDir.getOrElse(fail("CC set no checkpoint dir"))
      val base = new Path(spark.conf.get("spark.sql.warehouse.dir"), "_graft_checkpoints")
      val qualified = base.getFileSystem(sc.hadoopConfiguration).makeQualified(base)
      assert(new Path(dir).getParent == qualified,
        s"$dir is not Spark's uuid subdir of $qualified")
      val afterCc = filesUnder(dir)
      assert(afterCc > 0, s"no checkpoint files in $dir")
      // a second loop, in another session, keeps the context on that dir
      val s2 = spark.newSession()
      SparkEntry.queries("graph_mst_boruvka")(s2, sf).collect()
      assert(sc.getCheckpointDir.contains(dir))
      val afterMst = filesUnder(dir)
      assert(afterMst > afterCc, s"MST wrote no checkpoint files in $dir")
      // and so does kcore, the third loop on the driver
      SparkEntry.queries("graph_kcore")(spark.newSession(), sf).collect()
      assert(sc.getCheckpointDir.contains(dir))
      assert(filesUnder(dir) > afterMst, s"kcore wrote no checkpoint files in $dir")
    }
  }

  test("a checkpoint dir the caller configured is used as it is") {
    val sc = spark.sparkContext
    val own = Files.createTempDirectory("graft-own-ckpt").toString
    try withCheckpointDir(None) {
      sc.setCheckpointDir(own)
      val dir = sc.getCheckpointDir.get
      ccLabels(spark) shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      assert(sc.getCheckpointDir.contains(dir))
      assert(filesUnder(dir) > 0, s"no checkpoint files in $dir")
    } finally {
      val p = new Path(own)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
  }

  test("source guard: each kind of session state has one installer") {
    // calls that install session or context state, and the files
    // (relative to src/main/scala/graft) allowed to make each; an empty
    // set means none may
    val owners = Seq(
      "GraftFunctions.register(" -> Set("Tables.scala", "tools/GraftCli.scala"),
      "createOrReplaceTempFunction(" -> Set("functions/expressions.scala"),
      "setCheckpointDir(" -> Set("operators/Loops.scala"),
      // every loop carries its RDD state through the round driver's
      // reliable checkpoint; none truncates lineage to executor-local
      // blocks
      ".checkpoint(" -> Set("operators/Loops.scala"),
      "localCheckpoint(" -> Set.empty[String],
      // session conf writes: `Tables.register`'s set-up and the one
      // scoped-write helper, `Tables.withConf`, which only Acid's two
      // swaps call
      "conf.set(" -> Set("Tables.scala"),
      "conf.unset(" -> Set("Tables.scala"),
      "withConf(" -> Set("operators/Acid.scala"),
      // no query sets the session's shuffle width: the loops take each
      // round's width as a value
      "conf.set(\"spark.sql.shuffle.partitions\"" -> Set.empty[String],
      "withConf(spark, \"spark.sql.shuffle.partitions\"" -> Set.empty[String],
      // queries take policy as parameters, never as graft.* options
      "getOption(\"graft." -> Set.empty[String],
      "props.get(\"graft." -> Set.empty[String],
      // derived files live under the warehouse, named, fingerprinted
      // and committed by one builder; only the mains that build a
      // session make a temp dir, for its warehouse
      "_graft_fixtures" -> Set("Fixtures.scala"),
      "sfDir.hashCode" -> Set("Fixtures.scala"),
      "createTempDirectory(" -> Set("Bench.scala", "Verify.scala",
        "tools/ToolSession.scala", "tools/GraftCli.scala"),
      // what a session derives lives on its one table registration;
      // each planner extension installs itself, and no query keeps a
      // JVM-wide DataFrame slot
      "WeakHashMap" -> Set("Tables.scala"),
      "extraOptimizations" -> Set("plans/MvRewrite.scala"),
      "extraStrategies" -> Set("plans/TopKPerKey.scala", "plans/Spread.scala"),
      "AtomicReference[DataFrame]" -> Set.empty[String],
      // a scan is spread by one mechanism, `plans/Spread.scala`, at the
      // session's width: no query writes a width, rewrites hint text or
      // repartitions by hand
      "scaleHints" -> Set.empty[String],
      "REPARTITION(32)" -> Set.empty[String],
      ".repartition(spark.sparkContext.defaultParallelism" -> Set.empty[String])
    val root = Paths.get("src/main/scala/graft")
    val sources: Seq[(String, String)] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map((p: JPath) => (root.relativize(p).toString, Files.readString(p)))
      finally walk.close()
    }
    assert(sources.exists(_._1 == "Tables.scala"), s"no sources under $root")
    val offenders = for {
      (call, allowed) <- owners
      (file, text) <- sources
      if text.contains(call) && !allowed(file)
    } yield s"$call in $file"
    assert(offenders.isEmpty,
      s"session state installed outside its owner: ${offenders.mkString(", ")}")
  }
}
