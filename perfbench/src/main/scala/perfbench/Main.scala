package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{SparkEntry, Tables}
import graft.functions.GraftFunctions

/** The benchmark's measuring JVM. It runs one workload's queries against
  * `local[4]` with one closed-loop client (each query starts after the
  * previous one ended) and writes raw records, one JSON object a line;
  * `run.py` turns them into metrics.
  *
  * Order of a run: `setups` set-ups, one cold pass over the
  * seed-shuffled query list, `rounds` warm rounds (each a new
  * seed-shuffled order of the whole list), then an untimed fingerprint
  * pass. The first set-up runs from JVM start and builds the session
  * with a fresh warehouse and Derby metastore; each later one opens a new
  * session on it (`newSession`: its own views and functions) and the run
  * goes on in the last one. A warm round with heavy hypervisor steal is
  * run again (at most `MaxReruns` times a run).
  *
  * Usage: perfbench.Main <records.jsonl> <trace.jsonl> <fixtureDir>
  *   <workDir> <workload> <q1,q2,...> <seed> <rounds> <setups> <trace 0|1>
  */
object Main {
  val Cores = 4
  /** A warm round is contaminated, and run again, when hypervisor steal
    * took more than this share of the cores' time during it. */
  val StealShare = 0.10
  val MaxReruns = 1

  def main(args: Array[String]): Unit = {
    val Array(recordsPath, tracePath, fixture, workDir, workload, queryList,
      seedS, roundsS, setupsS, traceS) = args
    val seed = seedS.toLong
    val rounds = roundsS.toInt
    val traced = traceS == "1"
    val names = queryList.split(',').toSeq
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val out = new PrintWriter(recordsPath, "UTF-8")
    def emit(fields: (String, Any)*): Unit = { out.println(Json(fields)); out.flush() }

    // ---- set-up ----------------------------------------------------------
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val warehouse = new File(workDir, "warehouse")
    var spark: SparkSession = null
    for (k <- 1 to setupsS.toInt) {
      val start = if (k == 1) jvmStartMs else System.currentTimeMillis()
      spark = if (k == 1) Session.build(warehouse, new File(workDir, "local"))
        else spark.newSession()
      val s1 = System.currentTimeMillis()
      Tables.register(spark, fixture)
      val s2 = System.currentTimeMillis()
      GraftFunctions.register(spark)
      val s3 = System.currentTimeMillis()
      Session.warmUp(spark)
      val s4 = System.currentTimeMillis()
      emit("kind" -> "setup", "k" -> k, "setup_s" -> (s4 - start) / 1e3,
        "setup.session_s" -> (s1 - start) / 1e3, "setup.tables_s" -> (s2 - s1) / 1e3,
        "setup.functions_s" -> (s3 - s2) / 1e3, "setup.warmup_s" -> (s4 - s3) / 1e3)
    }
    val session = spark
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val tracer = if (traced) Some(new Tracer(session, warehouse, tmp)) else None
    val traceOut = new PrintWriter(tracePath, "UTF-8")

    def materialize(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    // each query's DataFrame from its latest execution, fingerprinted at
    // the end: the output check re-runs the very plan that was timed
    val latest = scala.collection.mutable.Map[String, DataFrame]()

    /** One execution of `q`, timed from the `fn(spark, sfDir)` call to the
      * end of its noop-sink materialization. */
    def execute(q: String, pass: String, round: Int, attempt: Int): Unit = {
      val construct = () => { val df = all(q)(session, fixture); latest(q) = df; df }
      val traceId = s"$workload/$seed/$pass/$round/$q"
      val t0 = System.nanoTime()
      val (err, counters, spans) = tracer match {
        case Some(t) => t.run(traceId, construct, materialize)
        case None =>
          val e = try { materialize(construct()); None }
          catch { case t: Throwable => Some(t) }
          (e, Nil, Nil)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // queries may persist() intermediates; a later execution must not
      // read them back (same rule as graft.Bench)
      session.catalog.clearCache()
      err.foreach(e => Console.err.println(s"[perfbench] $q ($pass $round) failed: $e"))
      spans.foreach(traceOut.println)
      emit(Seq("kind" -> "exec", "query" -> q, "pass" -> pass, "round" -> round,
        "attempt" -> attempt, "wall_s" -> wall, "ok" -> err.isEmpty,
        "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull) ++ counters: _*)
    }

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    /** Old-generation usage after a full GC. A GC lets Spark's
      * ContextCleaner drop the blocks of broadcasts and shuffles that only
      * the last query referenced, so GC again until the reading settles. */
    def heapAfterGc(): Double = {
      def gc(): Double = {
        System.gc()
        oldGen.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
      }
      var prev = gc(); var cur = prev; var i = 0
      while ({ Thread.sleep(200); cur = gc(); i += 1; prev - cur > 1.0 && i < 5 }) prev = cur
      cur
    }

    // ---- cold pass and warm rounds --------------------------------------
    def order(r: Int): Seq[String] = new Random(seed * 1000003L + r).shuffle(names)
    val cold0 = System.nanoTime()
    order(0).foreach(execute(_, "cold", 0, 0))
    emit("kind" -> "round", "round" -> 0, "attempt" -> 0, "pass" -> "cold",
      "wall_s" -> (System.nanoTime() - cold0) / 1e9, "heap_mb" -> heapAfterGc())

    Telemetry.calibrate() // JIT-compile the sentinel before its first reading
    var reruns = 0
    var r = 1
    while (r <= rounds) {
      val cal = Telemetry.calibrate()
      val steal0 = Telemetry.stealTicks()
      val w0 = System.nanoTime()
      order(r).foreach(execute(_, "warm", r, reruns))
      val wall = (System.nanoTime() - w0) / 1e9
      val stealS = (Telemetry.stealTicks() - steal0) / 100.0
      val contaminated = stealS > StealShare * Cores * wall && reruns < MaxReruns
      // a contaminated round's executions are dropped and the round is run
      // again in the same order; `attempt` tells the two apart
      val last = r == rounds && !contaminated
      // the retained state only grows, so the heap is read after the cold
      // pass and after the last round
      emit("kind" -> "round", "round" -> r, "attempt" -> reruns, "pass" -> "warm",
        "wall_s" -> wall, "steal_core_s" -> stealS, "cal_s" -> cal,
        "contaminated" -> contaminated, "heap_mb" -> (if (last) heapAfterGc() else null))
      if (contaminated) reruns += 1 else r += 1
    }

    // ---- untimed output check --------------------------------------------
    session.conf.set("spark.sql.legacy.allowHashOnMapType", "true")
    val oracle = SparkEntry.oracleSql.keySet
    for (q <- order(0)) {
      val fp = try {
        val (rows, hash) = Fingerprint(latest(q))
        Seq("rows" -> rows, "hash" -> hash)
      } catch {
        case t: Throwable =>
          Console.err.println(s"[perfbench] fingerprint of $q failed: $t")
          Seq("error" -> t.toString)
      } finally session.catalog.clearCache()
      emit(Seq("kind" -> "fingerprint", "query" -> q, "oracle" -> oracle.contains(q)) ++ fp: _*)
    }

    traceOut.close()
    emit("kind" -> "end")
    out.close()
    session.stop()
  }
}

/** Order-insensitive fingerprint of a query's result: its row count and
  * the sum of a 64-bit hash of every row. Floating-point columns are
  * hashed through a 10-significant-digit rendering, so the fingerprint
  * does not depend on the order in which a sum was accumulated. */
object Fingerprint {
  def apply(df: DataFrame): (Long, String) = {
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = positional.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.10g", col(f.name))
        case _ => col(f.name)
      }
    }
    val row = positional
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .collect().head
    (row.getLong(0), String.valueOf(row.get(1)))
  }
}

/** Run-validity telemetry, recorded per warm round and printed beside the
  * metrics (never folded into them). */
object Telemetry {
  /** Fixed single-thread busy loop (the calibration sentinel of
    * `graft.Bench`, at a fifth of its length); returns elapsed seconds. A
    * reading well above the run's usual one flags a contended round. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1.0; var i = 0
    while (i < 20000000) { x = x * 1.0000000001 + 1e-12; i += 1 }
    if (x.isNaN) println("calibration NaN")
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative steal ticks over all vCPUs (/proc/stat "cpu" field 8,
    * USER_HZ = 100); 0 where the file is unavailable. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).collect { case f if f.length > 8 => f(8).toLong }
        .getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }
}
