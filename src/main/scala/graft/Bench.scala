package graft
import org.apache.spark.sql.SparkSession

/** Perf harness the round driver runs at sf0.1 (`BENCH_r{N}.json`).
  *
  * Measurement validity (round-1/2 lessons):
  *  - every query materializes through the `noop` sink, not `.count()` —
  *    count let Catalyst prune projection expressions and drop final
  *    sorts, flattering exactly the function-heavy queries;
  *  - the warmup block compiles a representative mix of plan shapes
  *    (scan/agg/join/window/sort + custom expressions) so shared JVM/JIT
  *    cost is not charged to whichever query happens to run first — each
  *    query still pays its own planning + whole-stage-codegen compile;
  *  - round 2's driver artifact (179.6 s recorded vs 61.7 s verified on
  *    the same commit/host) was uniform ~3× host contention. Defenses:
  *    (a) each query runs TWICE and the reported total is the min of the
  *    two passes — a transient stall on one pass no longer decides the
  *    gate; (b) a fixed CPU busy-loop ("calibration sentinel") is timed
  *    at start and end, so a contended run self-identifies (inflated
  *    cal_* values) without guessing; (c) a query that throws is
  *    recorded as -1 with its name in "failed" and the process exits
  *    non-zero — a crash can no longer masquerade as a fast query;
  *  - output: one full per-query JSON line first, then a COMPACT summary
  *    line. The driver keeps only a ~2 KB stdout tail, which truncated
  *    the front of round 1's single long line ("parsed": null) — the
  *    compact line is short enough to always survive the tail window.
  */
object Bench {
  /** Fixed single-thread FP busy-loop; returns elapsed seconds. On an
    * idle host this is a stable constant (machine-specific, ~0.2 s); a
    * value inflated 2×+ at start or end flags host-level contention for
    * the whole run. The accumulator feeds a side effect so the loop
    * cannot be dead-code-eliminated.
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1.0; var i = 0
    while (i < 100000000) { x = x * 1.0000000001 + 1e-12; i += 1 }
    if (x.isNaN) println("calibration NaN") // defeat DCE; never taken
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative hypervisor-steal ticks across all vCPUs (/proc/stat
    * "cpu" field 8, USER_HZ=100) — r17 pinned mid-run vCPU steal on the
    * shared host as the mechanism behind every bench oscillation the
    * cal sentinel missed (it only sees the run's endpoints). Sampling
    * the counter at start and end machine-labels a steal-inflated
    * window in the JSON itself, so a total uptick reads as environment
    * vs regression without a re-measure round. None off-Linux. */
  private def stealTicks(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).collect { case f if f.length > 8 => f(8).toLong }
      finally src.close()
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine's cores (the driver machine is local[32]);
    // shuffle partitions track the thread count, not Spark's default 200
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fresh warehouse per run (see Verify) — table-writing queries
      // must not trip over a previous JVM's managed-table directories
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val wallStart = System.nanoTime()
    val stealStart = stealTicks()
    val calStart = calibrate()

    // Warm shared machinery: parquet reader + view and function
    // registration, the Janino/codegen compiler, broadcast + shuffle
    // join paths, window exec, and the custom expression kernels.
    Tables.register(spark, sfDir)
    materialize(spark.sql("""
      SELECT o.o_orderstatus, COUNT(*) n,
             SUM(l.l_quantity) sq,
             ROW_NUMBER() OVER (PARTITION BY o.o_orderstatus ORDER BY o.o_orderkey) rn
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_orderkey < 500
      GROUP BY o.o_orderstatus, o.o_orderkey
      ORDER BY n DESC LIMIT 10"""))
    materialize(spark.sql(
      "SELECT SIZE(SHINGLE_SET(text, 3)) s, SIZE(TOKENIZE(text)) t FROM documents LIMIT 50"))

    // Two timed passes per query; a pass that throws yields None. The
    // reported time is the min of the successful passes (a host stall on
    // one pass doesn't decide the gate); "first" keeps pass-1 visible so
    // cold cost stays observable. Both passes failing marks the query
    // failed (-1 in the map) and fails the run.
    final case class Timing(name: String, first: Option[Double], second: Option[Double]) {
      def min: Option[Double] = (first.toSeq ++ second.toSeq).reduceOption(_ min _)
      def isFlaky: Boolean = min.isDefined && (first.isEmpty || second.isEmpty)
    }
    // harness self-test hook: SPARK_GRAFT_BENCH_FAULT=<name> injects a
    // query that always throws, proving a broken query surfaces in
    // "failed" and fails the process (instead of round 2's silent ~0 s)
    val fault: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      sys.env.get("SPARK_GRAFT_BENCH_FAULT").map { n =>
        n -> ((_: SparkSession, _: String) =>
          throw new RuntimeException("injected bench fault"))
      }.toMap
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run for focused
    // iteration; the driver never sets it, so round benches stay full
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = (SparkEntry.queries ++ fault).filter {
      case (n, _) => only.forall(_.contains(n))
    }
    val results: Seq[Timing] = selected.toSeq.map { case (name, fn) =>
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try { materialize(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case t: Throwable =>
            Console.err.println(s"[bench] query $name failed: ${t.getClass.getName}: ${t.getMessage}")
            None
        } finally {
          // queries may persist() intermediates; without this, pass 2
          // reads pass 1's populated cache (min-of-2 would report a
          // warm-cache time) and cached blocks pile up across the run
          spark.catalog.clearCache()
        }
      }
      val p1 = once(); val p2 = once()
      Timing(name, p1, p2)
    }

    val calEnd = calibrate()
    // steal-seconds are CORE-seconds (the /proc/stat cpu line sums all
    // vCPUs); wall_sec contextualizes them — e.g. 53 core-min of steal
    // over a 230 s 32-core run is the r17 contended-window profile
    val stealCoreSec: Option[Double] = for {
      s0 <- stealStart; s1 <- stealTicks()
    } yield (s1 - s0) / 100.0
    val wallSec = (System.nanoTime() - wallStart) / 1e9

    // Locale.ROOT: the default-locale f-interpolator would print a
    // decimal COMMA under e.g. de_DE, producing unparseable JSON
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val failed = results.filter(_.min.isEmpty).map(_.name)
    // a query that threw on ONE of its two passes still has a valid min
    // but is a real intermittent bug — surface it in BOTH output lines
    // (the compact tail-surviving one included), not just as a -1 buried
    // in the full line's "first" map
    val flaky = results.filter(_.isFlaky).map(_.name)
    results.filter(_.isFlaky).foreach { t =>
      val which = if (t.first.isEmpty) "pass 1 (cold)" else "pass 2 (warm)"
      Console.err.println(s"[bench] query ${t.name} failed $which only (flaky)")
    }
    val total = results.flatMap(_.min).sum
    val firstTotal = results.flatMap(_.first).sum
    // cli_e_statement is a child-JVM + SparkSession cold start BY
    // DESIGN (end-to-end `hive -e` fidelity) — the single biggest and
    // noisiest line in every full run (8.7-12.2 s observed across r12).
    // Surface it as its own field so round-over-round totals can be
    // read net of JVM-start noise without re-parsing the query map.
    // null (not 0.0) when no min exists — absent/double-failed floor
    // must be distinguishable from "zero floor" in net-of-floor
    // round-over-round comparisons.
    val childFloor: String = results.find(_.name == "cli_e_statement")
      .flatMap(_.min).map(r3).getOrElse("null")
    def qmap(sel: Timing => Option[Double], ts: Seq[Timing]): String =
      ts.map(t => s"\"${t.name}\":${r3(sel(t).getOrElse(-1.0))}").mkString("{", ",", "}")
    def names(ns: Seq[String]): String = ns.map(n => s"\"$n\"").mkString("[", ",", "]")
    val stealStr = stealCoreSec.map(r3).getOrElse("null")
    val meta = s""""unit":"sec","first_value":${r3(firstTotal)},"child_jvm_floor":$childFloor,"cal_start":${r3(calStart)},"cal_end":${r3(calEnd)},"steal_core_sec":$stealStr,"wall_sec":${r3(wallSec)},"nfail":${failed.length},"failed":${names(failed)},"flaky":${names(flaky)}"""
    // full detail first (may fall outside the driver's tail window)…
    println(s"""{"metric":"total","value":${r3(total)},$meta,"queries":${qmap(_.min, results)},"first":${qmap(_.first, results)},"sf":"$sfDir"}""")
    // …then the compact line the tail always captures: total + slowest 6
    val slow = results.filter(_.min.isDefined).sortBy(-_.min.get).take(6)
    println(s"""{"metric":"total","value":${r3(total)},$meta,"queries":${qmap(_.min, slow)},"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
