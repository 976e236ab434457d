package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** GraftExtensions wiring: a session built with .withExtensions resolves
  * every graft function (every GraftFunctions.builders entry) from SQL
  * with no manual registration. The existing SparkContext is reused
  * (builder only applies extensions to a NEW SparkSession, so
  * active/default must be cleared first). */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions session resolves graft functions from SQL") {
    val base = LocalSpark.spark // shared context
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base, "expected a fresh session carrying the extensions")
      val missing = graft.functions.GraftFunctions.builders.keySet.filterNot(n =>
        s.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
      val r = s.sql("""
        SELECT COSINE_SIM(ARRAY(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                          ARRAY(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
               SIMHASH64(ARRAY('a','b')) AS h,
               FIELD('b', 'a', 'b') AS f
      """).collect()(0)
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getInt(2) == 2)
      // DESCRIBE FUNCTION works for injected functions too
      val d = s.sql("DESCRIBE FUNCTION cosine_sim").collect()
        .map(_.getString(0)).mkString("\n")
      assert(d.contains("cosine_sim"), d)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("AnswerFromStats: COUNT/MIN/MAX over an ANALYZEd table do a metadata-only scan") {
    val base = LocalSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.graft.answerFromStats", "true")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      s.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      s.sql("DROP TABLE IF EXISTS graft_db.stats_t")
      Tables.register(s, LocalSpark.sf)
      s.table("supplier").write.saveAsTable("graft_db.stats_t")
      val expectN = s.table("graft_db.stats_t").count()

      // without stats the rule must NOT fire
      val cold = s.sql("SELECT COUNT(*) AS n FROM graft_db.stats_t")
      assert(!cold.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        "rule fired without ANALYZE stats")

      s.sql("ANALYZE TABLE graft_db.stats_t COMPUTE STATISTICS")
      s.sql("ANALYZE TABLE graft_db.stats_t COMPUTE STATISTICS FOR COLUMNS s_suppkey, s_acctbal")

      // the rule is OPT-IN (out-of-band FS writes can leave stale stats,
      // matching Hive's hive.compute.query.using.stats=false default):
      // with the flag off it must not fire even with fresh stats
      s.conf.set("spark.graft.answerFromStats", "false")
      val optedOut = s.sql("SELECT COUNT(*) AS n FROM graft_db.stats_t")
      assert(!optedOut.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        "rule must not fire when opted out")
      s.conf.set("spark.graft.answerFromStats", "true")
      val df = s.sql(
        "SELECT COUNT(*) AS n, COUNT(s_suppkey) AS ns, MIN(s_suppkey) AS mn, MAX(s_acctbal) AS mx FROM graft_db.stats_t")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("LocalRelation"), s"expected stats-only answer:\n$plan")
      assert(!plan.contains("Relation") || !plan.contains("parquet"),
        s"table scan survived:\n$plan")
      val r = df.collect()(0)
      assert(r.getLong(0) == expectN && r.getLong(1) == expectN)
      val truth = s.table("graft_db.stats_t")
        .selectExpr("MIN(s_suppkey)", "MAX(s_acctbal)").collect()(0)
      assert(r.getLong(2) == truth.getLong(0))
      assert(r.getDouble(3) == truth.getDouble(1))

      // a WHERE clause must disable the rewrite
      val filtered = s.sql("SELECT COUNT(*) AS n FROM graft_db.stats_t WHERE s_suppkey > 10")
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        "rule must not fire under a filter")

      // writing through the catalog clears stats -> rule stops firing (no
      // stale answers)
      s.table("graft_db.stats_t").limit(5).write.mode("append")
        .saveAsTable("graft_db.stats_t")
      val after = s.sql("SELECT COUNT(*) AS n FROM graft_db.stats_t")
      assert(after.collect()(0).getLong(0) == expectN + 5,
        "count after append must come from data, not stale stats")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("MvRewrite: rollup over the base rewrites to the MV, and only when derivable") {
    val s = LocalSpark.spark
    // the query function registers the MV + rule as a side effect
    val df = SparkEntry.queries("agg_mv_rewrite")(s, LocalSpark.sf)
    // the MV fixture's dir name, `Fixtures`' <name>_<hex(sfDir.hashCode)>
    // (the plan text truncates scan paths, so the scans' files are read)
    val mvDir = "/mv_lineitem_rf_ls_" + Integer.toHexString(LocalSpark.sf.hashCode) + "/"
    val p = df.queryExecution.executedPlan.toString()
    assert(df.inputFiles.exists(_.contains(mvDir)),
      s"rewritten plan must scan the MV parquet:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"base fact must not be scanned after the rewrite:\n$p")
    // result-invariance against the un-rewritten spelling: compare to
    // the same SQL with the rule disabled
    val saved = s.experimental.extraOptimizations
    s.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.MvRewrite)
    val direct = try {
      s.sql("""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem
        WHERE l_returnflag <> 'N'
        GROUP BY l_returnflag
        ORDER BY l_returnflag""").collect()
    } finally s.experimental.extraOptimizations = saved
    assert(df.collect().toSeq == direct.toSeq, "rewrite changed the values")

    // negative cases: an aggregate the MV does not store, a DISTINCT
    // aggregate, and a filter on a non-grouping column must all veto
    // the rewrite (values would otherwise be silently wrong)
    for (q <- Seq(
      "SELECT l_returnflag, SUM(CAST(l_discount AS DECIMAL(18,4))) AS s FROM lineitem GROUP BY l_returnflag",
      "SELECT l_returnflag, COUNT(DISTINCT l_linestatus) AS s FROM lineitem GROUP BY l_returnflag",
      "SELECT l_returnflag, COUNT(*) AS s FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag")) {
      val ndf = s.sql(q)
      val np = ndf.queryExecution.executedPlan.toString()
      assert(!ndf.inputFiles.exists(_.contains(mvDir)),
        s"underivable query was rewritten:\n$q\n$np")
      assert(np.contains("lineitem.parquet"), s"expected base scan:\n$q\n$np")
    }
  }

  test("Tables.invalidate drops the MV definition until agg_mv_rewrite runs again") {
    val s = LocalSpark.spark.newSession()
    val mvDir = "/mv_lineitem_rf_ls_" + Integer.toHexString(LocalSpark.sf.hashCode) + "/"
    def rewritten = s.sql("""
      SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag""")
      .inputFiles.exists(_.contains(mvDir))
    SparkEntry.queries("agg_mv_rewrite")(s, LocalSpark.sf)
    assert(rewritten, "a derivable rollup was not rewritten to the MV")
    Tables.invalidate(s)
    Tables.register(s, LocalSpark.sf)
    assert(!rewritten, "the MV definition outlived its registration")
    SparkEntry.queries("agg_mv_rewrite")(s, LocalSpark.sf)
    assert(rewritten, "agg_mv_rewrite did not register the MV again")
  }
}
