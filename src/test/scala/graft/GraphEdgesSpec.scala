package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.Graph

/** Every DataFrame of the graph family's shared edge list belongs to
  * the session that asked for it, and a query over the shared edge views
  * runs no job while its DataFrame is built. The MST and kcore loops
  * over it leave nothing cached, their rounds give the same sets at any
  * shuffle width, and kcore runs no peel after a fixed point. */
class GraphEdgesSpec extends AnyFunSuite with Matchers {
  lazy val spark = LocalSpark.spark
  private val sf = LocalSpark.sf

  test("two new sessions each get edges bound to their own session") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val e1 = Graph.weightedEdges(s1, sf)
    val e2 = Graph.weightedEdges(s2, sf)
    e1.sparkSession should be theSameInstanceAs s1
    e2.sparkSession should be theSameInstanceAs s2
    e1.count() shouldBe e2.count()

    // a later call builds again in the same session
    val again = Graph.weightedEdges(s1, sf)
    again.sparkSession should be theSameInstanceAs s1
    again.count() shouldBe e1.count()
  }

  test("building a shared-text graph query's DataFrame runs no Spark job") {
    val s = spark.newSession()
    Tables.register(s, sf)
    val eager = Seq("graph_degree_stats", "graph_khop", "graph_label_prop",
      "graph_modularity", "graph_adamic_adar", "graph_pagerank", "graph_ppr",
      "graph_harmonic_centrality", "graph_assortativity", "graph_local_clustering",
      "graph_reach_recursive").map { q =>
      q -> LocalSpark.jobsIn(SparkEntry.queries(q)(s, sf))
    }.filter(_._2 > 0)
    spark.catalog.clearCache()
    eager shouldBe empty
  }

  for ((q, nRows) <- Seq("graph_kcore" -> 4, "graph_mst_boruvka" -> 3))
    test(s"$q leaves nothing persisted beyond the shared edge list") {
      val sc = spark.sparkContext
      spark.catalog.clearCache()
      val s = spark.newSession()
      // the snapshot is taken before the query runs
      val before = sc.getPersistentRDDs.keySet
      val rows = SparkEntry.queries(q)(s, sf).collect()
      rows.length shouldBe nRows
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$q left ${left.size} RDDs persisted: $left")
    }

  test("graph_kcore runs no peel after a fixed point") {
    val sc = spark.sparkContext
    val s = spark.newSession()
    // a first run sets the context's checkpoint dir
    SparkEntry.queries("graph_kcore")(s, sf).collect()
    val ckpt = new Path(sc.getCheckpointDir.get)
    val fs = ckpt.getFileSystem(sc.hadoopConfiguration)
    def checkpointed = fs.listStatus(ckpt).map(_.getPath.getName).toSet
    val before = checkpointed
    val rows = SparkEntry.queries("graph_kcore")(s, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    rows.map(_._1) shouldBe (0 to 3)
    // a peel only removes edges, so one that removed none or left none
    // returns its input: the first such round is the fixed point
    val fixed = rows.indices.find(i =>
      rows(i)._3 == 0 || (i > 0 && rows(i)._3 == rows(i - 1)._3)).getOrElse(3)
    assert(fixed < 3, s"the fixture's trajectory reaches no early fixed point: $rows")
    assert(rows.drop(fixed).map(r => (r._2, r._3)).distinct.size == 1, rows)
    // every round run carries its state through one reliable
    // checkpoint: the initial edge set and each peel up to the fixed point
    (checkpointed -- before).size shouldBe fixed + 1
  }

  test("an MST round step and a kcore peel match a reference at widths 1 and 4") {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 20 + rnd.nextInt(40)
      val pairs = Seq.fill(3 * n)((rnd.nextLong(n), rnd.nextLong(n)))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
      // costs from a small range, so most components see tied costs
      val weighted = pairs.map { case (s, d) => (s, d, 1L + rnd.nextInt(3)) }
      val nodes = pairs.flatMap { case (s, d) => Seq(s, d) }.distinct
      val ew = sc.parallelize(weighted, 3)
      val l0 = sc.parallelize(nodes.map(v => (v, v)), 3)
      def mstStep(width: Int) = {
        val sel = Graph.boruvkaSelect(ew, l0, width)
        val selEdges = sel.map { case (_, s, d) => (s, d) }
        val l = (1 to 3).foldLeft(l0)((l, _) => Graph.labelJump(l, selEdges, width))
        (sel.collect().toSet, l.collect().toMap)
      }
      // reference: under singleton labels every node picks its least
      // incident edge by (cost, src, dst), then labels take 3 min-jumps
      val sel = nodes.map(v => weighted.collect {
        case (s, d, c) if s == v || d == v => (c, s, d) }.min).toSet
      def jump(l: Map[Long, Long]) = l.map { case (v, x) =>
        v -> (x +: sel.toSeq.collect {
          case (_, s, d) if s == v => l(d)
          case (_, s, d) if d == v => l(s) }).min }
      val expect = (sel, (1 to 3).foldLeft(nodes.map(v => v -> v).toMap)((l, _) => jump(l)))
      mstStep(1) shouldBe expect
      mstStep(4) shouldBe expect

      val sym = sc.parallelize(pairs.flatMap { case (s, d) => Seq((s, d), (d, s)) }, 3)
      val degree = pairs.flatMap { case (s, d) => Seq(s, d) }.groupBy(identity).map {
        case (v, vs) => v -> vs.size }
      val peeled = pairs.flatMap { case (s, d) => Seq((s, d), (d, s)) }
        .filter { case (s, d) => degree(s) >= 3 && degree(d) >= 3 }.toSet
      Graph.kcorePeel(sym, 1).collect().toSet shouldBe peeled
      Graph.kcorePeel(sym, 4).collect().toSet shouldBe peeled
    }
  }

  test("graph_mst_boruvka and graph_kcore answer the same at shuffle width 1 and 4") {
    for (q <- Seq("graph_mst_boruvka", "graph_kcore")) {
      val Seq(narrow, wide) = Seq(1, 4).map { width =>
        // rebuild the shared edge list under this width too
        spark.catalog.clearCache()
        val s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", width.toLong)
        SparkEntry.queries(q)(s, sf).collect().toSeq
      }
      assert(narrow == wide, s"$q: width 1 gave $narrow, width 4 gave $wide")
    }
  }
}
