package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.Graph

/** The graph family's shared edge list is persisted once per session
  * and served from the cache after that, but every DataFrame it hands
  * out belongs to the session that asked for it. */
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

    // a later call rebuilds in the same session and reads the persisted data
    val again = Graph.weightedEdges(s1, sf)
    again.sparkSession should be theSameInstanceAs s1
    again.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r } should not be empty
    again.count() shouldBe e1.count()
    e1.unpersist()
  }

  test("graph_kcore leaves nothing persisted beyond the shared edge list") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val s = spark.newSession()
    // the shared edge list is persisted and filled first, so that what
    // the context held before the query includes it
    Graph.weightedEdges(s, sf).count()
    val before = sc.getPersistentRDDs.keySet
    val rows = SparkEntry.queries("graph_kcore")(s, sf).collect()
    rows.length shouldBe 4
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"graph_kcore left ${left.size} RDDs persisted: $left")
  }
}
