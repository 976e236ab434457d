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
}
