package graft

import graft.model.GraphFixtures
import graft.operators.{Snapshots, SummaryAggregations, Triangles}

/** GraphX snapshot bridge: cross-checks the single-pass operators against
  * the iterative Pregel implementations on real sf0.001 fixtures.
  */
class SnapshotsSpec extends SparkTestBase {

  test("GraphX CC equals summary-aggregation CC on E (sf0.001)") {
    val e = GraphFixtures.edgeStream(spark, sf)
    val a = SummaryAggregations.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Snapshots.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("GraphX triangle counts equal degree-oriented counts on C10 (sf0.001)") {
    val c = GraphFixtures.coPurchase10(spark, sf)
    val a = Triangles.perVertexCounts(c)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Snapshots.triangleCounts(c)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("pageRank runs and returns sane values") {
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    val pr = Snapshots.pageRank(edges).collect()
    assert(pr.length == 4 && pr.forall(_.getDouble(1) > 0))
  }
}
