package graft.operators

import graft.SparkSuite
import graft.eval.UnionFind

/**
 * Golden fixture ported from the reference's union-find tests
 * (entity_embed tests/test_utils.py:120-144): edges
 * {(1,2),(2,3),(4,5),(6,7),(7,8),(7,9),(9,10)} over records 1..12 ⇒
 * clusters [[1,2,3],[4,5],[6,7,8,9,10],[11],[12]].
 */
class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  val goldenEdges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L), (7L, 9L), (9L, 10L))
  val allIds = (1L to 12L)

  test("golden union-find fixture: components + singletons") {
    val edges = goldenEdges.toDF("id1", "id2")
    val comps = ConnectedComponents.components(edges)
    val ids = allIds.toDF("id")
    val members = Clustering.clusterMembers(Clustering.assignAll(ids, comps))
      .collect()
      .map(r => r.getSeq[Long](1).toList)
      .toSet
    assert(members == Set(
      List(1L, 2L, 3L), List(4L, 5L), List(6L, 7L, 8L, 9L, 10L),
      List(11L), List(12L)))
    // the reference's sequential 0..n-1 keys fail fast, with the reason
    val e = intercept[IllegalArgumentException] {
      Clustering.assignAll(ids, comps, normalizeIds = true)
    }
    assert(e.getMessage.contains("min member id"), e.getMessage)
  }

  test("scale mode: cluster key = min member id; singleton key = own id") {
    val edges = goldenEdges.toDF("id1", "id2")
    val comps = ConnectedComponents.components(edges)
    val assign = Clustering.assignAll(allIds.toDF("id"), comps, normalizeIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assign == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 6L, 10L -> 6L,
      11L -> 11L, 12L -> 12L))
  }

  test("CC on empty edge set yields all-singleton clustering") {
    val edges = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val comps = ConnectedComponents.components(edges)
    assert(comps.count() == 0)
    val assign = Clustering.assignAll(Seq(5L, 9L).toDF("id"), comps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assign == Map(5L -> 5L, 9L -> 9L))
  }

  test("CC matches in-memory union-find on a random graph") {
    val rnd = new scala.util.Random(123)
    val n = 400
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val uf = new UnionFind
    (0L until n).foreach(uf.find)
    uf.unionPairs(edges)
    val expected = (0L until n).map(i => i -> uf.componentDict.collectFirst {
      case (_, ms) if ms.contains(i) => ms.min
    }.get).toMap

    val comps = ConnectedComponents.components(edges.toDF("id1", "id2"))
    val assign = Clustering.assignAll((0L until n).toDF("id"), comps, normalizeIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assign == expected)
  }

  test("distributed star loop (driverFinishEdges=0) == driver union-find finish") {
    val rnd = new scala.util.Random(77)
    val n = 500
    val edges = Seq.fill(400)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val viaLoop = ConnectedComponents
      .components(edges.toDF("id1", "id2"), 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDriver = ConnectedComponents
      .components(edges.toDF("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLoop == viaDriver)
    assert(viaLoop.nonEmpty)
  }

  test("golden fixture through the distributed loop (driverFinishEdges=0)") {
    val edges = goldenEdges.toDF("id1", "id2")
    val comps = ConnectedComponents.components(edges, 0L)
    val assign = Clustering.assignAll(allIds.toDF("id"), comps, normalizeIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assign == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 6L, 10L -> 6L,
      11L -> 11L, 12L -> 12L))
  }

  test("CC is idempotent: re-running on star output is a fixpoint") {
    val edges = goldenEdges.toDF("id1", "id2")
    val comps = ConnectedComponents.components(edges)
    val again = ConnectedComponents.components(
      comps.select($"id".as("id1"), $"component".as("id2")))
    val a = comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // `again` includes (component, component) roots exactly like `comps`
    val b = again.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
