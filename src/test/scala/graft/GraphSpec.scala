package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, Sketches}

/** Connected components: fixpoint correctness against a sequential
  * union-find model, shape cases that stress the pointer-jumping
  * (chains — the O(diameter) worst case for plain propagation), and
  * partitioning invariance. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential union-find over the same edge list. */
  private def model(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    Graph.connectedComponents(
      edges.toDF("a", "b").repartition(parts), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("two triangles bridged by one edge merge into one component") {
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10))
    val got = run(edges)
    assert(got == model(edges))
    assert(got.values.toSet == Set(1L))
  }

  test("a 64-vertex chain converges (pointer jumping beats O(diameter))") {
    val edges = (1L until 64L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("a star whose centre is not the minimum id labels every leaf with the minimum") {
    val edges = Seq[(Long, Long)]((50, 10), (50, 60), (70, 50), (50, 5), (80, 50))
    val got = run(edges)
    assert(got == model(edges))
    assert(got.values.toSet == Set(5L))
  }

  test("a chain with scrambled ids converges to its minimum") {
    val path = Seq(7L, 3L, 9L, 12L, 1L, 8L, 2L, 11L, 4L)
    val edges = path.zip(path.tail)
    val got = run(edges)
    assert(got == model(edges))
    assert(got.keySet == path.toSet && got.values.toSet == Set(1L))
  }

  test("disjoint components keep distinct min-id labels") {
    val edges = Seq[(Long, Long)](
      (5, 9), (9, 7), (20, 21), (30, 31), (31, 32), (32, 30))
    val got = run(edges)
    assert(got == model(edges))
    assert(got(7) == 5L && got(21) == 20L && got(32) == 30L)
  }

  test("edge direction and multi-edges do not matter") {
    val base = Seq[(Long, Long)]((1, 2), (2, 3))
    val noisy = base ++ base.map(_.swap) ++ base // duplicates + reversed
    assert(run(noisy) == run(base))
  }

  test("result is invariant under input partitioning") {
    val edges = (1L to 40L).flatMap(i => Seq((i, i % 7 + 100L)))
    assert(run(edges, parts = 1) == run(edges, parts = 13))
  }

  test("random graph matches the union-find model") {
    // deterministic LCG so the fixture is stable
    var seed = 42L
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    val edges = (1 to 300).map { _ =>
      (math.floorMod(next(), 120L), math.floorMod(next(), 120L))
    }.filter { case (a, b) => a != b }
    assert(run(edges) == model(edges))
  }

  test("componentSizes counts members and keeps one keeper per component") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (10, 11))
    val sized = Graph.componentSizes(
      Graph.connectedComponents(edges.toDF("a", "b"), "a", "b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(sized == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("components over sf0.001 minhash candidates: labels close transitively") {
    val docs = Tables.documents(spark, Sf0001)
    val cand = Sketches.minhashCandidates(docs, "doc_id", "text")
    val comp = Graph.connectedComponents(cand, "a_id", "b_id")
    val labels = comp.as[(Long, Long)].collect().toMap
    val pairs = cand.select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    // every paired vertex is labeled, both ends agree, label = component min
    pairs.foreach { case (a, b) => assert(labels(a) == labels(b)) }
    val byComp = labels.groupBy(_._2).view.mapValues(_.keys.min)
    byComp.foreach { case (label, minId) => assert(label == minId) }
  }
}
