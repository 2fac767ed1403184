package graft

import org.apache.spark.sql.functions._
import graft.graph.ConnectedComponents

/** Min-label propagation must converge to component = min vertex id on
  * shapes the shallow catalog fixture doesn't exercise: long chains
  * (multi-round propagation), multiple components, and the empty graph —
  * without leaking per-round checkpoints. */
class ConnectedComponentsSpec extends SparkSpec {

  private def assignMap(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val labels = ConnectedComponents.assign(pairs.toDF("id_a", "id_b"))
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Scoped.free(labels)
    out
  }

  test("a 7-vertex chain needs multiple rounds and still reaches min id") {
    // 10-11-12-...-16: min label 10 must walk the whole diameter
    val chain = (10L to 15L).map(v => (v + 1, v)) // reversed pairs on purpose
    val got = assignMap(chain)
    assert(got === (10L to 16L).map(_ -> 10L).toMap)
  }

  test("disjoint components keep separate canonical ids") {
    val got = assignMap(Seq((5L, 2L), (2L, 9L), (30L, 40L), (41L, 40L)))
    assert(got === Map(2L -> 2L, 5L -> 2L, 9L -> 2L,
      30L -> 30L, 40L -> 30L, 41L -> 30L))
  }

  test("empty pair list yields an empty assignment (no crash, no rounds)") {
    assert(assignMap(Seq.empty) === Map.empty)
  }

  test("random graphs agree with a scalar union-find model") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val m = 20 + rnd.nextInt(60)
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // scalar union-find with min-id canonicalization
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = verts.map(v => v -> find(v)).toMap
      assert(assignMap(pairs) === expected, s"trial $trial (n=$n, m=$m)")
    }
  }

  test("no storage blocks leak across an assignment") {
    val baseline = liveBlocks()
    assignMap((100L to 120L).map(v => (v, v + 1)))
    // all intermediates freed synchronously, so no GC wait is needed.
    // <= not ==: the ContextCleaner can reclaim a prior suite's
    // unreachable checkpoints (shared session) between baseline and here
    assert(liveBlocks() <= baseline)
  }
}
