package graft

import graft.graph.Triangles

/** Degree-ordered triangle counting must be exact on known shapes, robust
  * to messy input (duplicates, reversed orientation, self-loops), agree
  * with a brute-force enumeration on a random graph, and leak no storage
  * (its edge-set checkpoints are reclaimed once the result is unreachable). */
class TrianglesSpec extends SparkSpec {

  private def countOf(pairs: Seq[(Long, Long)]): (Long, Long, Long) = {
    import spark.implicits._
    val df = if (pairs.isEmpty)
      spark.emptyDataset[(Long, Long)].toDF("a", "b")
    else pairs.toDF("a", "b")
    val r = Triangles.count(df).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** brute force: every 3-subset of vertices, all three edges present. */
  private def brute(pairs: Seq[(Long, Long)]): Long = {
    val es = pairs.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val vs = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    vs.combinations(3).count { case Seq(a, b, c) =>
      es((a, b)) && es((a, c)) && es((b, c)) }
  }

  test("K4 has 4 triangles; a path has none") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    assert(countOf(k4) === ((4L, 6L, 4L)))
    val path = (0L to 5L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(countOf(path) === ((6L, 5L, 0L)))
  }

  test("input cleaning: duplicates, reversed edges, self-loops") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L), (4L, 4L))
    // cleaned graph is the 1-2-3 triangle; self-loop-only vertex 4 drops out
    assert(countOf(messy) === ((3L, 3L, 1L)))
  }

  test("empty input") {
    assert(countOf(Seq.empty) === ((0L, 0L, 0L)))
  }

  test("duplicate input column names resolve positionally") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dup = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("x", "y")
      .select(col("x").as("id"), col("y").as("id"))
    assert(Triangles.count(dup).collect()(0).getLong(2) === 1L)
  }

  test("random graph agrees with brute-force enumeration") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val (_, _, got) = countOf(pairs)
    assert(got === brute(pairs))
  }

  test("no storage blocks leak after the consuming action") {
    val baseline = liveBlocks()
    import spark.implicits._
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(Triangles.count(k5.toDF("a", "b")).collect()(0).getLong(2) === 10L)
    // the ContextCleaner frees the now-unreachable checkpoints after a GC.
    // <= not ==: a PRIOR suite's unreachable checkpoints (shared session)
    // can be reclaimed during this wait too, legitimately dropping the
    // count below the baseline captured above
    assert(awaitRelease(baseline) <= baseline, "triangle checkpoints must be released")
  }
}
