package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own rules: seeded inputs, stratified slices and the
  * metric names it publishes. No Spark session. */
class BenchSpec extends AnyFunSuite {
  private val small = WikiGen.Spec(pages = 5194, bodyBytes = 1000000L, seed = 7)

  private def bytes(c: WikiGen.Corpus): Seq[String] = c.lines.toSeq
  private def terms(c: WikiGen.Corpus, seed: Long): Seq[String] =
    WikiGen.queries(c, 50, seed).flatMap(_.terms.map(_.term))

  test("the same seed gives the same corpus bytes and the same term list") {
    val a = WikiGen.generate(small)
    val b = WikiGen.generate(small)
    assert(bytes(a) == bytes(b))
    assert(a.bytes == b.bytes)
    assert(terms(a, 7) == terms(b, 7))
  }

  test("a different seed changes the corpus and the term list") {
    val a = WikiGen.generate(small)
    val b = WikiGen.generate(small.copy(seed = 8))
    assert(bytes(a) != bytes(b))
    assert(terms(a, 7) != terms(b, 8))
  }

  test("the corpus has the reference's shape") {
    val c = WikiGen.generate(WikiGen.Spec(5194, 1000000L, 3))
    val dangling = c.links.count(_.isEmpty).toDouble / c.lines.length
    val links = c.links.flatten
    val ghosts = links.count(_.startsWith("ghost")).toDouble / links.length
    assert(math.abs(dangling - 0.10) < 0.02, s"dangling share $dangling")
    assert(math.abs(ghosts - 0.05) < 0.01, s"ghost-link share $ghosts")
    val body = c.bodyLen.map(_.toLong).sum
    assert(math.abs(body - 1000000L) < 50000L, s"body bytes $body")
    // bodies are letters and spaces only, so every term is one token
    assert(c.lines.indices.forall(i => c.body(i).forall(ch => ch == ' ' || ch.isLower)))
  }

  test("query terms cover every band, and absent terms are absent") {
    val c = WikiGen.generate(WikiGen.Spec(5194, 1000000L, 3))
    val qs = WikiGen.queries(c, 400, 3)
    val bands = qs.flatMap(_.terms.map(_.band)).toSet
    assert(bands == Set("stop", "heavy", "mid", "rare", "absent"))
    assert(qs.forall(q => q.terms.size >= 1 && q.terms.size <= 3 && q.terms.map(_.term).distinct.size == q.terms.size))
    assert(qs.map(_.ranked) == qs.indices.map(_ % 2 == 1))
    val absent = qs.flatMap(_.terms).filter(_.band == "absent").map(_.term).toSet
    assert(Model.postings(c, absent).values.forall(_.isEmpty))
  }

  test("slice selection is stratified and stable for a given seed") {
    val names = (0 until 257).map(i => f"q$i%03d")
    val cost = names.zipWithIndex.map { case (n, i) => n -> (1000 - i).toDouble }.toMap
    val a = CatalogSlice.select(names, cost, 10, 5, width = 8, span = 0.9)
    assert(a == CatalogSlice.select(names, cost, 10, 5, width = 8, span = 0.9))
    assert(a != CatalogSlice.select(names, cost, 10, 6, width = 8, span = 0.9))
    // one query from each stratum of 8, centred on the cost quantiles
    val ordered = names.sortBy(cost)
    a.zipWithIndex.foreach { case (n, i) =>
      val centre = (0.9 * (i + 0.5) * ordered.size / 10).toInt
      assert(math.abs(ordered.indexOf(n) - centre) <= 4, s"$n is outside stratum $i")
    }
    // over many seeds every member of a stratum is picked
    val firsts = (0L until 200L).map(s => CatalogSlice.select(names, cost, 10, s, width = 8, span = 0.9).head).toSet
    assert(firsts.size == 8)
  }

  test("the scalar PageRank model keeps the reference's loop policy") {
    val c = WikiGen.generate(WikiGen.Spec(300, 30000L, 1))
    val r = Model.pageRank(c)
    assert(r.iterations >= 10 && r.iterations <= 50)
    assert(r.pr.forall(_ > 0))
  }

  test("every metric in BENCHMARK.json is well named, has a unit, and is the one reported") {
    val doc = new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def names(key: String) = doc.get(key).elements().asScala.toSeq
    val all = names("end_to_end") ++ names("per_layer")
    all.foreach { m =>
      assert(m.get("name").asText().matches("[A-Za-z0-9_.-]+"), m.toString)
      assert(m.get("unit").asText().nonEmpty, m.toString)
    }
    assert(all.map(_.get("name").asText()).distinct.size == all.size)
    assert(names("per_layer").map(m => m.get("name").asText() -> m.get("unit").asText()) == Layers.Units)
    assert(names("end_to_end").map(_.get("name").asText()) ==
      Layers.e2e(1.0, Seq(1.0)).map(_.name))
    assert(names("workloads").map(_.get("name").asText()).toSet == Main.Workloads.keySet)
  }
}
