package graftbench

/** Independent models the benchmark checks the engine's outputs against.
  * None of them calls engine code. */
object Model {

  final case class Ranks(titles: Array[String], pr: Array[Double], iterations: Int) {
    def toMap: Map[String, Double] = titles.iterator.zip(pr.iterator).toMap
  }

  /** Scalar PageRank with the reference's update rule and loop policy:
    * pages link to the deduplicated set of existing pages they name; a page
    * with none links to NULL; NULL links to every page; rank starts at 1.0;
    * pr'(v) = α/N + (1−α)·mass(v); the loop stops at the first iteration
    * i ≥ minIter with Σ⌊|mass|·1000⌋/N/1000 ≤ tol, or at maxIter. */
  def pageRank(c: WikiGen.Corpus, minIter: Int = 10, tol: Double = 0.2,
      maxIter: Int = 50, alpha: Double = 0.15): Ranks = {
    val v = c.lines.length
    val n = v + 1 // NULL is vertex v
    val adj: Array[Array[Int]] = Array.tabulate(v) { i =>
      val out = c.links(i).iterator.filter(_.startsWith("p"))
        .map(_.drop(1).toInt).filter(_ < v).distinct.toArray
      if (out.isEmpty) Array(v) else out
    }
    var pr = Array.fill(n)(1.0)
    var i = 0
    var continue = true
    while (continue) {
      i += 1
      val mass = new Array[Double](n)
      var s = 0
      while (s < v) {
        val share = pr(s) / adj(s).length
        adj(s).foreach(d => mass(d) += share)
        s += 1
      }
      val fromNull = pr(v) / v
      var d = 0
      while (d < v) { mass(d) += fromNull; d += 1 }
      val counter = mass.iterator.map(m => math.floor(math.abs(m) * 1000).toLong).sum
      val avg = counter.toDouble / n / 1000.0
      pr = mass.map(m => alpha / n + (1 - alpha) * m)
      continue = i < maxIter && (i < minIter || avg > tol)
    }
    Ranks(Array.tabulate(n)(k => if (k == v) "NULL" else c.title(k)), pr, i)
  }

  /** Occurrences of one term in one page: line-relative char offsets in
    * document order. */
  final case class Posting(page: Int, offsets: Array[Int]) {
    def tf: Int = offsets.length
  }

  private def letter(ch: Char): Boolean = (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')

  /** Brute-force postings of `terms`, by tokenizing every body the way the
    * reference does (maximal runs of ASCII letters). */
  def postings(c: WikiGen.Corpus, terms: Set[String]): Map[String, Seq[Posting]] = {
    val acc = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Posting]]
    var i = 0
    while (i < c.lines.length) {
      val line = c.lines(i)
      val end = c.bodyOff(i) + c.bodyLen(i)
      val hits = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofInt]
      var k = c.bodyOff(i)
      while (k < end) {
        if (letter(line.charAt(k))) {
          val s = k
          while (k < end && letter(line.charAt(k))) k += 1
          val tok = line.substring(s, k)
          if (terms(tok)) hits.getOrElseUpdate(tok, new scala.collection.mutable.ArrayBuilder.ofInt) += s
        } else k += 1
      }
      hits.foreach { case (t, offs) =>
        acc.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) += Posting(i, offs.result())
      }
      i += 1
    }
    terms.iterator.map(t => t -> acc.get(t).map(_.toSeq).getOrElse(Seq.empty)).toMap
  }

  /** The `[off−20, off+30)` window of the line, clipped at both ends. */
  def snippet(line: String, off: Int): String =
    line.slice(math.max(off - 20, 0), off + 30)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
