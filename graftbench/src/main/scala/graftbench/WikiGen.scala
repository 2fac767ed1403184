package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Deterministic wiki-line corpus in the reference's shape: one page per
  * line, `<title>pN</title> [[link]]… <text>body</text>`.
  *
  *  - out-degree is Zipf-distributed; about 10% of pages are dangling (no
  *    links at all) and about 5% of links name a page that does not exist;
  *  - body words are drawn from a Zipf vocabulary, so the most common
  *    words reach the index's df ≥ 3000 cutoff on a 5,194-page corpus and
  *    are dropped from it, while the tail stays rare.
  *
  * The same spec gives the same bytes on every run and JVM: all draws come
  * from one SplittableRandom seeded by `seed`, in a fixed order.
  */
object WikiGen {

  final case class Spec(pages: Int, bodyBytes: Long, seed: Long,
      vocab: Int = 60000, zipfS: Double = 1.0)

  /** A generated corpus. `links(i)` are page i's raw link targets as
    * written (duplicates and ghosts included); `bodyOff(i)` is the char
    * offset of the body within line i. */
  final case class Corpus(spec: Spec, lines: Array[String],
      links: Array[Array[String]], bodyOff: Array[Int], bodyLen: Array[Int]) {
    def title(i: Int): String = s"p$i"
    def body(i: Int): String = lines(i).substring(bodyOff(i), bodyOff(i) + bodyLen(i))
    /** Bytes of the corpus file: ASCII lines, each ending in '\n'. */
    lazy val bytes: Long = lines.iterator.map(_.length.toLong + 1).sum
    /** Words in each body, for the expected-df model. */
    lazy val words: Array[Int] = Array.tabulate(lines.length) { i =>
      val b = body(i); var n = 1; var k = 0
      while (k < b.length) { if (b.charAt(k) == ' ') n += 1; k += 1 }
      n
    }
    def write(path: Path): Unit = {
      val out = Files.newBufferedWriter(path, StandardCharsets.US_ASCII)
      try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
    }
  }

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"
  private val Syllables: Array[String] =
    for (c <- Consonants.toArray; v <- Vowels.toArray) yield s"$c$v"

  /** The vocabulary word of 0-based rank `r`: lowercase letters only, at
    * least two syllables, one-to-one in `r` (bijective base-90 digits). */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var x = r.toLong + Syllables.length
    while (x > 0) { sb.insert(0, Syllables((x % Syllables.length).toInt)); x /= Syllables.length }
    sb.toString
  }

  /** A term that no generated body contains: bodies are lowercase only and
    * the tokenizer is case-sensitive. */
  def absent(r: Int): String = "Q" + word(r)

  /** Zipf probabilities p(r) ∝ 1/(r+1)^s over the vocabulary. */
  def zipf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    w.map(_ / total)
  }

  private def cdf(p: Array[Double]): Array[Double] = {
    val c = new Array[Double](p.length); var acc = 0.0; var i = 0
    while (i < p.length) { acc += p(i); c(i) = acc; i += 1 }
    c(c.length - 1) = 1.0
    c
  }

  private def draw(c: Array[Double], rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    var lo = 0; var hi = c.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (c(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }

  private val DegreeCdf = cdf(zipf(40, 1.3))
  private val Words: Array[String] = Array.tabulate(200000)(word)

  def generate(spec: Spec): Corpus = {
    require(spec.vocab <= Words.length, s"vocab ${spec.vocab} > ${Words.length}")
    val rnd = new SplittableRandom(spec.seed)
    val vocabCdf = cdf(zipf(spec.vocab, spec.zipfS))
    val meanBody = spec.bodyBytes.toDouble / spec.pages
    val lines = new Array[String](spec.pages)
    val links = new Array[Array[String]](spec.pages)
    val bodyOff = new Array[Int](spec.pages)
    val bodyLen = new Array[Int](spec.pages)
    var i = 0
    while (i < spec.pages) {
      val ls =
        if (rnd.nextInt(10) == 0) Array.empty[String]
        else Array.fill(1 + draw(DegreeCdf, rnd)) {
          if (rnd.nextInt(20) == 0) s"ghost${rnd.nextInt(200)}"
          else s"p${rnd.nextInt(spec.pages)}"
        }
      val target = (meanBody * (0.5 + rnd.nextDouble())).toInt max 1
      val sb = new StringBuilder(target + 256)
      sb.append("<title>p").append(i).append("</title> ")
      ls.foreach(l => sb.append("[[").append(l).append("]] "))
      sb.append("<text>")
      val off = sb.length
      sb.append(Words(draw(vocabCdf, rnd)))
      while (sb.length - off < target) sb.append(' ').append(Words(draw(vocabCdf, rnd)))
      bodyOff(i) = off
      bodyLen(i) = sb.length - off
      sb.append("</text>")
      lines(i) = sb.toString
      links(i) = ls
      i += 1
    }
    Corpus(spec, lines, links, bodyOff, bodyLen)
  }

  /** Expected document frequency of rank `r` under the generator's model:
    * Σ over pages of P(word appears at least once in that page's body). */
  def expectedDf(c: Corpus, p: Array[Double], r: Int): Double = {
    val q = math.log1p(-p(r))
    c.words.iterator.map(n => -math.expm1(n * q)).sum
  }

  /** Query-term bands, by expected df. `stop` terms sit above the index's
    * df cutoff; the gap around the cutoff is left out so that a band never
    * straddles it. */
  final case class Band(name: String, lo: Double, hi: Double)
  val Bands: Seq[Band] = Seq(
    Band("stop", 3600, Double.MaxValue),
    Band("heavy", 1000, 2400),
    Band("mid", 50, 500),
    Band("rare", 1, 20))

  final case class Term(term: String, rank: Int, band: String, expectedDf: Double)
  final case class Query(terms: Seq[Term], ranked: Boolean)

  /** Vocabulary ranks of each band, from the expected-df model (df falls
    * with rank, so each band is a contiguous rank range). */
  def bandRanks(c: Corpus): Map[String, Range] = {
    val p = zipf(c.spec.vocab, c.spec.zipfS)
    def firstBelow(x: Double): Int = { // first rank with expectedDf < x
      var lo = 0; var hi = c.spec.vocab
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (expectedDf(c, p, mid) < x) hi = mid else lo = mid + 1 }
      lo
    }
    Bands.map { b =>
      val from = if (b.hi == Double.MaxValue) 0 else firstBelow(b.hi + 1e-9)
      b.name -> (from until firstBelow(b.lo))
    }.toMap
  }

  /** Band mix of consecutive queries, cycled. Every seed runs the same
    * mix, so a run's median latency does not depend on how many heavy
    * or empty queries the seed happened to draw; the seed picks the terms.
    * The cycle length is odd, so each shape alternates between `search`
    * and `searchRanked`. */
  val Shapes: Seq[Seq[String]] = Seq(
    Seq("rare"), Seq("mid"), Seq("heavy"), Seq("stop"),
    Seq("mid", "rare"), Seq("heavy", "absent"), Seq("rare", "stop"), Seq("heavy", "mid"),
    Seq("mid", "heavy", "rare"), Seq("absent", "rare", "mid"), Seq("stop", "heavy", "mid"))

  /** `n` closed-loop queries of 1–3 distinct terms, alternating parity
    * `search` and top-20 `searchRanked`. Terms are drawn uniformly from
    * the vocabulary ranks of each band (never read back from the index);
    * `absent` terms are capitalised vocabulary words. */
  def queries(c: Corpus, n: Int, seed: Long): Seq[Query] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val p = zipf(c.spec.vocab, c.spec.zipfS)
    val ranks = bandRanks(c)
    def pick(band: String): Term =
      if (band == "absent") { val r = rnd.nextInt(c.spec.vocab); Term(absent(r), r, band, 0.0) }
      else {
        val rs = ranks(band)
        require(rs.nonEmpty, s"band $band is empty for ${c.spec}")
        val r = rs(rnd.nextInt(rs.size))
        Term(Words(r), r, band, expectedDf(c, p, r))
      }
    (0 until n).map(k => Query(Shapes(k % Shapes.size).map(pick), ranked = k % 2 == 1))
  }
}
