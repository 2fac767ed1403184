package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, run outside every timed window. Each returns the list of
  * failures; empty means the outputs are correct. */
object Checks {
  val DfCutoff = graft.index.InvertedIndex.DefaultDfCutoff

  /** PageRank iterations and the `pr` serving table against the scalar
    * model: same iteration count on every build, max |Δ| < 1e-8. */
  def ranks(spark: SparkSession, out: String, c: WikiGen.Corpus, iterations: Seq[Int]): Seq[String] = {
    val model = Model.pageRank(c)
    val got = spark.read.parquet(s"$out/pr").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val its = iterations.filter(_ != model.iterations)
      .map(i => s"pagerank: $i iterations, model ${model.iterations}")
    val keys = if (got.keySet != model.titles.toSet) Seq(s"pagerank: ${got.size} vertices, model ${model.titles.length}") else Nil
    val worst = if (keys.nonEmpty) 0.0 else model.toMap.map { case (t, v) => math.abs(got(t) - v) }.max
    its ++ keys ++ (if (worst < 1e-8) Nil else Seq(s"pagerank: max |pr - model| = $worst"))
  }

  /** df of the sampled terms in the `ii` table against brute-force counts
    * over the generated text; terms at or above the cutoff, and absent
    * terms, must not be in the index. */
  def df(spark: SparkSession, out: String, c: WikiGen.Corpus, terms: Seq[WikiGen.Term]): Seq[String] = {
    val names = terms.map(_.term).distinct
    val truth = Model.postings(c, names.toSet).map { case (t, ps) => t -> ps.size }
    val got = spark.read.parquet(s"$out/ii").filter(col("term").isin(names: _*))
      .select("term", "df").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    names.flatMap { t =>
      val want = truth(t)
      val expected = if (want == 0 || want >= DfCutoff) None else Some(want)
      if (got.get(t) == expected) None else Some(s"df($t): index ${got.get(t)}, text ${expected}")
    }
  }

  /** Expected hits of one term: (page, tf, snippets) in title order, or
    * nothing when the df cutoff drops the term. */
  final case class Hit(title: String, tf: Int, score: Double, snippets: Seq[String])

  final class Truth(c: WikiGen.Corpus, terms: Set[String], pr: Map[String, Double]) {
    private val posts = Model.postings(c, terms)
    val docCount: Long = c.lines.length.toLong
    private val memo = scala.collection.mutable.Map.empty[String, Seq[Hit]]
    def hits(term: String): Seq[Hit] = memo.getOrElseUpdate(term, {
      val ps = posts(term)
      if (ps.size >= DfCutoff) Nil
      else ps.map { p =>
        val title = c.title(p.page)
        val score = 0.5 * (p.tf * math.log(docCount.toDouble / ps.size)) + 0.5 * pr(title)
        Hit(title, p.tf, score, p.offsets.toSeq.map(o => Model.snippet(c.lines(p.page), o)))
      }.sortBy(_.title)
    })
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** Parity `search`: rows in (term order, title order), each with the
    * right tf, df, score and snippets; every snippet contains its term. */
  def search(q: WikiGen.Query, rows: Seq[Row], truth: Truth): Seq[String] = {
    val want = q.terms.map(_.term).flatMap { t => val hs = truth.hits(t); hs.map(h => (t, h, hs.size)) }
    val tag = q.terms.map(_.term).mkString("search(", ",", ")")
    if (rows.size != want.size) Seq(s"$tag: ${rows.size} rows, expected ${want.size}")
    else rows.zip(want).flatMap { case (r, (t, h, df)) =>
      val snips = r.getAs[scala.collection.Seq[String]]("snippets").toSeq
      val bad =
        if (r.getAs[String]("term") != t || r.getAs[String]("title") != h.title) Some("order")
        else if (r.getAs[Int]("tf") != h.tf || r.getAs[Int]("df") != df) Some("tf/df")
        else if (!close(r.getAs[Double]("score"), h.score)) Some("score")
        else if (snips != h.snippets || !snips.forall(_.contains(t))) Some("snippets")
        else None
      bad.map(b => s"$tag: $b differs at ${h.title}")
    }.take(3)
  }

  /** `searchRanked` top-k: per-title summed scores, score-descending, no
    * excluded title scoring above the last one returned, and the snippets
    * of every matching term. */
  def ranked(q: WikiGen.Query, rows: Seq[Row], truth: Truth, k: Int = 20): Seq[String] = {
    val per = q.terms.map(_.term).flatMap(t => truth.hits(t)).groupBy(_.title)
      .map { case (title, hs) => title -> (hs.map(_.score).sum, hs.size, hs.flatMap(_.snippets).sorted) }
    val tag = q.terms.map(_.term).mkString("searchRanked(", ",", ")")
    val scores = rows.map(_.getAs[Double]("score"))
    val problems = Seq.newBuilder[String]
    if (rows.size != math.min(k, per.size)) problems += s"$tag: ${rows.size} rows, expected ${math.min(k, per.size)}"
    if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a + 1e-9 }) problems += s"$tag: not score-descending"
    rows.foreach { r =>
      val title = r.getAs[String]("title")
      per.get(title) match {
        case None => problems += s"$tag: unexpected $title"
        case Some((s, n, snips)) =>
          if (!close(r.getAs[Double]("score"), s) || r.getAs[Int]("n_terms_hit") != n ||
              r.getAs[scala.collection.Seq[String]]("snippets").toSeq.sorted != snips)
            problems += s"$tag: $title differs"
      }
    }
    val returned = rows.map(_.getAs[String]("title")).toSet
    val floor = if (scores.isEmpty) Double.MinValue else scores.min
    if (rows.size == k && per.exists { case (t, (s, _, _)) => !returned(t) && s > floor + 1e-6 })
      problems += s"$tag: a higher-scoring title was left out"
    problems.result().take(3)
  }
}
