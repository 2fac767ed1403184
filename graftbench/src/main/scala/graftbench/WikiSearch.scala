package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.search.Search

/** `wiki_search`: the reference workflow, offline build then warm serving.
  * Set-up is the build, `RankPages.pipeline` then `BuildIndex.pipeline`
  * over a generated corpus, run once as the first work of a fresh JVM and
  * session (as the reference's command-line mains run it), followed by
  * three serving set-ups, each from a fresh session: open the tables and
  * run warm-up queries. Then one client runs a closed loop of seeded term
  * queries, alternating parity `Search.search` and top-20
  * `Search.searchRanked`. One operation is one query, each a fresh call;
  * only the session and the three table handles persist between queries. */
object WikiSearch {
  val BodyBytes = 750000L
  val TracedQueries = 20

  final case class Tables(ii: DataFrame, pr: DataFrame, docs: DataFrame)

  def open(spark: SparkSession, out: String): Tables =
    Tables(spark.read.parquet(s"$out/ii"), spark.read.parquet(s"$out/pr"),
      spark.read.parquet(s"$out/docs"))

  def query(spark: SparkSession, q: WikiGen.Query, docCount: Long, t: Tables): DataFrame = {
    val terms = q.terms.map(_.term)
    if (q.ranked) Search.searchRanked(spark, terms, docCount, t.ii, t.pr, t.docs)
    else Search.search(spark, terms, docCount, t.ii, t.pr, t.docs)
  }

  def run(ctx: Ctx): Outcome = {
    val (corpus, input) = WikiBuild.materialize(ctx.work, "wiki",
      WikiGen.Spec(WikiBuild.Pages, BodyBytes, ctx.seed))
    val n = corpus.lines.length.toLong
    val queries = WikiGen.queries(corpus, 5000, ctx.seed)
    val warm = WikiGen.queries(corpus, 4, ctx.seed + 1)
    val out = ctx.work.resolve("serve").toString
    val ((iterations, rankS, indexS), buildS) = Timed(WikiBuild.build(ctx.restart(), input, out))
    ctx.log(f"build done in $buildS%.2fs")
    val (tables, serveSetupS) = ctx.setup(3) { spark =>
      val t = open(spark, out)
      warm.foreach(q => query(spark, q, n, t).collect())
      t
    }
    val setupS = buildS + serveSetupS

    val gc0 = ctx.jvm.gcSeconds
    val busy0 = ctx.probe.snapshot()
    val results = scala.collection.mutable.ArrayBuffer.empty[(WikiGen.Query, Array[Row])]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = ctx.closedLoop(minOps = 2) { k =>
      val q = queries(k)
      try results += (q -> query(ctx.spark, q, n, tables).collect())
      catch { case e: Exception => errors += s"query $k failed: ${e.getClass.getSimpleName}" }
    }
    val busy = ctx.probe.snapshot() - busy0
    val gcS = ctx.jvm.gcSeconds - gc0
    val heap = ctx.jvm.peakMb

    val terms = results.flatMap(_._1.terms).distinct.toSeq
    val pr = ctx.spark.read.parquet(s"$out/pr").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = new Checks.Truth(corpus, terms.map(_.term).toSet, pr)
    val checks = errors.toSeq ++
      Checks.ranks(ctx.spark, out, corpus, Seq(iterations)) ++
      Checks.df(ctx.spark, out, corpus, terms) ++
      results.flatMap { case (q, rows) =>
        if (q.ranked) Checks.ranked(q, rows.toSeq, truth) else Checks.search(q, rows.toSeq, truth)
      }
    val serveBytes = WikiBuild.ServeTables.map(t => ctx.dirBytes(java.nio.file.Paths.get(out, t))).sum

    ctx.log("checks done")
    val layers =
      if (!ctx.trace) Nil
      else {
        val kinds = queries.take(ops.size).map(_.ranked)
        def lat(ranked: Boolean) = ops.zip(kinds).collect { case (s, r) if r == ranked => s * 1000 }
        // the same build untraced and traced, both warm, for the overhead
        val (_, warmBuildS) = Timed(WikiBuild.build(ctx.spark, input, ctx.work.resolve("serve-warm").toString))
        val (built, tracedBuildS) = Timed(WikiBuild.tracedBuild(ctx, input, ctx.work.resolve("serve-traced").toString))
        val (served, servedS) = Timed(tracedQueries(ctx, queries.take(TracedQueries), n, out))
        Layers.metrics(built ++ served ++ Map(
          "rank_s" -> rankS,
          "index_s" -> indexS,
          "serve_bytes_per_input_byte" -> serveBytes.toDouble / corpus.bytes,
          "search_p50_ms" -> Model.median(lat(false)),
          "ranked_p50_ms" -> Model.median(lat(true)),
          "search.samples" -> ops.size.toDouble,
          "error_rate" -> errors.size.toDouble / ops.size,
          "spark.busy_ratio" -> busy.runTimeMs / 1000.0 / (ops.sum * ctx.cores),
          "jvm.gc_s" -> gcS,
          "jvm.heap_peak_mb" -> heap,
          "trace.overhead_s" -> ((tracedBuildS - warmBuildS) +
            (servedS - ops.sum / ops.size * TracedQueries))))
      }
    Outcome(attempted = ops.size, failed = errors.size, failures = checks,
      e2e = Layers.e2e(setupS, ops), layers = layers,
      extra = Seq("corpus" -> Map("pages" -> corpus.lines.length, "bytes" -> corpus.bytes),
        "terms" -> terms.map(t => Map("term" -> t.term, "rank" -> t.rank, "band" -> t.band,
          "expected_df" -> t.expectedDf)),
        "serve_bytes" -> serveBytes, "op_s" -> ops, "build_s" -> Seq(rankS, indexS),
        "serve_setup_s" -> serveSetupS))
  }

  /** Each query split into planning (building the DataFrame and its
    * physical plan) and execution (collect), with the tables reopened once
    * inside a span. */
  def tracedQueries(ctx: Ctx, qs: Seq[WikiGen.Query], n: Long, out: String): Map[String, Double] = {
    val t = ctx.tracer
    val tables = t.span("serve.open") { val tb = open(ctx.spark, out); tb }
    var hits = 0L
    qs.foreach { q =>
      t.span("search.query", "ranked" -> q.ranked, "terms" -> q.terms.map(_.term)) {
        val df = t.span("search.plan") { val d = query(ctx.spark, q, n, tables); d.queryExecution.executedPlan; d }
        hits += t.span("search.exec") { df.collect().length }
      }
    }
    val exec = t.total("search.exec")
    Map(
      "serve.open_ms" -> t.seconds("serve.open") * 1000,
      "search.plan_ms" -> t.seconds("search.plan") * 1000 / qs.size,
      "search.exec_ms" -> t.seconds("search.exec") * 1000 / qs.size,
      "search.jobs_per_query" -> t.total("search.query").jobs.toDouble / qs.size,
      "search.input_bytes_per_query" -> exec.inputBytes.toDouble / qs.size,
      "search.rows_read_per_hit" -> exec.inputRecords.toDouble / math.max(hits, 1L))
  }
}
