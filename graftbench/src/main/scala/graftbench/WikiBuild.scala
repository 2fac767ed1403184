package graftbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cli.{BuildIndex, RankPages}
import graft.corpus.WikiCorpus
import graft.graph.GraphBuilder
import graft.index.InvertedIndex
import graft.pagerank.PageRank

/** The reference's offline build, `RankPages.pipeline` then
  * `BuildIndex.pipeline`, over a generated corpus: timed as one call per
  * stage, or traced through each layer's own entry point. */
object WikiBuild {
  val Pages = 5194

  /** Writes the corpus of `spec` under `work` and returns it with its path. */
  def materialize(work: Path, name: String, spec: WikiGen.Spec): (WikiGen.Corpus, String) = {
    val c = WikiGen.generate(spec)
    val p = work.resolve(s"$name.txt")
    c.write(p)
    (c, p.toString)
  }

  /** Both stages; returns PageRank's iteration count and each stage's
    * wall time in seconds. */
  def build(spark: SparkSession, input: String, out: String): (Int, Double, Double) = {
    val (res, rankS) = Timed(RankPages.pipeline(spark, input, out))
    val (_, indexS) = Timed(BuildIndex.pipeline(spark, input, out))
    res.release()
    (res.iterations, rankS, indexS)
  }

  val ServeTables = Seq("docs", "pr", "ranked", "ii")

  /** One build through the layers' own entry points, in the order
    * `RankPages.pipeline` and `BuildIndex.pipeline` call them, with a span
    * around each call and the layer counts taken outside the spans. */
  def tracedBuild(ctx: Ctx, input: String, out: String): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val res = t.span("cli.RankPages") {
      val docs = t.span("corpus.ingest") { val d = WikiCorpus.ingest(spark, input).cache(); d.count(); d }
      val graph = t.span("graph.build") {
        val g = GraphBuilder.build(docs.select(col("title"), col("links"))).cache(); g.count(); g
      }
      val res = t.span("pagerank.run") { PageRank.run(graph) }
      t.span("serve.write") {
        docs.write.mode("overwrite").parquet(s"$out/docs")
        res.graph.select(col("title"), col("pr")).write.mode("overwrite").parquet(s"$out/pr")
        t.span("pagerank.ranked") {
          PageRank.ranked(res.graph).select(concat_ws("\t", col("title"), col("pr")))
            .write.mode("overwrite").text(s"$out/ranked")
        }
      }
      docs.unpersist(); graph.unpersist(); res.release()
      res
    }
    t.span("cli.BuildIndex") {
      val docs = t.span("corpus.ingest") { WikiCorpus.ingest(spark, input) }
      t.span("index.build") { InvertedIndex.build(docs).write.mode("overwrite").parquet(s"$out/ii") }
    }
    // counts, outside every span
    val docs = spark.read.parquet(s"$out/docs")
    val graph = GraphBuilder.build(docs.select(col("title"), col("links")))
      .agg(count(lit(1)), sum(size(col("links")))).head()
    val occ = InvertedIndex.occurrences(WikiCorpus.ingest(spark, input)).count()
    val ii = spark.read.parquet(s"$out/ii")
      .agg(count(lit(1)), sum(col("df")),
        sum(aggregate(col("postings"), lit(0L), (acc, p) => acc + p.getField("tf")))).head()
    val index = t.total("index.build")
    val pr = t.total("pagerank.run")
    Map(
      "corpus.ingest_s" -> t.seconds("corpus.ingest"),
      "corpus.docs" -> docs.count().toDouble,
      "corpus.input_bytes" -> java.nio.file.Files.size(java.nio.file.Paths.get(input)).toDouble,
      "graph.build_s" -> t.seconds("graph.build"),
      "graph.vertices" -> graph.getLong(0).toDouble,
      "graph.edges" -> graph.getLong(1).toDouble,
      "pagerank.run_s" -> t.seconds("pagerank.run"),
      "pagerank.iterations" -> res.iterations.toDouble,
      "pagerank.jobs" -> pr.jobs.toDouble,
      "pagerank.s_per_iteration" -> t.seconds("pagerank.run") / res.iterations,
      "pagerank.ranked_s" -> t.seconds("pagerank.ranked"),
      "index.occurrences" -> occ.toDouble,
      "index.kept_ratio" -> ii.getLong(2).toDouble / occ,
      "index.terms" -> ii.getLong(0).toDouble,
      "index.postings" -> ii.getLong(1).toDouble,
      "index.build_s" -> t.seconds("index.build"),
      "index.shuffle_write_bytes" -> index.shuffleWriteBytes.toDouble,
      "index.spill_bytes" -> index.spillBytes.toDouble,
      "serve.write_s" -> t.seconds("serve.write"),
      "serve.bytes" -> ServeTables.map(n => ctx.dirBytes(java.nio.file.Paths.get(out, n))).sum.toDouble)
  }
}
