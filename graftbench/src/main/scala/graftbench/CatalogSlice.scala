package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.queries._

/** `catalog_slice`: a seeded, stratified slice of `SparkEntry.queries` over
  * the committed sf0.01 fixture. Each query runs once untimed (its result
  * is written for the DuckDB oracle check), then `TimedRuns` times through
  * the `noop` sink; caches and checkpoints are dropped after every run. One
  * operation is one query, timed as the median of its timed runs. */
object CatalogSlice {
  val Size = 12
  val StratumWidth = 4
  val TimedRuns = 2
  /** Strata span the cheapest 90% of the catalog: the slowest tenth would
    * triple a slice's run time without moving its median. */
  val CostSpan = 0.9

  /** Query names by catalog module. */
  def families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Relational.catalog, "corpus_search" -> CorpusSearch.catalog,
    "dedup_sim" -> DedupSim.catalog, "text_ops" -> (TextOps.catalog ++ TextOps.catalogTrainer),
    "events" -> Events.catalog, "multimodal" -> MultimodalQ.catalog)
    .map { case (f, qs) => f -> qs.map(_._1) }

  /** Reference cost of each query in seconds, from the committed table. */
  def costs(path: Path): Map[String, Double] =
    Files.readAllLines(path).asScala.iterator.map(_.split('\t'))
      .collect { case Array(n, s) => n -> s.toDouble }.toMap

  /** `k` strata of `width` consecutive queries in (reference cost, name)
    * order, centred on the cost quantiles `span`·(i + ½)/k; the seed picks
    * one query from each. A query missing from the cost table sorts at the
    * median cost. Narrow strata at fixed quantiles keep the slice's cost
    * profile nearly the same for every seed, while the seed still decides
    * which queries run. */
  def select(names: Seq[String], cost: Map[String, Double], k: Int, seed: Long,
      width: Int = StratumWidth, span: Double = CostSpan): Seq[String] = {
    val med = Model.median(names.flatMap(cost.get))
    val ordered = names.distinct.sortBy(n => (cost.getOrElse(n, med), n))
    require(ordered.size >= k * width, s"${ordered.size} queries cannot fill $k strata of $width")
    val rnd = new SplittableRandom(seed)
    (0 until k).map { i =>
      val centre = (span * (i + 0.5) * ordered.size / k).toInt
      val from = math.min(math.max(centre - width / 2, 0), ordered.size - width)
      ordered(from + rnd.nextInt(width))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val dir = ctx.bench.resolve("data").resolve("sf0.01").toString
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val slice = select(queries.keys.toSeq, costs(ctx.bench.resolve("catalog_cost.tsv")), Size, ctx.seed)
    val outDir = ctx.work.resolve("catalog")
    val (_, setupS) = ctx.setup(3) { spark =>
      spark.range(1000000).selectExpr("sum(id)").collect()
      graft.multimodal.MediaFixtures.ensureAll(spark, dir)
      queries("q01_pricing_summary")(spark, dir).write.format("noop").mode("overwrite").save()
    }
    val gc0 = ctx.jvm.gcSeconds
    val busy0 = ctx.probe.snapshot()
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val timed = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val times = slice.flatMap { name =>
      try {
        queries(name)(ctx.spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(name).toString)
        ctx.clearStorage()
        val runs = (1 to TimedRuns).map { _ =>
          val (_, s) = Timed(queries(name)(ctx.spark, dir).write.format("noop").mode("overwrite").save())
          ctx.clearStorage()
          s
        }
        timed += runs
        Some(Model.median(runs))
      } catch { case e: Throwable =>
        errors += s"$name failed: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}"
        None
      }
    }
    ctx.jvm.sample()
    val busy = ctx.probe.snapshot() - busy0
    val gcS = ctx.jvm.gcSeconds - gc0
    val heap = ctx.jvm.peakMb

    ctx.log("slice done")
    val layers =
      if (!ctx.trace) Nil
      else {
        val (traced, tracedS) = Timed(tracedSlice(ctx, slice, dir))
        Layers.metrics(traced ++ Map(
          "catalog_s" -> times.sum,
          "catalog_p50_s" -> Model.median(times),
          "error_rate" -> errors.size.toDouble / slice.size,
          "spark.busy_ratio" -> busy.runTimeMs / 1000.0 / (times.sum * ctx.cores),
          "jvm.gc_s" -> gcS,
          "jvm.heap_peak_mb" -> heap,
          "trace.overhead_s" -> (tracedS - times.sum)))
      }
    val family = families.flatMap { case (f, ns) => ns.map(_ -> f) }.toMap
    Outcome(attempted = slice.size, failed = errors.size, failures = errors.toSeq,
      e2e = if (times.isEmpty) Nil else Layers.e2e(setupS, times), layers = layers,
      extra = Seq(
        "slice" -> slice.map(n => Map("name" -> n, "family" -> family.getOrElse(n, "?"))),
        "query_runs_s" -> timed.toSeq,
        // the runner compares each written result with its oracle in DuckDB
        "catalog_outputs" -> outDir.toString, "catalog_data" -> dir,
        "oracle_sql" -> slice.flatMap(n => oracle.get(n).map(n -> _)).toMap))
  }

  /** Every fixture table loaded once through `Tables.load`, then the slice
    * again with a span per query. */
  def tracedSlice(ctx: Ctx, slice: Seq[String], dir: String): Map[String, Double] = {
    val t = ctx.tracer
    graft.core.Tables.names.foreach { n =>
      t.span("core.Tables.load", "table" -> n) { graft.core.Tables.load(ctx.spark, dir, n) }
    }
    slice.foreach { name =>
      t.span("queries.query", "query" -> name) {
        SparkEntry.queries(name)(ctx.spark, dir).write.format("noop").mode("overwrite").save()
      }
      ctx.clearStorage()
    }
    val q = t.total("queries.query")
    Map(
      "core.table_load_ms" -> t.seconds("core.Tables.load") * 1000 / graft.core.Tables.names.size,
      "queries.jobs" -> q.jobs.toDouble,
      "queries.jobs.checkpoint" -> q.checkpointJobs.toDouble,
      "queries.jobs.schema_inference" -> q.schemaJobs.toDouble,
      "queries.jobs_per_query" -> q.jobs.toDouble / slice.size,
      "queries.tasks" -> q.tasks.toDouble)
  }
}
