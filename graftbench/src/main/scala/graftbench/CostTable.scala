package graftbench

import java.nio.file.{Files, Paths}

/** Regenerates `catalog_cost.tsv`, the reference cost that orders the
  * catalog into strata: every `SparkEntry.queries` entry over the sf0.01
  * fixture, once untimed and then timed twice through the `noop` sink in
  * the benchmark's own session settings; a query's cost is the faster
  * timed run.
  *
  * `graftbench.CostTable <graftbench dir> <out.tsv>`, on the classpath
  * that `run.py` builds. Only the order of the costs is used, so the table
  * needs regenerating only when queries are added or change a lot. */
object CostTable {
  def main(args: Array[String]): Unit = {
    val Array(bench, out) = args
    val work = Files.createTempDirectory(Paths.get(bench, ".work"), "costs")
    val ctx = new Ctx("costs", 0, 0, trace = false, work, Paths.get(bench).toAbsolutePath,
      Runtime.getRuntime.availableProcessors())
    val dir = ctx.bench.resolve("data").resolve("sf0.01").toString
    val spark = ctx.restart()
    graft.multimodal.MediaFixtures.ensureAll(spark, dir)
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      def once(): Double = {
        val (_, s) = Timed(q(spark, dir).write.format("noop").mode("overwrite").save())
        ctx.clearStorage()
        s
      }
      once()
      val s = math.min(once(), once())
      ctx.log(f"$name $s%.3f")
      "%s\t%.3f".formatLocal(java.util.Locale.ROOT, name, s)
    }
    Files.write(Paths.get(out), (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
