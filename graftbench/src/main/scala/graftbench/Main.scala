package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports. `e2e` are the untraced end-to-end metrics,
  * `layers` the traced per-layer metrics (empty unless tracing). */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    e2e: Seq[Metric], layers: Seq[Metric], extra: Seq[(String, Any)] = Nil)

/** Per-run state: arguments, the Spark session (restartable, so set-up can
  * be timed several times), the listener, the tracer and the JVM monitor. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path, val bench: Path, val cores: Int) {
  val jvm = new JvmMonitor
  private var session: SparkSession = _
  private var listener: Probe = _
  val tracer = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}", trace, listener)

  def spark: SparkSession = session
  def probe: Probe = listener

  private val born = System.nanoTime()
  /** Progress on stderr, which the runner keeps in the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  def restart(): SparkSession = {
    if (session != null) session.stop()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    listener = Probe.attach(session.sparkContext)
    session
  }

  /** Runs set-up `times` times, each from a fresh session, and returns the
    * last set-up's value with the median set-up time in seconds. */
  def setup[A](times: Int)(f: SparkSession => A): (A, Double) = {
    var last: Option[A] = None
    val secs = (1 to times).map { _ =>
      val t0 = System.nanoTime()
      last = Some(f(restart()))
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up done in $s%.2fs")
      jvm.sample()
      s
    }
    (last.get, Model.median(secs))
  }

  /** Drops every cache and checkpoint the session holds. */
  def clearStorage(): Unit = {
    val releasing = graft.core.Scoped.releaseAllArmed(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      if (!releasing.contains(r.id))
        try r.unpersist(blocking = true) catch { case NonFatal(_) => () }
    }
  }

  /** Runs `op` in a closed loop until `seconds` have passed and at least
    * `minOps` operations have run; returns each operation's wall time in
    * seconds. */
  def closedLoop(minOps: Int)(op: Int => Unit): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Double]
    var k = 0
    while (k < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      op(k)
      out += (System.nanoTime() - s) / 1e9
      k += 1
    }
    log(s"$k operations done")
    jvm.sample()
    out.result()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

object Timed {
  def apply[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --bench DIR [--cores C]` — runs one workload and prints its result as the
  * last stdout line, prefixed `GRAFTBENCH_RESULT `. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "wiki_search" -> WikiSearch.run,
    "catalog_slice" -> CatalogSlice.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val work = Paths.get(kv("work")).toAbsolutePath
    Files.createDirectories(work)
    val ctx = new Ctx(workload, kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", work, Paths.get(kv("bench")).toAbsolutePath,
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    val (out, wall) = Timed(run(ctx))
    if (ctx.trace) ctx.tracer.write(work.resolve(s"trace-$workload.json"))
    val metrics = (if (ctx.trace) out.layers else out.e2e)
      .map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit))
    val line = Json.obj(Seq(
      "correct" -> (out.failures.isEmpty && out.failed == 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*),
      "failures" -> out.failures.take(20), "wall_s" -> wall) ++ out.extra)
    if (ctx.spark != null) ctx.spark.stop()
    println("GRAFTBENCH_RESULT " + line)
  }
}
