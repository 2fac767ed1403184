package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Totals of the Spark work a session has done. Subtracting two snapshots
  * gives the work done between them. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, runTimeMs: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    checkpointJobs: Long = 0, schemaJobs: Long = 0) {
  private def zip(o: Counters, f: (Long, Long) => Long): Counters = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(shuffleWriteBytes, o.shuffleWriteBytes), f(spillBytes, o.spillBytes),
    f(runTimeMs, o.runTimeMs), f(inputBytes, o.inputBytes),
    f(inputRecords, o.inputRecords), f(checkpointJobs, o.checkpointJobs),
    f(schemaJobs, o.schemaJobs))
  def -(o: Counters): Counters = zip(o, _ - _)
  def +(o: Counters): Counters = zip(o, _ + _)
  def toMap: Seq[(String, Any)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "run_time_ms" -> runTimeMs,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "checkpoint_jobs" -> checkpointJobs, "schema_inference_jobs" -> schemaJobs)
}

/** Counts jobs, stages, tasks, shuffle and spill bytes, executor run time
  * and scan input. A job is a checkpoint job when a stage's call site is a
  * `localCheckpoint`/`checkpoint` call, and a schema-inference job when it
  * is a `parquet` read. Events arrive on Spark's single listener thread;
  * `snapshot` drains the bus before reading. */
final class Probe(sc: SparkContext) extends SparkListener {
  @volatile private var c = Counters()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val names = e.stageInfos.map(_.name)
    val cp = names.exists(n => n.startsWith("localCheckpoint at") || n.startsWith("checkpoint at"))
    val schema = !cp && names.exists(_.startsWith("parquet at"))
    c = c.copy(jobs = c.jobs + 1,
      checkpointJobs = c.checkpointJobs + (if (cp) 1 else 0),
      schemaJobs = c.schemaJobs + (if (schema) 1 else 0))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c = c.copy(stages = c.stages + 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(tasks = c.tasks + 1,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      runTimeMs = c.runTimeMs + m.executorRunTime,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = c.inputRecords + m.inputMetrics.recordsRead)
  }

  def snapshot(): Counters = { BenchBus.drain(sc); c }
}

object Probe {
  def attach(sc: SparkContext): Probe = { val p = new Probe(sc); sc.addSparkListener(p); p }
}

/** One layer call: name, start and end (ns since the run began), the span
  * that caused it, and the Spark work counted between its two ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, work: Counters, attrs: Seq[(String, Any)]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each engine layer. Disabled, a
  * span is just the call. Enabled, it drains the listener bus at both ends
  * so that its counters are exact. Spans stay in memory until `write`. */
final class Tracer(val runId: String, val enabled: Boolean, probe: => Probe) {
  private val t0 = System.nanoTime()
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def span[A](name: String, attrs: (String, Any)*)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      val before = probe.snapshot()
      val s = System.nanoTime()
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        val e = System.nanoTime()
        buf += Span(id, parent, name, s - t0, e - t0, probe.snapshot() - before, attrs)
      }
    }

  def named(name: String): Seq[Span] = buf.filter(_.name == name).toSeq
  def total(name: String): Counters =
    named(name).map(_.work).foldLeft(Counters())(_ + _)
  def seconds(name: String): Double = named(name).map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    val items = buf.map { s =>
      Json.obj(Seq("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        s.work.toMap ++ s.attrs)
    }
    java.nio.file.Files.writeString(path, items.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Live heap and GC time. `sample` forces a full collection and reads the
  * heap pools' collection usage, which is their occupancy just after it;
  * `peakMb` is the largest such reading. Samples are taken at fixed points
  * outside timed windows, so the figure does not depend on when the
  * collector happened to run. */
final class JvmMonitor {
  @volatile private var peak = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def sample(): Unit = {
    System.gc()
    val used = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    if (used > peak) peak = used
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
  def gcSeconds: Double = beans.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
