package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Persisted or checkpointed RDDs that still hold storage. */
  def liveBlocks(): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel != StorageLevel.NONE)

  /** Poll until at most `baseline` RDDs hold storage (or the deadline
    * passes) and return the final count. Unreachable checkpoints are
    * freed by the ContextCleaner only after a GC clears their weak
    * references, and `System.gc()` alone is advisory, so each round also
    * churns ~16 MB of young-gen garbage to force a real collection. */
  def awaitRelease(baseline: Int, timeoutMs: Long = 20000): Int = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (liveBlocks() > baseline && System.currentTimeMillis() < deadline) {
      var garbage = new Array[Array[Long]](32)
      var g = 0
      while (g < 32) { garbage(g) = new Array[Long](1 << 16); g += 1 }
      garbage = null
      System.gc(); Thread.sleep(50)
    }
    liveBlocks()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
