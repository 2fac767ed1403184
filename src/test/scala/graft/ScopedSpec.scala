package graft

import graft.core.Scoped

/** Storage-lifecycle tests: `Scoped.free` releases checkpoint blocks
  * (which `Dataset.unpersist` cannot see), and checkpoints a query leaves
  * behind are reclaimed by Spark's ContextCleaner once unreachable — a
  * long-lived session running the catalog must end with no more storage
  * blocks than it started with. */
class ScopedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Drop all storage left by earlier suites before a strict-equality
    * baseline: suites like PlanSpec CONSTRUCT catalog queries (eagerly
    * checkpointing) without consuming them, and the ContextCleaner frees
    * those on GC timing — mid-test, a baseline taken over them shifts. */
  private def drain(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
    spark.catalog.clearCache()
  }

  test("Scoped.free releases localCheckpoint blocks (Dataset.unpersist does not)") {
    drain()
    val df = spark.range(1000).toDF("id").localCheckpoint()
    assert(liveBlocks() >= 1)
    val before = liveBlocks()
    df.unpersist(blocking = true) // CacheManager no-op for checkpoints
    assert(liveBlocks() === before, "Dataset.unpersist must not see checkpoint blocks")
    Scoped.free(df)
    assert(liveBlocks() === before - 1)
  }

  test("free (default) completes block removal before returning — no in-flight window for the cleaner's duplicate RemoveRdd") {
    drain()
    import org.apache.spark.SparkEnv
    import org.apache.spark.sql.execution.LogicalRDD
    val cp = spark.range(10000).toDF("id").repartition(4).localCheckpoint()
    val ids = cp.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
    assert(ids.nonEmpty)
    val master = SparkEnv.get.blockManager.master
    def blocks() = master.getMatchingBlockIds(
      b => b.asRDDId.exists(r => ids.contains(r.rddId)), askStorageEndpoints = true)
    assert(blocks().nonEmpty, "checkpoint must own blocks before free")
    // The r7 bench-tail race: free() used to issue a NON-blocking
    // unpersist, return, and let the caller drop its last strong handle —
    // the ContextCleaner then GC-fired a duplicate RemoveRdd that
    // enumerated the same blocks concurrently with the still-in-flight
    // removal and warned "Asked to remove block rdd_N_M, which does not
    // exist". With the blocking default the removal is COMPLETE on
    // return, so a later duplicate enumerates zero blocks and is silent.
    Scoped.free(cp)
    assert(blocks().isEmpty,
      "blocks survived free() returning — an in-flight removal here is " +
        "exactly the window the ContextCleaner's duplicate RemoveRdd races")
  }

  test("iterative catalog queries leak no storage after their terminal action") {
    drain()
    val baseline = liveBlocks()
    for (q <- Seq("q29_pagerank_fixed10", "q25_pagerank", "q31_ngram_jaccard",
        "q32_minhash_lsh", "q34_simhash_pairs", "q47_pagerank_pregel",
        "q49_dedup_clusters", "q103_kmeans", "q104_split_leakage",
        "q111_cdc_chunk_dedup", "q117_mixture_apply", "q119_bpe_train_loop")) {
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // <= not ==: the ContextCleaner can also reclaim checkpoints left by
      // EARLIER suites in this shared JVM, dropping the count BELOW the
      // baseline — that is reclamation working, not a leak
      assert(awaitRelease(baseline) <= baseline, s"$q leaked storage blocks")
    }
  }

  test("a checkpoint-backed query result survives a second action after GC") {
    // nothing releases storage on a query's first action: the result's
    // checkpoints stay reachable through `df`, so the ContextCleaner must
    // leave them alone across a full GC. The second action plans afresh
    // (select "*"): re-running df's own executed plan would reuse the
    // first run's shuffle output and never read the checkpoints.
    val df = SparkEntry.queries("q29_pagerank_fixed10")(spark, dir)
    val first = df.collect().map(_.toSeq).toSeq
    System.gc()
    Thread.sleep(200)
    val second = df.select("*").collect().map(_.toSeq).toSeq
    assert(first.nonEmpty)
    assert(second === first)
  }
}
