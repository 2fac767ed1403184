package graft.graph

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.core.Scoped

/** Connected components over an undirected pair list — the clustering step
  * that turns pairwise near-duplicate matches into dedup groups with a
  * canonical representative (component id = MIN vertex id).
  *
  * Algorithm: min-label propagation. Every round each vertex takes the min
  * of its own and its direct neighbors' labels — one equi-join + one
  * groupBy(min) + one join back, all hash-partitioned on the vertex id, so
  * a round is two shuffles that reuse the same key. Rounds needed =
  * component diameter (near-dup clusters are shallow: 2-4 rounds at any
  * corpus size); `maxRounds` caps pathological chains. Per-round storage
  * discipline mirrors [[graft.pagerank.PageRank.run]]: labels are
  * localCheckpoint'ed (lineage stays flat), the predecessor freed via
  * [[Scoped.free]], and the converged-yet? change count piggybacks on the
  * checkpoint job through an `Observation` — one job per round.
  *
  * Why not GraphX `connectedComponents`: its Pregel leaves the final
  * internal message RDD cached with no public handle — one leaked storage
  * block per invocation in a long-lived session (caught by ScopedSpec).
  * The DataFrame loop is also the shape that scales: label propagation is
  * the standard massive-graph CC (alternating-algorithm variants reduce
  * round count, not shuffle shape).
  */
object ConnectedComponents {

  /** pairs(idA, idB) — undirected edges, any long id columns (first two
    * columns are used). Returns (vertex, component) for every vertex that
    * appears in a pair, component = min reachable vertex id. The result is
    * checkpoint-backed, like PageRank.Result.graph: free it with
    * Scoped.free, or let the ContextCleaner reclaim it once unreachable. */
  def assign(pairs0: DataFrame, maxRounds: Int = 50): DataFrame = {
    // take the first two columns POSITIONALLY (toDF renames by position,
    // so duplicate or dotted input names can't break resolution; a bare
    // 2-ary toDF would throw on wider input, contradicting the contract)
    val pairs = pairs0
      .toDF(pairs0.columns.indices.map(i => s"_p$i"): _*)
      .select(col("_p0").as("id_a"), col("_p1").as("id_b"))
      .localCheckpoint()
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    var labels = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("v")).distinct()
      .withColumn("comp", col("v"))
    var prev: DataFrame = null
    var changes = 1L
    var round = 0
    while (changes > 0 && round < maxRounds) {
      round += 1
      // Pointer-jump first: comp ← comp(comp). Plain neighbor-min needs
      // O(diameter) rounds and real pair graphs have a long convergence
      // tail (a few chain-shaped clusters fixing one vertex per round);
      // halving the remaining path length every round cuts that to
      // O(log diameter). comp values are always member-vertex ids, so the
      // self-join hits; on checkpoint-backed labels it costs one shuffle.
      val jumped =
        if (round == 1) labels // initial comp(v) = v: jump is the identity
        else labels.as("x")
          .join(labels.select(col("v").as("jv"), col("comp").as("jc")),
            col("comp") === col("jv"), "left_outer")
          .select(col("v"), coalesce(col("jc"), col("comp")).as("comp"))
      val nbrMin = edges
        .join(jumped.select(col("v").as("u"), col("comp").as("nc")), Seq("u"))
        .groupBy(col("v")).agg(min(col("nc")).as("nbr"))
      val obs = Observation(s"cc_$round")
      // convergence test is hook-vs-jumped: zero hook changes means comp
      // is ≤ every neighbor's comp, i.e. constant per component — and a
      // constant label over member ids can only be the component min
      val next = jumped.select(col("v"), col("comp").as("old"))
        .join(nbrMin, Seq("v"), "left_outer")
        .select(col("v"),
          least(col("old"), coalesce(col("nbr"), col("old"))).as("comp"),
          col("old"))
        .observe(obs,
          sum(when(col("comp") < col("old"), 1L).otherwise(lit(0L))).as("ch"))
        // drop the comparison column before materializing: the metric is
        // collected by the CollectMetrics node above, and checkpointing
        // `old` would store a dead long per vertex per round
        .select(col("v"), col("comp"))
        .localCheckpoint()
      changes = obs.get("ch") match {
        case null => 0L // empty pair graph: no rows, no work
        case l: java.lang.Long => l.longValue()
        case x => x.toString.toLong
      }
      if (prev != null) Scoped.free(prev)
      prev = next
      labels = next
    }
    // Free the pair checkpoint only once the loop has re-based `labels`
    // onto its own checkpoint; with maxRounds <= 0 the identity assignment
    // still reads `pairs`, and the caller's release of `labels` frees it
    // (the pairs checkpoint is then a leaf of the returned plan).
    if (prev != null) Scoped.free(pairs)
    labels
  }
}
