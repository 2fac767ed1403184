package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Portable._
import graft.core.Tables

/** Relational operator coverage (SURVEY.md §2.2–§2.8): scans, filters,
  * projections, every join shape, aggregation, window functions, set ops,
  * sorts, top-k, grouping sets, scalar functions — each paired with an ANSI
  * SQL oracle for DuckDB.
  *
  * Determinism rules (the correctness gate hash-compares values):
  *  - every double-valued aggregate goes through decimal(18,x) so the sum is
  *    exact and independent of partition order (see [[graft.core.Portable]]);
  *  - every query ends in a total ORDER BY (ties broken by a key column);
  *  - every column is aliased identically in the Spark plan and the SQL.
  *
  * Scale notes (100 TB): filters/projections sit directly on the parquet
  * scan so Catalyst pushes them down (verified via explain: PushedFilters /
  * ReadSchema). Dimension tables (region/nation/customer/supplier/part) are
  * broadcast; only fact-fact joins shuffle. Aggregations rely on partial
  * (map-side) aggregation; AQE coalesces post-shuffle partitions.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-invocation scratch dir for the roundtrip/snapshot queries
    * (q85, q203). Unique per call — a fixed path would let concurrent
    * harness runs (Verify vs sbt test, two sf dirs) overwrite each
    * other's input mid-read — and queued for recursive deletion at JVM
    * exit so catalog sweeps that invoke every builder (the
    * NoDecimalOutputSpec schema gate, PlanDump) don't leave snapshot
    * directories behind (ADVICE r16). ONE static shutdown hook drains a
    * shared concurrent queue (ADVICE r17): a per-invocation hook would
    * accumulate without bound in a long-lived session that rebuilds
    * q85/q203/q208 repeatedly (bench loops, repeated catalog sweeps). */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      var p = scratchDirs.poll()
      while (p != null) { rm(p.toFile); p = scratchDirs.poll() }
    }))
  }
  private[queries] def scratchDir(prefix: String): String = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  private val profNumCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val profStrCols = Seq("l_returnflag", "l_linestatus")
  private val profTsCols = Seq("l_shipdate")
  private[graft] val profCols = profNumCols ++ profStrCols ++ profTsCols

  /** The q139 table profile over an arbitrary lineitem-shaped frame —
    * shared by q139 (the contract check) and q143 (the drift report,
    * which profiles BASE and CANDIDATE drops and diffs them).
    *
    * TWO single-row passes split by AGGREGATION-BUFFER family, not one
    * (measured, r13): Spark rewrites N count-distincts as an Expand
    * (×N+1 rows) into a partial HashAggregate, and that aggregate holds
    * EVERY agg's buffer — one var-length buffer (min/max of a string)
    * demotes the whole thing to sort-based over the expanded rows
    * (29.2 s at sf0.1). Splitting keeps the numeric pass's buffers
    * all-primitive (codegen'd hash path) and the string/timestamp pass's
    * expand small (×4 of 3 columns): 5.0 s at sf0.1, and the two scans
    * read DISJOINT column bytes, so total parquet IO equals the
    * single-scan plan's. */
  private def liProfile(df: DataFrame): DataFrame = {
    val numAggs = count(lit(1)).as("n_rows") +: profNumCols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"))
    }
    val strAggs = (profStrCols ++ profTsCols).flatMap { c =>
      val mm =
        if (profStrCols.contains(c))
          Seq(min(col(c)).as(s"${c}_mins"), max(col(c)).as(s"${c}_maxs"))
        else
          Seq(date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}_mins"),
            date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}_maxs"))
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct")) ++ mm
    }
    val stackExpr = profCols.map { c =>
      if (profNumCols.contains(c))
        s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max, " +
          "cast(null as string), cast(null as string)"
      else
        s"'$c', ${c}_nulls, ${c}_distinct, cast(null as double), " +
          s"cast(null as double), ${c}_mins, ${c}_maxs"
    }.mkString(s"stack(${profCols.size}, ", ", ",
      ") as (column_name, n_null, n_distinct, min_v, max_v, min_s, max_s)")
    df.agg(numAggs.head, numAggs.tail: _*)
      .crossJoin(broadcast(df.agg(strAggs.head, strAggs.tail: _*)))
      .select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"),
        col("min_s"), col("max_s"))
  }

  /** The planted "incoming candidate drop" q143/q150 diff against the
    * trusted base: ~1% rows missing (truncated delivery), l_tax nulled on
    * the %13 stripe, a +50,000 price shift on the %3 stripe, a new 'X'
    * return-flag category on the %11 stripe — identically derived on the
    * oracle side ([[driftCandidateSql]]). */
  private def driftCandidate(base: DataFrame): DataFrame = base
    .filter(col("l_orderkey") % 97 =!= 0)
    .withColumn("l_extendedprice",
      when(col("l_orderkey") % 3 === 0, col("l_extendedprice") + 50000.0)
        .otherwise(col("l_extendedprice")))
    .withColumn("l_tax",
      when(col("l_orderkey") % 13 === 0, lit(null).cast("double"))
        .otherwise(col("l_tax")))
    .withColumn("l_returnflag",
      when(col("l_orderkey") % 11 === 0, lit("X"))
        .otherwise(col("l_returnflag")))

  /** [[driftCandidate]]'s CTE body (`cand AS (...)`). */
  private val driftCandidateSql: String =
    """cand AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
            l_quantity,
            CASE WHEN l_orderkey % 3 = 0 THEN l_extendedprice + 50000.0
                 ELSE l_extendedprice END AS l_extendedprice,
            l_discount,
            CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_tax END AS l_tax,
            CASE WHEN l_orderkey % 11 = 0 THEN 'X' ELSE l_returnflag END AS l_returnflag,
            l_linestatus, l_shipdate
          FROM lineitem WHERE l_orderkey % 97 <> 0)"""

  /** DuckDB twin of [[liProfile]] over CTE/table `src` — a bare UNION ALL
    * chain (no ORDER BY) so callers can wrap it as a subquery. */
  private def liProfileSql(src: String): String =
    profCols.map { c =>
      val mm =
        if (profNumCols.contains(c))
          s"""CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
            CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s"""
        else if (profStrCols.contains(c))
          s"""CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
            MIN($c) AS min_s, MAX($c) AS max_s"""
        else
          s"""CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
            strftime(MIN($c), '%Y-%m-%d %H:%M:%S') AS min_s,
            strftime(MAX($c), '%Y-%m-%d %H:%M:%S') AS max_s"""
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
            CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            COUNT(DISTINCT $c) AS n_distinct,
            $mm
          FROM $src"""
    }.mkString("", "\n          UNION ALL ", "")

  /** (name, spark query, oracle SQL) triples. */
  /** q172's default bin widths (cents): sized so every fixture column
    * keeps ≫1 row per occupied bin — the density rule SCALING.md's
    * width A/B measures (state cost and fence wobble both scale with
    * the bin count, so the width is the operator's one tunable). */
  val FenceBinWidths: Map[String, Long] = Map("l_quantity" -> 100L,
    "l_extendedprice" -> 100000L, "l_discount" -> 1L, "l_tax" -> 1L)

  /** The shared melted planted-outlier cent stream (q148's grid): one row
    * per (column, value-in-cents) with its q172 histogram bin.
    * Checkpointed — the histogram pass and the fence/winsorize pass both
    * read it (q172 and q177 each materialize their own). */
  private def meltedCentStream(s: SparkSession, dir: String,
      widths: Map[String, Long]): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // same planted-outlier cent grid as q148 (the exact A/B control)
    val base = t(s, dir, "lineitem")
    val aug = base.select(cols.map(col): _*).unionByName(
      base.filter(col("l_orderkey") % 9973 === 0)
        .select((col("l_quantity") * 1000).as("l_quantity"),
          (col("l_extendedprice") * 100).as("l_extendedprice"),
          (col("l_discount") - 5.0).as("l_discount"),
          (col("l_tax") + 5.0).as("l_tax")))
    val stackE = cols.map(c =>
      s"'$c', cast(floor($c * 100 + 0.5) as bigint)")
      .mkString(s"stack(${cols.size}, ", ", ", ") as (cn, v)")
    val widthCase = cols.map(c => s"WHEN '$c' THEN ${widths(c)}L")
      .mkString("CASE cn ", " ", " END")
    val m = aug.select(expr(stackE))
      .withColumn("w", expr(widthCase))
      .withColumn("bin", floor(col("v").cast("double") / col("w")))
      .localCheckpoint()
    m
  }

  /** q172's quartile extraction off the bounded (cn, bin) histogram:
    * smallest bin with 4·cum > k·(n−1), valued at its lower edge bin·W
    * — exact to within one bin width. Returns one row per column:
    * (cn, n_rows, q1_cents, median_cents, q3_cents, bin_w). */
  private def histQuartiles(m: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("cn")).orderBy(col("bin"))
    m.groupBy(col("cn"), col("w"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy(col("cn"))))
      .groupBy(col("cn"), col("w"))
      .agg(
        min(when(col("cum") * 4 > col("total") - 1, col("bin"))).as("b1"),
        min(when(col("cum") * 4 > (col("total") - 1) * 2, col("bin"))).as("b2"),
        min(when(col("cum") * 4 > (col("total") - 1) * 3, col("bin"))).as("b3"),
        max(col("total")).as("n_rows"))
      .select(col("cn"), col("n_rows"),
        (col("b1") * col("w")).as("q1_cents"),
        (col("b2") * col("w")).as("median_cents"),
        (col("b3") * col("w")).as("q3_cents"),
        col("w").as("bin_w"))
  }

  /** Overflow-checked DECIMAL(38,0)→BIGINT downcast (the r15 q177 gate
    * lesson): decimal accumulation stays INTERNAL — wide sums still
    * can't wrap — but output schemas carry integers, because decimal
    * columns canonicalize differently across downstream hash layers
    * (NoDecimalOutputSpec enforces this repo-wide). assert_true fails
    * the job loudly if the value ever exceeds int64; the 100 TB
    * contract at that point is re-grid the units, never wrap. */
  private[graft] def decimalToLongChecked(c: Column): Column =
    when(assert_true(
      c >= lit(Long.MinValue).cast("decimal(38,0)") &&
        c <= lit(Long.MaxValue).cast("decimal(38,0)"))
      .isNull, c.cast("long"))

  /** q172's core, parameterized by bin width (VERDICT r14 #7): quartiles
    * off a mergeable fixed-bin histogram — state is OCCUPIED BINS
    * (domain/width-bounded), never the row count — then integer
    * multiply-through Tukey fences over the same melted pass. The same
    * planted-outlier cent grid as q148, which stays the exact-state A/B
    * control. `widths` trades state for resolution: quartiles are exact
    * to within ONE bin width by construction (OutlierFenceSpec pins the
    * bound at both the default and a 10×-narrower width). */
  def outlierFencesHist(s: SparkSession, dir: String,
      widths: Map[String, Long] = FenceBinWidths): DataFrame = {
    val m = meltedCentStream(s, dir, widths)
    val qs = histQuartiles(m)
    val f = m.join(broadcast(qs), Seq("cn"))
      .groupBy(col("cn"))
      .agg(
        sum(when(col("v") * 2 <
          col("q1_cents") * 2 - (col("q3_cents") - col("q1_cents")) * 3,
          1L).otherwise(0L)).as("n_below"),
        sum(when(col("v") * 2 >
          col("q3_cents") * 2 + (col("q3_cents") - col("q1_cents")) * 3,
          1L).otherwise(0L)).as("n_above"))
    qs.join(f, Seq("cn"))
      .select(col("cn").as("column_name"), col("n_rows"),
        col("q1_cents"), col("median_cents"), col("q3_cents"),
        (col("q3_cents") - col("q1_cents")).as("iqr_cents"),
        col("bin_w"), col("n_below"), col("n_above"))
      .orderBy(col("column_name"))
  }

  val catalog: Seq[(String, Q, Option[String])] = Seq(

    // ---- scan + filter + project + group/agg (TPC-H Q1 shape; ref A6/A7
    // partial-agg analog — Catalyst's HashAggregate(partial) replaces the
    // reference combiner, /root/reference/src/main/scala/invertedIndex.scala:68-76)
    ("q01_pricing_summary",
      (s: SparkSession, dir: String) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
            davg(col("l_quantity")).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 6) AS avg_qty,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- predicate + column pushdown to the scan (SURVEY P1/P5 analog)
    ("q02_filter_project",
      (s: SparkSession, dir: String) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_quantity") < 25)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_quantity < 25
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- equi-join + agg (ref J2 shape, /root/reference/src/main/scala/
    // Query.scala:83-90). No broadcast hint: customer SCALES with the data
    // (unlike nation/region) — at 100 TB forcing a broadcast would OOM the
    // executors. Catalyst/AQE broadcasts it while it fits and switches to
    // shuffle join beyond the threshold.
    ("q03_join_agg",
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- multiway join through dims (TPC-H Q5 shape)
    ("q04_multiway_join",
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        val o  = t(s, dir, "orders")
        val c  = t(s, dir, "customer")
        val n  = t(s, dir, "nation")
        val r  = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .filter(r("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
      },
      Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // ---- left-semi join (the reference's ONE join, J1:
    // /root/reference/src/main/scala/pageRank.scala:143-211 — a tagged-key
    // MR semi-join; here it is a declarative left_semi)
    ("q05_semi_join",
      (s: SparkSession, dir: String) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        ORDER BY c_custkey""")),

    // ---- left-anti join. Against the 'P'-status orders only: every
    // customer has SOME order in the fixtures, so the unfiltered anti-join
    // verified 0 = 0 every round (VERDICT r4) — this predicate keeps the
    // result non-empty at every sf, so the anti path is hash-gated on
    // real rows.
    ("q06_anti_join",
      (s: SparkSession, dir: String) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_acctbal"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        ORDER BY c_custkey""")),

    // ---- left-outer join + two-level agg (TPC-H Q13 shape)
    ("q07_outer_join_hist",
      (s: SparkSession, dir: String) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey) t
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---- top-k (orderBy + limit; SURVEY §2.5 extension path)
    ("q08_topk",
      (s: SparkSession, dir: String) => {
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // ---- global sort (ref T1: range-partitioned total order replaces the
    // reference's per-partition MR sort, /root/reference/src/main/scala/pageRank.scala:233-238)
    ("q09_global_sort",
      (s: SparkSession, dir: String) => {
        t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
          .orderBy(desc("s_acctbal"), asc("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
        ORDER BY s_acctbal DESC, s_suppkey""")),

    // ---- distinct + exact count-distinct
    ("q10_count_distinct",
      (s: SparkSession, dir: String) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- window functions: ranking + partition total (SURVEY §2.8 ext)
    ("q11_window_rank",
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("s_nationkey"))
          .orderBy(desc("s_acctbal"), asc("s_suppkey"))
        t(s, dir, "supplier")
          .withColumn("rnk", row_number().over(w))
          .withColumn("nation_total",
            sum(col("s_acctbal").cast("decimal(18,2)"))
              .over(Window.partitionBy(col("s_nationkey"))).cast("double"))
          .filter(col("rnk") <= 3)
          .select(col("s_nationkey").cast("long").as("nationkey"), col("rnk").cast("long").as("rnk"),
            col("s_suppkey"), col("s_name"), col("s_acctbal"), col("nation_total"))
          .orderBy(col("nationkey"), col("rnk"))
      },
      Some("""SELECT CAST(s_nationkey AS BIGINT) AS nationkey, CAST(rnk AS BIGINT) AS rnk,
          s_suppkey, s_name, s_acctbal, nation_total FROM (
          SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
            ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rnk,
            CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) OVER (PARTITION BY s_nationkey) AS DOUBLE) AS nation_total
          FROM supplier) t
        WHERE rnk <= 3 ORDER BY nationkey, rnk""")),

    // ---- set ops (SURVEY §2.6: free via Catalyst)
    ("q12_intersect",
      (s: SparkSession, dir: String) => {
        val a = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
        val b = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
        a.intersect(b).orderBy(col("nationkey"))
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        ORDER BY nationkey""")),

    // (acctbal filter: suppliers cover all 25 nations in the fixtures, so
    // the unfiltered except verified 0 = 0 every round — restricting the
    // right side to top-balance suppliers keeps the difference non-empty
    // at every sf)
    ("q13_except",
      (s: SparkSession, dir: String) => {
        val a = t(s, dir, "nation").select(col("n_nationkey").cast("long").as("nationkey"))
        val b = t(s, dir, "supplier").filter(col("s_acctbal") > 9900)
          .select(col("s_nationkey").cast("long").as("nationkey"))
        a.except(b).orderBy(col("nationkey"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nationkey FROM nation
        EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier WHERE s_acctbal > 9900
        ORDER BY nationkey""")),

    // ---- scalar string/math functions (SURVEY §2.7 F1-F9)
    ("q14_scalar_funcs",
      (s: SparkSession, dir: String) => {
        t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("name_u"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 4).as("name_pfx"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          round(abs(col("p_retailprice") - lit(1000.0)), 2).as("absdiff"),
          floor(col("p_retailprice")).cast("long").as("price_floor"),
          round(log(col("p_retailprice") + lit(1.0)), 4).as("log_price"),
          round(sqrt(col("p_size").cast("double")), 4).as("sqrt_size"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, UPPER(p_name) AS name_u,
        CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        SUBSTR(p_name, 1, 4) AS name_pfx,
        p_brand || '|' || p_type AS cat,
        regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        ROUND(ABS(p_retailprice - 1000.0), 2) AS absdiff,
        CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        ROUND(LN(p_retailprice + 1.0), 4) AS log_price,
        ROUND(SQRT(CAST(p_size AS DOUBLE)), 4) AS sqrt_size
        FROM part ORDER BY p_partkey""")),

    // ---- date/time functions over timestamps
    ("q15_date_funcs",
      (s: SparkSession, dir: String) => {
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("value"))
          .orderBy(col("yr"), col("mo"))
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
        FROM orders GROUP BY 1, 2 ORDER BY yr, mo""")),

    // ---- group + HAVING (ref P5 df-cutoff analog,
    // /root/reference/src/main/scala/invertedIndex.scala:93-94)
    ("q16_having",
      (s: SparkSession, dir: String) => {
        t(s, dir, "part")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), davg(col("p_retailprice")).as("avg_price"))
          .filter(col("n") >= 5)
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, COUNT(*) AS n,
        ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(p_retailprice), 6) AS avg_price
        FROM part GROUP BY p_brand HAVING COUNT(*) >= 5 ORDER BY p_brand""")),

    // ---- conditional aggregation (pivot-style)
    ("q17_conditional_agg",
      (s: SparkSession, dir: String) => {
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
            sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
            sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
            sum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(lit(0.0))
              .cast("decimal(18,2)")).cast("double").as("open_value"))
          .orderBy(col("yr"))
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS open_value
        FROM orders GROUP BY 1 ORDER BY yr""")),

    // ---- rollup / grouping sets
    ("q18_rollup",
      (s: SparkSession, dir: String) => {
        t(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"), col("qty"))
          .orderBy(col("rf"), col("ls"))
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        COALESCE(l_linestatus, 'ALL') AS ls, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rf, ls""")),

    // ---- explicit GROUPING SETS (the third of the trio with rollup/cube;
    // Spark 4's Dataset.groupingSets): per-status totals, per-priority
    // totals, and the grand total in ONE Expand pass over one scan —
    // the COALESCE('ALL') sentinel makes the NULL grouping markers
    // order-stable across engines
    ("q58_grouping_sets",
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        o.groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority"))
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")),

    // ---- CUBE: all 2^k grouping combinations in ONE pass (Spark expands
    // grouping sets inside a single Expand + partial agg — no multi-scan
    // UNION ALL, which is what a hand-rolled version would cost at 100 TB).
    // grouping() disambiguates a genuine NULL group key from a superset row.
    ("q28_cube",
      (s: SparkSession, dir: String) => {
        t(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
            (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
              .cast("long").as("gid"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("gid"), col("n"), col("qty"))
          .orderBy(col("gid"), col("rf"), col("ls"))
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        COALESCE(l_linestatus, 'ALL') AS ls,
        CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls""")),

    // ---- skew-salted join (core/Skew): l_orderkey % 10 concentrates 600k
    // rows on 10 keys; the salted join routes each hot key over 8 reduce
    // buckets. Salting is pure routing, so the oracle is the PLAIN join.
    ("q19_skew_salted_join",
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
          .select((col("l_orderkey") % 10).cast("long").as("k"), col("l_quantity"))
        val dim = t(s, dir, "nation")
          .filter(col("n_nationkey") < 10)
          .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
        graft.core.Skew.saltedJoin(li, dim, "k", saltFactor = 8)
          .groupBy(col("k"), col("n_name"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy(col("k"))
      },
      Some("""SELECT l_orderkey % 10 AS k, n_name, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem JOIN nation ON n_nationkey = l_orderkey % 10
        WHERE n_nationkey < 10
        GROUP BY 1, 2 ORDER BY k""")),

    // ---- relational pivot (Dataset.pivot with explicit value list — the
    // list keeps the plan static; dynamic pivot would scan twice)
    ("q27_pivot",
      (s: SparkSession, dir: String) => {
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy(col("yr"))
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "F",
        CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "O",
        CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "P"
        FROM orders GROUP BY 1 ORDER BY yr""")),

    // ---- the plain-SQL entry path: spark.sql over registered views
    // (serve/Serving.registerViews) — same ANSI text runs on both engines
    ("q26_sql_api",
      (s: SparkSession, dir: String) => {
        graft.serve.Serving.registerViews(s, dir)
        s.sql("""SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
          CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          COUNT(*) AS n
          FROM lineitem
          WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
          GROUP BY 1 ORDER BY yr""")
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
        CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n
        FROM lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        GROUP BY 1 ORDER BY yr""")),

    // ---- correlated EXISTS / NOT EXISTS through the SQL surface.
    // Catalyst DECORRELATES both subqueries into a left-semi and a
    // left-anti hash join against `orders` (same shuffle shape as
    // q05/q06's explicit joins — no per-row re-execution), which is
    // exactly what makes the construct usable at 100 TB: the predicate
    // pair costs two hash joins on o_custkey, not |customer| probes.
    ("q68_exists_subquery",
      (s: SparkSession, dir: String) => {
        graft.serve.Serving.registerViews(s, dir)
        s.sql("""SELECT c_custkey, c_name, c_acctbal FROM customer c
          WHERE EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
            AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        ORDER BY c_custkey""")),

    // ---- exact per-group quartiles (percentile = sort-based exact with
    // linear interpolation at rank p*(n-1) — the same definition as ANSI
    // percentile_cont). l_quantity is integer-valued, so the interpolated
    // quartiles land on exact binary fractions (k/4) and cross-engine
    // equality is bitwise; the floor-rounding is belt-and-braces. At
    // 100 TB exact percentiles are a single sort-based aggregate per
    // group; the approximate path (percentile_approx / t-digest) trades
    // that for a mergeable sketch when groups get billion-row wide.
    ("q71_group_percentiles",
      (s: SparkSession, dir: String) => {
        val r4 = (c: org.apache.spark.sql.Column) => floor(c * 1e4 + 0.5) / 1e4
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"),
            year(col("l_shipdate")).cast("long").as("yr"))
          .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("q"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("yr"),
            r4(element_at(col("q"), 1)).as("p25"),
            r4(element_at(col("q"), 2)).as("p50"),
            r4(element_at(col("q"), 3)).as("p75"),
            col("n"))
          .orderBy(col("l_returnflag"), col("yr"))
      },
      Some("""SELECT l_returnflag,
          CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
          floor(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) * 10000.0 + 0.5) / 10000.0 AS p25,
          floor(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) * 10000.0 + 0.5) / 10000.0 AS p50,
          floor(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) * 10000.0 + 0.5) / 10000.0 AS p75,
          COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, yr""")),

    // ---- CSV serde round-trip: to_csv(struct) → from_csv(schema) must be
    // the identity on simple types, verified by aggregating the
    // round-tripped rows against the oracle's DIRECT aggregation of the
    // source table — a mis-parse (wrong column order, locale decimal,
    // lossy double) breaks the hash. This is the ingest-side serde
    // surface: both directions run as codegen'd expressions, so a
    // CSV-shaped ingest is a map-only pass at any scale.
    ("q81_csv_roundtrip",
      (s: SparkSession, dir: String) => {
        val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        val schema = "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING"
        t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
          .select(to_csv(struct(cols.map(col): _*)).as("line"))
          .select(from_csv(col("line"), lit(schema),
            new java.util.HashMap[String, String]()).as("r"))
          .select(cols.map(c => col(s"r.$c").as(c)): _*)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            sum(col("l_orderkey")).as("sum_key"),
            sum(col("l_linenumber")).cast("long").as("sum_line"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
          CAST(SUM(l_linenumber) AS BIGINT) AS sum_line
        FROM lineitem WHERE l_orderkey % 100 = 0
        GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- JSON serde round-trip: to_json(struct) → from_json(schema),
    // same identity-under-aggregation gate as q81. JSON is the wire
    // format of the event feeds (q52 extracts from it); this pins the
    // producer side too.
    ("q82_json_roundtrip",
      (s: SparkSession, dir: String) => {
        val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING"
        t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
          .select(to_json(struct(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderstatus"))).as("js"))
          .select(from_json(col("js"), lit(schema),
            new java.util.HashMap[String, String]()).as("r"))
          .select(col("r.o_orderkey").as("o_orderkey"),
            col("r.o_custkey").as("o_custkey"),
            col("r.o_totalprice").as("o_totalprice"),
            col("r.o_orderstatus").as("o_orderstatus"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("sum_price"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        FROM orders WHERE o_orderkey % 50 = 0
        GROUP BY 1 ORDER BY o_orderstatus""")),

    // ---- ORC sink + source round-trip: parquet → ORC files → read back
    // with a filter, aggregate. Completes the columnar-format surface
    // (parquet native, CSV/JSON via q81/q82 expressions, ORC here as real
    // files). The read-back filter sits directly on the ORC scan so ORC's
    // predicate pushdown + column pruning engage (same Catalyst path as
    // parquet); the oracle runs the identical filter+aggregate on the
    // source parquet, so any serde loss (timestamp precision, double
    // rounding, string escaping) breaks the hash. The write is a one-pass
    // map-only job at any scale.
    ("q85_orc_roundtrip",
      (s: SparkSession, dir: String) => {
        val out = scratchDir("graft_q85_orc_")
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"), col("o_orderdate"))
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .filter(col("o_totalprice") > 150000.0)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("sum_price"),
            sum(col("o_custkey")).as("sum_cust"),
            min(year(col("o_orderdate")).cast("long")).as("min_yr"),
            max(year(col("o_orderdate")).cast("long")).as("max_yr"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
          CAST(MIN(EXTRACT(YEAR FROM o_orderdate)) AS BIGINT) AS min_yr,
          CAST(MAX(EXTRACT(YEAR FROM o_orderdate)) AS BIGINT) AS max_yr
        FROM orders WHERE o_totalprice > 150000.0
        GROUP BY 1 ORDER BY o_orderstatus""")),

    // ---- SCHEMA-EVOLUTION read (mergeSchema): two parquet snapshots of
    // the same table written at different schema versions — v1 without
    // `o_orderstatus`, v2 with it (the additive-column evolution every
    // long-lived 100 TB dataset accumulates) — read back through ONE
    // mergeSchema scan; v1 rows surface the evolved column as NULL and
    // the report accounts for exactly which mass predates the column.
    // Snapshots land in a per-invocation temp dir (the q85 rule:
    // concurrent harness runs must not overwrite each other's input);
    // the oracle replays the union semantics directly on `orders`
    // (mergeSchema is Spark's reader mechanics; the RESULT is fully
    // determined by the two projections, which is what the gate checks).
    //
    // Scale: mergeSchema unifies footer schemas at planning time; the
    // scan itself stays one pass with column pruning per file version —
    // no rewrite of historical snapshots to add a column.
    ("q203_schema_evolution",
      (s: SparkSession, dir: String) => {
        val out = scratchDir("graft_q203_evo_")
        val base = t(s, dir, "orders")
        base.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/v1")
        base.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .write.mode("overwrite").parquet(s"$out/v2")
        s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
          .groupBy(coalesce(col("o_orderstatus"), lit("<pre-evolution>"))
            .as("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("sum_price"),
            sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
              .as("n_null_status"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH u AS (
          SELECT o_orderkey, o_custkey, o_totalprice,
            CAST(NULL AS VARCHAR) AS o_orderstatus
          FROM orders WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 2 = 1)
        SELECT COALESCE(o_orderstatus, '<pre-evolution>') AS o_orderstatus,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price,
          CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_status
        FROM u GROUP BY 1 ORDER BY o_orderstatus""")),

    // ---- CDC upsert (MERGE): apply a change batch — updates (price bump,
    // status 'U') and inserts (re-keyed onto the 10^12 grid, status 'N') —
    // to the orders table via graft.maintenance.Upsert, then aggregate the
    // merged state. The batch is DERIVED from orders so matched and
    // unmatched rows both exist by construction and the gate verifies both
    // paths (replaced rows must not double-count; inserts must survive).
    // Scale: Upsert broadcasts the batch's key set, so the pass over the
    // 100 TB target is a map-only broadcast anti join — no target shuffle.
    ("q86_cdc_upsert",
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        val upd = base.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
          .withColumn("o_orderstatus", lit("U"))
        val ins = base.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + expr("7000000000000L")).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit("N").as("o_orderstatus"))
        graft.maintenance.Upsert(base, upd.unionByName(ins), Seq("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("sum_price"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
        upd AS (SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
            'U' AS o_orderstatus FROM base WHERE o_orderkey % 97 = 0),
        ins AS (SELECT o_orderkey + 7000000000000 AS o_orderkey, o_custkey,
            o_totalprice, 'N' AS o_orderstatus FROM base WHERE o_orderkey % 101 = 0),
        src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        merged AS (
          SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
          UNION ALL SELECT * FROM src)
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        FROM merged GROUP BY 1 ORDER BY o_orderstatus""")),

    // ---- z-order (Morton) layout: interleave (l_partkey, l_suppkey) into
    // a 32-bit z-value and report the per-z-range min/max rectangle of
    // both dimensions — exactly the zone-map statistics a z-clustered
    // file layout gives the scan planner. The gate pins the bit-interleave
    // arithmetic against the oracle's identical shift/mask chain; the
    // rectangles being BOUNDED in both dims (unlike a single-column sort,
    // which is unbounded in the other dim) is what makes 2-D data skipping
    // work at 100 TB — see core/ZOrder.scala and LayoutToolsSpec for the
    // skipping-quality property. Bucketing by z >> 16 is a pure map
    // (no global sort needed to measure layout quality); the actual
    // rewrite would `repartitionByRange(zvalue)` + sortWithinPartitions.
    ("q87_zorder_layout",
      (s: SparkSession, dir: String) => {
        import graft.core.ZOrder
        t(s, dir, "lineitem")
          .select((col("l_partkey") % 65536).as("x"),
            (col("l_suppkey") % 65536).as("y"))
          .withColumn("z", ZOrder.zvalue16(col("x"), col("y")))
          .groupBy(shiftright(col("z"), 16).as("zbucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y"))
          .orderBy(col("zbucket"))
      },
      Some(s"""WITH c AS (SELECT (l_partkey % 65536) AS x, (l_suppkey % 65536) AS y
            FROM lineitem),
          z AS (SELECT x, y, ${graft.core.ZOrder.sqlZvalue16("x", "y")} AS z FROM c)
          SELECT (z >> 16) AS zbucket, COUNT(*) AS n,
            MIN(x) AS min_x, MAX(x) AS max_x,
            MIN(y) AS min_y, MAX(y) AS max_y
          FROM z GROUP BY 1 ORDER BY zbucket""")),

    // ---- SCD2 historization: three derived snapshot versions of a key
    // subset of orders (price drifts per version) collapsed into
    // [valid_from, valid_to) interval rows with a current flag —
    // maintenance.Scd2's single-window formulation (no version-to-
    // successor self-join). The key subset (o_orderkey % 499 == 0) keeps
    // the gate output small while all three version shapes (start, middle,
    // open-ended current) occur by construction.
    ("q93_scd2_history",
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "orders").filter(col("o_orderkey") % 499 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val snaps = base.select(col("o_orderkey"), lit(1L).as("version"),
            col("o_totalprice").as("price"))
          .unionByName(base.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), lit(2L).as("version"),
              (col("o_totalprice") + lit(1.0)).as("price")))
          .unionByName(base.filter(col("o_orderkey") % 4 === 0)
            .select(col("o_orderkey"), lit(3L).as("version"),
              (col("o_totalprice") + lit(2.0)).as("price")))
        graft.maintenance.Scd2.historize(snaps, Seq("o_orderkey"), col("version"))
          .select(col("o_orderkey"), col("valid_from"),
            coalesce(col("valid_to"), lit(0L)).as("valid_to"),
            col("is_current"), col("price"))
          .orderBy(col("o_orderkey"), col("valid_from"))
      },
      Some("""WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey % 499 = 0),
        snaps AS (
          SELECT o_orderkey, 1 AS version, o_totalprice AS price FROM base
          UNION ALL
          SELECT o_orderkey, 2, o_totalprice + 1.0 FROM base WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, 3, o_totalprice + 2.0 FROM base WHERE o_orderkey % 4 = 0),
        h AS (SELECT o_orderkey, CAST(version AS BIGINT) AS valid_from,
            CAST(lead(version) OVER (PARTITION BY o_orderkey ORDER BY version)
              AS BIGINT) AS valid_to,
            price
          FROM snaps)
        SELECT o_orderkey, valid_from, COALESCE(valid_to, 0) AS valid_to,
          (valid_to IS NULL) AS is_current, price
        FROM h ORDER BY o_orderkey, valid_from""")),

    // ---- mergeable histogram quantiles: the promised SCALE path for q71
    // (exact percentile() needs per-group sorted values; a fixed-bin
    // histogram is additive, so billion-row groups reduce to a bin-count
    // vector via ordinary partial aggregation, and the quantile is read
    // off the cumulative counts). l_quantity is integral in [1, 50], so
    // bin = floor(qty) makes the estimate deterministic integer arithmetic
    // — the gate pins the whole cumulative-read-off, engine-exactly.
    // p_q = smallest bin with cum ≥ ceil(q·total), via the
    // multiply-through form (4·cum ≥ q·4·total avoids any float).
    ("q94_histogram_quantile",
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), floor(col("l_quantity")).as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(w))
          .withColumn("total", sum(col("cnt")).over(
            Window.partitionBy(col("l_returnflag"))))
          .groupBy(col("l_returnflag"))
          .agg(min(when(col("cum") * 4 >= col("total"), col("bin"))).as("p25"),
            min(when(col("cum") * 2 >= col("total"), col("bin"))).as("p50"),
            min(when(col("cum") * 4 >= col("total") * 3, col("bin"))).as("p75"),
            max(col("total")).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH b AS (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS bin,
            COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2),
        c AS (SELECT l_returnflag, bin, cnt,
            CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
            CAST(SUM(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
          FROM b)
        SELECT l_returnflag,
          MIN(CASE WHEN cum * 4 >= total THEN bin END) AS p25,
          MIN(CASE WHEN cum * 2 >= total THEN bin END) AS p50,
          MIN(CASE WHEN cum * 4 >= total * 3 THEN bin END) AS p75,
          MAX(total) AS n
        FROM c GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- statistical aggregates from EXACT integer moments: per-group
    // Pearson correlation and OLS slope/intercept of price vs quantity.
    // Spark's native corr()/regr_slope() accumulate in float — partition-
    // order-dependent and engine-divergent — so the operator quantizes
    // both variables to their natural cent grid (floor(v·100+0.5), exact
    // in both engines), aggregates six EXACT sums (decimal(38,0) /
    // hugeint — Σx² of a cent-scaled price overflows int64 at 100 TB row
    // counts, so the wide type is the scale-correct choice, not caution),
    // and evaluates the closed forms with ONE double conversion at the
    // end. The moments are ordinary partial aggregates — map-side
    // combined, mergeable across any partitioning, same as q94's bins.
    ("q97_group_stats",
      (s: SparkSession, dir: String) => {
        val r6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
        val dec = "decimal(38,0)"
        val x = floor(col("l_quantity") * 100 + lit(0.5))
        val y = floor(col("l_extendedprice") * 100 + lit(0.5))
        val d = (c: Column) => c.cast("double")
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), x.as("x"), y.as("y"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(dec)).as("sx"),
            sum(col("y").cast(dec)).as("sy"),
            sum((col("x") * col("x")).cast(dec)).as("sxx"),
            sum((col("y") * col("y")).cast(dec)).as("syy"),
            sum((col("x") * col("y")).cast(dec)).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            d(col("n").cast(dec) * col("sxy") - col("sx") * col("sy")).as("cov"),
            d(col("n").cast(dec) * col("sxx") - col("sx") * col("sx")).as("varx"),
            d(col("n").cast(dec) * col("syy") - col("sy") * col("sy")).as("vary"),
            d(col("sx")).as("dsx"), d(col("sy")).as("dsy"), d(col("n")).as("dn"))
          // zero-variance guard: a constant-x (or constant-y / n=1) group
          // would divide by 0, and Spark's NaN/Infinity vs DuckDB's
          // division-by-zero semantics diverge — both engines emit NULL
          .select(col("l_returnflag"), col("n"),
            when(col("varx") > 0 && col("vary") > 0,
              r6(col("cov") / sqrt(col("varx") * col("vary"))))
              .as("corr_qty_price"),
            when(col("varx") > 0, r6(col("cov") / col("varx")))
              .as("slope_cents"),
            when(col("varx") > 0,
              r6((col("dsy") - col("cov") / col("varx") * col("dsx")) / col("dn")))
              .as("intercept_cents"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH q AS (SELECT l_returnflag,
            CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
            CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
          FROM lineitem),
        m AS (SELECT l_returnflag, COUNT(*) AS n,
            SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
          FROM q GROUP BY 1),
        v AS (SELECT l_returnflag, n,
            CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
            CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
            CAST(n * syy - sy * sy AS DOUBLE) AS vary,
            CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
            CAST(n AS DOUBLE) AS dn
          FROM m)
        SELECT l_returnflag, n,
          CASE WHEN varx > 0 AND vary > 0 THEN
            floor(cov / sqrt(varx * vary) * 1000000.0 + 0.5) / 1000000.0
          END AS corr_qty_price,
          CASE WHEN varx > 0 THEN
            floor(cov / varx * 1000000.0 + 0.5) / 1000000.0
          END AS slope_cents,
          CASE WHEN varx > 0 THEN
            floor((dsy - cov / varx * dsx) / dn * 1000000.0 + 0.5) / 1000000.0
          END AS intercept_cents
        FROM v ORDER BY l_returnflag""")),

    // ---- point-in-time (as-of-version) lookup against the SCD2 history —
    // the feature-store correctness query q93's historization exists FOR:
    // "what did this record look like at version V" with a per-row V, so
    // training features can never leak the future. Equi-join on the key,
    // interval-containment filter after (open-ended current rows match
    // via NULL valid_to) — on a key-bucketed history this co-locates; the
    // history side is versions-per-key small, so the join never explodes.
    ("q101_pit_lookup",
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "orders").filter(col("o_orderkey") % 499 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val snaps = base.select(col("o_orderkey"), lit(1L).as("version"),
            col("o_totalprice").as("price"))
          .unionByName(base.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), lit(2L).as("version"),
              (col("o_totalprice") + lit(1.0)).as("price")))
          .unionByName(base.filter(col("o_orderkey") % 4 === 0)
            .select(col("o_orderkey"), lit(3L).as("version"),
              (col("o_totalprice") + lit(2.0)).as("price")))
        val hist = graft.maintenance.Scd2.historize(
          snaps, Seq("o_orderkey"), col("version"))
        val lookup = base.select(col("o_orderkey"),
          (lit(1L) + col("o_orderkey") % 3).as("at_version"))
        lookup.join(hist, Seq("o_orderkey"))
          .filter(col("valid_from") <= col("at_version") &&
            (col("valid_to").isNull || col("valid_to") > col("at_version")))
          .select(col("o_orderkey"), col("at_version"),
            col("valid_from").as("resolved_version"), col("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey % 499 = 0),
        snaps AS (
          SELECT o_orderkey, 1 AS version, o_totalprice AS price FROM base
          UNION ALL
          SELECT o_orderkey, 2, o_totalprice + 1.0 FROM base WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, 3, o_totalprice + 2.0 FROM base WHERE o_orderkey % 4 = 0),
        h AS (SELECT o_orderkey, CAST(version AS BIGINT) AS valid_from,
            CAST(lead(version) OVER (PARTITION BY o_orderkey ORDER BY version)
              AS BIGINT) AS valid_to,
            price
          FROM snaps),
        lk AS (SELECT o_orderkey, 1 + o_orderkey % 3 AS at_version FROM base)
        SELECT lk.o_orderkey, lk.at_version,
          h.valid_from AS resolved_version, h.price
        FROM lk JOIN h ON lk.o_orderkey = h.o_orderkey
        WHERE h.valid_from <= lk.at_version
          AND (h.valid_to IS NULL OR h.valid_to > lk.at_version)
        ORDER BY lk.o_orderkey""")),

    // ---- data-quality TABLE PROFILE (the Deequ-style contract check a
    // pipeline runs before trusting an input drop): per column of
    // lineitem — row count, null count, exact distinct count, min, max —
    // assembled in one multi-aggregate row per BUFFER FAMILY (see the
    // in-code note on why mixing var-length buffers into the
    // count-distinct Expand is a measured 3× trap) unpivoted with
    // `stack`, so adding a column adds expressions, not passes. The
    // profile covers ALL column families (VERDICT r12 #4): numeric
    // min/max stay DOUBLE (no cross-engine decimal-formatting hazard),
    // string min/max ride a parallel (min_s, max_s) string pair, and
    // timestamp min/max are rendered on the canonical
    // 'yyyy-MM-dd HH:mm:ss' grid both engines format identically —
    // each family NULLs the other family's slots. Exact distinct per
    // column is the fixture-scale choice; the documented scale path is
    // the KMV sketch (q107/q137) per column — same single-scan shape,
    // bounded state. At 100 TB: one combinable pass; the expand for N
    // exact count-distincts is the only cost that grows with column
    // count, which is precisely what the sketch swap (q140) removes.
    ("q139_table_profile",
      (s: SparkSession, dir: String) =>
        liProfile(t(s, dir, "lineitem")).orderBy(col("column_name")),
      Some(liProfileSql("lineitem") +
        "\n          ORDER BY column_name")),

    // ---- the profile's SCALE PATH made real (not just documented):
    // q139's exact per-column count-distincts expand the scan ×N columns;
    // this variant swaps each for a per-column KMV sketch
    // ([[graft.functions.KmvSketchNullSafe]] through `functions.udaf`, so
    // the typed Aggregator rides an ordinary untyped agg — bounded
    // ≤ k-long state per column, map-side combined, NO expand, NULL keys
    // skipped). One scan, one sketch per column of EVERY family
    // (integer, double, string, timestamp) in a single aggregate row;
    // the estimator and the sketch internals ride together so the gate
    // pins both. Exact min/max live in q139 (the same scan shape); this
    // query is the distinct-cardinality swap. At 100 TB the cost is one
    // combinable pass regardless of column count. Measured at sf0.1 the
    // two are at parity: the sketch's win is SHUFFLE-bound (bounded
    // buffers vs ×N rows into dedup HashAggregates) and the fixture is
    // CPU-bound on the portable md5 hash the oracle requires —
    // production would swap in codegen'd xxhash64, identical shape.
    ("q140_profile_sketched",
      (s: SparkSession, dir: String) => {
        val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val dblCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val strCols = Seq("l_returnflag", "l_linestatus")
        val tsCols = Seq("l_shipdate")
        val cols = numCols ++ strCols ++ tsCols
        // Null-skipping sketch (ADVICE r12): a NULL column value reaches
        // the udaf as a NULL (boxed) key and contributes nothing —
        // mirroring the oracle's WHERE c IS NOT NULL — instead of
        // poisoning a primitive-Long Aggregator. The profile reports
        // nulls in q139's n_null; the sketch counts VALUES.
        val kmv = udaf(new graft.functions.KmvSketchNullSafe(64),
          org.apache.spark.sql.Encoders.LONG)
        // Canonical hash keys (VERDICT r12 #4 — the boundary the old
        // comment only documented): integer/string columns hash their
        // exact text; DOUBLE columns hash the CENT-GRID integer
        // floor(x*100 + 0.5) — IEEE-identical in both engines and free
        // of Java's 1e7 scientific-notation rendering divergence, for
        // any |x| < 2^63/100; timestamps hash the canonical
        // 'yyyy-MM-dd HH:mm:ss' rendering. The gate EXERCISES the >=1e7
        // branch: one extreme row (doubles in the 1e7..2e10 range, where
        // Spark would render 9.87654321E7 but DuckDB 98765432.1) is
        // planted identically on both sides.
        def key(c: String): org.apache.spark.sql.Column =
          if (dblCols.contains(c))
            hash32(expr(s"floor($c * 100 + 0.5)").cast("string"))
          else if (tsCols.contains(c))
            hash32(date_format(col(c), "yyyy-MM-dd HH:mm:ss"))
          else hash32(col(c).cast("string"))
        val aggs = cols.map(c => kmv(key(c)).as(s"${c}_sk"))
        val stackExpr = cols.map(c =>
          s"'$c', ${c}_sk.n_sketch, ${c}_sk.kth_min")
          .mkString(s"stack(${cols.size}, ", ", ",
            ") as (column_name, n_sketch, kth_min)")
        val planted = s.sql(
          """SELECT 99000001234567L AS l_orderkey, 2147483647L AS l_partkey,
               1L AS l_suppkey, 7 AS l_linenumber,
               CAST(12345678.25 AS DOUBLE) AS l_quantity,
               CAST(98765432.105 AS DOUBLE) AS l_extendedprice,
               CAST(10000000.005 AS DOUBLE) AS l_discount,
               CAST(-20000000.015 AS DOUBLE) AS l_tax,
               'Z' AS l_returnflag, 'Z' AS l_linestatus,
               TIMESTAMP '2099-12-31 00:00:00' AS l_shipdate""")
        t(s, dir, "lineitem").select(cols.map(col): _*)
          .unionByName(planted.select(cols.map(col): _*))
          .agg(aggs.head, aggs.tail: _*)
          .select(expr(stackExpr))
          .withColumn("est_distinct",
            when(col("n_sketch") < 64, col("n_sketch").cast("double"))
              .otherwise(lit(63.0 * 4294967296.0) / col("kth_min")))
          .select(col("column_name"), col("n_sketch"), col("kth_min"),
            col("est_distinct"))
          .orderBy(col("column_name"))
      },
      Some {
        val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val dblCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val cols = numCols ++ Seq("l_returnflag", "l_linestatus", "l_shipdate")
        def keySql(c: String) =
          if (dblCols.contains(c)) s"CAST(CAST(floor($c * 100 + 0.5) AS BIGINT) AS VARCHAR)"
          else if (c == "l_shipdate") s"strftime($c, '%Y-%m-%d %H:%M:%S')"
          else s"CAST($c AS VARCHAR)"
        val rows = cols.map(c =>
          s"""SELECT '$c' AS column_name, n_sketch, kth_min,
            CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
                 ELSE 63.0 * 4294967296.0 / kth_min END AS est_distinct
          FROM (SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_min FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rk FROM (
              SELECT DISTINCT ('0x' || substr(md5(${keySql(c)}), 1, 8))::BIGINT AS h
              FROM aug WHERE $c IS NOT NULL)) WHERE rk <= 64)""")
          .mkString("", "\n          UNION ALL ", "\n          ORDER BY column_name")
        s"""WITH aug AS (
          SELECT ${cols.mkString(", ")} FROM lineitem
          UNION ALL
          SELECT 99000001234567, 2147483647, 1, 7,
            CAST(12345678.25 AS DOUBLE), CAST(98765432.105 AS DOUBLE),
            CAST(10000000.005 AS DOUBLE), CAST(-20000000.015 AS DOUBLE),
            'Z', 'Z', TIMESTAMP '2099-12-31 00:00:00')
        $rows"""
      }),

    // ---- BENFORD first-digit audit (Newcomb 1881 / Benford 1938): the
    // classic fabricated-or-truncated-data smell test on a monetary
    // column — naturally-grown multiplicative amounts follow
    // P(d) = log₁₀(1 + 1/d); a synthetic-uniform or clipped feed
    // deviates loudly. The profile family's forensic sibling (q139
    // checks contract, q143 checks drift, this checks PLAUSIBILITY).
    // The first significant digit is taken from the exact cents-grid
    // integer (floor(x·100 + 0.5), positive amounts) via its decimal
    // string — integer-to-string never enters scientific notation in
    // either engine, killing the 1e7-rendering hazard q140 designs
    // around. Observed shares are integer ‱; the expected share is the
    // ONE gridded transcendental, floor(log10(1 + 1/d)·10⁴ + 0.5),
    // written as the identical expression in both engines (every value
    // sits ≥ 0.07 grid-units from a boundary — ulp-level log10
    // disagreement cannot move it). Zero-count digits are grid-filled.
    //
    // Scale: ONE combinable (digit) count over the scan; everything
    // after runs on 9 rows.
    ("q236_benford_audit",
      (s: SparkSession, dir: String) => {
        val dc = t(s, dir, "lineitem")
          .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
            .as("c"))
          .filter(col("c") > 0L)
          .select(substring(col("c").cast("string"), 1, 1).cast("long")
            .as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
        val digits = s.range(1, 10).select(col("id").as("digit"))
        val grid = digits.join(dc, Seq("digit"), "left_outer")
          .select(col("digit"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        grid.crossJoin(broadcast(grid.agg(sum(col("cnt")).as("n"))))
          .select(col("digit"), col("cnt"), col("n"),
            expr("cnt * 10000 div n").as("obs4"),
            floor(log10(lit(1.0) + lit(1.0) / col("digit"))
              * 1e4 + 0.5).cast("long").as("exp4"))
          .select(col("digit"), col("cnt"), col("n"), col("obs4"),
            col("exp4"), (col("obs4") - col("exp4")).as("dev4"))
          .orderBy(col("digit"))
      },
      Some("""WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
            AS BIGINT) AS c
          FROM lineitem WHERE floor(l_extendedprice * 100 + 0.5) > 0),
        dc AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
            AS digit, COUNT(*) AS cnt
          FROM c GROUP BY 1),
        digits AS (SELECT unnest(range(1, 10)) AS digit),
        grid AS (SELECT digits.digit, COALESCE(dc.cnt, 0) AS cnt
          FROM digits LEFT JOIN dc ON dc.digit = digits.digit),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM grid)
        SELECT CAST(grid.digit AS BIGINT) AS digit, grid.cnt, tot.n,
          grid.cnt * 10000 // tot.n AS obs4,
          CAST(floor(log10(1.0 + 1.0 / grid.digit) * 1e4 + 0.5) AS BIGINT)
            AS exp4,
          grid.cnt * 10000 // tot.n
            - CAST(floor(log10(1.0 + 1.0 / grid.digit) * 1e4 + 0.5)
              AS BIGINT) AS dev4
        FROM grid CROSS JOIN tot ORDER BY digit""")),

    // ---- schema/distribution DRIFT report: profile the trusted BASE
    // table and an incoming CANDIDATE drop ([[liProfile]] twice — the
    // operator the q139 contract check exists to feed), diff per column,
    // and flag actionable drift: a null-rate jump (>2× relative, or
    // nulls appearing where there were none — integer cross-
    // multiplication, no float ratios), a value-range escape (numeric
    // min/max outside the base envelope; string/timestamp via the
    // canonical min_s/max_s rendering), and the distinct-count delta.
    // The fixture has no second drop, so the candidate is DERIVED with
    // planted drift, identically on both sides: ~1% rows missing
    // (truncated delivery), l_tax nulled on the %13 stripe, a +50,000
    // price shift on the %3 stripe, and a new 'X' return-flag category
    // on the %11 stripe. At 100 TB: two profile runs (each two
    // combinable single-row passes) + an 11-row join — profile cost, not
    // data cost, and the two drops can be profiled on different days
    // (the base profile is a persistable artifact).
    ("q143_profile_drift",
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "lineitem")
        val cand = driftCandidate(base)
        val b = liProfile(base)
        val n = liProfile(cand)
        b.select(col("column_name"), col("n_rows").as("n_rows_base"),
            col("n_null").as("n_null_base"), col("n_distinct").as("n_distinct_base"),
            col("min_v").as("min_v_base"), col("max_v").as("max_v_base"),
            col("min_s").as("min_s_base"), col("max_s").as("max_s_base"))
          .join(n.select(col("column_name"), col("n_rows").as("n_rows_new"),
            col("n_null").as("n_null_new"), col("n_distinct").as("n_distinct_new"),
            col("min_v").as("min_v_new"), col("max_v").as("max_v_new"),
            col("min_s").as("min_s_new"), col("max_s").as("max_s_new")),
            Seq("column_name"))
          .withColumn("null_flag",
            (col("n_null_new") > 0 && col("n_null_base") === 0) ||
              col("n_null_new") * col("n_rows_base") >
                col("n_null_base") * col("n_rows_new") * 2)
          .withColumn("range_flag",
            coalesce(col("min_v_new") < col("min_v_base"), lit(false)) ||
              coalesce(col("max_v_new") > col("max_v_base"), lit(false)) ||
              coalesce(col("min_s_new") < col("min_s_base"), lit(false)) ||
              coalesce(col("max_s_new") > col("max_s_base"), lit(false)))
          .withColumn("distinct_delta",
            col("n_distinct_new") - col("n_distinct_base"))
          .select(col("column_name"), col("n_rows_base"), col("n_rows_new"),
            col("n_null_base"), col("n_null_new"), col("null_flag"),
            col("distinct_delta"), col("range_flag"))
          .orderBy(col("column_name"))
      },
      Some(s"""WITH $driftCandidateSql,
        pb AS (${liProfileSql("lineitem")}),
        pn AS (${liProfileSql("cand")})
        SELECT pb.column_name,
          pb.n_rows AS n_rows_base, pn.n_rows AS n_rows_new,
          pb.n_null AS n_null_base, pn.n_null AS n_null_new,
          ((pn.n_null > 0 AND pb.n_null = 0) OR
           pn.n_null * pb.n_rows > pb.n_null * pn.n_rows * 2) AS null_flag,
          pn.n_distinct - pb.n_distinct AS distinct_delta,
          (COALESCE(pn.min_v < pb.min_v, FALSE) OR
           COALESCE(pn.max_v > pb.max_v, FALSE) OR
           COALESCE(pn.min_s < pb.min_s, FALSE) OR
           COALESCE(pn.max_s > pb.max_s, FALSE)) AS range_flag
        FROM pb JOIN pn ON pn.column_name = pb.column_name
        ORDER BY pb.column_name""")),

    // ---- JOIN-KEY OVERLAP estimation from KMV sketches (Beyer et al.'s
    // set-operation estimator — the planner aide that answers "how many
    // customer keys actually appear in orders?" WITHOUT running the
    // join): per side, the k smallest distinct key hashes
    // ([[graft.functions.KmvSketchValues]], k = 256, bounded mergeable
    // state); the union sketch is the k smallest of the merged sets
    // (exactly how KMV composes, q137's proven merge), and the
    // intersection estimate is the classic ρ·Û — the fraction of union-
    // sketch members present in BOTH side sketches, scaled by the union
    // estimate. When the union sketch is UNDERFULL (|M| < k) it IS the
    // exact distinct union and ρ·Û degrades gracefully to the exact
    // intersection — the sf0.001 fixture exercises that branch, sf0.01+
    // the estimator branch. Exact counts ride along so the gate pins
    // estimator AND truth. At 100 TB: two single-scan bounded-state
    // aggregates + O(k) driver-free array math on a 1-row frame — vs the
    // full distinct-join the estimate replaces.
    ("q147_join_key_overlap",
      (s: SparkSession, dir: String) => {
        val kmv = udaf(new graft.functions.KmvSketchValues(256),
          org.apache.spark.sql.Encoders.scalaLong)
        val sa = t(s, dir, "customer")
          .agg(kmv(hash32(col("c_custkey").cast("string"))).as("ska"),
            countDistinct(col("c_custkey")).as("n_a_exact"))
        // the B side is one shard of a customer-split fact table ("how
        // many dimension keys does THIS shard's join touch") — a
        // per-order predicate keeps ~every customer (each has ~10
        // orders), so the shard cut is what makes the overlap a genuine
        // partial subset (rho ~ 2/3) instead of the trivial rho = 1
        val sb = t(s, dir, "orders").filter(col("o_custkey") % 3 =!= 0)
          .agg(kmv(hash32(col("o_custkey").cast("string"))).as("skb"),
            countDistinct(col("o_custkey")).as("n_b_exact"))
        val exactInter = t(s, dir, "customer").select(col("c_custkey").as("key")).distinct()
          .join(t(s, dir, "orders").filter(col("o_custkey") % 3 =!= 0)
            .select(col("o_custkey").as("key")).distinct(),
            Seq("key"), "left_semi")
          .agg(count(lit(1)).as("inter_exact"))
        sa.crossJoin(broadcast(sb)).crossJoin(broadcast(exactInter))
          .withColumn("va", col("ska.vs")).withColumn("vb", col("skb.vs"))
          .withColumn("m", expr("slice(array_sort(array_distinct(concat(va, vb))), 1, 256)"))
          .withColumn("m_n", size(col("m")).cast("long"))
          .withColumn("m_kth", expr("element_at(m, cast(m_n as int))"))
          .withColumn("inter_m", expr(
            "cast(size(filter(m, v -> array_contains(va, v) and array_contains(vb, v))) as long)"))
          .withColumn("est_union",
            when(col("m_n") < 256, col("m_n"))
              .otherwise(floor(lit(255.0 * 4294967296.0) / col("m_kth") + 0.5)
                .cast("long")))
          .withColumn("est_inter",
            floor(col("inter_m") * col("est_union") / col("m_n").cast("double") + 0.5)
              .cast("long"))
          .select(col("n_a_exact"), col("n_b_exact"), col("inter_exact"),
            col("m_n"), col("inter_m"), col("est_union"), col("est_inter"))
      },
      Some("""WITH sa AS (SELECT h FROM (SELECT DISTINCT
            ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM customer) ORDER BY h LIMIT 256),
        sb AS (SELECT h FROM (SELECT DISTINCT
            ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM orders WHERE o_custkey % 3 <> 0) ORDER BY h LIMIT 256),
        m AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
          ORDER BY h LIMIT 256),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_n, MAX(h) AS m_kth,
            CAST(SUM(CASE WHEN h IN (SELECT h FROM sa)
              AND h IN (SELECT h FROM sb) THEN 1 ELSE 0 END) AS BIGINT) AS inter_m
          FROM m),
        ex AS (SELECT
            (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS n_a_exact,
            (SELECT COUNT(DISTINCT o_custkey) FROM orders
              WHERE o_custkey % 3 <> 0) AS n_b_exact,
            (SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer) c
              WHERE c.c_custkey IN (SELECT o_custkey FROM orders
                WHERE o_custkey % 3 <> 0)) AS inter_exact)
        SELECT ex.n_a_exact, ex.n_b_exact, ex.inter_exact,
          mm.m_n, mm.inter_m,
          CASE WHEN mm.m_n < 256 THEN mm.m_n
               ELSE CAST(floor(255.0 * 4294967296.0 / mm.m_kth + 0.5) AS BIGINT)
          END AS est_union,
          CAST(floor(mm.inter_m * (CASE WHEN mm.m_n < 256 THEN mm.m_n
               ELSE CAST(floor(255.0 * 4294967296.0 / mm.m_kth + 0.5) AS BIGINT) END)
            / CAST(mm.m_n AS DOUBLE) + 0.5) AS BIGINT) AS est_inter
        FROM ex, mm""")),

    // ---- ROBUST outlier fences (the Tukey/IQR report Deequ-style
    // contract checks add beside q139's min/max): per double column,
    // exact quartiles and 1.5·IQR fences, plus how many rows fall
    // outside each fence. Cross-engine exactness is engineered, not
    // hoped for: values move to the CENT-INTEGER grid first, and the
    // quantile probes are DYADIC (k/4), so the linear interpolation
    // lower + (upper−lower)·frac is exact binary arithmetic — both
    // engines' formulas produce bit-identical doubles (fences stay in
    // cent units for the same reason). Shape (r22): ONE scan folds to the
    // value-domain-bounded (column, cents) histogram; quartiles read off
    // its cumulative counts by PercentileBase's own rank rule; the fence
    // counts re-read the same histogram count-weighted (all combinable
    // HashAggregates — the former ObjectHashAggregate percentile held
    // every distinct cent in one buffer and merged in one task).
    // Exact percentile is the oracle-parity baseline;
    // the 100 TB path swaps in q94's mergeable histogram sketch for the
    // quartiles and keeps the identical fence pass — WIRED as
    // q172_outlier_fences_hist (this query stays the exact A/B control;
    // OutlierFenceSpec pins the two within one bin on this fixture).
    ("q148_robust_outliers",
      (s: SparkSession, dir: String) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        // uniform TPC-H columns have NO Tukey outliers (fences at 1.5 IQR
        // clear the whole range), so the gate would pass vacuously on
        // 0 = 0 — plant a sparse corrupted stripe (~1/10000 rows, values
        // scaled far outside the fences, both engines identically) so the
        // fence counts are load-bearing
        val base = t(s, dir, "lineitem")
        val aug = base.select(cols.map(col): _*).unionByName(
          base.filter(col("l_orderkey") % 9973 === 0)
            .select((col("l_quantity") * 1000).as("l_quantity"),
              (col("l_extendedprice") * 100).as("l_extendedprice"),
              (col("l_discount") - 5.0).as("l_discount"),
              (col("l_tax") + 5.0).as("l_tax")))
        // r22 (guide §2/§5; the r21 q248/q257 value-domain technique
        // applied to the quartile probe): the exact `percentile()` was an
        // ObjectHashAggregate whose per-partition OpenHashMap held EVERY
        // distinct cent value and whose final merge+sort ran in ONE task —
        // the only aggregation state in the catalog that still grew with
        // the input (sf1 A/B in OPTIMIZATION_r22.md). The histogram fold
        // computes the identical quartiles: reduce to the value-domain-
        // bounded (column, cents) histogram (combinable HashAggregate),
        // cumulate per column (window over HISTOGRAM rows — q248's shape),
        // and read Spark's own PercentileBase semantics off it: pos =
        // q·(N−1); the value at 0-indexed rank r is the first cents with
        // cum ≥ r+1; result = (ceil−pos)·lo + (pos−floor)·hi, collapsing
        // to lo when ceil = floor or the bracketing values tie — exact
        // binary arithmetic on cent integers at dyadic q, bit-identical
        // to percentile()'s doubles. The fence counts then read the SAME
        // histogram count-weighted, so the full-row checkpoint disappears
        // and the lineitem scan runs once.
        // the pre-shuffle rows carry a 0-based column CODE, not the name
        // string (§2: shuffle narrower rows — l_extendedprice is
        // ~all-distinct, so its histogram rows barely collapse map-side
        // and each shuffled row would otherwise drag a 15-char name);
        // the name is re-attached to the 4 result rows at the very end
        val stacked = aug.select(expr(cols.zipWithIndex.map { case (c, i) =>
            s"${i}L, cast(floor($c * 100 + 0.5) as bigint)" }
          .mkString(s"stack(${cols.size}, ", ", ", ") as (cid, v)")))
        val hist = stacked.groupBy(col("cid"), col("v"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // feeds the quartile AND the fence pass
        val totals = hist.groupBy(col("cid")).agg(sum(col("c")).as("n_rows"))
        val cum = hist
          .withColumn("cum", sum(col("c")).over(
            Window.partitionBy(col("cid")).orderBy(col("v"))))
          .join(broadcast(totals), Seq("cid"))
        def pos(k: Int) = lit(k / 4.0) * (col("n_rows") - 1).cast("double")
        val bracketAggs = (1 to 3).flatMap(k => Seq(
          min(when(col("cum") > floor(pos(k)), col("v"))).as(s"lo$k"),
          min(when(col("cum") > ceil(pos(k)), col("v"))).as(s"hi$k")))
        val qs = cum.groupBy(col("cid"), col("n_rows"))
          .agg(bracketAggs.head, bracketAggs.tail: _*)
          .select(Seq(col("cid"), col("n_rows")) ++ (1 to 3).map { k =>
            val (p, lo, hi) = (pos(k), col(s"lo$k"), col(s"hi$k"))
            when(ceil(p) === floor(p) || hi === lo, lo.cast("double"))
              .otherwise((ceil(p) - p) * lo.cast("double")
                + (p - floor(p)) * hi.cast("double")).as(s"q$k")
          }: _*)
        val names = array(cols.map(lit(_)): _*)
        hist.join(broadcast(qs), Seq("cid"))
          .groupBy(col("cid"), col("n_rows"),
            col("q1"), col("q2"), col("q3"))
          .agg(
            sum(when(col("v") < col("q1") - lit(1.5) * (col("q3") - col("q1")),
              col("c")).otherwise(0L)).as("n_below"),
            sum(when(col("v") > col("q3") + lit(1.5) * (col("q3") - col("q1")),
              col("c")).otherwise(0L)).as("n_above"))
          .select(element_at(names, col("cid").cast("int") + 1).as("column_name"),
            col("n_rows"), col("q1").as("q1_cents"),
            col("q2").as("median_cents"), col("q3").as("q3_cents"),
            (col("q3") - col("q1")).as("iqr_cents"),
            col("n_below"), col("n_above"))
          .orderBy(col("column_name"))
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val dcols = cols.map(c =>
          s"CAST(floor($c * 100 + 0.5) AS BIGINT) AS ${c}_c").mkString(", ")
        val qcols = cols.map(c =>
          s"quantile_cont(${c}_c, [0.25, 0.5, 0.75]) AS ${c}_q").mkString(", ")
        val rows = cols.map { c =>
          s"""SELECT '$c' AS column_name, cn.n_rows,
            q.${c}_q[1] AS q1_cents, q.${c}_q[2] AS median_cents,
            q.${c}_q[3] AS q3_cents, q.${c}_q[3] - q.${c}_q[1] AS iqr_cents,
            cn.${c}_low AS n_below, cn.${c}_high AS n_above
          FROM q, cn"""
        }.mkString("", "\n          UNION ALL ", "\n          ORDER BY column_name")
        val sums = cols.map { c =>
          s"""CAST(SUM(CASE WHEN d.${c}_c < q.${c}_q[1] - 1.5 * (q.${c}_q[3] - q.${c}_q[1])
              THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_low,
            CAST(SUM(CASE WHEN d.${c}_c > q.${c}_q[3] + 1.5 * (q.${c}_q[3] - q.${c}_q[1])
              THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_high"""
        }.mkString(", ")
        s"""WITH aug AS (
            SELECT ${cols.mkString(", ")} FROM lineitem
            UNION ALL
            SELECT l_quantity * 1000, l_extendedprice * 100,
              l_discount - 5.0, l_tax + 5.0
            FROM lineitem WHERE l_orderkey % 9973 = 0),
          d AS (SELECT $dcols FROM aug),
          q AS (SELECT $qcols FROM d),
          cn AS (SELECT COUNT(*) AS n_rows, $sums FROM d, q)
          $rows"""
      }),

    // ---- BOUNDED-STATE outlier fences: q148's promised 100 TB path,
    // wired (the q34→q126 precedent — a documented scale config must
    // exist as a gated catalog twin, not a comment). q148's exact
    // percentile() is an ObjectHashAggregate whose buffer holds every
    // distinct cent value — l_extendedprice is ~all-distinct, so the
    // ONLY aggregation state in the catalog that grew with the input.
    // Here the quartiles read off q94's mergeable fixed-bin histogram:
    // state per column = occupied bins, bounded by value-DOMAIN
    // granularity (cents ÷ bin width), never by row count — an ordinary
    // combinable (cn, bin)-count whose partial aggregates merge across
    // any partitioning. The fence pass is IDENTICAL in shape to q148's
    // (broadcast 4-row fence table into a map-side conditional count).
    // Exactness is engineered: bins are floor(v/W) on cent integers via
    // double division (exact for |v| < 2^53; floor — not integer div —
    // because integer division truncates toward zero in BOTH engines
    // (measured, ADVICE r20) while the bin function must FLOOR, and the
    // planted l_discount stripe is negative); the
    // quartile is the smallest bin with 4·cum > k·(n−1) — the bin
    // holding the LOWER order statistic of q148's type-7 interpolation
    // index k(n−1)/4 + 1, so the two paths read the same neighborhood
    // (q94's multiply-through, no float thresholds) — valued at its
    // lower edge bin·W; fences compare in multiply-through form
    // 2v < 2q1 − 3·IQR so 1.5·IQR never leaves the integers. Bin widths
    // (cents): quantity 100, extendedprice 100000, discount/tax 1 — a
    // width must keep bins DENSE (≫1 row/bin at the smallest deployment,
    // ~100 bins over the known domain), or the one-bin error bound
    // dissolves in empty-bin gaps between adjacent order statistics;
    // bin_w is in the output schema so the grain is visible.
    // OutlierFenceSpec pins quartiles within one bin of q148's exact
    // ones and the planted-outlier counts EQUAL (the ×1000/×100 plants
    // sit far outside any one-bin fence wobble).
    ("q172_outlier_fences_hist",
      (s: SparkSession, dir: String) => outlierFencesHist(s, dir),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val widths = Map("l_quantity" -> 100L, "l_extendedprice" -> 100000L,
          "l_discount" -> 1L, "l_tax" -> 1L)
        val melt = cols.map(c =>
          s"""SELECT '$c' AS cn, CAST(floor($c * 100 + 0.5) AS BIGINT) AS v,
            CAST(${widths(c)} AS BIGINT) AS w FROM aug""")
          .mkString("\n          UNION ALL ")
        s"""WITH aug AS (
            SELECT ${cols.mkString(", ")} FROM lineitem
            UNION ALL
            SELECT l_quantity * 1000, l_extendedprice * 100,
              l_discount - 5.0, l_tax + 5.0
            FROM lineitem WHERE l_orderkey % 9973 = 0),
          m AS ($melt),
          mb AS (SELECT cn, w, v,
              CAST(floor(CAST(v AS DOUBLE) / w) AS BIGINT) AS bin FROM m),
          hist AS (SELECT cn, w, bin, COUNT(*) AS cnt FROM mb GROUP BY 1, 2, 3),
          c AS (SELECT cn, w, bin, cnt,
              CAST(SUM(cnt) OVER (PARTITION BY cn ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
              CAST(SUM(cnt) OVER (PARTITION BY cn) AS BIGINT) AS total
            FROM hist),
          q AS (SELECT cn, w, MAX(total) AS n_rows,
              MIN(CASE WHEN cum * 4 > total - 1 THEN bin END) * w AS q1_cents,
              MIN(CASE WHEN cum * 4 > (total - 1) * 2 THEN bin END) * w AS median_cents,
              MIN(CASE WHEN cum * 4 > (total - 1) * 3 THEN bin END) * w AS q3_cents
            FROM c GROUP BY 1, 2),
          f AS (SELECT mb.cn,
              CAST(SUM(CASE WHEN mb.v * 2 <
                q.q1_cents * 2 - (q.q3_cents - q.q1_cents) * 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
              CAST(SUM(CASE WHEN mb.v * 2 >
                q.q3_cents * 2 + (q.q3_cents - q.q1_cents) * 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_above
            FROM mb JOIN q ON q.cn = mb.cn GROUP BY 1)
          SELECT q.cn AS column_name, q.n_rows, q.q1_cents, q.median_cents,
            q.q3_cents, q.q3_cents - q.q1_cents AS iqr_cents, q.w AS bin_w,
            f.n_below, f.n_above
          FROM q JOIN f ON f.cn = q.cn ORDER BY column_name"""
      }),

    // ---- WINSORIZATION report (the REPAIR to what q148/q172 detect —
    // the q158→q19 advisor→fix pattern): clamp every value to the
    // histogram Tukey fences and account for what that did — clipped
    // counts on each side, the exact before/after sums, and the relative
    // mass shift. The go/no-go artifact before replacing a raw column
    // with its winsorized form in a 100 TB feature build.
    // Fences stay in multiply-through ×2 form (1.5·IQR never leaves the
    // integers; q172's construction), so the clamp operates on v·2 and
    // all sums are in DOUBLED cents. Sums accumulate as DECIMAL(38,0)
    // INTERNALLY — at 100 TB row counts an int64 cent sum wraps silently
    // in non-ANSI Spark while DuckDB errors (the q150/lr4 overflow
    // lesson) — but the OUTPUT is BIGINT behind an overflow-checked
    // downcast (assert_true fails loudly if a sum ever exceeds int64;
    // at that point the operator's contract is to re-grid, not wrap).
    // Decimal stays out of the final schema: the r15 gate showed
    // decimal columns canonicalize differently across the pandas/DuckDB
    // hash layers, so the repo-wide contract (NoDecimalOutputSpec) is
    // decimals internal, integers/doubles/strings external.
    // shift4 divides the two exact sums as correctly-rounded doubles on
    // the 1e4 grid.
    //
    // Scale: one bounded-state histogram pass for the fences (occupied
    // bins, never rows) + ONE map-side clamp/conditional-count pass with
    // the 4-row fence table broadcast — both combinable aggregates; the
    // winsorize itself never shuffles.
    ("q177_winsorize_report",
      (s: SparkSession, dir: String) => {
        val m = meltedCentStream(s, dir, FenceBinWidths)
        val qs = histQuartiles(m)
        m.join(broadcast(qs), Seq("cn"))
          .withColumn("lo_x2",
            col("q1_cents") * 2 - (col("q3_cents") - col("q1_cents")) * 3)
          .withColumn("hi_x2",
            col("q3_cents") * 2 + (col("q3_cents") - col("q1_cents")) * 3)
          .withColumn("v2", col("v") * 2)
          .withColumn("v2c",
            greatest(least(col("v2"), col("hi_x2")), col("lo_x2")))
          .groupBy(col("cn"))
          .agg(count(lit(1)).as("n_rows"),
            first(col("lo_x2")).as("lo_fence_x2"),
            first(col("hi_x2")).as("hi_fence_x2"),
            sum(when(col("v2") < col("lo_x2"), 1L).otherwise(0L))
              .as("n_clip_low"),
            sum(when(col("v2") > col("hi_x2"), 1L).otherwise(0L))
              .as("n_clip_high"),
            sum(col("v2").cast("decimal(38,0)")).as("sum_before_dec"),
            sum(col("v2c").cast("decimal(38,0)")).as("sum_after_dec"))
          .withColumn("shift4",
            floor((col("sum_before_dec") - col("sum_after_dec")).cast("double")
              / greatest(abs(col("sum_before_dec")).cast("double"), lit(1.0))
              * 1e4 + 0.5).cast("long"))
          .select(col("cn").as("column_name"), col("n_rows"),
            col("lo_fence_x2"), col("hi_fence_x2"),
            col("n_clip_low"), col("n_clip_high"),
            decimalToLongChecked(col("sum_before_dec")).as("sum_before_x2"),
            decimalToLongChecked(col("sum_after_dec")).as("sum_after_x2"),
            col("shift4"))
          .orderBy(col("column_name"))
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val widths = Map("l_quantity" -> 100L, "l_extendedprice" -> 100000L,
          "l_discount" -> 1L, "l_tax" -> 1L)
        val melt = cols.map(c =>
          s"""SELECT '$c' AS cn, CAST(floor($c * 100 + 0.5) AS BIGINT) AS v,
            CAST(${widths(c)} AS BIGINT) AS w FROM aug""")
          .mkString("\n          UNION ALL ")
        s"""WITH aug AS (
            SELECT ${cols.mkString(", ")} FROM lineitem
            UNION ALL
            SELECT l_quantity * 1000, l_extendedprice * 100,
              l_discount - 5.0, l_tax + 5.0
            FROM lineitem WHERE l_orderkey % 9973 = 0),
          m AS ($melt),
          mb AS (SELECT cn, w, v,
              CAST(floor(CAST(v AS DOUBLE) / w) AS BIGINT) AS bin FROM m),
          hist AS (SELECT cn, w, bin, COUNT(*) AS cnt FROM mb GROUP BY 1, 2, 3),
          c AS (SELECT cn, w, bin, cnt,
              CAST(SUM(cnt) OVER (PARTITION BY cn ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
              CAST(SUM(cnt) OVER (PARTITION BY cn) AS BIGINT) AS total
            FROM hist),
          q AS (SELECT cn, w, MAX(total) AS n_rows,
              MIN(CASE WHEN cum * 4 > total - 1 THEN bin END) * w AS q1_cents,
              MIN(CASE WHEN cum * 4 > (total - 1) * 2 THEN bin END) * w AS median_cents,
              MIN(CASE WHEN cum * 4 > (total - 1) * 3 THEN bin END) * w AS q3_cents
            FROM c GROUP BY 1, 2),
          w2 AS (SELECT mb.cn, mb.v * 2 AS v2,
              q.q1_cents * 2 - (q.q3_cents - q.q1_cents) * 3 AS lo_x2,
              q.q3_cents * 2 + (q.q3_cents - q.q1_cents) * 3 AS hi_x2
            FROM mb JOIN q ON q.cn = mb.cn),
          r AS (SELECT cn, COUNT(*) AS n_rows,
              MIN(lo_x2) AS lo_fence_x2, MIN(hi_x2) AS hi_fence_x2,
              CAST(SUM(CASE WHEN v2 < lo_x2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clip_low,
              CAST(SUM(CASE WHEN v2 > hi_x2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clip_high,
              CAST(SUM(v2) AS DECIMAL(38,0)) AS sum_before_dec,
              CAST(SUM(GREATEST(LEAST(v2, hi_x2), lo_x2)) AS DECIMAL(38,0))
                AS sum_after_dec
            FROM w2 GROUP BY cn)
          SELECT cn AS column_name, n_rows, lo_fence_x2, hi_fence_x2,
            n_clip_low, n_clip_high,
            CAST(sum_before_dec AS BIGINT) AS sum_before_x2,
            CAST(sum_after_dec AS BIGINT) AS sum_after_x2,
            CAST(floor(CAST(sum_before_dec - sum_after_dec AS DOUBLE)
              / greatest(CAST(abs(sum_before_dec) AS DOUBLE), 1.0)
              * 10000.0 + 0.5) AS BIGINT) AS shift4
          FROM r ORDER BY column_name"""
      }),

    // ---- zone-map DATA-SKIPPING effectiveness report: quantifies what
    // q87's z-order layout actually buys a rectangle predicate
    // (x ∈ [1000, 3000] × y ∈ [100, 300]) against a naive x-sorted
    // layout of the SAME bucket count. Per layout: bucket zone maps
    // (min/max of both columns — what a lakehouse stores per file),
    // buckets whose box intersects the predicate, rows those buckets
    // force the scan to read, and the true match count — scan_frac4 is
    // the number a layout decision is made on. The z-order side prunes
    // on BOTH dimensions; the linear side only on x, so y-selectivity
    // is wasted — the measured gap is the module's reason to exist.
    // One materialized (x, y, z) projection feeds both layouts; each
    // layout is one combinable bucket agg + a literal box test.
    ("q149_skipping_report",
      (s: SparkSession, dir: String) => {
        import graft.core.ZOrder
        // dims folded to domains that are FULL at every fixture sf
        // (x: 7 bits, y: 4 bits), so the predicate box selects ~6% of
        // rows everywhere and neither layout's report is vacuous
        val d = t(s, dir, "lineitem")
          .select((col("l_partkey") % 128).as("x"),
            (col("l_suppkey") % 16).as("y"))
          .withColumn("z", ZOrder.zvalue16(col("x"), col("y")))
          .localCheckpoint()
        val matched = d.filter(col("x").between(32, 63) &&
          col("y").between(4, 7)).agg(count(lit(1)).as("rows_matched"))
        def layout(name: String, bucket: org.apache.spark.sql.Column) =
          d.groupBy(bucket.as("b"))
            .agg(count(lit(1)).as("n"),
              min(col("x")).as("min_x"), max(col("x")).as("max_x"),
              min(col("y")).as("min_y"), max(col("y")).as("max_y"))
            .withColumn("touched",
              col("min_x") <= 63 && col("max_x") >= 32 &&
                col("min_y") <= 7 && col("max_y") >= 4)
            .agg(count(lit(1)).as("n_buckets"),
              sum(when(col("touched"), 1L).otherwise(0L)).as("buckets_touched"),
              sum(col("n")).as("n_rows"),
              sum(when(col("touched"), col("n")).otherwise(0L)).as("rows_scanned"))
            .select(lit(name).as("layout"), col("n_buckets"),
              col("buckets_touched"), col("n_rows"), col("rows_scanned"))
        layout("zorder", shiftright(col("z"), 7))
          .unionByName(layout("linear", shiftright(col("x"), 1)))
          .crossJoin(broadcast(matched))
          .withColumn("scan_frac4", expr("(rows_scanned * 10000) div n_rows"))
          .select(col("layout"), col("n_buckets"), col("buckets_touched"),
            col("rows_scanned"), col("rows_matched"), col("scan_frac4"))
          .orderBy(col("layout"))
      },
      Some(s"""WITH c AS (SELECT (l_partkey % 128) AS x, (l_suppkey % 16) AS y
            FROM lineitem),
          zz AS (SELECT x, y, ${graft.core.ZOrder.sqlZvalue16("x", "y")} AS z FROM c),
          mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched FROM zz
            WHERE x BETWEEN 32 AND 63 AND y BETWEEN 4 AND 7),
          zb AS (SELECT (z >> 7) AS b, COUNT(*) AS n,
              MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
            FROM zz GROUP BY 1),
          lb AS (SELECT (x >> 1) AS b, COUNT(*) AS n,
              MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
            FROM zz GROUP BY 1),
          za AS (SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
              CAST(SUM(CASE WHEN min_x <= 63 AND max_x >= 32
                AND min_y <= 7 AND max_y >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
              CAST(SUM(n) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN min_x <= 63 AND max_x >= 32
                AND min_y <= 7 AND max_y >= 4 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
            FROM zb),
          la AS (SELECT 'linear', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(CASE WHEN min_x <= 63 AND max_x >= 32
                AND min_y <= 7 AND max_y >= 4 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(n) AS BIGINT),
              CAST(SUM(CASE WHEN min_x <= 63 AND max_x >= 32
                AND min_y <= 7 AND max_y >= 4 THEN n ELSE 0 END) AS BIGINT)
            FROM lb),
          u AS (SELECT * FROM za UNION ALL SELECT * FROM la)
          SELECT u.layout, u.n_buckets, u.buckets_touched, u.rows_scanned,
            mt.rows_matched, (u.rows_scanned * 10000) // u.n_rows AS scan_frac4
          FROM u, mt ORDER BY u.layout""")),

    // ---- PSI distribution drift (population stability index — the
    // standard ML-ops shift metric, the DISTRIBUTION-level companion to
    // q143's per-column envelope diff): per double column, 10 equal-width
    // bins derived from the BASE drop's cent-grid min/max, add-one
    // smoothed bin shares on both drops, PSI = Σ (p−q)·ln(p/q) on a 1e-6
    // grid. Exactness is engineered: bin ids are integer division on
    // cent integers (the candidate's out-of-range clamp also neutralizes
    // the truncate-vs-floor division divergence between engines for
    // negative offsets), p−q is carried as an exact BIGINT cross-product
    // numerator over a common denominator, ln runs on one ratio of exact
    // integers quantized at 1e4 (the q89 idiom), and the only float ops
    // are the final identical-shaped divisions. The q143 planted
    // candidate makes the verdicts load-bearing: the +50,000 price
    // stripe shifts l_extendedprice's PSI, the untouched columns sit at
    // ~0. Scale: three combinable passes (base min/max, two binned
    // counts), a 40-row grid join, a 4-row report — profile cost, not
    // data cost, and the base histogram is a persistable artifact.
    ("q150_psi_drift",
      (s: SparkSession, dir: String) => {
        val dcols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val stackE = dcols.map(c =>
          s"'$c', cast(floor($c * 100 + 0.5) as bigint)")
          .mkString(s"stack(${dcols.size}, ", ", ", ") as (cn, v)")
        def vals(df: DataFrame) = df.select(dcols.map(col): _*)
          .select(expr(stackE)).filter(col("v").isNotNull)
        val base = t(s, dir, "lineitem")
        val bv = vals(base).localCheckpoint() // feeds min/max, counts, totals
        val cv = vals(driftCandidate(base))
        val mm = bv.groupBy(col("cn")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
          .localCheckpoint() // 4 rows; joined three times below
        val bb = bv.join(broadcast(mm), Seq("cn"))
          .withColumn("bin", expr("(v - mn) * 10 div (mx - mn + 1)"))
          .groupBy(col("cn"), col("bin")).agg(count(lit(1)).as("cb"))
        val cc = cv.join(broadcast(mm), Seq("cn"))
          .withColumn("bin", expr("least(9L, greatest(0L, (v - mn) * 10 div (mx - mn + 1)))"))
          .groupBy(col("cn"), col("bin")).agg(count(lit(1)).as("cc"))
        val nb = bv.groupBy(col("cn")).agg(count(lit(1)).as("nbv"))
        val nc = cv.groupBy(col("cn")).agg(count(lit(1)).as("ncv"))
        val grid = mm.select(col("cn"), explode(expr("sequence(0L, 9L)")).as("bin"))
        grid
          .join(bb, Seq("cn", "bin"), "left")
          .join(cc, Seq("cn", "bin"), "left")
          .join(broadcast(nb), Seq("cn"))
          .join(broadcast(nc), Seq("cn"))
          .withColumn("cb", coalesce(col("cb"), lit(0L)))
          .withColumn("cc", coalesce(col("cc"), lit(0L)))
          .withColumn("num",
            // exact-integer claim must survive scale: a single bin's
            // (cb+1)*(ncv+10) cross-product approaches 2^63 at 100 TB row
            // counts; DuckDB promotes to HUGEINT while int64 would wrap
            // silently, so carry the numerator (and denominator) as
            // decimal(38,0) — same width discipline as q97's moments
            expr("cast(cb + 1 as decimal(38,0)) * (ncv + 10) - " +
              "cast(cc + 1 as decimal(38,0)) * (nbv + 10)"))
          .withColumn("lr4",
            // cast each factor BEFORE the multiply (ADVICE r14): a
            // double product cannot wrap, while an int64 (cb+1)*(ncv+10)
            // at 100 TB row counts wraps silently under Spark's non-ANSI
            // arithmetic (DuckDB would error) — below 2^53 the double
            // product is exact, so fixture results are bit-identical
            floor(log(expr("cast(cb + 1 as double) * cast(ncv + 10 as double)") /
              expr("cast(cc + 1 as double) * cast(nbv + 10 as double)")) * 1e4 + 0.5)
              .cast("long"))
          .withColumn("d", expr("cast(nbv + 10 as decimal(38,0)) * (ncv + 10)"))
          .groupBy(col("cn"))
          .agg(min(col("nbv")).as("n_base"), min(col("ncv")).as("n_cand"),
            floor(sum(col("num") * col("lr4")).cast("double") * 100.0 /
              min(col("d")).cast("double") + 0.5).cast("long").as("psi6"))
          .withColumn("shifted", col("psi6") >= 100000L)
          .select(col("cn").as("column_name"), col("n_base"), col("n_cand"),
            col("psi6"), col("shifted"))
          .orderBy(col("column_name"))
      },
      Some {
        val dcols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        def unpivot(src: String) = dcols.map(c =>
          s"""SELECT '$c' AS cn, CAST(floor($c * 100 + 0.5) AS BIGINT) AS v
            FROM $src WHERE $c IS NOT NULL""").mkString("\n          UNION ALL ")
        s"""WITH $driftCandidateSql,
          bvals AS (${unpivot("lineitem")}),
          cvals AS (${unpivot("cand")}),
          mm AS (SELECT cn, MIN(v) AS mn, MAX(v) AS mx FROM bvals GROUP BY 1),
          bb AS (SELECT b.cn, (v - mn) * 10 // (mx - mn + 1) AS bin, COUNT(*) AS cb
            FROM bvals b JOIN mm USING (cn) GROUP BY 1, 2),
          cc AS (SELECT c.cn,
              least(9, greatest(0, (v - mn) * 10 // (mx - mn + 1))) AS bin,
              COUNT(*) AS cc
            FROM cvals c JOIN mm USING (cn) GROUP BY 1, 2),
          nb AS (SELECT cn, CAST(COUNT(*) AS BIGINT) AS nbv FROM bvals GROUP BY 1),
          nc AS (SELECT cn, CAST(COUNT(*) AS BIGINT) AS ncv FROM cvals GROUP BY 1),
          grid AS (SELECT mm.cn, CAST(u.b AS BIGINT) AS bin
            FROM mm, UNNEST(range(0, 10)) AS u(b)),
          t AS (SELECT g.cn, g.bin,
              COALESCE(bb.cb, 0) AS cb, COALESCE(cc.cc, 0) AS cc,
              nb.nbv, nc.ncv
            FROM grid g
            LEFT JOIN bb ON bb.cn = g.cn AND bb.bin = g.bin
            LEFT JOIN cc ON cc.cn = g.cn AND cc.bin = g.bin
            JOIN nb ON nb.cn = g.cn JOIN nc ON nc.cn = g.cn),
          term AS (SELECT cn, nbv, ncv,
              ((cb + 1) * (ncv + 10) - (cc + 1) * (nbv + 10)) AS num,
              CAST(floor(ln((CAST(cb + 1 AS DOUBLE) * CAST(ncv + 10 AS DOUBLE))
                / (CAST(cc + 1 AS DOUBLE) * CAST(nbv + 10 AS DOUBLE))) * 10000.0 + 0.5)
                AS BIGINT) AS lr4,
              (nbv + 10) * (ncv + 10) AS d
            FROM t)
          SELECT cn AS column_name, MIN(nbv) AS n_base, MIN(ncv) AS n_cand,
            CAST(floor(CAST(SUM(num * lr4) AS DOUBLE) * 100.0
              / CAST(MIN(d) AS DOUBLE) + 0.5) AS BIGINT) AS psi6,
            CAST(floor(CAST(SUM(num * lr4) AS DOUBLE) * 100.0
              / CAST(MIN(d) AS DOUBLE) + 0.5) AS BIGINT) >= 100000 AS shifted
          FROM term GROUP BY cn ORDER BY column_name"""
      }),

    // ---- referential-integrity contract check: per foreign-key
    // relationship, orphan fact keys (anti join), distinct-key coverage
    // of the parent (semi side), and row counts — the FK sweep a
    // pipeline runs beside q139's per-column profile before trusting a
    // drop. The fixture's TPC-H keys are clean by construction, so every
    // relationship ALSO runs against the q143 planted candidate (whose
    // ~1% truncated orders make lineitem→cand-orders orphans real) —
    // one clean row and one violated row per gate, both load-bearing.
    // Scale: each relationship is one DISTINCT child-key aggregate
    // (combinable — distinct keys, not rows, cross the wire) + one
    // broadcast-or-shuffle semi/anti pair on the key; relationships are
    // independent and union at the end.
    ("q151_fk_integrity",
      (s: SparkSession, dir: String) => {
        def rel(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
          val keys = child.select(col(ck).as("k")).filter(col("k").isNotNull)
            .distinct().localCheckpoint()
          val pkeys = parent.select(col(pk).as("k")).distinct()
          val orphans = keys.join(pkeys, Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphan_keys"))
          val covered = pkeys.join(keys, Seq("k"), "left_semi")
            .agg(count(lit(1)).as("n_parents_referenced"))
          keys.agg(count(lit(1)).as("n_child_keys"))
            .crossJoin(broadcast(pkeys.agg(count(lit(1)).as("n_parent_keys"))))
            .crossJoin(broadcast(orphans))
            .crossJoin(broadcast(covered))
            .select(lit(name).as("relationship"), col("n_child_keys"),
              col("n_parent_keys"), col("n_orphan_keys"),
              col("n_parents_referenced"),
              (col("n_orphan_keys") === 0).as("intact"))
        }
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        rel("lineitem.l_orderkey -> orders", li, "l_orderkey",
            ord, "o_orderkey")
          .unionByName(rel("orders.o_custkey -> customer", ord, "o_custkey",
            t(s, dir, "customer"), "c_custkey"))
          .unionByName(rel("lineitem.l_partkey -> part", li, "l_partkey",
            t(s, dir, "part"), "p_partkey"))
          .unionByName(rel("lineitem.l_orderkey -> cand_orders (truncated drop)",
            li, "l_orderkey",
            ord.filter(col("o_orderkey") % 97 =!= 0), "o_orderkey"))
          .orderBy(col("relationship"))
      },
      Some {
        def rel(name: String, child: String, ck: String,
            parent: String, pk: String) =
          s"""SELECT '$name' AS relationship,
            (SELECT COUNT(DISTINCT $ck) FROM $child WHERE $ck IS NOT NULL)
              AS n_child_keys,
            (SELECT COUNT(DISTINCT $pk) FROM $parent) AS n_parent_keys,
            (SELECT COUNT(*) FROM (SELECT DISTINCT $ck AS k FROM $child
                WHERE $ck IS NOT NULL) c
              WHERE c.k NOT IN (SELECT $pk FROM $parent)) AS n_orphan_keys,
            (SELECT COUNT(*) FROM (SELECT DISTINCT $pk AS k FROM $parent) p
              WHERE p.k IN (SELECT $ck FROM $child WHERE $ck IS NOT NULL))
              AS n_parents_referenced,
            (SELECT COUNT(*) FROM (SELECT DISTINCT $ck AS k FROM $child
                WHERE $ck IS NOT NULL) c
              WHERE c.k NOT IN (SELECT $pk FROM $parent)) = 0 AS intact"""
        s"""WITH cand_orders AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0)
          ${rel("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey")}
          UNION ALL ${rel("orders.o_custkey -> customer", "orders", "o_custkey",
            "customer", "c_custkey")}
          UNION ALL ${rel("lineitem.l_partkey -> part", "lineitem", "l_partkey",
            "part", "p_partkey")}
          UNION ALL ${rel("lineitem.l_orderkey -> cand_orders (truncated drop)",
            "lineitem", "l_orderkey", "cand_orders", "o_orderkey")}
          ORDER BY relationship"""
      }),

    // ---- GDPR-style erasure propagation: the right-to-be-forgotten batch
    // job. Tombstoned customers (every 97th key = the erasure request
    // queue) cascade through orders to lineitem; per entity the audit
    // reports rows / deleted / kept, RESIDUAL references surviving the
    // scrub (the absence check a compliance job must recompute from the
    // scrubbed lineage, not assume by construction), and for the cascaded
    // fact a cascade-vs-direct consistency count: rows whose
    // delete-via-dead-order-keys verdict disagrees with the direct
    // lineitem→orders→tombstone 2-hop. Both checks ride ONE pass per
    // table: left-join flags + a single combinable conditional aggregate
    // (no per-check rescans). `erased` is the go/no-go verdict.
    //
    // Scale: the tombstone queue is request-sized → broadcast; dead order
    // keys are tombstone-proportional → one equi semi-side; the lineitem
    // pass pays exactly the joins a direct scrub pays (orderkey equi +
    // broadcast tombstones) and aggregates map-side. No collect, no
    // all-pairs, nothing grows with table count beyond one pass each.
    ("q153_gdpr_erasure",
      (s: SparkSession, dir: String) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val tomb = cust.filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k"))
        def entityRow(name: String, flagged: DataFrame): DataFrame =
          flagged.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("fc"), 1L).otherwise(0L)).as("n_deleted"),
            sum(when(!col("fc"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(!col("fc") && col("fd"), 1L).otherwise(0L))
              .as("n_residual_refs"),
            sum(when(col("fc") =!= col("fd"), 1L).otherwise(0L))
              .as("n_cascade_mismatch"))
          .select(lit(name).as("entity"), col("n_rows"), col("n_deleted"),
            col("n_kept"), col("n_residual_refs"), col("n_cascade_mismatch"),
            (col("n_residual_refs") === 0 && col("n_cascade_mismatch") === 0)
              .as("erased"))
        val custF = cust.join(broadcast(tomb),
            col("c_custkey") === col("k"), "left")
          .select(col("k").isNotNull.as("fc"), col("k").isNotNull.as("fd"))
        val ordF = ord.join(broadcast(tomb),
            col("o_custkey") === col("k"), "left")
          .select(col("o_orderkey"), col("k").isNotNull.as("fc"),
            col("k").isNotNull.as("fd"))
        val deadOrders = ordF.filter(col("fc"))
          .select(col("o_orderkey").as("ok"))
        val liF = li.select(col("l_orderkey"))
          .join(deadOrders, col("l_orderkey") === col("ok"), "left")
          .join(ord.join(broadcast(tomb), col("o_custkey") === col("k"), "left")
              .select(col("o_orderkey"), col("k").isNotNull.as("dref")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .select(col("ok").isNotNull.as("fc"),
            coalesce(col("dref"), lit(false)).as("fd"))
        entityRow("customer", custF)
          .unionByName(entityRow("orders", ordF.select(col("fc"), col("fd"))))
          .unionByName(entityRow("lineitem", liF))
          .orderBy(col("entity"))
      },
      Some("""WITH tomb AS (SELECT c_custkey AS k FROM customer
            WHERE c_custkey % 97 = 0),
          dead_orders AS (SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT k FROM tomb)),
          cf AS (SELECT (c_custkey IN (SELECT k FROM tomb)) AS fc,
              (c_custkey IN (SELECT k FROM tomb)) AS fd FROM customer),
          of_ AS (SELECT (o_custkey IN (SELECT k FROM tomb)) AS fc,
              (o_custkey IN (SELECT k FROM tomb)) AS fd FROM orders),
          lf AS (SELECT
              (l.l_orderkey IN (SELECT o_orderkey FROM dead_orders)) AS fc,
              COALESCE(o.o_custkey IN (SELECT k FROM tomb), FALSE) AS fd
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
          rows_ AS (
            SELECT 'customer' AS entity, * FROM cf
            UNION ALL SELECT 'orders', * FROM of_
            UNION ALL SELECT 'lineitem', * FROM lf)
        SELECT entity, COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN fc THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
          CAST(SUM(CASE WHEN NOT fc THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN (NOT fc) AND fd THEN 1 ELSE 0 END) AS BIGINT)
            AS n_residual_refs,
          CAST(SUM(CASE WHEN fc <> fd THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cascade_mismatch,
          (SUM(CASE WHEN (NOT fc) AND fd THEN 1 ELSE 0 END) = 0 AND
           SUM(CASE WHEN fc <> fd THEN 1 ELSE 0 END) = 0) AS erased
        FROM rows_ GROUP BY entity ORDER BY entity"""))
  ,

    // ---- snapshot DIFF → CDC changeset generation (the INVERSE of q86,
    // which APPLIES a changeset): when the upstream hands you two table
    // snapshots instead of a change log, the change log must be derived —
    // one full-outer equi join on the key, column-compared. The candidate
    // snapshot is planted with all three op classes (every 97th order
    // deleted, every 89th survivor's price bumped by exactly 1.00 — an
    // integer add, bit-exact on doubles — and every 101st re-inserted
    // under key + 1e9), so every op row and per-column change count is
    // load-bearing. Output: per-op row counts + per-column changed
    // counts among updates.
    //
    // Scale: ONE key-partitioned full-outer join (the minimum any
    // snapshot diff pays) + a combinable 4-row aggregate; no collect, no
    // row materialization beyond the join. This is the batch job that
    // feeds q86's MERGE when logs don't exist.
    ("q160_snapshot_diff",
      (s: SparkSession, dir: String) => {
        val ord = t(s, dir, "orders")
        val base = ord.select(col("o_orderkey").as("k"),
          col("o_custkey").as("b_cust"), col("o_orderstatus").as("b_stat"),
          col("o_totalprice").as("b_price"))
        val surv = ord.filter(col("o_orderkey") % 97 =!= 0)
        val cand = surv.select(col("o_orderkey").as("k"),
            col("o_custkey").as("c_cust"), col("o_orderstatus").as("c_stat"),
            when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")).as("c_price"))
          .unionByName(ord.filter(col("o_orderkey") % 101 === 0)
            .select((col("o_orderkey") + 1000000000L).as("k"),
              col("o_custkey").as("c_cust"), col("o_orderstatus").as("c_stat"),
              col("o_totalprice").as("c_price")))
        base.join(cand, Seq("k"), "full_outer")
          .select(
            when(col("b_cust").isNull && col("b_stat").isNull
                && col("b_price").isNull, lit("insert"))
              .when(col("c_cust").isNull && col("c_stat").isNull
                && col("c_price").isNull, lit("delete"))
              .when(col("b_cust") =!= col("c_cust") ||
                col("b_stat") =!= col("c_stat") ||
                col("b_price") =!= col("c_price"), lit("update"))
              .otherwise(lit("unchanged")).as("op"),
            when(col("b_cust").isNotNull && col("c_cust").isNotNull
              && col("b_cust") =!= col("c_cust"), 1L).otherwise(0L)
              .as("cust_chg"),
            when(col("b_stat").isNotNull && col("c_stat").isNotNull
              && col("b_stat") =!= col("c_stat"), 1L).otherwise(0L)
              .as("stat_chg"),
            when(col("b_price").isNotNull && col("c_price").isNotNull
              && col("b_price") =!= col("c_price"), 1L).otherwise(0L)
              .as("price_chg"))
          .groupBy(col("op"))
          .agg(count(lit(1)).as("n"), sum(col("cust_chg")).as("n_cust_chg"),
            sum(col("stat_chg")).as("n_stat_chg"),
            sum(col("price_chg")).as("n_price_chg"))
          .orderBy(col("op"))
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_custkey AS b_cust,
            o_orderstatus AS b_stat, o_totalprice AS b_price FROM orders),
        cand AS (
          SELECT o_orderkey AS k, o_custkey AS c_cust,
            o_orderstatus AS c_stat,
            CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                 ELSE o_totalprice END AS c_price
          FROM orders WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 1000000000 AS k, o_custkey, o_orderstatus,
            o_totalprice
          FROM orders WHERE o_orderkey % 101 = 0),
        d AS (SELECT
            CASE WHEN b.k IS NULL THEN 'insert'
                 WHEN c.k IS NULL THEN 'delete'
                 WHEN b.b_cust <> c.c_cust OR b.b_stat <> c.c_stat
                   OR b.b_price <> c.c_price THEN 'update'
                 ELSE 'unchanged' END AS op,
            CASE WHEN b.b_cust IS NOT NULL AND c.c_cust IS NOT NULL
              AND b.b_cust <> c.c_cust THEN 1 ELSE 0 END AS cust_chg,
            CASE WHEN b.b_stat IS NOT NULL AND c.c_stat IS NOT NULL
              AND b.b_stat <> c.c_stat THEN 1 ELSE 0 END AS stat_chg,
            CASE WHEN b.b_price IS NOT NULL AND c.c_price IS NOT NULL
              AND b.b_price <> c.c_price THEN 1 ELSE 0 END AS price_chg
          FROM base b FULL OUTER JOIN cand c ON b.k = c.k)
        SELECT op, COUNT(*) AS n,
          CAST(SUM(cust_chg) AS BIGINT) AS n_cust_chg,
          CAST(SUM(stat_chg) AS BIGINT) AS n_stat_chg,
          CAST(SUM(price_chg) AS BIGINT) AS n_price_chg
        FROM d GROUP BY op ORDER BY op"""))
  ,

    // ---- frequent-pair mining (association rules' support stage):
    // which parts co-occur in the same order — the top co-occurring
    // pairs with support ≥ 2, the market-basket primitive behind
    // "bought together". Within-basket pair generation is the standard
    // item-pair self-join on the basket key with p1 < p2 (duplicates
    // collapsed first, so a twice-ordered part can't inflate support),
    // then ONE combinable pair count.
    //
    // Scale: the fan-out is basket-size² per basket and TPC-H baskets
    // are ≤ 7 lines, so pair volume is a small constant × orders — the
    // shape stays linear in baskets at any corpus size (deeper itemsets
    // want FP-growth-style conditional trees; the PAIR support table
    // here is also exactly the input that algorithm prunes with).
    // Top-20 is TakeOrdered with full key tie-break.
    ("q162_basket_pairs",
      (s: SparkSession, dir: String) => {
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .distinct()
        val a = items.select(col("ok"), col("p").as("p1"))
        val b = items.select(col("ok"), col("p").as("p2"))
        a.join(b, Seq("ok")).filter(col("p1") < col("p2"))
          .groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .orderBy(desc("support"), col("p1"), col("p2")).limit(20)
          .orderBy(desc("support"), col("p1"), col("p2"))
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok,
            l_partkey AS p FROM lineitem),
        pairs AS (SELECT a.p AS p1, b.p AS p2
          FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p)
        SELECT p1, p2, COUNT(*) AS support FROM pairs
        GROUP BY p1, p2 HAVING COUNT(*) >= 2
        ORDER BY support DESC, p1, p2 LIMIT 20"""))
  ,

    // ---- incremental VIEW maintenance (the warehouse MV refresh move):
    // a per-status revenue summary is maintained as a STORED base
    // partial (orders before 1997) merged with the delta batch (1997+)
    // — count and decimal-exact sum are algebraically mergeable, so the
    // refresh touches summary-sized state, never the base fact table.
    // The gate computes the merged view AND the full recompute in one
    // result and pins them equal per group (`merge_exact`, the q137
    // merge-gate pattern) — the refresh is proven, not assumed.
    //
    // Scale: at 100 TB the base partial IS a stored summary table
    // (groups × 2 longs); the nightly refresh pays one combinable pass
    // over the DELTA plus a groups-sized merge. The full recompute here
    // exists only to prove equality at fixture scale.
    ("q166_mv_incremental",
      (s: SparkSession, dir: String) => {
        val ord = t(s, dir, "orders")
        val cutoff = "1997-01-01"
        def part(df: DataFrame): DataFrame =
          df.groupBy(col("o_orderstatus").as("status"))
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val merged = part(ord.filter(col("o_orderdate") < lit(cutoff)))
          .unionByName(part(ord.filter(col("o_orderdate") >= lit(cutoff))))
          .groupBy(col("status"))
          .agg(sum(col("n")).as("n_merged"),
            sum(col("rev")).as("rev_merged"))
        val full = part(ord)
          .select(col("status"), col("n").as("n_full"),
            col("rev").as("rev_full"))
        merged.join(full, Seq("status"))
          .select(col("status"), col("n_merged"),
            col("rev_merged").cast("double").as("rev_merged"),
            col("n_full"), col("rev_full").cast("double").as("rev_full"),
            (col("n_merged") === col("n_full") &&
              col("rev_merged") === col("rev_full")).as("merge_exact"))
          .orderBy(col("status"))
      },
      Some("""WITH base AS (SELECT o_orderstatus AS status, COUNT(*) AS n,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders WHERE o_orderdate < '1997-01-01' GROUP BY 1),
        delta AS (SELECT o_orderstatus AS status, COUNT(*) AS n,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders WHERE o_orderdate >= '1997-01-01' GROUP BY 1),
        merged AS (SELECT status, CAST(SUM(n) AS BIGINT) AS n_merged,
            SUM(rev) AS rev_merged
          FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
          GROUP BY status),
        fullv AS (SELECT o_orderstatus AS status, COUNT(*) AS n_full,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_full
          FROM orders GROUP BY 1)
        SELECT m.status, m.n_merged, CAST(m.rev_merged AS DOUBLE) AS rev_merged,
          f.n_full, CAST(f.rev_full AS DOUBLE) AS rev_full,
          (m.n_merged = f.n_full AND m.rev_merged = f.rev_full)
            AS merge_exact
        FROM merged m JOIN fullv f USING (status)
        ORDER BY status"""))
  ,

    // ---- storage ENCODING advisor (the tabular write-side sibling of
    // q135's postings model): per column, the exact integer byte cost of
    // plain vs dictionary vs run-length encoding, from n / n_distinct /
    // block-local run counts — the numbers a writer picks encodings
    // with. Runs are counted within 64-orderkey BLOCKS in (orderkey,
    // linenumber) order — page-local RLE, like a real columnar writer,
    // and crucially a PARTITIONED window (a file-global run count would
    // be a single-partition window — the r7 scale defect class). Four
    // columns ride one unpivoted pass; dict index width is the exact
    // pigeonhole (1/2/4 bytes at ≤2^8/2^16/beyond distincts).
    //
    // Scale: one stack + one block-partitioned window + two combinable
    // aggregates; nothing is file-global, blocks bound every ordered
    // region.
    ("q170_encoding_advisor",
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        val stacked = li.select(col("l_orderkey"), col("l_linenumber"),
            expr("l_orderkey div 64").as("blk"),
            expr("""stack(4,
              'l_returnflag', l_returnflag, 1L,
              'l_linestatus', l_linestatus, 1L,
              'l_quantity', cast(l_quantity as string), 4L,
              'l_extendedprice', cast(l_extendedprice as string), 8L)
              AS (colname, val, width)"""))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // `val` is the canonical tie-breaker (equal-val ties cannot
        // change a run count, unequal-val ties order identically in
        // both engines). A per-block collect_list + array_sort + fold
        // variant (bounded hash-agg state, no stream-wide sort) was
        // tried and MEASURED SLOWER at both scales (10.4 vs 4.8 s at
        // sf0.1, 34.5 vs 19.2 at sf1): the HOF fold is CodegenFallback
        // with a per-element struct accumulator allocation, while this
        // window rides a codegen'd sort — kept on evidence.
        val w = Window.partitionBy(col("colname"), col("blk"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("val"))
        val runs = stacked
          .withColumn("chg",
            when(lag(col("val"), 1).over(w).isNull ||
              lag(col("val"), 1).over(w) =!= col("val"), 1L).otherwise(0L))
          .groupBy(col("colname"), col("width"))
          .agg(count(lit(1)).as("n"), sum(col("chg")).as("runs"))
        val nd = stacked.select(col("colname"), col("val")).distinct()
          .groupBy(col("colname")).agg(count(lit(1)).as("n_distinct"))
        runs.join(nd, Seq("colname"))
          .withColumn("idx_w", when(col("n_distinct") <= 256, 1L)
            .when(col("n_distinct") <= 65536, 2L).otherwise(4L))
          .select(col("colname"), col("n"), col("n_distinct"), col("runs"),
            (col("n") * col("width")).as("plain_bytes"),
            (col("n") * col("idx_w") + col("n_distinct") * col("width"))
              .as("dict_bytes"),
            (col("runs") * (col("width") + 2)).as("rle_bytes"))
          .withColumn("best",
            when(col("rle_bytes") <= col("dict_bytes") &&
              col("rle_bytes") <= col("plain_bytes"), lit("rle"))
            .when(col("dict_bytes") <= col("plain_bytes"), lit("dict"))
            .otherwise(lit("plain")))
          .orderBy(col("colname"))
      },
      Some("""WITH stacked AS (
          SELECT l_orderkey, l_linenumber, l_orderkey // 64 AS blk,
            u.colname, u.val, u.width
          FROM lineitem, LATERAL (VALUES
            ('l_returnflag', l_returnflag, CAST(1 AS BIGINT)),
            ('l_linestatus', l_linestatus, CAST(1 AS BIGINT)),
            ('l_quantity', CAST(l_quantity AS VARCHAR), CAST(4 AS BIGINT)),
            ('l_extendedprice', CAST(l_extendedprice AS VARCHAR),
              CAST(8 AS BIGINT))) u(colname, val, width)),
        r AS (SELECT colname, width, val,
            CASE WHEN lag(val) OVER (PARTITION BY colname, blk
                ORDER BY l_orderkey, l_linenumber, val) IS DISTINCT FROM val
              THEN 1 ELSE 0 END AS chg
          FROM stacked),
        runs AS (SELECT colname, width, COUNT(*) AS n,
            CAST(SUM(chg) AS BIGINT) AS runs
          FROM r GROUP BY 1, 2),
        nd AS (SELECT colname, COUNT(DISTINCT val) AS n_distinct
          FROM stacked GROUP BY 1),
        j AS (SELECT runs.colname, n, n_distinct, runs,
            CASE WHEN n_distinct <= 256 THEN 1
                 WHEN n_distinct <= 65536 THEN 2 ELSE 4 END AS idx_w,
            width
          FROM runs JOIN nd ON runs.colname = nd.colname)
        SELECT colname, n, n_distinct, runs,
          n * width AS plain_bytes,
          n * idx_w + n_distinct * width AS dict_bytes,
          runs * (width + 2) AS rle_bytes,
          CASE WHEN runs * (width + 2) <= n * idx_w + n_distinct * width
                 AND runs * (width + 2) <= n * width THEN 'rle'
               WHEN n * idx_w + n_distinct * width <= n * width THEN 'dict'
               ELSE 'plain' END AS best
        FROM j ORDER BY colname"""))
    ,

    // ---- k-ANONYMITY / l-DIVERSITY audit with a generalization rescue
    // column — the data-RELEASE side of the privacy family (q46 redacts
    // PII spans, q153 erases on request; this op answers "is this table
    // safe to publish as-is"). Quasi-identifier = (nation, segment,
    // $1000 balance bucket); sensitive attribute = the exact balance.
    // Per QI group: size n, k-anonymous at k=5, l-diversity (distinct
    // sensitive values), and whether generalizing the bucket one level
    // up ($5000) would rescue an at-risk group — the Samarati/Sweeney
    // generalization-hierarchy step evaluated in the SAME pass via a
    // window over the coarser key, so the report costs ONE aggregation
    // of the table plus a groups-sized window, no second scan.
    //
    // Scale: one combinable groupBy of |rows| → |QI combos| (bounded by
    // the QI domain product, NOT the row count); the rescue window is
    // partitioned by the coarse key over the already-aggregated groups.
    // Balance buckets via double floor() — integer division truncates
    // toward zero in BOTH engines (measured, ADVICE r20) but the bucket
    // function must FLOOR on negatives; double floor() agrees everywhere
    // and is independent of either engine's integer-division convention.
    ("q182_k_anonymity",
      (s: SparkSession, dir: String) => {
        val k = 5L
        val fine = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            (floor(col("c_acctbal") / 1000.0).cast("long") * 1000L).as("bal_bucket"),
            expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").as("bal2"))
          .groupBy(col("nation"), col("segment"), col("bal_bucket"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("bal2")).as("l_div"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("nation"), col("segment"), col("bal5"))
        fine
          .withColumn("bal5",
            (floor(col("bal_bucket").cast("double") / 5000.0).cast("long") * 5000L))
          .withColumn("n_coarse", sum(col("n")).over(w))
          .select(col("nation"), col("segment"), col("bal_bucket"),
            col("n"), col("l_div"),
            (col("n") < k).as("at_risk"),
            col("n_coarse"),
            (col("n") < k && col("n_coarse") >= k).as("rescued_by_bal5"))
          .orderBy(col("nation"), col("segment"), col("bal_bucket"))
      },
      Some("""WITH fine AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nation,
            c_mktsegment AS segment,
            CAST(floor(c_acctbal / 1000.0) AS BIGINT) * 1000 AS bal_bucket,
            COUNT(*) AS n,
            COUNT(DISTINCT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS l_div
          FROM customer GROUP BY 1, 2, 3),
        c AS (SELECT *,
            CAST(floor(CAST(bal_bucket AS DOUBLE) / 5000.0) AS BIGINT) * 5000 AS bal5
          FROM fine),
        r AS (SELECT *,
            CAST(SUM(n) OVER (PARTITION BY nation, segment, bal5) AS BIGINT)
              AS n_coarse
          FROM c)
        SELECT nation, segment, bal_bucket, n, l_div,
          n < 5 AS at_risk, n_coarse,
          n < 5 AND n_coarse >= 5 AS rescued_by_bal5
        FROM r ORDER BY nation, segment, bal_bucket"""))
    ,

    // ---- t-CLOSENESS audit (Li, Li & Venkatasubramanian, ICDE'07):
    // the third member of the release-privacy trio — q182 checks group
    // SIZE (k-anonymity) and sensitive-value VARIETY (l-diversity);
    // t-closeness checks the sensitive DISTRIBUTION: a group whose
    // balance histogram diverges from the table's is re-identifiable
    // by its skew even when k and l pass. Distance = total variation
    // between the group's $1000-bucket distribution and the global one
    // (the standard categorical instantiation), kept EXACT by integer
    // cross-multiplication: tv4 = ⌊Σ_v |n_gv·N − N_v·n_g| · 10⁴ /
    // (2·n_g·N)⌋ — no float ratio ever materializes. QI = (nation,
    // segment); buckets a group never touches still contribute
    // (grid-filled, |n_gv| = 0 ⇒ term N_v·n_g). Flag at the paper's
    // working threshold t = 0.2.
    //
    // Scale: one combinable (group, bucket) count; the audit then runs
    // on the |groups| × |buckets| grid — QI-domain-bounded, never
    // row-bounded; global totals ride broadcast 1-row/|buckets|-row
    // sides. Products n·N ≤ rows² fit BIGINT with headroom at every
    // fixture sf (a 100 TB run moves the final fold to double after
    // the same exact counts).
    ("q235_t_closeness",
      (s: SparkSession, dir: String) => {
        val rows = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            (floor(col("c_acctbal") / 1000.0).cast("long") * 1000L).as("v"))
        val ngv = rows.groupBy(col("nation"), col("segment"), col("v"))
          .agg(count(lit(1)).as("n_gv")).localCheckpoint()
        val nv = ngv.groupBy(col("v")).agg(sum(col("n_gv")).as("n_v"))
        val ng = ngv.groupBy(col("nation"), col("segment"))
          .agg(sum(col("n_gv")).as("n_g"))
        val grid = ng.select(col("nation"), col("segment"))
          .crossJoin(nv)
          .join(ngv, Seq("nation", "segment", "v"), "left_outer")
          .select(col("nation"), col("segment"), col("v"), col("n_v"),
            coalesce(col("n_gv"), lit(0L)).as("n_gv"))
        grid
          .join(broadcast(ng), Seq("nation", "segment"))
          .crossJoin(broadcast(nv.agg(sum(col("n_v")).as("nn"))))
          .select(col("nation"), col("segment"), col("n_g"), col("nn"),
            abs(col("n_gv") * col("nn") - col("n_v") * col("n_g")).as("d"))
          .groupBy(col("nation"), col("segment"), col("n_g"), col("nn"))
          .agg(sum(col("d")).as("sd"))
          .select(col("nation"), col("segment"), col("n_g"),
            expr("sd * 10000 div (2 * n_g * nn)").as("tv4"))
          .select(col("nation"), col("segment"), col("n_g"), col("tv4"),
            (col("tv4") > 2000L).as("breaches_t02"))
          .orderBy(col("nation"), col("segment"))
      },
      Some("""WITH rows_ AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nation,
            c_mktsegment AS segment,
            CAST(floor(c_acctbal / 1000.0) AS BIGINT) * 1000 AS v
          FROM customer),
        ngv AS (SELECT nation, segment, v, COUNT(*) AS n_gv
          FROM rows_ GROUP BY 1, 2, 3),
        nv AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS n_v
          FROM ngv GROUP BY v),
        ng AS (SELECT nation, segment, CAST(SUM(n_gv) AS BIGINT) AS n_g
          FROM ngv GROUP BY 1, 2),
        nn AS (SELECT CAST(SUM(n_v) AS BIGINT) AS nn FROM nv),
        grid AS (SELECT g.nation, g.segment, nv.v, nv.n_v,
            COALESCE(ngv.n_gv, 0) AS n_gv
          FROM (SELECT nation, segment FROM ng) g
          CROSS JOIN nv
          LEFT JOIN ngv ON ngv.nation = g.nation
            AND ngv.segment = g.segment AND ngv.v = nv.v),
        fold AS (SELECT grid.nation, grid.segment, ng.n_g, nn.nn,
            CAST(SUM(abs(grid.n_gv * nn.nn - grid.n_v * ng.n_g)) AS BIGINT)
              AS sd
          FROM grid
          JOIN ng ON ng.nation = grid.nation AND ng.segment = grid.segment
          CROSS JOIN nn
          GROUP BY 1, 2, 3, 4)
        SELECT nation, segment, n_g,
          sd * 10000 // (2 * n_g * nn) AS tv4,
          sd * 10000 // (2 * n_g * nn) > 2000 AS breaches_t02
        FROM fold ORDER BY nation, segment"""))
    ,

    // ---- JOIN-SIZE estimation by count-min inner product (AMS-style):
    // |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k), estimated as the MIN over depths
    // of the dot product of the two sides' CM counter rows — the
    // optimizer-statistics primitive a 100 TB planner uses to choose
    // join order/strategy WITHOUT shuffling either table by key: each
    // side folds to depth×width (4×256) counters in one combinable
    // pass, the sketches are additive across shards, and the estimate is
    // a 1024-row join. One-sided contract: collisions only ADD mass, so
    // cm_est >= exact always — the gate pins it per depth alongside the
    // exact control (events.user_id ⋈ orders.o_custkey). Counter
    // products are HUGEINT/decimal(38,0)-widened before summing — a
    // silent int64 wrap at real row counts is the q150-lr4 lesson.
    ("q183_join_size_sketch",
      (s: SparkSession, dir: String) => {
        def cmC(d: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =
          hash32(concat(d.cast("string"), lit(":"), k.cast("string"))) % 256
        val e = t(s, dir, "events").select(col("user_id").as("k"))
        val o = t(s, dir, "orders").select(col("o_custkey").as("k"))
        def cm(side: DataFrame, as: String) = side
          .select(col("k"), explode(expr("array(0, 1, 2, 3)")).as("d"))
          .withColumn("c", cmC(col("d"), col("k")))
          .groupBy(col("d"), col("c")).agg(count(lit(1)).as(as))
        // zero counters contribute zero to the dot product, so the inner
        // join over (d, c) is the full sum
        val dots = cm(e, "ce").join(cm(o, "co"), Seq("d", "c"))
          .groupBy(col("d"))
          .agg(expr("cast(sum(cast(ce as decimal(38,0)) * co) as bigint)")
            .as("dot"))
        val exact = e.groupBy(col("k")).agg(count(lit(1)).as("ec"))
          .join(o.groupBy(col("k")).agg(count(lit(1)).as("oc")), Seq("k"))
          .agg(expr("cast(sum(cast(ec as decimal(38,0)) * oc) as bigint)")
            .as("exact"))
        val est = dots.agg(min(col("dot")).as("cm_est"))
        dots.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
          .select(col("d"), col("dot"), col("exact"), col("cm_est"),
            expr("case when exact > 0 then (cm_est - exact) * 10000 div exact end")
              .as("over4"))
          .orderBy(col("d"))
      },
      Some("""WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cme AS (SELECT d,
            ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS c,
            COUNT(*) AS ce
          FROM events, ds GROUP BY 1, 2),
        cmo AS (SELECT d,
            ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 256 AS c,
            COUNT(*) AS co
          FROM orders, ds GROUP BY 1, 2),
        dots AS (SELECT cme.d,
            CAST(SUM(CAST(ce AS HUGEINT) * co) AS BIGINT) AS dot
          FROM cme JOIN cmo ON cmo.d = cme.d AND cmo.c = cme.c
          GROUP BY 1),
        ex AS (SELECT CAST(SUM(CAST(ec AS HUGEINT) * oc) AS BIGINT) AS exact
          FROM (SELECT user_id AS k, COUNT(*) AS ec FROM events GROUP BY 1) e
          JOIN (SELECT o_custkey AS k, COUNT(*) AS oc FROM orders GROUP BY 1) o
          USING (k)),
        est AS (SELECT MIN(dot) AS cm_est FROM dots)
        SELECT d, dot, exact, cm_est,
          CASE WHEN exact > 0 THEN (cm_est - exact) * 10000 // exact END AS over4
        FROM dots, ex, est ORDER BY d"""))
  )
}
