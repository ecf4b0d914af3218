package graft.operators

import graft.{QueryDef, Tables}
import graft.pipeline.SqlScripts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Beyond-reference extension operators (SURVEY.md §2.9): sketch
  * aggregates, as-of join, SQL-script execution.
  */
object ExtensionQueries {

  /** Approximate/sketch aggregates, PORTABLE (the round-11 verdict's
    * no_oracle shrink): per-priority HLL distinct-customer estimate on
    * the q244 hash-matched kernel (quadratic mix → two affine streams →
    * 128 buckets → power-of-two-framed rank → integer harmonic
    * estimator with the linear-counting fallback — identical literals
    * in both engines, so the driver hash-checks the ESTIMATE, not just
    * rows), plus an equi-width-histogram approximate median (a $100
    * bucket rollup; the median bucket's midpoint is the estimate —
    * error bounded by the bucket width, the classic fixed-size
    * quantile sketch). Replaces the engine-internal datasketches
    * `hll_sketch_agg`/`percentile_approx` pair that could only ever be
    * rows-only. Scale shape: two column-pruned scans, each into a
    * map-side-combined bounded rollup — (pri, bucket) ≤ 5×129 for the
    * HLL, (pri, $100-bucket) for the histogram — windows/estimator run
    * over the ROLLUPS only; sketch state, not rows, crosses every
    * exchange, which is the whole point at 100 TB.
    */
  val q25 = {
    import graft.functions.PortableHashKernels.{P, a, b}
    val (a1, b1, a2, b2) = (a(17), b(17), a(18), b(18))
    val lcVals = (1 to 128).map(v =>
      s"($v, ${math.round(128.0 * math.log(128.0 / v))})").mkString(", ")
    QueryDef.oracle("q25_sketch_aggs",
      s"""WITH h AS (SELECT o_orderpriority AS pri,
         |             ((CAST(o_custkey AS BIGINT) % $P) + $P) % $P AS th,
         |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |           FROM orders),
         |mixed AS (SELECT pri, (th * th + 3 * th + 7) % $P AS tm FROM h),
         |wd AS (SELECT pri, (tm * $a1 + $b1) % $P AS h1,
         |              (tm * $a2 + $b2) % $P AS h2 FROM mixed),
         |b0 AS (SELECT pri, h2 % 128 AS bucket,
         |         ((h1 * 8388608) // $P) * 8388608
         |           + (h2 * 8388608) // $P AS w
         |       FROM wd),
         |m1 AS (SELECT pri, bucket, w | (w >> 1) AS w FROM b0),
         |m2 AS (SELECT pri, bucket, w | (w >> 2) AS w FROM m1),
         |m3 AS (SELECT pri, bucket, w | (w >> 4) AS w FROM m2),
         |m4 AS (SELECT pri, bucket, w | (w >> 8) AS w FROM m3),
         |m5 AS (SELECT pri, bucket, w | (w >> 16) AS w FROM m4),
         |m6 AS (SELECT pri, bucket, w | (w >> 32) AS w FROM m5),
         |r AS (SELECT pri, bucket,
         |        MAX(47 - CAST(bit_count(w) AS BIGINT)) AS mx
         |      FROM m6 GROUP BY 1, 2),
         |z AS (SELECT pri,
         |        CAST(128 - count(*) AS BIGINT) AS n_empty,
         |        CAST(SUM(CAST(1 AS BIGINT) << CAST(47 - mx AS INTEGER))
         |             + (128 - count(*)) * 140737488355328 AS BIGINT) AS zs
         |      FROM r GROUP BY 1),
         |raw AS (SELECT z.*,
         |          CAST(CAST(715271 AS HUGEINT) * 16384 * 140737488355328
         |               // zs // 1000000 AS BIGINT) AS raw_est
         |        FROM z),
         |est AS (SELECT r.pri,
         |          CAST(CASE WHEN r.n_empty > 0 AND r.raw_est <= 320
         |               THEN lc.lc_est ELSE r.raw_est END AS BIGINT) AS hll_custs
         |        FROM raw r LEFT JOIN (VALUES $lcVals) AS lc(v, lc_est)
         |          ON r.n_empty = lc.v),
         |hist AS (SELECT pri, cents // 10000 AS bkt,
         |                CAST(count(*) AS BIGINT) AS c
         |         FROM h GROUP BY 1, 2),
         |cum AS (SELECT pri, bkt,
         |          SUM(c) OVER (PARTITION BY pri ORDER BY bkt) AS cum_c,
         |          SUM(c) OVER (PARTITION BY pri) AS n
         |        FROM hist),
         |med AS (SELECT pri,
         |          CAST(MIN(CASE WHEN cum_c * 2 >= n THEN bkt END) * 10000
         |               + 5000 AS BIGINT) AS approx_median_cents,
         |          CAST(MAX(n) AS BIGINT) AS n
         |        FROM cum GROUP BY 1)
         |SELECT e.pri AS o_orderpriority, m.n, e.hll_custs,
         |       m.approx_median_cents
         |FROM est e JOIN med m ON e.pri = m.pri""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = Tables.orders(s, d).select(
          col("o_orderpriority").as("pri"),
          pmod(col("o_custkey").cast("long"), lit(P)).as("th"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val bw = h
          .withColumn("tm", expr(s"(th * th + 3L * th + 7L) % ${P}L"))
          .withColumn("h1", expr(s"(tm * ${a1}L + ${b1}L) % ${P}L"))
          .withColumn("h2", expr(s"(tm * ${a2}L + ${b2}L) % ${P}L"))
          .withColumn("bucket", expr("h2 % 128L"))
          .withColumn("w", expr(
            s"((h1 * 8388608L) div ${P}L) * 8388608L" +
              s" + (h2 * 8388608L) div ${P}L"))
        val sm = Seq(1, 2, 4, 8, 16, 32).foldLeft(bw)((df, k) =>
          df.withColumn("w", expr(s"w | shiftright(w, $k)")))
        val r = sm
          .withColumn("rho", expr("47L - CAST(bit_count(w) AS BIGINT)"))
          .groupBy("pri", "bucket").agg(max("rho").as("mx"))
        val lcDf = s.createDataFrame((1 to 128).map(v =>
          (v.toLong, math.round(128.0 * math.log(128.0 / v))))).toDF("v", "lc_est")
        val est = r.groupBy("pri")
          .agg((lit(128L) - count(lit(1))).as("n_empty"),
            sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(47 - mx AS INT))"))
              .as("zs_part"))
          .withColumn("zs",
            col("zs_part") + col("n_empty") * lit(140737488355328L))
          .withColumn("raw_est", expr(
            "CAST(CAST(715271 AS DECIMAL(38,0)) * 16384 * 140737488355328" +
              " div zs div 1000000 AS BIGINT)"))
          .join(broadcast(lcDf), col("n_empty") === col("v"), "left")
          .withColumn("hll_custs", expr(
            "CAST(CASE WHEN n_empty > 0 AND raw_est <= 320" +
              " THEN lc_est ELSE raw_est END AS BIGINT)"))
          .select("pri", "hll_custs")
        val hist = h.groupBy(col("pri"), expr("cents div 10000").as("bkt"))
          .agg(count(lit(1)).as("c"))
        val cum = hist
          .withColumn("cum_c",
            sum("c").over(Window.partitionBy("pri").orderBy("bkt")))
          .withColumn("n", sum("c").over(Window.partitionBy("pri")))
        val med = cum.groupBy("pri").agg(
          (min(when(col("cum_c") * 2 >= col("n"), col("bkt"))) * 10000L
            + 5000L).cast("long").as("approx_median_cents"),
          max("n").cast("long").as("n"))
        est.join(med, Seq("pri"))
          .select(col("pri").as("o_orderpriority"), col("n"),
            col("hll_custs"), col("approx_median_cents"))
      })
  }

  /** As-of join (clicks to latest prior view per user) with DuckDB's
    * native ASOF JOIN as the oracle. Right side pre-deduped to one row
    * per (user, ts) so both engines are deterministic on ties.
    */
  val q26 = QueryDef.oracle("q26_asof_join",
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      |SELECT c.event_id, c.user_id, c.ts, v.view_event_id, v.view_ts
      |FROM clicks c ASOF LEFT JOIN views v
      |ON c.user_id = v.user_id AND v.view_ts <= c.ts""".stripMargin)(
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max("event_id").as("view_event_id"))
        .select("user_id", "view_ts", "view_event_id")
      AsOfJoin.backward(clicks, views, key = "user_id",
        leftTs = "ts", rightTs = "view_ts",
        payloadCols = Seq("view_event_id", "view_ts"))
    })

  /** Multi-statement SQL-script execution (the reference's executescript
    * path, K1/S7): temp-view DDL + a derived CTAS-style view + final
    * select, all through spark.sql.
    */
  val q27 = QueryDef.oracle("q27_sql_script",
    """SELECT o_orderstatus, count(*) AS n,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders GROUP BY o_orderstatus""".stripMargin)(
    (s, d) => {
      val script =
        s"""-- engine DDL: register the source (data_tables.sql analog)
           |CREATE OR REPLACE TEMPORARY VIEW graft_orders AS
           |  SELECT * FROM parquet.`$d/orders.parquet`;
           |/* derived table (poc_tables.sql CTAS analog; the ';' in this
           |   comment and the one in the literal below must not split) */
           |CREATE OR REPLACE TEMPORARY VIEW graft_orders_agg AS
           |  SELECT o_orderstatus, count(*) AS n,
           |         SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents,
           |         ';' AS semi
           |  FROM graft_orders GROUP BY o_orderstatus;
           |SELECT o_orderstatus, n, cents FROM graft_orders_agg""".stripMargin
      SqlScripts.execute(s, script).get
    })

  /** Extended window-function coverage: dense_rank, ntile, first_value,
    * lead — one shuffle on the partition key, rank family computed in a
    * single Window operator.
    */
  val q28 = QueryDef.oracle("q28_window_extended",
    """SELECT o_custkey, o_orderkey,
      |       DENSE_RANK() OVER w AS drnk,
      |       NTILE(4) OVER w AS quartile,
      |       FIRST_VALUE(o_orderkey) OVER w AS first_ok,
      |       LEAD(o_orderkey) OVER w AS next_ok
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        lead(col("o_orderkey"), 1).over(w).as("next_ok"))
    })

  /** Partition-pruned aggregate over the STORED ship-month layout
    * ([[graft.sources.Layout.partitionedLineitem]] — an ArtifactStore
    * artifact built once per corpus, the store-don't-recompute rule):
    * the query — and the bench — pay the pruned read only; the write
    * path is LayoutSpec's. The partition filter must land as the scan's
    * PartitionFilters (directory pruning, PlanCheck-asserted), and the
    * oracle runs the same filter on the raw table — layout must never
    * change results, only the bytes read.
    */
  val q29 = QueryDef.oracle("q29_partitioned_scan",
    """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
      |       count(*) AS n,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem
      |WHERE CAST(date_trunc('month', l_shipdate) AS DATE) >= DATE '1998-01-01'
      |GROUP BY 1""".stripMargin)(
    (s, d) => graft.sources.Layout.partitionedLineitem(s, d)
      .filter(col("ship_month") >= lit("1998-01-01").cast("date"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents")))

  /** GROUPING SETS (§2.9 — rollup q19 / cube q20 cover the fixed
    * lattices; this is the explicit-set form): three chosen sets in one
    * pass. Spark expands sets and aggregates once — one Expand + one
    * exchange, not three scans.
    */
  val q36 = QueryDef.oracle("q36_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin)(
    (s, d) => Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        count(lit(1)).as("n")))

  /** Range (band) join: every lineitem row lands in the [lo, hi) quantity
    * band of a tiny bands table. A non-equi join is a nested-loop in any
    * engine; with the band side broadcast it's a broadcast-NLJ costing
    * |bands| comparisons per row and no shuffle at all — the agg exchange
    * carries only |bands| partial rows.
    */
  val q37 = QueryDef.oracle("q37_range_join",
    """SELECT band, count(*) AS n,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem
      |JOIN (VALUES (0.0, 15.0, 'low'), (15.0, 35.0, 'mid'), (35.0, 51.0, 'high'))
      |  AS b(lo, hi, band)
      |ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY band""".stripMargin)(
    (s, d) => {
      val bands = s.createDataFrame(Seq(
          (0.0, 15.0, "low"), (15.0, 35.0, "mid"), (35.0, 51.0, "high")))
        .toDF("lo", "hi", "band")
      Tables.lineitem(s, d)
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
    })

  /** Salted two-phase aggregation over a skewed key — oracle is the
    * plain GROUP BY: salting must be invisible in the result.
    */
  val q75 = QueryDef.oracle("q75_salted_agg",
    """SELECT l_returnflag, CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_value,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)(
    (s, d) => graft.sources.Layout.saltedSumCount(
        Tables.lineitem(s, d), "l_returnflag",
        floor(col("l_quantity")).cast("long"), salts = 16,
        saltCols = Seq(col("l_orderkey"), col("l_linenumber")))
      .select(col("l_returnflag"), col("sum_value"), col("n")))

  /** PIVOT: long→wide reshape with explicit pivot values (explicit so the
    * plan is a single pass — Spark otherwise runs a distinct() job first
    * to discover them, an extra scan that matters at 100 TB).
    */
  val q38 = QueryDef.oracle("q38_pivot",
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT) AS qty_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT) AS qty_o
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)(
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(floor(col("l_quantity")).cast("long")))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o"))

  /** UNPIVOT (melt): wide→long, two measures to (metric, val) pairs.
    * Exact-cents longs so the oracle hash is float-free.
    */
  val q39 = QueryDef.oracle("q39_unpivot",
    """SELECT o_orderkey, 'price_cents' AS metric,
      |       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS val
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'cust', o_custkey FROM orders""".stripMargin)(
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_custkey").as("cust"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("price_cents"), col("cust")), "metric", "val"))

  /** Top-3 lineitems per part via the bounded-heap TopKAgg — map-side
    * combinable, so the exchange carries O(parts × k) buffer rows instead
    * of every lineitem (contrast q82's window form, which must shuffle
    * all rows). Oracle: the equivalent row_number window query.
    */
  val q88 = QueryDef.oracle("q88_topk_per_key_agg",
    """SELECT l_partkey, price_cents, tiebreak_id FROM (
      |  SELECT l_partkey,
      |         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents,
      |         l_orderkey * 100 + l_linenumber AS tiebreak_id,
      |         ROW_NUMBER() OVER (PARTITION BY l_partkey
      |           ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT) DESC,
      |                    l_orderkey * 100 + l_linenumber) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3""".stripMargin)(
    (s, d) => {
      val topk = graft.functions.TopKAgg.column(3)
      Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(topk(floor(col("l_extendedprice") * 100).cast("long"),
          col("l_orderkey") * 100 + col("l_linenumber")).as("tk"))
        .select(col("l_partkey"), explode(col("tk")).as("t"))
        .select(col("l_partkey"), col("t._1").as("price_cents"),
          col("t._2").as("tiebreak_id"))
    })

  /** Same top-3-per-part workload through the raw-Catalyst
    * TypedImperativeAggregate (`topk_agg`): the buffer mutates in place
    * and serializes only at the exchange — no per-row encoder
    * round-trips. Same window-form oracle as q88; the implementations
    * agree exactly on non-null inputs (these columns are non-null —
    * topk_agg itself skips NULLs like any SQL aggregate, whereas the
    * window form would rank them NULLS LAST).
    */
  val q89 = QueryDef.oracle("q89_topk_native_agg",
    """SELECT l_partkey, price_cents, tiebreak_id FROM (
      |  SELECT l_partkey,
      |         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents,
      |         l_orderkey * 100 + l_linenumber AS tiebreak_id,
      |         ROW_NUMBER() OVER (PARTITION BY l_partkey
      |           ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT) DESC,
      |                    l_orderkey * 100 + l_linenumber) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3""".stripMargin)(
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_q89")
      graft.functions.HashFunctions.registerAll(s)
      s.sql(
        """SELECT l_partkey, t.ord AS price_cents, t.id AS tiebreak_id
          |FROM (SELECT l_partkey,
          |        topk_agg(CAST(FLOOR(l_extendedprice * 100) AS BIGINT),
          |                 l_orderkey * 100 + l_linenumber, 3) AS tk
          |      FROM graft_li_q89 GROUP BY l_partkey)
          |LATERAL VIEW explode(tk) AS t""".stripMargin)
    })

  /** Fuzzy string matching (edit distance ≤ 1 over the distinct brand
    * domain) — the scalable fuzzy-join shape: distinct() the join DOMAIN
    * first (25 values, broadcast), pay the O(|domain|²) edit distances
    * there, never per fact row. The same pattern fixes the reference's
    * `coper mug` typo class at catalog size, not corpus size.
    */
  val q59 = QueryDef.oracle("q59_fuzzy_brand_pairs",
    """WITH t AS (SELECT DISTINCT p_brand FROM part)
      |SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |       CAST(levenshtein(a.p_brand, b.p_brand) AS INTEGER) AS dist
      |FROM t a JOIN t b ON a.p_brand < b.p_brand
      |WHERE levenshtein(a.p_brand, b.p_brand) <= 1""".stripMargin)(
    (s, d) => {
      val t = Tables.part(s, d).select("p_brand").distinct()
      val a = t.select(col("p_brand").as("brand_a"))
      val b = t.select(col("p_brand").as("brand_b"))
      a.join(broadcast(b), col("brand_a") < col("brand_b"))
        .withColumn("dist", levenshtein(col("brand_a"), col("brand_b")))
        .filter(col("dist") <= 1)
        .select("brand_a", "brand_b", "dist")
    })

  /** Fixed-width histogram via the built-in width_bucket — one scan, one
    * |buckets|-row exchange of partials; the oracle reproduces the bucket
    * function arithmetically — floor(v/width)+1 CLAMPED to [0, n+1],
    * width_bucket's out-of-range semantics (v < lo → 0, v >= hi → n+1) —
    * so boundary behavior stays pinned even if the data's price range
    * grows past the [0, 500000) histogram domain.
    */
  val q93 = QueryDef.oracle("q93_histogram",
    """SELECT least(greatest(CAST(FLOOR(o_totalprice / 50000.0) + 1 AS BIGINT), 0), 11) AS bucket,
      |       count(*) AS n,
      |       min(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS lo_cents,
      |       max(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS hi_cents
      |FROM orders GROUP BY 1""".stripMargin)(
    (s, d) => Tables.orders(s, d)
      .groupBy(expr("width_bucket(o_totalprice, 0D, 500000D, 10)").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(floor(col("o_totalprice") * 100).cast("long")).as("lo_cents"),
        max(floor(col("o_totalprice") * 100).cast("long")).as("hi_cents")))

  /** EXACT percentiles (not the t-digest approximation of q25): Spark's
    * `percentile` aggregate vs DuckDB's quantile_cont — both linear
    * interpolation over the sorted group. Integer-cents input keeps the
    * interpolated doubles exactly representable (quarters of integers),
    * so the hash comparison is float-safe.
    *
    * Scale note: exact percentile buffers each group's values — right
    * only when per-group cardinality is bounded (here: 5 priority
    * groups). For data-sized groups at 100 TB the scale path is q25's
    * percentile_approx (constant-size t-digest state).
    */
  val q94 = QueryDef.oracle("q94_exact_percentiles",
    """SELECT o_orderpriority,
      |       quantile_cont(CAST(FLOOR(o_totalprice * 100) AS BIGINT), 0.25) AS p25,
      |       quantile_cont(CAST(FLOOR(o_totalprice * 100) AS BIGINT), 0.5) AS p50,
      |       quantile_cont(CAST(FLOOR(o_totalprice * 100) AS BIGINT), 0.75) AS p75
      |FROM orders GROUP BY o_orderpriority""".stripMargin)(
    (s, d) => Tables.orders(s, d)
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      .groupBy("o_orderpriority")
      .agg(expr("percentile(cents, 0.25D)").as("p25"),
        expr("percentile(cents, 0.5D)").as("p50"),
        expr("percentile(cents, 0.75D)").as("p75")))

  /** SCD2 dimension history via gaps-and-islands: consecutive same-status
    * orders per customer collapse into one validity interval (the classic
    * rn − rn_per_status island key), each versioned in effective-date
    * order — how a warehouse reconstructs slowly-changing-dimension
    * history from an event log. Two keyed windows + one keyed agg, all
    * partitioned by o_custkey: three exchanges on the same key (AQE
    * reuses the partitioning), never a global sort. Deterministic: the
    * (o_orderdate, o_orderkey) tiebreak is unique.
    */
  val q78 = QueryDef.oracle("q78_scd2_islands",
    """WITH seq AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS rn,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
      |           ORDER BY o_orderdate, o_orderkey) AS rs
      |  FROM orders),
      |isl AS (
      |  SELECT o_custkey, o_orderstatus,
      |         min(o_orderdate) AS eff_from, max(o_orderdate) AS last_seen,
      |         count(*) AS n_orders
      |  FROM seq GROUP BY o_custkey, o_orderstatus, rn - rs)
      |SELECT o_custkey, o_orderstatus, eff_from, last_seen, n_orders,
      |       ROW_NUMBER() OVER (PARTITION BY o_custkey
      |         ORDER BY eff_from, o_orderstatus) AS version
      |FROM isl""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byCust = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val byCustStatus = Window.partitionBy("o_custkey", "o_orderstatus")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val isl = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
          (row_number().over(byCust) - row_number().over(byCustStatus)).as("grp"))
        .groupBy("o_custkey", "o_orderstatus", "grp")
        .agg(min("o_orderdate").as("eff_from"), max("o_orderdate").as("last_seen"),
          count(lit(1)).as("n_orders"))
      val byEff = Window.partitionBy("o_custkey")
        .orderBy(col("eff_from"), col("o_orderstatus"))
      isl.select(col("o_custkey"), col("o_orderstatus"), col("eff_from"),
        col("last_seen"), col("n_orders"),
        row_number().over(byEff).as("version"))
    })

  /** Data-quality profile — the ANALYZE-shape intake check a training
    * pipeline runs before accepting a drop: per-column null counts,
    * exact distinct cardinalities, and numeric ranges, in ONE aggregate
    * pass (Spark plans the multi-distinct via Expand — still a single
    * scan + one exchange of constant-size state; the q25 sketches are
    * the approximate path when exact distincts stop fitting).
    */
  val q79 = QueryDef.oracle("q79_data_quality",
    """SELECT count(*) AS n_rows,
      |       count(doc_id) AS doc_id_nonnull,
      |       count(DISTINCT doc_id) AS doc_id_distinct,
      |       count(text) AS text_nonnull,
      |       count(DISTINCT text) AS text_distinct,
      |       count(lang) AS lang_nonnull,
      |       count(DISTINCT lang) AS lang_distinct,
      |       count(source) AS source_nonnull,
      |       count(DISTINCT source) AS source_distinct,
      |       count(n_chars) AS n_chars_nonnull,
      |       min(n_chars) AS n_chars_min,
      |       max(n_chars) AS n_chars_max,
      |       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
      |FROM documents""".stripMargin)(
    (s, d) => Tables.documents(s, d).agg(
      count(lit(1)).as("n_rows"),
      count(col("doc_id")).as("doc_id_nonnull"),
      countDistinct(col("doc_id")).as("doc_id_distinct"),
      count(col("text")).as("text_nonnull"),
      countDistinct(col("text")).as("text_distinct"),
      count(col("lang")).as("lang_nonnull"),
      countDistinct(col("lang")).as("lang_distinct"),
      count(col("source")).as("source_nonnull"),
      countDistinct(col("source")).as("source_distinct"),
      count(col("n_chars")).as("n_chars_nonnull"),
      min(col("n_chars")).as("n_chars_min"),
      max(col("n_chars")).as("n_chars_max"),
      sum(col("n_chars")).as("n_chars_sum")))

  /** Point-in-time SCD2 lookup — the warehouse join q78's history
    * exists for: each order resolves the status era in effect at its
    * own date (latest version with eff_from <= o_orderdate). Versions
    * sharing a (custkey, eff_from) start day dedupe to the max version
    * first, so the as-of key is unique and both engines are
    * deterministic. The Spark side is [[AsOfJoin.backward]] — ONE
    * keyed shuffle + sort of |probe|+|history|, not a range join — with
    * DuckDB's native ASOF JOIN as the oracle; history is derived FROM
    * orders, so orders whose same-day twin took the era slot surface as
    * status_matches = false (the non-vacuous check).
    */
  /** q138's deduped SCD2 version table — (o_custkey, eff_from, version,
    * era_status), one row per (custkey, start day), max version winning
    * a same-day tie. Shared by q138's batch PIT join and the streaming
    * gate `EventStreams.pitEnrich` so batch and stream cannot disagree
    * on the dimension. */
  private[graft] def scd2Versions(s: SparkSession, d: String): DataFrame = {
    val hist = q78.fn(s, d)
    val byStart = Window.partitionBy("o_custkey", "eff_from")
      .orderBy(col("version").desc)
    hist.withColumn("vrn", row_number().over(byStart))
      .filter(col("vrn") === 1)
      .select(col("o_custkey"), col("eff_from"),
        col("version").cast("long").as("version"),
        col("o_orderstatus").as("era_status"))
  }

  val q138 = QueryDef.oracle("q138_scd2_pit_join",
    s"""WITH hist AS (${q78.sql.get}),
       |vers AS (SELECT o_custkey, eff_from, CAST(version AS BIGINT) AS version,
       |                o_orderstatus AS era_status
       |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, eff_from
       |                           ORDER BY version DESC) AS vrn FROM hist)
       |         WHERE vrn = 1),
       |probe AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus FROM orders)
       |SELECT p.o_orderkey, p.o_custkey, CAST(p.o_orderdate AS DATE) AS order_date,
       |       v.version, v.era_status,
       |       p.o_orderstatus = v.era_status AS status_matches
       |FROM probe p ASOF LEFT JOIN vers v
       |ON p.o_custkey = v.o_custkey AND v.eff_from <= p.o_orderdate""".stripMargin)(
    (s, d) => {
      val vers = scd2Versions(s, d)
      val probe = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
      AsOfJoin.backward(probe, vers, "o_custkey", "o_orderdate", "eff_from",
          Seq("version", "era_status"))
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("order_date"),
          col("version"), col("era_status"),
          (col("o_orderstatus") === col("era_status")).as("status_matches"))
    })

  /** Corpus snapshot reconciliation — the CDC-style diff between two
    * corpus versions: per (source, status ∈ added/removed/changed/
    * unchanged), exact doc and char counts. The two snapshots are
    * deterministic in-query views of `documents` (v_new drops
    * doc_id%11=5 — "removed"; v_old drops doc_id%13=3 — "added" — and
    * carries a `v1 `-prefixed text for doc_id%7=2 — "changed"), so the
    * oracle replays them bit-identically; in production they are two
    * ingest snapshots of the same table. Status via FULL OUTER join on
    * the key comparing content digests NULL-safely (`<=>`: a NULL-text
    * doc present unmodified in both versions is `unchanged`, not
    * `changed` — DuckDB's IS NOT DISTINCT FROM).
    *
    * Scale shape: both sides project to (doc_id, source, md5, length)
    * BEFORE the join, so the reconciliation shuffle carries ~50 B/row
    * regardless of document size — text never moves. At 100 TB the two
    * snapshots live bucketed on doc_id (the ArtifactStore layout
    * contract), making the diff a zip of co-bucketed scans with no
    * exchange at all; the rollup is |sources|×4-bounded with map-side
    * combine. HASH-MATCHED.
    */
  /** The two deterministic snapshot views of `documents` shared by the
    * snapshot family (q190 content diff, q239 vocab novelty): v_new
    * drops doc_id%11=5 ("removed"), v_old drops doc_id%13=3 ("added")
    * and carries a `v1 `-prefixed text for doc_id%7=2 ("changed"). ONE
    * definition on each engine so the family cannot disagree on what
    * the snapshots contain; in production these are two ingest
    * snapshots of the same table. */
  private[graft] val snapshotOldPred = "doc_id % 13 <> 3"
  private[graft] val snapshotNewPred = "doc_id % 11 <> 5"
  private[graft] val snapshotOldTextSql =
    "CASE WHEN doc_id % 7 = 2 THEN 'v1 ' || text ELSE text END"
  private[graft] def snapshotOldText: org.apache.spark.sql.Column =
    when(col("doc_id") % 7 === 2, concat(lit("v1 "), col("text")))
      .otherwise(col("text"))

  val q190 = QueryDef.oracle("q190_snapshot_diff",
    s"""WITH v_old AS (
      |  SELECT doc_id, source,
      |         md5($snapshotOldTextSql) AS hh,
      |         length($snapshotOldTextSql) AS len
      |  FROM documents WHERE $snapshotOldPred),
      |v_new AS (
      |  SELECT doc_id, source, md5(text) AS hh, length(text) AS len
      |  FROM documents WHERE $snapshotNewPred),
      |j AS (
      |  SELECT COALESCE(n.source, o.source) AS source,
      |         CASE WHEN o.doc_id IS NULL THEN 'added'
      |              WHEN n.doc_id IS NULL THEN 'removed'
      |              WHEN n.hh IS NOT DISTINCT FROM o.hh THEN 'unchanged'
      |              ELSE 'changed' END AS status,
      |         COALESCE(n.len, o.len) AS len
      |  FROM v_new n FULL OUTER JOIN v_old o ON n.doc_id = o.doc_id)
      |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(COALESCE(SUM(len), 0) AS BIGINT) AS n_chars
      |FROM j GROUP BY 1, 2""".stripMargin)(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldText = snapshotOldText
      // digest + length projected BEFORE the join: the reconciliation
      // shuffle carries (id, source, 32-char md5, len), never text
      val vOld = docs.filter(expr(snapshotOldPred))
        .select(col("doc_id").as("o_id"), col("source").as("o_source"),
          md5(oldText).as("o_hh"), length(oldText).as("o_len"))
      val vNew = docs.filter(expr(snapshotNewPred))
        .select(col("doc_id").as("n_id"), col("source").as("n_source"),
          md5(col("text")).as("n_hh"), length(col("text")).as("n_len"))
      vNew.join(vOld, col("n_id") === col("o_id"), "full_outer")
        .select(
          coalesce(col("n_source"), col("o_source")).as("source"),
          when(col("o_id").isNull, "added")
            .when(col("n_id").isNull, "removed")
            .when(col("n_hh") <=> col("o_hh"), "unchanged")
            .otherwise("changed").as("status"),
          coalesce(col("n_len"), col("o_len")).as("len"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("len"), lit(0L)).cast("long").as("n_chars"))
    })

  /** Incremental-crawl VOCABULARY novelty — the marginal-value question
    * a day-2 ingest decision asks that q190's content diff can't
    * answer: the new snapshot may be 95% changed documents and still
    * contribute nothing the model hasn't seen. Per source, over the
    * SAME shared snapshot views as q190 (one drift-pinned definition):
    * the old and new distinct-token vocabularies, how many types are
    * NOVEL (in new, not old), how many RETIRED (in old, not new), and
    * the novelty rate in exact ppm of the new vocabulary. A source
    * whose increments stop bringing novel types is a crawl to
    * deprioritize — the type-level sibling of the q201 Heaps'-law
    * growth audit, made incremental. Scale shape: two vocab-sized
    * distinct (source, token) aggregates + two token-keyed anti-join
    * counts + a \|sources\|-row assembly join — documents text never
    * crosses an exchange. Output: one row per source present in
    * either snapshot. HASH-MATCHED. */
  val q239 = QueryDef.oracle("q239_vocab_novelty",
    s"""WITH ot AS (SELECT source, unnest(list_filter(
       |              regexp_split_to_array($snapshotOldTextSql, '\\s+'),
       |              x -> x <> '')) AS tok
       |            FROM documents WHERE $snapshotOldPred),
       |nt AS (SELECT source, unnest(list_filter(
       |         regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
       |       FROM documents WHERE $snapshotNewPred),
       |ov AS (SELECT DISTINCT source, tok FROM ot),
       |nv AS (SELECT DISTINCT source, tok FROM nt),
       |os AS (SELECT source, CAST(count(*) AS BIGINT) AS old_vocab
       |       FROM ov GROUP BY 1),
       |nss AS (SELECT source, CAST(count(*) AS BIGINT) AS new_vocab
       |        FROM nv GROUP BY 1),
       |novel AS (SELECT source, CAST(count(*) AS BIGINT) AS n_novel FROM (
       |            SELECT source, tok FROM nv
       |            EXCEPT SELECT source, tok FROM ov) GROUP BY 1),
       |retired AS (SELECT source, CAST(count(*) AS BIGINT) AS n_retired FROM (
       |              SELECT source, tok FROM ov
       |              EXCEPT SELECT source, tok FROM nv) GROUP BY 1)
       |SELECT COALESCE(nss.source, os.source) AS source,
       |       COALESCE(nss.new_vocab, 0) AS new_vocab,
       |       COALESCE(os.old_vocab, 0) AS old_vocab,
       |       COALESCE(novel.n_novel, 0) AS n_novel,
       |       COALESCE(retired.n_retired, 0) AS n_retired,
       |       CASE WHEN COALESCE(nss.new_vocab, 0) = 0 THEN NULL
       |            ELSE CAST(COALESCE(novel.n_novel, 0) * 1000000
       |                      // nss.new_vocab AS BIGINT) END AS novelty_ppm
       |FROM nss FULL OUTER JOIN os ON nss.source = os.source
       |LEFT JOIN novel ON COALESCE(nss.source, os.source) = novel.source
       |LEFT JOIN retired ON COALESCE(nss.source, os.source) = retired.source""".stripMargin)(
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      val docs = Tables.documents(s, d)
      val ov = docs.filter(expr(snapshotOldPred))
        .select(col("source"), explode(tokens(snapshotOldText)).as("tok"))
        .distinct()
      val nv = docs.filter(expr(snapshotNewPred))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct()
      val os = ov.groupBy("source").agg(count(lit(1)).as("old_vocab"))
      val nss = nv.groupBy("source").agg(count(lit(1)).as("new_vocab"))
      val novel = nv.join(ov, Seq("source", "tok"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("n_novel"))
      val retired = ov.join(nv, Seq("source", "tok"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("n_retired"))
      nss.select(col("source").as("n_src"), col("new_vocab"))
        .join(os.select(col("source").as("o_src"), col("old_vocab")),
          col("n_src") === col("o_src"), "full_outer")
        .select(coalesce(col("n_src"), col("o_src")).as("source"),
          col("new_vocab"), col("old_vocab"))
        .join(broadcast(novel), Seq("source"), "left")
        .join(broadcast(retired), Seq("source"), "left")
        .select(col("source"),
          coalesce(col("new_vocab"), lit(0L)).as("new_vocab"),
          coalesce(col("old_vocab"), lit(0L)).as("old_vocab"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          coalesce(col("n_retired"), lit(0L)).as("n_retired"),
          when(coalesce(col("new_vocab"), lit(0L)) === 0,
            lit(null).cast("long"))
            .otherwise(expr(
              "CAST(COALESCE(n_novel, 0L) * 1000000 div new_vocab AS BIGINT)"))
            .as("novelty_ppm"))
    })

  /** ANALYZE-style optimizer statistics — the per-column stats a
    * cost-based optimizer and a file-skipping layer feed on (row count,
    * null count, NDV, min/max), collected for EVERY lineitem column in
    * ONE scan. Numeric/timestamp min-max ship as a canonical BIGINT key
    * (doubles in exact cents via round(v*100), timestamps as epoch
    * seconds) so the wire format is float-free; string columns ship
    * min/max as VARCHAR plus their total byte width (the CBO's
    * avg-row-width input). NDV is a PORTABLE 128-bucket HyperLogLog
    * (q224's hash-matched integer-kernel family — bit-smear rank,
    * algebraic empty-bucket fold, embedded linear-counting literal
    * table), fed a canonical per-column value hash: pmod(key, P) for
    * the three numeric kinds (injective — every key here is < P), the
    * portable codepoint fold for strings. Two estimator refinements
    * over q224, both forced by MEASURED bias on this input: (1) the
    * base hash is passed through the quadratic mix (t² + 3t + 7) mod P
    * before the affine streams — ANALYZE inputs are structured
    * (epoch-second timestamps and surrogate keys are arithmetic
    * progressions, and an affine map keeps an AP an AP, which skewed
    * l_shipdate's estimate +65%); (2) the rank value is framed on an
    * EXACT power of two — w = u1·2²³ + u2 with u_i = (h_i·2²³)//P —
    * because q224's w = comb//128 is uniform on [0, P²/128), a range
    * 0.868·2⁵³, which inflates every rank tail probability by
    * 2⁵³·128/P² ≈ 1.153 (a systematic +15% NDV bias). The bucket comes
    * from h2's LOW bits, the rank from h1⊕h2's HIGH-bit projections,
    * so bucket and rank are decorrelated. With both fixes the observed
    * per-column error across sf0.001–0.1 is centered within ±2.3σ of
    * HLL theory. This replaces the round-10
    * Expand defect: exact multi-NDV expanded the fact ~12× and shuffled
    * every high-cardinality column's full distinct domain (~11
    * data-sized shuffles at 100 TB); the sketch form is one scan into a
    * single (col, bucket) rollup — ≤ 11×129 groups survive the map-side
    * partial, so the exchange carries constant state no matter the
    * table size, exactly how production ANALYZE runs. Estimate accuracy
    * vs exact is gated by `TableStatsHllSpec` (σ = 1.04/√128 ≈ 9.2%).
    * The exploded rollup carries ONLY longs: a VARCHAR min/max buffer
    * would demote the whole fact-sized aggregate to SortAggregate
    * (string agg buffers aren't UnsafeRow-mutable — measured 8–11 s vs
    * sub-second here), so the two string columns' min/max/byte-width
    * ride a second, column-pruned 2-column pass whose only aggregate
    * is a 1-row global (its SortAggregate has no grouping key, hence
    * no sort). Scale shape: one wide scan with the 11-way scan-stage
    * explode into a map-side-combined all-long (col, bucket)
    * aggregate, one narrow 2-column string-stats scan, an 11-row
    * estimator tail with a broadcast 128-row literal table.
    * HASH-MATCHED — DuckDB replays the estimator bit-for-bit. */
  val q244 = {
    import graft.functions.PortableHashKernels.{P, a, b}
    val (a1, b1, a2, b2) = (a(13), b(13), a(14), b(14))
    // (name, kind): L = integral, D = double (cents key), T = timestamp
    // (epoch-seconds key), S = varchar (string min/max + byte width)
    val cols = Seq(
      "l_orderkey" -> 'L', "l_partkey" -> 'L', "l_suppkey" -> 'L',
      "l_linenumber" -> 'L', "l_quantity" -> 'D', "l_extendedprice" -> 'D',
      "l_discount" -> 'D', "l_tax" -> 'D', "l_returnflag" -> 'S',
      "l_linestatus" -> 'S', "l_shipdate" -> 'T')
    // linear-counting table: V empty buckets -> round(m * ln(m / V)),
    // computed HERE so both engines read identical integer literals
    val lcVals = (1 to 128).map(v =>
      s"($v, ${math.round(128.0 * math.log(128.0 / v))})").mkString(", ")
    def keySql(c: String, k: Char): String = k match {
      case 'L' => s"CAST($c AS BIGINT)"
      case 'D' => s"CAST(round($c * 100) AS BIGINT)"
      case 'T' => s"date_diff('second', TIMESTAMP '1970-01-01', $c)"
      case 'S' => "CAST(NULL AS BIGINT)"
    }
    val duckArms = cols.map { case (c, k) =>
      val key = keySql(c, k)
      val th =
        if (k == 'S')
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split($c, ''),
             |        x -> CAST(unicode(x) AS BIGINT))),
             |      (a, b) -> (a * 131 + b) % $P)""".stripMargin
        else s"(($key % $P) + $P) % $P"
      s"SELECT '$c' AS cn, $th AS th, $key AS kv FROM lineitem"
    }
    val strCols = cols.collect { case (c, 'S') => c }
    val duckStrAggs = strCols.map(c =>
      s"min($c) AS ${c}_mns, max($c) AS ${c}_mxs, CAST(SUM(strlen($c)) AS BIGINT) AS ${c}_b")
    val duckStrArms = cols.map { case (c, k) =>
      if (k == 'S')
        s"SELECT '$c' AS col_name, ${c}_mns AS min_s, ${c}_mxs AS max_s, ${c}_b AS sum_bytes FROM ss"
      else
        s"SELECT '$c' AS col_name, CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s, CAST(NULL AS BIGINT) AS sum_bytes FROM ss"
    }
    QueryDef.oracle("q244_table_stats",
      s"""WITH arms AS (${duckArms.mkString("\nUNION ALL\n")}),
         |mixed AS (SELECT cn, kv,
         |            (th * th + 3 * th + 7) % $P AS tm
         |          FROM arms),
         |wd AS (SELECT cn, kv,
         |         (tm * $a1 + $b1) % $P AS h1,
         |         (tm * $a2 + $b2) % $P AS h2
         |       FROM mixed),
         |b0 AS (SELECT cn, kv,
         |         CASE WHEN h2 IS NULL THEN CAST(-1 AS BIGINT)
         |              ELSE h2 % 128 END AS bucket,
         |         ((h1 * 8388608) // $P) * 8388608
         |           + (h2 * 8388608) // $P AS w
         |       FROM wd),
         |m1 AS (SELECT cn, kv, bucket, w | (w >> 1) AS w FROM b0),
         |m2 AS (SELECT cn, kv, bucket, w | (w >> 2) AS w FROM m1),
         |m3 AS (SELECT cn, kv, bucket, w | (w >> 4) AS w FROM m2),
         |m4 AS (SELECT cn, kv, bucket, w | (w >> 8) AS w FROM m3),
         |m5 AS (SELECT cn, kv, bucket, w | (w >> 16) AS w FROM m4),
         |m6 AS (SELECT cn, kv, bucket, w | (w >> 32) AS w FROM m5),
         |r AS (SELECT cn, bucket,
         |        MAX(47 - CAST(bit_count(w) AS BIGINT)) AS mx,
         |        CAST(count(*) AS BIGINT) AS cnt,
         |        min(kv) AS mnk, max(kv) AS mxk
         |      FROM m6 GROUP BY 1, 2),
         |z AS (SELECT cn,
         |        CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |        CAST(COALESCE(SUM(CASE WHEN bucket = -1 THEN cnt END), 0)
         |             AS BIGINT) AS n_nulls,
         |        CAST(128 - COALESCE(SUM(CASE WHEN bucket >= 0 THEN 1 END), 0)
         |             AS BIGINT) AS n_empty,
         |        CAST(COALESCE(SUM(CASE WHEN bucket >= 0 THEN
         |               CAST(1 AS BIGINT) << CAST(47 - mx AS INTEGER) END), 0)
         |             + (128 - COALESCE(SUM(CASE WHEN bucket >= 0 THEN 1 END), 0))
         |               * 140737488355328 AS BIGINT) AS zs,
         |        CAST(min(mnk) AS BIGINT) AS min_k,
         |        CAST(max(mxk) AS BIGINT) AS max_k
         |      FROM r GROUP BY 1),
         |raw AS (SELECT z.*,
         |          CAST(CAST(715271 AS HUGEINT) * 16384 * 140737488355328
         |               // zs // 1000000 AS BIGINT) AS raw_est
         |        FROM z),
         |est AS (SELECT r.*,
         |          CAST(CASE WHEN r.n_empty > 0 AND r.raw_est <= 320
         |               THEN lc.lc_est ELSE r.raw_est END AS BIGINT) AS ndv
         |        FROM raw r LEFT JOIN (VALUES $lcVals) AS lc(v, lc_est)
         |          ON r.n_empty = lc.v),
         |ss AS (SELECT ${duckStrAggs.mkString(",\n  ")} FROM lineitem),
         |sarms AS (${duckStrArms.mkString("\nUNION ALL\n")})
         |SELECT e.cn AS col_name, e.n_rows, e.n_nulls, e.ndv, e.min_k,
         |       e.max_k, s.min_s, s.max_s, s.sum_bytes
         |FROM est e JOIN sarms s ON e.cn = s.col_name""".stripMargin)(
      (s, d) => {
        import graft.functions.HashFunctions.portableCpHashNative
        val li = Tables.lineitem(s, d)
        def keyCol(c: String, k: Char) = k match {
          case 'L' => col(c).cast("long")
          case 'D' => round(col(c) * 100).cast("long")
          case 'T' => unix_timestamp(col(c))
          case _ => lit(null).cast("long")
        }
        // r15 optimization (guide §2.3, narrower types): the fact×11
        // explode used to carry the column NAME string through the
        // whole hot loop — 6.6M string hashes in the (cn, bucket)
        // rollup for a key with 11 values. The arms now carry a 4-byte
        // ordinal; names come back from an 11-entry literal array at
        // the 11-row estimator tail.
        val arms = cols.zipWithIndex.map { case ((c, k), i) =>
          val kv = keyCol(c, k)
          val th = if (k == 'S') portableCpHashNative(col(c)) else pmod(kv, lit(P))
          struct(lit(i).as("ci"), th.as("th"), kv.as("kv"))
        }
        val cnOf = s"array(${cols.map(c => s"'${c._1}'").mkString(", ")})[ci]"
        val ex = li.select(explode(array(arms: _*)).as("a")).select(col("a.*"))
        val bw = ex
          .withColumn("tm", expr(s"(th * th + 3L * th + 7L) % ${P}L"))
          .withColumn("h1", expr(s"(tm * ${a1}L + ${b1}L) % ${P}L"))
          .withColumn("h2", expr(s"(tm * ${a2}L + ${b2}L) % ${P}L"))
          .withColumn("bucket",
            expr("CASE WHEN h2 IS NULL THEN -1L ELSE h2 % 128L END"))
          .withColumn("w", expr(
            s"((h1 * 8388608L) div ${P}L) * 8388608L" +
              s" + (h2 * 8388608L) div ${P}L"))
        val sm = Seq(1, 2, 4, 8, 16, 32).foldLeft(bw)((df, k) =>
          df.withColumn("w", expr(s"w | shiftright(w, $k)")))
        val r = sm
          .withColumn("rho", expr("47L - CAST(bit_count(w) AS BIGINT)"))
          .groupBy("ci", "bucket")
          .agg(max("rho").as("mx"), count(lit(1)).as("cnt"),
            min("kv").as("mnk"), max("kv").as("mxk"))
        val lc = (1 to 128).map(v =>
          (v.toLong, math.round(128.0 * math.log(128.0 / v))))
        val lcDf = s.createDataFrame(lc).toDF("v", "lc_est")
        val est = r.groupBy("ci")
          .agg(sum("cnt").cast("long").as("n_rows"),
            coalesce(sum(when(col("bucket") === -1L, col("cnt"))), lit(0L))
              .cast("long").as("n_nulls"),
            (lit(128L) - coalesce(sum(when(col("bucket") >= 0L, lit(1L))), lit(0L)))
              .cast("long").as("n_empty"),
            coalesce(sum(when(col("bucket") >= 0L,
              expr("shiftleft(CAST(1 AS BIGINT), CAST(47 - mx AS INT))"))), lit(0L))
              .as("zs_part"),
            min("mnk").cast("long").as("min_k"),
            max("mxk").cast("long").as("max_k"))
          .withColumn("zs",
            col("zs_part") + col("n_empty") * lit(140737488355328L))
          .withColumn("raw_est", expr(
            "CAST(CAST(715271 AS DECIMAL(38,0)) * 16384 * 140737488355328" +
              " div zs div 1000000 AS BIGINT)"))
          .join(broadcast(lcDf), col("n_empty") === col("v"), "left")
          .withColumn("ndv", expr(
            "CAST(CASE WHEN n_empty > 0 AND raw_est <= 320" +
              " THEN lc_est ELSE raw_est END AS BIGINT)"))
        // narrow string-stats pass: only the 2 VARCHAR columns are read
        // (column pruning), only a 1-row no-group aggregate — the string
        // buffers never touch the fact-sized rollup above
        val strAggs = strCols.flatMap(c => Seq(
          min(col(c)).as(s"${c}_mns"), max(col(c)).as(s"${c}_mxs"),
          sum(octet_length(col(c))).cast("long").as(s"${c}_b")))
        val ss = li.agg(strAggs.head, strAggs.tail: _*)
        val sArms = cols.map { case (c, k) =>
          if (k == 'S')
            struct(lit(c).as("col_name"), col(s"${c}_mns").as("min_s"),
              col(s"${c}_mxs").as("max_s"), col(s"${c}_b").as("sum_bytes"))
          else
            struct(lit(c).as("col_name"),
              lit(null).cast("string").as("min_s"),
              lit(null).cast("string").as("max_s"),
              lit(null).cast("long").as("sum_bytes"))
        }
        val strDf = ss.select(explode(array(sArms: _*)).as("st")).select(col("st.*"))
        est.withColumn("cn", expr(cnOf))
          .join(broadcast(strDf), col("cn") === col("col_name"))
          .select(col("cn").as("col_name"), col("n_rows"), col("n_nulls"),
            col("ndv"), col("min_k"), col("max_k"), col("min_s"),
            col("max_s"), col("sum_bytes"))
      })
  }

  /** Z-ORDER layout pruning audit — quantifies what a space-filling-
    * curve data layout buys the file-skipping layer (q244's min/max
    * stats are only as good as the layout that feeds them). Rows are
    * dealt to 64 files under two layouts: `linear` (range-partitioned
    * on the natural ingest key l_orderkey) and `zorder` (range-
    * partitioned on the 16-bit Morton interleave of 8-bit-quantized
    * (l_partkey, l_suppkey)). Both assignments are ANALYTIC — a pure
    * map function of the row against broadcast global min/max, exactly
    * how a production z-order writer deals fixed z-ranges to files — so
    * there is NO global sort anywhere (row_number layouts don't scale;
    * z-prefix ranges do). A centered box predicate selecting ~1/256 of
    * the key space is then tested against per-file min/max: a file
    * "hits" when its stats overlap the box and cannot be pruned. The
    * zorder row's files_hit/rows_read collapse vs linear is the whole
    * point of Morton layouts at 100 TB. Exact integers throughout.
    * Scale shape: one scan, one broadcast 1-row stats frame, one
    * (layout, file)-keyed map-side rollup, 2-row output. HASH-MATCHED. */
  val q245 = {
    def interleave(shift: (String, Int) => String): String =
      (0 until 8).map { i =>
        val hi = 1L << (2 * i + 1); val lo = 1L << (2 * i)
        s"(${shift("qa", i)} & 1) * $hi + (${shift("qb", i)} & 1) * $lo"
      }.mkString(" + ")
    val duckZ = interleave((c, i) => s"($c >> $i)")
    val sparkZ = interleave((c, i) => s"shiftright($c, $i)")
    QueryDef.oracle("q245_zorder_pruning",
      s"""WITH b AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
         |             min(l_suppkey) AS mns, max(l_suppkey) AS mxs,
         |             min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
         |             CAST(count(*) AS BIGINT) AS n
         |           FROM lineitem),
         |q AS (SELECT l.l_partkey, l.l_suppkey,
         |        (l.l_partkey - b.mnp) * 256 // (b.mxp - b.mnp + 1) AS qa,
         |        (l.l_suppkey - b.mns) * 256 // (b.mxs - b.mns + 1) AS qb,
         |        (l.l_orderkey - b.mno) * 64 // (b.mxo - b.mno + 1) AS lin_file,
         |        b.mnp + (b.mxp - b.mnp + 1) * 7 // 16 AS lop,
         |        b.mnp + (b.mxp - b.mnp + 1) * 9 // 16 - 1 AS hip,
         |        b.mns + (b.mxs - b.mns + 1) * 7 // 16 AS los,
         |        b.mns + (b.mxs - b.mns + 1) * 9 // 16 - 1 AS his,
         |        b.n
         |      FROM lineitem l CROSS JOIN b),
         |z AS (SELECT *, ($duckZ) // 1024 AS z_file FROM q),
         |f AS (SELECT 'linear' AS layout, lin_file AS file_id, l_partkey,
         |             l_suppkey, lop, hip, los, his, n FROM z
         |      UNION ALL
         |      SELECT 'zorder', z_file, l_partkey, l_suppkey,
         |             lop, hip, los, his, n FROM z),
         |fs AS (SELECT layout, file_id,
         |         min(l_partkey) AS fmnp, max(l_partkey) AS fmxp,
         |         min(l_suppkey) AS fmns, max(l_suppkey) AS fmxs,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(SUM(CASE WHEN l_partkey BETWEEN lop AND hip
         |                        AND l_suppkey BETWEEN los AND his
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
         |         min(lop) AS lop, min(hip) AS hip, min(los) AS los,
         |         min(his) AS his, min(n) AS n
         |       FROM f GROUP BY 1, 2)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
         |       CAST(SUM(CASE WHEN fmnp <= hip AND fmxp >= lop
         |                      AND fmns <= his AND fmxs >= los
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
         |       CAST(SUM(n_sel) AS BIGINT) AS rows_sel,
         |       CAST(SUM(CASE WHEN fmnp <= hip AND fmxp >= lop
         |                      AND fmns <= his AND fmxs >= los
         |                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read,
         |       CAST(SUM(CASE WHEN fmnp <= hip AND fmxp >= lop
         |                      AND fmns <= his AND fmxs >= los
         |                     THEN n_rows ELSE 0 END) * 1000000 // min(n)
         |            AS BIGINT) AS read_ppm
         |FROM fs GROUP BY layout""".stripMargin)(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val b = li.agg(
          min("l_partkey").as("mnp"), max("l_partkey").as("mxp"),
          min("l_suppkey").as("mns"), max("l_suppkey").as("mxs"),
          min("l_orderkey").as("mno"), max("l_orderkey").as("mxo"),
          count(lit(1)).as("n"))
        val q = li.crossJoin(broadcast(b))
          .select(col("l_partkey"), col("l_suppkey"),
            expr("(l_partkey - mnp) * 256 div (mxp - mnp + 1)").as("qa"),
            expr("(l_suppkey - mns) * 256 div (mxs - mns + 1)").as("qb"),
            expr("(l_orderkey - mno) * 64 div (mxo - mno + 1)").as("lin_file"),
            expr("mnp + (mxp - mnp + 1) * 7 div 16").as("lop"),
            expr("mnp + (mxp - mnp + 1) * 9 div 16 - 1").as("hip"),
            expr("mns + (mxs - mns + 1) * 7 div 16").as("los"),
            expr("mns + (mxs - mns + 1) * 9 div 16 - 1").as("his"),
            col("n"))
        val z = q.withColumn("z_file", expr(s"($sparkZ) div 1024"))
        val f = z.select(lit("linear").as("layout"),
            col("lin_file").as("file_id"), col("l_partkey"), col("l_suppkey"),
            col("lop"), col("hip"), col("los"), col("his"), col("n"))
          .unionAll(z.select(lit("zorder").as("layout"),
            col("z_file").as("file_id"), col("l_partkey"), col("l_suppkey"),
            col("lop"), col("hip"), col("los"), col("his"), col("n")))
        val sel = col("l_partkey").between(col("lop"), col("hip")) &&
          col("l_suppkey").between(col("los"), col("his"))
        val fs = f.groupBy("layout", "file_id")
          .agg(min("l_partkey").as("fmnp"), max("l_partkey").as("fmxp"),
            min("l_suppkey").as("fmns"), max("l_suppkey").as("fmxs"),
            count(lit(1)).as("n_rows"),
            sum(when(sel, 1L).otherwise(0L)).as("n_sel"),
            min("lop").as("lop"), min("hip").as("hip"),
            min("los").as("los"), min("his").as("his"), min("n").as("n"))
        val hit = col("fmnp") <= col("hip") && col("fmxp") >= col("lop") &&
          col("fmns") <= col("his") && col("fmxs") >= col("los")
        fs.groupBy("layout")
          .agg(count(lit(1)).as("n_files"),
            sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
            sum("n_sel").as("rows_sel"),
            sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_read"),
            expr("CAST(SUM(CASE WHEN fmnp <= hip AND fmxp >= lop AND fmns <= his AND fmxs >= los THEN n_rows ELSE 0 END) * 1000000 div min(n) AS BIGINT)")
              .as("read_ppm"))
      })
  }

  /** JOIN-CARDINALITY estimation audit — how good the System-R
    * containment estimate |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B) (the
    * formula every CBO, Catalyst included, derives join sizes from
    * q244-style stats with) actually is on this data: for the two spine
    * joins (orders⋈lineitem on orderkey, customer⋈orders on custkey),
    * the estimate from exact side-stats vs the MEASURED join count,
    * signed error in ppm. FK-shaped joins estimate near-perfectly
    * (containment holds); the audit exists to catch the ones that
    * don't. Exact integers (n·n fits int64 far past sf100). Scale
    * shape: per join, two 1-row side-stat aggs + the real keyed join
    * count (the measurement IS the workload); 2-row output via 1-row
    * broadcast crosses. HASH-MATCHED. */
  val q250 = QueryDef.oracle("q250_join_cardinality_estimate",
    """WITH lo AS (SELECT CAST(count(*) AS BIGINT) AS n_left,
      |             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_left
      |           FROM orders),
      |ll AS (SELECT CAST(count(*) AS BIGINT) AS n_right,
      |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_right
      |       FROM lineitem),
      |la AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
      |       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |co AS (SELECT CAST(count(*) AS BIGINT) AS n_left,
      |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv_left
      |       FROM customer),
      |oo AS (SELECT CAST(count(*) AS BIGINT) AS n_right,
      |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_right
      |       FROM orders),
      |ca AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
      |       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey)
      |SELECT 'orders_lineitem' AS join_name, n_left, ndv_left, n_right,
      |       ndv_right,
      |       CAST(n_left * n_right // greatest(ndv_left, ndv_right)
      |            AS BIGINT) AS est_rows,
      |       actual_rows,
      |       CAST((n_left * n_right // greatest(ndv_left, ndv_right)
      |             - actual_rows) * 1000000 // actual_rows AS BIGINT)
      |         AS err_ppm
      |FROM lo, ll, la
      |UNION ALL
      |SELECT 'customer_orders', n_left, ndv_left, n_right, ndv_right,
      |       CAST(n_left * n_right // greatest(ndv_left, ndv_right)
      |            AS BIGINT),
      |       actual_rows,
      |       CAST((n_left * n_right // greatest(ndv_left, ndv_right)
      |             - actual_rows) * 1000000 // actual_rows AS BIGINT)
      |FROM co, oo, ca""".stripMargin)(
    (s, d) => {
      def audit(name: String, left: DataFrame, lk: String,
          right: DataFrame, rk: String): DataFrame = {
        val ls = left.agg(count(lit(1)).as("n_left"),
          countDistinct(col(lk)).as("ndv_left"))
        val rs = right.agg(count(lit(1)).as("n_right"),
          countDistinct(col(rk)).as("ndv_right"))
        val actual = left.select(col(lk))
          .join(right.select(col(rk)), col(lk) === col(rk))
          .agg(count(lit(1)).as("actual_rows"))
        ls.crossJoin(rs).crossJoin(actual)
          .select(lit(name).as("join_name"), col("n_left"), col("ndv_left"),
            col("n_right"), col("ndv_right"),
            expr("CAST(n_left * n_right div greatest(ndv_left, ndv_right) AS BIGINT)")
              .as("est_rows"),
            col("actual_rows"),
            expr("CAST((n_left * n_right div greatest(ndv_left, ndv_right) - actual_rows) * 1000000 div actual_rows AS BIGINT)")
              .as("err_ppm"))
      }
      audit("orders_lineitem", Tables.orders(s, d), "o_orderkey",
        Tables.lineitem(s, d), "l_orderkey")
        .unionByName(audit("customer_orders", Tables.customer(s, d),
          "c_custkey", Tables.orders(s, d), "o_custkey"))
    })

  /** EQUI-DEPTH HISTOGRAM range-selectivity audit — the other half of
    * the optimizer-stats story (q244 collects the scalar stats, q250
    * audits the join formula; this audits RANGE predicates): a
    * 16-bucket equi-depth histogram on l_extendedprice cents is built
    * from a 1/16 deterministic md5 sample (ANALYZE samples — that is
    * what makes histogram build scale-constant; q45's hash-sampling
    * idiom, q233 prices the sampling error itself), then three range
    * predicates (narrow/mid/wide, analytically derived from global
    * min/max) are estimated by the textbook estimator — full buckets
    * count whole, boundary buckets by integer linear interpolation
    * sn·overlap/width — scaled to full size, and compared to the
    * MEASURED count. Exact integers end to end; signed error in ppm.
    * Scale shape: sample scan → value-count rollup → running-sum
    * window over the AGGREGATE-REDUCED count table → 16-row histogram
    * broadcast; predicates are a 3-row broadcast; actual counts ride
    * one full scan with conditional aggs. HASH-MATCHED. */
  val q251 = QueryDef.oracle("q251_histogram_selectivity",
    """WITH st AS (SELECT CAST(min(round(l_extendedprice * 100)) AS BIGINT) AS mn,
      |             CAST(max(round(l_extendedprice * 100)) AS BIGINT) AS mx,
      |             CAST(count(*) AS BIGINT) AS n
      |           FROM lineitem),
      |smp AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |        FROM lineitem
      |        WHERE substr(md5(CAST(l_orderkey * 10 + l_linenumber
      |                              AS VARCHAR)), 32, 1) = '0'),
      |ssz AS (SELECT CAST(count(*) AS BIGINT) AS s_n FROM smp),
      |vc AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt
      |       FROM smp GROUP BY 1),
      |cum AS (SELECT cents, cnt,
      |          SUM(cnt) OVER (ORDER BY cents) AS cum,
      |          SUM(cnt) OVER () AS tot
      |        FROM vc),
      |hb AS (SELECT (cum - 1) * 16 // tot AS bucket,
      |         CAST(min(cents) AS BIGINT) AS lo,
      |         CAST(max(cents) AS BIGINT) AS hi,
      |         CAST(SUM(cnt) AS BIGINT) AS sn
      |       FROM cum GROUP BY 1),
      |preds AS (SELECT p.pred, st.mn + (st.mx - st.mn + 1) * p.a // 16 AS p_lo,
      |            st.mn + (st.mx - st.mn + 1) * p.b // 16 - 1 AS p_hi,
      |            st.n
      |          FROM st, (VALUES ('narrow', 7, 9), ('mid', 4, 8),
      |                           ('wide', 2, 14)) p(pred, a, b)),
      |est AS (SELECT p.pred, p.p_lo, p.p_hi, p.n,
      |          CAST(SUM(CASE WHEN hb.hi >= p.p_lo AND hb.lo <= p.p_hi
      |                        THEN hb.sn * (least(hb.hi, p.p_hi)
      |                                      - greatest(hb.lo, p.p_lo) + 1)
      |                             // (hb.hi - hb.lo + 1)
      |                        ELSE 0 END) AS BIGINT) AS est_sample
      |        FROM preds p CROSS JOIN hb
      |        GROUP BY 1, 2, 3, 4),
      |act AS (SELECT p.pred,
      |          CAST(count(CASE WHEN CAST(round(l.l_extendedprice * 100)
      |                                    AS BIGINT) BETWEEN p.p_lo AND p.p_hi
      |                          THEN 1 END) AS BIGINT) AS actual_rows
      |        FROM preds p CROSS JOIN lineitem l GROUP BY 1)
      |SELECT e.pred, e.p_lo, e.p_hi,
      |       CAST(e.est_sample * e.n // ssz.s_n AS BIGINT) AS est_rows,
      |       a.actual_rows,
      |       CASE WHEN a.actual_rows = 0 THEN NULL
      |            ELSE CAST((e.est_sample * e.n // ssz.s_n - a.actual_rows)
      |                      * 1000000 // a.actual_rows AS BIGINT)
      |       END AS err_ppm
      |FROM est e JOIN act a USING (pred) CROSS JOIN ssz""".stripMargin)(
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val st = li.agg(min(cents).as("mn"), max(cents).as("mx"),
        count(lit(1)).as("n"))
      val smp = li
        .filter(substring(md5(
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("string")),
          32, 1) === "0")
        .select(cents.as("cents"))
      val ssz = smp.agg(count(lit(1)).as("s_n"))
      val vc = smp.groupBy("cents").agg(count(lit(1)).as("cnt"))
      val cum = vc
        .withColumn("cum", sum("cnt").over(Window.orderBy("cents")))
        .withColumn("tot", sum("cnt").over(
          Window.partitionBy().rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      val hb = cum.groupBy(expr("(cum - 1) * 16 div tot").as("bucket"))
        .agg(min("cents").as("lo"), max("cents").as("hi"),
          sum("cnt").as("sn"))
      val predSpec = Seq(("narrow", 7, 9), ("mid", 4, 8), ("wide", 2, 14))
      val preds = st.select(col("mn"), col("mx"), col("n"),
          explode(array(predSpec.map { case (nm, a, b) =>
            struct(lit(nm).as("pred"), lit(a).as("a"), lit(b).as("b"))
          }: _*)).as("p"))
        .select(col("p.pred").as("pred"),
          expr("mn + (mx - mn + 1) * p.a div 16").as("p_lo"),
          expr("mn + (mx - mn + 1) * p.b div 16 - 1").as("p_hi"), col("n"))
        .localCheckpoint(false) // 3 rows, reused by estimate + actual legs
      val est = preds.crossJoin(broadcast(hb))
        .groupBy("pred", "p_lo", "p_hi", "n")
        .agg(sum(when(col("hi") >= col("p_lo") && col("lo") <= col("p_hi"),
          expr("sn * (least(hi, p_hi) - greatest(lo, p_lo) + 1) div (hi - lo + 1)"))
          .otherwise(0L)).as("est_sample"))
      val act = li.select(cents.as("lc"))
        .crossJoin(broadcast(preds.select("pred", "p_lo", "p_hi")))
        .groupBy("pred")
        .agg(count(when(col("lc").between(col("p_lo"), col("p_hi")), 1))
          .as("actual_rows"))
      est.join(broadcast(act), Seq("pred")).crossJoin(broadcast(ssz))
        .select(col("pred"), col("p_lo"), col("p_hi"),
          expr("CAST(est_sample * n div s_n AS BIGINT)").as("est_rows"),
          col("actual_rows"),
          when(col("actual_rows") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "CAST((est_sample * n div s_n - actual_rows) * 1000000 div actual_rows AS BIGINT)"))
            .as("err_ppm"))
    })

  /** JOIN-STRATEGY choice audit — the closure of the optimizer-stats
    * loop q244/q250/q251 opened: q244 collects the stats, q250 audits
    * the cardinality formula; this derives the DECISION those stats
    * exist to drive — broadcast vs shuffle — exactly the way Catalyst
    * does it (estimated build-side bytes vs
    * `spark.sql.autoBroadcastJoinThreshold`, default 10 MiB), from
    * exact integer stats: build rows × estimated row width, width =
    * 8 B per numeric/timestamp column + (avg string bytes + 4 B length
    * word) per VARCHAR column of the PROJECTED build schema (column
    * pruning is why the projection, not the table, is what gets
    * sized). Five candidates bracket the spine: four dim builds (all
    * far under threshold at any SF) and the lineitem self-join build
    * (over at sf0.1, under at sf0.01 — the decision genuinely flips
    * with the data, which is the point of stats-driven planning). The
    * `decisive` flag marks candidates ≥2× away from the threshold;
    * `JoinStrategyAuditSpec` closes the loop by asserting that for
    * every decisive candidate the PHYSICAL plan Spark actually picks
    * (BroadcastHashJoin vs sort-merge) matches this query's `decision`
    * column. Scale shape: one tiny 1-row aggregate per candidate
    * (dims) + one narrow projected lineitem pass; 5-row output.
    * HASH-MATCHED. */
  val q253 = {
    // (join_name, build table, numeric cols, varchar cols)
    val cands = Seq(
      ("orders_build", "orders", Seq("o_orderkey", "o_totalprice"), Seq.empty[String]),
      ("part_build", "part", Seq("p_partkey"), Seq("p_name")),
      ("supplier_build", "supplier", Seq("s_suppkey"), Seq("s_name")),
      ("customer_build", "customer", Seq("c_custkey", "c_nationkey"), Seq("c_name")),
      ("lineitem_build", "lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate"),
        Seq("l_returnflag", "l_linestatus")))
    val Thr = 10485760L // Spark's default autoBroadcastJoinThreshold
    val duckArms = cands.map { case (nm, tbl, nums, strs) =>
      val widthSql = (s"CAST(${8L * nums.size} AS BIGINT)" +:
        strs.map(c => s"(SUM(strlen($c)) + count(*) - 1) // count(*) + 4"))
        .mkString(" + ")
      s"""SELECT '$nm' AS join_name,
         |  CAST(count(*) AS BIGINT) AS build_rows,
         |  CAST($widthSql AS BIGINT) AS row_bytes
         |FROM $tbl""".stripMargin
    }
    QueryDef.oracle("q253_join_strategy_audit",
      s"""WITH c AS (${duckArms.mkString("\nUNION ALL\n")})
         |SELECT join_name, build_rows, row_bytes,
         |       CAST(build_rows * row_bytes AS BIGINT) AS est_bytes,
         |       CAST($Thr AS BIGINT) AS threshold_bytes,
         |       CASE WHEN build_rows * row_bytes <= $Thr
         |            THEN 'broadcast' ELSE 'shuffle' END AS decision,
         |       build_rows * row_bytes * 2 <= $Thr
         |         OR build_rows * row_bytes >= ${2L * Thr} AS decisive
         |FROM c""".stripMargin)(
      (s, d) => {
        val arms = cands.map { case (nm, tbl, nums, strs) =>
          val df = Tables.load(s, d, tbl)
          val aggs = count(lit(1)).cast("long").as("n") +:
            strs.map(c => sum(octet_length(col(c))).cast("long").as(s"b_$c"))
          val width = (lit(8L * nums.size) +:
            strs.map(c => expr(s"(b_$c + n - 1) div n + 4L")))
            .reduce(_ + _)
          df.agg(aggs.head, aggs.tail: _*)
            .select(lit(nm).as("join_name"), col("n").as("build_rows"),
              width.cast("long").as("row_bytes"))
        }
        arms.reduce(_ unionByName _)
          .select(col("join_name"), col("build_rows"), col("row_bytes"),
            (col("build_rows") * col("row_bytes")).as("est_bytes"),
            lit(Thr).as("threshold_bytes"),
            when(col("build_rows") * col("row_bytes") <= Thr, "broadcast")
              .otherwise("shuffle").as("decision"),
            (col("build_rows") * col("row_bytes") * 2 <= Thr ||
              col("build_rows") * col("row_bytes") >= 2L * Thr).as("decisive"))
      })
  }

  /** PORTABLE BLOOM FILTER runtime-pruning audit — the other sketch a
    * query engine actually ships (Spark's runtime row-group filtering /
    * semi-join pushdown builds exactly this: a Bloom over the build
    * side's join keys, probed at the scan): an m = 16384-bit / k = 2
    * filter over the DISTINCT order custkeys, built and probed entirely
    * in the portable integer hash family so DuckDB replays every bit
    * (63-bit words — bit 63 is never shifted into, so no engine's
    * checked-overflow or sign semantics are in play).
    * Build: quadratic-mix the key (q244's AP-input fix — custkeys are
    * sequential), two affine streams → two bit positions → the filter
    * IS a ≤261-row (word, bits) table via bit_or of shifted ones — the
    * exact artifact a runtime filter broadcasts. Probe: every customer
    * key PLUS a domain-shifted twin per key (key + max+1 — guaranteed
    * non-members on an unseen arithmetic progression, the adversarial
    * input for the quadratic mixer); membership = both bits set (arithmetic-shift-and-mask,
    * sign-safe for bit 63 on both engines). The audit ships the
    * filter's real operating point: false-positive rate measured over
    * the TRUE non-members (customers with no orders) vs the exact
    * fill-ratio estimate ρ² (integer: set_bits²·10⁶/m²) — and
    * n_false_neg, which a correct Bloom CANNOT have (pinned 0 here and
    * by `BloomFilterSpec`). Scale shape: one keyed rollup to ≤256
    * words (map-side combined), broadcast to the probe scan — the
    * probe side never shuffles, which is the entire value of runtime
    * filters at 100 TB. 1-row output. HASH-MATCHED. */
  val q256 = {
    import graft.functions.PortableHashKernels.{P, a, b}
    val (a1, b1, a2, b2) = (a(15), b(15), a(16), b(16))
    val M = 16384L // bits; 256 words of 64
    QueryDef.oracle("q256_bloom_runtime_filter",
      s"""WITH keys AS (SELECT DISTINCT o_custkey AS key FROM orders),
         |mx AS (SELECT key, ((key % $P) + $P) % $P AS pm FROM keys),
         |mt AS (SELECT key, (pm * pm + 3 * pm + 7) % $P AS tm FROM mx),
         |pos AS (SELECT key, ((tm * $a1 + $b1) % $P) % $M AS p1,
         |               ((tm * $a2 + $b2) % $P) % $M AS p2
         |        FROM mt),
         |bits AS (SELECT p1 // 63 AS word, CAST(1 AS BIGINT) << CAST(p1 % 63 AS INTEGER) AS bit FROM pos
         |         UNION ALL
         |         SELECT p2 // 63, CAST(1 AS BIGINT) << CAST(p2 % 63 AS INTEGER) FROM pos),
         |filt AS (SELECT word, bit_or(bit) AS bits FROM bits GROUP BY 1),
         |fstat AS (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS set_bits
         |          FROM filt),
         |mk AS (SELECT max(key) + 1 AS off FROM keys),
         |prk AS (SELECT c_custkey AS key FROM customer
         |        UNION ALL SELECT c_custkey + off FROM customer, mk),
         |pm0 AS (SELECT p.key,
         |          ((p.key % $P) + $P) % $P AS pm,
         |          k.key IS NOT NULL AS is_member
         |        FROM prk p LEFT JOIN keys k ON k.key = p.key),
         |pm1 AS (SELECT key, is_member, (pm * pm + 3 * pm + 7) % $P AS tm
         |        FROM pm0),
         |pp AS (SELECT key, is_member,
         |         ((tm * $a1 + $b1) % $P) % $M AS p1,
         |         ((tm * $a2 + $b2) % $P) % $M AS p2
         |       FROM pm1),
         |pr AS (SELECT p.key, p.is_member,
         |         COALESCE((f1.bits >> CAST(p.p1 % 63 AS INTEGER)) & 1, 0) = 1
         |           AND COALESCE((f2.bits >> CAST(p.p2 % 63 AS INTEGER)) & 1, 0) = 1
         |           AS bloom_hit
         |       FROM pp p
         |       LEFT JOIN filt f1 ON f1.word = p.p1 // 63
         |       LEFT JOIN filt f2 ON f2.word = p.p2 // 63)
         |SELECT CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_keys,
         |       fs.set_bits,
         |       CAST(count(*) AS BIGINT) AS n_probes,
         |       CAST(count(CASE WHEN NOT is_member THEN 1 END) AS BIGINT)
         |         AS n_nonmembers,
         |       CAST(count(CASE WHEN NOT is_member AND bloom_hit THEN 1 END)
         |            AS BIGINT) AS n_false_pos,
         |       CAST(count(CASE WHEN is_member AND NOT bloom_hit THEN 1 END)
         |            AS BIGINT) AS n_false_neg,
         |       CASE WHEN count(CASE WHEN NOT is_member THEN 1 END) = 0 THEN NULL
         |            ELSE CAST(count(CASE WHEN NOT is_member AND bloom_hit THEN 1 END)
         |                 * 1000000 // count(CASE WHEN NOT is_member THEN 1 END)
         |                 AS BIGINT) END AS fpr_ppm,
         |       CAST(fs.set_bits * fs.set_bits * 1000000 // ${M * M} AS BIGINT)
         |         AS est_fpr_ppm
         |FROM pr, fstat fs
         |GROUP BY fs.set_bits""".stripMargin)(
      (s, d) => {
        def mixPos(keyName: String): (Column, Column) = {
          val pm = s"pmod($keyName, ${P}L)"
          val tm = s"(($pm * $pm + 3L * $pm + 7L) % ${P}L)"
          (expr(s"(($tm * ${a1}L + ${b1}L) % ${P}L) % ${M}L"),
            expr(s"(($tm * ${a2}L + ${b2}L) % ${P}L) % ${M}L"))
        }
        val keys = Tables.orders(s, d).select(col("o_custkey").as("key")).distinct()
        val (p1, p2) = mixPos("key")
        val pos = keys.select(col("key"), p1.as("p1"), p2.as("p2"))
        val bits = pos.select(expr("p1 div 63").as("word"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 % 63 AS INT))").as("bit"))
          .unionAll(pos.select(expr("p2 div 63").as("word"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p2 % 63 AS INT))").as("bit")))
        val filt = bits.groupBy("word").agg(bit_or(col("bit")).as("bits"))
          .localCheckpoint(false) // <=256 rows, probed twice + counted once
        val fstat = filt.agg(sum(bit_count(col("bits"))).cast("long").as("set_bits"))
        val off = keys.agg((max("key") + 1).as("off"))
        val cust = Tables.customer(s, d)
        val prk = cust.select(col("c_custkey").as("key"))
          .unionAll(cust.crossJoin(broadcast(off))
            .select((col("c_custkey") + col("off")).as("key")))
        val (q1, q2) = mixPos("key")
        val probes = prk
          .select(col("key"), q1.as("p1"), q2.as("p2"))
          .join(keys.select(col("key"), lit(true).as("is_member")), Seq("key"), "left")
          .withColumn("is_member", coalesce(col("is_member"), lit(false)))
        val pr = probes
          .join(broadcast(filt.select(expr("word").as("w1"), col("bits").as("bits1"))),
            expr("p1 div 63") === col("w1"), "left")
          .join(broadcast(filt.select(expr("word").as("w2"), col("bits").as("bits2"))),
            expr("p2 div 63") === col("w2"), "left")
          .withColumn("bloom_hit",
            expr("COALESCE(shiftright(bits1, CAST(p1 % 63 AS INT)) & 1, 0) = 1") &&
              expr("COALESCE(shiftright(bits2, CAST(p2 % 63 AS INT)) & 1, 0) = 1"))
        val nk = keys.agg(count(lit(1)).as("n_keys"))
        pr.agg(count(lit(1)).as("n_probes"),
            count(when(!col("is_member"), 1)).cast("long").as("n_nonmembers"),
            count(when(!col("is_member") && col("bloom_hit"), 1)).cast("long")
              .as("n_false_pos"),
            count(when(col("is_member") && !col("bloom_hit"), 1)).cast("long")
              .as("n_false_neg"))
          .crossJoin(broadcast(nk)).crossJoin(broadcast(fstat))
          .select(col("n_keys"), col("set_bits"), col("n_probes"),
            col("n_nonmembers"), col("n_false_pos"), col("n_false_neg"),
            when(col("n_nonmembers") === 0, lit(null).cast("long"))
              .otherwise(expr("CAST(n_false_pos * 1000000 div n_nonmembers AS BIGINT)"))
              .as("fpr_ppm"),
            expr(s"CAST(set_bits * set_bits * 1000000 div ${M * M}L AS BIGINT)")
              .as("est_fpr_ppm"))
      })
  }

  /** SKETCH-MERGE audit — the property that makes q244's stats
    * COLLECTIBLE at 100 TB: ANALYZE runs per file and merges, so the
    * per-file sketches must merge to exactly the whole-table sketch.
    * Demonstrated live: lineitem is dealt into 4 shards (l_orderkey %
    * 4 — a stand-in for partition files), a portable HLL over
    * l_extendedprice cents is built PER SHARD, the shards are merged
    * by per-bucket register MAX (the HLL merge operator — associative
    * and commutative, so any merge tree gives the same registers), and
    * the merged estimate is emitted NEXT TO the monolithic
    * whole-table build. The two rows carrying identical integers IS
    * the mergeability proof, hash-checked by the driver on both
    * engines — not asserted, measured. Per-shard rows show each
    * shard's own (smaller) cardinality for scale context. Same
    * estimator kernel as q244 (quadratic mix, pow2 rank frame,
    * embedded linear-counting table). Scale shape: one scan →
    * (shard, bucket) rollup (map-side combined, ≤ 4×128 groups);
    * merge/monolithic are rollups OVER that tiny table. Output: 6
    * rows. HASH-MATCHED. */
  val q260 = {
    import graft.functions.PortableHashKernels.{P, a, b}
    val (a1, b1, a2, b2) = (a(13), b(13), a(14), b(14)) // q244's streams: same sketch family
    val lcVals = (1 to 128).map(v =>
      s"($v, ${math.round(128.0 * math.log(128.0 / v))})").mkString(", ")
    // estimator tail over (grp, bucket, mx) — shared SQL fragment
    def estSql(src: String): String =
      s"""SELECT grp,
         |  CAST(128 - count(*) AS BIGINT) AS n_empty,
         |  CAST(SUM(CAST(1 AS BIGINT) << CAST(47 - mx AS INTEGER))
         |       + (128 - count(*)) * 140737488355328 AS BIGINT) AS zs
         |FROM $src GROUP BY 1""".stripMargin
    QueryDef.oracle("q260_stats_merge_audit",
      s"""WITH k AS (SELECT l_orderkey % 4 AS shard,
         |             CAST(round(l_extendedprice * 100) AS BIGINT) AS kv
         |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |h AS (SELECT shard, ((kv % $P) + $P) % $P AS pm FROM k),
         |mt AS (SELECT shard, (pm * pm + 3 * pm + 7) % $P AS tm FROM h),
         |wd AS (SELECT shard, (tm * $a1 + $b1) % $P AS h1,
         |              (tm * $a2 + $b2) % $P AS h2 FROM mt),
         |b0 AS (SELECT shard, h2 % 128 AS bucket,
         |         ((h1 * 8388608) // $P) * 8388608 + (h2 * 8388608) // $P AS w
         |       FROM wd),
         |m1 AS (SELECT shard, bucket, w | (w >> 1) AS w FROM b0),
         |m2 AS (SELECT shard, bucket, w | (w >> 2) AS w FROM m1),
         |m3 AS (SELECT shard, bucket, w | (w >> 4) AS w FROM m2),
         |m4 AS (SELECT shard, bucket, w | (w >> 8) AS w FROM m3),
         |m5 AS (SELECT shard, bucket, w | (w >> 16) AS w FROM m4),
         |m6 AS (SELECT shard, bucket, w | (w >> 32) AS w FROM m5),
         |sr AS (SELECT shard, bucket,
         |         MAX(47 - CAST(bit_count(w) AS BIGINT)) AS mx
         |       FROM m6 GROUP BY 1, 2),
         |shz AS (SELECT 'shard_' || CAST(shard AS VARCHAR) AS grp, bucket, mx
         |        FROM sr),
         |mgz AS (SELECT 'merged' AS grp, bucket, MAX(mx) AS mx
         |        FROM sr GROUP BY 2),
         |mnz AS (SELECT 'monolithic' AS grp, bucket,
         |          MAX(47 - CAST(bit_count(w) AS BIGINT)) AS mx
         |        FROM m6 GROUP BY 2),
         |allz AS (${estSql("shz")} UNION ALL ${estSql("mgz")}
         |         UNION ALL ${estSql("mnz")}),
         |raw AS (SELECT grp, n_empty,
         |          CAST(CAST(715271 AS HUGEINT) * 16384 * 140737488355328
         |               // zs // 1000000 AS BIGINT) AS raw_est
         |        FROM allz)
         |SELECT r.grp, r.n_empty,
         |       CAST(CASE WHEN r.n_empty > 0 AND r.raw_est <= 320
         |            THEN lc.lc_est ELSE r.raw_est END AS BIGINT) AS est_ndv
         |FROM raw r LEFT JOIN (VALUES $lcVals) AS lc(v, lc_est)
         |  ON r.n_empty = lc.v""".stripMargin)(
      (s, d) => {
        val k = Tables.lineitem(s, d)
          .filter(col("l_extendedprice").isNotNull)
          .select((col("l_orderkey") % 4).as("shard"),
            round(col("l_extendedprice") * 100).cast("long").as("kv"))
        val bw = k
          .withColumn("pm", pmod(col("kv"), lit(P)))
          .withColumn("tm", expr(s"(pm * pm + 3L * pm + 7L) % ${P}L"))
          .withColumn("h1", expr(s"(tm * ${a1}L + ${b1}L) % ${P}L"))
          .withColumn("h2", expr(s"(tm * ${a2}L + ${b2}L) % ${P}L"))
          .withColumn("bucket", expr("h2 % 128L"))
          .withColumn("w", expr(
            s"((h1 * 8388608L) div ${P}L) * 8388608L + (h2 * 8388608L) div ${P}L"))
        val sm = Seq(1, 2, 4, 8, 16, 32).foldLeft(bw)((df, i) =>
          df.withColumn("w", expr(s"w | shiftright(w, $i)")))
        val sr = sm
          .withColumn("rho", expr("47L - CAST(bit_count(w) AS BIGINT)"))
          .groupBy("shard", "bucket").agg(max("rho").as("mx"))
          .localCheckpoint(false) // <=512 rows feed three estimator legs
        val shz = sr.select(
          concat(lit("shard_"), col("shard").cast("string")).as("grp"),
          col("bucket"), col("mx"))
        val mgz = sr.groupBy("bucket").agg(max("mx").as("mx"))
          .select(lit("merged").as("grp"), col("bucket"), col("mx"))
        // monolithic leg re-derives from the RAW bucket stream (a second
        // pass), NOT from the shard rollup — the equality with `merged`
        // is then a measured property of register-max associativity,
        // not a tautology of reusing the same rollup
        val mnz = sm
          .withColumn("rho", expr("47L - CAST(bit_count(w) AS BIGINT)"))
          .groupBy("bucket").agg(max("rho").as("mx"))
          .select(lit("monolithic").as("grp"), col("bucket"), col("mx"))
        val allz = shz.unionByName(mgz).unionByName(mnz)
          .groupBy("grp")
          .agg((lit(128L) - count(lit(1))).as("n_empty"),
            (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(47 - mx AS INT))"))
              + (lit(128L) - count(lit(1))) * 140737488355328L).as("zs"))
        val lc = (1 to 128).map(v =>
          (v.toLong, math.round(128.0 * math.log(128.0 / v))))
        val lcDf = s.createDataFrame(lc).toDF("v", "lc_est")
        allz
          .withColumn("raw_est", expr(
            "CAST(CAST(715271 AS DECIMAL(38,0)) * 16384 * 140737488355328" +
              " div zs div 1000000 AS BIGINT)"))
          .join(broadcast(lcDf), col("n_empty") === col("v"), "left")
          .select(col("grp"), col("n_empty"),
            expr("CAST(CASE WHEN n_empty > 0 AND raw_est <= 320" +
              " THEN lc_est ELSE raw_est END AS BIGINT)").as("est_ndv"))
      })
  }

  /** LAYOUT CLUSTERING FACTOR — the audit between q244's zone-map
    * stats and q245's z-order rewrite: how clustered is each candidate
    * column under the CURRENT ingest order (l_orderkey, l_linenumber)?
    * Per column, over 4096-orderkey zones: adjacent descents (a
    * perfectly clustered column has ~0, a random one ~50%) and the
    * zone-skip readout — how many zones' [min, max] contain the
    * column's global mid value, i.e. survive a point-predicate's
    * min/max pruning. l_shipdate is correlated with ingest order (few
    * descents, few zones hit) on a real ingest feed; on THIS synthetic
    * corpus both columns measure ~random (≈500k ppm descents, every
    * zone hit) — which is itself the audit's verdict: no column is
    * pre-clustered, so zone maps buy nothing until an ingest re-sort
    * or the q245 z-order rewrite creates the clustering. Scale
    * shape: zone-keyed lag windows (never a global order-by), zone
    * rollup, 1-row global minmax broadcast; 2-row output.
    * HASH-MATCHED. */
  val q283 = QueryDef.oracle("q283_clustering_factor",
    """WITH b AS (SELECT l_orderkey // 4096 AS zone, l_orderkey, l_linenumber,
      |             date_diff('second', TIMESTAMP '1970-01-01', l_shipdate)
      |               // 86400 AS ship_d,
      |             CAST(l_partkey AS BIGINT) AS pk
      |           FROM lineitem),
      |w AS (SELECT zone, ship_d, pk,
      |        lag(ship_d) OVER (PARTITION BY zone
      |          ORDER BY l_orderkey, l_linenumber, ship_d, pk) AS prev_ship,
      |        lag(pk) OVER (PARTITION BY zone
      |          ORDER BY l_orderkey, l_linenumber, ship_d, pk) AS prev_pk
      |      FROM b),
      |pairs AS (SELECT
      |    CAST(count(prev_ship) AS BIGINT) AS n_pairs,
      |    CAST(count(CASE WHEN ship_d < prev_ship THEN 1 END) AS BIGINT) AS d_ship,
      |    CAST(count(CASE WHEN pk < prev_pk THEN 1 END) AS BIGINT) AS d_pk
      |  FROM w),
      |zs AS (SELECT zone, min(ship_d) AS zmin_s, max(ship_d) AS zmax_s,
      |              min(pk) AS zmin_p, max(pk) AS zmax_p
      |       FROM b GROUP BY 1),
      |g AS (SELECT (min(zmin_s) + max(zmax_s)) // 2 AS mid_s,
      |             (min(zmin_p) + max(zmax_p)) // 2 AS mid_p,
      |             CAST(count(*) AS BIGINT) AS zones_total
      |      FROM zs),
      |hits AS (SELECT
      |    CAST(count(CASE WHEN z.zmin_s <= g.mid_s AND g.mid_s <= z.zmax_s
      |               THEN 1 END) AS BIGINT) AS hit_s,
      |    CAST(count(CASE WHEN z.zmin_p <= g.mid_p AND g.mid_p <= z.zmax_p
      |               THEN 1 END) AS BIGINT) AS hit_p
      |  FROM zs z, g)
      |SELECT c.col_name, p.n_pairs,
      |       CASE c.col_name WHEN 'l_shipdate' THEN p.d_ship ELSE p.d_pk END AS n_desc,
      |       CAST(CASE c.col_name WHEN 'l_shipdate' THEN p.d_ship ELSE p.d_pk END
      |            * 1000000 // p.n_pairs AS BIGINT) AS desc_ppm,
      |       g.zones_total,
      |       CASE c.col_name WHEN 'l_shipdate' THEN h.hit_s ELSE h.hit_p END AS zones_hit_mid
      |FROM (VALUES ('l_shipdate'), ('l_partkey')) AS c(col_name),
      |     pairs p, g, hits h""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val b = Tables.lineitem(s, d).select(
        expr("l_orderkey div 4096").as("zone"),
        col("l_orderkey"), col("l_linenumber"),
        expr("unix_timestamp(l_shipdate) div 86400").as("ship_d"),
        col("l_partkey").cast("long").as("pk"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
      // (11.8k dup pairs at sf0.01) — the measured columns join the sort
      // key so the scan order is total over everything lag() reads and
      // both engines count identical descents
      val ord = Window.partitionBy("zone")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_d"), col("pk"))
      val w = b.select(col("ship_d"), col("pk"),
        lag("ship_d", 1).over(ord).as("prev_ship"),
        lag("pk", 1).over(ord).as("prev_pk"))
      val pairs = w.agg(
        count(col("prev_ship")).as("n_pairs"),
        count(when(col("ship_d") < col("prev_ship"), 1)).as("d_ship"),
        count(when(col("pk") < col("prev_pk"), 1)).as("d_pk"))
      val zs = b.groupBy("zone").agg(
        min("ship_d").as("zmin_s"), max("ship_d").as("zmax_s"),
        min("pk").as("zmin_p"), max("pk").as("zmax_p"))
        .localCheckpoint(false) // zone table feeds both g and hits
      val g = zs.agg(
        expr("(min(zmin_s) + max(zmax_s)) div 2").as("mid_s"),
        expr("(min(zmin_p) + max(zmax_p)) div 2").as("mid_p"),
        count(lit(1)).as("zones_total"))
      val hits = zs.crossJoin(broadcast(g)).agg(
        count(when(col("zmin_s") <= col("mid_s") && col("mid_s") <= col("zmax_s"), 1))
          .as("hit_s"),
        count(when(col("zmin_p") <= col("mid_p") && col("mid_p") <= col("zmax_p"), 1))
          .as("hit_p"))
      val axis = s.createDataFrame(Seq(Tuple1("l_shipdate"), Tuple1("l_partkey")))
        .toDF("col_name")
      axis.crossJoin(broadcast(pairs)).crossJoin(broadcast(g))
        .crossJoin(broadcast(hits))
        .select(col("col_name"), col("n_pairs"),
          when(col("col_name") === "l_shipdate", col("d_ship"))
            .otherwise(col("d_pk")).as("n_desc"),
          expr("CAST(CASE WHEN col_name = 'l_shipdate' THEN d_ship ELSE d_pk END" +
            " * 1000000 div n_pairs AS BIGINT)").as("desc_ppm"),
          col("zones_total"),
          when(col("col_name") === "l_shipdate", col("hit_s"))
            .otherwise(col("hit_p")).as("zones_hit_mid"))
    })

  /** IDF DRIFT between corpus snapshots — the term-level view the
    * snapshot family's doc-level (q190) and type-level (q239) reports
    * can't give: which TERMS' document frequencies moved most between
    * the old and new snapshot (the shared drift-pinned views)? A
    * quietly rising navigation/boilerplate token or a falling content
    * token is a crawl-pipeline change the per-doc diff counts hide.
    * Per token: df in each snapshot as exact ppm of that snapshot's
    * doc count, shift = new − old, top 15 by |shift| (desc, token
    * tiebreak). Scale shape: two distinct-(doc, token) explodes →
    * vocab-sized map-side df rollups → full-outer token merge →
    * TakeOrderedAndProject. HASH-MATCHED. */
  val q288 = QueryDef.oracle("q288_idf_drift",
    s"""WITH v_old AS (
       |  SELECT doc_id, $snapshotOldTextSql AS text
       |  FROM documents WHERE $snapshotOldPred),
       |v_new AS (
       |  SELECT doc_id, text FROM documents WHERE $snapshotNewPred),
       |t_old AS (SELECT DISTINCT doc_id, unnest(list_filter(
       |            regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
       |          FROM v_old),
       |t_new AS (SELECT DISTINCT doc_id, unnest(list_filter(
       |            regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
       |          FROM v_new),
       |df_old AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t_old GROUP BY 1),
       |df_new AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t_new GROUP BY 1),
       |n_old AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v_old),
       |n_new AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v_new),
       |m AS (SELECT COALESCE(o.tok, nw.tok) AS tok,
       |        CAST(COALESCE(o.df, 0) * 1000000 // no.n AS BIGINT) AS df_old_ppm,
       |        CAST(COALESCE(nw.df, 0) * 1000000 // nn.n AS BIGINT) AS df_new_ppm
       |      FROM df_old o FULL OUTER JOIN df_new nw ON o.tok = nw.tok,
       |           n_old no, n_new nn)
       |SELECT tok, df_old_ppm, df_new_ppm,
       |       df_new_ppm - df_old_ppm AS shift_ppm
       |FROM m
       |ORDER BY abs(df_new_ppm - df_old_ppm) DESC, tok
       |LIMIT 15""".stripMargin)(
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      val docs = Tables.documents(s, d)
      def dfOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), explode(array_distinct(
          tokens(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val vOld = docs.filter(expr(snapshotOldPred))
        .select(col("doc_id"), snapshotOldText.as("text"))
      val vNew = docs.filter(expr(snapshotNewPred))
        .select(col("doc_id"), col("text"))
      val dfo = dfOf(vOld).select(col("tok"), col("df").as("df_o"))
      val dfn = dfOf(vNew).select(col("tok").as("tok_n"), col("df").as("df_n"))
      val no = vOld.agg(count(lit(1)).as("n_o"))
      val nn = vNew.agg(count(lit(1)).as("n_n"))
      dfo.join(dfn, col("tok") === col("tok_n"), "full_outer")
        .crossJoin(broadcast(no)).crossJoin(broadcast(nn))
        .select(coalesce(col("tok"), col("tok_n")).as("tok"),
          expr("CAST(COALESCE(df_o, 0) * 1000000 div n_o AS BIGINT)")
            .as("df_old_ppm"),
          expr("CAST(COALESCE(df_n, 0) * 1000000 div n_n AS BIGINT)")
            .as("df_new_ppm"))
        .withColumn("shift_ppm", col("df_new_ppm") - col("df_old_ppm"))
        .orderBy(abs(col("shift_ppm")).desc, col("tok"))
        .limit(15)
    })

  /** HASH-PARTITION BALANCE AUDIT — the question q262's per-KEY plan
    * doesn't answer: after the hash deals keys to the 32 reducers, how
    * even are the PARTITIONS? A few heavy keys colliding into one
    * reducer is invisible to key-level stats and to AQE until runtime.
    * Per candidate shuffle key (the engine's real ones: lineitem's
    * suppkey/orderkey, events.user_id, documents.source), rows are
    * bucketed by the portable mixed hash mod 32 (the q244 quadratic
    * mix, so arithmetic-progression keys don't stripe), then per
    * candidate: hottest-partition rows, imbalance = max·32·10⁶/total
    * (10⁶ = perfectly even), and empty reducers. documents.source is
    * the designed pathology — ~20 values into 32 partitions CANNOT
    * balance, the printed number says exactly how bad. Scale shape:
    * one map-side (candidate, partition) rollup per fact — ≤ 4×32
    * groups survive the partial — then a 4-row stats tail.
    * HASH-MATCHED. */
  val q289 = QueryDef.oracle("q289_partition_balance_audit", {
    import graft.functions.PortableHashKernels.P
    def arm(cand: String, table: String, keyHash: String): String =
      s"SELECT '$cand' AS candidate, (($keyHash) * ($keyHash) + 3 * ($keyHash) + 7) % $P % 32 AS prt FROM $table"
    val cp = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(source, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(a, b) -> (a * 131 + b) % $P)"
    s"""WITH arms AS (
       |  ${arm("lineitem_suppkey", "lineitem", s"CAST(l_suppkey AS BIGINT) % $P")}
       |  UNION ALL
       |  ${arm("lineitem_orderkey", "lineitem", s"CAST(l_orderkey AS BIGINT) % $P")}
       |  UNION ALL
       |  ${arm("events_user", "events", s"CAST(user_id AS BIGINT) % $P")}
       |  UNION ALL
       |  ${arm("documents_source", "documents", cp)}),
       |pc AS (SELECT candidate, prt, CAST(count(*) AS BIGINT) AS n
       |       FROM arms GROUP BY 1, 2)
       |SELECT candidate,
       |       CAST(SUM(n) AS BIGINT) AS total_rows,
       |       CAST(MAX(n) AS BIGINT) AS max_partition_rows,
       |       CAST(MAX(n) * 32 * 1000000 // SUM(n) AS BIGINT)
       |         AS imbalance_ppm,
       |       CAST(32 - count(*) AS BIGINT) AS n_empty
       |FROM pc GROUP BY 1""".stripMargin})(
    (s, d) => {
      import graft.functions.PortableHashKernels.P
      import graft.functions.HashFunctions.portableCpHashNative
      def arm(cand: String, df: DataFrame, th: Column): DataFrame =
        df.select(lit(cand).as("candidate"),
          ((th * th + th * 3L + 7L) % P % 32L).as("prt"))
      val arms =
        arm("lineitem_suppkey", Tables.lineitem(s, d),
          pmod(col("l_suppkey").cast("long"), lit(P)))
          .unionByName(arm("lineitem_orderkey", Tables.lineitem(s, d),
            pmod(col("l_orderkey").cast("long"), lit(P))))
          .unionByName(arm("events_user", Tables.events(s, d),
            pmod(col("user_id").cast("long"), lit(P))))
          .unionByName(arm("documents_source", Tables.documents(s, d),
            portableCpHashNative(col("source"))))
      arms.groupBy("candidate", "prt").agg(count(lit(1)).as("n"))
        .groupBy("candidate").agg(
          sum("n").cast("long").as("total_rows"),
          max("n").cast("long").as("max_partition_rows"),
          expr("CAST(MAX(n) * 32 * 1000000 div SUM(n) AS BIGINT)")
            .as("imbalance_ppm"),
          (lit(32L) - count(lit(1))).as("n_empty"))
    })

  /** SNAPSHOT LENGTH-DISTRIBUTION DRIFT — the two-sample KS test
    * between the old and new snapshot's per-source document-length
    * distributions (the shared drift-pinned views): q190 counts WHAT
    * changed, q288 tracks term DF — this asks whether the SHAPE of
    * the content moved (a crawler that starts truncating, a new
    * boilerplate footer, a pagination change all move the length CDF
    * before any term does). Same integer-ppm KS machinery as q258
    * (cumulative counts over the (source, length) rollup, D =
    * max |F_old − F_new| in ppm vs the 1.358·√((n+m)/nm) critical
    * value). Scale shape: one map-side (source, len, snapshot-tag)
    * rollup → source-keyed cumsum windows over the ROLLUP →
    * |sources|-row verdicts. HASH-MATCHED. */
  val q293 = QueryDef.oracle("q293_length_distribution_drift",
    s"""WITH u AS (
       |  SELECT source, length($snapshotOldTextSql) AS ln, 1 AS is_old
       |  FROM documents WHERE $snapshotOldPred
       |  UNION ALL
       |  SELECT source, length(text) AS ln, 0 AS is_old
       |  FROM documents WHERE $snapshotNewPred),
       |vc AS (SELECT source, ln,
       |         CAST(SUM(is_old) AS BIGINT) AS co,
       |         CAST(SUM(1 - is_old) AS BIGINT) AS cn
       |       FROM u GROUP BY 1, 2),
       |cum AS (SELECT source, ln,
       |          SUM(co) OVER (PARTITION BY source ORDER BY ln) AS fo,
       |          SUM(cn) OVER (PARTITION BY source ORDER BY ln) AS fn,
       |          SUM(co) OVER (PARTITION BY source) AS no,
       |          SUM(cn) OVER (PARTITION BY source) AS nn
       |        FROM vc),
       |d AS (SELECT source, no, nn,
       |        MAX(ABS(fo * 1000000 // no - fn * 1000000 // nn)) AS d_ppm
       |      FROM cum GROUP BY 1, 2, 3)
       |SELECT source, CAST(no AS BIGINT) AS n_old, CAST(nn AS BIGINT) AS n_new,
       |       CAST(d_ppm AS BIGINT) AS d_ppm,
       |       CAST(round(1358000 * sqrt((no + nn) * 1.0 / (no * nn)))
       |            AS BIGINT) AS crit_ppm,
       |       d_ppm > CAST(round(1358000 * sqrt((no + nn) * 1.0 / (no * nn)))
       |               AS BIGINT) AS drifted
       |FROM d""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val u = docs.filter(expr(snapshotOldPred))
        .select(col("source"), length(snapshotOldText).as("ln"),
          lit(1L).as("is_old"))
        .unionByName(docs.filter(expr(snapshotNewPred))
          .select(col("source"), length(col("text")).as("ln"),
            lit(0L).as("is_old")))
      val vc = u.groupBy("source", "ln")
        .agg(sum("is_old").as("co"), sum(lit(1L) - col("is_old")).as("cn"))
      val wOrd = Window.partitionBy("source").orderBy("ln")
      val wAll = Window.partitionBy("source")
      val cum = vc
        .withColumn("fo", sum("co").over(wOrd))
        .withColumn("fn", sum("cn").over(wOrd))
        .withColumn("no", sum("co").over(wAll))
        .withColumn("nn", sum("cn").over(wAll))
      val dd = cum.groupBy("source", "no", "nn")
        .agg(max(abs(expr("fo * 1000000 div no - fn * 1000000 div nn")))
          .as("d_ppm"))
      val crit = round(lit(1358000) *
        sqrt((col("no") + col("nn")) * lit(1.0) / (col("no") * col("nn"))))
        .cast("long")
      dd.select(col("source"), col("no").cast("long").as("n_old"),
        col("nn").cast("long").as("n_new"),
        col("d_ppm").cast("long").as("d_ppm"),
        crit.as("crit_ppm"),
        (col("d_ppm") > crit).as("drifted"))
    })

  /** Columns the encoding advisor prices, each canonicalized to a
    * BIGINT (single chars by code point, money/discounts in exact
    * cents, dates in epoch days) so one uniform runs kernel covers
    * every type — the (name, DuckDB expr, Spark expr) triples are ONE
    * list so the two engines cannot disagree on the canon. */
  private val EncodingCols: Seq[(String, String, String)] = Seq(
    ("l_returnflag", "CAST(unicode(l_returnflag) AS BIGINT)",
      "CAST(ascii(l_returnflag) AS BIGINT)"),
    ("l_linestatus", "CAST(unicode(l_linestatus) AS BIGINT)",
      "CAST(ascii(l_linestatus) AS BIGINT)"),
    // FLOOR before the BIGINT cast in BOTH engines: DuckDB's
    // double->BIGINT cast rounds to nearest while Spark's truncates —
    // integral fixtures hide the divergence, fractional quantities
    // (standard in decimal TPC-H variants) would not (ADVICE r13)
    ("l_quantity", "CAST(FLOOR(l_quantity) AS BIGINT)",
      "CAST(FLOOR(l_quantity) AS BIGINT)"),
    ("l_discount", "CAST(round(l_discount * 100) AS BIGINT)",
      "CAST(round(l_discount * 100) AS BIGINT)"),
    ("l_shipdate", "CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)",
      "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)"),
    ("l_suppkey", "l_suppkey", "l_suppkey"))

  /** COLUMN-ENCODING ADVISOR — the storage-layout audit behind a
    * parquet rewrite: under the canonical clustered order
    * (l_orderkey, l_linenumber), how many RUNS does each column carry,
    * and does RLE-over-dictionary beat plain dictionary for it? Run
    * counting under a total order is the part that doesn't distribute
    * naively (it's a global lag), so the kernel folds HIERARCHICALLY:
    * level 0 counts value changes WITHIN each orderkey (a keyed window
    * over ≤7-row groups), level 1 counts changes across consecutive
    * orderkeys within an orderkey-bucket (ok div 1024 — a keyed window
    * over the per-orderkey first/last rollup), level 2 counts changes
    * across consecutive buckets (a per-column window over the
    * |buckets|-row rollup). total runs = 1 + Σ changes, exactly — and
    * the fold nests: at 100 TB you add one more level at bucket²
    * grain, same trick, so no window ever sees fact-scale input in one
    * partition. Per column: rows, exact NDV, runs, mean run length in
    * milli, dictionary bits/value (ceil log2 NDV via the q224 bit-smear,
    * float-free), the cheaper encoding between dict-plain and
    * RLE(len32)+dict (both charged the nd·64-bit dictionary), and the
    * saving vs 64-bit plain in exact ppm. Columns stack through ONE
    * lineitem scan (6 rows out per row in); the verdict is the
    * rewrite plan a 100-TB table layout review reads. Scale shape: one
    * scan → stack → (col, ok)-keyed windows/rollups → bucket rollups →
    * 6-row advisor table. Output: one row per column. HASH-MATCHED. */
  val q324 = {
    val duckArms = EncodingCols.map { case (n, duck, _) =>
      s"SELECT '$n' AS c, l_orderkey AS ok, l_linenumber AS ln, $duck AS v FROM lineitem"
    }
    // ceil(log2(nd)) for nd >= 2 via bit-smear of (nd-1); 0 for nd = 1
    val smearDuck = Seq(1, 2, 4, 8, 16, 32).foldLeft("(n_distinct - 1)")(
      (acc, k) => s"(($acc) | (($acc) >> $k))")
    QueryDef.oracle("q324_encoding_advisor",
      s"""WITH st AS (${duckArms.mkString("\nUNION ALL\n")}),
         |l0 AS (SELECT c, ok, v,
         |         CAST(ln AS BIGINT) * 281474976710656 + v AS pk,
         |         LAG(v) OVER (PARTITION BY c, ok
         |           ORDER BY CAST(ln AS BIGINT) * 281474976710656 + v) AS pv
         |       FROM st),
         |g1 AS (SELECT c, ok, ok // 1024 AS bk, CAST(count(*) AS BIGINT) AS n,
         |         CAST(SUM(CASE WHEN pv IS NOT NULL AND pv <> v
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS ch0,
         |         min_by(v, pk) AS fv, max_by(v, pk) AS lv
         |       FROM l0 GROUP BY 1, 2, 3),
         |l1 AS (SELECT c, ok, bk, n, ch0, fv, lv,
         |         LAG(lv) OVER (PARTITION BY c, bk ORDER BY ok) AS plv
         |       FROM g1),
         |g2 AS (SELECT c, bk, CAST(SUM(n) AS BIGINT) AS n,
         |         CAST(SUM(ch0) AS BIGINT) AS ch0, CAST(SUM(CASE WHEN plv IS NOT NULL
         |           AND plv <> fv THEN 1 ELSE 0 END) AS BIGINT) AS ch1,
         |         min_by(fv, ok) AS fb, max_by(lv, ok) AS lb
         |       FROM l1 GROUP BY 1, 2),
         |l2 AS (SELECT c, bk, n, ch0, ch1, fb, lb,
         |         LAG(lb) OVER (PARTITION BY c ORDER BY bk) AS plb
         |       FROM g2),
         |g3 AS (SELECT c, CAST(SUM(n) AS BIGINT) AS n_rows,
         |         CAST(1 + SUM(ch0) + SUM(ch1)
         |              + SUM(CASE WHEN plb IS NOT NULL AND plb <> fb
         |                    THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
         |       FROM l2 GROUP BY 1),
         |nd AS (SELECT c, CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
         |       FROM st GROUP BY 1),
         |db AS (SELECT g3.c, n_rows, n_distinct, n_runs,
         |         CASE WHEN n_distinct <= 1 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(bit_count($smearDuck) AS BIGINT)
         |         END AS dict_bits
         |       FROM g3 JOIN nd ON g3.c = nd.c),
         |e AS (SELECT *, n_rows * dict_bits + n_distinct * 64 AS dict_total,
         |        n_runs * (dict_bits + 32) + n_distinct * 64 AS rle_total
         |      FROM db)
         |SELECT c AS col_name, n_rows, n_distinct, n_runs,
         |       CAST(n_rows * 1000 // n_runs AS BIGINT) AS avg_run_milli,
         |       dict_bits,
         |       CASE WHEN rle_total < dict_total THEN 'rle_dict'
         |            ELSE 'dict' END AS enc_pick,
         |       CAST((n_rows * 64 - least(dict_total, rle_total)) * 1000000
         |            // (n_rows * 64) AS BIGINT) AS savings_ppm
         |FROM e""".stripMargin)(
      (s, d) => {
        // r15 optimization (guide §2.3, narrower types): the fact×6
        // stack used to carry the column NAME string through every
        // window sort and rollup key — the ordinal rides instead, and
        // the name comes back from a 6-entry literal array at the
        // 6-row advisor tail.
        val canon = EncodingCols.zipWithIndex
          .map { case ((_, _, sp), i) => s"$i, $sp" }
        val cnOf =
          s"array(${EncodingCols.map(c => s"'${c._1}'").mkString(", ")})[c]"
        val st = Tables.lineitem(s, d).selectExpr(
          "l_orderkey AS ok", "l_linenumber AS ln",
          s"stack(${EncodingCols.size}, ${canon.mkString(", ")}) AS (c, v)")
        // (ok, ln) is NOT unique in this corpus (the generator repeats
        // line numbers), so the clustered order is totalized by the
        // value itself: pk = ln·2⁴⁸ + v (every canon value is
        // non-negative and < 2⁴⁸) — a tie-grouped order is also what a
        // real rewrite would emit, and both engines sort identically
        val pkE = "CAST(ln AS BIGINT) * 281474976710656 + v"
        val w0 = Window.partitionBy("c", "ok").orderBy(expr(pkE))
        val g1 = st.withColumn("pk", expr(pkE))
          .withColumn("pv", lag("v", 1).over(w0))
          .groupBy("c", "ok")
          .agg(count(lit(1)).as("n"),
            sum(when(col("pv").isNotNull && col("pv") =!= col("v"), 1L)
              .otherwise(0L)).as("ch0"),
            expr("min_by(v, pk)").as("fv"), expr("max_by(v, pk)").as("lv"))
          .withColumn("bk", expr("ok div 1024"))
        val w1 = Window.partitionBy("c", "bk").orderBy("ok")
        val g2 = g1.withColumn("plv", lag("lv", 1).over(w1))
          .groupBy("c", "bk")
          .agg(sum("n").as("n"), sum("ch0").as("ch0"),
            sum(when(col("plv").isNotNull && col("plv") =!= col("fv"), 1L)
              .otherwise(0L)).as("ch1"),
            expr("min_by(fv, ok)").as("fb"), expr("max_by(lv, ok)").as("lb"))
        val w2 = Window.partitionBy("c").orderBy("bk")
        val g3 = g2.withColumn("plb", lag("lb", 1).over(w2))
          .groupBy("c")
          .agg((lit(1L) + sum("ch0") + sum("ch1")
            + sum(when(col("plb").isNotNull && col("plb") =!= col("fb"), 1L)
              .otherwise(0L))).as("n_runs"),
            sum("n").as("n_rows"))
        val nd = st.groupBy("c").agg(countDistinct("v").as("n_distinct"))
        // same shift list as smearDuck (incl. the final >>32 stage) so
        // dict_bits cannot diverge once n_distinct-1 >= 2^32 (ADVICE r13)
        val smear = Seq(1, 2, 4, 8, 16, 32).foldLeft("(n_distinct - 1)")(
          (acc, k) => s"(($acc) | (shiftright(($acc), $k)))")
        g3.join(broadcast(nd), Seq("c"))
          .withColumn("c", expr(cnOf))
          .withColumn("dict_bits", expr(
            s"CASE WHEN n_distinct <= 1 THEN CAST(0 AS BIGINT) " +
              s"ELSE CAST(bit_count($smear) AS BIGINT) END"))
          .withColumn("dict_total",
            expr("n_rows * dict_bits + n_distinct * 64"))
          .withColumn("rle_total",
            expr("n_runs * (dict_bits + 32) + n_distinct * 64"))
          .select(col("c").as("col_name"), col("n_rows"), col("n_distinct"),
            col("n_runs"),
            expr("CAST(n_rows * 1000 div n_runs AS BIGINT)").as("avg_run_milli"),
            col("dict_bits"),
            when(col("rle_total") < col("dict_total"), "rle_dict")
              .otherwise("dict").as("enc_pick"),
            expr("CAST((n_rows * 64 - least(dict_total, rle_total)) * 1000000" +
              " div (n_rows * 64) AS BIGINT)").as("savings_ppm"))
      })
  }

  /** Bits-per-key grid q335 prices; k* = round(ln2·b) and the FPR
    * constant (1 − e^(−k/b))^k depend ONLY on the grid point, so both
    * are precomputed here and embedded as identical literals in both
    * engines (the q224 linear-counting trick — no exp() at query
    * time). */
  private val BloomGrid: Seq[(Long, Long, Long)] = Seq(8L, 10L, 12L, 16L)
    .map { b =>
      val k = math.round(math.log(2) * b)
      (b, k, math.round(math.pow(1 - math.exp(-k.toDouble / b), k.toDouble) * 1e6))
    }

  /** BLOOM-FILTER SIZING ADVISOR — the capacity-planning table behind
    * q256's runtime filter and q125's prefilter join: given the build
    * side (orders with o_totalprice > 150000 — the selective dimension
    * predicate a bloom pushdown serves) and the probe side (every
    * lineitem row), price each bits-per-key budget: optimal k, the
    * false-positive rate (a PURE grid constant (1−e^(−k/b))^k —
    * precomputed once, embedded as the same ppm literal in both
    * engines), filter size, and the expected false-positive ROWS =
    * non-matching probes × FPR — the number that says whether 8 vs 16
    * bits/key matters for THIS join. n-keys/probes/matches are exact
    * corpus counts (the semi-join the bloom would replace, run once as
    * ground truth). Scale shape: one orders scan (distinct build keys),
    * one lineitem scan + one keyed semi-join count, then a 4-row
    * literal grid crossed with the 1-row stat table. Output: one row
    * per bits-per-key. HASH-MATCHED. */
  val q335 = {
    val gridVals = BloomGrid.map { case (b, k, f) => s"($b, $k, $f)" }
      .mkString(", ")
    QueryDef.oracle("q335_bloom_sizing",
      s"""WITH bk AS (SELECT DISTINCT o_orderkey FROM orders
         |            WHERE o_totalprice > 150000),
         |st AS (SELECT
         |         (SELECT CAST(count(*) AS BIGINT) FROM bk) AS n_keys,
         |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_probes,
         |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem
         |          WHERE l_orderkey IN (SELECT o_orderkey FROM bk))
         |           AS n_matching),
         |g AS (SELECT * FROM (VALUES $gridVals) AS g(bpk, k_opt, fpr_ppm))
         |SELECT CAST(g.bpk AS BIGINT) AS bits_per_key,
         |       CAST(g.k_opt AS BIGINT) AS k_opt,
         |       CAST(g.fpr_ppm AS BIGINT) AS fpr_ppm,
         |       st.n_keys, st.n_probes, st.n_matching,
         |       CAST((st.n_probes - st.n_matching) * g.fpr_ppm // 1000000
         |            AS BIGINT) AS expected_fp_rows,
         |       CAST(g.bpk * st.n_keys // 8192 AS BIGINT) AS filter_kib
         |FROM g, st""".stripMargin)(
      (s, d) => {
        val bk = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
          .select(col("o_orderkey")).distinct()
          .localCheckpoint(false) // feeds the key count AND the semi-join
        val nk = bk.agg(count(lit(1)).as("n_keys"))
        val st = Tables.lineitem(s, d).select(col("l_orderkey"))
          .join(bk.withColumnRenamed("o_orderkey", "l_orderkey"),
            Seq("l_orderkey"), "left_semi")
          .agg(count(lit(1)).as("n_matching"))
          .crossJoin(broadcast(Tables.lineitem(s, d)
            .agg(count(lit(1)).as("n_probes"))))
          .crossJoin(broadcast(nk))
        val g = s.createDataFrame(BloomGrid).toDF("bpk", "k_opt", "fpr_ppm")
        broadcast(g).crossJoin(broadcast(st))
          .select(col("bpk").as("bits_per_key"), col("k_opt"), col("fpr_ppm"),
            col("n_keys"), col("n_probes"), col("n_matching"),
            expr("CAST((n_probes - n_matching) * fpr_ppm div 1000000" +
              " AS BIGINT)").as("expected_fp_rows"),
            expr("CAST(bpk * n_keys div 8192 AS BIGINT)").as("filter_kib"))
      })
  }

  /** Candidate functional dependencies q336 audits — (table, lhs, rhs)
    * triples a catalog/layout review wants verdicts on. ONE list so the
    * two engines test the same candidates. */
  private val FdCandidates: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderdate", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("customer", "c_nationkey", "c_mktsegment"))

  /** FUNCTIONAL-DEPENDENCY DISCOVERY — the catalog audit behind join
    * elimination, normalization and sort-key choice (and the formal
    * version of q135's referential spot-checks): for each candidate
    * lhs → rhs, does every lhs value determine ONE rhs value? Exact
    * verdict per candidate: lhs groups, violating groups (distinct rhs
    * > 1), their row mass in ppm, and the max rhs fan-out observed
    * (1 = the FD holds; the fan-out of a FAILED candidate is the
    * denormalization factor a repair would pay). A holding FD is a
    * free optimizer fact (group-by pruning, join elimination); a
    * near-holding one (violations ≈ 0) is usually a data-quality bug —
    * both readings come from the same table. Scale shape: per
    * candidate ONE column-pruned scan into a map-side (lhs, rhs)
    * rollup, then an lhs-keyed rollup — never a join. Output: one row
    * per candidate. HASH-MATCHED. */
  val q336 = {
    val duckArms = FdCandidates.map { case (t, l, r) =>
      s"""SELECT '$t' AS tbl, '$l' AS lhs, '$r' AS rhs,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(count(CASE WHEN nd > 1 THEN 1 END) AS BIGINT)
         |    AS violating_groups,
         |  CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN n END), 0) * 1000000
         |       // SUM(n) AS BIGINT) AS violating_ppm,
         |  CAST(MAX(nd) AS BIGINT) AS max_fanout,
         |  MAX(nd) = 1 AS holds
         |FROM (SELECT $l, CAST(count(DISTINCT $r) AS BIGINT) AS nd,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM $t GROUP BY 1)""".stripMargin
    }
    QueryDef.oracle("q336_fd_discovery",
      duckArms.mkString("\nUNION ALL\n"))(
      (s, d) => {
        // r16 optimization (guide §2.4/§2.6): the 6 per-candidate plans
        // (6 scans, ~18 exchange stages, 25 AQE jobs measured) were
        // barrier-bound — 1.8 s wall on 6.8 s taskSum at sf0.1. The
        // candidates now STACK per table (lhs canonicalized to BIGINT,
        // rhs to a (BIGINT, STRING) pair — see `canon` below; injective
        // for every candidate type, so distinctness and group identity
        // are untouched) and union into ONE
        // arm-keyed rollup chain: 3 column-pruned scans, one
        // (arm, lhs, rhs) partial rollup, one (arm, lhs) rollup, one
        // |candidates|-row verdict rollup. Per-candidate numbers are
        // unchanged (the arm key rides every group), so the oracle
        // stands as the proof.
        // canon: lhs always a BIGINT (timestamps via unix_micros —
        // injective), rhs as a (BIGINT, STRING) pair with exactly one
        // side non-null per arm — group keys stay longs wherever the
        // data is longs (the q244/q324 narrow-key rule, guide §2.3)
        def asLong(t: String, c: String): String =
          if (c.endsWith("date")) s"unix_micros(CAST($c AS TIMESTAMP))"
          else s"CAST($c AS BIGINT)"
        val longRhs = Set("o_custkey", "l_suppkey")
        val byTable = FdCandidates.zipWithIndex.groupBy(_._1._1)
        val stacked = byTable.toSeq.sortBy(_._1).map { case (t, arms) =>
          val exprs = arms.map { case ((_, l, r), i) =>
            val (rl, rs) =
              if (longRhs(r)) (asLong(t, r), "CAST(NULL AS STRING)")
              else ("CAST(NULL AS BIGINT)", r)
            s"$i, ${asLong(t, l)}, $rl, $rs" }
          Tables.load(s, d, t).selectExpr(
            s"stack(${arms.size}, ${exprs.mkString(", ")}) AS (arm, ll, rl, rs)")
        }.reduce(_ unionByName _)
        val byLR = stacked.groupBy("arm", "ll", "rl", "rs")
          .agg(count(lit(1)).as("cnt"))
        val byL = byLR.groupBy("arm", "ll")
          .agg(count(when(col("rl").isNotNull || col("rs").isNotNull, 1))
            .as("nd"),
            sum("cnt").as("n"))
        val verdict = byL.groupBy("arm")
          .agg(count(lit(1)).as("n_groups"),
            count(when(col("nd") > 1, 1)).cast("long").as("violating_groups"),
            expr("CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN n END), 0)" +
              " * 1000000 div SUM(n) AS BIGINT)").as("violating_ppm"),
            max("nd").as("max_fanout"))
        val litArr = (f: ((String, String, String)) => String) =>
          s"array(${FdCandidates.map(c => s"'${f(c)}'").mkString(", ")})[arm]"
        verdict.select(
          expr(litArr(_._1)).as("tbl"), expr(litArr(_._2)).as("lhs"),
          expr(litArr(_._3)).as("rhs"),
          col("n_groups"), col("violating_groups"), col("violating_ppm"),
          col("max_fanout"), (col("max_fanout") === 1).as("holds"))
      })
  }

  /** Candidate partition keys × probe predicates for q337 — ONE list
    * so both engines audit the same grid. Key exprs must be identical
    * SQL in both engines (year/month arithmetic and plain columns). */
  private val PartitionKeys: Seq[(String, String)] = Seq(
    ("month", "CAST(date_part('year', o_orderdate) * 12" +
      " + date_part('month', o_orderdate) AS BIGINT)"),
    ("priority", "o_orderpriority"),
    ("status", "o_orderstatus"))
  private val PartitionPreds: Seq[(String, String)] = Seq(
    ("q1_1995", "o_orderdate >= TIMESTAMP '1995-01-01'" +
      " AND o_orderdate < TIMESTAMP '1995-04-01'"),
    ("urgent", "o_orderpriority = '1-URGENT'"),
    ("open_f", "o_orderstatus = 'F'"))

  /** PARTITION-KEY ADVISOR — the table-layout decision q245/q283 audit
    * after the fact, priced BEFORE the rewrite: for each candidate
    * partition key × representative predicate, how many partitions
    * must be read (a partition is read iff it contains ≥1 matching
    * row — exactly the file-skipping rule), how many rows that drags
    * in, and the read amplification vs the matching rows. A key that
    * prunes 97% of partitions for the date predicate but nothing for
    * the status predicate is the trade this 9-row table makes visible
    * — partition pruning is THE dominant scan-cost lever at 100 TB and
    * it is workload-relative, which is why the advisor sweeps a
    * predicate grid rather than blessing one key. Scale shape: one
    * column-pruned scan per candidate key into a map-side
    * (partition-value, per-predicate match flags) rollup; everything
    * downstream is |partitions|-sized. Output: one row per
    * (key, predicate). HASH-MATCHED. */
  val q337 = {
    val duckArms = for ((kn, ke) <- PartitionKeys) yield {
      val flags = PartitionPreds.map { case (pn, pe) =>
        s"CAST(count(CASE WHEN $pe THEN 1 END) AS BIGINT) AS m_$pn" }
        .mkString(",\n|          ")
      val armSel = PartitionPreds.map { case (pn, _) =>
        s"""SELECT '$kn' AS pkey, '$pn' AS pred,
           |  CAST(count(*) AS BIGINT) AS n_parts,
           |  CAST(count(CASE WHEN m_$pn > 0 THEN 1 END) AS BIGINT)
           |    AS parts_read,
           |  CAST(SUM(n) AS BIGINT) AS rows_total,
           |  CAST(COALESCE(SUM(CASE WHEN m_$pn > 0 THEN n END), 0) AS BIGINT)
           |    AS rows_read,
           |  CAST(SUM(m_$pn) AS BIGINT) AS rows_match,
           |  CAST((count(*) - count(CASE WHEN m_$pn > 0 THEN 1 END))
           |       * 1000000 // count(*) AS BIGINT) AS pruned_ppm
           |FROM g_$kn""".stripMargin }
      (s"""g_$kn AS (SELECT $ke AS pv, CAST(count(*) AS BIGINT) AS n,
          |          $flags
          |        FROM orders GROUP BY 1)""".stripMargin, armSel)
    }
    QueryDef.oracle("q337_partition_advisor",
      s"""WITH ${duckArms.map(_._1).mkString(",\n")}
         |${duckArms.flatMap(_._2).mkString("\nUNION ALL\n")}""".stripMargin)(
      (s, d) => {
        val arms = for ((kn, ke) <- PartitionKeys) yield {
          val aggs = count(lit(1)).as("n") +:
            PartitionPreds.map { case (pn, pe) =>
              count(when(expr(pe), 1)).cast("long").as(s"m_$pn") }
          val g = Tables.orders(s, d)
            .groupBy(expr(ke).as("pv"))
            .agg(aggs.head, aggs.tail: _*)
            .localCheckpoint(false) // one scan per key feeds all 3 preds
          PartitionPreds.map { case (pn, _) =>
            g.agg(count(lit(1)).as("n_parts"),
              count(when(col(s"m_$pn") > 0, 1)).cast("long").as("parts_read"),
              sum("n").as("rows_total"),
              coalesce(sum(when(col(s"m_$pn") > 0, col("n"))), lit(0L))
                .cast("long").as("rows_read"),
              sum(s"m_$pn").cast("long").as("rows_match"))
              .select(lit(kn).as("pkey"), lit(pn).as("pred"), col("n_parts"),
                col("parts_read"), col("rows_total"), col("rows_read"),
                col("rows_match"),
                expr("CAST((n_parts - parts_read) * 1000000 div n_parts" +
                  " AS BIGINT)").as("pruned_ppm"))
          }
        }
        arms.flatten.reduce(_ unionByName _)
      })
  }

  /** JOIN-ORDER COST TABLE — the decision q253 audits Spark on, played
    * forward: for the classic filtered 3-table star (customer
    * BUILDING ⋈ orders < 1998 ⋈ lineitem shipped after — the TPC-H Q3
    * shape), enumerate both bushy-free join orders and price each by
    * the System-R proxy (the size of the intermediate result it
    * materializes/shuffles), with every cardinality EXACT, not
    * estimated: |σC|, |σO|, |σL|, the two possible intermediates
    * |σC⋈σO| and |σO⋈σL|, and the common final. q250 measured how far
    * independence ESTIMATES drift from truth; this is the ground-truth
    * cost table an optimizer should have ranked — on a star, joining
    * the selective dimension first wins exactly when
    * |σC⋈σO| < |σO⋈σL|, and the ratio is the price of getting it
    * wrong. Scale shape: three filtered scans, two keyed joins run
    * once each (their counts ARE the table), 2-row output via a 1-row
    * stat cross. Output: one row per join order. HASH-MATCHED. */
  val q338 = {
    val cf = "c_mktsegment = 'BUILDING'"
    val of = "o_orderdate < TIMESTAMP '1998-01-01'"
    val lf = "l_shipdate >= TIMESTAMP '1998-01-01'"
    QueryDef.oracle("q338_join_order_costs",
      s"""WITH st AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM customer WHERE $cf) AS n_c,
         |    (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE $of) AS n_o,
         |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE $lf) AS n_l,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         |     WHERE $cf AND $of) AS n_co,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |     WHERE $of AND $lf) AS n_ol,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         |       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |     WHERE $cf AND $of AND $lf) AS n_final)
         |SELECT '(C_JOIN_O)_JOIN_L' AS join_order, n_c AS left_in,
         |       n_o AS right_in, n_co AS intermediate_rows,
         |       n_final AS final_rows,
         |       n_co + n_final AS cost_proxy
         |FROM st
         |UNION ALL
         |SELECT '(O_JOIN_L)_JOIN_C', n_o, n_l, n_ol, n_final,
         |       n_ol + n_final
         |FROM st""".stripMargin)(
      (s, d) => {
        val c = Tables.customer(s, d).filter(expr(cf))
        val o = Tables.orders(s, d).filter(expr(of))
        val l = Tables.lineitem(s, d).filter(expr(lf))
        val co = c.join(o, col("o_custkey") === col("c_custkey"))
          .localCheckpoint(false) // counted AND extended to the final
        val nC = c.agg(count(lit(1)).as("n_c"))
        val nO = o.agg(count(lit(1)).as("n_o"))
        val nL = l.agg(count(lit(1)).as("n_l"))
        val nCo = co.agg(count(lit(1)).as("n_co"))
        val nOl = o.join(l, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n_ol"))
        val nF = co.join(l, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n_final"))
        val st = nC.crossJoin(broadcast(nO)).crossJoin(broadcast(nL))
          .crossJoin(broadcast(nCo)).crossJoin(broadcast(nOl))
          .crossJoin(broadcast(nF))
          .localCheckpoint(false)
        st.select(lit("(C_JOIN_O)_JOIN_L").as("join_order"),
            col("n_c").as("left_in"), col("n_o").as("right_in"),
            col("n_co").as("intermediate_rows"), col("n_final").as("final_rows"),
            (col("n_co") + col("n_final")).as("cost_proxy"))
          .unionByName(st.select(lit("(O_JOIN_L)_JOIN_C").as("join_order"),
            col("n_o").as("left_in"), col("n_l").as("right_in"),
            col("n_ol").as("intermediate_rows"), col("n_final").as("final_rows"),
            (col("n_ol") + col("n_final")).as("cost_proxy")))
      })
  }

  /** PARTIAL-AGGREGATION BENEFIT ADVISOR — the map-side-combine knob
    * priced per candidate grouping key: partial aggregation only pays
    * when groups are much rarer than rows (the exchange then carries
    * |groups| partials instead of |rows| rows); on a near-unique key it
    * BURNS CPU and hash-table memory for nothing, which is why engines
    * grew skip-partial-agg heuristics. For each candidate key set over
    * lineitem: exact rows, exact groups (one column-pruned rollup per
    * candidate — the same shape ANALYZE uses), the exchange-row
    * reduction in ppm, mean rows/group in milli, and the verdict at the
    * classic ≥ 2 rows/group bar. l_orderkey (≈4 rows/group) sits right
    * at the boundary the heuristic exists for; l_shipdate's ~2.5k-day
    * domain crushes the exchange. Reads next to q336 (FDs) and q337
    * (partition keys) in a layout review. Scale shape: one map-side
    * rollup per candidate → 1-row stats → 5-row advisor table. Output:
    * one row per candidate. HASH-MATCHED. */
  val q351 = {
    val cands: Seq[(String, Seq[String])] = Seq(
      ("orderkey", Seq("l_orderkey")),
      ("partkey", Seq("l_partkey")),
      ("suppkey", Seq("l_suppkey")),
      ("flag_status", Seq("l_returnflag", "l_linestatus")),
      ("shipdate", Seq("l_shipdate")))
    def duckArm(n: String, cols: Seq[String]): String =
      s"""SELECT '$n' AS candidate, CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_groups
         |FROM (SELECT ${cols.mkString(", ")}, count(*) AS c
         |      FROM lineitem GROUP BY ${cols.mkString(", ")})""".stripMargin
    QueryDef.oracle("q351_partial_agg_advisor",
      s"""WITH st AS (${cands.map { case (n, c) => duckArm(n, c) }
            .mkString("\nUNION ALL\n")})
         |SELECT candidate, n_rows, n_groups,
         |  CAST((n_rows - n_groups) * 1000000 // n_rows AS BIGINT)
         |    AS reduction_ppm,
         |  CAST(n_rows * 1000 // n_groups AS BIGINT) AS rows_per_group_milli,
         |  n_rows >= 2 * n_groups AS partial_agg_pays
         |FROM st""".stripMargin)(
      (s, d) => {
        val li = Tables.lineitem(s, d).localCheckpoint(false) // 5 arms, one scan cache
        cands.map { case (n, cols) =>
          li.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
            .agg(sum("c").as("n_rows"), count(lit(1)).as("n_groups"))
            .select(lit(n).as("candidate"), col("n_rows"), col("n_groups"))
        }.reduce(_ unionByName _)
          .select(col("candidate"), col("n_rows"), col("n_groups"),
            expr("CAST((n_rows - n_groups) * 1000000 div n_rows AS BIGINT)")
              .as("reduction_ppm"),
            expr("CAST(n_rows * 1000 div n_groups AS BIGINT)")
              .as("rows_per_group_milli"),
            (col("n_rows") >= col("n_groups") * 2).as("partial_agg_pays"))
      })
  }

  /** PHYSICAL-WIDTH ADVISOR — the narrow-type rewrite audit beside
    * q324's encoding advisor (q324 prices encodings under a fixed
    * 64-bit plain baseline; this asks whether the DECLARED width is
    * needed at all): every measure column canonicalized to exact
    * integer units (cents for money, whole units for quantity, epoch
    * days for dates — the same canon exprs discipline as q324, one
    * (name, duck, spark) list), then per column the exact min/max, the
    * bits the magnitude actually needs (q224's bit-smear MSB — float-
    * free), and whether INT16/INT32 suffice. On TPC-H-shaped data every
    * one of these fits INT32 — the measured case for narrowing a
    * 100-TB table's 64-bit defaults before the q324 encoding pass even
    * starts. Scale shape: ONE stacked scan → per-column min/max rollup
    * → 5-row advisor table. Output: one row per column. HASH-MATCHED. */
  val q352 = {
    val cols: Seq[(String, String, String)] = Seq(
      ("l_extendedprice", "CAST(round(l_extendedprice * 100) AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)"),
      ("l_discount", "CAST(round(l_discount * 100) AS BIGINT)",
        "CAST(round(l_discount * 100) AS BIGINT)"),
      ("l_tax", "CAST(round(l_tax * 100) AS BIGINT)",
        "CAST(round(l_tax * 100) AS BIGINT)"),
      ("l_quantity", "CAST(FLOOR(l_quantity) AS BIGINT)",
        "CAST(FLOOR(l_quantity) AS BIGINT)"),
      ("l_shipdate", "CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)",
        "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)"))
    val smearDuck = Seq(1, 2, 4, 8, 16, 32).foldLeft("mag")(
      (acc, k) => s"(($acc) | (($acc) >> $k))")
    val smearSpark = Seq(1, 2, 4, 8, 16, 32).foldLeft("mag")(
      (acc, k) => s"(($acc) | (shiftright(($acc), $k)))")
    QueryDef.oracle("q352_physical_width_advisor",
      s"""WITH st AS (${cols.map { case (n, duck, _) =>
             s"SELECT '$n' AS c, $duck AS v FROM lineitem" }
             .mkString("\nUNION ALL\n")}),
         |mm AS (SELECT c, CAST(min(v) AS BIGINT) AS v_min,
         |         CAST(max(v) AS BIGINT) AS v_max,
         |         CAST(count(*) AS BIGINT) AS n_rows
         |       FROM st GROUP BY 1),
         |mg AS (SELECT c, v_min, v_max, n_rows,
         |         GREATEST(abs(v_min), abs(v_max)) AS mag
         |       FROM mm)
         |SELECT c AS col_name, v_min, v_max, n_rows,
         |  CAST(CASE WHEN mag = 0 THEN 0
         |       ELSE bit_count($smearDuck) END AS BIGINT) AS magnitude_bits,
         |  mag < 32768 AS fits_int16, mag < 2147483648 AS fits_int32
         |FROM mg""".stripMargin)(
      (s, d) => {
        val st = cols.map { case (n, _, sp) =>
          Tables.lineitem(s, d).select(lit(n).as("c"), expr(sp).as("v"))
        }.reduce(_ unionByName _)
        st.groupBy("c")
          .agg(min("v").as("v_min"), max("v").as("v_max"),
            count(lit(1)).as("n_rows"))
          .withColumn("mag", greatest(abs(col("v_min")), abs(col("v_max"))))
          .select(col("c").as("col_name"), col("v_min"), col("v_max"),
            col("n_rows"),
            expr(s"CAST(CASE WHEN mag = 0 THEN 0 " +
              s"ELSE bit_count($smearSpark) END AS BIGINT)")
              .as("magnitude_bits"),
            (col("mag") < 32768L).as("fits_int16"),
            (col("mag") < 2147483648L).as("fits_int32"))
      })
  }

  /** SHUFFLE-PARTITION-COUNT ADVISOR — prices the one knob every keyed
    * exchange in this engine depends on (`spark.sql.shuffle.partitions`
    * / bucket counts): for each candidate P ∈ {8, 32, 128, 512}, the
    * EXACT hash-bucket load distribution a vocab-keyed exchange would
    * see — buckets used, the heaviest bucket's row count, and the
    * max/mean skew factor in exact ppm — computed by actually hashing
    * every key (the portable per-token kernel, so DuckDB replays the
    * assignment bit-for-bit) and summing per-key mass into buckets.
    * This is the sibling of q262 (which remediates named hot KEYS) and
    * q146 (which profiles a join): it answers "does the KEY SET even
    * support P-way parallelism, and at what skew" — the number to read
    * before setting a bucket count at 100 TB, where an unbalanced P
    * turns one straggler partition into the job's wall-clock. Skew
    * arithmetic routes through DECIMAL(38,0)/HUGEINT (q350's lesson:
    * max_rows·P·10⁶ passes int64 early). Scale shape: one token rollup
    * → ×4 bounded candidate axis → (P, bucket)-keyed rollup → 4-row
    * report. Output: one row per candidate P. HASH-MATCHED. */
  val q357 = {
    val cands = Seq(8, 32, 128, 512)
    QueryDef.oracle("q357_shuffle_partition_advisor",
      s"""WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS nrows
         |           FROM (SELECT unnest(list_filter(
         |                   regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
         |                 FROM documents) GROUP BY 1),
         |h AS (SELECT tok, nrows, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(string_split(tok, ''),
         |          c -> CAST(unicode(c) AS BIGINT))),
         |        (a, b) -> (a * 131 + b) % 1000000007) AS h
         |      FROM f),
         |st AS (SELECT p, h % p AS b, nrows
         |       FROM h, unnest([${cands.mkString(", ")}]) AS t(p)),
         |ld AS (SELECT p, b, CAST(SUM(nrows) AS BIGINT) AS load
         |       FROM st GROUP BY 1, 2),
         |ag AS (SELECT p, CAST(count(*) AS BIGINT) AS used_buckets,
         |         CAST(MAX(load) AS BIGINT) AS max_rows,
         |         CAST(SUM(load) AS BIGINT) AS total_rows
         |       FROM ld GROUP BY 1)
         |SELECT CAST(p AS BIGINT) AS candidate_p, used_buckets, max_rows,
         |       total_rows,
         |       CAST(CAST(max_rows AS HUGEINT) * p * 1000000 // total_rows
         |            AS BIGINT) AS skew_x_ppm,
         |       CAST(max_rows AS HUGEINT) * p
         |         <= CAST(total_rows AS HUGEINT) * 2 AS balanced
         |FROM ag""".stripMargin)(
      (s, d) => {
        import graft.functions.TextFunctions.{tokens, portableStringHash}
        val f = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("nrows"))
          .withColumn("h", portableStringHash(col("tok")))
          .localCheckpoint(false) // one rollup feeds all four candidates
        f.withColumn("p", explode(array(cands.map(c => lit(c.toLong)): _*)))
          .withColumn("b", col("h") % col("p")) // h ∈ [0, 1e9+7): plain mod
          .groupBy("p", "b").agg(sum("nrows").as("load"))
          .groupBy("p")
          .agg(count(lit(1)).as("used_buckets"), max("load").as("max_rows"),
            sum("load").as("total_rows"))
          .select(col("p").as("candidate_p"), col("used_buckets"),
            col("max_rows"), col("total_rows"),
            expr("CAST(CAST(max_rows AS DECIMAL(38,0)) * p * 1000000" +
              " div total_rows AS BIGINT)").as("skew_x_ppm"),
            expr("CAST(max_rows AS DECIMAL(38,0)) * p" +
              " <= CAST(total_rows AS DECIMAL(38,0)) * 2").as("balanced"))
      })
  }

  /** BROADCAST-PLAN ADVISOR — the dimension-table sizing table behind
    * every `broadcast()` hint in this engine: for each dim, the EXACT
    * row count and a measured in-memory size estimate (8 bytes per
    * numeric/date column + string bytes + 16 bytes of per-string
    * overhead — the UnsafeRow-ish accounting a broadcast relation
    * pays), the verdict against the 10 MiB autoBroadcastJoinThreshold,
    * and — the column that matters — the SAME verdict at 1000× scale,
    * where each table's growth CLASS decides: region/nation are
    * enumerated (25/5 rows at any SF — broadcast forever), while
    * supplier/customer/part grow linearly with the fact data and a
    * hint that is safe today OOMs the driver at the target scale
    * (exactly the r13→r14 vocab-broadcast lesson, q253's strategy
    * audit made quantitative). Scale shape: five dim-table map-side
    * rollups (never the fact table) → 5-row report. HASH-MATCHED. */
  val q361 = {
    // (table, growth class, per-row fixed numeric bytes, string columns)
    val dims = Seq(
      ("region", "static", 8, Seq("r_name")),
      ("nation", "static", 16, Seq("n_name")),
      ("supplier", "sf-linear", 24, Seq("s_name")),
      ("customer", "sf-linear", 24, Seq("c_name", "c_mktsegment")),
      ("part", "sf-linear", 24, Seq("p_name", "p_brand", "p_type")))
    val threshold = 10L * 1024 * 1024
    QueryDef.oracle("q361_broadcast_plan_advisor",
      s"""WITH sz AS (${dims.map { case (t, g, fix, strs) =>
            val strBytes = strs.map(c => s"COALESCE(len($c), 0) + 16")
              .mkString(" + ")
            s"""SELECT '$t' AS tbl, '$g' AS growth,
               |  CAST(count(*) AS BIGINT) AS n_rows,
               |  CAST(COALESCE(SUM($fix + $strBytes), 0) AS BIGINT) AS est_bytes
               |FROM $t""".stripMargin }.mkString("\nUNION ALL\n")})
         |SELECT tbl, growth, n_rows, est_bytes,
         |  CAST(CASE WHEN growth = 'static' THEN est_bytes
         |       ELSE est_bytes * 1000 END AS BIGINT) AS est_bytes_1000x,
         |  est_bytes <= $threshold AS broadcast_now,
         |  (CASE WHEN growth = 'static' THEN est_bytes
         |        ELSE est_bytes * 1000 END) <= $threshold AS broadcast_1000x
         |FROM sz""".stripMargin)(
      (s, d) => {
        val sz = dims.map { case (t, g, fix, strs) =>
          val strBytes = strs.map(c =>
            coalesce(length(col(c)).cast("long"), lit(0L)) + 16L)
            .reduce(_ + _)
          Tables.load(s, d, t).agg(
            count(lit(1)).as("n_rows"),
            coalesce(sum(lit(fix.toLong) + strBytes), lit(0L)).as("est_bytes"))
            .select(lit(t).as("tbl"), lit(g).as("growth"),
              col("n_rows"), col("est_bytes"))
        }.reduce(_ unionByName _)
        sz.select(col("tbl"), col("growth"), col("n_rows"), col("est_bytes"),
          when(col("growth") === "static", col("est_bytes"))
            .otherwise(col("est_bytes") * 1000).cast("long")
            .as("est_bytes_1000x"),
          (col("est_bytes") <= threshold).as("broadcast_now"),
          (when(col("growth") === "static", col("est_bytes"))
            .otherwise(col("est_bytes") * 1000) <= threshold)
            .as("broadcast_1000x"))
      })
  }

  val defs: Seq[QueryDef] = Seq(q25, q26, q27, q28, q29, q36, q37, q38, q39,
    q59, q75, q78, q79, q88, q89, q93, q94, q138, q190, q239, q244, q245,
    q250, q251, q253, q256, q260, q283, q288, q289, q293, q324, q335, q336,
    q337, q338, q351, q352, q357, q361)
}
