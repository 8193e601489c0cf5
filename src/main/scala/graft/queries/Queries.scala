package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kql.Kql._
import graft.kql.Scan
import graft.functions.KqlFunctions._
import graft.functions.SeriesFunctions
import graft.sources.Tables

/** One driver-contract query: the Spark plan and (when ANSI-SQL-expressible) the
  * DuckDB oracle. Column names/aliases match between the two by construction; every
  * oracle query carries a total ORDER BY so results hash deterministically. Doubles in
  * outputs are always produced by a deterministic computation (integral sums, exact
  * decimal sums cast back to double, or single IEEE ops) — never by order-dependent fp
  * accumulation — so Spark and DuckDB agree bit-for-bit.
  */
final case class QueryDef(name: String, fn: (SparkSession, String) => DataFrame,
                          oracle: Option[String])

/** KQL relational-operator surface (SURVEY.md §2.B) as driver-contract queries. */
object Queries {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact monetary sum: decimal-accumulated, returned as double (deterministic). */
  private def xsum(c: Column): Column = sum(c.cast("decimal(30,2)")).cast("double")

  /** Shared recursive-CTE prefix for the q_scan_funnel* oracles: per-user linear
    * recursion over row numbers replaying Scan.scanSequence's state machine
    * (st_next = step the active sequence last matched, 0 = idle; st_out = step
    * this row matched, 0 = not participating; seq = per-user sequence id). */
  private val scanFunnelWalk: String =
    """WITH RECURSIVE r AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE user_id < 40),
      |walk AS (
      |  SELECT user_id, rn, ts, event_id, event_type,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS st_out,
      |    CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS BIGINT) AS seq,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS st_next
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT user_id, rn, ts, event_id, event_type, st_out,
      |    seq + CASE WHEN st_out = 1 THEN 1 ELSE 0 END AS seq,
      |    CASE WHEN st_out = 3 THEN 0 WHEN st_out > 0 THEN st_out ELSE st_prev END AS st_next
      |  FROM (
      |    SELECT e.user_id, e.rn, e.ts, e.event_id, e.event_type, w.seq, w.st_next AS st_prev,
      |      CASE WHEN w.st_next = 0 AND e.event_type = 'view' THEN 1
      |           WHEN w.st_next = 1 AND e.event_type = 'click' THEN 2
      |           WHEN w.st_next = 2 AND e.event_type = 'purchase' THEN 3
      |           WHEN e.event_type = 'view' THEN 1
      |           ELSE 0 END AS st_out
      |    FROM r e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1))
      |""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // --- projection family -------------------------------------------------
    QueryDef("q_project",
      (s, d) => T(s, d, "lineitem")
        .where_(col("l_orderkey") % 7 === 0)
        .project(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture data: order by every
        // output column so row order is total up to identical rows (same below).
        .sortBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_orderkey % 7 = 0
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    QueryDef("q_extend",
      (s, d) => T(s, d, "lineitem")
        .extend(
          "revenue" -> (col("l_extendedprice").cast("decimal(30,2)") *
            (lit(1) - col("l_discount")).cast("decimal(30,2)")).cast("double"),
          "disc_band" -> iff(col("l_discount") > 0.05, lit("disc"), lit("full")))
        .project(col("l_orderkey"), col("l_linenumber"), col("revenue"), col("disc_band"))
        .where_(col("l_orderkey") < 500)
        .sortBy(col("l_orderkey"), col("l_linenumber"), col("revenue"), col("disc_band")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * CAST((1 - l_discount) AS DECIMAL(30,2)) AS DOUBLE) AS revenue,
             |  CASE WHEN l_discount > 0.05 THEN 'disc' ELSE 'full' END AS disc_band
             |FROM lineitem WHERE l_orderkey < 500
             |ORDER BY l_orderkey, l_linenumber, revenue, disc_band""".stripMargin)),

    QueryDef("q_project_away",
      (s, d) => T(s, d, "orders")
        .projectAway("o_orderpriority", "o_orderstatus")
        .sortBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_project_rename",
      (s, d) => T(s, d, "orders")
        .projectRename("price" -> "o_totalprice")
        .project(col("o_orderkey"), col("price"))
        .sortBy(col("o_orderkey")),
      Some("SELECT o_orderkey, o_totalprice AS price FROM orders ORDER BY o_orderkey")),

    // --- filters -----------------------------------------------------------
    QueryDef("q_where",
      (s, d) => T(s, d, "lineitem")
        .where_(col("l_quantity").between(5, 10) &&
          col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .project(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .sortBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |FROM lineitem
             |WHERE l_quantity BETWEEN 5 AND 10 AND l_returnflag IN ('A','R')
             |  AND l_shipdate >= TIMESTAMP '1996-01-01'
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin)),

    QueryDef("q_where_string",
      (s, d) => T(s, d, "events")
        .where_((col("event_type").startsWith("s") || col("event_type").contains("ck")) &&
          col("user_id") % 10 === 3)
        .project(col("event_id"), col("event_type"), col("user_id"))
        .sortBy(col("event_id")),
      Some("""SELECT event_id, event_type, user_id FROM events
             |WHERE (event_type LIKE 's%' OR event_type LIKE '%ck%') AND user_id % 10 = 3
             |ORDER BY event_id""".stripMargin)),

    QueryDef("q_where_regex",
      (s, d) => T(s, d, "part")
        .where_(col("p_name").rlike("^[a-c].* (widget|rod)$"))
        .project(col("p_partkey"), col("p_name"))
        .sortBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE regexp_matches(p_name, '^[a-c].* (widget|rod)$')
             |ORDER BY p_partkey""".stripMargin)),

    // --- sort / top / distinct / count ------------------------------------
    QueryDef("q_top",
      (s, d) => T(s, d, "orders")
        .project(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .top(50, col("o_totalprice").desc, col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin)),

    QueryDef("q_distinct",
      (s, d) => T(s, d, "lineitem")
        .distinctOf(col("l_returnflag"), col("l_linestatus"))
        .sortBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q_count",
      (s, d) => T(s, d, "lineitem").summarize(Nil, count(lit(1)).as("cnt")),
      Some("SELECT COUNT(*) AS cnt FROM lineitem")),

    QueryDef("q_dcount",
      (s, d) => T(s, d, "orders")
        .summarize(Nil, countDistinct(col("o_custkey")).as("dcount_cust")),
      Some("SELECT COUNT(DISTINCT o_custkey) AS dcount_cust FROM orders")),

    // --- summarize (flagship TPC-H Q1 shape) -------------------------------
    QueryDef("q_summarize",
      (s, d) => T(s, d, "lineitem")
        .where_(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .summarize(Seq(col("l_returnflag"), col("l_linestatus")),
          sum(col("l_quantity")).as("sum_qty"),
          xsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(30,2)") *
            (lit(1) - col("l_discount")).cast("decimal(30,2)")).cast("double")
            .as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          (xsum(col("l_extendedprice")) / count(col("l_extendedprice"))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .sortBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  SUM(l_quantity) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)) * CAST((1 - l_discount) AS DECIMAL(30,2))) AS DOUBLE) AS sum_disc_price,
             |  AVG(l_quantity) AS avg_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // --- bin() time-bucketed aggregation (the canonical meerkat query) -----
    QueryDef("q_bin_agg",
      (s, d) => T(s, d, "events")
        .extend("bin_ts" -> Bin.ts(col("ts"), 21600))
        .summarize(Seq(col("bin_ts"), col("event_type")),
          count(lit(1)).as("n"),
          xsum(col("value")).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .sortBy(col("bin_ts"), col("event_type")),
      Some("""SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(ts)//1000000)//21600*21600 AS BIGINT)) SECOND AS bin_ts,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
             |  MIN(value) AS min_value, MAX(value) AS max_value
             |FROM events GROUP BY 1, 2 ORDER BY bin_ts, event_type""".stripMargin)),

    QueryDef("q_countif",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type")),
          count(lit(1)).as("n"),
          sum(when(col("value") > 100, 1).otherwise(0)).as("n_high"))
        .extend("share_high" -> col("n_high").cast("double") / col("n"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS share_high
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // --- arg_max (KQL) via deterministic window ----------------------------
    QueryDef("q_argmax",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id"))
        T(s, d, "events")
          .extend("rn" -> row_number().over(w))
          .where_(col("rn") === 1)
          .project(col("event_type"), col("event_id"), col("value"))
          .sortBy(col("event_type"))
      },
      Some("""SELECT event_type, event_id, value FROM (
             |  SELECT event_type, event_id, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // --- exact percentiles (integral data ⇒ deterministic interpolation) ---
    QueryDef("q_percentile",
      (s, d) => T(s, d, "lineitem")
        .summarize(Seq(col("l_returnflag")),
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))
        .sortBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // --- stdev/variance via explicit exact-moment formula -------------------
    QueryDef("q_stdev",
      (s, d) => T(s, d, "lineitem")
        .summarize(Seq(col("l_returnflag")),
          count(lit(1)).as("n"),
          sum(col("l_quantity")).as("s1"),
          sum(col("l_quantity") * col("l_quantity")).as("s2"))
        .extend("var_samp" -> (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
        .extend("stdev" -> sqrt(col("var_samp")))
        .project(col("l_returnflag"), col("n"), col("var_samp"), col("stdev"))
        .sortBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  (SUM(l_quantity*l_quantity) - SUM(l_quantity)*SUM(l_quantity)/COUNT(*)) / (COUNT(*) - 1) AS var_samp,
             |  sqrt((SUM(l_quantity*l_quantity) - SUM(l_quantity)*SUM(l_quantity)/COUNT(*)) / (COUNT(*) - 1)) AS stdev
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // --- make_set (sorted + stringified: the driver comparator can't hash
    // list-typed cells, so emit the canonical comma-joined form) -------------
    QueryDef("q_make_set",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type")),
          array_join(sort_array(collect_set(col("user_id") % 100)), ",").as("user_buckets"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type,
             |  array_to_string(list_sort(list(DISTINCT user_id % 100)), ',') AS user_buckets
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // --- make_list / make_bag ----------------------------------------------
    QueryDef("q_make_list",
      (s, d) => T(s, d, "events")
        // KQL make_list preserves encounter order (arbitrary); sort for determinism.
        .summarize(Seq(col("event_type")),
          array_join(sort_array(collect_list(col("user_id") % 10)), ",").as("buckets"),
          count(lit(1)).as("n"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type,
             |  array_to_string(list_sort(list(user_id % 10)), ',') AS buckets,
             |  COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q_make_bag",
      (s, d) => T(s, d, "events")
        // KQL make_bag merges dynamic bags; model: per-key JSON object of
        // per-event-type counts, built with deterministic key order.
        .summarize(Seq(col("user_id") % 20 as "bucket", col("event_type")),
          count(lit(1)).as("n"))
        .summarize(Seq(col("bucket")),
          to_json(map_from_entries(array_sort(collect_list(
            struct(col("event_type"), col("n")))))).as("bag"))
        .sortBy(col("bucket")),
      Some("""WITH per AS (
             |  SELECT user_id % 20 AS bucket, event_type, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT bucket,
             |  '{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type) || '}' AS bag
             |FROM per GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // --- conditional aggregates: dcountif / minif / maxif / avgif -----------
    QueryDef("q_aggif",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type")),
          countDistinct(when(col("value") > 250, col("user_id"))).as("dcountif_user"),
          min(when(col("value") > 250, col("value"))).as("minif_v"),
          max(when(col("value") > 250, col("value"))).as("maxif_v"),
          (sum(when(col("value") > 250, col("value").cast("decimal(30,2)")))
            .cast("double") / count(when(col("value") > 250, lit(1)))).as("avgif_v"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type,
             |  COUNT(DISTINCT user_id) FILTER (WHERE value > 250) AS dcountif_user,
             |  MIN(value) FILTER (WHERE value > 250) AS minif_v,
             |  MAX(value) FILTER (WHERE value > 250) AS maxif_v,
             |  CAST(SUM(CAST(value AS DECIMAL(30,2))) FILTER (WHERE value > 250) AS DOUBLE)
             |    / COUNT(*) FILTER (WHERE value > 250) AS avgif_v
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // --- sketch dcount: mergeable HLL (the 100 TB path — exact countDistinct
    // is a full shuffle of all distinct keys; the sketch shuffles fixed-size
    // buffers and re-merges across segments/partitions). The oracle checks the
    // sketch estimate lands within ±5% of the exact count — both engines compute
    // the exact side, Spark additionally asserts its estimate against it. ------
    QueryDef("q_dcount_hll",
      (s, d) => T(s, d, "events")
        // HLL sketches are duplicate-insensitive: pre-distinct the (type, user)
        // pairs (map-side partial dedup, one shuffle) instead of mixing
        // countDistinct with another aggregate, which plans an Expand that
        // doubles every input row — the dominant cost at scale
        .project(col("event_type"), col("user_id")).distinct()
        .summarize(Seq(col("event_type")),
          // DataSketches HLL at lgK 14 — the same 2^14-register geometry as
          // HLL++ precision 14 (rsd ≈ 0.8%, ample margin against the 5%
          // assert; exact in sparse mode at fixture cardinalities), but the
          // sketch update/merge kernel measures ~8x cheaper than Spark's
          // HLL++ at rsd 0.01 (1.2-1.4 s vs 0.16 s on the fixture shape —
          // HllProbe), whose fixed-width 22 KiB aggregation buffers dominate
          // every stage they pass through. Same mergeable-HLL operator
          // semantics; the estimate itself never leaves the plan (only
          // within_5pct does).
          expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
            .as("approx_users"),
          count(lit(1)).as("exact_users"))
        .project(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("within_5pct"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             |  true AS within_5pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // --- rollup -------------------------------------------------------------
    QueryDef("q_rollup",
      (s, d) => T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .sortBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // --- join suite ---------------------------------------------------------
    QueryDef("q_join_inner",
      (s, d) => T(s, d, "lineitem")
        .joinKql(T(s, d, "orders").projectRename("l_orderkey" -> "o_orderkey"),
          Seq("l_orderkey"), "inner")
        .summarize(Seq(col("o_orderpriority")),
          count(lit(1)).as("n"), xsum(col("l_extendedprice")).as("rev"))
        .sortBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS rev
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("q_join_left",
      (s, d) => T(s, d, "part")
        .joinKql(T(s, d, "lineitem").projectRename("p_partkey" -> "l_partkey"),
          Seq("p_partkey"), "leftouter")
        .summarize(Seq(col("p_partkey"), col("p_brand")),
          count(col("l_orderkey")).as("n_li"))
        .sortBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_brand, COUNT(l_orderkey) AS n_li
             |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
             |GROUP BY p_partkey, p_brand ORDER BY p_partkey""".stripMargin)),

    QueryDef("q_join_semi",
      (s, d) => T(s, d, "customer")
        .joinKql(T(s, d, "orders").where_(col("o_totalprice") > 300000)
            .projectRename("c_custkey" -> "o_custkey"),
          Seq("c_custkey"), "leftsemi")
        .project(col("c_custkey"), col("c_name"))
        .sortBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_join_anti",
      (s, d) => T(s, d, "customer")
        .joinKql(T(s, d, "orders").where_(col("o_totalprice") > 300000)
            .projectRename("c_custkey" -> "o_custkey"),
          Seq("c_custkey"), "leftanti")
        .project(col("c_custkey"), col("c_name"))
        .sortBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_join_full",
      (s, d) => {
        val o = T(s, d, "orders")
        val a = o.where_(col("o_orderstatus") === "F")
          .summarize(Seq(col("o_custkey")), count(lit(1)).as("n_f"))
        val b = o.where_(col("o_orderstatus") === "O")
          .summarize(Seq(col("o_custkey")), count(lit(1)).as("n_o"))
        a.joinKql(b, Seq("o_custkey"), "fullouter")
          .extend("n_f" -> coalesce(col("n_f"), lit(0L)),
            "n_o" -> coalesce(col("n_o"), lit(0L)))
          .sortBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, COALESCE(n_f, 0) AS n_f, COALESCE(n_o, 0) AS n_o
             |FROM (SELECT o_custkey, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) a
             |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) b
             |USING (o_custkey)
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_join_right",
      (s, d) => T(s, d, "lineitem")
        .projectRename("s_suppkey" -> "l_suppkey")
        .joinKql(T(s, d, "supplier"), Seq("s_suppkey"), "rightouter")
        .summarize(Seq(col("s_suppkey"), col("s_name")),
          count(col("l_orderkey")).as("n_li"))
        .sortBy(col("s_suppkey")),
      Some("""SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_li
             |FROM lineitem RIGHT JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin)),

    QueryDef("q_join_innerunique",
      (s, d) => T(s, d, "orders")
        .joinKql(T(s, d, "customer").projectRename("o_custkey" -> "c_custkey"),
          Seq("o_custkey"), "innerunique", tieBreak = Seq(col("o_orderkey")))
        .project(col("o_custkey"), col("o_orderkey"), col("c_name"))
        .sortBy(col("o_custkey")),
      Some("""SELECT o_custkey, o_orderkey, c_name FROM (
             |  SELECT o_custkey, o_orderkey,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
             |  FROM orders) o JOIN customer ON o_custkey = c_custkey
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_lookup",
      (s, d) => T(s, d, "lineitem")
        .projectRename("s_suppkey" -> "l_suppkey")
        .lookup(T(s, d, "supplier"), Seq("s_suppkey"))
        .projectRename("n_nationkey" -> "s_nationkey")
        .lookup(T(s, d, "nation"), Seq("n_nationkey"))
        .projectRename("r_regionkey" -> "n_regionkey")
        .lookup(T(s, d, "region"), Seq("r_regionkey"))
        .summarize(Seq(col("r_name"), col("n_name")),
          count(lit(1)).as("n"), xsum(col("l_extendedprice")).as("rev"))
        .sortBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS rev
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    QueryDef("q_join_cross",
      (s, d) => T(s, d, "nation").project(col("n_name"))
        .crossJoin(T(s, d, "region").project(col("r_name")))
        .sortBy(col("n_name"), col("r_name")),
      Some("""SELECT n_name, r_name FROM nation CROSS JOIN region
             |ORDER BY n_name, r_name""".stripMargin)),

    QueryDef("q_join_rightsemi",
      (s, d) => T(s, d, "orders").where_(col("o_totalprice") > 300000)
        .projectRename("c_custkey" -> "o_custkey")
        .joinKql(T(s, d, "customer"), Seq("c_custkey"), "rightsemi")
        .project(col("c_custkey"), col("c_name"))
        .sortBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_join_rightanti",
      (s, d) => T(s, d, "orders").where_(col("o_totalprice") > 300000)
        .projectRename("c_custkey" -> "o_custkey")
        .joinKql(T(s, d, "customer"), Seq("c_custkey"), "rightanti")
        .project(col("c_custkey"), col("c_name"))
        .sortBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    // --- as-of (time-correlation) ------------------------------------------
    QueryDef("q_asof",
      (s, d) => T(s, d, "events")
        .asOfPrior(Seq(col("user_id")), Seq(col("ts"), col("event_id")),
          col("event_type") === "signup", col("ts"), "prior_signup_ts")
        .where_(col("event_type") === "purchase")
        .project(col("user_id"), col("event_id"), col("ts"), col("prior_signup_ts"))
        .sortBy(col("event_id")),
      Some("""SELECT user_id, event_id, ts, prior_signup_ts FROM (
             |  SELECT user_id, event_id, ts, event_type,
             |    MAX(CASE WHEN event_type = 'signup' THEN ts END) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup_ts
             |  FROM events) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    // --- as-of JOIN between two tables (union-merge formulation; oracle is
    // DuckDB's native ASOF JOIN) ---------------------------------------------
    QueryDef("q_asof_join",
      (s, d) => {
        val e = T(s, d, "events")
        // right side pre-aggregated to unique (key, ts) for determinism
        val clicks = e.where_(col("event_type") === "click")
          .summarize(Seq(col("user_id"), col("ts")), max(col("value")).as("v"))
        e.where_(col("event_type") === "purchase")
          .project(col("user_id"), col("event_id"), col("ts"))
          .asOfJoin(clicks, Seq("user_id"), "ts", "ts", "v", "last_click_value")
          .sortBy(col("event_id"))
      },
      Some("""WITH clicks AS (
             |  SELECT user_id, ts, MAX(value) AS v FROM events
             |  WHERE event_type = 'click' GROUP BY 1, 2),
             |purchases AS (
             |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
             |SELECT p.user_id, p.event_id, p.ts, c.v AS last_click_value
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // --- mergeable-sketch dcount: per-day HLL sketches merged to a global
    // estimate (the 100 TB rollup path: segment-level sketches union without
    // rescanning; exact count only for the oracle assert) --------------------
    QueryDef("q_hll_merge",
      (s, d) => {
        val daily = T(s, d, "events")
          .summarize(Seq(date_trunc("day", col("ts")).as("day")),
            hll_sketch_agg(col("user_id")).as("sketch"),
            countDistinct(col("user_id")).as("exact_daily"))
        daily.summarize(Nil,
            hll_sketch_estimate(hll_union_agg(col("sketch"))).as("merged_est"),
            sum(col("exact_daily")).as("sum_daily"))
          .crossJoin(T(s, d, "events")
            .summarize(Nil, countDistinct(col("user_id")).as("exact_total")))
          .project(col("exact_total"),
            (abs(col("merged_est") - col("exact_total")).cast("double") /
              col("exact_total") <= 0.05).as("merged_within_5pct"),
            // daily-sum ≥ total: sanity that the merge deduplicates across days
            (col("sum_daily") >= col("exact_total")).as("daily_sum_geq_total"))
      },
      Some("""SELECT COUNT(DISTINCT user_id) AS exact_total,
             |  true AS merged_within_5pct, true AS daily_sum_geq_total
             |FROM events""".stripMargin)),

    // --- set ops ------------------------------------------------------------
    QueryDef("q_union",
      (s, d) => {
        val e = T(s, d, "events")
        e.where_(col("value") > 400).project(col("event_id"), col("event_type"))
          .unionKql(e.where_(col("value") < 1).project(col("event_id"), col("value")))
          .sortBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
             |FROM events WHERE value > 400
             |UNION ALL
             |SELECT event_id, CAST(NULL AS VARCHAR) AS event_type, value
             |FROM events WHERE value < 1
             |ORDER BY event_id""".stripMargin)),

    QueryDef("q_intersect",
      (s, d) => {
        val o = T(s, d, "orders")
        o.where_(col("o_orderstatus") === "F").project(col("o_custkey"))
          .intersect(o.where_(col("o_orderstatus") === "O").project(col("o_custkey")))
          .sortBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_except",
      (s, d) => {
        val o = T(s, d, "orders")
        o.where_(col("o_orderstatus") === "F").project(col("o_custkey"))
          .except(o.where_(col("o_orderstatus") === "O").project(col("o_custkey")))
          .sortBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY o_custkey""".stripMargin)),

    // --- serialized window operators ---------------------------------------
    QueryDef("q_window",
      (s, d) => {
        // intra-partition order must be TOTAL up to identical rows ((l_orderkey,
        // l_linenumber) is not unique in the fixture): order by every row column.
        val ord = Seq(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_partkey"), col("l_suppkey"))
        val w = Window.partitionBy(col("l_orderkey")).orderBy(ord: _*)
        val wq = Window.partitionBy(col("l_orderkey")).orderBy(col("l_quantity"))
        T(s, d, "lineitem")
          .where_(col("l_orderkey") < 1000)
          .extend(
            "rn" -> row_number().over(w),
            "prev_qty" -> lag(col("l_quantity"), 1).over(w),
            "next_qty" -> lead(col("l_quantity"), 1).over(w),
            "cum_qty" -> sum(col("l_quantity"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            "qty_rank" -> dense_rank().over(wq))
          .project(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("rn"), col("prev_qty"), col("next_qty"), col("cum_qty"), col("qty_rank"))
          .sortBy(col("l_orderkey"), col("rn"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  ROW_NUMBER() OVER w AS rn,
             |  LAG(l_quantity, 1) OVER w AS prev_qty,
             |  LEAD(l_quantity, 1) OVER w AS next_qty,
             |  SUM(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_qty,
             |  DENSE_RANK() OVER (PARTITION BY l_orderkey ORDER BY l_quantity) AS qty_rank
             |FROM lineitem WHERE l_orderkey < 1000
             |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity,
             |  l_extendedprice, l_discount, l_tax, l_partkey, l_suppkey)
             |ORDER BY l_orderkey, rn""".stripMargin)),

    QueryDef("q_top_nested",
      (s, d) => T(s, d, "lineitem")
        .projectRename("p_partkey" -> "l_partkey")
        .joinKql(T(s, d, "part"), Seq("p_partkey"), "inner")
        .topNested(col("p_brand"), col("p_partkey"), xsum(col("l_extendedprice")), 3,
          col("__inner"))
        .project(col("__outer").as("p_brand"), col("__inner").as("p_partkey"),
          col("__rank").as("rev"))
        .sortBy(col("p_brand"), col("rev").desc, col("p_partkey")),
      Some("""SELECT p_brand, p_partkey, rev FROM (
             |  SELECT p_brand, p_partkey, rev,
             |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS rn
             |  FROM (
             |    SELECT p_brand, p_partkey,
             |      CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS rev
             |    FROM lineitem JOIN part ON l_partkey = p_partkey
             |    GROUP BY p_brand, p_partkey))
             |WHERE rn <= 3 ORDER BY p_brand, rev DESC, p_partkey""".stripMargin)),

    QueryDef("q_session",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        T(s, d, "events")
          .extend("gap" -> (col("ts").cast("double") - lag(col("ts").cast("double"), 1).over(w)))
          .extend("new_session" -> when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
          .summarize(Seq(col("user_id")),
            sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
          .sortBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
             |  SELECT user_id,
             |    CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_session
             |  FROM (
             |    SELECT user_id, epoch_us(ts)/1000000.0 - LAG(epoch_us(ts)/1000000.0, 1) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS gap
             |    FROM events))
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // --- scan operator (sequence / funnel state machine) --------------------
    // view→click→purchase funnel per user. The oracle replays the exact state
    // machine as a linear recursive CTE (state at row n = f(state at n-1)):
    // advance-next-step has priority, else a step-1 row restarts, completion
    // resets to idle. Output = participating rows with step + per-key seq id.
    QueryDef("q_scan_funnel",
      (s, d) => Scan.scanSequence(
          T(s, d, "events").where_(col("user_id") < 40)
            .project(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          Seq("s_view" -> (col("event_type") === "view"),
            "s_click" -> (col("event_type") === "click"),
            "s_buy" -> (col("event_type") === "purchase")))
        .sortBy(col("user_id"), col("ts"), col("event_id")),
      Some(scanFunnelWalk +
        """SELECT user_id, ts, event_id, event_type,
          |  CAST(st_out AS INT) AS match_step, seq AS match_seq
          |FROM walk WHERE st_out > 0
          |ORDER BY user_id, ts, event_id""".stripMargin)),

    QueryDef("q_scan_funnel_complete",
      (s, d) => Scan.scanSequence(
          T(s, d, "events").where_(col("user_id") < 40)
            .project(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          Seq("s_view" -> (col("event_type") === "view"),
            "s_click" -> (col("event_type") === "click"),
            "s_buy" -> (col("event_type") === "purchase")),
          completedOnly = true)
        .summarize(Seq(col("user_id")),
          countDistinct(col("match_seq")).as("n_funnels"))
        .sortBy(col("user_id")),
      Some(scanFunnelWalk +
        """SELECT user_id, COUNT(*) AS n_funnels
          |FROM walk WHERE st_out = 3
          |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // --- project-keep / take / sample / has ---------------------------------
    QueryDef("q_project_keep",
      (s, d) => T(s, d, "lineitem")
        .projectKeep("l_orderkey", "l_linenumber", "l_quantity")
        .sortBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    QueryDef("q_take",
      (s, d) => T(s, d, "orders")
        // `take` after a total sort so the prefix is deterministic and
        // oracle-comparable (bare `take` is arbitrary-rows by KQL semantics).
        .sortBy(col("o_orderkey"))
        .take_(100)
        .project(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_orderkey LIMIT 100""".stripMargin)),

    QueryDef("q_sample",
      (s, d) => {
        // Bernoulli sample under a fixed seed: deterministic for Spark but not
        // reproducible in DuckDB (different RNG), so the contract is statistical —
        // emit the sampled fraction's sanity bounds, both engines agree on `true`.
        val total = T(s, d, "events").summarize(Nil, count(lit(1)).as("n_total"))
        T(s, d, "events").sample_(0.1, seed = 42L)
          .summarize(Nil, count(lit(1)).as("n_sample"))
          .crossJoin(total)
          .project(
            (col("n_sample") >= col("n_total") * 0.06 &&
              col("n_sample") <= col("n_total") * 0.14).as("fraction_ok"))
      },
      Some("SELECT true AS fraction_ok")),

    QueryDef("q_has",
      (s, d) => T(s, d, "documents")
        .summarize(Seq(col("lang")),
          sum(when(has(col("text"), "the"), 1L).otherwise(0L)).as("n_has_the"),
          sum(when(has(col("text"), "he"), 1L).otherwise(0L)).as("n_has_he"),
          sum(when(col("text").contains("he"), 1L).otherwise(0L)).as("n_contains_he"))
        .sortBy(col("lang")),
      Some("""SELECT lang,
             |  CAST(SUM(CASE WHEN regexp_matches(lower(text), '(^|[^a-z0-9])the($|[^a-z0-9])') THEN 1 ELSE 0 END) AS BIGINT) AS n_has_the,
             |  CAST(SUM(CASE WHEN regexp_matches(lower(text), '(^|[^a-z0-9])he($|[^a-z0-9])') THEN 1 ELSE 0 END) AS BIGINT) AS n_has_he,
             |  CAST(SUM(CASE WHEN text LIKE '%he%' THEN 1 ELSE 0 END) AS BIGINT) AS n_contains_he
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // --- cube (grouping-sets capability row; rollup already covered) --------
    QueryDef("q_cube",
      (s, d) => T(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .sortBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // --- explicit grouping sets (beyond rollup/cube: arbitrary set list) ----
    QueryDef("q_grouping_sets",
      (s, d) => T(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .sortBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // --- dynamic (JSON) -----------------------------------------------------
    QueryDef("q_json",
      (s, d) => T(s, d, "events")
        .extend("k" -> dynamicGetLong(col("props"), "k"))
        .summarize(Seq(col("event_type")),
          sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // parse_json → VariantType (the ColumnType::Dynamic mapping): binary variant
    // access instead of per-access JSON string parsing.
    QueryDef("q_variant",
      (s, d) => T(s, d, "events")
        .extend("v" -> todynamic(col("props")))
        .extend("k" -> variantGetLong(col("v"), "k"))
        .summarize(Seq(col("event_type")),
          sum(col("k")).as("sum_k"), max(col("k")).as("max_k"), count(lit(1)).as("n"))
        .sortBy(col("event_type")),
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
             |  COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Variant as a STORED column (the real ColumnType::Dynamic storage mapping,
    // `/root/reference/src/store/segment_metadata.rs:135`): parse_json(props) is
    // written to parquet through the segment ingest path (Spark's shredded
    // variant encoding), read back, and queried with variant_get — binary variant
    // access over data at rest, not per-query JSON re-parsing. The segment is
    // written ONCE per (session, sfDir) — cold write, warm reads — so repeated
    // invocations (the bench) time the stored-variant read path.
    QueryDef("q_variant_stored",
      (s, d) => {
        val root = graft.SessionArtifacts.dir(s, "variant", d) { r =>
          val batch = T(s, d, "events").where_(col("user_id") < 50)
            .project(col("ts").as("_ts"), col("event_id").cast("int").as("_dedup"),
              col("event_type"), todynamic(col("props")).as("props_v"))
          Tables.appendSegment(batch, r)
        }
        s.read.parquet(root)
          .extend("k" -> variantGetLong(col("props_v"), "k"))
          .summarize(Seq(col("event_type")),
            sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
          .sortBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  COUNT(*) AS n
             |FROM events WHERE user_id < 50
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // bag_unpack: star-expand a dynamic bag into columns (schema inferred from data —
    // the schemaless-ingest semantic). The bag is synthesized deterministically so the
    // unpack path (inference + from_json + star-expand) is what's under test.
    QueryDef("q_bag_unpack",
      (s, d) => T(s, d, "events")
        .project(col("event_id"), to_json(struct(
          (col("user_id") % 100).as("uid_bucket"),
          col("event_type").as("etype"),
          floor(col("value")).cast("long").as("val"))).as("bag"))
        .bagUnpack("bag")
        .summarize(Seq(col("etype")),
          count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
          countDistinct(col("uid_bucket")).as("n_buckets"))
        .sortBy(col("etype")),
      Some("""SELECT event_type AS etype, COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_val,
             |  COUNT(DISTINCT user_id % 100) AS n_buckets
             |FROM events GROUP BY 1 ORDER BY etype""".stripMargin)),

    // mv-apply: per-element subquery over an array — explode with position, apply the
    // element-level pipeline (filter + transform), regroup in element order.
    QueryDef("q_mv_apply",
      (s, d) => T(s, d, "events")
        .extend("tags" -> array(col("event_type"),
          concat(lit("user"), (col("user_id") % 5).cast("string")),
          concat(lit("v"), floor(col("value") / 100).cast("long").cast("string"))))
        .mvExpandPos(col("tags"), "pos", "tag")
        .where_(length(col("tag")) > 4)
        .extend("tag" -> upper(col("tag")))
        .summarize(Seq(col("event_id")),
          array_join(array_sort(collect_list(struct(col("pos"), col("tag"))))
            .getField("tag"), ",").as("tags_applied"))
        .sortBy(col("event_id")),
      Some("""SELECT event_id,
             |  array_to_string(
             |    list_transform(
             |      list_filter([event_type,
             |                   'user' || CAST(user_id % 5 AS VARCHAR),
             |                   'v' || CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR)],
             |        t -> length(t) > 4),
             |      t -> upper(t)), ',') AS tags_applied
             |FROM events
             |WHERE length(event_type) > 4 OR length('user' || CAST(user_id % 5 AS VARCHAR)) > 4
             |   OR length('v' || CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR)) > 4
             |ORDER BY event_id""".stripMargin)),

    QueryDef("q_mv_expand",
      (s, d) => T(s, d, "documents")
        .mvExpand(split(col("text"), " "), "word")
        .summarize(Seq(col("word")), count(lit(1)).as("n"))
        .top(100, col("n").desc, col("word")),
      Some("""SELECT word, COUNT(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin)),

    // --- array/map (dynamic-array) function family --------------------------
    QueryDef("q_array_fns",
      (s, d) => T(s, d, "documents")
        .extend("toks" -> split(col("text"), " "))
        .project(col("doc_id"),
          size(col("toks")).cast("long").as("n"),
          array_join(slice(col("toks"), 1, 3), " ").as("head3"),
          array_join(sort_array(array_distinct(slice(col("toks"), 1, 6))), ",").as("first_sorted"),
          size(array_intersect(slice(col("toks"), 1, 10), slice(col("toks"), 6, 10)))
            .cast("long").as("n_overlap"),
          size(array_union(slice(col("toks"), 1, 5), slice(col("toks"), 6, 5)))
            .cast("long").as("n_union"),
          size(array_except(slice(col("toks"), 1, 10), slice(col("toks"), 6, 10)))
            .cast("long").as("n_except"),
          element_at(col("toks"), -1).as("last_tok"),
          array_contains(col("toks"), "the").as("has_the"))
        .sortBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n,
             |  array_to_string(toks[1:3], ' ') AS head3,
             |  array_to_string(list_sort(list_distinct(toks[1:6])), ',') AS first_sorted,
             |  CAST(len(list_distinct(list_filter(toks[1:10], x -> list_contains(toks[6:15], x)))) AS BIGINT) AS n_overlap,
             |  CAST(len(list_distinct(toks[1:5] || toks[6:10])) AS BIGINT) AS n_union,
             |  CAST(len(list_distinct(list_filter(toks[1:10], x -> NOT list_contains(toks[6:15], x)))) AS BIGINT) AS n_except,
             |  toks[-1] AS last_tok,
             |  list_contains(toks, 'the') AS has_the
             |FROM t ORDER BY doc_id""".stripMargin)),

    // --- misc scalar coverage: strcat/iff-case/countof/startof*/coalesce ----
    QueryDef("q_scalar_misc",
      (s, d) => T(s, d, "events")
        .project(col("event_id"),
          strcat(col("event_type"), lit("#"), col("user_id").cast("string")).as("tag"),
          caseOf(Seq(
            (col("value") < 100) -> lit("low"),
            (col("value") < 300) -> lit("mid")), lit("high")).as("band"),
          countof(col("event_type"), "c").cast("long").as("n_c"),
          startofweek(col("ts")).as("wk"),
          startofmonth(col("ts")).as("mo"),
          coalesce(nullif(col("event_type"), lit("click")), lit("(click)")).as("nz"))
        .sortBy(col("event_id")),
      Some("""SELECT event_id,
             |  event_type || '#' || CAST(user_id AS VARCHAR) AS tag,
             |  CASE WHEN value < 100 THEN 'low' WHEN value < 300 THEN 'mid' ELSE 'high' END AS band,
             |  CAST((length(event_type) - length(replace(event_type, 'c', ''))) AS BIGINT) AS n_c,
             |  date_trunc('week', ts) AS wk,
             |  date_trunc('month', ts) AS mo,
             |  COALESCE(NULLIF(event_type, 'click'), '(click)') AS nz
             |FROM events ORDER BY event_id""".stripMargin)),

    // --- scalar function families ------------------------------------------
    QueryDef("q_strings",
      (s, d) => T(s, d, "documents")
        .project(col("doc_id"),
          upper(substring(col("text"), 1, 20)).as("head"),
          length(col("text")).cast("long").as("n"),
          concat(col("lang"), lit(":"), col("source")).as("tag"),
          element_at(split(col("text"), " "), 1).as("first_word"),
          expr("replace(lang, 'e', 'E')").as("lang_repl"),
          trim(lit("  pad  ")).as("trimmed"))
        .sortBy(col("doc_id")),
      Some("""SELECT doc_id, UPPER(SUBSTRING(text, 1, 20)) AS head, LENGTH(text) AS n,
             |  lang || ':' || source AS tag,
             |  split_part(text, ' ', 1) AS first_word,
             |  replace(lang, 'e', 'E') AS lang_repl,
             |  trim('  pad  ') AS trimmed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q_parse",
      (s, d) => T(s, d, "part")
        .project(col("p_partkey"),
          extractRegex("^([a-z]+) ([a-z]+)$", 1, col("p_name")).as("adjective"),
          extractRegex("^([a-z]+) ([a-z]+)$", 2, col("p_name")).as("noun"),
          extractRegex("([0-9]+)", 1, col("p_brand")).cast("int").as("brand_num"))
        .sortBy(col("p_partkey")),
      Some("""SELECT p_partkey,
             |  regexp_extract(p_name, '^([a-z]+) ([a-z]+)$', 1) AS adjective,
             |  regexp_extract(p_name, '^([a-z]+) ([a-z]+)$', 2) AS noun,
             |  CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num
             |FROM part ORDER BY p_partkey""".stripMargin)),

    QueryDef("q_datetime",
      (s, d) => T(s, d, "events")
        .project(col("event_id"),
          year(col("ts")).cast("long").as("y"), month(col("ts")).cast("long").as("m"),
          dayofmonth(col("ts")).cast("long").as("dom"), hour(col("ts")).cast("long").as("h"),
          date_trunc("day", col("ts")).as("day_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("ts_plus_1h"),
          expr("timestampdiff(DAY, TIMESTAMP'2024-01-01', ts)").as("days_since"))
        .sortBy(col("event_id")),
      Some("""SELECT event_id, EXTRACT(YEAR FROM ts) AS y, EXTRACT(MONTH FROM ts) AS m,
             |  EXTRACT(DAY FROM ts) AS dom, EXTRACT(HOUR FROM ts) AS h,
             |  date_trunc('day', ts) AS day_start,
             |  ts + INTERVAL 1 HOUR AS ts_plus_1h,
             |  date_diff('day', TIMESTAMP '2024-01-01', ts) AS days_since
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("q_math",
      (s, d) => T(s, d, "lineitem")
        .where_(col("l_orderkey") < 2000)
        .project(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_d"),
          ceil(col("l_extendedprice")).cast("double").as("ceil_p"),
          floor(col("l_extendedprice")).cast("double").as("floor_p"),
          sqrt(col("l_quantity")).as("sqrt_q"),
          signum(col("l_discount") - 0.05).cast("int").as("sign_d"),
          (col("l_orderkey") % 5).as("mod5"),
          greatest(col("l_quantity"), col("l_tax") * 100).as("gr"),
          pow(col("l_quantity"), 2).as("q2"),
          coalesce(col("l_discount"), lit(0.0)).as("co"))
        .sortBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(l_discount - 0.05) AS abs_d,
             |  CAST(ceil(l_extendedprice) AS DOUBLE) AS ceil_p,
             |  CAST(floor(l_extendedprice) AS DOUBLE) AS floor_p,
             |  sqrt(l_quantity) AS sqrt_q,
             |  CAST(sign(l_discount - 0.05) AS INT) AS sign_d,
             |  l_orderkey % 5 AS mod5,
             |  greatest(l_quantity, l_tax * 100) AS gr,
             |  pow(l_quantity, 2) AS q2,
             |  COALESCE(l_discount, 0.0) AS co
             |FROM lineitem WHERE l_orderkey < 2000
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // --- type fidelity: Decimal / Guid / Timespan (ColumnType rows with no native
    // fixture column — synthesized per FIXTURES.md §type-coverage; the reference's
    // type enum is at src/store/segment_metadata.rs:131-142) --------------------
    QueryDef("q_decimal",
      (s, d) => T(s, d, "lineitem")
        // Kusto decimal is 128-bit; DecimalType(38,18) is the closest public Spark
        // equivalent (SURVEY §1.2). The monetary double is snapped to its true
        // 2-decimal value FIRST (identical rounding in both engines), then widened —
        // casting the raw double straight to scale-18 keeps engine-specific ulp noise
        // that surfaces at scale-6 after a 60k-row sum.
        .extend("dec_price" -> col("l_extendedprice").cast("decimal(18,2)").cast("decimal(38,18)"))
        .summarize(Seq(col("l_returnflag")),
          sum(col("dec_price")).cast("decimal(38,6)").cast("string").as("sum_dec"),
          avg(col("dec_price")).cast("decimal(38,6)").cast("string").as("avg_dec"),
          count(lit(1)).as("n"))
        .sortBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,18))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_dec,
             |  CAST(CAST(AVG(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,18))) AS DECIMAL(38,6)) AS VARCHAR) AS avg_dec,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef("q_guid",
      (s, d) => T(s, d, "orders")
        // Guid → canonical 36-char string form (SURVEY §1.2): derived
        // deterministically from the order key via md5.
        .extend("h" -> md5(col("o_orderkey").cast("string")))
        .extend("guid" -> concat_ws("-",
          substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          substring(col("h"), 13, 4), substring(col("h"), 17, 4),
          substring(col("h"), 21, 12)))
        // filter on h's first hex digit (≡ guid's first char — the oracle's
        // own formulation): filtering on the derived guid pushed the filter
        // below the projection with the WHOLE md5+concat chain re-inlined
        // per reference — 6 md5 evaluations per row (guide §4.4's
        // duplicated-derived-column trap, with built-ins)
        .where_(substring(col("h"), 1, 1).isin("a", "b", "c"))
        .project(col("o_orderkey"), col("guid"))
        .sortBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |  substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-'
             |    || substr(h,17,4) || '-' || substr(h,21,12) AS guid
             |FROM (SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders)
             |WHERE substr(h,1,1) IN ('a','b','c') ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_timespan",
      (s, d) => T(s, d, "events")
        // Timespan → DayTimeIntervalType (SURVEY §1.2): real interval arithmetic
        // (subtraction, extract) — not epoch-math on longs.
        .extend("span" -> expr("ts - date_trunc('day', ts)"))
        .extend("span_sec" -> expr(
          "extract(hour from span) * 3600 + extract(minute from span) * 60 + floor(extract(second from span))")
          .cast("long"))
        .summarize(Seq(expr("extract(hour from span)").cast("long").as("hour_of_day")),
          count(lit(1)).as("n"), max(col("span_sec")).as("max_span_sec"))
        .sortBy(col("hour_of_day")),
      Some("""SELECT CAST(extract(hour from span) AS BIGINT) AS hour_of_day, COUNT(*) AS n,
             |  CAST(MAX(extract(hour from span) * 3600 + extract(minute from span) * 60
             |    + floor(extract(second from span))) AS BIGINT) AS max_span_sec
             |FROM (SELECT ts - date_trunc('day', ts) AS span FROM events)
             |GROUP BY 1 ORDER BY hour_of_day""".stripMargin)),

    QueryDef("q_range",
      (s, _) => rangeTable(s, 0, 10000, 3).sortBy(col("value")),
      Some("SELECT range AS value FROM range(0, 10000, 3) ORDER BY value")),

    // --- make-series: regular time grid + const fill ------------------------
    QueryDef("q_make_series",
      (s, d) => T(s, d, "events")
        .makeSeries(Seq(col("event_type")), col("ts"), 21600,
          Seq(count(lit(1)).as("n"), sum(floor(col("value")).cast("long")).as("sv")),
          Seq(lit(0L), lit(0L)))
        .projectRename("bin_ts" -> "__bin")
        .sortBy(col("event_type"), col("bin_ts")),
      Some("""WITH binned AS (
             |  SELECT event_type,
             |    TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(ts)//1000000)//21600*21600 AS BIGINT)) SECOND AS bin_ts,
             |    value FROM events),
             |bounds AS (SELECT min(bin_ts) AS lo, max(bin_ts) AS hi FROM binned),
             |grid AS (SELECT unnest(generate_series((SELECT lo FROM bounds), (SELECT hi FROM bounds), INTERVAL 6 HOUR)) AS bin_ts),
             |keys AS (SELECT DISTINCT event_type FROM events),
             |agged AS (SELECT event_type, bin_ts, COUNT(*) AS n,
             |    SUM(CAST(floor(value) AS BIGINT)) AS sv FROM binned GROUP BY 1, 2)
             |SELECT k.event_type AS event_type, g.bin_ts AS bin_ts,
             |  COALESCE(a.n, 0) AS n, CAST(COALESCE(a.sv, 0) AS BIGINT) AS sv
             |FROM keys k CROSS JOIN grid g
             |LEFT JOIN agged a ON a.event_type = k.event_type AND a.bin_ts = g.bin_ts
             |ORDER BY k.event_type, g.bin_ts""".stripMargin)),

    // --- make-series + series_fill_linear (null gaps interpolated; min() is the
    // series value so inputs are order-independent and both engines interpolate
    // identical doubles with the identical formula) --------------------------
    QueryDef("q_make_series_linear",
      (s, d) => T(s, d, "events")
        .where_(col("value") > 450) // sparse series → real null gaps to interpolate
        .makeSeries(Seq(col("event_type")), col("ts"), 21600,
          Seq(min(col("value")).as("mv")), Seq(lit(null)))
        .seriesFillLinear(Seq(col("event_type")), col("__bin"), "mv")
        .projectRename("bin_ts" -> "__bin")
        .project(col("event_type"), col("bin_ts"), col("mv").as("mv_filled"))
        .sortBy(col("event_type"), col("bin_ts")),
      Some("""WITH binned AS (
             |  SELECT event_type,
             |    TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(ts)//1000000)//21600*21600 AS BIGINT)) SECOND AS bin_ts,
             |    value FROM events WHERE value > 450),
             |bounds AS (SELECT min(bin_ts) AS lo, max(bin_ts) AS hi FROM binned),
             |grid AS (SELECT unnest(generate_series((SELECT lo FROM bounds), (SELECT hi FROM bounds), INTERVAL 6 HOUR)) AS bin_ts),
             |keys AS (SELECT DISTINCT event_type FROM binned),
             |agged AS (SELECT event_type, bin_ts, MIN(value) AS mv FROM binned GROUP BY 1, 2),
             |series AS (
             |  SELECT k.event_type, g.bin_ts, a.mv
             |  FROM keys k CROSS JOIN grid g
             |  LEFT JOIN agged a ON a.event_type = k.event_type AND a.bin_ts = g.bin_ts),
             |anch AS (
             |  SELECT event_type, bin_ts, mv,
             |    last_value(mv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bin_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |    last_value(CASE WHEN mv IS NOT NULL THEN epoch(bin_ts) END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bin_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             |    first_value(mv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bin_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |    first_value(CASE WHEN mv IS NOT NULL THEN epoch(bin_ts) END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bin_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
             |  FROM series)
             |SELECT event_type, bin_ts,
             |  CASE WHEN mv IS NOT NULL THEN mv
             |       WHEN pv IS NULL THEN nv
             |       WHEN nv IS NULL THEN pv
             |       ELSE pv + (nv - pv) * (epoch(bin_ts) - pb) / (nb - pb) END AS mv_filled
             |FROM anch ORDER BY event_type, bin_ts""".stripMargin)),

    // --- series_* function family over packed series arrays -----------------
    // Daily event-count series per event_type, packed in bin order. Counts are
    // integral, so double sums are exact in any accumulation order; avg and
    // variance mirror the oracle's exact expression shape (see SeriesFunctions).
    QueryDef("q_series_stats",
      (s, d) => {
        val packed = T(s, d, "events")
          .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
            count(lit(1)).as("c"))
          .groupBy(col("event_type"))
          .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
            x => x.getField("c").cast("double")).as("sr"))
        packed
          .withColumn("st", SeriesFunctions.seriesStats(col("sr")))
          .select(col("event_type"), size(col("sr")).as("n_bins"),
            col("st.min").as("mn"), col("st.min_idx").as("mn_idx"),
            col("st.max").as("mx"), col("st.max_idx").as("mx_idx"),
            col("st.avg").as("avg_c"), col("st.variance").as("var_c"))
          .sortBy(col("event_type"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd,
             |    CAST(COUNT(*) AS DOUBLE) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |st AS (
             |  SELECT event_type, COUNT(*) AS n, MIN(c) AS mn, MAX(c) AS mx,
             |    SUM(c) AS sm, SUM(c * c) AS sq
             |  FROM idx GROUP BY 1)
             |SELECT s.event_type, CAST(s.n AS INT) AS n_bins, s.mn AS mn,
             |  (SELECT MIN(i) FROM idx WHERE idx.event_type = s.event_type AND c = s.mn) AS mn_idx,
             |  s.mx AS mx,
             |  (SELECT MIN(i) FROM idx WHERE idx.event_type = s.event_type AND c = s.mx) AS mx_idx,
             |  s.sm / s.n AS avg_c,
             |  (s.sq - s.sm * s.sm / s.n) / (s.n - 1) AS var_c
             |FROM st s ORDER BY s.event_type""".stripMargin)),

    // trailing 7-bin moving sum (series_fir with unit taps): integral values →
    // bit-exact; list output stringified (list columns crash the comparator)
    QueryDef("q_series_fir",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("event_type"),
          array_join(transform(SeriesFunctions.seriesMovingSum(col("sr"), 7),
            x => x.cast("long").cast("string")), ";").as("ms7"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |mv AS (
             |  SELECT event_type, dd, CAST(SUM(c) OVER (
             |    PARTITION BY event_type ORDER BY dd
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS m
             |  FROM daily)
             |SELECT event_type,
             |  STRING_AGG(CAST(m AS VARCHAR), ';' ORDER BY dd) AS ms7
             |FROM mv GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // IIR recursive filter over daily counts: y[i] = (0.25x[i] + 0.5x[i−1] +
    // 0.5y[i−1]) — dyadic taps over integral counts keep every output an
    // EXACT double (no rounding anywhere at this depth), so the recursive-CTE
    // oracle reproduces the filter bit-for-bit
    QueryDef("q_series_iir",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("event_type"),
          posexplode(SeriesFunctions.seriesIir(col("sr"),
            Seq(0.25, 0.5), Seq(1.0, -0.5))).as(Seq("i", "y")))
        .select(col("event_type"), col("i").cast("long").as("i"), col("y"))
        .sortBy(col("event_type"), col("i")),
      Some("""WITH RECURSIVE daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd,
             |    CAST(COUNT(*) AS DOUBLE) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |r(event_type, i, y) AS (
             |  SELECT event_type, i, (0.25 * c) / 1.0 FROM idx WHERE i = 0
             |  UNION ALL
             |  SELECT n.event_type, n.i,
             |    ((0.25 * n.c + 0.5 * p.c) - (-0.5) * r.y) / 1.0
             |  FROM r
             |  JOIN idx n ON n.event_type = r.event_type AND n.i = r.i + 1
             |  JOIN idx p ON p.event_type = r.event_type AND p.i = r.i)
             |SELECT event_type, CAST(i AS BIGINT) AS i, y FROM r
             |ORDER BY event_type, i""".stripMargin)),

    // Tukey-fence outlier flags over per-user daily activity (users 1 and 2
    // have genuine spikes in the fixture); quartiles are index-based on the
    // sorted series in BOTH engines, fences are exact binary arithmetic
    QueryDef("q_series_outliers",
      (s, d) => T(s, d, "events")
        .where_(col("user_id") < 5)
        .summarize(Seq(col("user_id"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("user_id"),
          array_join(transform(SeriesFunctions.seriesOutliers(col("sr")),
            x => x.cast("string")), ";").as("flags"))
        .sortBy(col("user_id")),
      Some("""WITH daily AS (
             |  SELECT user_id, date_trunc('day', ts) AS dd,
             |    CAST(COUNT(*) AS DOUBLE) AS c
             |  FROM events WHERE user_id < 5 GROUP BY 1, 2),
             |packed AS (
             |  SELECT user_id, LIST(c ORDER BY dd) AS sr FROM daily GROUP BY 1),
             |fences AS (
             |  SELECT user_id, sr,
             |    list_sort(sr)[GREATEST(1, CAST(CEIL(0.25 * len(sr)) AS INT))] AS q1,
             |    list_sort(sr)[GREATEST(1, CAST(CEIL(0.75 * len(sr)) AS INT))] AS q3
             |  FROM packed)
             |SELECT user_id,
             |  array_to_string(list_transform(sr, x -> CAST(
             |    CASE WHEN x > q3 + 1.5 * (q3 - q1) THEN 1
             |         WHEN x < q1 - 1.5 * (q3 - q1) THEN -1
             |         ELSE 0 END AS VARCHAR)), ';') AS flags
             |FROM fences ORDER BY user_id""".stripMargin)),

    // series_decompose_forecast: linear-trend + phase-median baseline
    // extrapolated 7 points past each daily series' end. Deterministic
    // contract (SeriesFunctions.seriesDecomposeForecast): the oracle replays
    // the exact IEEE chain — fit-line slope/intercept from exact integer
    // sums, linear detrend d[i] = c − (slope·i + intercept), per-phase lower
    // median, then (slope·i + intercept) + seasonal over the extended grid.
    QueryDef("q_series_forecast",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("event_type"),
          posexplode(SeriesFunctions.seriesDecomposeForecast(col("sr"), 7, 7)))
        .select(col("event_type"), col("pos").cast("int").as("i"),
          col("col").as("fc"))
        .sortBy(col("event_type"), col("i")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |s AS (
             |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(c) AS DOUBLE) AS sy, CAST(SUM(i * c) AS DOUBLE) AS sxy
             |  FROM idx GROUP BY 1),
             |fit AS (
             |  SELECT event_type, n, sy,
             |    (n * sxy - (n * (n - 1) / 2) * sy)
             |      / (n * (n * (n - 1) * (2 * n - 1) / 6) - (n * (n - 1) / 2) * (n * (n - 1) / 2)) AS slope
             |  FROM s),
             |fit2 AS (
             |  SELECT event_type, n, slope,
             |    (sy - slope * (n * (n - 1) / 2)) / n AS intercept FROM fit),
             |det AS (
             |  SELECT idx.event_type, idx.i,
             |    CAST(idx.c AS DOUBLE) - (f.slope * idx.i + f.intercept) AS d,
             |    idx.i % 7 AS ph
             |  FROM idx JOIN fit2 f ON idx.event_type = f.event_type),
             |med AS (
             |  SELECT event_type, ph,
             |    list_sort(list(d))[GREATEST(1, CAST(CEIL(0.5 * len(list(d))) AS INT))] AS seasonal
             |  FROM det GROUP BY 1, 2),
             |grid AS (
             |  SELECT event_type, n, slope, intercept,
             |    UNNEST(range(0, CAST(n AS BIGINT) + 7)) AS i
             |  FROM fit2)
             |SELECT g.event_type, CAST(g.i AS INT) AS i,
             |  (g.slope * g.i + g.intercept) + m.seasonal AS fc
             |FROM grid g JOIN med m ON g.event_type = m.event_type AND g.i % 7 = m.ph
             |ORDER BY g.event_type, i""".stripMargin)),

    // --- series_decompose: trend + seasonality + residual over daily series --
    // Deterministic contract (see SeriesFunctions.seriesDecompose): trailing
    // 7-tap moving-average trend (exact integer sums / one IEEE division),
    // per-phase lower-median seasonality over the detrended series, residual
    // with the exact association c − (trend + seasonal) replayed by the oracle.
    // Unpacked to one row per (event_type, bin index) so doubles compare as
    // doubles (list columns crash the comparator; strings would reformat).
    QueryDef("q_series_decompose",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .withColumn("dec", SeriesFunctions.seriesDecompose(col("sr"), 7))
        .withColumn("tr", col("dec.trend"))
        .withColumn("se", col("dec.seasonal"))
        .withColumn("re", col("dec.residual"))
        .select(col("event_type"),
          posexplode(arrays_zip(col("sr"), col("tr"), col("se"), col("re"))))
        .select(col("event_type"), col("pos").cast("int").as("i"),
          col("col.sr").as("c"), col("col.tr").as("trend"),
          col("col.se").as("seasonal"), col("col.re").as("resid"))
        .sortBy(col("event_type"), col("i")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, dd, c,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) AS INT) - 1 AS i
             |  FROM daily),
             |tr AS (
             |  SELECT event_type, dd, i, CAST(c AS DOUBLE) AS c,
             |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dd
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |      / LEAST(i + 1, 7) AS trend
             |  FROM idx),
             |det AS (SELECT *, c - trend AS d, i % 7 AS ph FROM tr),
             |med AS (
             |  SELECT event_type, ph,
             |    list_sort(list(d))[GREATEST(1, CAST(CEIL(0.5 * len(list(d))) AS INT))] AS seasonal
             |  FROM det GROUP BY 1, 2)
             |SELECT det.event_type AS event_type, det.i AS i, det.c AS c,
             |  det.trend AS trend, med.seasonal AS seasonal,
             |  det.c - (det.trend + med.seasonal) AS resid
             |FROM det JOIN med ON det.event_type = med.event_type AND det.ph = med.ph
             |ORDER BY det.event_type, det.i""".stripMargin)),

    // --- series_decompose(x, -1): Kusto's AUTO-period default ---------------
    // The fixture's daily counts have no real seasonality (top ACF ~0.43), so
    // the test series embeds one deterministically: c·(1 + i mod 7) for three
    // event types (the detector must find lag 7 — or its strongest multiple —
    // by exact-integer ACF, identically ranked on both engines), raw counts
    // for the rest (top score < 0.7 → Kusto's seasonality cutoff → fallback
    // period 1, which degenerates to baseline = x / residual 0). The oracle
    // replays detection AND decomposition: ACF argmax per group, then the
    // dynamic-period trend via a range self-join (exact integral window sums,
    // one IEEE division), phase lower-medians, residual.
    QueryDef("q_series_decompose_auto",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c")).as("cr"))
        .withColumn("sr", transform(col("cr"), (v, i) =>
          when(col("event_type").isin("click", "view", "error"),
            (v * (lit(1) + pmod(i, lit(7)))).cast("double"))
            .otherwise(v.cast("double"))))
        .withColumn("p", SeriesFunctions.seriesAutoPeriod(col("sr")))
        .withColumn("dec", SeriesFunctions.seriesDecompose(col("sr"), col("p")))
        .select(col("event_type"), col("p"),
          posexplode(arrays_zip(col("sr"), col("dec.trend").as("tr"),
            col("dec.seasonal").as("se"), col("dec.residual").as("re"))))
        .select(col("event_type"), col("p"), col("pos").cast("int").as("i"),
          col("col.sr").as("c"), col("col.tr").as("trend"),
          col("col.se").as("seasonal"), col("col.re").as("resid"))
        .sortBy(col("event_type"), col("i")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, dd, c,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) AS INT) - 1 AS i
             |  FROM daily),
             |ser AS (
             |  SELECT event_type, i, CAST(CASE
             |    WHEN event_type IN ('click','view','error') THEN c * (1 + i % 7)
             |    ELSE c END AS DOUBLE) AS c
             |  FROM idx),
             |cnt AS (SELECT event_type, COUNT(*) AS n FROM ser GROUP BY 1),
             |lags AS (
             |  SELECT event_type,
             |    unnest(generate_series(2, GREATEST(2, LEAST(CAST(FLOOR(n/2) AS INT), 365)))) AS l
             |  FROM cnt),
             |acf AS (
             |  SELECT x.event_type, l.l,
             |    CAST(COUNT(*) AS DOUBLE) AS m,
             |    CAST(SUM(x.c) AS DOUBLE) AS sa, CAST(SUM(y.c) AS DOUBLE) AS sb,
             |    CAST(SUM(x.c * y.c) AS DOUBLE) AS sab,
             |    CAST(SUM(x.c * x.c) AS DOUBLE) AS saa, CAST(SUM(y.c * y.c) AS DOUBLE) AS sbb
             |  FROM lags l JOIN ser x ON x.event_type = l.event_type
             |  JOIN ser y ON y.event_type = x.event_type AND y.i = x.i + l.l
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT event_type, l,
             |    CASE WHEN m < 2 OR (sqrt(m * saa - sa * sa) * sqrt(m * sbb - sb * sb)) = 0
             |      THEN 0.0
             |      ELSE (m * sab - sa * sb) / (sqrt(m * saa - sa * sa) * sqrt(m * sbb - sb * sb))
             |    END AS score
             |  FROM acf),
             |ranked AS (
             |  SELECT event_type, l, score,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY score DESC, l ASC) AS rn
             |  FROM scored),
             |per AS (
             |  SELECT event_type, CASE WHEN score >= 0.7 THEN CAST(l AS INT) ELSE 1 END AS p
             |  FROM ranked WHERE rn = 1),
             |tr AS (
             |  SELECT a.event_type, a.i, a.c, p.p,
             |    SUM(b.c) / LEAST(a.i + 1, p.p) AS trend
             |  FROM ser a JOIN per p ON a.event_type = p.event_type
             |  JOIN ser b ON b.event_type = a.event_type
             |    AND b.i BETWEEN a.i - p.p + 1 AND a.i
             |  GROUP BY a.event_type, a.i, a.c, p.p),
             |det AS (SELECT *, c - trend AS d, i % p AS ph FROM tr),
             |med AS (
             |  SELECT event_type, ph,
             |    list_sort(list(d))[GREATEST(1, CAST(CEIL(0.5 * len(list(d))) AS INT))] AS seasonal
             |  FROM det GROUP BY 1, 2)
             |SELECT det.event_type AS event_type, det.p AS p, det.i AS i, det.c AS c,
             |  det.trend AS trend, med.seasonal AS seasonal,
             |  det.c - (det.trend + med.seasonal) AS resid
             |FROM det JOIN med ON det.event_type = med.event_type AND det.ph = med.ph
             |ORDER BY det.event_type, det.i""".stripMargin)),

    // series_fit_line: closed-form least squares per daily series. Only the
    // exactly-deterministic outputs (slope/intercept from exact integer
    // sums + single IEEE divisions) are driver-compared; rsquare/variance/
    // line_fit are unit-tested (their residual folds are order-sensitive
    // doubles, not oracle-portable)
    QueryDef("q_series_fit_line",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .withColumn("fit", SeriesFunctions.seriesFitLine(col("sr")))
        .select(col("event_type"), size(col("sr")).as("n_bins"),
          col("fit.slope").as("slope"), col("fit.intercept").as("intercept"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |s AS (
             |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(c) AS DOUBLE) AS sy, CAST(SUM(i * c) AS DOUBLE) AS sxy
             |  FROM idx GROUP BY 1)
             |SELECT event_type, CAST(n AS INT) AS n_bins,
             |  (n * sxy - (n * (n - 1) / 2) * sy)
             |    / (n * (n * (n - 1) * (2 * n - 1) / 6) - (n * (n - 1) / 2) * (n * (n - 1) / 2)) AS slope,
             |  (sy - ((n * sxy - (n * (n - 1) / 2) * sy)
             |    / (n * (n * (n - 1) * (2 * n - 1) / 6) - (n * (n - 1) / 2) * (n * (n - 1) / 2))) * (n * (n - 1) / 2)) / n AS intercept
             |FROM s ORDER BY event_type""".stripMargin)),

    // series_fit_poly degree 2: Cramer's rule over exact power sums S0..S4
    // (closed forms in n, exactly divisible) and moments T0..T2 (integral
    // daily counts) — determinant terms are exact integral doubles, so the
    // three final divisions are the only rounding and the oracle replays the
    // identical formulas
    QueryDef("q_series_fit_poly",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .withColumn("co", SeriesFunctions.seriesFitPoly(col("sr"), 2))
        .select(col("event_type"), element_at(col("co"), 1).as("a2"),
          element_at(col("co"), 2).as("a1"), element_at(col("co"), 3).as("a0"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |s AS (
             |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(c) AS DOUBLE) AS t0, CAST(SUM(i * c) AS DOUBLE) AS t1,
             |    CAST(SUM(i * i * c) AS DOUBLE) AS t2
             |  FROM idx GROUP BY 1),
             |k AS (SELECT event_type, n, t0, t1, t2,
             |    n * (n - 1) / 2 AS s1,
             |    n * (n - 1) * (n * 2 - 1) / 6 AS s2,
             |    (n * (n - 1) / 2) * (n * (n - 1) / 2) AS s3,
             |    n * (n - 1) * (n * 2 - 1) * (n * n * 3 - n * 3 - 1) / 30 AS s4
             |  FROM s),
             |dets AS (SELECT event_type,
             |    n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
             |      + s2 * (s1 * s3 - s2 * s2) AS det,
             |    t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2)
             |      + s2 * (t1 * s3 - s2 * t2) AS det0,
             |    n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2)
             |      + s2 * (s1 * t2 - t1 * s2) AS det1,
             |    n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2)
             |      + t0 * (s1 * s3 - s2 * s2) AS det2
             |  FROM k)
             |SELECT event_type, det2 / det AS a2, det1 / det AS a1, det0 / det AS a0
             |FROM dets ORDER BY event_type""".stripMargin)),

    // series_fit_2lines: argmin-over-splits double line fit per daily series.
    // Every Σ input is an exact integer (daily counts), and both engines run
    // the identical fixed-order IEEE chain per split candidate, so rss values
    // are bit-equal and the argmin (ties → smallest k) agrees — rsquare /
    // variance / rvariance driver-compare exactly, unlike the single-line
    // fit whose residual fold is order-sensitive.
    QueryDef("q_series_fit_2lines",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .withColumn("fit", SeriesFunctions.seriesFit2Lines(col("sr")))
        .select(col("event_type"),
          col("fit.split_idx").as("split_idx"),
          col("fit.rsquare").as("rsquare"),
          col("fit.variance").as("variance"),
          col("fit.rvariance").as("rvariance"),
          col("fit.left_slope").as("left_slope"),
          col("fit.left_intercept").as("left_intercept"),
          col("fit.right_slope").as("right_slope"),
          col("fit.right_intercept").as("right_intercept"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |tot AS (
             |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(c) AS DOUBLE) AS sy, CAST(SUM(c * c) AS DOUBLE) AS syy
             |  FROM idx GROUP BY 1),
             |ks AS (SELECT event_type, n, sy, syy,
             |  unnest(range(1, CAST(n AS BIGINT))) AS k FROM tot),
             |seg AS (
             |  SELECT x.event_type, x.k, MAX(x.n) AS n, MAX(x.sy) AS sy,
             |    MAX(x.syy) AS syy,
             |    CAST(SUM(CASE WHEN i.i < x.k THEN i.c END) AS DOUBLE) AS syl,
             |    CAST(SUM(CASE WHEN i.i < x.k THEN i.i * i.c END) AS DOUBLE) AS sxyl,
             |    CAST(SUM(CASE WHEN i.i < x.k THEN i.c * i.c END) AS DOUBLE) AS syyl,
             |    CAST(SUM(CASE WHEN i.i >= x.k THEN i.c END) AS DOUBLE) AS syr,
             |    CAST(SUM(CASE WHEN i.i >= x.k THEN (i.i - x.k) * i.c END) AS DOUBLE) AS sxyr,
             |    CAST(SUM(CASE WHEN i.i >= x.k THEN i.c * i.c END) AS DOUBLE) AS syyr
             |  FROM ks x JOIN idx i ON i.event_type = x.event_type
             |  GROUP BY 1, 2),
             |f1 AS (SELECT *, CAST(k AS DOUBLE) AS ml, n - CAST(k AS DOUBLE) AS mr FROM seg),
             |f2 AS (SELECT *,
             |  ml * (ml - 1) / 2 AS sxl, ml * (ml - 1) * (ml * 2 - 1) / 6 AS sxxl,
             |  mr * (mr - 1) / 2 AS sxr, mr * (mr - 1) * (mr * 2 - 1) / 6 AS sxxr FROM f1),
             |f3 AS (SELECT *,
             |  (ml * sxyl - sxl * syl) / (ml * sxxl - sxl * sxl) AS sll,
             |  (mr * sxyr - sxr * syr) / (mr * sxxr - sxr * sxr) AS slr FROM f2),
             |f4 AS (SELECT *, (syl - sll * sxl) / ml AS il, (syr - slr * sxr) / mr AS ir FROM f3),
             |f5 AS (SELECT *,
             |  CASE WHEN ml <= 1 THEN 0.0 ELSE (syyl - il * syl) - sll * sxyl END
             |    + CASE WHEN mr <= 1 THEN 0.0 ELSE (syyr - ir * syr) - slr * sxyr END AS rss
             |  FROM f4),
             |best AS (SELECT * FROM f5
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rss ASC, k ASC) = 1)
             |SELECT event_type, CAST(k AS BIGINT) AS split_idx,
             |  CASE WHEN (syy - (sy * sy) / n) = 0 THEN 1.0
             |    ELSE 1.0 - rss / (syy - (sy * sy) / n) END AS rsquare,
             |  (syy - (sy * sy) / n) / n AS variance,
             |  rss / n AS rvariance,
             |  CASE WHEN ml <= 1 THEN 0.0 ELSE sll END AS left_slope,
             |  CASE WHEN ml <= 1 THEN syl ELSE il END AS left_intercept,
             |  CASE WHEN mr <= 1 THEN 0.0 ELSE slr END AS right_slope,
             |  CASE WHEN mr <= 1 THEN syr ELSE ir END AS right_intercept
             |FROM best ORDER BY event_type""".stripMargin)),

    // series fill family over a sparse packed series (value > 150 keeps ~5%
    // of rows, so many day-bins are empty): forward/backward nearest-anchor
    // fill + const fill, unpacked to rows so doubles compare as doubles
    QueryDef("q_series_fill",
      (s, d) => T(s, d, "events")
        .where_(col("value") > 150)
        .makeSeries(Seq(col("event_type")), col("ts"), 86400,
          Seq(min(col("value")).as("mv")), Seq(lit(null)))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("__bin"), col("mv")))),
          x => x.getField("mv").cast("double")).as("sr"))
        .withColumn("fw", SeriesFunctions.seriesFillForward(col("sr")))
        .withColumn("bw", SeriesFunctions.seriesFillBackward(col("sr")))
        .withColumn("ct", SeriesFunctions.seriesFillConst(col("sr"), lit(-1.0)))
        .select(col("event_type"), posexplode(arrays_zip(col("sr"), col("fw"),
          col("bw"), col("ct"))))
        .select(col("event_type"), col("pos").cast("int").as("i"),
          col("col.sr").as("mv"), col("col.fw").as("fwd"),
          col("col.bw").as("bwd"), col("col.ct").as("cst"))
        .sortBy(col("event_type"), col("i")),
      Some("""WITH binned AS (
             |  SELECT event_type,
             |    TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS bin_ts,
             |    value FROM events WHERE value > 150),
             |bounds AS (SELECT min(bin_ts) AS lo, max(bin_ts) AS hi FROM binned),
             |grid AS (SELECT unnest(generate_series((SELECT lo FROM bounds), (SELECT hi FROM bounds), INTERVAL 1 DAY)) AS bin_ts),
             |keys AS (SELECT DISTINCT event_type FROM binned),
             |agged AS (SELECT event_type, bin_ts, MIN(value) AS mv FROM binned GROUP BY 1, 2),
             |series AS (
             |  SELECT k.event_type, g.bin_ts, a.mv
             |  FROM keys k CROSS JOIN grid g
             |  LEFT JOIN agged a ON a.event_type = k.event_type AND a.bin_ts = g.bin_ts)
             |SELECT event_type,
             |  CAST(ROW_NUMBER() OVER w - 1 AS INT) AS i, mv,
             |  last_value(mv IGNORE NULLS) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd,
             |  first_value(mv IGNORE NULLS) OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bwd,
             |  COALESCE(mv, -1.0) AS cst
             |FROM series
             |WINDOW w AS (PARTITION BY event_type ORDER BY bin_ts)
             |ORDER BY event_type, i""".stripMargin)),

    // series_pearson_correlation between each event type's daily count series
    // and its daily distinct-user series — exact sums, fixed-order IEEE chain
    QueryDef("q_series_pearson",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"), countDistinct(col("user_id")).as("u"))
        .groupBy(col("event_type"))
        .agg(
          transform(array_sort(collect_list(struct(col("dd"), col("c")))),
            x => x.getField("c").cast("double")).as("sa"),
          transform(array_sort(collect_list(struct(col("dd"), col("u")))),
            x => x.getField("u").cast("double")).as("sb"))
        .select(col("event_type"),
          SeriesFunctions.seriesPearson(col("sa"), col("sb")).as("r"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c,
             |    COUNT(DISTINCT user_id) AS u
             |  FROM events GROUP BY 1, 2),
             |s AS (
             |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(c) AS DOUBLE) AS sa, CAST(SUM(u) AS DOUBLE) AS sb,
             |    CAST(SUM(c * u) AS DOUBLE) AS sab,
             |    CAST(SUM(c * c) AS DOUBLE) AS saa, CAST(SUM(u * u) AS DOUBLE) AS sbb
             |  FROM daily GROUP BY 1)
             |SELECT event_type,
             |  (n * sab - sa * sb) / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)) AS r
             |FROM s ORDER BY event_type""".stripMargin)),

    // series_periods_detect: top-2 periods by lag-L autocorrelation over each
    // event type's daily count series — exact integral sums, fixed-order IEEE
    // Pearson chain, tie-break on the smaller period (both engines rank the
    // identical score doubles, so the argmax agrees bit-for-bit)
    QueryDef("q_series_periods",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("event_type"),
          SeriesFunctions.seriesPeriodsDetect(col("sr"), 2, 10, 2).as("pd"))
        .select(col("event_type"),
          element_at(col("pd.periods"), 1).as("p1"),
          element_at(col("pd.scores"), 1).as("s1"),
          element_at(col("pd.periods"), 2).as("p2"),
          element_at(col("pd.scores"), 2).as("s2"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |lags AS (SELECT unnest(generate_series(2, 10)) AS l),
             |acf AS (
             |  SELECT x.event_type, l.l,
             |    CAST(COUNT(*) AS DOUBLE) AS m,
             |    CAST(SUM(x.c) AS DOUBLE) AS sa, CAST(SUM(y.c) AS DOUBLE) AS sb,
             |    CAST(SUM(x.c * y.c) AS DOUBLE) AS sab,
             |    CAST(SUM(x.c * x.c) AS DOUBLE) AS saa, CAST(SUM(y.c * y.c) AS DOUBLE) AS sbb
             |  FROM lags l CROSS JOIN idx x JOIN idx y
             |    ON x.event_type = y.event_type AND y.i = x.i + l.l
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT event_type, l,
             |    CASE WHEN m < 2 OR (sqrt(m * saa - sa * sa) * sqrt(m * sbb - sb * sb)) = 0
             |      THEN 0.0
             |      ELSE (m * sab - sa * sb) / (sqrt(m * saa - sa * sa) * sqrt(m * sbb - sb * sb))
             |    END AS score
             |  FROM acf),
             |ranked AS (
             |  SELECT event_type, l, score,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY score DESC, l ASC) AS rn
             |  FROM scored)
             |SELECT event_type,
             |  MAX(CASE WHEN rn = 1 THEN CAST(l AS INT) END) AS p1,
             |  MAX(CASE WHEN rn = 1 THEN score END) AS s1,
             |  MAX(CASE WHEN rn = 2 THEN CAST(l AS INT) END) AS p2,
             |  MAX(CASE WHEN rn = 2 THEN score END) AS s2
             |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // series_periods_validate: the caller's candidate periods scored with
    // the SAME lag-L ACF chain as detect, in the GIVEN order (7 then 3) —
    // the oracle replays the chain for exactly those two lags
    QueryDef("q_series_periods_val",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("event_type"),
          SeriesFunctions.seriesPeriodsValidate(col("sr"), Seq(7, 3)).as("pv"))
        .select(col("event_type"),
          element_at(col("pv.periods"), 1).as("p1"),
          element_at(col("pv.scores"), 1).as("s1"),
          element_at(col("pv.periods"), 2).as("p2"),
          element_at(col("pv.scores"), 2).as("s2"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, c, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) - 1 AS i
             |  FROM daily),
             |lags AS (SELECT unnest([7, 3]) AS l),
             |acf AS (
             |  SELECT x.event_type, l.l,
             |    CAST(COUNT(*) AS DOUBLE) AS m,
             |    CAST(SUM(x.c) AS DOUBLE) AS sa, CAST(SUM(y.c) AS DOUBLE) AS sb,
             |    CAST(SUM(x.c * y.c) AS DOUBLE) AS sab,
             |    CAST(SUM(x.c * x.c) AS DOUBLE) AS saa, CAST(SUM(y.c * y.c) AS DOUBLE) AS sbb
             |  FROM lags l CROSS JOIN idx x JOIN idx y
             |    ON x.event_type = y.event_type AND y.i = x.i + l.l
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT event_type, l,
             |    CASE WHEN m < 2 OR (sqrt(m * saa - sa * sa) * sqrt(m * sbb - sb * sb)) = 0
             |      THEN 0.0
             |      ELSE (m * sab - sa * sb) / (sqrt(m * saa - sa * sa) * sqrt(m * sbb - sb * sb))
             |    END AS score
             |  FROM acf),
             |ev AS (SELECT DISTINCT event_type FROM daily)
             |-- LEFT JOIN from the group domain: a series shorter than the lag
             |-- produces NO acf rows, but the engine scores it 0.0 (m < 2
             |-- branch) — COALESCE keeps the oracle row instead of dropping it
             |SELECT e.event_type AS event_type,
             |  CAST(7 AS BIGINT) AS p1,
             |  COALESCE(MAX(CASE WHEN s.l = 7 THEN s.score END), 0.0) AS s1,
             |  CAST(3 AS BIGINT) AS p2,
             |  COALESCE(MAX(CASE WHEN s.l = 3 THEN s.score END), 0.0) AS s2
             |FROM ev e LEFT JOIN scored s ON s.event_type = e.event_type
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // series_decompose_anomalies: Tukey-fence flags over the decomposition
    // residual — integer flags, so the packed-list output stringifies safely
    QueryDef("q_series_anomalies",
      (s, d) => T(s, d, "events")
        .summarize(Seq(col("event_type"), date_trunc("day", col("ts")).as("dd")),
          count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("dd"), col("c")))),
          x => x.getField("c").cast("double")).as("sr"))
        .select(col("event_type"),
          array_join(transform(
            SeriesFunctions.seriesDecomposeAnomalies(col("sr"), 7),
            x => x.cast("string")), ";").as("flags"))
        .sortBy(col("event_type")),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS dd, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT event_type, dd, c,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd) AS INT) - 1 AS i
             |  FROM daily),
             |tr AS (
             |  SELECT event_type, dd, i, CAST(c AS DOUBLE) AS c,
             |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dd
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |      / LEAST(i + 1, 7) AS trend
             |  FROM idx),
             |det AS (SELECT *, c - trend AS d, i % 7 AS ph FROM tr),
             |med AS (
             |  SELECT event_type, ph,
             |    list_sort(list(d))[GREATEST(1, CAST(CEIL(0.5 * len(list(d))) AS INT))] AS seasonal
             |  FROM det GROUP BY 1, 2),
             |comp AS (
             |  SELECT det.event_type, det.i,
             |    det.c - (det.trend + med.seasonal) AS resid
             |  FROM det JOIN med ON det.event_type = med.event_type AND det.ph = med.ph),
             |packed AS (
             |  SELECT event_type, LIST(resid ORDER BY i) AS sr FROM comp GROUP BY 1),
             |fences AS (
             |  SELECT event_type, sr,
             |    list_sort(sr)[GREATEST(1, CAST(CEIL(0.25 * len(sr)) AS INT))] AS q1,
             |    list_sort(sr)[GREATEST(1, CAST(CEIL(0.75 * len(sr)) AS INT))] AS q3
             |  FROM packed)
             |SELECT event_type,
             |  array_to_string(list_transform(sr, x -> CAST(
             |    CASE WHEN x > q3 + 1.5 * (q3 - q1) THEN 1
             |         WHEN x < q1 - 1.5 * (q3 - q1) THEN -1
             |         ELSE 0 END AS VARCHAR)), ';') AS flags
             |FROM fences ORDER BY event_type""".stripMargin)),

    // --- deterministic keyed dedup (meerkat merge-dedup semantics) ----------
    QueryDef("q_dedup",
      (s, d) => Tables.dedupRows(
          T(s, d, "events").extend("k" -> col("user_id") % 50), Seq("k"))
        .project(col("k"), col("event_id"))
        .sortBy(col("k")),
      Some("""SELECT k, event_id FROM (
             |  SELECT user_id % 50 AS k, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id % 50 ORDER BY event_id) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY k""".stripMargin)),

    QueryDef("q_distinct_rows",
      (s, d) => T(s, d, "events").distinct()
        .summarize(Nil, count(lit(1)).as("n_distinct")),
      Some("SELECT COUNT(*) AS n_distinct FROM (SELECT DISTINCT * FROM events)")),

    // --- shard-by-hash ingest routing (README.md:8) --------------------------
    // Per-shard row/user counts after consistent-hash sharding. The shard id is
    // the portable md5-based hash (NOT Spark Murmur3), so the oracle reproduces
    // the exact routing: any engine agrees on which shard a key lives in.
    QueryDef("q_shard_hash",
      (s, d) => Tables.shardByHash(T(s, d, "events"), "user_id", 8)
        .summarize(Seq(col("_shard").as("shard")),
          count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
        .sortBy(col("shard")),
      Some("""SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
             |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS users
             |FROM events GROUP BY 1 ORDER BY shard""".stripMargin))
  )
}
