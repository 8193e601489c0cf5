package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.kql.KqlParser
import graft.sources.Tables

/** Driver-contract queries whose plans are built by PARSING KQL TEXT — the
  * reference's declared query language ("We plan to use KQL (Kusto Query Language)
  * as the main query language", `/root/reference/README.md:33-34`). Each entry runs a
  * KQL string through KqlParser against the fixture tables and is oracle-checked in
  * DuckDB like every other query; the parser emits the same combinator plans as the
  * typed API, so Catalyst optimizations apply identically.
  */
object KqlTextQueries {

  private def run(s: SparkSession, d: String, kql: String): DataFrame =
    KqlParser.parse(kql, Tables.resolver(s, d,
      // two registered database namespaces for the database("db").Table
      // surface; in the fixture store both map to the sfDir (see
      // Tables.resolver — logical namespaces over one store)
      databases = Map("sales" -> d, "crm" -> d)))

  /** CSV dump of an events subset for the externaldata row — written once per
    * (session, sfDir); the timed body is the externaldata READ. */
  private def externCsv(s: SparkSession, d: String): String =
    graft.SessionArtifacts.dir(s, "extern", d) { path =>
      import org.apache.spark.sql.functions._
      Tables.load(s, d, "events")
        .where(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"),
          floor(col("value")).cast("long").as("v"))
        .coalesce(1)
        .write.option("header", true).csv(path)
    }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_kql_where_summarize",
      (s, d) => run(s, d,
        """lineitem
          || where l_quantity between (5 .. 45) and l_returnflag in ('A', 'N')
          || extend qty2 = l_quantity * 2
          || summarize n = count(), sum_qty = sum(l_quantity), sum_qty2 = sum(qty2)
          |    by l_returnflag, l_linestatus
          || sort by l_returnflag asc, l_linestatus asc""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |  SUM(l_quantity) AS sum_qty, SUM(l_quantity * 2) AS sum_qty2
             |FROM lineitem
             |WHERE l_quantity BETWEEN 5 AND 45 AND l_returnflag IN ('A', 'N')
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q_kql_join",
      (s, d) => run(s, d,
        """orders
          || where o_totalprice > 150000
          || project-rename c_custkey = o_custkey
          || join kind=inner (customer | project c_custkey, c_mktsegment) on c_custkey
          || summarize n = count() by c_mktsegment
          || sort by c_mktsegment asc""".stripMargin),
      Some("""SELECT c_mktsegment, COUNT(*) AS n
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice > 150000
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // database("db").Table qualified references (meerkat's named-database
    // namespace): join across two registered databases; the cluster(...)
    // qualifier parses and is ignored (single engine, documented)
    QueryDef("q_kql_database",
      (s, d) => run(s, d,
        """database('sales').orders
          || where o_orderkey % 500 == 0
          || project o_orderkey, o_custkey
          || join kind=inner (cluster('local').database('crm').customer
          |    | project c_custkey, c_name) on $left.o_custkey == $right.c_custkey
          || project o_orderkey, c_name
          || sort by o_orderkey asc""".stripMargin),
      Some("""SELECT o_orderkey, c_name
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 500 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // `macro-expand` — the entity-group iteration operator: the body runs
    // once per database scope (X.orders resolving per entity) and the legs
    // union by name; per-leg filters/projections push into each scan. Both
    // fixture databases map to the same store, so the oracle is the one-leg
    // aggregate doubled — the operator mechanics (let-bound group, alias
    // resolution, post-pipe aggregation over the union) are what's proven.
    QueryDef("q_kql_macro_expand",
      (s, d) => run(s, d,
        """let eg = entity_group [database('sales'), database('crm')];
          |macro-expand eg as X (
          |  X.orders | where o_orderkey % 400 == 0
          |  | project o_orderstatus, o_totalprice)
          || summarize n = count(), mx = max(o_totalprice) by o_orderstatus
          || sort by o_orderstatus asc""".stripMargin),
      Some("""SELECT o_orderstatus, CAST(2 * COUNT(*) AS BIGINT) AS n,
             |  MAX(o_totalprice) AS mx
             |FROM orders WHERE o_orderkey % 400 = 0
             |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    QueryDef("q_kql_bin",
      (s, d) => run(s, d,
        """events
          || where value > 100 and event_type != 'scroll'
          || extend b = bin(ts, 6h)
          || summarize n = count(), mx = max(value) by b, event_type
          || sort by b asc, event_type asc""".stripMargin),
      Some("""SELECT TIMESTAMP '1970-01-01 00:00:00'
             |    + INTERVAL (CAST((epoch_us(ts)//1000000)//21600*21600 AS BIGINT)) SECOND AS b,
             |  event_type, COUNT(*) AS n, MAX(value) AS mx
             |FROM events WHERE value > 100 AND event_type <> 'scroll'
             |GROUP BY 1, 2 ORDER BY b, event_type""".stripMargin)),

    QueryDef("q_kql_top",
      (s, d) => run(s, d,
        """part
          || where p_name contains 'wid' or p_name startswith 'a'
          || top 20 by p_retailprice desc, p_partkey asc
          || project p_partkey, p_name, p_retailprice""".stripMargin),
      Some("""SELECT p_partkey, p_name, p_retailprice FROM part
             |WHERE p_name LIKE '%wid%' OR p_name LIKE 'a%'
             |ORDER BY p_retailprice DESC, p_partkey LIMIT 20""".stripMargin)),

    QueryDef("q_kql_let",
      (s, d) => run(s, d,
        """let big = orders | where o_totalprice > 200000;
          |let names = customer | project c_custkey, c_name;
          |big
          || project-rename c_custkey = o_custkey
          || join kind=inner (names) on c_custkey
          || summarize n = count(), top_price = max(o_totalprice) by c_name
          || where n >= 2
          || sort by c_name asc""".stripMargin),
      Some("""SELECT c_name, COUNT(*) AS n, MAX(o_totalprice) AS top_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice > 200000
             |GROUP BY c_name HAVING COUNT(*) >= 2
             |ORDER BY c_name""".stripMargin)),

    QueryDef("q_kql_parse",
      (s, d) => run(s, d,
        """events
          || extend line = strcat(event_type, ' id=', tostring(event_id))
          || parse line with etype ' id=' eid:long
          || summarize n = count(), mx = max(eid) by etype
          || sort by etype asc""".stripMargin),
      Some("""SELECT event_type AS etype, COUNT(*) AS n, MAX(event_id) AS mx
             |FROM events GROUP BY 1 ORDER BY etype""".stripMargin)),

    // parse-where: rows the pattern does not match are dropped (only every
    // third event carries the ' id=' suffix the pattern anchors on)
    QueryDef("q_kql_parse_where",
      (s, d) => run(s, d,
        """events
          || extend line = iff(event_id % 3 == 0,
          |    strcat(event_type, ' id=', tostring(event_id)), event_type)
          || parse-where line with etype ' id=' eid:long
          || summarize n = count(), mx = max(eid) by etype
          || sort by etype asc""".stripMargin),
      Some("""SELECT event_type AS etype, COUNT(*) AS n, MAX(event_id) AS mx
             |FROM events WHERE event_id % 3 = 0 GROUP BY 1 ORDER BY etype""".stripMargin)),

    QueryDef("q_kql_datatable",
      (s, d) => run(s, d,
        """let weights = datatable(event_type:string, mult:long) [
          |  'click', 2, 'view', 3, 'purchase', 10];
          |events
          || join kind=inner (weights) on event_type
          || summarize n = count(), weighted = sum(mult) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""WITH weights(event_type, mult) AS (VALUES ('click', 2), ('view', 3), ('purchase', 10))
             |SELECT e.event_type AS event_type, COUNT(*) AS n, CAST(SUM(mult) AS BIGINT) AS weighted
             |FROM events e JOIN weights w ON e.event_type = w.event_type
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    QueryDef("q_kql_mvapply",
      (s, d) => run(s, d,
        """events
          || extend tags = split(strcat(event_type, ',user', tostring(user_id % 5)), ',')
          || mv-apply tag = tags on (where strlen(tag) > 4 | extend tag = toupper(tag))
          || summarize n = count() by tag
          || sort by tag asc""".stripMargin),
      Some("""WITH x AS (
             |  SELECT unnest([event_type, 'user' || CAST(user_id % 5 AS VARCHAR)]) AS tag
             |  FROM events)
             |SELECT upper(tag) AS tag, COUNT(*) AS n FROM x
             |WHERE length(tag) > 4 GROUP BY 1 ORDER BY tag""".stripMargin)),

    QueryDef("q_kql_serialize",
      (s, d) => run(s, d,
        """documents
          || where lang == 'en'
          || project doc_id, n_chars
          || sort by doc_id asc
          || serialize
          || extend rn = row_number(), prev_chars = prev(n_chars), cum = row_cumsum(n_chars)
          || sort by doc_id asc""".stripMargin),
      // CAST discipline: DuckDB ROW_NUMBER() is BIGINT (Spark row_number is int32)
      // and SUM(BIGINT) is HUGEINT; the driver's hash compare is type-sensitive.
      Some("""SELECT doc_id, n_chars,
             |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
             |  LAG(n_chars, 1) OVER w AS prev_chars,
             |  CAST(SUM(n_chars) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |FROM documents WHERE lang = 'en'
             |WINDOW w AS (ORDER BY doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // --- round-3 parser surface: make-series / top-nested / range source /
    // mv-expand on expressions / has_any / union withsource / serialized rank &
    // session row functions / percentile scaling -----------------------------

    QueryDef("q_kql_make_series",
      (s, d) => run(s, d,
        """events
          || make-series n = count() default = 0,
          |    sv = sum(tolong(floor(value))) default = 0
          |  on ts step 6h by event_type
          || sort by event_type asc, ts asc""".stripMargin),
      Some("""WITH binned AS (
             |  SELECT event_type,
             |    TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(ts)//1000000)//21600*21600 AS BIGINT)) SECOND AS ts,
             |    value FROM events),
             |bounds AS (SELECT min(ts) AS lo, max(ts) AS hi FROM binned),
             |grid AS (SELECT unnest(generate_series((SELECT lo FROM bounds), (SELECT hi FROM bounds), INTERVAL 6 HOUR)) AS ts),
             |keys AS (SELECT DISTINCT event_type FROM events),
             |agged AS (SELECT event_type, ts, COUNT(*) AS n,
             |    SUM(CAST(floor(value) AS BIGINT)) AS sv FROM binned GROUP BY 1, 2)
             |SELECT k.event_type AS event_type, g.ts AS ts,
             |  COALESCE(a.n, 0) AS n, CAST(COALESCE(a.sv, 0) AS BIGINT) AS sv
             |FROM keys k CROSS JOIN grid g
             |LEFT JOIN agged a ON a.event_type = k.event_type AND a.ts = g.ts
             |ORDER BY k.event_type, g.ts""".stripMargin)),

    // make-series with an explicit `from .. to ..` range: the grid is fixed
    // by the bounds (bins epoch-aligned, rows outside [from, to) excluded),
    // so empty edge bins appear with their default fill even when no data
    // reaches them
    QueryDef("q_kql_make_series_range",
      (s, d) => run(s, d,
        """events
          || make-series n = count() default = 0,
          |    sv = sum(tolong(floor(value))) default = 0
          |  on ts from datetime(2024-01-05) to datetime(2024-01-12) step 1d
          |  by event_type
          || sort by event_type asc, ts asc""".stripMargin),
      Some("""WITH grid AS (SELECT unnest(generate_series(
             |    TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-11', INTERVAL 1 DAY)) AS ts),
             |f AS (SELECT event_type, date_trunc('day', ts) AS ts, value FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'),
             |keys AS (SELECT DISTINCT event_type FROM f),
             |agged AS (SELECT event_type, ts, COUNT(*) AS n,
             |    SUM(CAST(floor(value) AS BIGINT)) AS sv FROM f GROUP BY 1, 2)
             |SELECT k.event_type AS event_type, g.ts AS ts,
             |  COALESCE(a.n, 0) AS n, CAST(COALESCE(a.sv, 0) AS BIGINT) AS sv
             |FROM keys k CROSS JOIN grid g
             |LEFT JOIN agged a ON a.event_type = k.event_type AND a.ts = g.ts
             |ORDER BY k.event_type, g.ts""".stripMargin)),

    QueryDef("q_kql_top_nested",
      (s, d) => run(s, d,
        """events
          || top-nested 2 of event_type by cnt = count(),
          |  top-nested 3 of user_id by mx = max(value)
          || sort by event_type asc, user_id asc""".stripMargin),
      Some("""WITH l1 AS (
             |  SELECT event_type, COUNT(*) AS cnt FROM events
             |  GROUP BY 1 ORDER BY cnt DESC, event_type LIMIT 2),
             |l2 AS (
             |  SELECT e.event_type, e.user_id, MAX(value) AS mx
             |  FROM events e JOIN l1 USING (event_type) GROUP BY 1, 2),
             |l2t AS (
             |  SELECT event_type, user_id, mx FROM (
             |    SELECT event_type, user_id, mx, ROW_NUMBER() OVER (
             |      PARTITION BY event_type ORDER BY mx DESC, user_id) AS rn FROM l2)
             |  WHERE rn <= 3)
             |SELECT t.event_type AS event_type, l1.cnt AS cnt, t.user_id AS user_id, t.mx AS mx
             |FROM l2t t JOIN l1 USING (event_type)
             |ORDER BY event_type, user_id""".stripMargin)),

    QueryDef("q_kql_range",
      (s, d) => run(s, d,
        """range x from 0 to 9999 step 3
          || where x % 7 == 0
          || summarize n = count(), sx = sum(x)""".stripMargin),
      Some("""SELECT COUNT(*) AS n, CAST(SUM(range) AS BIGINT) AS sx
             |FROM range(0, 10000, 3) WHERE range % 7 = 0""".stripMargin)),

    QueryDef("q_kql_mvexpand_expr",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || mv-expand t = split(strcat(event_type, ',u', tostring(user_id % 3)), ',')
          || summarize n = count() by t
          || sort by t asc""".stripMargin),
      Some("""SELECT t, COUNT(*) AS n FROM (
             |  SELECT unnest([event_type, 'u' || CAST(user_id % 3 AS VARCHAR)]) AS t
             |  FROM events WHERE event_id % 500 = 0)
             |GROUP BY t ORDER BY t""".stripMargin)),

    QueryDef("q_kql_has_any",
      (s, d) => run(s, d,
        """documents
          || where text has_any ('join', 'data-set')
          || summarize n = count() by lang
          || sort by lang asc""".stripMargin),
      // 'data-set' exercises the non-alphanumeric-needle regex fallback of has()
      Some("""SELECT lang, COUNT(*) AS n FROM documents
             |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])join($|[^a-z0-9])')
             |   OR regexp_matches(lower(text), '(^|[^a-z0-9])data-set($|[^a-z0-9])')
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q_kql_union_withsource",
      (s, d) => run(s, d,
        """let lows = events | where value < 5 | project id = event_id;
          |events
          || where value > 495
          || project id = event_id
          || union withsource = src lows
          || summarize n = count() by src
          || sort by src asc""".stripMargin),
      Some("""SELECT src, COUNT(*) AS n FROM (
             |  SELECT 'events' AS src FROM events WHERE value > 495
             |  UNION ALL
             |  SELECT 'lows' AS src FROM events WHERE value < 5)
             |GROUP BY src ORDER BY src""".stripMargin)),

    // Serialized rank + sessionization + neighbours, all through the DISTRIBUTED
    // row-function path (range partition + per-partition offsets; no
    // single-partition window): row_rank_dense counts value changes along the
    // serialized order (= DENSE_RANK when the term is a leading sort key);
    // row_window_session starts a new session on idle gaps > 30m.
    QueryDef("q_kql_rank_session",
      (s, d) => run(s, d,
        """events
          || where user_id < 5
          || project user_id, ts, event_id
          || sort by user_id asc, ts asc, event_id asc
          || serialize
          || extend rn = row_number(), rk = row_rank_dense(user_id),
          |    rkm = row_rank_min(user_id),
          |    sess = row_window_session(ts, 1d, 30m),
          |    pe = prev(event_id), ne = next(event_id)
          || sort by user_id asc, ts asc, event_id asc""".stripMargin),
      Some("""WITH s AS (SELECT user_id, ts, event_id FROM events WHERE user_id < 5),
             |o AS (SELECT user_id, ts, event_id,
             |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
             |  DENSE_RANK() OVER (ORDER BY user_id) AS rk,
             |  RANK() OVER (ORDER BY user_id) AS rkm,
             |  LAG(event_id, 1) OVER w AS pe,
             |  LEAD(event_id, 1) OVER w AS ne,
             |  CASE WHEN LAG(ts, 1) OVER w IS NULL
             |         OR epoch_us(ts)//1000000 - epoch_us(LAG(ts, 1) OVER w)//1000000 > 1800
             |       THEN ts END AS new_ts
             |  FROM s WINDOW w AS (ORDER BY user_id, ts, event_id))
             |SELECT user_id, ts, event_id, rn, rk, rkm, pe, ne,
             |  last_value(new_ts IGNORE NULLS) OVER (
             |    ORDER BY user_id, ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             |FROM o ORDER BY user_id, ts, event_id""".stripMargin)),

    // row_cumsum with a restart predicate (reset BEFORE adding the row), still
    // through the distributed range-partition + carry-composition path
    QueryDef("q_kql_cumsum_restart",
      (s, d) => run(s, d,
        """events
          || where user_id < 5
          || project user_id, ts, event_id
          || sort by user_id asc, ts asc, event_id asc
          || serialize
          || extend cs = row_cumsum(event_id % 100, event_id % 7 == 0)
          || sort by user_id asc, ts asc, event_id asc""".stripMargin),
      Some("""WITH s AS (SELECT user_id, ts, event_id FROM events WHERE user_id < 5),
             |m AS (SELECT user_id, ts, event_id,
             |  SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) OVER (
             |    ORDER BY user_id, ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
             |  FROM s)
             |SELECT user_id, ts, event_id,
             |  CAST(SUM(event_id % 100) OVER (PARTITION BY seg
             |    ORDER BY user_id, ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
             |FROM m ORDER BY user_id, ts, event_id""".stripMargin)),

    QueryDef("q_kql_invoke",
      (s, d) => run(s, d,
        """let enrich = (src:(value:real)) {
          |  src | where value > 250 | extend vb = tolong(floor(value / 50)) };
          |events
          || invoke enrich()
          || summarize n = count(), mv = max(vb) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(MAX(CAST(floor(value / 50) AS BIGINT)) AS BIGINT) AS mv
             |FROM events WHERE value > 250
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // offset/default forms of prev/next through the distributed boundary-carry
    // path (offset 3 spans partition boundaries at the verify partition count)
    QueryDef("q_kql_prev_offset",
      (s, d) => run(s, d,
        """events
          || where user_id < 5
          || project user_id, ts, event_id
          || sort by user_id asc, ts asc, event_id asc
          || serialize
          || extend p3 = prev(event_id, 3), p3d = prev(event_id, 3, 0), n2 = next(event_id, 2)
          || sort by user_id asc, ts asc, event_id asc""".stripMargin),
      Some("""SELECT user_id, ts, event_id,
             |  LAG(event_id, 3) OVER w AS p3,
             |  LAG(event_id, 3, 0) OVER w AS p3d,
             |  LEAD(event_id, 2) OVER w AS n2
             |FROM events WHERE user_id < 5
             |WINDOW w AS (ORDER BY user_id, ts, event_id)
             |ORDER BY user_id, ts, event_id""".stripMargin)),

    QueryDef("q_kql_percentile",
      (s, d) => run(s, d,
        """lineitem
          || summarize p25 = percentile(l_quantity, 25), p50 = percentile(l_quantity, 50),
          |    p75 = percentile(l_quantity, 75) by l_returnflag
          || sort by l_returnflag asc""".stripMargin),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // percentiles(): one agg call expanding to Kusto-named columns
    QueryDef("q_kql_percentiles_multi",
      (s, d) => run(s, d,
        """lineitem
          || summarize percentiles(l_quantity, 25, 50, 75) by l_returnflag
          || sort by l_returnflag asc""".stripMargin),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS percentile_l_quantity_25,
             |  quantile_cont(l_quantity, 0.5) AS percentile_l_quantity_50,
             |  quantile_cont(l_quantity, 0.75) AS percentile_l_quantity_75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef("q_kql_scalar_misc2",
      (s, d) => run(s, d,
        """events
          || where event_id % 100 == 0
          || extend s = strcat_delim('-', event_type, tostring(user_id % 10)),
          |    ix = indexof(event_type, 'c'),
          |    co = tolong(countof(event_type, 'c')),
          |    rv = reverse(event_type),
          |    rep = strrep('ab', 3),
          |    mx = max_of(value, 250.0, todouble(user_id)),
          |    cs = case(value < 100, 'low', value < 300, 'mid', 'high'),
          |    ba = bin_at(value, 50.0, 25.0),
          |    dw = dayofweek(ts),
          |    dd = datetime_diff('day', ts, datetime('2024-01-01')),
          |    hx = tohex(event_id)
          || project event_id, s, ix, co, rv, rep, mx, cs, ba, dw, dd, hx
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  event_type || '-' || CAST(user_id % 10 AS VARCHAR) AS s,
             |  CAST(strpos(event_type, 'c') - 1 AS INT) AS ix,
             |  CAST(length(event_type) - length(replace(event_type, 'c', '')) AS BIGINT) AS co,
             |  reverse(event_type) AS rv,
             |  repeat('ab', 3) AS rep,
             |  greatest(value, 250.0, CAST(user_id AS DOUBLE)) AS mx,
             |  CASE WHEN value < 100 THEN 'low' WHEN value < 300 THEN 'mid'
             |       ELSE 'high' END AS cs,
             |  floor((value - 25.0) / 50.0) * 50.0 + 25.0 AS ba,
             |  CAST(dayofweek(ts) AS BIGINT) AS dw,
             |  CAST(date_diff('day', date_trunc('day', TIMESTAMP '2024-01-01'),
             |    date_trunc('day', ts)) AS BIGINT) AS dd,
             |  lower(to_hex(event_id)) AS hx
             |FROM events WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin)),

    // externaldata source: explicit-schema CSV read (written once from the
    // fixture; the oracle re-derives the same rows from the source table)
    QueryDef("q_kql_externaldata",
      (s, d) => run(s, d,
        s"""externaldata (event_id:long, event_type:string, v:long)
           |  ['${externCsv(s, d)}'] with (format='csv', ignoreFirstRecord=true)
           || summarize n = count(), sv = sum(v) by event_type
           || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sv
             |FROM events WHERE event_id % 20 = 0
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // union kind=inner (common columns only) + project-reorder
    QueryDef("q_kql_union_inner",
      (s, d) => run(s, d,
        """events
          || project event_id, event_type, value
          || union kind=inner (events | project event_type, value, user_id)
          || summarize n = count(), sv = sum(tolong(floor(value))) by event_type
          || project-reorder n, event_type
          || sort by event_type asc""".stripMargin),
      Some("""SELECT COUNT(*) AS n, event_type,
             |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sv
             |FROM (SELECT event_type, value FROM events
             |      UNION ALL SELECT event_type, value FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // theta-form join keys: $left.a == $right.b (differently-named equi-keys)
    QueryDef("q_kql_join_theta",
      (s, d) => run(s, d,
        """events
          || where user_id < 30
          || project user_id, value
          || join kind=inner (nation | project n_nationkey, n_name)
          |    on $left.user_id == $right.n_nationkey
          || summarize n = count(), mn = min(n_name) by user_id
          || sort by user_id asc""".stripMargin),
      Some("""SELECT e.user_id, COUNT(*) AS n, MIN(nt.n_name) AS mn
             |FROM events e JOIN nation nt ON e.user_id = nt.n_nationkey
             |WHERE e.user_id < 30
             |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin)),

    // arg_max(x, *): the whole winning row per group (expanded, keys deduped)
    QueryDef("q_kql_arg_max_star",
      (s, d) => run(s, d,
        """events
          || where event_id % 50 == 0
          || summarize arg_max(event_id, *) by event_type
          || project event_type, event_id, user_id, value
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, event_id, user_id, value FROM (
             |  SELECT event_type, event_id, user_id, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id DESC) AS rn
             |  FROM events WHERE event_id % 50 = 0)
             |WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // take_any(*): deterministic min-by-row-tuple (documented deviation from
    // Kusto's unspecified winner) — ties impossible since event_id leads the
    // tuple, so the oracle is a plain min-event_id window
    QueryDef("q_kql_take_any_star",
      (s, d) => run(s, d,
        """events
          || where event_id % 50 == 0
          || summarize take_any(*) by event_type
          || project event_type, event_id, user_id, value
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, event_id, user_id, value FROM (
             |  SELECT event_type, event_id, user_id, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
             |  FROM events WHERE event_id % 50 = 0)
             |WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // negated / case-variant predicate forms
    QueryDef("q_kql_where_negated",
      (s, d) => run(s, d,
        """events
          || where event_type !in ('error', 'signup') and event_type !contains 'IEW'
          |    and value !between (100.0 .. 400.0) and event_type !endswith 'ASE'
          |    and event_type hasprefix 'CLI' and event_type !~ 'CLACK'
          || summarize n = count() by event_type
          || render barchart
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS n FROM events
             |WHERE event_type NOT IN ('error', 'signup')
             |  AND NOT contains(lower(event_type), 'iew')
             |  AND NOT (value BETWEEN 100.0 AND 400.0)
             |  AND NOT (lower(event_type) LIKE '%ase')
             |  AND regexp_matches(lower(event_type), '(^|[^a-z0-9])cli')
             |  AND lower(event_type) <> 'clack'
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // toscalar(): plan-time scalar subquery (bounded one-value collect)
    QueryDef("q_kql_toscalar",
      (s, d) => run(s, d,
        """let hi = toscalar(events | summarize max(value));
          |events
          || where value > hi * 0.999
          || summarize n = count(), m = max(value)""".stripMargin),
      Some("""SELECT COUNT(*) AS n, MAX(value) AS m FROM events
             |WHERE value > (SELECT MAX(value) FROM events) * 0.999""".stripMargin)),

    // join physical hints: broadcast the piped-in (small, pre-aggregated)
    // side — semantics identical to the unhinted join
    QueryDef("q_kql_join_hints",
      (s, d) => run(s, d,
        """events
          || where user_id < 50
          || join hint.strategy=broadcast kind=inner (
          |    events | summarize mx = max(value) by event_type) on event_type
          || summarize n = count(), m = max(mx) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""SELECT e.event_type, COUNT(*) AS n, MAX(a.mx) AS m
             |FROM (SELECT * FROM events WHERE user_id < 50) e
             |JOIN (SELECT event_type, MAX(value) AS mx FROM events GROUP BY 1) a
             |  ON e.event_type = a.event_type
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // bitwise aggregates + conditional distinct count
    QueryDef("q_kql_agg_binary",
      (s, d) => run(s, d,
        """events
          || extend b = binary_and(event_id, 1023)
          || summarize ba = binary_all_and(b), bo = binary_all_or(b),
          |    bx = binary_all_xor(b),
          |    dc = count_distinctif(event_type, value > 250) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type,
             |  bit_and(event_id & 1023) AS ba, bit_or(event_id & 1023) AS bo,
             |  bit_xor(event_id & 1023) AS bx,
             |  COUNT(DISTINCT CASE WHEN value > 250 THEN event_type END) AS dc
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // mv-expand over a BAG: one row per property as key/value columns
    QueryDef("q_kql_mvexpand_bag",
      (s, d) => run(s, d,
        """events
          || where event_id % 200 == 0
          || project event_id
          || extend b = bag_pack('a', event_id % 3, 'b', event_id % 7)
          || mv-expand b
          || summarize n = count(), sv = sum(tolong(b_value)) by b_key
          || sort by b_key asc""".stripMargin),
      Some("""SELECT b_key, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv FROM (
             |  SELECT 'a' AS b_key, event_id % 3 AS v FROM events WHERE event_id % 200 = 0
             |  UNION ALL
             |  SELECT 'b' AS b_key, event_id % 7 AS v FROM events WHERE event_id % 200 = 0)
             |GROUP BY 1 ORDER BY b_key""".stripMargin)),

    // mv-expand with the element's 0-based index (posexplode)
    QueryDef("q_kql_mvexpand_idx",
      (s, d) => run(s, d,
        """events
          || where event_id % 1000 == 0
          || project event_id
          || extend a = pack_array(tostring(event_id % 3), 'x', 'y')
          || mv-expand with_itemindex=i a
          || project event_id, i, a
          || sort by event_id asc, i asc""".stripMargin),
      Some("""SELECT event_id, i,
             |  CASE i WHEN 0 THEN CAST(event_id % 3 AS VARCHAR)
             |         WHEN 1 THEN 'x' ELSE 'y' END AS a
             |FROM events, (VALUES (0), (1), (2)) t(i)
             |WHERE event_id % 1000 = 0 ORDER BY event_id, i""".stripMargin)),

    // mv-expand ... to typeof(long): typed expansion — each element is
    // try_cast (Kusto's relaxed conversion), so the non-numeric element
    // becomes a typed null instead of erroring the row
    QueryDef("q_kql_mvexpand_typed",
      (s, d) => run(s, d,
        """events
          || where event_id % 1000 == 0
          || project event_id
          || extend a = pack_array(tostring(event_id % 5), '7', 'oops')
          || mv-expand a to typeof(long)
          || project event_id, a
          || sort by event_id asc, a asc""".stripMargin),
      Some("""SELECT event_id,
             |  CASE k WHEN 0 THEN CAST(event_id % 5 AS BIGINT)
             |         WHEN 1 THEN CAST(7 AS BIGINT) ELSE NULL END AS a
             |FROM events, (VALUES (0), (1), (2)) t(k)
             |WHERE event_id % 1000 = 0
             |ORDER BY event_id, a NULLS FIRST""".stripMargin)),

    // top-nested with an 'others' bucket: top 3 types + one row aggregating
    // the rest over the RAW rows (exact for any aggregate)
    QueryDef("q_kql_top_nested_others",
      (s, d) => run(s, d,
        """events
          || top-nested 3 of event_type by s = sum(tolong(floor(value))) with others = 'Other'
          || sort by s desc, event_type asc""".stripMargin),
      Some("""WITH agged AS (
             |  SELECT event_type, CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS s
             |  FROM events GROUP BY 1),
             |ranked AS (
             |  SELECT event_type, s,
             |    ROW_NUMBER() OVER (ORDER BY s DESC, event_type) AS rn
             |  FROM agged),
             |top3 AS (SELECT event_type, s FROM ranked WHERE rn <= 3),
             |rest AS (
             |  SELECT 'Other' AS event_type,
             |    CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS s
             |  FROM events WHERE event_type NOT IN (SELECT event_type FROM top3))
             |SELECT event_type, s FROM top3
             |UNION ALL SELECT event_type, s FROM rest
             |ORDER BY s DESC, event_type""".stripMargin)),

    // evaluate narrow(): row/column/value unpivot over the serialized order
    QueryDef("q_kql_narrow",
      (s, d) => run(s, d,
        """events
          || where event_id % 2000 == 0
          || project event_id, event_type
          || sort by event_id asc
          || serialize
          || evaluate narrow()
          || sort by Row asc, Column asc""".stripMargin),
      Some("""WITH s AS (
             |  SELECT event_id, event_type,
             |    CAST(ROW_NUMBER() OVER (ORDER BY event_id) AS INT) AS r
             |  FROM events WHERE event_id % 2000 = 0)
             |SELECT r AS "Row", c AS "Column", v AS "Value" FROM (
             |  SELECT r, 'event_id' AS c, CAST(event_id AS VARCHAR) AS v FROM s
             |  UNION ALL
             |  SELECT r, 'event_type' AS c, event_type AS v FROM s)
             |ORDER BY "Row", "Column"""".stripMargin)),

    // JSON path extraction, indexed split, regex countof, URL parsing
    QueryDef("q_kql_scalar_misc4",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || project event_id, props
          || extend k = tolong(extractjson('$.k', props)),
          |    p1 = strcat_array(split(tostring(event_id), '0', 0), '|'),
          |    nz = countof(tostring(event_id), '0+', 'regex'),
          |    u = parse_url(strcat('https://h', tostring(event_id % 10),
          |          '.example.com/p/', tostring(event_id), '?x=1')),
          |    tr2 = trim('0', strcat('00', tostring(event_id % 9), '00')),
          |    rr = replace_regex(tostring(event_id), '[05]', '_')
          || extend host = tostring(u.Host), path = tostring(u['Path'])
          || project event_id, k, p1, nz, host, path, tr2, rr
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |  string_split(CAST(event_id AS VARCHAR), '0')[1] AS p1,
             |  CAST(len(regexp_extract_all(CAST(event_id AS VARCHAR), '0+', 0)) AS BIGINT) AS nz,
             |  'h' || CAST(event_id % 10 AS VARCHAR) || '.example.com' AS host,
             |  '/p/' || CAST(event_id AS VARCHAR) AS path,
             |  regexp_replace('00' || CAST(event_id % 9 AS VARCHAR) || '00',
             |    '^(?:0)+|(?:0)+$', '', 'g') AS tr2,
             |  regexp_replace(CAST(event_id AS VARCHAR), '[05]', '_', 'g') AS rr
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // round-7 scalar surface: array shifts with fill, element-wise series
    // arithmetic/comparison, scalar range/repeat, isnotempty (log2/exp2 are
    // unit-tested — transcendental bit-parity across engines is not a
    // contract worth risking in the hash compare)
    QueryDef("q_kql_scalar_misc5",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend a = pack_array(event_id % 7, event_id % 5, event_id % 3),
          |    b = pack_array(event_id % 3, event_id % 5, event_id % 7)
          || extend sl = strcat_array(array_shift_left(a, 1, -1), ';'),
          |    sad = strcat_array(series_add(a, b), ';'),
          |    smu = strcat_array(series_multiply(a, b), ';'),
          |    sge = strcat_array(series_greater_equals(a, b), ';'),
          |    rng = strcat_array(range(1, 1 + event_id % 4, 1), ';'),
          |    rep = strcat_array(repeat(event_id % 3, 2), ';'),
          |    ne = isnotempty(props)
          || project event_id, sl, sad, smu, sge, rng, rep, ne
          || sort by event_id asc""".stripMargin),
      Some("""WITH x AS (
             |  SELECT event_id, props,
             |    [event_id % 7, event_id % 5, event_id % 3] AS a,
             |    [event_id % 3, event_id % 5, event_id % 7] AS b
             |  FROM events WHERE event_id % 500 = 0)
             |SELECT event_id,
             |  CAST(a[2] AS VARCHAR) || ';' || CAST(a[3] AS VARCHAR) || ';-1' AS sl,
             |  array_to_string(list_transform([1, 2, 3],
             |    i -> CAST(CAST(a[i] + b[i] AS DOUBLE) AS VARCHAR)), ';') AS sad,
             |  array_to_string(list_transform([1, 2, 3],
             |    i -> CAST(CAST(a[i] * b[i] AS DOUBLE) AS VARCHAR)), ';') AS smu,
             |  array_to_string(list_transform([1, 2, 3],
             |    i -> CAST(a[i] >= b[i] AS VARCHAR)), ';') AS sge,
             |  array_to_string(list_transform(generate_series(1, CAST(1 + event_id % 4 AS INT), 1),
             |    v -> CAST(v AS VARCHAR)), ';') AS rng,
             |  CAST(event_id % 3 AS VARCHAR) || ';' || CAST(event_id % 3 AS VARCHAR) AS rep,
             |  props IS NOT NULL AND props <> '' AS ne
             |FROM x ORDER BY event_id""".stripMargin)),

    // pack_all (bag of all input columns, inverse of bag_unpack) and
    // totimespan ([d.]hh:mm:ss strings / timespan literals / numeric seconds
    // / malformed → null) — engine timespan convention is whole seconds
    QueryDef("q_kql_scalar_misc6",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || project event_id, event_type, user_id
          || extend b = pack_all()
          || extend ks = strcat_array(bag_keys(b), ';'),
          |    et2 = tostring(b['event_type']),
          |    t1 = totimespan('02:30:00'),
          |    t2 = totimespan(strcat(tostring(event_id % 3), ':00:30')),
          |    t3 = totimespan(1h),
          |    t4 = totimespan('bogus'),
          |    t5 = totimespan('3.01:02:03')
          || project event_id, ks, et2, t1, t2, t3, t4, t5
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  'event_id;event_type;user_id' AS ks,
             |  event_type AS et2,
             |  CAST(9000 AS BIGINT) AS t1,
             |  (event_id % 3) * 3600 + 30 AS t2,
             |  CAST(3600 AS BIGINT) AS t3,
             |  CAST(NULL AS BIGINT) AS t4,
             |  CAST(3 * 86400 + 3723 AS BIGINT) AS t5
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // scalar surface r8: format_bytes (threshold CASEs; scaled values divide
    // by powers of two, so every printed decimal is a finite binary fraction
    // — no round-half ties between Java's and C's %f), format_timespan
    // ([d.]hh:mm:ss over whole-second timespans), bitset_count_ones, totitle,
    // hash_md5 / hash_sha256 (lower-hex in both engines)
    QueryDef("q_kql_scalar_misc7",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend fb1 = format_bytes(toint(1023)),
          |    fb2 = format_bytes(event_id * 3072),
          |    fb3 = format_bytes(event_id * 5242880, 2),
          |    ft1 = format_timespan(event_id * 97 + 3),
          |    ft2 = format_timespan(totimespan('1.01:01:01') * -1),
          |    bc = bitset_count_ones(event_id),
          |    tt = totitle(strcat(event_type, ' hELLO')),
          |    h1 = hash_md5(event_type),
          |    h2 = hash_sha256(event_type)
          || project event_id, fb1, fb2, fb3, ft1, ft2, bc, tt, h1, h2
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  '1023 Bytes' AS fb1,
             |  CASE WHEN event_id * 3072 >= 1048576
             |    THEN printf('%.0f MB', event_id * 3072 / 1048576.0)
             |    WHEN event_id * 3072 >= 1024
             |    THEN printf('%.0f KB', event_id * 3072 / 1024.0)
             |    ELSE printf('%.0f Bytes', CAST(event_id * 3072 AS DOUBLE)) END AS fb2,
             |  CASE WHEN event_id * 5242880 >= 1073741824
             |    THEN printf('%.2f GB', event_id * 5242880 / 1073741824.0)
             |    WHEN event_id * 5242880 >= 1048576
             |    THEN printf('%.2f MB', event_id * 5242880 / 1048576.0)
             |    ELSE printf('%.2f Bytes', CAST(event_id * 5242880 AS DOUBLE)) END AS fb3,
             |  CASE WHEN event_id * 97 + 3 >= 86400 THEN
             |    printf('%d.%02d:%02d:%02d', (event_id * 97 + 3) // 86400,
             |      (event_id * 97 + 3) % 86400 // 3600,
             |      (event_id * 97 + 3) % 3600 // 60, (event_id * 97 + 3) % 60)
             |  ELSE printf('%02d:%02d:%02d', (event_id * 97 + 3) // 3600,
             |    (event_id * 97 + 3) % 3600 // 60, (event_id * 97 + 3) % 60) END AS ft1,
             |  '-1.01:01:01' AS ft2,
             |  CAST(bit_count(event_id) AS BIGINT) AS bc,
             |  upper(event_type[1]) || lower(event_type[2:]) || ' Hello' AS tt,
             |  md5(event_type) AS h1,
             |  sha256(event_type) AS h2
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // scalar surface r8b: parse_path bag (dir path/name, filename, extension),
    // parse_urlquery bag, base64_decode_toarray (byte values via the
    // uppercase-hex round trip both engines print identically)
    QueryDef("q_kql_scalar_misc8",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend path = strcat('/data/', event_type, '/f', tostring(event_id), '.parquet')
          || extend pp = parse_path(path),
          |    uq = parse_urlquery(strcat('https://host.example/p?id=',
          |      tostring(event_id), '&t=', event_type, '&z=1')),
          |    b = base64_decode_toarray(base64_encode_tostring(event_type))
          || project event_id,
          |    dp = tostring(pp['DirectoryPath']), dn = tostring(pp['DirectoryName']),
          |    fn = tostring(pp['Filename']), ext = tostring(pp['Extension']),
          |    qid = tostring(uq['id']), qt = tostring(uq['t']),
          |    blen = tolong(array_length(b)), b0 = tolong(b[0])
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  '/data/' || event_type AS dp,
             |  event_type AS dn,
             |  'f' || CAST(event_id AS VARCHAR) || '.parquet' AS fn,
             |  'parquet' AS ext,
             |  CAST(event_id AS VARCHAR) AS qid,
             |  event_type AS qt,
             |  CAST(length(event_type) AS BIGINT) AS blen,
             |  CAST(ascii(event_type) AS BIGINT) AS b0
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // scalar surface r8c: jaccard_index, array_split (scalar and index-array
    // forms), format_ipv4_mask, ipv4_netmask_suffix; union isfuzzy= is
    // accepted-and-ignored elsewhere
    QueryDef("q_kql_scalar_misc9",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend a1 = pack_array(1, 2, 3, 4, 5), a2 = pack_array(4, 5, 6)
          || extend j = jaccard_index(a1, a2),
          |    sp = array_split(a1, 2),
          |    sp2 = array_split(a1, dynamic([1, 3])),
          |    fm = format_ipv4_mask(strcat('10.', tostring(event_id % 200), '.7.33'), 24),
          |    sfx = ipv4_netmask_suffix(iff(event_id % 3 == 0, '10.0.0.0/12', '10.1.2.3'))
          || project event_id, j,
          |    s0 = strcat_array(sp[0], ','), s1 = strcat_array(sp[1], ','),
          |    t0 = strcat_array(sp2[0], ','), t1 = strcat_array(sp2[1], ','),
          |    t2 = strcat_array(sp2[2], ','), fm, sfx
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  CAST(2 AS DOUBLE) / CAST(6 AS DOUBLE) AS j,
             |  '1,2' AS s0, '3,4,5' AS s1,
             |  '1' AS t0, '2,3' AS t1, '4,5' AS t2,
             |  '10.' || CAST(event_id % 200 AS VARCHAR) || '.7.0/24' AS fm,
             |  CAST(CASE WHEN event_id % 3 = 0 THEN 12 ELSE 32 END AS BIGINT) AS sfx
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // ipv6 family: parse_ipv6 canonical expansion (:: fill, zero-padded
    // lowercase groups), ipv6_compare on canonical forms, ipv6_is_match with
    // a 64-bit prefix. The oracle replays the same expansion with list
    // operations; group strings are compared as given (no dotted-quad tail —
    // documented deviation).
    QueryDef("q_kql_ipv6",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend g3 = tostring(event_id % 16), g8 = tostring(event_id % 8)
          || extend h1 = strcat('2001:db8:', g3, '::', g8),
          |    h2 = strcat('2001:0db8:', g3, ':0000:0000:0000:0000:', g8)
          || extend p1 = parse_ipv6(h1), p2 = parse_ipv6(h2),
          |    cmp = ipv6_compare(h1, h2),
          |    cmp2 = ipv6_compare(h1, '2001:db8:0::'),
          |    m64 = ipv6_is_match(h1,
          |      strcat('2001:db8:', tostring(event_id % 32), '::ffff'), 64),
          |    bad = parse_ipv6('not:an:address')
          || project event_id, p1, p2, cmp, cmp2, m64, bad
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  '2001:0db8:' || lpad(CAST(event_id % 16 AS VARCHAR), 4, '0') ||
             |    ':0000:0000:0000:0000:' || lpad(CAST(event_id % 8 AS VARCHAR), 4, '0') AS p1,
             |  '2001:0db8:' || lpad(CAST(event_id % 16 AS VARCHAR), 4, '0') ||
             |    ':0000:0000:0000:0000:' || lpad(CAST(event_id % 8 AS VARCHAR), 4, '0') AS p2,
             |  CAST(0 AS BIGINT) AS cmp,
             |  CAST(CASE WHEN event_id % 16 = 0 THEN 0 ELSE 1 END AS BIGINT) AS cmp2,
             |  event_id % 32 = event_id % 16 AS m64,
             |  CAST(NULL AS VARCHAR) AS bad
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // scalar surface r8d: string_size (UTF-8 bytes), unicode codepoint
    // round trip (BMP contract), set_has_element, has_any_index (token
    // match), indexof_regex (regexp_instr shift), parse_csv (RFC-4180-ish
    // quoted cells), base64_encode_fromarray (hex round trip),
    // datetime_part, legacy pack() alias
    QueryDef("q_kql_scalar_misc10",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend ss = string_size(event_type),
          |    cps = strcat_array(unicode_codepoints_from_string(event_type), ';'),
          |    rt = unicode_codepoints_to_string(unicode_codepoints_from_string(event_type)),
          |    she = set_has_element(pack_array('view', 'click'), event_type),
          |    hai = has_any_index(strcat(event_type, ' done'), dynamic(['click', 'view'])),
          |    ir = indexof_regex(event_type, 'r+'),
          |    csv = strcat_array(parse_csv('a,"b,""x"",c",last'), '|'),
          |    b64 = base64_encode_fromarray(pack_array(77, 97, 255)),
          |    dp = datetime_part('Month', ts),
          |    pk = tostring(pack('k', event_type)['k'])
          || project event_id, ss, cps, rt, she, hai, ir, csv, b64, dp, pk
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  CAST(strlen(event_type) AS BIGINT) AS ss,
             |  array_to_string(list_transform(string_split(event_type, ''),
             |    c -> unicode(c)), ';') AS cps,
             |  event_type AS rt,
             |  event_type IN ('view', 'click') AS she,
             |  CAST(CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
             |    ELSE -1 END AS BIGINT) AS hai,
             |  CAST(CASE event_type WHEN 'error' THEN 1 WHEN 'purchase' THEN 2
             |    ELSE -1 END AS BIGINT) AS ir,
             |  'a|b,"x",c|last' AS csv,
             |  'TWH/' AS b64,
             |  CAST(date_part('month', ts) AS BIGINT) AS dp,
             |  event_type AS pk
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // variance/stdev family completion: population + filtered forms composed
    // from exact sums (n, Σx, Σx²) — order-independent over integral-valued
    // doubles, so the oracle's identical formula is bit-exact; still a
    // partial+final hash aggregate (the sums combine map-side). hll_if is
    // sketched at cardinality 64 where HLL++'s linear-counting estimate
    // (n + n²/2m) rounds to the true count (at 150 it is 151 — deterministic
    // estimator bias, not noise)
    QueryDef("q_kql_agg_stats",
      (s, d) => run(s, d,
        """events
          || summarize vp = variancep(user_id), sp = stdevp(user_id),
          |    vi = varianceif(user_id, event_id % 2 == 0),
          |    si = stdevif(user_id, event_id % 2 == 0),
          |    cd = count_distinct(user_id),
          |    hi = hll_if(user_id % 64, event_id % 2 == 0) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""WITH b AS (SELECT event_type,
             |    CAST(user_id AS DOUBLE) AS u,
             |    CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS DOUBLE) END AS uf,
             |    CASE WHEN event_id % 2 = 0 THEN user_id END AS ufi
             |  FROM events)
             |SELECT event_type,
             |  (SUM(u*u) - SUM(u)*SUM(u)/CAST(COUNT(u) AS DOUBLE))
             |    / CAST(COUNT(u) AS DOUBLE) AS vp,
             |  sqrt((SUM(u*u) - SUM(u)*SUM(u)/CAST(COUNT(u) AS DOUBLE))
             |    / CAST(COUNT(u) AS DOUBLE)) AS sp,
             |  (SUM(uf*uf) - SUM(uf)*SUM(uf)/CAST(COUNT(uf) AS DOUBLE))
             |    / (CAST(COUNT(uf) AS DOUBLE) - 1) AS vi,
             |  sqrt((SUM(uf*uf) - SUM(uf)*SUM(uf)/CAST(COUNT(uf) AS DOUBLE))
             |    / (CAST(COUNT(uf) AS DOUBLE) - 1)) AS si,
             |  CAST(COUNT(DISTINCT u) AS BIGINT) AS cd,
             |  CAST(COUNT(DISTINCT ufi % 64) AS BIGINT) AS hi
             |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Expand-free form of the same aggregate shape: mixing count_distinct with
    // plain aggregates in one summarize makes Catalyst plan an Expand (one
    // duplicated row per distinct group — 3× the shuffle volume at 100 TB for
    // this query). The scale-lean rewrite computes each distinct count as its
    // own pre-distinct sub-aggregation (partial+final on the (group, value)
    // pair, which map-side combine collapses) and joins the small per-group
    // results back. Same answers, no Expand — asserted in PlanAuditSpec.
    QueryDef("q_kql_agg_stats_lean",
      (s, d) => run(s, d,
        """let base = events
          |  | summarize vp = variancep(user_id), sp = stdevp(user_id),
          |      vi = varianceif(user_id, event_id % 2 == 0),
          |      si = stdevif(user_id, event_id % 2 == 0) by event_type;
          |let cds = events
          |  | summarize by event_type, user_id
          |  | summarize cd = count() by event_type;
          |let his = events
          |  | where event_id % 2 == 0
          |  | extend k = user_id % 64
          |  | summarize by event_type, k
          |  | summarize hi = count() by event_type;
          |base
          || join kind=inner (cds) on event_type
          || join kind=leftouter (his) on event_type
          || project event_type, vp, sp, vi, si, cd, hi = coalesce(hi, 0)
          || sort by event_type asc""".stripMargin),
      Some("""WITH b AS (SELECT event_type,
             |    CAST(user_id AS DOUBLE) AS u,
             |    CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS DOUBLE) END AS uf,
             |    CASE WHEN event_id % 2 = 0 THEN user_id END AS ufi
             |  FROM events)
             |SELECT event_type,
             |  (SUM(u*u) - SUM(u)*SUM(u)/CAST(COUNT(u) AS DOUBLE))
             |    / CAST(COUNT(u) AS DOUBLE) AS vp,
             |  sqrt((SUM(u*u) - SUM(u)*SUM(u)/CAST(COUNT(u) AS DOUBLE))
             |    / CAST(COUNT(u) AS DOUBLE)) AS sp,
             |  (SUM(uf*uf) - SUM(uf)*SUM(uf)/CAST(COUNT(uf) AS DOUBLE))
             |    / (CAST(COUNT(uf) AS DOUBLE) - 1) AS vi,
             |  sqrt((SUM(uf*uf) - SUM(uf)*SUM(uf)/CAST(COUNT(uf) AS DOUBLE))
             |    / (CAST(COUNT(uf) AS DOUBLE) - 1)) AS si,
             |  CAST(COUNT(DISTINCT u) AS BIGINT) AS cd,
             |  CAST(COUNT(DISTINCT ufi % 64) AS BIGINT) AS hi
             |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ipv4_compare / ipv4_is_match under the effective (min-of-suffixes+arg)
    // prefix, replace_strings ordered fold, regex_quote, estimate_data_size —
    // the oracle replays the same mask arithmetic on the reconstructed int32
    QueryDef("q_kql_scalar_misc11",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend o1 = event_id % 256, o2 = user_id % 256
          || extend ipa = strcat('10.', tostring(o1), '.', tostring(o2), '.7')
          || extend c9 = ipv4_compare(ipa, '10.128.0.0/9'),
          |    m16 = ipv4_is_match(ipa, strcat('10.', tostring(o1), '.0.0/16')),
          |    c24 = ipv4_compare(ipa, strcat('10.', tostring(o1), '.', tostring(o2), '.200'), 24),
          |    cex = ipv4_compare(ipa, '10.100.0.7'),
          |    rs = replace_strings(event_type, dynamic(['e', 'c']), dynamic(['3', 'k'])),
          |    rq = regex_quote(strcat(event_type, '.v*')),
          |    sz = tolong(estimate_data_size(event_type, event_id))
          || project event_id, c9, m16, c24, cex, rs, rq, sz
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (SELECT event_id, event_type AS et,
             |    event_id % 256 AS o1, user_id % 256 AS o2,
             |    10*16777216 + (event_id % 256)*65536 + (user_id % 256)*256 + 7 AS va
             |  FROM events WHERE event_id % 500 = 0)
             |SELECT event_id,
             |  CAST(CASE WHEN (va - va % 8388608) < 176160768 THEN -1
             |            WHEN (va - va % 8388608) > 176160768 THEN 1
             |            ELSE 0 END AS BIGINT) AS c9,
             |  (va - va % 65536) = (167772160 + o1*65536) AS m16,
             |  CAST(CASE WHEN (va - va % 256) < (167772160 + o1*65536 + o2*256) THEN -1
             |            WHEN (va - va % 256) > (167772160 + o1*65536 + o2*256) THEN 1
             |            ELSE 0 END AS BIGINT) AS c24,
             |  CAST(CASE WHEN va < 174325767 THEN -1 WHEN va > 174325767 THEN 1
             |            ELSE 0 END AS BIGINT) AS cex,
             |  replace(replace(et, 'e', '3'), 'c', 'k') AS rs,
             |  regexp_replace(et || '.v*', '([.*+?^$(){}\[\]|\\/])', '\\\1', 'g') AS rq,
             |  CAST(strlen(et) + 1 + strlen(CAST(event_id AS VARCHAR)) + 1 AS BIGINT) AS sz
             |FROM b ORDER BY event_id""".stripMargin)),

    // bin_auto (let-armed width), covariance family over exact sums,
    // percentilesw multi-output exact weighted percentiles, make_bag with the
    // deterministic sorted-first-wins merge (stringified for the compare)
    QueryDef("q_kql_agg_misc",
      (s, d) => run(s, d,
        """let query_bin_auto_size = 12h;
          |events
          || extend b = bin_auto(ts),
          |    bag = bag_pack('t', event_type, 'u', tostring(user_id % 7))
          || summarize cov = covariance(floor(value), user_id % 100),
          |    covp = covariancep(floor(value), user_id % 100),
          |    covi = covarianceif(floor(value), user_id % 100, event_id % 2 == 0),
          |    covpi = covariancepif(floor(value), user_id % 100, event_id % 2 == 0),
          |    pq = percentilesw(value, 1 + user_id % 5, 25, 75),
          |    mb = make_bag(bag)
          |  by b
          || extend mbs = tostring(mb)
          || project b, cov, covp, covi, covpi,
          |    percentilew_value_25, percentilew_value_75, mbs
          || sort by b asc""".stripMargin),
      Some("""WITH base AS (
             |  SELECT TIMESTAMP '1970-01-01 00:00:00'
             |      + INTERVAL (CAST((epoch_us(ts)//1000000)//43200*43200 AS BIGINT)) SECOND AS b,
             |    CAST(FLOOR(value) AS DOUBLE) AS x,
             |    CAST(user_id % 100 AS DOUBLE) AS y,
             |    CASE WHEN event_id % 2 = 0 THEN CAST(FLOOR(value) AS DOUBLE) END AS xi,
             |    CASE WHEN event_id % 2 = 0 THEN CAST(user_id % 100 AS DOUBLE) END AS yi,
             |    CAST(value AS DOUBLE) AS v, CAST(1 + user_id % 5 AS BIGINT) AS w,
             |    event_type, user_id FROM events),
             |agg AS (
             |  SELECT b,
             |    (SUM(x*y) - SUM(x)*SUM(y)/CAST(COUNT(x) AS DOUBLE))
             |      / (CAST(COUNT(x) AS DOUBLE) - 1) AS cov,
             |    (SUM(x*y) - SUM(x)*SUM(y)/CAST(COUNT(x) AS DOUBLE))
             |      / CAST(COUNT(x) AS DOUBLE) AS covp,
             |    (SUM(xi*yi) - SUM(xi)*SUM(yi)/CAST(COUNT(xi) AS DOUBLE))
             |      / (CAST(COUNT(xi) AS DOUBLE) - 1) AS covi,
             |    (SUM(xi*yi) - SUM(xi)*SUM(yi)/CAST(COUNT(xi) AS DOUBLE))
             |      / CAST(COUNT(xi) AS DOUBLE) AS covpi,
             |    '{t -> ' || MIN(event_type) || ', u -> '
             |      || CAST(MIN(user_id % 7) AS VARCHAR) || '}' AS mbs
             |  FROM base GROUP BY b),
             |cum AS (
             |  SELECT b, v,
             |    SUM(w) OVER (PARTITION BY b ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cw,
             |    SUM(w) OVER (PARTITION BY b) AS tw
             |  FROM base),
             |pct AS (
             |  SELECT b,
             |    MIN(v) FILTER (WHERE CAST(cw AS DOUBLE) >= 0.25 * CAST(tw AS DOUBLE))
             |      AS percentilew_value_25,
             |    MIN(v) FILTER (WHERE CAST(cw AS DOUBLE) >= 0.75 * CAST(tw AS DOUBLE))
             |      AS percentilew_value_75
             |  FROM cum GROUP BY b)
             |SELECT agg.b, cov, covp, covi, covpi,
             |  percentilew_value_25, percentilew_value_75, mbs
             |FROM agg JOIN pct ON agg.b = pct.b ORDER BY agg.b""".stripMargin)),

    // zlib/gzip codec scalars (native CodecExpr): roundtrip identity over row
    // data plus fixed Python-zlib/gzip-generated literals — decompressors
    // verify compressors without trusting either implementation; malformed
    // input yields the empty string (the Kusto contract)
    QueryDef("q_kql_codecs",
      (s, d) => run(s, d,
        """events
          || where event_id % 1000 == 0
          || extend zr = zlib_decompress_from_base64_string(zlib_compress_to_base64_string(event_type)),
          |    gr = gzip_decompress_from_base64_string(gzip_compress_to_base64_string(strcat(event_type, '#', tostring(event_id)))),
          |    zlit = zlib_decompress_from_base64_string('eJwryUhVKCzNTM5WSCrKL89TSMuvUMgqzS0oVsgvSy1SMDRWyEmsqlRIyU8vBgBbjA+Q'),
          |    glit = gzip_decompress_from_base64_string('H4sIAAAAAAACA0svSkwrUUivyixQKEtNLskvslIwMDQyNjE1M7ewBADTxICUHQAAAA=='),
          |    bad = strcat('[', zlib_decompress_from_base64_string('AAAA'), gzip_decompress_from_base64_string('not-base64!'), ']'),
          |    pe = punycode_from_string('bücher'),
          |    pr = punycode_to_string(punycode_from_string(strcat(event_type, 'ü', tostring(event_id)))),
          |    pbad = strcat('<', punycode_to_string('!!!'), '>')
          || project event_id, zr, gr, zlit, glit, bad, pe, pr, pbad
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id, event_type AS zr,
             |  event_type || '#' || CAST(event_id AS VARCHAR) AS gr,
             |  'the quick brown fox jumps over 13 lazy dogs' AS zlit,
             |  'graft gzip vector: 0123456789' AS glit,
             |  '[]' AS bad,
             |  'bcher-kva' AS pe,
             |  event_type || 'ü' || CAST(event_id AS VARCHAR) AS pr,
             |  '<>' AS pbad
             |FROM events WHERE event_id % 1000 = 0 ORDER BY event_id""".stripMargin)),

    // tdigest family: deterministic histogram sketch (struct(lo, hi, counts),
    // QuantileSketch.scala). Unit-width buckets over integral l_quantity →
    // estimates are EXACT values, so the oracle replays the sketch's
    // nearest-rank-ceil rule directly on value counts
    QueryDef("q_kql_tdigest",
      (s, d) => run(s, d,
        """lineitem
          || summarize td = tdigest(l_quantity, 1, 51, 50) by l_returnflag
          || project l_returnflag, p50 = percentile_tdigest(td, 50),
          |    p95 = percentile_tdigest(td, 95)
          || sort by l_returnflag asc""".stripMargin),
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             |    COUNT(*) AS n FROM lineitem GROUP BY 1, 2),
             |x AS (SELECT l_returnflag, q,
             |    SUM(n) OVER (PARTITION BY l_returnflag ORDER BY q) AS cm,
             |    SUM(n) OVER (PARTITION BY l_returnflag) AS tot FROM c)
             |SELECT l_returnflag,
             |  CAST(MIN(CASE WHEN cm >= (tot*50+99)//100 THEN q END) AS DOUBLE) AS p50,
             |  CAST(MIN(CASE WHEN cm >= (tot*95+99)//100 THEN q END) AS DOUBLE) AS p95
             |FROM x GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // two-level rollup: per-(flag, status) sketches merged to a global one —
    // the pre-aggregated-percentile pattern that makes stored sketches pay
    // off at 100 TB (the merge touches GROUPS, never rows)
    QueryDef("q_kql_tdigest_merge",
      (s, d) => run(s, d,
        """lineitem
          || summarize td = tdigest(l_quantity, 1, 51, 50) by l_returnflag, l_linestatus
          || summarize m = tdigest_merge(td)
          || project p25 = percentile_tdigest(m, 25), p50 = percentile_tdigest(m, 50),
          |    p90 = percentile_tdigest(m, 90), p99 = percentile_tdigest(m, 99)""".stripMargin),
      Some("""WITH c AS (SELECT CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS n
             |    FROM lineitem GROUP BY 1),
             |x AS (SELECT q, SUM(n) OVER (ORDER BY q) AS cm,
             |    SUM(n) OVER () AS tot FROM c)
             |SELECT
             |  CAST(MIN(CASE WHEN cm >= (tot*25+99)//100 THEN q END) AS DOUBLE) AS p25,
             |  CAST(MIN(CASE WHEN cm >= (tot*50+99)//100 THEN q END) AS DOUBLE) AS p50,
             |  CAST(MIN(CASE WHEN cm >= (tot*90+99)//100 THEN q END) AS DOUBLE) AS p90,
             |  CAST(MIN(CASE WHEN cm >= (tot*99+99)//100 THEN q END) AS DOUBLE) AS p99
             |FROM x""".stripMargin)),

    // percentilew: exact weighted percentile — smallest x whose cumulative
    // weight in x-ascending order reaches p% of total weight; the oracle
    // states the same rule with a window cumsum
    QueryDef("q_kql_percentilew",
      (s, d) => run(s, d,
        """events
          || extend w = event_id % 7 + 1
          || summarize p50 = percentilew(value, w, 50),
          |    p90 = percentilew(value, w, 90) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""WITH b AS (
             |  SELECT event_type, value AS x, event_id % 7 + 1 AS w FROM events),
             |t AS (SELECT event_type, SUM(w) AS tot FROM b GROUP BY 1),
             |c AS (SELECT event_type, x, SUM(w) OVER (PARTITION BY event_type
             |    ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum FROM b)
             |SELECT c.event_type,
             |  MIN(x) FILTER (WHERE cum >= tot * 0.5) AS p50,
             |  MIN(x) FILTER (WHERE cum >= tot * 0.9) AS p90
             |FROM c JOIN t USING (event_type)
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // series vector scalars: dot product / magnitude / cosine / sum / product
    // over packed series — zip_with + fold HOFs, zero shuffle; integral-double
    // inputs keep every sum exact, and cosine states the identical
    // `Σab/(√Σa²·√Σb²)` op sequence in both engines
    QueryDef("q_kql_series_vector",
      (s, d) => run(s, d,
        """print a = dynamic([1.0, 2.0, 3.0, 4.0]), b = dynamic([2.0, -1.0, 0.5, 3.0])
          || project dot = series_dot_product(a, b),
          |    maga = series_magnitude(a),
          |    cosab = series_cosine_similarity(a, b),
          |    suma = series_sum(a),
          |    prodb = series_product(b)""".stripMargin),
      Some("""WITH ab AS (SELECT CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b
             |  FROM (VALUES (1.0, 2.0), (2.0, -1.0), (3.0, 0.5), (4.0, 3.0)) t(a, b))
             |SELECT
             |  (SELECT SUM(a * b) FROM ab) AS dot,
             |  SQRT((SELECT SUM(a * a) FROM ab)) AS maga,
             |  (SELECT SUM(a * b) FROM ab) /
             |    (SQRT((SELECT SUM(a * a) FROM ab)) * SQRT((SELECT SUM(b * b) FROM ab)))
             |    AS cosab,
             |  (SELECT SUM(a) FROM ab) AS suma,
             |  (SELECT PRODUCT(b) FROM ab) AS prodb""".stripMargin)),

    // ipv4 family: parse (with prefix mask) / format / private / in-range —
    // all exact integer arithmetic, replayed verbatim by the oracle
    QueryDef("q_kql_ipv4",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend o1 = iff(event_id % 3 == 0, 10, toint(172 + event_id % 2 * 31)),
          |    o2 = toint(event_id % 256), o3 = toint(event_id % 251), o4 = toint(event_id % 239)
          || extend ip = strcat(tostring(o1), '.', tostring(o2), '.', tostring(o3), '.', tostring(o4))
          || extend v = parse_ipv4(ip), v24 = parse_ipv4(strcat(ip, '/24')),
          |    rt = format_ipv4(parse_ipv4(ip)),
          |    priv = ipv4_is_private(ip),
          |    inr = ipv4_is_in_range(ip, '10.0.0.0/8')
          || project event_id, ip, v, v24, rt, priv, inr
          || sort by event_id asc""".stripMargin),
      Some("""WITH x AS (
             |  SELECT event_id,
             |    CASE WHEN event_id % 3 = 0 THEN 10 ELSE 172 + event_id % 2 * 31 END AS o1,
             |    event_id % 256 AS o2, event_id % 251 AS o3, event_id % 239 AS o4
             |  FROM events WHERE event_id % 500 = 0),
             |y AS (
             |  SELECT event_id,
             |    CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.' ||
             |      CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS ip,
             |    CAST(((o1 * 256 + o2) * 256 + o3) * 256 + o4 AS BIGINT) AS v
             |  FROM x)
             |SELECT event_id, ip, v, CAST(v - v % 256 AS BIGINT) AS v24, ip AS rt,
             |  (v BETWEEN 167772160 AND 184549375)
             |    OR (v BETWEEN 2886729728 AND 2887778303)
             |    OR (v BETWEEN 3232235520 AND 3232301055) AS priv,
             |  v - v % 16777216 = 167772160 AS inr
             |FROM y ORDER BY event_id""".stripMargin)),

    // evaluate ipv4_lookup: longest-prefix CIDR enrichment — distinct prefix
    // lengths collected (bounded ≤33), one masked candidate key per length,
    // broadcast equi-join on (length, network), longest match wins
    // (tie-break: smallest network). return_unmatched=true keeps misses with
    // null range columns. The 10/8-vs-10.128/9 overlap exercises the
    // longest-prefix rule; second octets 16–31 hit 172.16/12, the rest miss.
    QueryDef("q_kql_ipv4_lookup",
      (s, d) => run(s, d,
        """let ranges = datatable(network:string, tag:string) [
          |  '10.0.0.0/8', 'ten',
          |  '10.128.0.0/9', 'ten-upper',
          |  '172.16.0.0/12', 'rfc1918-172',
          |  '192.168.0.0/16', 'home',
          |  '203.0.113.64/26', 'testnet'
          |];
          |events
          || where event_id % 100 == 0
          || extend o1 = iff(event_id % 3 == 0, 10, 172),
          |    o2 = toint(event_id % 256), o3 = toint(event_id % 251),
          |    o4 = toint(event_id % 239)
          || extend ip = strcat(tostring(o1), '.', tostring(o2), '.',
          |    tostring(o3), '.', tostring(o4))
          || evaluate ipv4_lookup(ranges, ip, network, return_unmatched = true)
          || project event_id, ip, network, tag
          || sort by event_id asc""".stripMargin),
      Some("""WITH x AS (
             |  SELECT event_id,
             |    CASE WHEN event_id % 3 = 0 THEN 10 ELSE 172 END AS o1,
             |    event_id % 256 AS o2, event_id % 251 AS o3, event_id % 239 AS o4
             |  FROM events WHERE event_id % 100 = 0),
             |y AS (
             |  SELECT event_id,
             |    CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.' ||
             |      CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS ip,
             |    CAST(((o1 * 256 + o2) * 256 + o3) * 256 + o4 AS BIGINT) AS ipint
             |  FROM x),
             |lk(network, len, base, tag) AS (VALUES
             |  ('10.0.0.0/8', 8, 167772160, 'ten'),
             |  ('10.128.0.0/9', 9, 176160768, 'ten-upper'),
             |  ('172.16.0.0/12', 12, 2886729728, 'rfc1918-172'),
             |  ('192.168.0.0/16', 16, 3232235520, 'home'),
             |  ('203.0.113.64/26', 26, 3405803840, 'testnet')),
             |m AS (
             |  SELECT y.event_id, l.network, l.tag,
             |    ROW_NUMBER() OVER (PARTITION BY y.event_id
             |      ORDER BY l.len DESC, l.base ASC) AS rn
             |  FROM y JOIN lk l
             |    ON (y.ipint // (CAST(1 AS BIGINT) << (32 - l.len)))
             |       * (CAST(1 AS BIGINT) << (32 - l.len)) = l.base)
             |SELECT y.event_id, y.ip, m.network, m.tag
             |FROM y LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
             |ORDER BY event_id""".stripMargin)),

    // property-bag surgery + parse-time column_ifexists resolution
    QueryDef("q_kql_bag_ops",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend b1 = bag_pack('a', event_id % 5, 'b', event_id % 3),
          |    b2 = bag_pack('b', 99, 'c', event_id % 7)
          || extend m = bag_merge(b1, b2)
          || extend ra = bag_remove_keys(m, pack_array('a'))
          || project event_id,
          |    mb = tolong(m['b']), mc = tolong(m['c']),
          |    rkeys = strcat_array(bag_keys(ra), ';'),
          |    hk = bag_has_key(m, 'c'), hk2 = bag_has_key(m, 'z'),
          |    cie = column_ifexists('value', -1.0),
          |    cie2 = column_ifexists('no_such_column', -1.0)
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  event_id % 3 AS mb, event_id % 7 AS mc,
             |  'b;c' AS rkeys, TRUE AS hk, FALSE AS hk2,
             |  value AS cie, -1.0 AS cie2
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // calendar parts + epoch-to-datetime conversions
    QueryDef("q_kql_datetime_fns",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || project event_id, ts
          || extend doy = dayofyear(ts), woy = week_of_year(ts), moy = monthofyear(ts),
          |    us = unixtime_seconds_todatetime(event_id * 100),
          |    um = unixtime_milliseconds_todatetime(event_id * 100000),
          |    uu = unixtime_microseconds_todatetime(event_id * 100000000)
          || project-away ts
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  CAST(dayofyear(ts) AS INT) AS doy,
             |  CAST(weekofyear(ts) AS INT) AS woy,
             |  CAST(month(ts) AS INT) AS moy,
             |  make_timestamp(event_id * 100000000) AS us,
             |  make_timestamp(event_id * 100000000) AS um,
             |  make_timestamp(event_id * 100000000) AS uu
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // round-6 scalar surface: datetime add/boundaries, .NET-style formatting,
    // string codecs, portable hash, bitwise ops, version parsing, array rotate
    QueryDef("q_kql_scalar_misc3",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || project event_id, ts
          || extend som = startofmonth(ts), eom = endofmonth(ts),
          |    da = datetime_add('day', 3, ts),
          |    fd = format_datetime(ts, 'yyyy-MM-dd HH:mm:ss'),
          |    sc = strcmp(tostring(event_id % 3), '1'),
          |    tr = translate('0123456789', 'abcdefghij', tostring(event_id)),
          |    b64 = base64_encode_tostring(tostring(event_id % 100)),
          |    rt = base64_decode_tostring(base64_encode_tostring(tostring(event_id % 100))),
          |    pv = tostring(parse_version(strcat(tostring(event_id % 7), '.2.1'))),
          |    h = hash(tostring(event_id), 64),
          |    ba = binary_and(event_id, 255), bx = binary_xor(event_id, 129),
          |    bsl = binary_shift_left(event_id % 16, 2),
          |    rot = strcat_array(array_rotate_left(pack_array(1, 2, 3, event_id % 5), 1), ';')
          || extend ea = strcat_array(extract_all('([a-z]+)', tr), '|')
          || project-away ts
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  date_trunc('month', ts) AS som,
             |  date_trunc('month', ts) + INTERVAL 1 MONTH - INTERVAL 1 MICROSECOND AS eom,
             |  ts + INTERVAL 3 DAY AS da,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS fd,
             |  CASE WHEN CAST(event_id % 3 AS VARCHAR) < '1' THEN -1
             |       WHEN CAST(event_id % 3 AS VARCHAR) > '1' THEN 1 ELSE 0 END AS sc,
             |  translate(CAST(event_id AS VARCHAR), '0123456789', 'abcdefghij') AS tr,
             |  base64(encode(CAST(event_id % 100 AS VARCHAR))) AS b64,
             |  CAST(event_id % 100 AS VARCHAR) AS rt,
             |  CAST(CAST(event_id % 7 AS HUGEINT) * 1000000000000000000000000
             |    + 20000000000000000 + 100000000 AS VARCHAR) AS pv,
             |  CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS h,
             |  event_id & 255 AS ba,
             |  xor(event_id, 129) AS bx,
             |  (event_id % 16) << 2 AS bsl,
             |  CAST(2 AS VARCHAR) || ';' || CAST(3 AS VARCHAR) || ';'
             |    || CAST(event_id % 5 AS VARCHAR) || ';' || CAST(1 AS VARCHAR) AS rot,
             |  array_to_string(regexp_extract_all(
             |    translate(CAST(event_id AS VARCHAR), '0123456789', 'abcdefghij'),
             |    '([a-z]+)', 1), '|') AS ea
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    QueryDef("q_kql_parse_kv",
      (s, d) => run(s, d,
        """events
          || extend kvs = strcat('a=', tostring(event_id % 7), ';b=', event_type)
          || parse-kv kvs as (a:long, b:string) with (pair_delimiter=';', kv_delimiter='=')
          || summarize n = count(), sa = sum(a) by b
          || sort by b asc""".stripMargin),
      Some("""SELECT event_type AS b, COUNT(*) AS n,
             |  CAST(SUM(event_id % 7) AS BIGINT) AS sa
             |FROM events GROUP BY 1 ORDER BY b""".stripMargin)),

    QueryDef("q_kql_getschema",
      (s, d) => run(s, d, "events | getschema | sort by ColumnOrdinal asc"),
      // 4-column form matching Kusto: DataType is the backing .NET type name,
      // ColumnType the KQL scalar-type vocabulary
      Some("""SELECT * FROM (VALUES
             |  ('event_id', 0, 'System.Int64', 'long'),
             |  ('ts', 1, 'System.DateTime', 'datetime'),
             |  ('user_id', 2, 'System.Int64', 'long'),
             |  ('event_type', 3, 'System.String', 'string'),
             |  ('value', 4, 'System.Double', 'real'),
             |  ('props', 5, 'System.String', 'string'))
             |AS t(ColumnName, ColumnOrdinal, DataType, ColumnType)
             |ORDER BY ColumnOrdinal""".stripMargin)),

    // --- round-5 parser surface: scalar lets / multi-arg invoke / search /
    // row_window_session maxDuration rollover --------------------------------

    QueryDef("q_kql_let_scalar",
      (s, d) => run(s, d,
        """let lo = 250;
          |let hi = lo * 2 - 100;
          |events
          || where value > lo and value <= hi
          || summarize n = count(), mn = min(value), mx = max(value) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS n, MIN(value) AS mn, MAX(value) AS mx
             |FROM events WHERE value > 250 AND value <= 400
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q_kql_invoke_args",
      (s, d) => run(s, d,
        """let f = (src:(value:real), lo:real, mult:long) {
          |  src | where value > lo | extend vm = tolong(floor(value * mult)) };
          |events
          || invoke f(250.0, 3)
          || summarize n = count(), sv = sum(vm) by event_type
          || sort by event_type asc""".stripMargin),
      // vm is floored to long before summing: exact integer accumulation, no
      // order-dependent fp sums (see QueryDef scaladoc)
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(value * 3) AS BIGINT)) AS BIGINT) AS sv
             |FROM events WHERE value > 250.0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q_kql_search",
      (s, d) => run(s, d,
        """documents
          || search 'pipeline'
          || summarize n = count() by lang
          || sort by lang asc""".stripMargin),
      // search X ≡ where * has X: the term probe ORs over every string column
      // (text, lang, source) of the documents table
      Some("""SELECT lang, COUNT(*) AS n FROM documents
             |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])pipeline($|[^a-z0-9])')
             |   OR regexp_matches(lower(lang), '(^|[^a-z0-9])pipeline($|[^a-z0-9])')
             |   OR regexp_matches(lower(source), '(^|[^a-z0-9])pipeline($|[^a-z0-9])')
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // make-graph / graph-match: event-type transition graph (edges = each
    // user's consecutive event pairs under the global serialized order),
    // then a 2-hop path pattern view→?→purchase. Each hop is one equi-join
    // on the node key — the relational lowering that scales as two shuffles.
    QueryDef("q_kql_graph_match",
      (s, d) => run(s, d,
        """events
          || sort by user_id asc, ts asc, event_id asc
          || serialize
          || extend pu = prev(user_id), pt = prev(event_type)
          || where pu == user_id
          || summarize w = count() by u = pt, v = event_type
          || make-graph u --> v
          || graph-match (a)-[e1]->(b)-[e2]->(c)
          |  where a == 'view' and c == 'purchase'
          |  project b, w1 = e1.w, w2 = e2.w
          || summarize n_paths = count(), total = sum(w1 * w2) by b
          || sort by b asc""".stripMargin),
      Some("""WITH ordered AS (
             |  SELECT user_id, event_type,
             |    LAG(user_id) OVER w AS pu, LAG(event_type) OVER w AS pt
             |  FROM events WINDOW w AS (ORDER BY user_id, ts, event_id)),
             |g AS (
             |  SELECT pt AS u, event_type AS v, COUNT(*) AS w
             |  FROM ordered WHERE pu = user_id GROUP BY 1, 2)
             |SELECT e1.v AS b, COUNT(*) AS n_paths,
             |  CAST(SUM(e1.w * e2.w) AS BIGINT) AS total
             |FROM g e1 JOIN g e2 ON e1.v = e2.u
             |WHERE e1.u = 'view' AND e2.v = 'purchase'
             |GROUP BY 1 ORDER BY b""".stripMargin)),

    // variable-length graph paths: view-to-purchase reachability in 1..3
    // hops over the transition graph; the bounded range expands to three
    // independent join chains unioned by name, and the edge variable binds
    // the traversed edge array (array_length = path length)
    QueryDef("q_kql_graph_varlen",
      (s, d) => run(s, d,
        """events
          || sort by user_id asc, ts asc, event_id asc
          || serialize
          || extend pu = prev(user_id), pt = prev(event_type)
          || where pu == user_id
          || summarize w = count() by u = pt, v = event_type
          || make-graph u --> v
          || graph-match (a)-[p*1..3]->(c)
          |  where a == 'view' and c == 'purchase'
          |  project hops = array_length(p)
          || summarize n_paths = count() by hops
          || sort by hops asc""".stripMargin),
      Some("""WITH ordered AS (
             |  SELECT user_id, event_type,
             |    LAG(user_id) OVER w AS pu, LAG(event_type) OVER w AS pt
             |  FROM events WINDOW w AS (ORDER BY user_id, ts, event_id)),
             |g AS (
             |  SELECT pt AS u, event_type AS v
             |  FROM ordered WHERE pu = user_id GROUP BY pt, event_type),
             |p AS (
             |  SELECT CAST(1 AS BIGINT) AS hops FROM g
             |  WHERE u = 'view' AND v = 'purchase'
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT) FROM g a JOIN g b ON a.v = b.u
             |  WHERE a.u = 'view' AND b.v = 'purchase'
             |  UNION ALL
             |  SELECT CAST(3 AS BIGINT) FROM g a JOIN g b ON a.v = b.u
             |    JOIN g c ON b.v = c.u
             |  WHERE a.u = 'view' AND c.v = 'purchase')
             |SELECT hops, COUNT(*) AS n_paths FROM p
             |GROUP BY hops ORDER BY hops""".stripMargin)),

    // graph-shortest-paths: min-hop distances from node 0 over a sparse
    // 25-node / 2-out-degree arithmetic graph (nontrivial diameters), BFS by
    // frontier equi-joins with pair-level pruning; the path variable binds
    // the lexicographically-smallest shortest path's node array. The oracle
    // enumerates all simple paths <=4 hops recursively and takes the same
    // (min len, min path).
    QueryDef("q_kql_graph_shortest",
      (s, d) => run(s, d,
        """nation
          || project u = n_nationkey
          || extend v = (u * 7 + 3) % 25
          || union (nation | project u = n_nationkey | extend v = (u * 11 + 5) % 25)
          || make-graph u --> v
          || graph-shortest-paths (a)-[p*1..4]->(b)
          |  where a == 0
          |  project b, hops = tolong(array_length(p)) - 1, path = strcat_array(p, '>')
          || sort by b asc""".stripMargin),
      Some("""WITH RECURSIVE g AS (
             |  SELECT n_nationkey AS u, (n_nationkey * 7 + 3) % 25 AS v FROM nation
             |  UNION ALL
             |  SELECT n_nationkey, (n_nationkey * 11 + 5) % 25 FROM nation),
             |r(a, b, len, path) AS (
             |  SELECT u, v, 1, [u, v] FROM g WHERE u <> v
             |  UNION ALL
             |  SELECT r.a, e.v, r.len + 1, list_append(r.path, e.v)
             |  FROM r JOIN g e ON e.u = r.b
             |  WHERE r.len < 4 AND e.v <> r.a AND NOT list_contains(r.path, e.v)),
             |m AS (SELECT a, b, MIN(len) AS minlen FROM r WHERE a = 0 GROUP BY 1, 2),
             |best AS (
             |  SELECT r.a, r.b, m.minlen AS len, MIN(r.path) AS path
             |  FROM r JOIN m ON r.a = m.a AND r.b = m.b AND r.len = m.minlen
             |  GROUP BY 1, 2, 3)
             |SELECT b, CAST(len AS BIGINT) AS hops,
             |  array_to_string(path, '>') AS path
             |FROM best ORDER BY b""".stripMargin)),

    // evaluate autocluster/basket: frequent attribute combinations via one
    // cube pass; the grand-total row funds the percent column (broadcast
    // single-row join, no second corpus scan). autocluster = basket at
    // Kusto's default 0.05 support (see Kql.basket scaladoc for deviations)
    QueryDef("q_kql_autocluster",
      (s, d) => run(s, d,
        """events
          || extend band = strcat('b', tostring(user_id % 3))
          || evaluate autocluster(event_type, band)
          || sort by count_ desc, event_type asc, band asc""".stripMargin),
      Some("""WITH base AS (
             |  SELECT event_type, 'b' || CAST(user_id % 3 AS VARCHAR) AS band FROM events),
             |c AS (
             |  SELECT event_type, band, COUNT(*) AS count_,
             |    GROUPING(event_type) AS g1, GROUPING(band) AS g2
             |  FROM base GROUP BY CUBE(event_type, band)),
             |tot AS (SELECT count_ AS total FROM c WHERE g1 = 1 AND g2 = 1)
             |SELECT c.event_type AS event_type, c.band AS band, c.count_ AS count_,
             |  c.count_ * 100.0 / tot.total AS percent
             |FROM c, tot
             |WHERE NOT (g1 = 1 AND g2 = 1) AND c.count_ >= CAST(0.05 AS DOUBLE) * tot.total
             |ORDER BY count_ DESC, event_type NULLS FIRST, band NULLS FIRST""".stripMargin)),

    // basket with an explicit (higher) threshold over three attributes —
    // exercises the 2^3−1 subset lattice and the value-combination pruning
    QueryDef("q_kql_basket",
      (s, d) => run(s, d,
        """events
          || extend band = strcat('b', tostring(user_id % 4)),
          |    big = iff(value > 250, 'hi', 'lo')
          || evaluate basket(0.12, event_type, band, big)
          || sort by count_ desc, event_type asc, band asc, big asc""".stripMargin),
      Some("""WITH base AS (
             |  SELECT event_type, 'b' || CAST(user_id % 4 AS VARCHAR) AS band,
             |    CASE WHEN value > 250 THEN 'hi' ELSE 'lo' END AS big FROM events),
             |c AS (
             |  SELECT event_type, band, big, COUNT(*) AS count_,
             |    GROUPING(event_type) AS g1, GROUPING(band) AS g2, GROUPING(big) AS g3
             |  FROM base GROUP BY CUBE(event_type, band, big)),
             |tot AS (SELECT count_ AS total FROM c WHERE g1 = 1 AND g2 = 1 AND g3 = 1)
             |SELECT c.event_type AS event_type, c.band AS band, c.big AS big,
             |  c.count_ AS count_, c.count_ * 100.0 / tot.total AS percent
             |FROM c, tot
             |WHERE NOT (g1 = 1 AND g2 = 1 AND g3 = 1) AND c.count_ >= CAST(0.12 AS DOUBLE) * tot.total
             |ORDER BY count_ DESC, event_type NULLS FIRST, band NULLS FIRST, big NULLS FIRST""".stripMargin)),

    // evaluate diffpatterns: attribute combinations whose frequency differs
    // between two row splits — one cube pass computes both sides' counts as
    // conditional sums; the cube's grand-total row funds the percent columns
    // (broadcast single-row join). Oracle CASTs each SUM (DuckDB HUGEINT) and
    // forces the 0.05 threshold to DOUBLE so both engines compare the same
    // IEEE product at the support boundary.
    QueryDef("q_kql_diffpatterns",
      (s, d) => run(s, d,
        """events
          || extend band = strcat('b', tostring(user_id % 3)),
          |    big = iff(value > 250, 'hi', 'lo')
          || evaluate diffpatterns(big, 'hi', 'lo', event_type, band)
          || sort by event_type asc, band asc""".stripMargin),
      Some("""WITH base AS (
             |  SELECT event_type, 'b' || CAST(user_id % 3 AS VARCHAR) AS band,
             |    CASE WHEN value > 250 THEN 'hi' ELSE 'lo' END AS big FROM events),
             |c AS (
             |  SELECT event_type, band,
             |    CAST(SUM(CASE WHEN big = 'hi' THEN 1 ELSE 0 END) AS BIGINT) AS count_a,
             |    CAST(SUM(CASE WHEN big = 'lo' THEN 1 ELSE 0 END) AS BIGINT) AS count_b,
             |    GROUPING(event_type) AS g1, GROUPING(band) AS g2
             |  FROM base GROUP BY CUBE(event_type, band)),
             |tot AS (SELECT count_a AS ta, count_b AS tb FROM c WHERE g1 = 1 AND g2 = 1)
             |SELECT c.event_type AS event_type, c.band AS band,
             |  c.count_a AS count_a, c.count_b AS count_b,
             |  c.count_a * 100.0 / tot.ta AS percent_a,
             |  c.count_b * 100.0 / tot.tb AS percent_b,
             |  c.count_a * 100.0 / tot.ta - c.count_b * 100.0 / tot.tb AS percent_diff_ab
             |FROM c, tot
             |WHERE NOT (g1 = 1 AND g2 = 1)
             |  AND (c.count_a >= CAST(0.05 AS DOUBLE) * tot.ta
             |    OR c.count_b >= CAST(0.05 AS DOUBLE) * tot.tb)
             |ORDER BY event_type NULLS FIRST, band NULLS FIRST""".stripMargin)),

    // evaluate diffpatterns_text: per-token row-presence contrast between
    // two document splits (lang en vs es) — explode distinct tokens, one
    // conditional-sum hash agg, broadcast one-row totals; the oracle CASTs
    // the threshold to DOUBLE so both engines compare the same IEEE product
    // at the support boundary (the diffpatterns convention).
    QueryDef("q_kql_diffpatterns_text",
      (s, d) => run(s, d,
        """documents
          || evaluate diffpatterns_text(text, lang, 'en', 'es', 0.2)
          || sort by token asc""".stripMargin),
      Some("""WITH d AS (
             |  SELECT lang, text FROM documents WHERE lang IN ('en', 'es')),
             |toks AS (
             |  SELECT lang, UNNEST(list_distinct(list_filter(
             |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''))) AS token
             |  FROM d),
             |c AS (
             |  SELECT token,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS count_a,
             |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS count_b
             |  FROM toks GROUP BY token),
             |tot AS (
             |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
             |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS tb
             |  FROM d)
             |SELECT c.token AS token, c.count_a AS count_a, c.count_b AS count_b,
             |  c.count_a * 100.0 / tot.ta AS percent_a,
             |  c.count_b * 100.0 / tot.tb AS percent_b,
             |  c.count_a * 100.0 / tot.ta - c.count_b * 100.0 / tot.tb AS percent_diff_ab
             |FROM c, tot
             |WHERE c.count_a >= CAST(0.2 AS DOUBLE) * tot.ta
             |   OR c.count_b >= CAST(0.2 AS DOUBLE) * tot.tb
             |ORDER BY token""".stripMargin)),

    // evaluate activity_counts_metrics: per-day event count, distinct actors,
    // first-seen actors, and running distinct total. Two hash aggs over the
    // fact table; the cumulative window runs over per-bin rows only (bounded
    // by the date range). Oracle CASTs the running SUM (DuckDB HUGEINT).
    QueryDef("q_kql_activity_counts",
      (s, d) => run(s, d,
        """events
          || evaluate activity_counts_metrics(user_id, ts,
          |    datetime('2024-01-01'), datetime('2024-01-31'), 1d)
          || sort by ts asc""".stripMargin),
      Some("""WITH b AS (
             |  SELECT user_id, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS bin
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'),
             |perbin AS (
             |  SELECT bin, COUNT(*) AS count_, COUNT(DISTINCT user_id) AS dcount
             |  FROM b GROUP BY bin),
             |firstseen AS (SELECT user_id, MIN(bin) AS fb FROM b GROUP BY user_id),
             |newb AS (SELECT fb AS bin, COUNT(*) AS new_dcount FROM firstseen GROUP BY fb)
             |SELECT p.bin AS ts, p.count_ AS count_, p.dcount AS dcount,
             |  COALESCE(n.new_dcount, 0) AS new_dcount,
             |  CAST(SUM(COALESCE(n.new_dcount, 0)) OVER (ORDER BY p.bin) AS BIGINT)
             |    AS aggregated_dcount
             |FROM perbin p LEFT JOIN newb n ON p.bin = n.bin
             |ORDER BY ts""".stripMargin)),

    // evaluate sliding_window_counts: events + distinct actors in a 7d window
    // ending at each day. Engine explodes (id, bin) pairs forward by the
    // fixed lookback/step factor; oracle states the same windows as a
    // range-join over generated day bins.
    QueryDef("q_kql_sliding_window",
      (s, d) => run(s, d,
        """events
          || evaluate sliding_window_counts(user_id, ts, 7d, 1d,
          |    datetime('2024-01-01'), datetime('2024-01-31'))
          || sort by ts asc""".stripMargin),
      Some("""WITH e AS (
             |  SELECT user_id, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS bin
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'),
             |wins AS (SELECT range AS wbin FROM range(
             |  TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 DAY)),
             |j AS (
             |  SELECT w.wbin, e.user_id FROM wins w JOIN e
             |  ON e.bin <= w.wbin AND e.bin > w.wbin - INTERVAL 7 DAY)
             |SELECT wbin AS ts, COUNT(*) AS count_, COUNT(DISTINCT user_id) AS dcount
             |FROM j GROUP BY wbin ORDER BY ts""".stripMargin)),

    // evaluate activity_engagement: DAU/WAU ratio — distinct actors per day
    // vs distinct actors in the 7d window ending that day, over the
    // deduplicated (id, day) pair set.
    QueryDef("q_kql_engagement",
      (s, d) => run(s, d,
        """events
          || evaluate activity_engagement(user_id, ts, 1d, 7d)
          || sort by ts asc""".stripMargin),
      Some("""WITH p AS (
             |  SELECT DISTINCT user_id, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS bin
             |  FROM events),
             |inner_ AS (
             |  SELECT bin, COUNT(*) AS di FROM p GROUP BY bin),
             |outer_ AS (
             |  SELECT i.bin AS bin, COUNT(DISTINCT p2.user_id) AS do_
             |  FROM inner_ i JOIN p p2
             |  ON p2.bin <= i.bin AND p2.bin > i.bin - INTERVAL 7 DAY
             |  GROUP BY i.bin)
             |SELECT i.bin AS ts, i.di AS dcount_activities_inner,
             |  o.do_ AS dcount_activities_outer,
             |  CAST(i.di AS DOUBLE) / o.do_ AS activity_ratio
             |FROM inner_ i JOIN outer_ o ON i.bin = o.bin
             |ORDER BY ts""".stripMargin)),

    // evaluate active_users_count: actors with ≥3 distinct active days in
    // the 7d window ending at each day. Engine explodes the distinct
    // (id, day) pair set forward by the constant lookback/step factor; the
    // oracle states the same windows as a range-join over generated bins.
    QueryDef("q_kql_active_users",
      (s, d) => run(s, d,
        """events
          || evaluate active_users_count(user_id, ts, 7d, 1d, 3,
          |    datetime('2024-01-01'), datetime('2024-01-31'))
          || sort by ts asc""".stripMargin),
      Some("""WITH p AS (
             |  SELECT DISTINCT user_id, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS bin
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'),
             |wins AS (SELECT range AS wbin FROM range(
             |  TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 DAY)),
             |j AS (
             |  SELECT w.wbin, p.user_id, COUNT(*) AS np
             |  FROM wins w JOIN p ON p.bin <= w.wbin AND p.bin > w.wbin - INTERVAL 7 DAY
             |  GROUP BY 1, 2)
             |SELECT wbin AS ts, COUNT(*) AS dcount
             |FROM j WHERE np >= 3 GROUP BY wbin ORDER BY ts""".stripMargin)),

    // evaluate session_count: idle-gap (1h) session STARTS per day — one
    // actor-partitioned lag pass, then a per-bin count (see Kql.sessionCount
    // for the documented deviation from Kusto's active-session rollup).
    QueryDef("q_kql_session_count",
      (s, d) => run(s, d,
        """events
          || where user_id < 50
          || evaluate session_count(user_id, ts,
          |    datetime('2024-01-01'), datetime('2024-01-31'), 1d, 1h)
          || sort by ts asc""".stripMargin),
      Some("""WITH e AS (
             |  SELECT user_id, ts FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
             |    AND user_id < 50),
             |l AS (
             |  SELECT ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
             |  FROM e),
             |st AS (
             |  SELECT ts FROM l
             |  WHERE pts IS NULL OR epoch_us(ts)//1000000 - epoch_us(pts)//1000000 > 3600)
             |SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS ts,
             |  COUNT(*) AS count_
             |FROM st GROUP BY 1 ORDER BY ts""".stripMargin)),

    // evaluate rolling_percentile: exact median of an integral value over
    // the trailing 7 day-bins — engine explodes (value, bin) forward by the
    // constant window factor; both engines interpolate identically
    // (quantile_cont contract) on integral data.
    QueryDef("q_kql_rolling_pct",
      (s, d) => run(s, d,
        """events
          || extend v = event_id % 100
          || evaluate rolling_percentile(v, 50, ts, 1d, 7)
          || sort by ts asc""".stripMargin),
      Some("""WITH e AS (
             |  SELECT CAST(event_id % 100 AS BIGINT) AS v,
             |    TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//86400*86400 AS BIGINT)) SECOND AS bin
             |  FROM events),
             |j AS (
             |  SELECT e.bin + ks.k * INTERVAL 1 DAY AS wbin, e.v
             |  FROM e CROSS JOIN (SELECT UNNEST(range(0, 7)) AS k) ks)
             |SELECT wbin AS ts, quantile_cont(v, 0.5) AS percentile_v_50
             |FROM j GROUP BY wbin ORDER BY ts""".stripMargin)),

    // reduce by: deterministic pattern clustering (digit runs → `*`) — one
    // hash agg on the derived pattern; Representative is the binary-min
    // member (stable in both engines).
    QueryDef("q_kql_reduce",
      (s, d) => run(s, d,
        """events
          || reduce by strcat(event_type, ':', props)
          || sort by Count desc, Pattern asc""".stripMargin),
      Some("""WITH v AS (SELECT event_type || ':' || props AS s FROM events)
             |SELECT regexp_replace(s, '[0-9]+', '*', 'g') AS "Pattern",
             |  COUNT(*) AS "Count", MIN(s) AS "Representative"
             |FROM v GROUP BY 1 ORDER BY "Count" DESC, "Pattern" ASC""".stripMargin)),

    // evaluate dcount_intersect over hll_sketch() columns: per event_type,
    // actors with a high-value row (s0) and actors with BOTH a high- and a
    // low-value row (s1) — inclusion-exclusion over sketch unions. Exact at
    // this cardinality (DataSketches sparse mode), so the oracle states the
    // exact set arithmetic.
    QueryDef("q_kql_dcount_intersect",
      (s, d) => run(s, d,
        """events
          || summarize h1 = hll_sketch(iff(value > 250.0, user_id, long(null))),
          |    h2 = hll_sketch(iff(value <= 250.0, user_id, long(null))) by event_type
          || evaluate dcount_intersect(h1, h2)
          || sort by event_type asc""".stripMargin),
      Some("""WITH g AS (
             |  SELECT event_type, user_id,
             |    MAX(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS ha,
             |    MAX(CASE WHEN value <= 250.0 THEN 1 ELSE 0 END) AS hb
             |  FROM events GROUP BY event_type, user_id)
             |SELECT event_type,
             |  COUNT(CASE WHEN ha = 1 THEN 1 END) AS s0,
             |  COUNT(CASE WHEN ha = 1 AND hb = 1 THEN 1 END) AS s1
             |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // geo scalar family: haversine distance + point-in-circle, synthesized
    // coordinates. Both sides state the identical arithmetic chain; the
    // round(d, 1) absorbs cross-engine libm last-ulp differences in
    // sin/cos/asin (sqrt is IEEE-exact in both). The unrounded `inc`
    // threshold is safe WITHOUT a guard: coordinates are quantized to the
    // 350×170 quarter-degree grid, and the minimum |d − 5000000| over the
    // ENTIRE grid is 251.6 m (checked exhaustively) — libm ulp differences
    // are ~0.005 m at that magnitude, so the boolean cannot flip at any SF.
    QueryDef("q_kql_geo",
      (s, d) => run(s, d,
        """events
          || extend lon1 = todouble(event_id % 350) - 175.0 + 0.25,
          |    lat1 = todouble(event_id % 170) - 85.0 + 0.25,
          |    lon2 = todouble(user_id % 350) - 175.0 + 0.25,
          |    lat2 = todouble(user_id % 170) - 85.0 + 0.25
          || extend d = round(geo_distance_2points(lon1, lat1, lon2, lat2), 1),
          |    inc = geo_point_in_circle(lon1, lat1, 0.0, 0.0, 5000000.0)
          || project event_id, d, inc
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (
             |  SELECT event_id,
             |    CAST(event_id % 350 AS DOUBLE) - 175.0 + 0.25 AS lon1,
             |    CAST(event_id % 170 AS DOUBLE) - 85.0 + 0.25 AS lat1,
             |    CAST(user_id % 350 AS DOUBLE) - 175.0 + 0.25 AS lon2,
             |    CAST(user_id % 170 AS DOUBLE) - 85.0 + 0.25 AS lat2
             |  FROM events)
             |SELECT event_id,
             |  ROUND(12742000.0 * ASIN(LEAST(1.0, SQRT(
             |    SIN(RADIANS(lat2 - lat1) / 2) * SIN(RADIANS(lat2 - lat1) / 2) +
             |    COS(RADIANS(lat1)) * COS(RADIANS(lat2)) *
             |    SIN(RADIANS(lon2 - lon1) / 2) * SIN(RADIANS(lon2 - lon1) / 2)))), 1) AS d,
             |  12742000.0 * ASIN(LEAST(1.0, SQRT(
             |    SIN(RADIANS(0.0 - lat1) / 2) * SIN(RADIANS(0.0 - lat1) / 2) +
             |    COS(RADIANS(lat1)) * COS(RADIANS(0.0)) *
             |    SIN(RADIANS(0.0 - lon1) / 2) * SIN(RADIANS(0.0 - lon1) / 2))))
             |    <= 5000000.0 AS inc
             |FROM b ORDER BY event_id""".stripMargin)),

    // geohash encode/decode + point-in-polygon. Encode is exact bit
    // interleaving (validated against the canonical subdivision algorithm);
    // decode recovers the cell center with exact power-of-two scaling; the
    // polygon ray-cast is pure fixed-order +−×/ arithmetic — all three are
    // bit-replayable by the integer/IEEE oracle, no libm involved.
    QueryDef("q_kql_geohash",
      (s, d) => run(s, d,
        """events
          || where event_id % 20 == 0
          || extend lon1 = todouble(event_id % 350) - 175.0 + 0.25,
          |    lat1 = todouble(event_id % 170) - 85.0 + 0.25
          || extend gh = geo_point_to_geohash(lon1, lat1, 6)
          || extend cp = geo_geohash_to_central_point(gh)
          || extend inp = geo_point_in_polygon(lon1, lat1, pack_array(
          |    pack_array(0.0, -80.0), pack_array(150.0, 0.0),
          |    pack_array(0.0, 80.0), pack_array(-150.0, 0.0)))
          || project event_id, gh, clng = cp.lng, clat = cp.lat, inp
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (
             |  SELECT event_id,
             |    CAST(event_id % 350 AS DOUBLE) - 175.0 + 0.25 AS lon1,
             |    CAST(event_id % 170 AS DOUBLE) - 85.0 + 0.25 AS lat1
             |  FROM events WHERE event_id % 20 = 0),
             |i AS (
             |  SELECT event_id, lon1, lat1,
             |    LEAST(GREATEST(CAST(FLOOR((lon1 + 180.0) / 360.0 * 32768.0) AS BIGINT), 0), 32767) AS loi,
             |    LEAST(GREATEST(CAST(FLOOR((lat1 + 90.0) / 180.0 * 32768.0) AS BIGINT), 0), 32767) AS lai
             |  FROM b),
             |z AS (
             |  SELECT event_id, lon1, lat1, loi, lai,
             |    list_sum(list_transform(range(0, 15), j ->
             |      (((loi >> CAST(14 - j AS INT)) & 1) << CAST(29 - 2*j AS INT)) +
             |      (((lai >> CAST(14 - j AS INT)) & 1) << CAST(28 - 2*j AS INT)))) AS z
             |  FROM i)
             |SELECT event_id,
             |  array_to_string(list_transform(range(0, 6), k ->
             |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
             |      CAST(((z >> CAST((5 - k) * 5 AS INT)) & 31) AS INT) + 1, 1)), '') AS gh,
             |  (loi + 0.5) / 32768.0 * 360.0 - 180.0 AS clng,
             |  (lai + 0.5) / 32768.0 * 180.0 - 90.0 AS clat,
             |  ((CASE WHEN (-80.0 > lat1) <> (0.0 > lat1)
             |      AND lon1 < (150.0 - 0.0) * (lat1 - (-80.0)) / (0.0 - (-80.0)) + 0.0
             |      THEN 1 ELSE 0 END) +
             |   (CASE WHEN (0.0 > lat1) <> (80.0 > lat1)
             |      AND lon1 < (0.0 - 150.0) * (lat1 - 0.0) / (80.0 - 0.0) + 150.0
             |      THEN 1 ELSE 0 END) +
             |   (CASE WHEN (80.0 > lat1) <> (0.0 > lat1)
             |      AND lon1 < (-150.0 - 0.0) * (lat1 - 80.0) / (0.0 - 80.0) + 0.0
             |      THEN 1 ELSE 0 END) +
             |   (CASE WHEN (0.0 > lat1) <> (-80.0 > lat1)
             |      AND lon1 < (0.0 - (-150.0)) * (lat1 - 0.0) / (-80.0 - 0.0) + (-150.0)
             |      THEN 1 ELSE 0 END)) % 2 = 1 AS inp
             |FROM z ORDER BY event_id""".stripMargin)),

    // element-wise series family + series_seasonal over a dynamic literal —
    // exact-arithmetic members only (abs/sign/floor/ceiling/round/pow-square
    // and per-phase means of exact halves); the libm members (exp/log/trig)
    // are unit-tested instead, their unrounded doubles aren't hash-portable.
    QueryDef("q_kql_series_elementwise",
      (s, d) => run(s, d,
        """print d = dynamic([-2.5, -0.5, 0.0, 1.5, 252.25])
          || extend a = series_abs(d), g = series_sign(d), f = series_floor(d),
          |    c = series_ceiling(d), r = series_round(d), se = series_seasonal(d, 2),
          |    p = series_pow(d, repeat(2.0, array_length(d)))
          || extend q = series_atan2(d, repeat(2.0, array_length(d))),
          |    sn = series_asin(d), oc = series_acos(d), wt = series_atan(d)
          || project a0 = todouble(a[0]), g0 = todouble(g[0]), g3 = todouble(g[3]),
          |    f0 = todouble(f[0]), c0 = todouble(c[0]), r0 = todouble(r[0]),
          |    r1 = todouble(r[1]), s0 = todouble(se[0]), s1 = todouble(se[1]),
          |    s2 = todouble(se[2]), p4 = todouble(p[4]),
          |    q3 = round(todouble(q[3]), 6), n1 = round(todouble(sn[1]), 6),
          |    o2 = round(todouble(oc[2]), 6), w4 = round(todouble(wt[4]), 6)""".stripMargin),
      Some("""WITH v AS (SELECT i, CAST(x AS DOUBLE) AS x FROM (VALUES
             |    (0, -2.5), (1, -0.5), (2, 0.0), (3, 1.5), (4, 252.25)) t(i, x)),
             |ph AS (SELECT i % 2 AS p, SUM(x) / COUNT(*) AS m FROM v GROUP BY 1)
             |SELECT
             |  (SELECT ABS(x) FROM v WHERE i = 0) AS a0,
             |  (SELECT CAST(SIGN(x) AS DOUBLE) FROM v WHERE i = 0) AS g0,
             |  (SELECT CAST(SIGN(x) AS DOUBLE) FROM v WHERE i = 3) AS g3,
             |  (SELECT FLOOR(x) FROM v WHERE i = 0) AS f0,
             |  (SELECT CEIL(x) FROM v WHERE i = 0) AS c0,
             |  (SELECT ROUND(x) FROM v WHERE i = 0) AS r0,
             |  (SELECT ROUND(x) FROM v WHERE i = 1) AS r1,
             |  (SELECT m FROM ph WHERE p = 0) AS s0,
             |  (SELECT m FROM ph WHERE p = 1) AS s1,
             |  (SELECT m FROM ph WHERE p = 0) AS s2,
             |  (SELECT POWER(x, 2.0) FROM v WHERE i = 4) AS p4,
             |  ROUND((SELECT ATAN2(x, 2.0) FROM v WHERE i = 3), 6) AS q3,
             |  ROUND((SELECT ASIN(x) FROM v WHERE i = 1), 6) AS n1,
             |  ROUND((SELECT ACOS(x) FROM v WHERE i = 2), 6) AS o2,
             |  ROUND((SELECT ATAN(x) FROM v WHERE i = 4), 6) AS w4""".stripMargin)),

    // evaluate new_activity_metrics: weekly retention — per epoch-aligned 7d
    // bin, actors, first-seen, returning (also active previous bin), lost
    // (previous-bin actors who didn't return), and rates vs the previous
    // bin's population. All equi-joins of the distinct pair set against its
    // one-window shift.
    // activity_metrics: the canonical activity plugin — dcount/new-dcount per
    // window plus retention/churn vs the previous window's population (same
    // machinery as new_activity_metrics, canonical column names)
    QueryDef("q_kql_activity_metrics",
      (s, d) => run(s, d,
        """events
          || evaluate activity_metrics(user_id, ts,
          |    datetime('2024-01-01'), datetime('2024-01-31'), 3d)
          || sort by ts asc""".stripMargin),
      Some("""WITH p AS (
             |  SELECT DISTINCT user_id, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//259200*259200 AS BIGINT)) SECOND AS bin
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'),
             |perbin AS (SELECT bin, COUNT(*) AS dcount FROM p GROUP BY 1),
             |fs AS (SELECT user_id, MIN(bin) AS fb FROM p GROUP BY 1),
             |newb AS (SELECT fb AS bin, COUNT(*) AS new_dcount FROM fs GROUP BY 1),
             |ret AS (
             |  SELECT a.bin, COUNT(*) AS returning FROM p a JOIN p b
             |  ON b.user_id = a.user_id AND b.bin = a.bin - INTERVAL 3 DAY
             |  GROUP BY 1),
             |lost AS (
             |  SELECT b.bin + INTERVAL 3 DAY AS bin, COUNT(*) AS lost FROM p b
             |  LEFT JOIN p a ON a.user_id = b.user_id AND a.bin = b.bin + INTERVAL 3 DAY
             |  WHERE a.user_id IS NULL GROUP BY 1),
             |prev AS (SELECT bin + INTERVAL 3 DAY AS bin, dcount AS prev_dcount FROM perbin)
             |SELECT pb.bin AS ts, pb.dcount AS dcount_values,
             |  COALESCE(n.new_dcount, 0) AS dcount_newvalues,
             |  CASE WHEN COALESCE(pv.prev_dcount, 0) = 0 THEN 0.0
             |    ELSE CAST(COALESCE(r.returning, 0) AS DOUBLE) / pv.prev_dcount END
             |    AS retention_rate,
             |  CASE WHEN COALESCE(pv.prev_dcount, 0) = 0 THEN 0.0
             |    ELSE CAST(COALESCE(l.lost, 0) AS DOUBLE) / pv.prev_dcount END
             |    AS churn_rate
             |FROM perbin pb LEFT JOIN newb n USING (bin) LEFT JOIN ret r USING (bin)
             |  LEFT JOIN lost l USING (bin) LEFT JOIN prev pv USING (bin)
             |ORDER BY ts""".stripMargin)),

    QueryDef("q_kql_new_activity",
      (s, d) => run(s, d,
        """events
          || evaluate new_activity_metrics(user_id, ts,
          |    datetime('2024-01-01'), datetime('2024-01-31'), 7d)
          || sort by ts asc""".stripMargin),
      Some("""WITH p AS (
             |  SELECT DISTINCT user_id, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST((epoch_us(ts)//1000000)//604800*604800 AS BIGINT)) SECOND AS bin
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'),
             |perbin AS (SELECT bin, COUNT(*) AS dcount FROM p GROUP BY 1),
             |fs AS (SELECT user_id, MIN(bin) AS fb FROM p GROUP BY 1),
             |newb AS (SELECT fb AS bin, COUNT(*) AS new_dcount FROM fs GROUP BY 1),
             |ret AS (
             |  SELECT a.bin, COUNT(*) AS returning FROM p a JOIN p b
             |  ON b.user_id = a.user_id AND b.bin = a.bin - INTERVAL 7 DAY
             |  GROUP BY 1),
             |lost AS (
             |  SELECT b.bin + INTERVAL 7 DAY AS bin, COUNT(*) AS lost FROM p b
             |  LEFT JOIN p a ON a.user_id = b.user_id AND a.bin = b.bin + INTERVAL 7 DAY
             |  WHERE a.user_id IS NULL GROUP BY 1),
             |prev AS (SELECT bin + INTERVAL 7 DAY AS bin, dcount AS prev_dcount FROM perbin)
             |SELECT pb.bin AS ts, pb.dcount AS dcount,
             |  COALESCE(n.new_dcount, 0) AS new_dcount,
             |  COALESCE(r.returning, 0) AS returning_dcount,
             |  COALESCE(l.lost, 0) AS lost_dcount,
             |  CASE WHEN COALESCE(pv.prev_dcount, 0) = 0 THEN 0.0
             |    ELSE CAST(COALESCE(r.returning, 0) AS DOUBLE) / pv.prev_dcount END
             |    AS retention_rate,
             |  CASE WHEN COALESCE(pv.prev_dcount, 0) = 0 THEN 0.0
             |    ELSE CAST(COALESCE(l.lost, 0) AS DOUBLE) / pv.prev_dcount END
             |    AS churn_rate
             |FROM perbin pb LEFT JOIN newb n USING (bin) LEFT JOIN ret r USING (bin)
             |  LEFT JOIN lost l USING (bin) LEFT JOIN prev pv USING (bin)
             |ORDER BY ts""".stripMargin)),

    // evaluate funnel_sequence: who funnels through view→click, and from/to
    // which state — greedy chains (sequence_detect machinery), then the state
    // immediately before the chain start / after the chain end via one ordered
    // window pass each (deterministic tie-break: latest-prior picks the max
    // state, earliest-next the min). Oracle states the same boundaries as
    // correlated order-by-limit-1 lookups.
    QueryDef("q_kql_funnel_sequence",
      (s, d) => run(s, d,
        """events
          || evaluate funnel_sequence(user_id, ts, datetime('2024-01-05'),
          |    datetime('2024-01-25'), 12h, event_type, dynamic(['view','click']))
          || sort by prev asc, next asc""".stripMargin),
      Some("""WITH base AS (
             |  SELECT user_id, ts, event_type FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'),
             |h1 AS (SELECT DISTINCT user_id, ts AS t1 FROM base WHERE event_type = 'view'),
             |ch AS (
             |  SELECT h1.user_id, t1, MIN(e.ts) AS t2
             |  FROM h1 JOIN base e ON e.user_id = h1.user_id AND e.event_type = 'click'
             |    AND e.ts > h1.t1 AND e.ts <= h1.t1 + INTERVAL 12 HOUR
             |  GROUP BY 1, 2),
             |b AS (
             |  SELECT ch.user_id,
             |    (SELECT e.event_type FROM base e WHERE e.user_id = ch.user_id
             |     AND e.ts < ch.t1 ORDER BY e.ts DESC, e.event_type DESC LIMIT 1) AS prev,
             |    (SELECT e.event_type FROM base e WHERE e.user_id = ch.user_id
             |     AND e.ts > ch.t2 ORDER BY e.ts ASC, e.event_type ASC LIMIT 1) AS next
             |  FROM ch)
             |SELECT prev, next, COUNT(DISTINCT user_id) AS dcount
             |FROM b GROUP BY 1, 2
             |ORDER BY prev ASC NULLS FIRST, next ASC NULLS FIRST""".stripMargin)),

    // evaluate funnel_sequence_completion: per-window prefix-completion
    // funnel — distinct actors completing view / view→click /
    // view→click→purchase within 8h and within 48h (greedy chains, step-and-
    // span window = the budget). Oracle restates the chains as nested
    // MIN-joins per window.
    QueryDef("q_kql_funnel_completion",
      (s, d) => run(s, d,
        """events
          || evaluate funnel_sequence_completion(user_id, ts,
          |    datetime('2024-01-03'), datetime('2024-01-28'), event_type,
          |    dynamic(['view', 'click', 'purchase']), dynamic([8h, 48h]))
          || sort by duration asc, step_idx asc""".stripMargin),
      Some("""WITH base AS (
             |  SELECT user_id, ts, event_type FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-28'),
             |h1 AS (SELECT DISTINCT user_id, ts AS t1 FROM base WHERE event_type = 'view'),
             |h2_a AS (
             |  SELECT h1.user_id, t1, MIN(e.ts) AS t2
             |  FROM h1 JOIN base e ON e.user_id = h1.user_id AND e.event_type = 'click'
             |    AND e.ts > t1 AND e.ts <= t1 + INTERVAL 8 HOUR GROUP BY 1, 2),
             |h3_a AS (
             |  SELECT h2_a.user_id, t1, t2, MIN(e.ts) AS t3
             |  FROM h2_a JOIN base e ON e.user_id = h2_a.user_id
             |    AND e.event_type = 'purchase'
             |    AND e.ts > t2 AND e.ts <= t2 + INTERVAL 8 HOUR GROUP BY 1, 2, 3),
             |h2_b AS (
             |  SELECT h1.user_id, t1, MIN(e.ts) AS t2
             |  FROM h1 JOIN base e ON e.user_id = h1.user_id AND e.event_type = 'click'
             |    AND e.ts > t1 AND e.ts <= t1 + INTERVAL 48 HOUR GROUP BY 1, 2),
             |h3_b AS (
             |  SELECT h2_b.user_id, t1, t2, MIN(e.ts) AS t3
             |  FROM h2_b JOIN base e ON e.user_id = h2_b.user_id
             |    AND e.event_type = 'purchase'
             |    AND e.ts > t2 AND e.ts <= t2 + INTERVAL 48 HOUR GROUP BY 1, 2, 3),
             |sel AS (
             |  SELECT 28800 AS duration, 0 AS step_idx, 'view' AS step,
             |    COUNT(DISTINCT user_id) AS dcount FROM h1
             |  UNION ALL SELECT 28800, 1, 'click', COUNT(DISTINCT user_id)
             |    FROM h2_a WHERE t2 <= t1 + INTERVAL 8 HOUR
             |  UNION ALL SELECT 28800, 2, 'purchase', COUNT(DISTINCT user_id)
             |    FROM h3_a WHERE t3 <= t1 + INTERVAL 8 HOUR
             |  UNION ALL SELECT 172800, 0, 'view', COUNT(DISTINCT user_id) FROM h1
             |  UNION ALL SELECT 172800, 1, 'click', COUNT(DISTINCT user_id)
             |    FROM h2_b WHERE t2 <= t1 + INTERVAL 48 HOUR
             |  UNION ALL SELECT 172800, 2, 'purchase', COUNT(DISTINCT user_id)
             |    FROM h3_b WHERE t3 <= t1 + INTERVAL 48 HOUR)
             |SELECT CAST(duration AS BIGINT) AS duration,
             |  CAST(step_idx AS BIGINT) AS step_idx, step, dcount
             |FROM sel ORDER BY duration, step_idx""".stripMargin)),

    // evaluate sequence_detect: greedy view→click→purchase chains per user —
    // each step the EARLIEST row strictly after the previous step within 12h,
    // whole chain within 24h. The oracle states the same greedy chain as
    // nested MIN-joins.
    QueryDef("q_kql_sequence_detect",
      (s, d) => run(s, d,
        """events
          || extend s1 = event_type == 'view', s2 = event_type == 'click',
          |    s3 = event_type == 'purchase'
          || evaluate sequence_detect(ts, 12h, 24h, s1, s2, s3, user_id)
          || sort by user_id asc, s1 asc, s2 asc, s3 asc""".stripMargin),
      Some("""WITH h1 AS (
             |  SELECT user_id, ts AS t1 FROM events WHERE event_type = 'view'),
             |h2 AS (
             |  SELECT h1.user_id, t1, MIN(e2.ts) AS t2
             |  FROM h1 JOIN events e2 ON e2.user_id = h1.user_id
             |    AND e2.event_type = 'click'
             |    AND e2.ts > h1.t1 AND e2.ts <= h1.t1 + INTERVAL 12 HOUR
             |  GROUP BY 1, 2),
             |h3 AS (
             |  SELECT h2.user_id, t1, t2, MIN(e3.ts) AS t3
             |  FROM h2 JOIN events e3 ON e3.user_id = h2.user_id
             |    AND e3.event_type = 'purchase'
             |    AND e3.ts > h2.t2 AND e3.ts <= h2.t2 + INTERVAL 12 HOUR
             |  GROUP BY 1, 2, 3)
             |SELECT user_id, t1 AS s1, t2 AS s2, t3 AS s3 FROM h3
             |WHERE t3 <= t1 + INTERVAL 24 HOUR
             |ORDER BY user_id, s1, s2, s3""".stripMargin)),

    // cross-table search: each table probed over its own string columns under
    // the union (filter per leg → pushdown per table), labeled with source_.
    // 'data' lives only in documents.text and 'click' only in
    // events.event_type, so both legs contribute rows through one probe each.
    QueryDef("q_kql_search_multi",
      (s, d) => run(s, d,
        """search in (events, documents) 'click'
          || summarize n = count() by source_
          || join kind=fullouter (
          |    search in (events, documents) 'data'
          |    | summarize n_data = count() by source_) on source_
          || project source_, n, n_data
          || sort by source_ asc""".stripMargin),
      Some("""WITH clickp AS (
             |  SELECT 'events' AS source_ FROM events
             |  WHERE regexp_matches(lower(event_type), '(^|[^a-z0-9])click($|[^a-z0-9])')
             |     OR regexp_matches(lower(props), '(^|[^a-z0-9])click($|[^a-z0-9])')
             |  UNION ALL
             |  SELECT 'documents' AS source_ FROM documents
             |  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])click($|[^a-z0-9])')
             |     OR regexp_matches(lower(lang), '(^|[^a-z0-9])click($|[^a-z0-9])')
             |     OR regexp_matches(lower(source), '(^|[^a-z0-9])click($|[^a-z0-9])')),
             |datap AS (
             |  SELECT 'events' AS source_ FROM events
             |  WHERE regexp_matches(lower(event_type), '(^|[^a-z0-9])data($|[^a-z0-9])')
             |     OR regexp_matches(lower(props), '(^|[^a-z0-9])data($|[^a-z0-9])')
             |  UNION ALL
             |  SELECT 'documents' AS source_ FROM documents
             |  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])data($|[^a-z0-9])')
             |     OR regexp_matches(lower(lang), '(^|[^a-z0-9])data($|[^a-z0-9])')
             |     OR regexp_matches(lower(source), '(^|[^a-z0-9])data($|[^a-z0-9])')),
             |a AS (SELECT source_, COUNT(*) AS n FROM clickp GROUP BY 1),
             |b AS (SELECT source_, COUNT(*) AS n_data FROM datap GROUP BY 1)
             |SELECT COALESCE(a.source_, b.source_) AS source_, a.n, b.n_data
             |FROM a FULL OUTER JOIN b ON a.source_ = b.source_
             |ORDER BY source_""".stripMargin)),

    // search kind=case_sensitive: the probe term exists only in lowercase in
    // the fixture, so the case-sensitive count is 0 while the default
    // (case-insensitive) count is the full click population — kind changes
    // the answer
    QueryDef("q_kql_search_cs",
      (s, d) => run(s, d,
        """let ci = toscalar(events | search 'CLICK' | summarize count());
          |events
          || search kind=case_sensitive 'CLICK'
          || summarize n_cs = count()
          || extend n_ci = ci""".stripMargin),
      Some("""SELECT COUNT(*) FILTER (WHERE
             |    regexp_matches(event_type, '(^|[^a-zA-Z0-9])CLICK($|[^a-zA-Z0-9])')
             |    OR regexp_matches(props, '(^|[^a-zA-Z0-9])CLICK($|[^a-zA-Z0-9])')) AS n_cs,
             |  COUNT(*) FILTER (WHERE
             |    regexp_matches(lower(event_type), '(^|[^a-z0-9])click($|[^a-z0-9])')
             |    OR regexp_matches(lower(props), '(^|[^a-z0-9])click($|[^a-z0-9])')) AS n_ci
             |FROM events""".stripMargin)),

    // find: union-align the tables with null-fill, then one predicate over the
    // combined schema (a column missing from a table is null there); project
    // keeps source_ so every row names its origin table
    QueryDef("q_kql_find",
      (s, d) => run(s, d,
        """find in (events, documents)
          |  where value > 489 or n_chars > 540
          |  project source_, event_id, doc_id
          || summarize n = count(), ne = dcount(event_id), nd = dcount(doc_id) by source_
          || sort by source_ asc""".stripMargin),
      Some("""WITH f AS (
             |  SELECT 'events' AS source_, event_id, NULL AS doc_id FROM events
             |  WHERE value > 489
             |  UNION ALL
             |  SELECT 'documents' AS source_, NULL AS event_id, doc_id FROM documents
             |  WHERE n_chars > 540)
             |SELECT source_, COUNT(*) AS n, COUNT(DISTINCT event_id) AS ne,
             |  COUNT(DISTINCT doc_id) AS nd
             |FROM f GROUP BY source_ ORDER BY source_""".stripMargin)),

    // maxDuration rollover with a tight 2h bound on a hand-picked fixture: one
    // 4.5h idle-dense run (30m spacing, never > the 30m idle gap) must split at
    // the first event more than 2h past the window start (02:30), and a later
    // 90m gap starts a fresh idle session. Oracle = hand-computed VALUES.
    QueryDef("q_kql_session_maxdur",
      (s, d) => run(s, d,
        """datatable(ts:datetime) [
          |  datetime('2024-01-01 00:00:00'), datetime('2024-01-01 00:30:00'),
          |  datetime('2024-01-01 01:00:00'), datetime('2024-01-01 01:30:00'),
          |  datetime('2024-01-01 02:00:00'), datetime('2024-01-01 02:30:00'),
          |  datetime('2024-01-01 03:00:00'), datetime('2024-01-01 03:30:00'),
          |  datetime('2024-01-01 04:00:00'), datetime('2024-01-01 04:30:00'),
          |  datetime('2024-01-01 06:00:00'), datetime('2024-01-01 06:20:00'),
          |  datetime('2024-01-01 06:40:00')]
          || sort by ts asc
          || serialize
          || extend sess = row_window_session(ts, 2h, 30m)
          || sort by ts asc""".stripMargin),
      Some("""SELECT * FROM (VALUES
             |  (TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 00:00:00'),
             |  (TIMESTAMP '2024-01-01 00:30:00', TIMESTAMP '2024-01-01 00:00:00'),
             |  (TIMESTAMP '2024-01-01 01:00:00', TIMESTAMP '2024-01-01 00:00:00'),
             |  (TIMESTAMP '2024-01-01 01:30:00', TIMESTAMP '2024-01-01 00:00:00'),
             |  (TIMESTAMP '2024-01-01 02:00:00', TIMESTAMP '2024-01-01 00:00:00'),
             |  (TIMESTAMP '2024-01-01 02:30:00', TIMESTAMP '2024-01-01 02:30:00'),
             |  (TIMESTAMP '2024-01-01 03:00:00', TIMESTAMP '2024-01-01 02:30:00'),
             |  (TIMESTAMP '2024-01-01 03:30:00', TIMESTAMP '2024-01-01 02:30:00'),
             |  (TIMESTAMP '2024-01-01 04:00:00', TIMESTAMP '2024-01-01 02:30:00'),
             |  (TIMESTAMP '2024-01-01 04:30:00', TIMESTAMP '2024-01-01 02:30:00'),
             |  (TIMESTAMP '2024-01-01 06:00:00', TIMESTAMP '2024-01-01 06:00:00'),
             |  (TIMESTAMP '2024-01-01 06:20:00', TIMESTAMP '2024-01-01 06:00:00'),
             |  (TIMESTAMP '2024-01-01 06:40:00', TIMESTAMP '2024-01-01 06:00:00'))
             |AS t(ts, sess) ORDER BY ts""".stripMargin)),

    QueryDef("q_kql_strings",
      (s, d) => run(s, d,
        """documents
          || where text has 'the' and lang == 'en'
          || extend head = toupper(substring(text, 0, 12)), n = strlen(text)
          || project doc_id, head, n
          || sort by doc_id asc""".stripMargin),
      Some("""SELECT doc_id, UPPER(SUBSTRING(text, 1, 12)) AS head, LENGTH(text) AS n
             |FROM documents
             |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])the($|[^a-z0-9])') AND lang = 'en'
             |ORDER BY doc_id""".stripMargin)),

    // KQL `scan` — ONE state machine over the global serialized order (no
    // entity key: sequences legitimately cross user boundaries, exactly
    // Kusto's no-declare semantics). Engine = Scan.scanSerialized (distributed
    // two-pass transition-table fold); oracle = linear recursive CTE replaying
    // the same machine over the global row numbering.
    QueryDef("q_kql_scan",
      (s, d) => run(s, d,
        """events
          || where user_id < 10
          || project user_id, ts, event_id, event_type
          || sort by user_id asc, ts asc, event_id asc
          || scan with_match_id=m with (
          |    step s1: event_type == 'view';
          |    step s2: event_type == 'click';
          |    step s3: event_type == 'purchase';
          |  )
          || sort by user_id asc, ts asc, event_id asc""".stripMargin),
      Some("""WITH RECURSIVE r AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    ROW_NUMBER() OVER (ORDER BY user_id, ts, event_id) AS rn
             |  FROM events WHERE user_id < 10),
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
             |    FROM r e JOIN walk w ON e.rn = w.rn + 1))
             |SELECT user_id, ts, event_id, event_type, seq AS m
             |FROM walk WHERE st_out > 0
             |ORDER BY user_id, ts, event_id""".stripMargin)),

    // --- round-6 parser surface: facet / partition / fork -------------------

    // `facet by c1, c2` emits one value-frequency table per column; the
    // single-result contract folds them into (facet_column, value, count_)
    QueryDef("q_kql_facet",
      (s, d) => run(s, d,
        """events
          || where value > 250
          || facet by event_type, user_id
          || sort by facet_column asc, value asc""".stripMargin),
      Some("""SELECT facet_column, facet_value AS value, count_ FROM (
             |  SELECT 'event_type' AS facet_column, CAST(event_type AS VARCHAR) AS facet_value,
             |         COUNT(*) AS count_
             |  FROM events WHERE events.value > 250 GROUP BY event_type
             |  UNION ALL
             |  SELECT 'user_id', CAST(user_id AS VARCHAR), COUNT(*)
             |  FROM events WHERE events.value > 250 GROUP BY user_id)
             |ORDER BY facet_column, value""".stripMargin)),

    // `partition by key ( sub )` runs the sub-pipeline once per key value
    // (Kusto legacy strategy, ≤64 partitions); per-key top-3 is the canonical
    // use. Boundary values are tie-free in the fixture (checked), so the
    // row_number cut is deterministic.
    QueryDef("q_kql_partition",
      (s, d) => run(s, d,
        """events
          || partition by event_type ( top 3 by value )
          || sort by event_type asc, value desc""".stripMargin),
      Some("""SELECT event_id, ts, user_id, event_type, value, props FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC) AS rn
             |  FROM events)
             |WHERE rn <= 3 ORDER BY event_type, value DESC""".stripMargin)),

    // `partition hint.strategy=shuffle` — the 100 TB strategy: no key
    // enumeration, the body rewrites into ONE distributed plan with the key
    // riding the shuffle (summarize gains the key as a grouping column)
    QueryDef("q_kql_partition_shuffle",
      (s, d) => run(s, d,
        """events
          || partition hint.strategy=shuffle by event_type (
          |    summarize n = count(), mx = max(value) by event_type, b = bin(value, 100.0) )
          || sort by event_type asc, b asc""".stripMargin),
      Some("""SELECT event_type, floor(value / 100.0) * 100.0 AS b,
             |  COUNT(*) AS n, MAX(value) AS mx
             |FROM events GROUP BY event_type, b
             |ORDER BY event_type, b""".stripMargin)),

    // per-key top-3 under the shuffle strategy: one hash exchange + window
    // cut, same result set as the legacy per-key loop (q_kql_partition)
    QueryDef("q_kql_partition_top",
      (s, d) => run(s, d,
        """events
          || partition hint.strategy=shuffle by event_type ( top 3 by value )
          || sort by event_type asc, value desc""".stripMargin),
      Some("""SELECT event_id, ts, user_id, event_type, value, props FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC) AS rn
             |  FROM events)
             |WHERE rn <= 3 ORDER BY event_type, value DESC""".stripMargin)),

    // exact heavy hitters through the Kusto top-hitters surface (tie-free at
    // rank N in the fixture: counts 2017/2014/2006 vs 1982 next)
    QueryDef("q_kql_top_hitters",
      (s, d) => run(s, d,
        """events
          || top-hitters 3 of event_type
          || sort by approximate_count_event_type desc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS approximate_count_event_type
             |FROM events GROUP BY event_type
             |ORDER BY approximate_count_event_type DESC LIMIT 3""".stripMargin)),

    // top-hitters sketch path: SpaceSaving candidate generation (bounded
    // per-partition state) + exact verify over the ≤capacity candidates —
    // the 100 TB shape for high-cardinality columns. The fixture's token
    // column is Zipf-ish, so the true top-10 all clear the n/capacity
    // frequency bound and the emitted rows equal the exact oracle.
    QueryDef("q_kql_top_hitters_approx",
      (s, d) => run(s, d,
        """documents
          || project token = split(tolower(text), ' ')
          || mv-expand token
          || top-hitters hint.strategy=sketch 10 of token
          || sort by approximate_count_token desc, token asc""".stripMargin),
      Some("""SELECT token, COUNT(*) AS approximate_count_token FROM (
             |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY approximate_count_token DESC, token
             |LIMIT 10""".stripMargin)),

    QueryDef("q_kql_sample_distinct",
      (s, d) => run(s, d,
        """events
          || sample-distinct 3 of event_type
          || sort by event_type asc""".stripMargin),
      // deterministic portable-hash choice (md5-prefix order), reproduced
      // verbatim in DuckDB — same trick as the minhash/simhash oracles
      Some("""SELECT event_type FROM (
             |  SELECT event_type FROM (SELECT DISTINCT event_type FROM events)
             |  ORDER BY ('0x' || substr(md5(event_type), 1, 15))::BIGINT LIMIT 3)
             |ORDER BY event_type""".stripMargin)),

    QueryDef("q_kql_pivot",
      (s, d) => run(s, d,
        """events
          || extend v = tolong(floor(value))
          || project user_id, event_type, v
          || evaluate pivot(event_type, sum(v))
          || sort by user_id asc""".stripMargin),
      // missing (user, type) combinations are NULL on both sides (SUM over an
      // empty CASE set), matching Spark's pivot cells
      // CAST each outer SUM: DuckDB SUM(BIGINT) is HUGEINT, which fails the
      // driver's type-sensitive hash even when cell values match
      Some("""SELECT user_id,
             |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(floor(value) AS BIGINT) END) AS BIGINT) AS click,
             |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(floor(value) AS BIGINT) END) AS BIGINT) AS error,
             |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(floor(value) AS BIGINT) END) AS BIGINT) AS purchase,
             |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(floor(value) AS BIGINT) END) AS BIGINT) AS signup,
             |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(floor(value) AS BIGINT) END) AS BIGINT) AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // materialize(): the bound pipeline is persisted and reused — both union
    // branches read the one materialized aggregate
    QueryDef("q_kql_materialize",
      (s, d) => run(s, d,
        """let m = materialize(events
          |  | where value > 300 | summarize n = count() by event_type);
          |m
          || union (m | project event_type, n)
          || summarize total = sum(n) by event_type
          || sort by event_type asc""".stripMargin),
      Some("""WITH m AS (SELECT event_type, COUNT(*) AS n FROM events
             |          WHERE value > 300 GROUP BY event_type)
             |SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM (
             |  SELECT * FROM m UNION ALL SELECT * FROM m)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // `fork legA=(...) legB=(...)` runs every leg over the same input; legs
    // with DIFFERENT output schemas align by name and null-fill, labeled by
    // fork_leg — exercising the multi-output adaptation end to end
    QueryDef("q_kql_fork",
      (s, d) => run(s, d,
        """events
          || where user_id < 50
          || fork hi=(where value > 450 | summarize n = count() by event_type)
          |       lo=(where value < 50 | summarize mv = max(value) by event_type)
          || sort by fork_leg asc, event_type asc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS n, 'hi' AS fork_leg, CAST(NULL AS DOUBLE) AS mv
             |FROM events WHERE user_id < 50 AND value > 450 GROUP BY event_type
             |UNION ALL
             |SELECT event_type, CAST(NULL AS BIGINT), 'lo', MAX(value)
             |FROM events WHERE user_id < 50 AND value < 50 GROUP BY event_type
             |ORDER BY fork_leg, event_type""".stripMargin)),

    // convert_* unit family: every conversion is `value * factor(from) /
    // factor(to)` (temperature: the affine Kelvin route) — the oracle replays
    // the identical operation chain, so the doubles hash-match bit-for-bit
    QueryDef("q_kql_convert",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend ft = convert_length(value, 'Meter', 'Foot'),
          |    mi = convert_length(value, 'Mile', 'Meter'),
          |    lb = convert_mass(value, 'Kilogram', 'Pound'),
          |    rad = convert_angle(value, 'Degree', 'Radian'),
          |    mps = convert_speed(value, 'KilometerPerHour', 'MeterPerSecond'),
          |    jl = convert_energy(value, 'Kilocalorie', 'Joule'),
          |    nw = convert_force(value, 'PoundForce', 'Newton'),
          |    cbm = convert_volume(value, 'Liter', 'CubicMeter'),
          |    fh = convert_temperature(value, 'Celsius', 'Fahrenheit')
          || project event_id, ft, mi, lb, rad, mps, jl, nw, cbm, fh
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  (value * 1.0) / 0.3048 AS ft,
             |  (value * 1609.344) / 1.0 AS mi,
             |  (value * 1.0) / 0.45359237 AS lb,
             |  (value * (pi() / 180)) / 1.0 AS rad,
             |  (value * (1000.0 / 3600)) / 1.0 AS mps,
             |  (value * 4184.0) / 1.0 AS jl,
             |  (value * 4.4482216152605) / 1.0 AS nw,
             |  (value * 0.001) / 1.0 AS cbm,
             |  ((value + 273.15) - 273.15) * 9.0 / 5.0 + 32.0 AS fh
             |FROM events WHERE event_id % 500 = 0 ORDER BY event_id""".stripMargin)),

    // rank_tdigest / percentrank_tdigest over the deterministic histogram
    // sketch: unit-width buckets over integral l_quantity make both EXACT, so
    // the oracle restates them as value-count shares
    QueryDef("q_kql_tdigest_rank",
      (s, d) => run(s, d,
        """lineitem
          || summarize td = tdigest(l_quantity, 1, 51, 50) by l_returnflag
          || project l_returnflag, r25 = rank_tdigest(td, 25),
          |    pr25 = percentrank_tdigest(td, 25), r50 = rank_tdigest(td, 50)
          || sort by l_returnflag asc""".stripMargin),
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             |    COUNT(*) AS n FROM lineitem GROUP BY 1, 2),
             |a AS (SELECT l_returnflag, SUM(n) AS tot,
             |    SUM(CASE WHEN q <= 25 THEN n ELSE 0 END) AS le25,
             |    SUM(CASE WHEN q < 25 THEN n ELSE 0 END) AS lt25,
             |    SUM(CASE WHEN q <= 50 THEN n ELSE 0 END) AS le50
             |  FROM c GROUP BY 1)
             |SELECT l_returnflag, (100.0 * le25) / tot AS r25,
             |  (100.0 * lt25) / tot AS pr25, (100.0 * le50) / tot AS r50
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    // percentiles_array / percentilesw_array: single dynamic output column
    // (stringified for the driver compare); exact interpolating percentile +
    // exact weighted percentile, same contracts as their scalar forms
    QueryDef("q_kql_percentiles_array",
      (s, d) => run(s, d,
        """events
          || extend fv = floor(value)
          || summarize pa = percentiles_array(fv, 25, 50, 75),
          |    pw = percentilesw_array(fv, event_id % 7 + 1, 50, 90)
          |  by event_type
          || extend pas = strcat_array(pa, ';'), pws = strcat_array(pw, ';')
          || project event_type, pas, pws
          || sort by event_type asc""".stripMargin),
      Some("""WITH b AS (SELECT event_type, floor(value) AS fv,
             |    event_id % 7 + 1 AS w FROM events),
             |t AS (SELECT event_type, SUM(w) AS tot FROM b GROUP BY 1),
             |cw AS (SELECT event_type, fv, SUM(w) OVER (PARTITION BY event_type
             |    ORDER BY fv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum FROM b),
             |wp AS (SELECT cw.event_type,
             |    MIN(fv) FILTER (WHERE cum >= tot * 0.5) AS w50,
             |    MIN(fv) FILTER (WHERE cum >= tot * 0.9) AS w90
             |  FROM cw JOIN t USING (event_type) GROUP BY 1),
             |pa AS (SELECT event_type,
             |    quantile_cont(fv, 0.25) AS p25, quantile_cont(fv, 0.5) AS p50,
             |    quantile_cont(fv, 0.75) AS p75 FROM b GROUP BY 1)
             |SELECT pa.event_type,
             |  CAST(p25 AS VARCHAR) || ';' || CAST(p50 AS VARCHAR) || ';' ||
             |    CAST(p75 AS VARCHAR) AS pas,
             |  CAST(w50 AS VARCHAR) || ';' || CAST(w90 AS VARCHAR) AS pws
             |FROM pa JOIN wp USING (event_type) ORDER BY pa.event_type""".stripMargin)),

    // geo_line_length (Σ haversine over vertices) and
    // geo_distance_point_to_line (equirectangular point-segment minimum,
    // documented deviation from the geodesic) — both rounded to 0.1 m so
    // libm ulp differences cannot flip the compare (the q_kql_geo precedent)
    QueryDef("q_kql_geo_line",
      (s, d) => run(s, d,
        """events
          || where event_id % 20 == 0
          || extend lon1 = todouble(event_id % 350) - 175.0 + 0.25,
          |    lat1 = todouble(event_id % 170) - 85.0 + 0.25
          || extend ln = pack_array(pack_array(0.0, 0.0), pack_array(10.0, 0.0),
          |    pack_array(10.0, 10.0))
          || extend len = round(geo_line_length(ln), 1),
          |    dpl = round(geo_distance_point_to_line(lon1, lat1, ln), 1)
          || project event_id, len, dpl
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (
             |  SELECT event_id,
             |    CAST(event_id % 350 AS DOUBLE) - 175.0 + 0.25 AS lon1,
             |    CAST(event_id % 170 AS DOUBLE) - 85.0 + 0.25 AS lat1
             |  FROM events WHERE event_id % 20 = 0),
             |seg AS (
             |  SELECT event_id, lon1, lat1, COS(RADIANS(lat1)) AS cosl FROM b),
             |pd AS (
             |  SELECT event_id, lon1, lat1,
             |    (0.0 - lon1) * cosl AS s1x1, 0.0 - lat1 AS s1y1,
             |    (10.0 - lon1) * cosl AS s1x2, 0.0 - lat1 AS s1y2,
             |    (10.0 - lon1) * cosl AS s2x1, 0.0 - lat1 AS s2y1,
             |    (10.0 - lon1) * cosl AS s2x2, 10.0 - lat1 AS s2y2
             |  FROM seg),
             |t AS (
             |  SELECT event_id,
             |    s1x1 + GREATEST(0.0, LEAST(1.0,
             |      -(s1x1*(s1x2-s1x1) + s1y1*(s1y2-s1y1))
             |        / ((s1x2-s1x1)*(s1x2-s1x1) + (s1y2-s1y1)*(s1y2-s1y1))))
             |      * (s1x2-s1x1) AS c1x,
             |    s1y1 + GREATEST(0.0, LEAST(1.0,
             |      -(s1x1*(s1x2-s1x1) + s1y1*(s1y2-s1y1))
             |        / ((s1x2-s1x1)*(s1x2-s1x1) + (s1y2-s1y1)*(s1y2-s1y1))))
             |      * (s1y2-s1y1) AS c1y,
             |    s2x1 + GREATEST(0.0, LEAST(1.0,
             |      -(s2x1*(s2x2-s2x1) + s2y1*(s2y2-s2y1))
             |        / ((s2x2-s2x1)*(s2x2-s2x1) + (s2y2-s2y1)*(s2y2-s2y1))))
             |      * (s2x2-s2x1) AS c2x,
             |    s2y1 + GREATEST(0.0, LEAST(1.0,
             |      -(s2x1*(s2x2-s2x1) + s2y1*(s2y2-s2y1))
             |        / ((s2x2-s2x1)*(s2x2-s2x1) + (s2y2-s2y1)*(s2y2-s2y1))))
             |      * (s2y2-s2y1) AS c2y
             |  FROM pd)
             |SELECT event_id,
             |  ROUND(
             |    12742000.0 * ASIN(LEAST(1.0, SQRT(
             |      SIN(RADIANS(0.0)/2)*SIN(RADIANS(0.0)/2)
             |      + COS(RADIANS(0.0))*COS(RADIANS(0.0))
             |        *SIN(RADIANS(10.0)/2)*SIN(RADIANS(10.0)/2)))) +
             |    12742000.0 * ASIN(LEAST(1.0, SQRT(
             |      SIN(RADIANS(10.0)/2)*SIN(RADIANS(10.0)/2)
             |      + COS(RADIANS(0.0))*COS(RADIANS(10.0))
             |        *SIN(RADIANS(0.0)/2)*SIN(RADIANS(0.0)/2)))), 1) AS len,
             |  ROUND(LEAST(SQRT(c1x*c1x + c1y*c1y), SQRT(c2x*c2x + c2y*c2y))
             |    * (PI() / 180 * 6371000.0), 1) AS dpl
             |FROM t ORDER BY event_id""".stripMargin)),

    // isascii / toguid (canonical-form parse, lowercase, else null) /
    // make_list_with_nulls (null-preserving collect vs make_list's dropping)
    QueryDef("q_kql_scalar_misc12",
      (s, d) => run(s, d,
        """events
          || where event_id % 100 == 0
          || extend g = iff(event_id % 200 == 0,
          |    'DEADBEEF-1234-4abc-8DEF-000000000001', 'nope')
          || extend tg = toguid(g), ia = isascii(event_type),
          |    na = isascii(strcat(event_type, 'é'))
          || summarize n = count(), n_guid = countif(isnotnull(tg)),
          |    ia_t = countif(ia), na_t = countif(na), mg = max(tg),
          |    nl = make_list_with_nulls(iff(value > 250, null, event_id)),
          |    l = make_list(iff(value > 250, null, event_id))
          |  by event_type
          || extend n_with = tolong(array_length(nl)), n_without = tolong(array_length(l))
          || project event_type, n, n_guid, ia_t, na_t, mg, n_with, n_without
          || sort by event_type asc""".stripMargin),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(COUNT(*) FILTER (WHERE event_id % 200 = 0) AS BIGINT) AS n_guid,
             |  CAST(COUNT(*) AS BIGINT) AS ia_t,
             |  CAST(0 AS BIGINT) AS na_t,
             |  CASE WHEN COUNT(*) FILTER (WHERE event_id % 200 = 0) > 0
             |    THEN 'deadbeef-1234-4abc-8def-000000000001' END AS mg,
             |  CAST(COUNT(*) AS BIGINT) AS n_with,
             |  CAST(COUNT(*) FILTER (WHERE value <= 250) AS BIGINT) AS n_without
             |FROM events WHERE event_id % 100 = 0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // hll_sketch / hll_merge / dcount_hll through KQL text: per-day sketches
    // union per type WITHOUT rescanning rows (the stored-sketch rollup path);
    // the oracle asserts the estimate lands within 5% of exact and that the
    // merge deduplicates across days (q_hll_merge's contract, text surface)
    QueryDef("q_kql_hll_rollup",
      (s, d) => run(s, d,
        """events
          || summarize h = hll_sketch(user_id), ex = dcount(user_id)
          |  by event_type, b = bin(ts, 1d)
          || summarize hm = hll_merge(h), sd = sum(ex) by event_type
          || extend est = tolong(dcount_hll(hm))
          || join kind=inner (events | summarize tot = dcount(user_id) by event_type)
          |  on event_type
          || project event_type, ok = abs(est - tot) * 100 <= tot * 5, geq = sd >= tot
          || sort by event_type asc""".stripMargin),
      Some("""WITH t AS (SELECT event_type, COUNT(DISTINCT user_id) AS tot
             |  FROM events GROUP BY 1),
             |dd AS (SELECT event_type, date_trunc('day', ts) AS b,
             |    COUNT(DISTINCT user_id) AS ex FROM events GROUP BY 1, 2),
             |sb AS (SELECT event_type, SUM(ex) AS sd FROM dd GROUP BY 1)
             |SELECT t.event_type, true AS ok, sd >= tot AS geq
             |FROM t JOIN sb USING (event_type) ORDER BY event_type""".stripMargin)),

    // multi-array array_sort_asc: companion arrays reorder by the key
    // array's order (stable on ties via the original index) — the oracle
    // replays the same lexicographic struct sort
    QueryDef("q_kql_scalar_misc13",
      (s, d) => run(s, d,
        """events
          || where event_id % 500 == 0
          || extend k = pack_array(event_id % 7, event_id % 5, event_id % 3),
          |    c = pack_array(1, 2, 3)
          || extend srt = array_sort_asc(k, c)
          || extend ks = strcat_array(srt[0], ';'), cs = strcat_array(srt[1], ';')
          || project event_id, ks, cs
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (SELECT event_id,
             |    [event_id % 7, event_id % 5, event_id % 3] AS k,
             |    [1, 2, 3] AS c
             |  FROM events WHERE event_id % 500 = 0),
             |z AS (SELECT event_id, list_sort(list_transform(range(1, 4),
             |    i -> {'k': k[i], 'i': i, 'c': c[i]})) AS s FROM b)
             |SELECT event_id,
             |  array_to_string(list_transform(s, x -> CAST(x.k AS VARCHAR)), ';') AS ks,
             |  array_to_string(list_transform(s, x -> CAST(x.c AS VARCHAR)), ';') AS cs
             |FROM z ORDER BY event_id""".stripMargin)),

    // graph-mark-components + graph-to-table nodes: weak components of the
    // multiplicative-orbit graph u -> 4u mod 25 (five components of sizes
    // 1/2/2/10/10), labeled by min node id via the distributed min-label
    // propagation; the oracle recomputes reach-labels with a recursive CTE
    QueryDef("q_kql_graph_components",
      (s, d) => run(s, d,
        """nation
          || project u = n_nationkey
          || extend v = (u * 4) % 25
          || make-graph u --> v
          || graph-mark-components with_component_id=cid
          || graph-to-table nodes
          || sort by node asc""".stripMargin),
      Some("""WITH RECURSIVE g AS (
             |  SELECT n_nationkey AS u, (n_nationkey * 4) % 25 AS v FROM nation),
             |e AS (SELECT u, v FROM g UNION SELECT v, u FROM g),
             |n AS (SELECT DISTINCT u AS node FROM e),
             |r AS (
             |  SELECT node, node AS lbl FROM n
             |  UNION
             |  SELECT e.v AS node, r.lbl FROM r JOIN e ON r.node = e.u)
             |SELECT node, MIN(lbl) AS cid FROM r GROUP BY node
             |ORDER BY node""".stripMargin)),

    // erf/erfc + the beta family (native Lentz/Lanczos kernels,
    // StatExpressions.scala). Oracle literals are independently computed
    // (Python math.erf / closed-form integer-parameter incomplete beta /
    // 90-step bisection inverse); every value sits >1e-11 from its 7-decimal
    // rounding boundary, so any implementation accurate to ~1e-12 rounds
    // identically — this checks real numeric agreement, not just determinism
    QueryDef("q_kql_stat_fns",
      (s, d) => run(s, d,
        """datatable(x: real, a: real, b: real) [
          |  0.1401, 2, 3, 0.2302, 3, 2, 0.3203, 2, 5, 0.4104, 4, 3,
          |  0.5005, 3, 4, 0.5906, 5, 2, 0.6807, 2, 2, 0.7708, 4, 4]
          || extend e1 = round(erf(x), 7), e2 = round(erfc(2.0 * x), 7),
          |    bc = round(beta_cdf(x, a, b), 7), bp = round(beta_pdf(x, a, b), 7),
          |    bi = round(beta_inv(x, a, b), 7)
          || project x, e1, e2, bc, bp, bi
          || sort by x asc""".stripMargin),
      Some("""SELECT CAST(x AS DOUBLE) AS x, CAST(e1 AS DOUBLE) AS e1,
             |  CAST(e2 AS DOUBLE) AS e2, CAST(bc AS DOUBLE) AS bc,
             |  CAST(bp AS DOUBLE) AS bp, CAST(bi AS DOUBLE) AS bi
             |FROM (VALUES
             |  (0.1401, 0.1570577, 0.6919113, 0.0969248, 1.2431264, 0.1724787),
             |  (0.2302, 0.2552366, 0.5149794, 0.0403706, 0.4895193, 0.4414628),
             |  (0.3203, 0.3494315, 0.3649649, 0.6225928, 2.0509132, 0.1900909),
             |  (0.4104, 0.4383505, 0.2457287, 0.1938866, 1.4417443, 0.5344730),
             |  (0.5005, 0.5209392, 0.1568845, 0.6571870, 1.8731213, 0.4216495),
             |  (0.5906, 0.5964143, 0.0948266, 0.2189473, 1.4943174, 0.7735575),
             |  (0.6807, 0.6642794, 0.0541905, 0.7592494, 1.3040851, 0.6229445),
             |  (0.7708, 0.7243203, 0.0292462, 0.9470592, 0.7719639, 0.6327659))
             |AS t(x, e1, e2, bc, bp, bi) ORDER BY x""".stripMargin)),

    // hash_many / hash_combine on the engine-portable md5-60-bit definition
    // over LENGTH-PREFIXED terms (no separator-collision class; deviation
    // documented at the dispatch site); the oracle replays the arithmetic
    QueryDef("q_kql_hash_fns",
      (s, d) => run(s, d,
        """events
          || where event_id % 400 == 0
          || extend hm = hash_many(event_type, user_id % 10),
          |    hc = hash_combine(hash(event_type), hash(user_id % 10)),
          |    hp = hash(event_type, 100)
          || project event_id, hm, hc, hp
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (SELECT event_id,
             |    CAST(('0x' || substr(md5(event_type), 1, 15)) AS BIGINT) AS h1,
             |    CAST(('0x' || substr(md5(CAST(user_id % 10 AS VARCHAR)), 1, 15)) AS BIGINT) AS h2,
             |    event_type, user_id FROM events WHERE event_id % 400 = 0)
             |SELECT event_id,
             |  CAST(('0x' || substr(md5(
             |    CAST(LENGTH(event_type) AS VARCHAR) || ':' || event_type || '|' ||
             |    CAST(LENGTH(CAST(user_id % 10 AS VARCHAR)) AS VARCHAR) || ':' ||
             |      CAST(user_id % 10 AS VARCHAR)), 1, 15)) AS BIGINT) AS hm,
             |  CAST(('0x' || substr(md5(
             |    CAST(LENGTH(CAST(h1 AS VARCHAR)) AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)
             |    || '|' ||
             |    CAST(LENGTH(CAST(h2 AS VARCHAR)) AS VARCHAR) || ':' || CAST(h2 AS VARCHAR)),
             |    1, 15)) AS BIGINT) AS hc,
             |  h1 % 100 AS hp
             |FROM b ORDER BY event_id""".stripMargin)),

    // bag_set_key (replace + insert) and treepath over depth-1 bags
    QueryDef("q_kql_bag_fns2",
      (s, d) => run(s, d,
        """events
          || where event_id % 400 == 0
          || extend bag = bag_pack('k1', tostring(event_id % 5), 'k2', event_type)
          || extend bag2 = bag_set_key(bag_set_key(bag, 'k2', 'x'), 'k3', tostring(user_id % 3))
          || extend paths = strcat_array(treepath(bag2), '|'),
          |    keys2 = strcat_array(bag_keys(bag2), ','),
          |    v1 = tostring(bag2['k1']), v2 = tostring(bag2['k2']),
          |    hk = bag_has_key(bag2, 'k3')
          || project event_id, paths, keys2, v1, v2, hk
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  '[''k1'']|[''k2'']|[''k3'']' AS paths,
             |  'k1,k2,k3' AS keys2,
             |  CAST(event_id % 5 AS VARCHAR) AS v1,
             |  'x' AS v2,
             |  TRUE AS hk
             |FROM events WHERE event_id % 400 = 0 ORDER BY event_id""".stripMargin)),

    // bag_zip: keys×values pairing with the full edge surface in one row —
    // duplicate key keeps the FIRST value, a key past the values pairs with
    // null, the extra value is dropped, and a null key is skipped
    QueryDef("q_kql_bag_zip",
      (s, d) => run(s, d,
        """events
          || where event_id % 400 == 0
          || extend b = bag_zip(
          |    pack_array('a', 'b', 'a', 'c'),
          |    pack_array(tostring(event_id % 7), 'x', 'dup-ignored')),
          |  b2 = bag_zip(pack_array('only'), pack_array('v', 'extra'))
          || extend paths = strcat_array(treepath(b), '|'),
          |    av = tostring(b['a']), bv = tostring(b['b']),
          |    c_null = isnull(b['c']), ov = tostring(b2['only'])
          || project event_id, paths, av, bv, c_null, ov
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  '[''a'']|[''b'']|[''c'']' AS paths,
             |  CAST(event_id % 7 AS VARCHAR) AS av,
             |  'x' AS bv,
             |  TRUE AS c_null,
             |  'v' AS ov
             |FROM events WHERE event_id % 400 = 0 ORDER BY event_id""".stripMargin)),

    // has_ipv4 family (delimited-token extraction + octet validation) and
    // ipv4_range_to_cidr_list (greedy minimal cover, bounded 64-step fold).
    // The 999-octet address must NOT count as present; the fixed-range cover
    // literal is validated against Python ipaddress.summarize_address_range
    QueryDef("q_kql_ipv4_text",
      (s, d) => run(s, d,
        """events
          || where event_id % 400 == 0
          || extend o1 = event_id % 250, o2 = user_id % 200
          || extend txt = strcat('conn from 10.', tostring(o1), '.', tostring(o2),
          |    '.999 and 192.168.', tostring(o1), '.', tostring(o2), ' ok')
          || extend h1 = has_ipv4(txt, strcat('192.168.', tostring(o1), '.', tostring(o2))),
          |    h2 = has_ipv4(txt, strcat('10.', tostring(o1), '.', tostring(o2), '.999')),
          |    hp = has_ipv4_prefix(txt, '192.168.'),
          |    ha = has_any_ipv4(txt, '1.2.3.4', strcat('192.168.', tostring(o1), '.', tostring(o2))),
          |    cl = strcat_array(ipv4_range_to_cidr_list('10.0.0.5', '10.0.0.20'), ','),
          |    cl2 = strcat_array(ipv4_range_to_cidr_list(
          |      strcat('10.', tostring(o1), '.0.0'), strcat('10.', tostring(o1), '.0.255')), ',')
          || project event_id, h1, h2, hp, ha, cl, cl2
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id, TRUE AS h1, FALSE AS h2, TRUE AS hp, TRUE AS ha,
             |  '10.0.0.5/32,10.0.0.6/31,10.0.0.8/29,10.0.0.16/30,10.0.0.20/32' AS cl,
             |  '10.' || CAST(event_id % 250 AS VARCHAR) || '.0.0/24' AS cl2
             |FROM events WHERE event_id % 400 = 0 ORDER BY event_id""".stripMargin)),

    // evaluate welch_test: Welch's unequal-variance t-test over per-row
    // summary stats. Oracle p-values are computed INDEPENDENTLY of the
    // engine's continued-fraction t-CDF — Simpson integration of the t
    // density (400k panels) — and every value sits >1e-9 from its 6-decimal
    // rounding boundary, so agreement means numeric correctness
    QueryDef("q_kql_welch_test",
      (s, d) => run(s, d,
        """datatable(id: long, m1: real, v1: real, c1: long, m2: real, v2: real, c2: long) [
          |  1, 10.0, 4.0, 30, 11.2, 5.5, 28,
          |  2, 5.0, 1.0, 50, 5.1, 1.4, 45,
          |  3, 100.0, 25.0, 12, 96.5, 16.0, 20,
          |  4, 0.5, 0.09, 80, 0.52, 0.11, 75,
          |  5, 7.0, 2.0, 10, 9.5, 3.0, 9]
          || evaluate welch_test(m1, v1, c1, m2, v2, c2)
          || project id, p = round(pvalue, 6)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, CAST(p AS DOUBLE) AS p FROM (VALUES
             |  (1, 0.041438), (2, 0.659356), (3, 0.052935),
             |  (4, 0.694983), (5, 0.003618))
             |AS t(id, p) ORDER BY id""".stripMargin)),

    // evaluate rows_near: context rows around condition matches over the
    // serialized order (2 before, 3 after). Distributed row numbering +
    // bucketed hash SEMI equi-join (Kql.rowsNear) — no broadcast requirement,
    // no nested loop; the oracle replays the row-window EXISTS directly
    QueryDef("q_kql_rows_near",
      (s, d) => run(s, d,
        """events
          || project event_id, event_type, value
          || sort by event_id asc
          || serialize
          || evaluate rows_near(event_type == 'purchase' and value > 990, 2, 3)
          || sort by event_id asc""".stripMargin),
      Some("""WITH t AS (SELECT event_id, event_type, value,
             |    row_number() OVER (ORDER BY event_id) AS idx FROM events),
             |a AS (SELECT idx FROM t WHERE event_type = 'purchase' AND value > 990)
             |SELECT event_id, event_type, value FROM t
             |WHERE EXISTS (SELECT 1 FROM a WHERE t.idx BETWEEN a.idx - 2 AND a.idx + 3)
             |ORDER BY event_id""".stripMargin)),

    // geo_geohash_neighbors: ±1 index-space offsets, bit-compatible with the
    // encode chain; the oracle replays the same integer deinterleave/offset/
    // re-interleave in SQL (the q_kql_geohash grid-math precedent)
    QueryDef("q_kql_geohash_neighbors",
      (s, d) => run(s, d,
        """events
          || where event_id % 40 == 0
          || extend lon1 = todouble(event_id % 350) - 175.0 + 0.25,
          |    lat1 = todouble(event_id % 170) - 85.0 + 0.25
          || extend gh = geo_point_to_geohash(lon1, lat1, 4)
          || project event_id, nb = strcat_array(geo_geohash_neighbors(gh), ';')
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (SELECT event_id,
             |    CAST(event_id % 350 AS DOUBLE) - 175.0 + 0.25 AS lon1,
             |    CAST(event_id % 170 AS DOUBLE) - 85.0 + 0.25 AS lat1
             |  FROM events WHERE event_id % 40 = 0),
             |i AS (SELECT event_id,
             |    LEAST(GREATEST(CAST(FLOOR((lon1 + 180.0) / 360.0 * 1024.0) AS BIGINT), 0), 1023) AS loi,
             |    LEAST(GREATEST(CAST(FLOOR((lat1 + 90.0) / 180.0 * 1024.0) AS BIGINT), 0), 1023) AS lai
             |  FROM b),
             |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
             |    (1,-1),(1,0),(1,1)) o(di, dj)),
             |n AS (SELECT event_id, di, dj, lai + di AS la,
             |    ((loi + dj) % 1024 + 1024) % 1024 AS lo
             |  FROM i CROSS JOIN off WHERE lai + di BETWEEN 0 AND 1023),
             |z AS (SELECT event_id, di, dj,
             |    list_sum(list_transform(range(0, 10), j ->
             |      (((lo >> CAST(9 - j AS INT)) & 1) << CAST(19 - 2*j AS INT)) +
             |      (((la >> CAST(9 - j AS INT)) & 1) << CAST(18 - 2*j AS INT)))) AS zz
             |  FROM n),
             |tok AS (SELECT event_id, di, dj,
             |    array_to_string(list_transform(range(0, 4), k ->
             |      substr('0123456789bcdefghjkmnpqrstuvwxyz',
             |        CAST(((zz >> CAST((3 - k) * 5 AS INT)) & 31) AS INT) + 1, 1)), '') AS t
             |  FROM z)
             |SELECT event_id, array_to_string(list(t ORDER BY di, dj), ';') AS nb
             |FROM tok GROUP BY event_id ORDER BY event_id""".stripMargin)),

    // EXACT distributed spatial join: points bucket to their precision-4
    // geohash; probe rows expand to home + 8 neighbor keys (one bucket
    // equi-join, never a distance cross-join) and the haversine filter keeps
    // pairs ≤ 10 km. Complete because 10 km < one cell dimension at p=4
    // (≥19.5 km), so any qualifying pair is at most one cell apart. The
    // oracle is the plain all-pairs distance join — if bucketing missed a
    // pair, this row reddens.
    QueryDef("q_kql_spatial_join",
      // `pts` is MATERIALIZED: without the barrier Catalyst inlines the
      // geohash column chain into every consumer — the probe leg's pushed
      // explode-guard (`size(ks) > 0`) alone re-evaluated the whole
      // 4-character encode chain per row, and the build leg recomputed it
      // again (plans/r18/q_kql_spatial_join_before.txt nodes 2/4/11). The
      // barrier computes gh ONCE over the filtered points and both join
      // legs read the cached frame (guide §1.2: don't recompute what a
      // shared intermediate answers; the q_kql_materialize device).
      (s, d) => run(s, d,
        """let pts = materialize(events
          || where event_id % 29 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lng = -73.5 + todouble(event_id % 89) / 60.0
          || extend gh = geo_point_to_geohash(lng, lat, 4)
          || project event_id, lat, lng, gh);
          |pts
          || extend ks = array_concat(pack_array(gh), geo_geohash_neighbors(gh))
          || mv-expand k = ks to typeof(string)
          || project a_id = event_id, a_lat = lat, a_lng = lng, k
          || join kind=inner (pts
          |    | project b_id = event_id, b_lat = lat, b_lng = lng, k = gh) on k
          || where a_id < b_id
          || extend dm = round(geo_distance_2points(a_lng, a_lat, b_lng, b_lat), 1)
          || where dm <= 10000.0
          || project a_id, b_id, dm
          || sort by a_id asc, b_id asc""".stripMargin),
      Some("""WITH p AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 29 = 0),
             |j AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
             |    ROUND(12742000.0 * ASIN(LEAST(1.0, SQRT(
             |      SIN(RADIANS(b.lat - a.lat)/2)*SIN(RADIANS(b.lat - a.lat)/2) +
             |      COS(RADIANS(a.lat))*COS(RADIANS(b.lat))*
             |        SIN(RADIANS(b.lng - a.lng)/2)*SIN(RADIANS(b.lng - a.lng)/2)))), 1) AS dm
             |  FROM p a JOIN p b ON a.event_id < b.event_id)
             |SELECT a_id, b_id, dm FROM j WHERE dm <= 10000.0
             |ORDER BY a_id, b_id""".stripMargin)),

    // series_fft / series_ifft (radix-2 Cooley-Tukey, FftExpressions.scala)
    // bound via tuple extend. Oracle literals are HAND-COMPUTED DFT values:
    // cos(2πk/4) over N=8 → real spikes N/2=4 at bins 2/6; sin(2πk/4) over
    // N=4 → imaginary ∓2 at bins 1/3; inverse round-trips to the input.
    // Expected-zero bins go through abs() so a -0.0 can't split the compare.
    QueryDef("q_kql_series_fft",
      (s, d) => run(s, d,
        """datatable(id: long) [1]
          || extend x8 = pack_array(1.0, 0.0, -1.0, 0.0, 1.0, 0.0, -1.0, 0.0),
          |    x4 = pack_array(0.0, 1.0, 0.0, -1.0)
          || extend (f8r, f8i) = series_fft(x8)
          || extend (f4r, f4i) = series_fft(x4)
          || extend (rr, ri) = series_ifft(f8r, f8i)
          || project id, a = round(todouble(f8r[2]), 6), b = round(todouble(f8r[6]), 6),
          |    c = round(abs(todouble(f8r[0])), 6), dd = round(todouble(f4i[1]), 6),
          |    e = round(todouble(f4i[3]), 6), g = round(abs(todouble(rr[2]) + 1.0), 6),
          |    h = round(abs(todouble(ri[5])), 6)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(1 AS BIGINT) AS id, 4.0 AS a, 4.0 AS b, 0.0 AS c,
             |  -2.0 AS dd, 2.0 AS e, 0.0 AS g, 0.0 AS h
             |ORDER BY id""".stripMargin)),

    // startof*/endof* optional OFFSET argument (Kusto's n-periods-away form)
    // + punycode_domain encode/decode over per-label xn-- handling; the
    // domain vectors are published IDNA examples, not engine replays
    QueryDef("q_kql_datetime_offsets",
      (s, d) => run(s, d,
        """datatable(id: long, ts: string) [
          |  1, '2024-03-15 13:22:11',
          |  2, '2024-12-31 00:00:00',
          |  3, '2024-01-01 05:00:00']
          || extend t = todatetime(ts)
          || project id, a = startofday(t, 2), b = endofmonth(t, 1),
          |    c = startofweek(t, -1), d = startofyear(t, 1),
          |    e = endofquarter(t, 2),
          |    pd = punycode_domain_from_string(strcat('bücher.d', tostring(id), '.example')),
          |    pu = punycode_domain_to_string('xn--mnchen-3ya.de')
          || sort by id asc""".stripMargin),
      Some("""SELECT id, a, b, c, d, e, pd, pu FROM (
             |  SELECT id, CAST(ts AS TIMESTAMP) AS t,
             |    date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 2 DAY AS a,
             |    date_trunc('month', CAST(ts AS TIMESTAMP)) + INTERVAL 2 MONTH
             |      - INTERVAL 1 MICROSECOND AS b,
             |    date_trunc('day', CAST(ts AS TIMESTAMP))
             |      - to_days(CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT))
             |      - INTERVAL 7 DAY AS c,
             |    date_trunc('year', CAST(ts AS TIMESTAMP)) + INTERVAL 1 YEAR AS d,
             |    date_trunc('quarter', CAST(ts AS TIMESTAMP)) + INTERVAL 9 MONTH
             |      - INTERVAL 1 MICROSECOND AS e,
             |    'xn--bcher-kva.d' || CAST(id AS VARCHAR) || '.example' AS pd,
             |    'münchen.de' AS pu
             |  FROM (VALUES (1, '2024-03-15 13:22:11'),
             |    (2, '2024-12-31 00:00:00'),
             |    (3, '2024-01-01 05:00:00')) AS v(id, ts)) ORDER BY id""".stripMargin)),

    // evaluate ipv6_lookup: longest-prefix CIDR enrichment over canonical
    // 128-bit addresses (Kql.ipv6Lookup — per-prefix-length masked equi-
    // joins like ipv4_lookup, hex-digit masking instead of 128-bit ints).
    // The oracle derives each row's longest-prefix winner by hand from the
    // event_id branch: ab42 → /48, ab99 → /40, cd10 → /32
    QueryDef("q_kql_ipv6_lookup",
      (s, d) => run(s, d,
        """let ranges6 = datatable(network:string, tag:string) [
          |  '2001:db8::/32', 'docnet',
          |  '2001:db8:ab00::/40', 'abblock',
          |  '2001:db8:ab42::/48', 'ab42net',
          |  'fe80::/10', 'linklocal'
          |];
          |events
          || where event_id % 100 == 0
          || extend g = case(event_id % 3 == 0, 'ab42',
          |    event_id % 3 == 1, 'ab99', 'cd10')
          || extend ip = strcat('2001:db8:', g, '::', tostring(event_id % 97))
          || evaluate ipv6_lookup(ranges6, ip, network)
          || project event_id, ip, network, tag
          || sort by event_id asc""".stripMargin),
      Some("""WITH x AS (
             |  SELECT event_id,
             |    CASE WHEN event_id % 3 = 0 THEN 'ab42'
             |         WHEN event_id % 3 = 1 THEN 'ab99' ELSE 'cd10' END AS g
             |  FROM events WHERE event_id % 100 = 0)
             |SELECT event_id,
             |  '2001:db8:' || g || '::' || CAST(event_id % 97 AS VARCHAR) AS ip,
             |  CASE WHEN g = 'ab42' THEN '2001:db8:ab42::/48'
             |       WHEN g = 'ab99' THEN '2001:db8:ab00::/40'
             |       ELSE '2001:db8::/32' END AS network,
             |  CASE WHEN g = 'ab42' THEN 'ab42net'
             |       WHEN g = 'ab99' THEN 'abblock' ELSE 'docnet' END AS tag
             |FROM x ORDER BY event_id""".stripMargin)),

    // geo_point_to_s2cell / geo_s2cell_to_central_point (real S2: quadratic
    // face projection + Hilbert cell ids, S2Expressions.scala). The oracle
    // literals are HAND-DERIVED from the public spec, not replayed from the
    // engine: level-1 ids are face<<61 | pos<<59 | 1<<58 with pos from the
    // published sub-cell orders, and the "14" center is the exact closed form
    // u = v = 5/12 → (atan(5/12), atan(5/13)) in degrees. Deeper levels are
    // proven in S2Spec by an independent recursive Hilbert traversal.
    QueryDef("q_kql_s2cell",
      (s, d) => run(s, d,
        """datatable(id: long, lng: real, lat: real) [
          |  1, 0.0, 0.0,
          |  2, 10.0, 10.0,
          |  3, -10.0, 5.0,
          |  4, -10.0, -5.0,
          |  5, 10.0, -5.0,
          |  6, 95.0, 0.0,
          |  7, 180.0, 0.0]
          || extend tok = geo_point_to_s2cell(lng, lat, 1),
          |    c = geo_s2cell_to_central_point(geo_point_to_s2cell(lng, lat, 1))
          || project id, tok,
          |    clng = round(todouble(c[0]), 6), clat = round(todouble(c[1]), 6)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, tok,
             |  CAST(clng AS DOUBLE) AS clng, CAST(clat AS DOUBLE) AS clat
             |FROM (VALUES
             |  (1, '14', 22.619865, 21.037511),
             |  (2, '14', 22.619865, 21.037511),
             |  (3, '0c', -22.619865, 21.037511),
             |  (4, '04', -22.619865, -21.037511),
             |  (5, '1c', 22.619865, -21.037511),
             |  (6, '34', 112.619865, 21.037511),
             |  (7, '6c', 157.380135, -21.037511)) AS t(id, tok, clng, clat)
             |ORDER BY id""".stripMargin)),

    // make-graph `with Nodes on id`: node variables become property structs
    // (Kusto's node-property surface); one broadcast dimension join per
    // distinct node variable after the pattern expands
    QueryDef("q_kql_graph_nodes",
      (s, d) => run(s, d,
        """let ge = datatable(src: long, dst: long, w: long) [
          |  1, 2, 10, 2, 3, 20, 3, 1, 30, 2, 4, 40];
          |let gn = datatable(id: long, label: string) [
          |  1, 'a', 2, 'b', 3, 'c', 4, 'd'];
          |ge
          || make-graph src --> dst with gn on id
          || graph-match (x)-[e]->(y)
          || project xl = tostring(x.label), yl = tostring(y.label), w = e.w
          || sort by xl asc, yl asc""".stripMargin),
      Some("""SELECT xl, yl, CAST(w AS BIGINT) AS w FROM (VALUES
             |  ('a', 'b', 10), ('b', 'c', 20), ('b', 'd', 40), ('c', 'a', 30))
             |AS t(xl, yl, w) ORDER BY xl, yl""".stripMargin)),

    // bag_unpack OutputSchema clause: declared types, no inference scan
    // (the 100 TB form — inference reads the corpus once more)
    QueryDef("q_kql_bag_unpack_schema",
      (s, d) => run(s, d,
        """datatable(id: long) [1, 2]
          || extend j = strcat('{"a":', tostring(id), ',"b":"v', tostring(id),
          |    '","extra":true}')
          || project j
          || evaluate bag_unpack(j, 'p_') : (a: long, b: string)
          || sort by p_a asc""".stripMargin),
      Some("""SELECT CAST(a AS BIGINT) AS p_a, b AS p_b FROM (VALUES
             |  (1, 'v1'), (2, 'v2')) AS t(a, b) ORDER BY p_a""".stripMargin)),

    // datetime_utc_to_local / datetime_local_to_utc over IANA zones (JVM
    // tzdata vs DuckDB's ICU rules — identical for these stable 2024 dates,
    // incl. the America/New_York spring-forward boundary at 07:00 UTC)
    QueryDef("q_kql_tz",
      (s, d) => run(s, d,
        """datatable(id: long, ts: string) [
          |  1, '2024-01-15 12:00:00',
          |  2, '2024-07-15 12:00:00',
          |  3, '2024-03-10 06:59:00',
          |  4, '2024-03-10 07:00:00']
          || extend t = todatetime(ts)
          || project id, ny = datetime_utc_to_local(t, 'America/New_York'),
          |    tokyo = datetime_utc_to_local(t, 'Asia/Tokyo'),
          |    back = datetime_local_to_utc(
          |      datetime_utc_to_local(t, 'Europe/Paris'), 'Europe/Paris')
          || sort by id asc""".stripMargin),
      Some("""SELECT id,
             |  timezone('America/New_York', timezone('UTC', CAST(ts AS TIMESTAMP))) AS ny,
             |  timezone('Asia/Tokyo', timezone('UTC', CAST(ts AS TIMESTAMP))) AS tokyo,
             |  CAST(ts AS TIMESTAMP) AS back
             |FROM (VALUES (1, '2024-01-15 12:00:00'), (2, '2024-07-15 12:00:00'),
             |  (3, '2024-03-10 06:59:00'), (4, '2024-03-10 07:00:00')) AS v(id, ts)
             |ORDER BY id""".stripMargin)),

    // multi-column mv-expand: parallel zip expansion with null padding
    // (Kusto's multi-column contract), typed per item
    QueryDef("q_kql_mvexpand_multi",
      (s, d) => run(s, d,
        """datatable(id: long) [1, 2]
          || extend a = pack_array(id, id + 1, id + 2),
          |    b = pack_array(id * 10, id * 20)
          || mv-expand x = a to typeof(long), y = b to typeof(long)
          || project id, x, y
          || sort by id asc, x asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, CAST(x AS BIGINT) AS x,
             |  CAST(y AS BIGINT) AS y FROM (VALUES
             |  (1, 1, 10), (1, 2, 20), (1, 3, NULL),
             |  (2, 2, 20), (2, 3, 40), (2, 4, NULL)) AS t(id, x, y)
             |ORDER BY id, x""".stripMargin)),

    // make_datetime / make_timespan / base64_decode_toguid /
    // current_database / row_number(start, restart) — the restart form rides
    // the distributed restart-cumsum machinery
    QueryDef("q_kql_scalar_misc14",
      (s, d) => run(s, d,
        """events
          || where event_id % 2000 == 0
          || sort by event_id asc
          || serialize
          || extend rn = row_number(100, event_id % 6000 == 0)
          || project event_id, rn,
          |    md = make_datetime(2024, 3, 15, 10, 30, 15),
          |    md3 = make_datetime(2020, 1, 2),
          |    ts1 = make_timespan(1, 2, 3, 4), ts2 = make_timespan(2, 30),
          |    g = base64_decode_toguid('ABEiM0RVZneImaq7zN3u/w=='),
          |    cdb = current_database()
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  99 + ROW_NUMBER() OVER (PARTITION BY grp ORDER BY event_id) AS rn,
             |  TIMESTAMP '2024-03-15 10:30:15' AS md,
             |  TIMESTAMP '2020-01-02 00:00:00' AS md3,
             |  CAST(93784 AS BIGINT) AS ts1, CAST(9000 AS BIGINT) AS ts2,
             |  '33221100-5544-7766-8899-aabbccddeeff' AS g,
             |  'default' AS cdb
             |FROM (SELECT event_id,
             |    SUM(CASE WHEN event_id % 6000 = 0 THEN 1 ELSE 0 END)
             |      OVER (ORDER BY event_id) AS grp
             |  FROM events WHERE event_id % 2000 = 0)
             |ORDER BY event_id""".stripMargin)),

    // geo_s2cell_neighbors: hand-derived oracle — a level-0 face cell's
    // neighbors are exactly the four non-opposite faces (cube topology), and
    // "14" (face-0 child (1,1)) touches a cube VERTEX — three faces meet
    // there, so it has 7 distinct neighbors, of which exactly its three
    // in-face siblings are 04/0c/1c (derived by hand earlier in this file)
    QueryDef("q_kql_s2_neighbors",
      (s, d) => run(s, d,
        """datatable(id: long, tok: string) [
          |  1, '1', 2, '3', 3, '5', 4, '7', 5, '9', 6, 'b', 7, '14']
          || extend nb = geo_s2cell_neighbors(tok)
          || project id, n = array_length(nb),
          |    sorted = iff(id <= 6, strcat_array(array_sort_asc(nb), ';'), ''),
          |    inface = array_length(set_intersect(nb, pack_array('04', '0c', '1c')))
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, CAST(n AS INT) AS n, sorted,
             |  CAST(inface AS INT) AS inface FROM (VALUES
             |  (1, 4, '3;5;9;b', 0),
             |  (2, 4, '1;5;7;b', 0),
             |  (3, 4, '1;3;7;9', 0),
             |  (4, 4, '3;5;9;b', 0),
             |  (5, 4, '1;5;7;b', 0),
             |  (6, 4, '1;3;7;9', 0),
             |  (7, 7, '', 3)) AS t(id, n, sorted, inface)
             |ORDER BY id""".stripMargin)),

    // parse_xml: XML → dynamic via the native XmlLite codec (canonical
    // Kusto element/@attr/#text mapping, CodecExpressions.xmlToJson) lifted
    // by try_parse_json; whole-variant tostring prints SORTED keys, so the
    // oracle literals are the mapping re-sorted; malformed XML → null
    QueryDef("q_kql_parse_xml",
      (s, d) => run(s, d,
        """datatable(id: long, x: string) [
          |  1, '<conf><a>1</a><a>2</a><b attr="v">t</b></conf>',
          |  2, '<?xml version="1.0"?><conf status="ok"><a>seven</a><empty/></conf>',
          |  3, '<conf><m>hello &amp; &lt;world&gt;</m></conf>',
          |  4, '<conf><r><![CDATA[raw <stuff> ]]>tail</r><!-- note --></conf>',
          |  5, '<conf><a>x</a']
          || extend d = parse_xml(x)
          || project id, ok = iff(isnull(d), 0, 1), j = tostring(d)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, CAST(ok AS INT) AS ok, j FROM (VALUES
             |  (1, 1, '{"conf":{"a":["1","2"],"b":{"#text":"t","@attr":"v"}}}'),
             |  (2, 1, '{"conf":{"@status":"ok","a":"seven","empty":null}}'),
             |  (3, 1, '{"conf":{"m":"hello & <world>"}}'),
             |  (4, 1, '{"conf":{"r":"raw <stuff> tail"}}'),
             |  (5, 0, NULL)) AS t(id, ok, j) ORDER BY id""".stripMargin)),

    // geo_polygon_area (spherical-excess edge sum, documented deviation from
    // the WGS84 ellipsoid), geo_polygon_perimeter (Σ haversine over the closed
    // ring), geo_polygon_centroid (planar shoelace, [lng,lat]) over a
    // trapezoid ring built per row; the oracle replays each edge's exact IEEE
    // chain longhand, rounded (0.1 m / 6 dp) per the q_kql_geo precedent
    QueryDef("q_kql_geo_polygon",
      (s, d) => run(s, d,
        """events
          || where event_id % 40 == 0
          || extend x = todouble(event_id % 300) - 150.0,
          |    y = todouble(event_id % 120) - 60.5
          || extend ring = pack_array(pack_array(x, y), pack_array(x + 1.0, y),
          |    pack_array(x + 1.0, y + 1.0), pack_array(x, y + 2.0), pack_array(x, y))
          || extend area_km2 = round(geo_polygon_area(ring) / 1000000.0, 2),
          |    per_km = round(geo_polygon_perimeter(ring) / 1000.0, 4),
          |    c = geo_polygon_centroid(ring)
          || project event_id, area_km2, per_km,
          |    clng = round(todouble(c[0]), 6), clat = round(todouble(c[1]), 6)
          || sort by event_id asc""".stripMargin),
      Some("""WITH b AS (SELECT event_id,
             |    CAST(event_id % 300 AS DOUBLE) - 150.0 AS x,
             |    CAST(event_id % 120 AS DOUBLE) - 60.5 AS y
             |  FROM events WHERE event_id % 40 = 0),
             |d AS (SELECT event_id, x, y,
             |  12742000.0 * ASIN(LEAST(1.0, SQRT(
             |    SIN(RADIANS(y - y)/2)*SIN(RADIANS(y - y)/2) +
             |    COS(RADIANS(y))*COS(RADIANS(y))*
             |      SIN(RADIANS((x+1.0) - x)/2)*SIN(RADIANS((x+1.0) - x)/2)))) AS d1,
             |  12742000.0 * ASIN(LEAST(1.0, SQRT(
             |    SIN(RADIANS((y+1.0) - y)/2)*SIN(RADIANS((y+1.0) - y)/2) +
             |    COS(RADIANS(y))*COS(RADIANS(y+1.0))*
             |      SIN(RADIANS((x+1.0) - (x+1.0))/2)*SIN(RADIANS((x+1.0) - (x+1.0))/2)))) AS d2,
             |  12742000.0 * ASIN(LEAST(1.0, SQRT(
             |    SIN(RADIANS((y+2.0) - (y+1.0))/2)*SIN(RADIANS((y+2.0) - (y+1.0))/2) +
             |    COS(RADIANS(y+1.0))*COS(RADIANS(y+2.0))*
             |      SIN(RADIANS(x - (x+1.0))/2)*SIN(RADIANS(x - (x+1.0))/2)))) AS d3,
             |  12742000.0 * ASIN(LEAST(1.0, SQRT(
             |    SIN(RADIANS(y - (y+2.0))/2)*SIN(RADIANS(y - (y+2.0))/2) +
             |    COS(RADIANS(y+2.0))*COS(RADIANS(y))*
             |      SIN(RADIANS(x - x)/2)*SIN(RADIANS(x - x)/2)))) AS d4,
             |  RADIANS((x+1.0) - x)*(2.0 + SIN(RADIANS(y)) + SIN(RADIANS(y)))
             |    + RADIANS((x+1.0) - (x+1.0))*(2.0 + SIN(RADIANS(y)) + SIN(RADIANS(y+1.0)))
             |    + RADIANS(x - (x+1.0))*(2.0 + SIN(RADIANS(y+1.0)) + SIN(RADIANS(y+2.0)))
             |    + RADIANS(x - x)*(2.0 + SIN(RADIANS(y+2.0)) + SIN(RADIANS(y))) AS e,
             |  x*y - (x+1.0)*y AS cr1,
             |  (x+1.0)*(y+1.0) - (x+1.0)*y AS cr2,
             |  (x+1.0)*(y+2.0) - x*(y+1.0) AS cr3,
             |  x*y - x*(y+2.0) AS cr4
             |  FROM b)
             |SELECT event_id,
             |  ROUND(ABS(e) * (6371000.0*6371000.0/2.0) / 1000000.0, 2) AS area_km2,
             |  ROUND((d1 + d2 + d3 + d4) / 1000.0, 4) AS per_km,
             |  ROUND(((x+(x+1.0))*cr1 + ((x+1.0)+(x+1.0))*cr2 + ((x+1.0)+x)*cr3
             |    + (x+x)*cr4) / (3.0*(cr1+cr2+cr3+cr4)), 6) AS clng,
             |  ROUND(((y+y)*cr1 + (y+(y+1.0))*cr2 + ((y+1.0)+(y+2.0))*cr3
             |    + ((y+2.0)+y)*cr4) / (3.0*(cr1+cr2+cr3+cr4)), 6) AS clat
             |FROM d ORDER BY event_id""".stripMargin)),

    // program-initial union with WILDCARD table patterns: `*ion` expands
    // against the engine catalog (region + nation), sorted for deterministic
    // operand order; columns align by name with null-fill
    QueryDef("q_kql_union_wild",
      (s, d) => run(s, d,
        """union withsource=src *ion
          || summarize n = count() by src
          || sort by src asc""".stripMargin),
      Some("""SELECT src, n FROM (
             |  SELECT 'nation' AS src, COUNT(*) AS n FROM nation
             |  UNION ALL SELECT 'region' AS src, COUNT(*) AS n FROM region) u
             |ORDER BY src""".stripMargin)),

    // geo_polygon_to_s2cells (S2Expressions.coverRing): HAND-DERIVED
    // face-level coverings (face tokens 1/3/5/7/9/b are spec constants;
    // a triangle straddling lng=45 meets exactly faces 0 and 1), plus the
    // structural covering guarantee at a working level — every vertex's own
    // cell is in the covering (set_difference empty)
    QueryDef("q_kql_polygon_cells",
      (s, d) => run(s, d,
        """datatable(id: long) [1, 2, 3, 4]
          || extend poly = case(
          |    id == 1, pack_array(pack_array(9.0, 9.0), pack_array(11.0, 9.0),
          |      pack_array(10.0, 11.0)),
          |    id == 2, pack_array(pack_array(99.0, 9.0), pack_array(101.0, 9.0),
          |      pack_array(100.0, 11.0)),
          |    id == 3, pack_array(pack_array(43.0, -1.0), pack_array(47.0, -1.0),
          |      pack_array(45.0, 2.0)),
          |    pack_array(pack_array(-73.3, 40.2), pack_array(-72.8, 40.2),
          |      pack_array(-73.05, 40.9)))
          || extend cells = geo_polygon_to_s2cells(poly, iff(id <= 3, 0, 8))
          || extend vcells = iff(id <= 3, pack_array(
          |    geo_point_to_s2cell(todouble(poly[0][0]), todouble(poly[0][1]), 0),
          |    geo_point_to_s2cell(todouble(poly[1][0]), todouble(poly[1][1]), 0),
          |    geo_point_to_s2cell(todouble(poly[2][0]), todouble(poly[2][1]), 0)),
          |  pack_array(
          |    geo_point_to_s2cell(todouble(poly[0][0]), todouble(poly[0][1]), 8),
          |    geo_point_to_s2cell(todouble(poly[1][0]), todouble(poly[1][1]), 8),
          |    geo_point_to_s2cell(todouble(poly[2][0]), todouble(poly[2][1]), 8)))
          || project id, toks = iff(id <= 3, strcat_array(cells, ';'), ''),
          |    covers_vertices = iff(array_length(set_difference(vcells, cells)) == 0, 1, 0)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, toks, CAST(cv AS INT) AS covers_vertices
             |FROM (VALUES (1, '1', 1), (2, '3', 1), (3, '1;3', 1), (4, '', 1))
             |  AS t(id, toks, cv) ORDER BY id""".stripMargin)),

    // Bucketed points×polygons containment join: polygons expand to their
    // fixed-level S2 covering, points key to their OWN cell — ONE equi-join
    // on the cell token + the exact ray-cast residual. Complete because the
    // covering is complete (S2Spec probe) and each point lives in exactly
    // one cell, so no pair can be missed and none can duplicate. The oracle
    // is the all-pairs ray cast (edge-table parity count, identical IEEE
    // chain) — if the covering dropped a cell, rows here redden.
    QueryDef("q_kql_polygon_join",
      (s, d) => run(s, d,
        """let polys = datatable(pid: long) [1, 2, 3]
          || extend poly = case(
          |    pid == 1, pack_array(pack_array(-73.3, 40.2), pack_array(-72.8, 40.2),
          |      pack_array(-73.05, 40.9)),
          |    pid == 2, pack_array(pack_array(-72.7, 40.5), pack_array(-72.3, 40.5),
          |      pack_array(-72.3, 41.0), pack_array(-72.7, 41.0)),
          |    pack_array(pack_array(-73.45, 41.1), pack_array(-73.15, 40.5),
          |      pack_array(-72.85, 41.1), pack_array(-73.15, 40.85)));
          |let pts = events
          || where event_id % 23 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lng = -73.5 + todouble(event_id % 89) / 60.0
          || project event_id, lat, lng;
          |polys
          || mv-expand cell = geo_polygon_to_s2cells(poly, 9) to typeof(string)
          || join kind=inner (pts
          |    | extend cell = geo_point_to_s2cell(lng, lat, 9)) on cell
          || where geo_point_in_polygon(lng, lat, poly)
          || project pid, event_id
          || sort by pid asc, event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |edges(pid, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.3, 40.2, -72.8, 40.2), (1, -72.8, 40.2, -73.05, 40.9),
             |  (1, -73.05, 40.9, -73.3, 40.2),
             |  (2, -72.7, 40.5, -72.3, 40.5), (2, -72.3, 40.5, -72.3, 41.0),
             |  (2, -72.3, 41.0, -72.7, 41.0), (2, -72.7, 41.0, -72.7, 40.5),
             |  (3, -73.45, 41.1, -73.15, 40.5), (3, -73.15, 40.5, -72.85, 41.1),
             |  (3, -72.85, 41.1, -73.15, 40.85), (3, -73.15, 40.85, -73.45, 41.1))
             |SELECT CAST(e.pid AS BIGINT) AS pid, p.event_id
             |FROM (SELECT DISTINCT pid FROM edges) e, pts p
             |WHERE (SELECT COUNT(*) FROM edges g WHERE g.pid = e.pid
             |    AND ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |    AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |  ) % 2 = 1
             |ORDER BY pid, event_id""".stripMargin)),

    // H3-style hex cells (H3Expressions.scala — published aperture-7
    // framework; base-cell enumeration is a DOCUMENTED deviation from
    // libh3, whose 122-cell table is unpublishable-offline data). Oracle
    // literals are HAND-DERIVED: the golden-ratio icosahedron's lexicographic
    // face enumeration puts (10°,10°) on face 16 = vertices {(1,φ,0),
    // (φ,0,1),(φ,0,−1)} and its antipode on face 19, and the published bit
    // layout makes the res-0 token (1<<59)|(face<<45)|0x1FFFFFFFFFFF —
    // independently re-derived in H3Spec and in the row comment's python
    // construction. Structural columns prove center-re-encode identity, the
    // 6-ring, and the bucket-key adjacency contract at res 5.
    // The geofencing enrichment plugin over the q_kql_polygon_join engine:
    // adaptive per-polygon covering level, (level, cell) broadcast equi-join,
    // exact ray-cast residual, return_unmatched left-join-back. Oracle is the
    // all-pairs ray cast LEFT-JOINED onto the point set.
    QueryDef("q_kql_geo_lookup",
      (s, d) => run(s, d,
        """let polys = datatable(pid: long) [1, 2, 3]
          || extend poly = case(
          |    pid == 1, pack_array(pack_array(-73.3, 40.2), pack_array(-72.8, 40.2),
          |      pack_array(-73.05, 40.9)),
          |    pid == 2, pack_array(pack_array(-72.7, 40.5), pack_array(-72.3, 40.5),
          |      pack_array(-72.3, 41.0), pack_array(-72.7, 41.0)),
          |    pack_array(pack_array(-73.45, 41.1), pack_array(-73.15, 40.5),
          |      pack_array(-72.85, 41.1), pack_array(-73.15, 40.85)));
          |events
          || where event_id % 23 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lng = -73.5 + todouble(event_id % 89) / 60.0
          || project event_id, lat, lng
          || evaluate geo_polygon_lookup(polys, poly, lng, lat, return_unmatched)
          || project pid = coalesce(pid, tolong(-1)), event_id
          || sort by pid asc, event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |edges(pid, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.3, 40.2, -72.8, 40.2), (1, -72.8, 40.2, -73.05, 40.9),
             |  (1, -73.05, 40.9, -73.3, 40.2),
             |  (2, -72.7, 40.5, -72.3, 40.5), (2, -72.3, 40.5, -72.3, 41.0),
             |  (2, -72.3, 41.0, -72.7, 41.0), (2, -72.7, 41.0, -72.7, 40.5),
             |  (3, -73.45, 41.1, -73.15, 40.5), (3, -73.15, 40.5, -72.85, 41.1),
             |  (3, -72.85, 41.1, -73.15, 40.85), (3, -73.15, 40.85, -73.45, 41.1)),
             |m AS (SELECT e.pid, p.event_id
             |  FROM (SELECT DISTINCT pid FROM edges) e, pts p
             |  WHERE (SELECT COUNT(*) FROM edges g WHERE g.pid = e.pid
             |      AND ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |      AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |    ) % 2 = 1)
             |SELECT CAST(COALESCE(m.pid, -1) AS BIGINT) AS pid,
             |  p.event_id AS event_id
             |FROM pts p LEFT JOIN m ON m.event_id = p.event_id
             |ORDER BY pid, p.event_id""".stripMargin)),

    // The radius option of geo_polygon_lookup: polygons within 15 km of the
    // point also match (containment = distance 0). Covering expands one
    // neighbor ring at a radius-capped level; residual = inside ∨ closed-
    // boundary distance ≤ r, replayed identically in the oracle.
    QueryDef("q_kql_geo_lookup_radius",
      (s, d) => run(s, d,
        """let polys = datatable(pid: long) [1]
          || extend poly = pack_array(pack_array(-73.3, 40.2),
          |    pack_array(-72.8, 40.2), pack_array(-73.05, 40.9));
          |events
          || where event_id % 23 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lng = -73.5 + todouble(event_id % 89) / 60.0
          || project event_id, lat, lng
          || evaluate geo_polygon_lookup(polys, poly, lng, lat, 15000.0)
          || project pid, event_id
          || sort by event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |psegs(x1, y1, x2, y2) AS (VALUES
             |  (-73.3, 40.2, -72.8, 40.2), (-72.8, 40.2, -73.05, 40.9),
             |  (-73.05, 40.9, -73.3, 40.2)),
             |pd AS (SELECT event_id, MIN(SQRT(cx*cx + cy*cy)) *
             |    (PI() / 180 * 6371000.0) AS dm FROM (
             |  SELECT p.event_id,
             |    xx1 + tt * (xx2 - xx1) AS cx, yy1 + tt * (yy2 - yy1) AS cy
             |  FROM (SELECT p.event_id, xx1, yy1, xx2, yy2,
             |      CASE WHEN (xx2-xx1)*(xx2-xx1) + (yy2-yy1)*(yy2-yy1) > 0
             |        THEN GREATEST(0.0, LEAST(1.0, -(xx1*(xx2-xx1) + yy1*(yy2-yy1)) /
             |          ((xx2-xx1)*(xx2-xx1) + (yy2-yy1)*(yy2-yy1)))) ELSE 0.0 END AS tt
             |    FROM (SELECT p.event_id,
             |        (s.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1, s.y1 - p.lat AS yy1,
             |        (s.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2, s.y2 - p.lat AS yy2
             |      FROM psegs s, pts p) p) p) GROUP BY event_id),
             |pin AS (SELECT p.event_id, ((SELECT COUNT(*) FROM psegs g
             |    WHERE ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |      AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |  ) % 2 = 1) AS inside FROM pts p)
             |SELECT CAST(1 AS BIGINT) AS pid, p.event_id AS event_id
             |FROM pts p
             |JOIN pd ON pd.event_id = p.event_id
             |JOIN pin ON pin.event_id = p.event_id
             |WHERE pin.inside OR pd.dm <= 15000.0
             |ORDER BY p.event_id""".stripMargin)),

    // ANTIMERIDIAN geofencing: polygon 1 crosses ±180 (raw-lng span > 180°)
    // and is re-anchored to the [0,360) frame on the broadcast build side
    // (Kql.anchorAntimeridian; covering tests each cell box and its +360
    // image) — it used to cover() to null and silently drop from results.
    // Polygon 2 is an ordinary ring in the same batch, proving the mixed
    // path. The residual ray-casts in the anchored frame (point lng < 0
    // shifts +360 only for the crossing polygon); the oracle replays the
    // identical frames: anchored edge coords WRITTEN AS x + 360.0 so the
    // IEEE addition matches the engine's transform bit-for-bit.
    QueryDef("q_kql_geo_lookup_anti",
      (s, d) => run(s, d,
        """let polys = datatable(pid: long) [1, 2]
          || extend poly = case(
          |    pid == 1, pack_array(pack_array(179.4, 40.2), pack_array(-179.6, 40.2),
          |      pack_array(-179.9, 40.9)),
          |    pack_array(pack_array(178.8, 40.5), pack_array(179.3, 40.5),
          |      pack_array(179.3, 41.0), pack_array(178.8, 41.0)));
          |events
          || where event_id % 23 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lngr = 179.0 + todouble(event_id % 89) / 30.0
          || extend lng = iff(lngr > 180.0, lngr - 360.0, lngr)
          || project event_id, lat, lng
          || evaluate geo_polygon_lookup(polys, poly, lng, lat, return_unmatched)
          || project pid = coalesce(pid, tolong(-1)), event_id
          || sort by pid asc, event_id asc""".stripMargin),
      Some("""WITH pts0 AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    179.0 + CAST(event_id % 89 AS DOUBLE) / 30.0 AS lngr
             |  FROM events WHERE event_id % 23 = 0),
             |pts AS (SELECT event_id, lat,
             |    CASE WHEN lngr > 180.0 THEN lngr - 360.0 ELSE lngr END AS lng
             |  FROM pts0),
             |edges(pid, wrapped, x1, y1, x2, y2) AS (VALUES
             |  (1, true, 179.4, 40.2, -179.6 + 360.0, 40.2),
             |  (1, true, -179.6 + 360.0, 40.2, -179.9 + 360.0, 40.9),
             |  (1, true, -179.9 + 360.0, 40.9, 179.4, 40.2),
             |  (2, false, 178.8, 40.5, 179.3, 40.5),
             |  (2, false, 179.3, 40.5, 179.3, 41.0),
             |  (2, false, 179.3, 41.0, 178.8, 41.0),
             |  (2, false, 178.8, 41.0, 178.8, 40.5)),
             |m AS (SELECT e.pid, p.event_id
             |  FROM (SELECT DISTINCT pid, wrapped FROM edges) e, pts p
             |  WHERE (SELECT COUNT(*) FROM edges g WHERE g.pid = e.pid
             |      AND ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |      AND (CASE WHEN e.wrapped AND p.lng < 0 THEN p.lng + 360.0
             |           ELSE p.lng END)
             |        < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |    ) % 2 = 1)
             |SELECT CAST(COALESCE(m.pid, -1) AS BIGINT) AS pid,
             |  p.event_id AS event_id
             |FROM pts p LEFT JOIN m ON m.event_id = p.event_id
             |ORDER BY pid, p.event_id""".stripMargin)),

    // Route-proximity enrichment: per-line covering level capped so a cell's
    // min width exceeds the radius, point probes cell+8 neighbors, exact
    // distance residual, (row, line) dedup. Oracle replays the identical
    // equirectangular point-to-segment IEEE chain all-pairs in DuckDB.
    QueryDef("q_kql_line_lookup",
      (s, d) => run(s, d,
        """let rts = datatable(rid: long) [1, 2]
          || extend line = case(
          |    rid == 1, pack_array(pack_array(-73.4, 40.3), pack_array(-73.0, 40.6),
          |      pack_array(-72.6, 40.5)),
          |    pack_array(pack_array(-73.2, 41.0), pack_array(-72.4, 40.8)));
          |events
          || where event_id % 23 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lng = -73.5 + todouble(event_id % 89) / 60.0
          || project event_id, lat, lng
          || evaluate geo_line_lookup(rts, line, lng, lat, 20000.0)
          || project rid, event_id
          || sort by rid asc, event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |segs(rid, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.4, 40.3, -73.0, 40.6), (1, -73.0, 40.6, -72.6, 40.5),
             |  (2, -73.2, 41.0, -72.4, 40.8)),
             |raw AS (SELECT g.rid, p.event_id,
             |    (g.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1,
             |    g.y1 - p.lat AS yy1,
             |    (g.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2,
             |    g.y2 - p.lat AS yy2
             |  FROM segs g, pts p),
             |t1 AS (SELECT rid, event_id, xx1, yy1,
             |    xx2 - xx1 AS dx, yy2 - yy1 AS dy FROM raw),
             |t2 AS (SELECT rid, event_id, xx1, yy1, dx, dy,
             |    dx * dx + dy * dy AS len2 FROM t1),
             |t3 AS (SELECT rid, event_id, xx1, yy1, dx, dy,
             |    CASE WHEN len2 > 0 THEN GREATEST(0.0, LEAST(1.0,
             |      -(xx1 * dx + yy1 * dy) / len2)) ELSE 0.0 END AS t FROM t2),
             |t4 AS (SELECT rid, event_id,
             |    xx1 + t * dx AS cx, yy1 + t * dy AS cy FROM t3),
             |md AS (SELECT rid, event_id,
             |    MIN(SQRT(cx * cx + cy * cy)) AS mindeg FROM t4
             |  GROUP BY rid, event_id)
             |SELECT CAST(rid AS BIGINT) AS rid, event_id FROM md
             |WHERE mindeg * (PI() / 180 * 6371000.0) <= 20000.0
             |ORDER BY rid, event_id""".stripMargin)),

    // Distance-family completion: closest point on line (argmin over the
    // same per-segment projection as geo_distance_point_to_line),
    // point-to-polygon distance (0 inside, else closed-boundary distance),
    // great-circle forward azimuth. Oracle replays the identical IEEE
    // chains (strict-< argmin tie-break = ROW_NUMBER by (dist, seg)).
    QueryDef("q_kql_geo_dist2",
      (s, d) => run(s, d,
        """events
          || where event_id % 31 == 0
          || extend lat = 40.0 + todouble(event_id % 83) / 70.0,
          |    lng = -73.5 + todouble(event_id % 79) / 55.0
          || extend cp = geo_closest_point_on_line(lng, lat, pack_array(
          |    pack_array(-73.4, 40.3), pack_array(-73.0, 40.6), pack_array(-72.6, 40.5)))
          || extend dp = round(geo_distance_point_to_polygon(lng, lat, pack_array(
          |    pack_array(-73.3, 40.2), pack_array(-72.8, 40.2), pack_array(-73.05, 40.9))), 1)
          || extend az = round(geo_azimuth(lng, lat, -73.0, 40.6), 6)
          || project event_id, cx = round(todouble(cp[0]), 6),
          |    cy = round(todouble(cp[1]), 6), dp, az
          || sort by event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 83 AS DOUBLE) / 70.0 AS lat,
             |    -73.5 + CAST(event_id % 79 AS DOUBLE) / 55.0 AS lng
             |  FROM events WHERE event_id % 31 = 0),
             |lsegs(i, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.4, 40.3, -73.0, 40.6), (2, -73.0, 40.6, -72.6, 40.5)),
             |psegs(i, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.3, 40.2, -72.8, 40.2), (2, -72.8, 40.2, -73.05, 40.9),
             |  (3, -73.05, 40.9, -73.3, 40.2)),
             |lraw AS (SELECT p.event_id, p.lng, p.lat, s.i,
             |    (s.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1, s.y1 - p.lat AS yy1,
             |    (s.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2, s.y2 - p.lat AS yy2
             |  FROM lsegs s, pts p),
             |l1 AS (SELECT event_id, lng, lat, i, xx1, yy1,
             |    xx2 - xx1 AS dx, yy2 - yy1 AS dy FROM lraw),
             |l2 AS (SELECT event_id, lng, lat, i, xx1, yy1, dx, dy,
             |    dx * dx + dy * dy AS len2 FROM l1),
             |l3 AS (SELECT event_id, lng, lat, i, xx1, yy1, dx, dy,
             |    CASE WHEN len2 > 0 THEN GREATEST(0.0, LEAST(1.0,
             |      -(xx1 * dx + yy1 * dy) / len2)) ELSE 0.0 END AS t FROM l2),
             |l4 AS (SELECT event_id, lng, lat, i,
             |    xx1 + t * dx AS cx0, yy1 + t * dy AS cy0 FROM l3),
             |l5 AS (SELECT event_id, lng, lat, cx0, cy0, ROW_NUMBER() OVER (
             |    PARTITION BY event_id ORDER BY SQRT(cx0*cx0 + cy0*cy0), i) AS rn
             |  FROM l4),
             |lbest AS (SELECT event_id, lng + cx0 / COS(RADIANS(lat)) AS cx,
             |    lat + cy0 AS cy FROM l5 WHERE rn = 1),
             |praw AS (SELECT p.event_id,
             |    (s.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1, s.y1 - p.lat AS yy1,
             |    (s.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2, s.y2 - p.lat AS yy2
             |  FROM psegs s, pts p),
             |p1 AS (SELECT event_id, xx1, yy1,
             |    xx2 - xx1 AS dx, yy2 - yy1 AS dy FROM praw),
             |p2 AS (SELECT event_id, xx1, yy1, dx, dy,
             |    dx * dx + dy * dy AS len2 FROM p1),
             |p3 AS (SELECT event_id, xx1, yy1, dx, dy,
             |    CASE WHEN len2 > 0 THEN GREATEST(0.0, LEAST(1.0,
             |      -(xx1 * dx + yy1 * dy) / len2)) ELSE 0.0 END AS t FROM p2),
             |p4 AS (SELECT event_id, xx1 + t * dx AS cx0, yy1 + t * dy AS cy0 FROM p3),
             |pmin AS (SELECT event_id, MIN(SQRT(cx0*cx0 + cy0*cy0)) AS mindeg
             |  FROM p4 GROUP BY event_id),
             |pin AS (SELECT p.event_id, ((SELECT COUNT(*) FROM psegs g
             |    WHERE ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |      AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |  ) % 2 = 1) AS inside FROM pts p),
             |azi AS (SELECT event_id, ATAN2(
             |    SIN(RADIANS(-73.0 - lng)) * COS(RADIANS(40.6)),
             |    COS(RADIANS(lat)) * SIN(RADIANS(40.6)) -
             |      SIN(RADIANS(lat)) * COS(RADIANS(40.6)) * COS(RADIANS(-73.0 - lng))
             |  ) AS theta FROM pts)
             |SELECT p.event_id AS event_id, ROUND(lb.cx, 6) AS cx,
             |  ROUND(lb.cy, 6) AS cy,
             |  ROUND(CASE WHEN pin.inside THEN 0.0
             |    ELSE pm.mindeg * (PI() / 180 * 6371000.0) END, 1) AS dp,
             |  ROUND(FMOD(FMOD(a.theta, 2 * PI()) + 2 * PI(), 2 * PI()), 6) AS az
             |FROM pts p
             |JOIN lbest lb ON lb.event_id = p.event_id
             |JOIN pmin pm ON pm.event_id = p.event_id
             |JOIN pin ON pin.event_id = p.event_id
             |JOIN azi a ON a.event_id = p.event_id
             |ORDER BY p.event_id""".stripMargin)),

    // Distance-family completion #2: closest point ON a polygon (the point
    // itself when inside, else the closed-boundary argmin — the same
    // strict-< kernel as geo_closest_point_on_line over ring + first
    // vertex) and geo_angle (clockwise turn angle from the forward azimuth
    // of line [p1,p2] to that of line [p2,p3] — a difference of the two
    // published forward azimuths; same convention as the 8-arg form with
    // p3 = p2). Oracle replays Spark's pmod for doubles exactly:
    // r = FMOD(x, n); r < 0 ? r + n : r.
    QueryDef("q_kql_geo_dist3",
      (s, d) => run(s, d,
        """events
          || where event_id % 31 == 0
          || extend lat = 40.0 + todouble(event_id % 83) / 70.0,
          |    lng = -73.5 + todouble(event_id % 79) / 55.0
          || extend cp = geo_closest_point_on_polygon(lng, lat, pack_array(
          |    pack_array(-73.3, 40.2), pack_array(-72.8, 40.2), pack_array(-73.05, 40.9)))
          || extend ga = round(geo_angle(lng, lat, -73.0, 40.6, -72.6, 40.5), 6)
          || project event_id, px = round(todouble(cp[0]), 6),
          |    py = round(todouble(cp[1]), 6), ga
          || sort by event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 83 AS DOUBLE) / 70.0 AS lat,
             |    -73.5 + CAST(event_id % 79 AS DOUBLE) / 55.0 AS lng
             |  FROM events WHERE event_id % 31 = 0),
             |psegs(i, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.3, 40.2, -72.8, 40.2), (2, -72.8, 40.2, -73.05, 40.9),
             |  (3, -73.05, 40.9, -73.3, 40.2)),
             |raw AS (SELECT p.event_id, p.lng, p.lat, s.i,
             |    (s.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1, s.y1 - p.lat AS yy1,
             |    (s.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2, s.y2 - p.lat AS yy2
             |  FROM psegs s, pts p),
             |t1 AS (SELECT event_id, lng, lat, i, xx1, yy1,
             |    xx2 - xx1 AS dx, yy2 - yy1 AS dy FROM raw),
             |t2 AS (SELECT event_id, lng, lat, i, xx1, yy1, dx, dy,
             |    dx * dx + dy * dy AS len2 FROM t1),
             |t3 AS (SELECT event_id, lng, lat, i, xx1, yy1, dx, dy,
             |    CASE WHEN len2 > 0 THEN GREATEST(0.0, LEAST(1.0,
             |      -(xx1 * dx + yy1 * dy) / len2)) ELSE 0.0 END AS t FROM t2),
             |t4 AS (SELECT event_id, lng, lat, i,
             |    xx1 + t * dx AS cx0, yy1 + t * dy AS cy0 FROM t3),
             |t5 AS (SELECT event_id, lng, lat, cx0, cy0, ROW_NUMBER() OVER (
             |    PARTITION BY event_id ORDER BY SQRT(cx0*cx0 + cy0*cy0), i) AS rn
             |  FROM t4),
             |best AS (SELECT event_id, lng + cx0 / COS(RADIANS(lat)) AS bx,
             |    lat + cy0 AS bly FROM t5 WHERE rn = 1),
             |pin AS (SELECT p.event_id, ((SELECT COUNT(*) FROM psegs g
             |    WHERE ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |      AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |  ) % 2 = 1) AS inside FROM pts p),
             |th AS (SELECT event_id,
             |    ATAN2(SIN(RADIANS(-72.6 - -73.0)) * COS(RADIANS(40.5)),
             |      COS(RADIANS(40.6)) * SIN(RADIANS(40.5)) -
             |      SIN(RADIANS(40.6)) * COS(RADIANS(40.5)) *
             |        COS(RADIANS(-72.6 - -73.0))) AS t23,
             |    ATAN2(SIN(RADIANS(-73.0 - lng)) * COS(RADIANS(40.6)),
             |      COS(RADIANS(lat)) * SIN(RADIANS(40.6)) -
             |      SIN(RADIANS(lat)) * COS(RADIANS(40.6)) *
             |        COS(RADIANS(-73.0 - lng))) AS t12 FROM pts),
             |az AS (SELECT event_id,
             |    CASE WHEN FMOD(t23, 2 * PI()) < 0
             |      THEN FMOD(t23, 2 * PI()) + 2 * PI()
             |      ELSE FMOD(t23, 2 * PI()) END AS a23,
             |    CASE WHEN FMOD(t12, 2 * PI()) < 0
             |      THEN FMOD(t12, 2 * PI()) + 2 * PI()
             |      ELSE FMOD(t12, 2 * PI()) END AS a12 FROM th),
             |ang AS (SELECT event_id,
             |    CASE WHEN FMOD(a23 - a12, 2 * PI()) < 0
             |      THEN FMOD(a23 - a12, 2 * PI()) + 2 * PI()
             |      ELSE FMOD(a23 - a12, 2 * PI()) END AS ga FROM az)
             |SELECT p.event_id AS event_id,
             |  ROUND(CASE WHEN pin.inside THEN p.lng ELSE b.bx END, 6) AS px,
             |  ROUND(CASE WHEN pin.inside THEN p.lat ELSE b.bly END, 6) AS py,
             |  ROUND(a.ga, 6) AS ga
             |FROM pts p
             |JOIN best b ON b.event_id = p.event_id
             |JOIN pin ON pin.event_id = p.event_id
             |JOIN ang a ON a.event_id = p.event_id
             |ORDER BY p.event_id""".stripMargin)),

    // Round-12 gap-sweep batch #1: around (numeric band), parse_ipv4_mask
    // (host bits zeroed to a long), ipv6_is_in_range (singular form of the
    // any_range kernel), current_utcdatetime (now alias), parse_command_line
    // (argv split, quotes hold spaces), bag_pack_columns (bag keyed by
    // column NAMES, values stringified per the pack_all convention).
    QueryDef("q_kql_scalar_misc18",
      (s, d) => run(s, d,
        """events
          || where event_id % 6000 == 0
          || extend ar = around(value, 50.0, 25.0),
          |    pm = parse_ipv4_mask(strcat('10.1.', tostring(event_id % 200), '.7'), 24),
          |    in6 = ipv6_is_in_range(strcat('2001:db8::', tostring(event_id % 16)),
          |      '2001:db8::/125'),
          |    fresh = current_utcdatetime() >= todatetime('2000-01-01')
          || extend argv = parse_command_line(
          |    strcat('run.exe -n "file ', tostring(event_id), '" -v'), 'windows')
          || extend b = bag_pack_columns(event_id, event_type)
          || extend ex = extract('id=([0-9]+)', 1, strcat('id=', tostring(event_id)),
          |    typeof(long)) + 1,
          |    exn = isnull(extract('z=([0-9]+)', 1, 'no match here', typeof(long)))
          || extend ea = extract_all('([a-z]+)=([0-9]+)', dynamic([1, 2]),
          |    strcat('a=1 b=', tostring(event_id), ' c=333')),
          |    ea1 = extract_all('=([0-9]+)', dynamic([1]),
          |      strcat('a=1 b=', tostring(event_id)))
          || project event_id, ar, pm, in6, fresh,
          |    a0 = tostring(argv[0]), a2 = tostring(argv[2]),
          |    na = array_length(argv),
          |    bk = strcat_array(bag_keys(b), ','), bid = tostring(b['event_id']),
          |    ex, exn,
          |    nea = array_length(ea), eak = tostring(ea[1][0]),
          |    eav = tostring(ea[1][1]),
          |    ea1v = tostring(ea1[1])
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  ABS(value - 50.0) <= 25.0 AS ar,
             |  167837696 + (event_id % 200) * 256 AS pm,
             |  (event_id % 16) < 8 AS in6,
             |  TRUE AS fresh,
             |  'run.exe' AS a0,
             |  'file ' || CAST(event_id AS VARCHAR) AS a2,
             |  CAST(4 AS BIGINT) AS na,
             |  'event_id,event_type' AS bk,
             |  CAST(event_id AS VARCHAR) AS bid,
             |  event_id + 1 AS ex,
             |  TRUE AS exn,
             |  CAST(3 AS BIGINT) AS nea,
             |  'b' AS eak,
             |  CAST(event_id AS VARCHAR) AS eav,
             |  CAST(event_id AS VARCHAR) AS ea1v
             |FROM events WHERE event_id % 6000 = 0
             |ORDER BY event_id""".stripMargin)),

    // Round-12 gap-sweep batch #2: geo_polygon_simplify (single-ring RDP,
    // the anchored kernel of geo_simplify_polygons_array) and
    // geo_union_lines_array (collection union — valid ≥2-vertex lines as
    // one multiline; documented deviation: no geometric noding). The oracle
    // states the hand-computed RDP outcome: the ~0.011 m excursion at
    // vertex 1 dies under the 50 m tolerance, the square corners survive.
    QueryDef("q_kql_geo_simplify",
      (s, d) => run(s, d,
        """print ring = pack_array(pack_array(10.0, 10.0),
          |    pack_array(10.2, 10.0000001), pack_array(10.4, 10.0),
          |    pack_array(10.4, 10.3), pack_array(10.0, 10.3))
          || extend sp = geo_polygon_simplify(ring, 50.0)
          || extend lines = pack_array(
          |    pack_array(pack_array(0.0, 0.0), pack_array(1.0, 1.0)),
          |    pack_array(pack_array(2.0, 2.0)),
          |    pack_array(pack_array(3.0, 3.0), pack_array(4.0, 4.0), pack_array(5.0, 5.0)))
          || extend u = geo_union_lines_array(lines)
          || project n0 = array_length(ring), ns = array_length(sp),
          |    sx = todouble(sp[1][0]), sy = todouble(sp[1][1]),
          |    nu = array_length(u), u0x = todouble(u[0][0][0]),
          |    u1n = array_length(u[1])""".stripMargin),
      Some("""SELECT CAST(5 AS BIGINT) AS n0, CAST(4 AS BIGINT) AS ns,
             |  10.4 AS sx, 10.0 AS sy,
             |  CAST(2 AS BIGINT) AS nu, 0.0 AS u0x,
             |  CAST(3 AS BIGINT) AS u1n""".stripMargin)),

    // evaluate infer_storage_schema: Kusto's ingestion-time schema inference
    // over a sample of JSON documents (documented deviations: samples the
    // piped string column instead of external blobs; emits (column,
    // kql_type) rows instead of one schema string). The synthesized JSON
    // exercises every mapped type: long, real, string, bool, dynamic.
    QueryDef("q_kql_infer_schema",
      (s, d) => run(s, d,
        """events
          || where event_id % 4000 == 0
          || project raw = strcat('{"id": ', tostring(event_id),
          |    ', "score": ', tostring(value),
          |    ', "name": "u', tostring(user_id), '"',
          |    ', "ok": ', iff(event_id % 2 == 0, 'true', 'false'),
          |    ', "tags": [1, 2]}')
          || evaluate infer_storage_schema()""".stripMargin),
      Some("""SELECT * FROM (VALUES
             |  ('id', 'long'), ('name', 'string'), ('ok', 'bool'),
             |  ('score', 'real'), ('tags', 'dynamic')) t("column", kql_type)
             |ORDER BY "column"""".stripMargin)),

    // Round-12 gap-sweep batch #3: tdigest_if (filtered sketch build) +
    // percentiles_array_tdigest (several percentiles in one projection;
    // documented plural name — the singular is an accepted alias) — the
    // q_kql_tdigest conventions with a predicate every group satisfies
    // on both sides.
    QueryDef("q_kql_tdigest_if",
      (s, d) => run(s, d,
        """lineitem
          || summarize td = tdigest_if(l_quantity, 1, 51, 50, l_quantity <= 25)
          |    by l_returnflag
          || extend ps = percentiles_array_tdigest(td, 25, 50, 95)
          || project l_returnflag, p25 = todouble(ps[0]), p50 = todouble(ps[1]),
          |    p95 = todouble(ps[2])
          || sort by l_returnflag asc""".stripMargin),
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             |    COUNT(*) AS n FROM lineitem WHERE l_quantity <= 25 GROUP BY 1, 2),
             |x AS (SELECT l_returnflag, q,
             |    SUM(n) OVER (PARTITION BY l_returnflag ORDER BY q) AS cm,
             |    SUM(n) OVER (PARTITION BY l_returnflag) AS tot FROM c)
             |SELECT l_returnflag,
             |  CAST(MIN(CASE WHEN cm >= (tot*25+99)//100 THEN q END) AS DOUBLE) AS p25,
             |  CAST(MIN(CASE WHEN cm >= (tot*50+99)//100 THEN q END) AS DOUBLE) AS p50,
             |  CAST(MIN(CASE WHEN cm >= (tot*95+99)//100 THEN q END) AS DOUBLE) AS p95
             |FROM x GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ipv4/ipv6_is_in_any_range (the security-query staple) and the
    // geo_info_from_ip_address surface (embedded TEST-NET/anycast fixture —
    // documented deviation from Kusto's licensed MMDB data; mechanism =
    // CIDR containment, private ranges → null fields).
    QueryDef("q_kql_ip_ranges",
      (s, d) => run(s, d,
        """events
          || where event_id % 29 == 0
          || extend ip = case(
          |    event_id % 4 == 0, strcat('192.0.2.', tostring(event_id % 256)),
          |    event_id % 4 == 1, strcat('8.8.8.', tostring(event_id % 256)),
          |    event_id % 4 == 2, strcat('10.3.', tostring(event_id % 256), '.7'),
          |    strcat('203.0.113.', tostring(event_id % 256)))
          || extend v6ip = strcat(case(event_id % 3 == 0, '2001:db8:',
          |    event_id % 3 == 1, 'fe80:12:', '2607:f8b0:'),
          |    tostring(event_id % 7), '::1')
          || extend inr = iff(ipv4_is_in_any_range(ip, '192.0.2.0/24', '8.8.0.0/16'), 1, 0),
          |    v6 = iff(ipv6_is_in_any_range(v6ip, '2001:db8::/32', 'fe80::/10'), 1, 0),
          |    gi = geo_info_from_ip_address(ip)
          || project event_id, inr, v6, city = coalesce(tostring(gi.city), ''),
          |    ctry = coalesce(tostring(gi.country), '')
          || sort by event_id asc""".stripMargin),
      Some("""SELECT event_id,
             |  CAST(CASE WHEN event_id % 4 IN (0, 1) THEN 1 ELSE 0 END AS INT) AS inr,
             |  CAST(CASE WHEN event_id % 3 IN (0, 1) THEN 1 ELSE 0 END AS INT) AS v6,
             |  CASE event_id % 4 WHEN 0 THEN 'Los Angeles'
             |    WHEN 1 THEN 'Mountain View' WHEN 2 THEN '' ELSE 'Sydney' END AS city,
             |  CASE event_id % 4 WHEN 0 THEN 'United States'
             |    WHEN 1 THEN 'United States' WHEN 2 THEN '' ELSE 'Australia' END AS ctry
             |FROM events WHERE event_id % 29 = 0 ORDER BY event_id""".stripMargin)),

    // Cell→polygon converters: structural proof (ring arity, own-center
    // containment under the shared ray cast) for s2/h3; the geohash bbox is
    // EXACT integer-grid arithmetic so its corners replay in SQL.
    QueryDef("q_kql_cell_polygons",
      (s, d) => run(s, d,
        """datatable(id: long, lng: real, lat: real) [
          |  1, 12.3, 45.6, 2, -73.21, 40.74]
          || extend s2 = geo_point_to_s2cell(lng, lat, 9),
          |    gh = geo_point_to_geohash(lng, lat, 6),
          |    h3 = geo_point_to_h3cell(lng, lat, 7)
          || extend sp = geo_s2cell_to_polygon(s2),
          |    gp = geo_geohash_to_polygon(gh),
          |    hp = geo_h3cell_to_polygon(h3),
          |    sc = geo_s2cell_to_central_point(s2),
          |    hc = geo_h3cell_to_central_point(h3),
          |    pb = geo_point_buffer(lng, lat, 5000.0)
          || project id, sn = array_length(sp), hn = array_length(hp),
          |    scin = iff(geo_point_in_polygon(todouble(sc[0]), todouble(sc[1]), sp), 1, 0),
          |    hin = iff(geo_point_in_polygon(todouble(hc[0]), todouble(hc[1]), hp), 1, 0),
          |    gin = iff(geo_point_in_polygon(lng, lat, gp), 1, 0),
          |    gx0 = round(todouble(gp[0][0]), 8), gy0 = round(todouble(gp[0][1]), 8),
          |    gx2 = round(todouble(gp[2][0]), 8), gy2 = round(todouble(gp[2][1]), 8),
          |    pbn = array_length(pb),
          |    pbin = iff(geo_point_in_polygon(lng, lat, pb), 1, 0),
          |    pbx = round(todouble(pb[0][0]), 6), pby = round(todouble(pb[6][1]), 6)
          || sort by id asc""".stripMargin),
      Some("""WITH t(id, lng, lat) AS (VALUES (1, 12.3, 45.6), (2, -73.21, 40.74))
             |SELECT CAST(id AS BIGINT) AS id, CAST(4 AS BIGINT) AS sn,
             |  CAST(6 AS BIGINT) AS hn, CAST(1 AS INT) AS scin,
             |  CAST(1 AS INT) AS hin, CAST(1 AS INT) AS gin,
             |  ROUND(CAST(FLOOR((lng + 180.0) / 360.0 * 32768.0) AS DOUBLE)
             |    / 32768.0 * 360.0 - 180.0, 8) AS gx0,
             |  ROUND(CAST(FLOOR((lat + 90.0) / 180.0 * 32768.0) AS DOUBLE)
             |    / 32768.0 * 180.0 - 90.0, 8) AS gy0,
             |  ROUND(CAST(FLOOR((lng + 180.0) / 360.0 * 32768.0) + 1 AS DOUBLE)
             |    / 32768.0 * 360.0 - 180.0, 8) AS gx2,
             |  ROUND(CAST(FLOOR((lat + 90.0) / 180.0 * 32768.0) + 1 AS DOUBLE)
             |    / 32768.0 * 180.0 - 90.0, 8) AS gy2,
             |  CAST(24 AS BIGINT) AS pbn, CAST(1 AS INT) AS pbin,
             |  ROUND(lng + (5000.0 / 6371000.0 * (180.0 / PI())) *
             |    COS(0.0 * (2 * PI() / 24)) / COS(RADIANS(lat)), 6) AS pbx,
             |  ROUND(lat + (5000.0 / 6371000.0 * (180.0 / PI())) *
             |    SIN(6.0 * (2 * PI() / 24)), 6) AS pby
             |FROM t ORDER BY id""".stripMargin)),

    // Buffer family: the radius-neighborhood polygons (G-H union fold of
    // segment rects + vertex 16-gons, PolygonClip.bufferLine). The oracle
    // cannot replay the union geometry — it verifies the CONTRACT instead:
    // every point with replayed line-distance < 0.8r must fall inside the
    // buffer ring (ray cast), every point farther than 1.3r outside; the
    // ±20-30% margin absorbs the centroid-frame vs per-point-frame planar
    // difference (<0.2% at these extents). Ambiguous-band rows are filtered
    // (line) or pinned to -1 (polygon) on BOTH sides.
    QueryDef("q_kql_geo_buffer",
      (s, d) => run(s, d,
        """events
          || where event_id % 23 == 0
          || extend lat = 40.0 + todouble(event_id % 97) / 80.0,
          |    lng = -73.5 + todouble(event_id % 89) / 60.0
          || extend dl = geo_distance_point_to_line(lng, lat, pack_array(
          |    pack_array(-73.4, 40.3), pack_array(-73.0, 40.6), pack_array(-72.6, 40.5))),
          |    dp = geo_distance_point_to_polygon(lng, lat, pack_array(
          |    pack_array(-73.3, 40.2), pack_array(-72.8, 40.2), pack_array(-73.05, 40.9)))
          || where dl < 16000.0 or dl > 26000.0
          || extend lb = geo_line_buffer(pack_array(
          |    pack_array(-73.4, 40.3), pack_array(-73.0, 40.6), pack_array(-72.6, 40.5)), 20000.0),
          |    pb = geo_polygon_buffer(pack_array(
          |    pack_array(-73.3, 40.2), pack_array(-72.8, 40.2), pack_array(-73.05, 40.9)), 15000.0)
          || project event_id,
          |    inb = iff(geo_point_in_polygon(lng, lat, lb), 1, 0),
          |    pin = case(dp < 12000.0, iff(geo_point_in_polygon(lng, lat, pb), 1, 0),
          |      dp > 19500.0, iff(geo_point_in_polygon(lng, lat, pb), 1, 0), -1)
          || sort by event_id asc""".stripMargin),
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |lsegs(x1, y1, x2, y2) AS (VALUES
             |  (-73.4, 40.3, -73.0, 40.6), (-73.0, 40.6, -72.6, 40.5)),
             |psegs(x1, y1, x2, y2) AS (VALUES
             |  (-73.3, 40.2, -72.8, 40.2), (-72.8, 40.2, -73.05, 40.9),
             |  (-73.05, 40.9, -73.3, 40.2)),
             |ld AS (SELECT event_id, MIN(SQRT(cx*cx + cy*cy)) *
             |    (PI() / 180 * 6371000.0) AS dl FROM (
             |  SELECT p.event_id,
             |    xx1 + tt * (xx2 - xx1) AS cx, yy1 + tt * (yy2 - yy1) AS cy
             |  FROM (SELECT p.event_id, xx1, yy1, xx2, yy2,
             |      CASE WHEN (xx2-xx1)*(xx2-xx1) + (yy2-yy1)*(yy2-yy1) > 0
             |        THEN GREATEST(0.0, LEAST(1.0, -(xx1*(xx2-xx1) + yy1*(yy2-yy1)) /
             |          ((xx2-xx1)*(xx2-xx1) + (yy2-yy1)*(yy2-yy1)))) ELSE 0.0 END AS tt
             |    FROM (SELECT p.event_id,
             |        (s.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1, s.y1 - p.lat AS yy1,
             |        (s.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2, s.y2 - p.lat AS yy2
             |      FROM lsegs s, pts p) p) p) GROUP BY event_id),
             |pd0 AS (SELECT event_id, MIN(SQRT(cx*cx + cy*cy)) *
             |    (PI() / 180 * 6371000.0) AS dmin FROM (
             |  SELECT p.event_id,
             |    xx1 + tt * (xx2 - xx1) AS cx, yy1 + tt * (yy2 - yy1) AS cy
             |  FROM (SELECT p.event_id, xx1, yy1, xx2, yy2,
             |      CASE WHEN (xx2-xx1)*(xx2-xx1) + (yy2-yy1)*(yy2-yy1) > 0
             |        THEN GREATEST(0.0, LEAST(1.0, -(xx1*(xx2-xx1) + yy1*(yy2-yy1)) /
             |          ((xx2-xx1)*(xx2-xx1) + (yy2-yy1)*(yy2-yy1)))) ELSE 0.0 END AS tt
             |    FROM (SELECT p.event_id,
             |        (s.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1, s.y1 - p.lat AS yy1,
             |        (s.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2, s.y2 - p.lat AS yy2
             |      FROM psegs s, pts p) p) p) GROUP BY event_id),
             |pin0 AS (SELECT p.event_id, ((SELECT COUNT(*) FROM psegs g
             |    WHERE ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |      AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |  ) % 2 = 1) AS inside FROM pts p),
             |pd AS (SELECT pd0.event_id,
             |    CASE WHEN pin0.inside THEN 0.0 ELSE pd0.dmin END AS dp
             |  FROM pd0 JOIN pin0 ON pin0.event_id = pd0.event_id)
             |SELECT p.event_id AS event_id,
             |  CAST(CASE WHEN ld.dl < 16000.0 THEN 1 ELSE 0 END AS INT) AS inb,
             |  CAST(CASE WHEN pd.dp < 12000.0 THEN 1
             |    WHEN pd.dp > 19500.0 THEN 0 ELSE -1 END AS INT) AS pin
             |FROM pts p
             |JOIN ld ON ld.event_id = p.event_id
             |JOIN pd ON pd.event_id = p.event_id
             |WHERE ld.dl < 16000.0 OR ld.dl > 26000.0
             |ORDER BY p.event_id""".stripMargin)),

    // The LLM-labeling (distillation) pipeline shape over the STUBBED chat
    // plugin: prompts fan out per document, responses aggregate into label
    // classes. The md5-derived stub replays verbatim in DuckDB.
    QueryDef("q_kql_ai_chat",
      (s, d) => run(s, d,
        """documents
          || where doc_id % 17 == 0
          || extend resp = ai_chat_completion(
          |    strcat('Classify the sentiment: ', substring(text, 0, 40)))
          || extend label = substring(resp, 16, 1)
          || summarize n = count() by label
          || sort by label asc""".stripMargin),
      Some("""SELECT SUBSTRING(MD5('Classify the sentiment: ' ||
             |    SUBSTRING(text, 1, 40)), 1, 1) AS label,
             |  COUNT(*) AS n
             |FROM documents WHERE doc_id % 17 = 0
             |GROUP BY 1 ORDER BY label""".stripMargin)),

    // Line×line predicates + length-weighted line centroid. The crossing
    // fixture intersects at exactly (1,1) (t=0.5, IEEE-exact); the
    // non-crossing row's segments never meet; the tent-shaped centroid
    // collapses to the apex longitude / mean latitude at 6 dp.
    QueryDef("q_kql_geo_lines",
      (s, d) => run(s, d,
        """datatable(id: long) [1, 2]
          || extend l1 = iff(id == 1,
          |    pack_array(pack_array(0.0, 0.0), pack_array(2.0, 2.0)),
          |    pack_array(pack_array(0.0, 0.0), pack_array(1.0, 0.0))),
          |  l2 = pack_array(pack_array(0.0, 2.0), pack_array(2.0, 0.0))
          || extend xi = iff(geo_intersects_2lines(l1, l2), 1, 0),
          |    p = geo_intersection_2lines(l1, l2),
          |    c = geo_line_centroid(pack_array(pack_array(10.0, 40.0),
          |      pack_array(10.4, 40.2), pack_array(10.8, 40.0)))
          || project id, xi,
          |    px = round(todouble(p[0][0]), 6), py = round(todouble(p[0][1]), 6),
          |    cx = round(todouble(c[0]), 6), cy = round(todouble(c[1]), 6)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, CAST(xi AS INT) AS xi,
             |  px, py, 10.4 AS cx, 40.1 AS cy
             |FROM (VALUES (1, 1, 1.0, 1.0), (2, 0, NULL, NULL))
             |  AS t(id, xi, px, py) ORDER BY id""".stripMargin)),

    QueryDef("q_kql_h3cell",
      (s, d) => run(s, d,
        """datatable(id: long, lng: real, lat: real) [
          |  1, 10.0, 10.0, 2, -170.0, -10.0]
          || extend c0 = geo_point_to_h3cell(lng, lat, 0),
          |    c5 = geo_point_to_h3cell(lng, lat, 5)
          || extend ctr = geo_h3cell_to_central_point(c5)
          || extend re = geo_point_to_h3cell(todouble(ctr[0]), todouble(ctr[1]), 5)
          || extend nb = geo_h3cell_neighbors(c5),
          |    cq = geo_point_to_h3cell(lng + 0.02, lat, 5),
          |    kids = geo_h3cell_children(c5)
          || project id, c0, len5 = strlen(c5),
          |    stable = iff(re == c5, 1, 0),
          |    nbn = array_length(nb),
          |    near = iff(cq == c5 or set_has_element(nb, cq), 1, 0),
          |    nk = array_length(kids),
          |    pok = iff(geo_h3cell_parent(tostring(kids[0])) == c5, 1, 0),
          |    lv = geo_h3cell_level(c5),
          |    r2 = array_length(geo_h3cell_rings(c5, 2)[2])
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, c0, CAST(15 AS BIGINT) AS len5,
             |  CAST(1 AS INT) AS stable, CAST(6 AS BIGINT) AS nbn,
             |  CAST(1 AS INT) AS near, CAST(7 AS BIGINT) AS nk,
             |  CAST(1 AS INT) AS pok, CAST(5 AS INT) AS lv,
             |  CAST(12 AS BIGINT) AS r2
             |FROM (VALUES (1, '8021fffffffffff'), (2, '8027fffffffffff'))
             |  AS t(id, c0) ORDER BY id""".stripMargin)),

    // geo_intersection_2polygons / geo_union_2polygons (Greiner–Hormann,
    // PolygonClipExpressions.scala) + geo_line_simplify (RDP). Closed-form
    // fixtures, hand-computed: [0,4]×[0,3] ∩ [2,6]×[1,5] = [2,4]×[1,3]
    // (4 vertices, canonical CCW from (2,1)); the union is the 8-vertex
    // rectilinear boundary with (6,1) at canonical position 3; the x+y≤4
    // triangle clipped by [1,5]² is the (1,1)(3,1)(1,3) triangle; RDP at
    // 100 m drops an 11 m wiggle to the 2 endpoints.
    QueryDef("q_kql_geo_bool",
      (s, d) => run(s, d,
        """datatable(id: long) [1]
          || extend a = pack_array(pack_array(0.0, 0.0), pack_array(4.0, 0.0),
          |      pack_array(4.0, 3.0), pack_array(0.0, 3.0)),
          |    b = pack_array(pack_array(2.0, 1.0), pack_array(6.0, 1.0),
          |      pack_array(6.0, 5.0), pack_array(2.0, 5.0)),
          |    tr = pack_array(pack_array(0.0, 0.0), pack_array(4.0, 0.0),
          |      pack_array(0.0, 4.0)),
          |    cl = pack_array(pack_array(1.0, 1.0), pack_array(5.0, 1.0),
          |      pack_array(5.0, 5.0), pack_array(1.0, 5.0))
          || extend ix = geo_intersection_2polygons(a, b),
          |    un = geo_union_2polygons(a, b),
          |    tc = geo_intersection_2polygons(tr, cl),
          |    ln = geo_line_simplify(pack_array(pack_array(0.0, 0.0),
          |      pack_array(1.0, 0.0001), pack_array(2.0, 0.0), pack_array(4.0, 0.0)), 100.0)
          || project id, ni = array_length(ix), nu = array_length(un),
          |    nt = array_length(tc),
          |    i0x = todouble(ix[0][0]), i0y = todouble(ix[0][1]),
          |    i2x = todouble(ix[2][0]),
          |    u0x = todouble(un[0][0]), u3x = todouble(un[3][0]),
          |    u3y = todouble(un[3][1]),
          |    t2x = todouble(tc[2][0]), t2y = todouble(tc[2][1]),
          |    nl = array_length(ln), lex = todouble(ln[1][0])
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(1 AS BIGINT) AS id, CAST(4 AS BIGINT) AS ni,
             |  CAST(8 AS BIGINT) AS nu, CAST(3 AS BIGINT) AS nt,
             |  2.0 AS i0x, 1.0 AS i0y, 4.0 AS i2x,
             |  0.0 AS u0x, 6.0 AS u3x, 1.0 AS u3y,
             |  1.0 AS t2x, 3.0 AS t2y,
             |  CAST(2 AS BIGINT) AS nl, 4.0 AS lex
             |ORDER BY id""".stripMargin)),

    // isutf8 (decode→re-encode round-trip validation), new_guid
    // (DETERMINISTIC stream — documented deviation from Kusto's random v4;
    // structure + distinctness are the testable contract), evaluate
    // preview(N) (single-table deviation)
    QueryDef("q_kql_scalar_misc15",
      (s, d) => run(s, d,
        """let p = events | evaluate preview(5) | summarize pn = count();
          |events
          || where event_id % 1000 == 0
          || extend g = new_guid()
          || summarize n = count(), ng = count_distinct(g),
          |    okfmt = countif(g matches regex '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$'),
          |    u = countif(isutf8(event_type)), u0 = countif(isutf8(''))
          || extend pn = toscalar(p)""".stripMargin),
      Some("""SELECT COUNT(*) AS n, COUNT(*) AS ng, COUNT(*) AS okfmt,
             |  COUNT(*) AS u, COUNT(*) AS u0, CAST(5 AS BIGINT) AS pn
             |FROM events WHERE event_id % 1000 = 0""".stripMargin)),

    // scalar batch 16: parse_user_agent (compact mainstream families —
    // documented deviation from the uap-core data corpus), deterministic
    // rand()/rand(N) bounds, repeat, pack_dictionary, dynamic_to_json,
    // parse_ipv6_mask (hand-masked oracle literal), assert,
    // current_principal/cursor_current constants, ingestion_time == ts on
    // the ingest contract, extent_id GUID shape
    // scalar batch 17: unicode codepoint round-trips (native kernels —
    // Spark chr() is ASCII-only), the base64 array inverse, extent_tags.
    QueryDef("q_kql_scalar_misc17",
      (s, d) => run(s, d,
        """datatable(id: long) [1, 2]
          || extend ms = make_string(pack_array(75, 117, 115, 116, 111)),
          |    u8 = strcat_array(to_utf8('Küs'), ','),
          |    eu = make_string(pack_array(8364)),
          |    b64 = base64_encode_fromarray(pack_array(77, 97, 110)),
          |    rt = make_string(to_utf8('plain ascii roundtrip')),
          |    et = array_length(extent_tags())
          || project id, ms, u8, eu, b64, rt, et
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, 'Kusto' AS ms,
             |  '75,195,188,115' AS u8, CHR(8364) AS eu, 'TWFu' AS b64,
             |  'plain ascii roundtrip' AS rt, CAST(0 AS BIGINT) AS et
             |FROM (VALUES (1), (2)) AS t(id) ORDER BY id""".stripMargin)),

    QueryDef("q_kql_scalar_misc16",
      (s, d) => run(s, d,
        """let ev = events
          || where event_id % 2000 == 0
          || extend xok = iff(ingestion_time() == ts
          |      and extent_id() matches regex '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$', 1, 0)
          || summarize okn = sum(xok), tot = count()
          || project ok = iff(okn == tot and tot > 0, 1, 0);
          |datatable(id: long, ua: string) [
          |  1, 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36',
          |  2, 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15',
          |  3, 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91',
          |  4, 'Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0',
          |  5, 'Mozilla/5.0 (Windows NT 10.0; Trident/7.0; rv:11.0) like Gecko',
          |  6, 'Mozilla/5.0 (Linux; Android 10; SM-G973F) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/117.0.0.0 Mobile Safari/537.36 EdgA/117.0.2045.53']
          || extend b = parse_user_agent(ua, 'browser'), o = parse_user_agent(ua, 'os')
          || extend r = rand(), ri = rand(10)
          || project id,
          |    bf = tostring(b.Browser.Family), bv = tostring(b.Browser.MajorVersion),
          |    osf = tostring(o.OperatingSystem.Family),
          |    rok = iff(r >= 0.0 and r < 1.0, 1, 0),
          |    riok = iff(ri >= 0 and ri < 10, 1, 0),
          |    rep = strcat_array(repeat(7, 3), ','),
          |    pd = tostring(pack_dictionary('k', 'v')['k']),
          |    dj = dynamic_to_json(pack_array(1, 2)),
          |    i6 = parse_ipv6_mask('2001:0db8:85a3:0000:0000:8a2e:0370:7334', 36),
          |    asrt = iff(assert(1 == 1, 'ok'), 1, 0),
          |    cp = current_principal(), cc = cursor_current(),
          |    itok = toscalar(ev),
          |    asum = array_sum(pack_array(1, 2, 3)),
          |    aavg = array_avg(pack_array(2.0, 4.0)),
          |    b64g = base64_encode_fromguid('33221100-5544-7766-8899-aabbccddeeff'),
          |    hap = iff('www.example.com' has_any_prefix ('exa', 'zzz'), 1, 0),
          |    hap2 = iff('www.example.com' has_all_prefix ('exa', 'ww'), 1, 0)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(id AS BIGINT) AS id, bf, bv, osf,
             |  CAST(1 AS INT) AS rok, CAST(1 AS INT) AS riok,
             |  '7,7,7' AS rep, 'v' AS pd, '[1,2]' AS dj,
             |  '2001:0db8:8000:0000:0000:0000:0000:0000' AS i6,
             |  CAST(1 AS INT) AS asrt, 'graftuser@graft' AS cp, '0' AS cc,
             |  CAST(1 AS INT) AS itok, 6.0 AS asum, 3.0 AS aavg,
             |  'ABEiM0RVZneImaq7zN3u/w==' AS b64g,
             |  CAST(1 AS INT) AS hap, CAST(1 AS INT) AS hap2
             |FROM (VALUES
             |  (1, 'Chrome', '120', 'Windows'),
             |  (2, 'Safari', '17', 'Mac OS X'),
             |  (3, 'Edge', '120', 'Windows'),
             |  (4, 'Firefox', '115', 'Linux'),
             |  (5, 'IE', '11', 'Windows'),
             |  (6, 'Edge', '117', 'Android')) AS t(id, bf, bv, osf)
             |ORDER BY id""".stripMargin)),

    // geo batch: intersects predicates (clipper-derived + segment tests),
    // planar densify (count is closed-form: ceil(edge_m/tol) segments),
    // simplify_polygons_array ring RDP
    QueryDef("q_kql_geo_bool2",
      (s, d) => run(s, d,
        """datatable(id: long) [1]
          || extend a = pack_array(pack_array(0.0, 0.0), pack_array(4.0, 0.0),
          |      pack_array(4.0, 3.0), pack_array(0.0, 3.0)),
          |    b = pack_array(pack_array(2.0, 1.0), pack_array(6.0, 1.0),
          |      pack_array(6.0, 5.0), pack_array(2.0, 5.0)),
          |    far = pack_array(pack_array(10.0, 10.0), pack_array(11.0, 10.0),
          |      pack_array(11.0, 11.0)),
          |    ln = pack_array(pack_array(-1.0, 1.0), pack_array(5.0, 1.0)),
          |    lout = pack_array(pack_array(-1.0, 5.0), pack_array(5.0, 5.0))
          || project id,
          |    i1 = iff(geo_intersects_2polygons(a, b), 1, 0),
          |    i2 = iff(geo_intersects_2polygons(a, far), 1, 0),
          |    l1 = iff(geo_intersects_line_with_polygon(ln, a), 1, 0),
          |    l2 = iff(geo_intersects_line_with_polygon(lout, a), 1, 0),
          |    nd = array_length(geo_line_densify(pack_array(pack_array(0.0, 0.0),
          |      pack_array(0.0, 1.0)), 55660.0)),
          |    np = array_length(geo_polygon_densify(pack_array(pack_array(0.0, 0.0),
          |      pack_array(0.0, 1.0), pack_array(0.001, 1.0)), 55660.0)),
          |    ns = array_length(geo_simplify_polygons_array(pack_array(
          |      pack_array(pack_array(0.0, 0.0), pack_array(2.0, 0.00001),
          |        pack_array(4.0, 0.0), pack_array(4.0, 3.0), pack_array(0.0, 3.0))), 100.0)[0]),
          |    u3 = geo_union_polygons_array(pack_array(a, b,
          |      pack_array(pack_array(5.0, 4.0), pack_array(8.0, 4.0),
          |        pack_array(8.0, 6.0), pack_array(5.0, 6.0)))),
          |    cl = geo_intersection_line_with_polygon(ln, a)
          || project id, i1, i2, l1, l2, nd, np, ns,
          |    nu3 = array_length(u3),
          |    v4x = todouble(u3[4][0]), v4y = todouble(u3[4][1]),
          |    ncl = array_length(cl),
          |    c0x = todouble(cl[0][0][0]), c1x = todouble(cl[0][1][0])
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(1 AS BIGINT) AS id, CAST(1 AS INT) AS i1,
             |  CAST(0 AS INT) AS i2, CAST(1 AS INT) AS l1, CAST(0 AS INT) AS l2,
             |  CAST(3 AS BIGINT) AS nd, CAST(6 AS BIGINT) AS np,
             |  CAST(4 AS BIGINT) AS ns,
             |  CAST(12 AS BIGINT) AS nu3, 6.0 AS v4x, 4.0 AS v4y,
             |  CAST(1 AS BIGINT) AS ncl, 0.0 AS c0x, 4.0 AS c1x
             |ORDER BY id""".stripMargin)),

    // series_fill_linear (scalar array form: index-axis interpolation with
    // constant edges) + series_stats / fit-dynamic multi-value forms bound
    // via tuple extend. HAND-COMPUTED oracle: [1,∅,∅,7,∅,3] → [1,3,5,7,5,3]
    // (gaps interpolate by index; 7+(3−7)·1/2 = 5), [∅,4,∅] → [4,4,4]
    // (edge runs take the nearest value); fit_line of [1,3,5,7] has slope 2,
    // intercept 1, rsquare 1 exactly.
    QueryDef("q_kql_series_fill_linear",
      (s, d) => run(s, d,
        """datatable(id: long) [1]
          || extend a = pack_array(1.0, real(null), real(null), 7.0, real(null), 3.0),
          |    b = pack_array(real(null), 4.0, real(null))
          || extend fa = series_fill_linear(a), fb = series_fill_linear(b)
          || extend (mn, mni, mx, mxi, av) = series_stats(fa)
          || extend fl = series_fit_line_dynamic(pack_array(1.0, 3.0, 5.0, 7.0))
          || project id, sa = strcat_array(fa, ';'), sb = strcat_array(fb, ';'),
          |    mn, mx = round(mx, 1), av = round(av, 6),
          |    slope = round(todouble(fl.slope), 6),
          |    icpt = round(todouble(fl.intercept), 6),
          |    r2 = round(todouble(fl.rsquare), 6)
          || sort by id asc""".stripMargin),
      Some("""SELECT CAST(1 AS BIGINT) AS id,
             |  '1.0;3.0;5.0;7.0;5.0;3.0' AS sa, '4.0;4.0;4.0' AS sb,
             |  1.0 AS mn, 7.0 AS mx, 4.0 AS av,
             |  2.0 AS slope, 1.0 AS icpt, 1.0 AS r2
             |ORDER BY id""".stripMargin)),

    // ai_embed_text: Kusto's embedding-plugin surface with the model STUBBED
    // deterministically (md5-derived 8-dim vector — no model/egress in this
    // container; the multimodal convention), so the REAL parts — schema,
    // scalar chain, downstream cosine ANN — are exercised and the oracle
    // replays the identical IEEE chain longhand (md5 hex → ints → dims →
    // left-folded dot/magnitudes; query-vector literals computed at build
    // time from the same md5). The RAG retrieval shape end-to-end.
    {
      val qhex = java.security.MessageDigest.getInstance("MD5")
        .digest("large language models".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val qv = (0 until 8).map(i =>
        Integer.parseInt(qhex.substring(i * 4, (i + 1) * 4), 16) / 65536.0 - 0.5)
      val magQ = math.sqrt(qv.map(x => x * x).sum)
      def hex4(off: Int): String = (0 until 4).map { k =>
        s"(strpos('0123456789abcdef', substr(h, ${off + k}, 1)) - 1) * ${Seq(4096, 256, 16, 1)(k)}"
      }.mkString("(", " + ", ")")
      val eDims = (0 until 8).map(i =>
        s"(${hex4(i * 4 + 1)} / 65536.0 - 0.5) AS e$i").mkString(",\n    ")
      val dot = (0 until 8).map(i => s"e$i * (${qv(i)})").mkString(" + ")
      val magE = "sqrt(" + (0 until 8).map(i => s"e$i * e$i").mkString(" + ") + ")"
      QueryDef("q_kql_ai_embed",
        (s, d) => run(s, d,
          """documents
            || where doc_id % 11 == 0
            || extend e = ai_embed_text(text)
            || extend cs = round(series_cosine_similarity(e,
            |    ai_embed_text('large language models')), 6)
            || project doc_id, e0 = round(todouble(e[0]), 6), cs
            || sort by doc_id asc""".stripMargin),
        Some(
          s"""WITH b AS (SELECT doc_id, md5(text) AS h FROM documents
             |  WHERE doc_id % 11 = 0),
             |e AS (SELECT doc_id,
             |    $eDims
             |  FROM b)
             |SELECT doc_id, ROUND(e0, 6) AS e0,
             |  ROUND(($dot) / ($magE * $magQ), 6) AS cs
             |FROM e ORDER BY doc_id""".stripMargin))
    }
  )
}
