"""KQL query templates and their DuckDB equivalents.

Each template draws its literals from a numpy Generator and returns the KQL
text the engine runs plus the SQL the oracle runs over the same parquet
files. Output columns carry the same names on both sides.
"""
import datetime as dt

from gen import DAY_US, EVENT_TYPES, SEGMENTS


# Literals move a query's window or threshold but keep the share of rows it
# touches about the same, so every run does comparable work per template.

def _jan(r, hours=72):
    """A [start, end) window of `hours` inside January 2024, whole hours."""
    a = dt.datetime(2024, 1, 1) + dt.timedelta(hours=int(r.integers(0, 30 * 24 - hours)))
    return a, a + dt.timedelta(hours=hours)


def _ship_window(r, days=90):
    a = dt.datetime(1993, 1, 1) + dt.timedelta(days=int(r.integers(0, 5 * 365)))
    return a, a + dt.timedelta(days=days)


def _k(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _q(t):
    return f"TIMESTAMP '{_k(t)}'"


def t_where_time(r):
    a, b = _jan(r)
    v = round(float(r.uniform(40, 60)), 2)
    return (f"events | where ts >= datetime({_k(a)}) and ts < datetime({_k(b)}) and value > {v} "
            f"| summarize n = count(), sv = sum(value), mx = max(value) by event_type",
            f"SELECT event_type, COUNT(*) AS n, SUM(value) AS sv, MAX(value) AS mx FROM events "
            f"WHERE ts >= {_q(a)} AND ts < {_q(b)} AND value > {v} GROUP BY event_type")


def t_bin(r):
    a, b = _jan(r)
    h = int(r.choice([1, 3, 6, 12]))
    return (f"events | where ts >= datetime({_k(a)}) and ts < datetime({_k(b)}) "
            f"| extend b = bin(ts, {h}h) | summarize n = count(), mx = max(value) by b, event_type",
            f"SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(ts)//1000000)"
            f"//{h * 3600}*{h * 3600} AS BIGINT)) SECOND AS b, event_type, COUNT(*) AS n, "
            f"MAX(value) AS mx FROM events WHERE ts >= {_q(a)} AND ts < {_q(b)} GROUP BY 1, 2")


def t_join(r):
    p = int(r.integers(200_000, 250_000))
    bal = int(r.integers(1000, 3000))
    y = int(r.integers(1992, 1999))
    return (f"orders | where o_totalprice > {p} and o_orderdate >= datetime({y}-01-01) "
            f"and o_orderdate < datetime({y + 1}-01-01) | project-rename c_custkey = o_custkey "
            f"| join kind=inner (customer | where c_acctbal > {bal} | project c_custkey, c_mktsegment) "
            f"on c_custkey | summarize n = count(), tp = sum(o_totalprice) by c_mktsegment",
            f"SELECT c_mktsegment, COUNT(*) AS n, SUM(o_totalprice) AS tp FROM orders "
            f"JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > {p} "
            f"AND o_orderdate >= TIMESTAMP '{y}-01-01' AND o_orderdate < TIMESTAMP '{y + 1}-01-01' "
            f"AND c_acctbal > {bal} GROUP BY c_mktsegment")


def t_lookup(r):
    a, b = _ship_window(r)
    return (f"lineitem | where l_shipdate >= datetime({_k(a)}) and l_shipdate < datetime({_k(b)}) "
            f"| lookup (part | project l_partkey = p_partkey, p_brand) on l_partkey "
            f"| summarize n = count(), q = sum(l_quantity) by p_brand",
            f"SELECT p_brand, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
            f"LEFT JOIN part ON l_partkey = p_partkey "
            f"WHERE l_shipdate >= {_q(a)} AND l_shipdate < {_q(b)} GROUP BY p_brand")


def t_top(r):
    q = int(r.integers(20, 30))
    d = int(r.integers(0, 11))
    n = int(r.integers(20, 30))
    return (f"lineitem | where l_quantity >= {q} and l_discount > {d / 100 - 0.005:.3f} "
            f"and l_discount < {d / 100 + 0.005:.3f} "
            f"| top {n} by l_extendedprice desc, l_orderkey asc, l_linenumber asc "
            f"| project l_orderkey, l_linenumber, l_extendedprice, l_quantity",
            f"SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem "
            f"WHERE l_quantity >= {q} AND l_discount > {d / 100 - 0.005:.3f} "
            f"AND l_discount < {d / 100 + 0.005:.3f} "
            f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {n}")


def t_dcount(r):
    a, b = _jan(r)
    return (f"events | where ts >= datetime({_k(a)}) and ts < datetime({_k(b)}) "
            f"| summarize users = dcount(user_id), n = count() by event_type",
            f"SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n FROM events "
            f"WHERE ts >= {_q(a)} AND ts < {_q(b)} GROUP BY event_type")


def t_percentiles(r):
    a, b = _ship_window(r)
    return (f"lineitem | where l_shipdate >= datetime({_k(a)}) and l_shipdate < datetime({_k(b)}) "
            f"| summarize percentiles(l_extendedprice, 25, 50, 90) by l_returnflag",
            f"SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS percentile_l_extendedprice_25, "
            f"quantile_cont(l_extendedprice, 0.5) AS percentile_l_extendedprice_50, "
            f"quantile_cont(l_extendedprice, 0.9) AS percentile_l_extendedprice_90 FROM lineitem "
            f"WHERE l_shipdate >= {_q(a)} AND l_shipdate < {_q(b)} GROUP BY l_returnflag")


def t_mvexpand(r):
    a, b = _jan(r)
    return (f"events | where ts >= datetime({_k(a)}) and ts < datetime({_k(b)}) "
            f"| mv-expand tag = pack_array(extractjson('$.src', props), extractjson('$.app', props)) "
            f"| summarize n = count(), sv = sum(value) by tag",
            f"SELECT tag, COUNT(*) AS n, SUM(value) AS sv FROM (SELECT unnest(["
            f"json_extract_string(props, '$.src'), json_extract_string(props, '$.app')]) AS tag, value "
            f"FROM events WHERE ts >= {_q(a)} AND ts < {_q(b)}) GROUP BY tag")


def t_make_series(r):
    d = int(r.integers(1, 24))
    e = d + 7
    v = int(r.integers(50, 150))
    return (f"events | where value > {v} | make-series n = count() default = 0 "
            f"on ts from datetime(2024-01-{d:02d}) to datetime(2024-01-{e:02d}) step 1d by event_type",
            f"WITH grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-{d:02d}', "
            f"TIMESTAMP '2024-01-{e - 1:02d}', INTERVAL 1 DAY)) AS ts), "
            f"f AS (SELECT event_type, date_trunc('day', ts) AS ts FROM events WHERE value > {v} "
            f"AND ts >= TIMESTAMP '2024-01-{d:02d}' AND ts < TIMESTAMP '2024-01-{e:02d}'), "
            f"keys AS (SELECT DISTINCT event_type FROM f), "
            f"agged AS (SELECT event_type, ts, COUNT(*) AS n FROM f GROUP BY 1, 2) "
            f"SELECT k.event_type AS event_type, g.ts AS ts, COALESCE(a.n, 0) AS n "
            f"FROM keys k CROSS JOIN grid g LEFT JOIN agged a ON a.event_type = k.event_type AND a.ts = g.ts")


def t_toscalar(r):
    et = EVENT_TYPES[int(r.integers(0, len(EVENT_TYPES)))]
    f = round(float(r.uniform(0.5, 0.7)), 2)
    return (f"let hi = toscalar(events | where event_type == '{et}' | summarize max(value)); "
            f"events | where value > hi * {f} | summarize n = count(), m = max(value) by event_type",
            f"SELECT event_type, COUNT(*) AS n, MAX(value) AS m FROM events WHERE value > "
            f"(SELECT MAX(value) FROM events WHERE event_type = '{et}') * {f} GROUP BY event_type")


def t_materialize(r):
    v = int(r.integers(50, 150))
    return (f"let m = materialize(events | where value > {v} | summarize n = count() by event_type); "
            f"m | union (m | project event_type, n) | summarize total = sum(n) by event_type",
            f"WITH m AS (SELECT event_type, COUNT(*) AS n FROM events WHERE value > {v} "
            f"GROUP BY event_type) SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM "
            f"(SELECT * FROM m UNION ALL SELECT * FROM m) GROUP BY event_type")


def t_where_summarize(r):
    lo = int(r.integers(1, 35))
    hi = lo + 15
    seg = SEGMENTS[int(r.integers(0, len(SEGMENTS)))]
    return (f"lineitem | where l_quantity between ({lo} .. {hi}) and l_returnflag in ('A', 'N') "
            f"| summarize n = count(), sum_qty = sum(l_quantity), avg_price = avg(l_extendedprice) "
            f"by l_returnflag, l_linestatus | extend seg = '{seg}'",
            f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
            f"AVG(l_extendedprice) AS avg_price, '{seg}' AS seg FROM lineitem "
            f"WHERE l_quantity BETWEEN {lo} AND {hi} AND l_returnflag IN ('A', 'N') "
            f"GROUP BY l_returnflag, l_linestatus")


TEMPLATES = [t_where_time, t_bin, t_join, t_lookup, t_top, t_dcount, t_percentiles,
             t_mvexpand, t_make_series, t_toscalar, t_materialize, t_where_summarize]

# queries at these positions of every 10 repeat an earlier text: 30 %
REPEAT_SLOTS = (3, 6, 9)


def query_stream(r, n):
    """n queries cycling through the templates in a fixed order, so every run
    sees the same template mix. The queries at REPEAT_SLOTS of every ten
    repeat, text for text, a seeded pick among the earlier queries of the
    same template. Returns [(template name, kql, sql, is_repeat)]."""
    issued = {t.__name__: [] for t in TEMPLATES}
    out = []
    for i in range(n):
        t = TEMPLATES[i % len(TEMPLATES)]
        prev = issued[t.__name__]
        if prev and i % 10 in REPEAT_SLOTS:
            kql, sql = prev[int(r.integers(0, len(prev)))]
            out.append((t.__name__, kql, sql, True))
        else:
            kql, sql = t(r)
            prev.append((kql, sql))
            out.append((t.__name__, kql, sql, False))
    return out


# ---------------------------------------------------------------------------
# segment_ingest reads over the compacted table `T`
# ---------------------------------------------------------------------------

def _us(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def ingest_reads(r, window_start_us, days=30, recent_days=2):
    """Three time-range reads over one cycle's compacted table, biased to the
    recent days the ingest favours."""
    def window(hours):
        lo = window_start_us + (days - recent_days) * DAY_US
        a_us = lo + int(r.integers(0, recent_days * 24 - hours)) * 3_600_000_000
        a = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=a_us)
        return a, a + dt.timedelta(hours=hours)
    a, b = window(int(r.integers(6, 24)))
    c, d = window(int(r.integers(2, 12)))
    e, f = window(int(r.integers(12, 36)))
    u = int(r.integers(0, 1500))
    return [
        (f"T | where _ts >= datetime({_us(a)}) and _ts < datetime({_us(b)}) "
         f"| summarize n = count(), sv = sum(value) by event_type",
         f"SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM T "
         f"WHERE _ts >= TIMESTAMP '{_us(a)}' AND _ts < TIMESTAMP '{_us(b)}' GROUP BY event_type"),
        (f"T | where _ts >= datetime({_us(c)}) and _ts < datetime({_us(d)}) "
         f"| extend b = bin(_ts, 1h) | summarize n = count() by b",
         f"SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST((epoch_us(_ts)//1000000)"
         f"//3600*3600 AS BIGINT)) SECOND AS b, COUNT(*) AS n FROM T "
         f"WHERE _ts >= TIMESTAMP '{_us(c)}' AND _ts < TIMESTAMP '{_us(d)}' GROUP BY 1"),
        (f"T | where _ts >= datetime({_us(e)}) and _ts < datetime({_us(f)}) and user_id == {u} "
         f"| project _ts, _dedup, value",
         f"SELECT _ts, _dedup, value FROM T WHERE _ts >= TIMESTAMP '{_us(e)}' "
         f"AND _ts < TIMESTAMP '{_us(f)}' AND user_id = {u}"),
    ]
