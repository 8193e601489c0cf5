"""Correctness checkers. Each returns a list of failure messages (empty when
the engine's output is right); the benchmark counts every failure in
`failed` and exits non-zero when there is any."""
import datetime as dt
import decimal
import math
import os

import duckdb
import pyarrow as pa

REL_TOL = 1e-9
ABS_TOL = 1e-6


def cell(v):
    """A DuckDB value in the shape the engine's results are written in."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        delta = v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return f"ts:{(delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds}"
    if isinstance(v, dt.date):
        return f"date:{v.isoformat()}"
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [cell(x) for x in v]
    return v


def _close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _key(row):
    """Sort key that tolerates float noise: floats rounded to 6 digits."""
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v:.6g}")
        if isinstance(v, (int, bool)):
            return (1, f"{float(v):.6g}")
        return (2, str(v))
    return [k(v) for v in row]


def same_rows(got, want):
    """Multiset equality of two row lists, floats within tolerance."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return f"row {g} != expected {w}"
    return None


def oracle_rows(con, sql):
    return [[cell(v) for v in row] for row in con.execute(sql).fetchall()]


def kql_oracle(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def check_queries(con, results, sql_of):
    """`results`: engine results of each distinct query text
    [{"text", "rows"}]; `sql_of`: text -> oracle SQL."""
    fails = []
    for r in results:
        why = same_rows(r["rows"], oracle_rows(con, sql_of[r["text"]]))
        if why:
            fails.append(f"query {r['text'][:120]!r}: {why}")
    return fails


def check_ingest_cycle(compact_dir, ledger, reads):
    """A fresh read of the compacted table must hold exactly the ledger's
    distinct (_ts, _dedup) rows, and each read must match the same query
    over the ledger."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    led = ledger.set_column(0, "_ts", ledger.column("_ts").cast(pa.timestamp("us")))
    con.register("ledger", led)
    con.execute("CREATE VIEW T AS SELECT * FROM ledger")
    cols = "epoch_us(_ts) AS ts, _dedup, user_id, event_type, value, props"
    try:
        con.execute(f"CREATE VIEW got AS SELECT {cols} FROM read_parquet("
                    f"'{compact_dir}/*/*.parquet', hive_partitioning = true)")
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    except duckdb.Error as e:
        return [f"compacted table {compact_dir} unreadable: {e}"]
    fails = []
    if n_got != ledger.num_rows:
        fails.append(f"{compact_dir}: {n_got} rows, ledger has {ledger.num_rows} distinct rows")
    extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                        f"SELECT {cols} FROM ledger)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM ledger EXCEPT ALL "
                          f"SELECT * FROM got)").fetchone()[0]
    if extra or missing:
        fails.append(f"{compact_dir}: {extra} rows not in the ledger, {missing} ledger rows missing")
    for text, sql, rows in reads:
        if rows is None:
            continue
        why = same_rows(rows, oracle_rows(con, sql))
        if why:
            fails.append(f"read {text[:100]!r}: {why}")
    return fails


def check_curation_pass(out, truth, n_docs):
    """Exact dedup drops exactly the injected copies; every injected near
    duplicate is among the MinHash and the SimHash pairs; SemDeDup removes
    every injected vector copy and nothing else, at both k."""
    fails = []
    if out["exact_kept"] is not None:
        want = sorted(set(range(n_docs)) - set(truth["exact_copy_ids"]))
        got = out["exact_kept"]
        if got != want:
            fails.append(f"exact dedup kept {len(got)} docs, expected {len(want)}; "
                         f"first differences {sorted(set(got) ^ set(want))[:5]}")
    for key in ("minhash_pairs", "simhash_pairs"):
        if out[key] is None:
            continue
        found = {tuple(p) for p in out[key]}
        lost = [p for p in truth["near_pairs"] if tuple(p) not in found]
        if lost:
            fails.append(f"{key}: {len(lost)} injected near duplicates not found, e.g. {lost[:3]}")
    for key in ("semdedup_small_k_removed", "semdedup_large_k_removed"):
        if out[key] is not None and sorted(out[key]) != sorted(truth["vector_dup_ids"]):
            got, want = set(out[key]), set(truth["vector_dup_ids"])
            fails.append(f"{key}: {len(want - got)} injected copies kept, "
                         f"{len(got - want)} originals removed")
    return fails
