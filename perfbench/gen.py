"""Seeded input generators for the three benchmark workloads.

Every generator takes a seed and returns plain Python / numpy / pyarrow data;
the same seed always gives byte-identical inputs. The engine only ever sees
what these functions write to disk.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH0 = dt.datetime(2024, 1, 1)
DAYS = 30
DAY_US = 86_400_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.35, 0.30, 0.15, 0.12, 0.08]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TAGS = ["web", "ios", "android", "api", "batch", "beta"]
COLOURS = ["almond", "azure", "blush", "coral", "cyan", "khaki", "lace", "linen",
           "navy", "olive", "orchid", "peach", "plum", "rose", "tan", "wheat"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.1 row counts of the star schema and the meerkat tables
SF01 = dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
            lineitem_per_order=4, events=100_000)


def rng_for(seed, stream):
    """Independent generator per (seed, stream name): adding a table never
    perturbs the draws of another."""
    return np.random.default_rng([seed, sum(ord(c) * 131 ** i for i, c in enumerate(stream)) % 2**32])


def _ts_us(days_offset_us):
    return pa.array(days_offset_us + int(EPOCH0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000,
                    type=pa.int64())


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def events_table(seed, n=SF01["events"], stream="events"):
    """The meerkat events stream: one row per event over 30 days of January
    2024, ids ascending with time (like an ingest log)."""
    r = rng_for(seed, stream)
    offs = np.sort(r.integers(0, DAYS * DAY_US, n))
    et = r.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    value = np.round(r.gamma(2.0, 50.0, n), 2)
    k = r.integers(0, 100, n)
    t1 = r.integers(0, len(TAGS), n)
    t2 = r.integers(0, len(TAGS), n)
    props = [json.dumps({"k": int(a), "src": TAGS[b], "app": TAGS[c]})
             for a, b, c in zip(k, t1, t2)]
    ts_ns = pc.multiply(_ts_us(offs), 1000)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_ns.cast(pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in et]),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def star_tables(seed):
    """TPC-H-shaped star schema at sf0.1."""
    r = rng_for(seed, "star")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc = SF01["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, nc)])})
    ns = SF01["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, ns + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, ns + 1)]),
        "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, ns), 2))})
    npart = SF01["part"]
    c1 = r.integers(0, len(COLOURS), npart)
    c2 = r.integers(0, len(COLOURS), npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, npart + 1, dtype=np.int64)),
        "p_name": pa.array([f"{COLOURS[a]} {COLOURS[b]}" for a, b in zip(c1, c2)]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in
                             zip(r.integers(1, 6, npart), r.integers(1, 6, npart))]),
        "p_type": pa.array([f"TYPE{i}" for i in r.integers(0, 25, npart)]),
        "p_size": pa.array(r.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(r.uniform(900, 2100, npart), 2))})
    no = SF01["orders"]
    odate = r.integers(0, 7 * 365, no) * DAY_US
    base_ms = int(dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, no + 1, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(1, nc + 1, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.choice(3, no, p=[.49, .49, .02])]),
        "o_totalprice": pa.array(np.round(r.uniform(850, 450_000, no), 2)),
        "o_orderdate": pa.array(base_ms + odate // 1000, type=pa.int64()).cast(pa.timestamp("ms")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, no)])})
    nl = r.integers(1, 2 * SF01["lineitem_per_order"], no)
    lok = np.repeat(np.arange(1, no + 1, dtype=np.int64), nl)
    lln = (np.arange(len(lok)) - np.repeat(np.cumsum(nl) - nl, nl) + 1).astype(np.int32)
    n = len(lok)
    ship = np.repeat(odate, nl) + r.integers(1, 122, n) * DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(r.integers(1, npart + 1, n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(1, ns + 1, n).astype(np.int64)),
        "l_linenumber": pa.array(lln),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n)]),
        "l_shipdate": pa.array(base_ms + ship // 1000, type=pa.int64()).cast(pa.timestamp("ms"))})
    return out


def write_kql_inputs(seed, data_dir):
    tables = star_tables(seed)
    tables["events"] = events_table(seed)
    for name, t in tables.items():
        _write(t, os.path.join(data_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# segment_ingest
# ---------------------------------------------------------------------------

INGEST = dict(batch_rows=5_000, batches_per_cycle=8, resubmit_share=0.15,
              window_days=8, recent_share=0.6, recent_days=2)


def ingest_cycle(seed, cycle, p=INGEST):
    """Batches of one ingest cycle plus its ledger.

    Rows are meerkat events keyed by (_ts, _dedup). Timestamps are shifted
    into a `window_days` window and a `recent_share` of rows lands on its
    last `recent_days` days. From the second batch on, a `resubmit_share` of each
    batch re-sends rows the cycle already sent, byte for byte.
    Returns (batches, ledger, stats) where ledger is the table of distinct rows.
    """
    r = rng_for(seed, f"ingest-{cycle}")
    shift = int(r.integers(0, 365)) * DAY_US
    base = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000 + shift
    sent = []
    batches = []
    n_resub = n_recent = n_rows = 0
    next_dedup = cycle * 10_000_000
    for b in range(p["batches_per_cycle"]):
        n = p["batch_rows"]
        n_old = int(n * p["resubmit_share"]) if sent else 0
        n_new = n - n_old
        recent = r.random(n_new) < p["recent_share"]
        days = p["window_days"]
        off = np.where(recent,
                       (days - p["recent_days"]) * DAY_US + r.integers(0, p["recent_days"] * DAY_US, n_new),
                       r.integers(0, days * DAY_US, n_new))
        et = r.choice(len(EVENT_TYPES), n_new, p=EVENT_TYPE_P)
        new = pa.table({
            "_ts": pa.array(base + off, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "_dedup": pa.array(np.arange(next_dedup, next_dedup + n_new, dtype=np.int64)),
            "user_id": pa.array(r.integers(0, 1500, n_new).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in et]),
            "value": pa.array(np.round(r.gamma(2.0, 50.0, n_new), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_new)]),
        })
        next_dedup += n_new
        n_recent += int(recent.sum())
        if n_old:
            pool = pa.concat_tables(sent)
            old = pool.take(pa.array(r.choice(pool.num_rows, n_old, replace=False)))
            batch = pa.concat_tables([new, old])
        else:
            batch = new
        n_resub += n_old
        n_rows += batch.num_rows
        sent.append(new)
        batches.append(batch)
    ledger = pa.concat_tables(sent)
    stats = dict(rows=n_rows, resubmitted=n_resub, recent=n_recent,
                 distinct=ledger.num_rows, window_start_us=base)
    return batches, ledger, stats


def input_bytes(table):
    """Uncompressed size of rows: 8 B per long/double/timestamp, UTF-8 length
    of each string."""
    total = 0
    for col in table.columns:
        if pa.types.is_string(col.type):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            total += 8 * len(col)
    return total


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------

CURATION = dict(docs=1_000, exact_copies=40, near_dups=40, vectors=2_200,
                vector_dups=40, dim=64, vocab=3_000, zipf=0.8)


def _vocab(r, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(r.choice(letters, int(r.integers(3, 9)))))
    return sorted(words)


def curation_corpus(seed, p=CURATION, stream="curation"):
    """Documents and embeddings with injected duplicates.

    Documents: Zipf-distributed words, 60-120 per document (a flat enough
    law that unrelated documents rarely share a SimHash chunk). Injected exact
    copies re-send an original with different case and spacing, which
    content normalisation removes. Injected near duplicates swap two adjacent
    distinct words of an original: the token bag is unchanged and
    only four 3-shingles change. Vectors: Gaussian, with injected copies
    perturbed by 0.1 % noise. Every injected item has a larger id than the
    original it copies.
    """
    r = rng_for(seed, stream)
    vocab = _vocab(r, p["vocab"])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** p["zipf"]
    zipf /= zipf.sum()
    texts, seen = [], set()
    while len(texts) < p["docs"]:
        words = [vocab[i] for i in r.choice(len(vocab), int(r.integers(60, 121)), p=zipf)]
        t = " ".join(words)
        if t not in seen:
            seen.add(t)
            texts.append(t)
    n = len(texts)
    originals = r.choice(n, p["exact_copies"] + p["near_dups"], replace=False)
    exact_src, near_src = originals[:p["exact_copies"]], originals[p["exact_copies"]:]
    ids = list(range(n))
    exact_ids, near_pairs = [], []
    for s in exact_src:
        words = texts[s].split(" ")
        t = "  ".join(w.upper() if i % 3 == 0 else w for i, w in enumerate(words)) + " "
        exact_ids.append(len(texts))
        texts.append(t)
    for s in near_src:
        words = texts[s].split(" ")
        while True:
            i = int(r.integers(0, len(words) - 1))
            if words[i] != words[i + 1]:
                break
        words[i], words[i + 1] = words[i + 1], words[i]
        near_pairs.append((int(s), len(texts)))
        texts.append(" ".join(words))
    ids = np.arange(len(texts), dtype=np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([("en", "de", "fr", "zh")[i] for i in r.integers(0, 4, len(texts))]),
        "source": pa.array([f"src{i % 7}" for i in range(len(texts))]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv, dim = p["vectors"], p["dim"]
    vecs = r.standard_normal((nv, dim)).astype(np.float32)
    vsrc = r.choice(nv, p["vector_dups"], replace=False)
    copies = vecs[vsrc] + (0.001 * r.standard_normal((len(vsrc), dim))).astype(np.float32) * \
        np.abs(vecs[vsrc]).mean(axis=1, keepdims=True)
    allv = np.concatenate([vecs, copies.astype(np.float32)])
    emb = pa.table({
        "vec_id": pa.array(np.arange(len(allv), dtype=np.int64)),
        "embedding": pa.array(list(allv), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, len(allv)).astype(np.int32)),
    })
    truth = dict(exact_copy_ids=[int(i) for i in exact_ids],
                 near_pairs=near_pairs,
                 vector_dup_ids=list(range(nv, nv + len(vsrc))),
                 vector_dup_pairs=[(int(s), nv + j) for j, s in enumerate(vsrc)])
    return docs, emb, truth


def write_curation_inputs(seed, data_dir):
    docs, emb, truth = curation_corpus(seed)
    _write(docs, os.path.join(data_dir, "documents.parquet"))
    _write(emb, os.path.join(data_dir, "embeddings.parquet"))
    # the warm-up corpus has the measured one's size, so the warm-up runs the
    # same per-document work as many times before timing
    wdocs, wemb, _ = curation_corpus(seed, CURATION, "curation-warmup")
    _write(wdocs, os.path.join(data_dir, "warmup", "documents.parquet"))
    _write(wemb, os.path.join(data_dir, "warmup", "embeddings.parquet"))
    return docs.num_rows, emb.num_rows, truth
