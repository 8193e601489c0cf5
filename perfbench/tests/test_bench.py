"""The benchmark's own tests: generators are deterministic, the result line
parses and names every metric of BENCHMARK.json, and every correctness
checker rejects a deliberately wrong result.

    python3 -m unittest discover -s perfbench/tests

They need python3 with numpy, pyarrow and duckdb, but no JVM.
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import templates  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertTrue(gen.events_table(7, n=2000).equals(gen.events_table(7, n=2000)))
        a, b = gen.star_tables(7), gen.star_tables(7)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        ba, la, sa = gen.ingest_cycle(7, 3)
        bb, lb, sb = gen.ingest_cycle(7, 3)
        self.assertTrue(all(x.equals(y) for x, y in zip(ba, bb)))
        self.assertTrue(la.equals(lb))
        self.assertEqual(sa, sb)
        da, ea, ta = gen.curation_corpus(7)
        db, eb, tb = gen.curation_corpus(7)
        self.assertTrue(da.equals(db) and ea.equals(eb))
        self.assertEqual(ta, tb)
        qa = templates.query_stream(gen.rng_for(7, "queries"), 60)
        qb = templates.query_stream(gen.rng_for(7, "queries"), 60)
        self.assertEqual(qa, qb)

    def test_other_seed_other_inputs(self):
        self.assertFalse(gen.events_table(7, n=2000).equals(gen.events_table(8, n=2000)))
        self.assertNotEqual(templates.query_stream(gen.rng_for(7, "queries"), 24),
                            templates.query_stream(gen.rng_for(8, "queries"), 24))

    def test_traffic_properties(self):
        batches, ledger, st = gen.ingest_cycle(7, 0)
        self.assertEqual(st["rows"], sum(b.num_rows for b in batches))
        self.assertEqual(st["distinct"], ledger.num_rows)
        keys = set(zip(ledger.column("_ts").to_pylist(), ledger.column("_dedup").to_pylist()))
        self.assertEqual(len(keys), ledger.num_rows)
        self.assertGreater(st["resubmitted"], 0)
        stream = templates.query_stream(gen.rng_for(7, "queries"), 120)
        repeats = [kql for _, kql, _, rep in stream if rep]
        earlier = {kql for _, kql, _, rep in stream if not rep}
        self.assertTrue(repeats and set(repeats) <= earlier)


class ResultLineTest(unittest.TestCase):
    def test_parses_with_every_metric(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        for section, names in (("end_to_end", run.E2E), ("per_layer", run.LAYERS)):
            declared = [(m["name"], m["unit"]) for m in bench[section]]
            self.assertEqual(declared, names)
            line = run.result_line([], 12, {n: (1.5, u) for n, u in names})
            out = json.loads(line)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), {n for n, _ in names})
            self.assertTrue(out["correct"])
        bad = json.loads(run.result_line(["x"], 3, {"setup_s": (1.0, "s")}))
        self.assertEqual((bad["correct"], bad["failed"]), (False, 1))

    def test_self_time(self):
        spans = [dict(id=1, parent=0, name="op", start_us=0, end_us=100),
                 dict(id=2, parent=1, name="a", start_us=10, end_us=40),
                 dict(id=3, parent=1, name="b", start_us=30, end_us=60)]
        st = run.self_times(spans)
        self.assertEqual(st["op"], (1, 0.1, 0.05))


class CheckerTest(unittest.TestCase):
    def test_query_checker(self):
        con = checks.duckdb.connect()
        sql = "SELECT 'a' AS k, 2 AS n, 0.5 AS v UNION ALL SELECT 'b', 3, 1.25"
        good = [{"text": "q", "rows": [["b", 3, 1.25], ["a", 2, 0.5]]}]
        self.assertEqual(checks.check_queries(con, good, {"q": sql}), [])
        for rows in ([["a", 2, 0.5]], [["a", 2, 0.5], ["b", 4, 1.25]],
                     [["a", 2, 0.5], ["b", 3, 1.5]]):
            self.assertTrue(checks.check_queries(con, [{"text": "q", "rows": rows}], {"q": sql}))

    def test_timestamps_compare_as_micros(self):
        con = checks.duckdb.connect()
        got = [["ts:1704067200000001"]]
        self.assertIsNone(checks.same_rows(
            got, checks.oracle_rows(con, "SELECT TIMESTAMP '2024-01-01 00:00:00.000001'")))

    def _table(self, tmp, rows):
        """Write rows as a compacted, ts_bucket-partitioned table."""
        d = os.path.join(tmp, "compacted")
        pq.write_to_dataset(rows.append_column("ts_bucket", pa.array(["2024-01-01"] * rows.num_rows)),
                            d, partition_cols=["ts_bucket"],
                            basename_template="part-{i}.parquet")
        return d

    def test_ingest_checker(self):
        _, ledger, _ = gen.ingest_cycle(7, 0, dict(gen.INGEST, batch_rows=50))
        with tempfile.TemporaryDirectory() as tmp:
            self.assertEqual(checks.check_ingest_cycle(self._table(tmp, ledger), ledger, []), [])
        wrong = [ledger.slice(1),  # a lost row
                 pa.concat_tables([ledger, ledger.slice(0, 1)])]  # a kept duplicate
        for rows in wrong:
            with tempfile.TemporaryDirectory() as tmp:
                self.assertTrue(checks.check_ingest_cycle(self._table(tmp, rows), ledger, []))
        with tempfile.TemporaryDirectory() as tmp:
            d = self._table(tmp, ledger)
            sql = "SELECT COUNT(*) AS n FROM T"
            self.assertEqual(checks.check_ingest_cycle(d, ledger, [("r", sql, [[ledger.num_rows]])]), [])
            self.assertTrue(checks.check_ingest_cycle(d, ledger, [("r", sql, [[ledger.num_rows + 1]])]))

    def test_curation_checker(self):
        docs, _, truth = gen.curation_corpus(7, dict(gen.CURATION, docs=80, exact_copies=4,
                                                     near_dups=4, vectors=40, vector_dups=3))
        n = docs.num_rows
        right = {"exact_kept": sorted(set(range(n)) - set(truth["exact_copy_ids"])),
                 "minhash_pairs": [list(p) for p in truth["near_pairs"]] + [[0, 1]],
                 "simhash_pairs": [list(p) for p in truth["near_pairs"]],
                 "semdedup_small_k_removed": truth["vector_dup_ids"],
                 "semdedup_large_k_removed": truth["vector_dup_ids"]}
        self.assertEqual(checks.check_curation_pass(right, truth, n), [])
        wrongs = [dict(right, exact_kept=right["exact_kept"][1:]),
                  dict(right, exact_kept=list(range(n))),
                  dict(right, minhash_pairs=right["minhash_pairs"][1:]),
                  dict(right, simhash_pairs=[]),
                  dict(right, semdedup_small_k_removed=truth["vector_dup_ids"][1:]),
                  dict(right, semdedup_large_k_removed=truth["vector_dup_ids"] + [0])]
        for w in wrongs:
            self.assertTrue(checks.check_curation_pass(w, truth, n))


if __name__ == "__main__":
    unittest.main()
