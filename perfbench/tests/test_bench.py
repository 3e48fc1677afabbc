"""Tests for the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for kind in (False, True):
                a, b, c = (os.path.join(t, f"{x}{kind}") for x in "abc")
                gen.generate(5, a, kind, docs=400)
                gen.generate(5, b, kind, docs=400)
                gen.generate(6, c, kind, docs=400)
                self.assertEqual(digest(a), digest(b))
                self.assertNotEqual(digest(a), digest(c))

    def test_tweet_corpus_shape(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate(3, t, True, docs=4000)
            path = os.path.join(t, "documents.parquet")
            con = duckdb.connect()
            share = lambda cond: con.execute(  # noqa: E731
                f"SELECT avg(CASE WHEN {cond} THEN 1 ELSE 0 END) FROM '{path}'").fetchone()[0]
            c = gen.CORPUS
            # each share within a few points of its target (noise marks
            # also arrive through retweet copies)
            self.assertAlmostEqual(share("text LIKE '%http%' OR text LIKE '%www.%'"),
                                   c["url_share"], delta=0.04)
            self.assertAlmostEqual(share("text LIKE '%@%'"), c["mention_share"], delta=0.04)
            self.assertAlmostEqual(share("text LIKE '%#%'"), c["hashtag_share"], delta=0.04)
            dup = con.execute(f"SELECT 1 - count(DISTINCT text) / count(*) FROM '{path}'").fetchone()[0]
            self.assertAlmostEqual(dup, c["exact_dup_share"], delta=0.03)
            self.assertTrue(con.execute(f"SELECT bool_and(n_chars = length(text)) FROM '{path}'").fetchone()[0])
            import pyarrow.parquet as pq
            self.assertEqual(pq.ParquetFile(path).metadata.num_row_groups, c["row_groups"])


def fake_run():
    return {"setup_s": 20.5, "pass_s": [6.1, 6.3], "pass_cpu_s": [12.0, 12.4],
            "query_s": {"q1": [0.5, 0.6], "q2": [1.1, 1.0]}, "peak_rss_mb": 1100.0,
            "attempted": 8, "failed": 0, "errors": {}}


def fake_trace():
    q = {k: 1.0 for k in set(run.SUMMED.values()) | {"write_ms"}}
    return {"traced": [{"q1": q, "q2": q}, {"q1": q, "q2": q}], "plain_pass_s": [0.004],
            "cpus": 4, "cold_codegen_compiles": 10, "cold_codegen_ms": 50.0,
            "warm_codegen_compiles": 0, "probes": {p: 1.0 for p in run.PROBES},
            "queries": ["q1", "q2"]}


class MetricNamesTest(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        self.assertEqual(sorted(run.end_to_end(fake_run())), run.declared("end_to_end"))

    def test_per_layer_names_match_benchmark_json(self):
        self.assertEqual(sorted(run.per_layer(fake_trace())), run.declared("per_layer"))

    def test_units_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        emitted = {**run.end_to_end(fake_run()), **run.per_layer(fake_trace())}
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertEqual(emitted[m["name"]]["unit"], m["unit"], m["name"])

    def test_workloads_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            names = sorted(w["name"] for w in json.load(fh)["workloads"])
        self.assertEqual(names, sorted(run.WORKLOADS))


class WrongResultTest(unittest.TestCase):
    """A deliberately wrong result is caught and raises failed_frac."""

    QUERY = "q21_sentiment_decode"
    SQL = ("SELECT doc_id, doc_id % 3 AS pred, CASE WHEN doc_id % 3 = 1 THEN 'Positive sentiment' "
           "WHEN doc_id % 3 = 0 THEN 'Negative sentiment' ELSE 'Unknown sentiment' END "
           "AS sentiment FROM documents ORDER BY doc_id")

    def outputs(self, t, corrupt):
        data, check = os.path.join(t, "data"), os.path.join(t, "check")
        gen.generate(9, data)
        os.makedirs(os.path.join(check, self.QUERY))
        with open(os.path.join(check, "oracle_sql.json"), "w") as fh:
            json.dump({self.QUERY: self.SQL}, fh)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'")
        sql = self.SQL
        if corrupt:  # flip one label, the way an off-by-one decode would
            sql = sql.replace("doc_id % 3 = 1 THEN", "doc_id % 3 = 1 AND doc_id <> 4 THEN")
        con.execute(f"COPY ({sql}) TO '{check}/{self.QUERY}/part-0.parquet' (FORMAT PARQUET)")
        return data, check

    def failed_frac(self, corrupt):
        with tempfile.TemporaryDirectory() as t:
            data, check = self.outputs(t, corrupt)
            mismatches = oracle.check(data, check, [self.QUERY])
        attempted, failed = run.outcome({"attempted": 4, "failed": 0}, mismatches)
        return failed / attempted, mismatches

    def test_correct_result_passes(self):
        self.assertEqual(self.failed_frac(False), (0.0, {}))

    def test_wrong_result_raises_failed_frac(self):
        frac, mismatches = self.failed_frac(True)
        self.assertGreater(frac, 0.0)
        self.assertIn(self.QUERY, mismatches)

    def test_rows_only_checks_catch_a_short_ann_result(self):
        with tempfile.TemporaryDirectory() as t:
            data, check = self.outputs(t, False)
            q = os.path.join(check, "q37_ann_ivf")
            os.makedirs(q)
            duckdb.connect().execute(
                "COPY (SELECT i // 5 AS q_id, i % 5 + 1 AS rank, 10 + i AS c_id, 0.5 AS sim "
                f"FROM range(49) t(i)) TO '{q}/part-0.parquet' (FORMAT PARQUET)")
            self.assertIn("q37_ann_ivf", oracle.check(data, check, ["q37_ann_ivf"]))

    def test_float_off_in_the_last_bit_is_a_mismatch(self):
        with tempfile.TemporaryDirectory() as t:
            data, check = self.outputs(t, False)
            q = "q_float"
            with open(os.path.join(check, "oracle_sql.json"), "w") as fh:
                json.dump({q: "SELECT 0.1::DOUBLE + 0.2::DOUBLE AS x"}, fh)
            os.makedirs(os.path.join(check, q))
            duckdb.connect().execute(
                f"COPY (SELECT 0.3::DOUBLE AS x) TO '{check}/{q}/part-0.parquet' (FORMAT PARQUET)")
            self.assertIn("approx ok", oracle.check(data, check, [q]).get(q, ""))


class MinhashCheckTest(unittest.TestCase):
    """q33 must be non-empty and find every Jaccard 1.0 pair."""

    QUERY = "q33_minhash_lsh_pairs"
    # stands in for q32's oracle: the exact-copy pairs, Jaccard 1.0
    EXACT = ("SELECT a.doc_id AS a_id, b.doc_id AS b_id, 1.0::DOUBLE AS jaccard FROM documents a "
             "JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id")

    def check(self, keep):
        with tempfile.TemporaryDirectory() as t:
            data, check = os.path.join(t, "data"), os.path.join(t, "check")
            gen.generate(9, data)
            os.makedirs(os.path.join(check, self.QUERY))
            with open(os.path.join(check, "oracle_sql.json"), "w") as fh:
                json.dump({"q32_ngram_jaccard_pairs": self.EXACT}, fh)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'")
            con.execute(f"COPY (SELECT * FROM ({self.EXACT}) ORDER BY a_id, b_id LIMIT {keep}) "
                        f"TO '{check}/{self.QUERY}/part-0.parquet' (FORMAT PARQUET)")
            n = con.execute(f"SELECT count(*) FROM ({self.EXACT})").fetchone()[0]
            return n, oracle.check(data, check, [self.QUERY])

    def test_all_pairs_pass(self):
        n, bad = self.check(1_000_000)
        self.assertGreater(n, 1)
        self.assertEqual(bad, {})

    def test_empty_result_fails(self):
        self.assertIn("empty result", self.check(0)[1][self.QUERY])

    def test_missed_pair_fails(self):
        n, _ = self.check(1_000_000)
        self.assertIn("1 Jaccard 1.0 pairs missed", self.check(n - 1)[1][self.QUERY])


if __name__ == "__main__":
    unittest.main()
