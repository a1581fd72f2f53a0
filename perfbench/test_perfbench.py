"""Self-tests of the benchmark (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'   # from the repo root
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402

TESTDATA = gen.testdata_root(ROOT)


class MetricNames(unittest.TestCase):
    """The metric names and units are the benchmark's interface: later
    changes are judged by them, so they are pinned here."""

    def test_end_to_end_pinned(self):
        self.assertEqual(spec.END_TO_END, {
            "setup_s": ("s", "lower"),
            "latency_p50_ms": ("ms", "lower"),
            "latency_tail_ms": ("ms", "lower"),
            "throughput_per_s": ("1/s", "higher"),
            "peak_heap_mb": ("MB", "lower"),
        })

    def test_per_layer_units(self):
        pinned = {
            "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms", "stream.bookkeeping_ms": "ms",
            "stream.jobs_per_batch": "count", "stream.tasks_per_batch": "count",
            "stream.driver_idle_ms": "ms", "stream.bulk.local1_throughput_per_s": "1/s",
            "ingest.decode_ms": "ms", "ops.prepare_ms": "ms", "ml.transform_ms": "ms",
            "ml.transform.word2vec_ms": "ms", "ml.transform.random_forest_ms": "ms",
            "sink.primary_write_ms": "ms", "sink.fallback_write_ms": "ms",
            "sink.fallback_batches": "count", "sink.files_written": "count",
            "sink.bytes_written": "bytes", "ml.fit_s": "s", "ml.fit.word2vec_s": "s",
            "ml.fit.indexers_s": "s", "ml.save_s": "s", "ml.load_s": "s",
            "queries.q_text_tfidf_s": "s", "queries.q_text_tfidf.planning_ms": "ms",
            "queries.jobs": "count", "queries.shuffle_read_bytes": "bytes",
            "queries.single_partition_exchanges": "count", "queries.driver_idle_ms": "ms",
            "bench.generator_lag_ms": "ms", "bench.fail_share": "share",
            "bench.trace_overhead.latency_p50_ms": "share",
        }
        for name, unit in pinned.items():
            self.assertEqual(spec.PER_LAYER[name][0], unit, name)

    def test_benchmark_json_matches_spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]},
                         spec.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         spec.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(spec.WORKLOADS))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))


def _sink_fixture(d, con, ids, name):
    os.makedirs(d, exist_ok=True)
    rows = ", ".join(
        f"('{i}', 'user_1', 'Bitcoin', 'some text', 'neutral', 'a-b-c', CAST(1.25 AS FLOAT), 'LOW', "
        f"TIMESTAMP '2024-01-01 00:00:01.123')" for i in ids)
    con.execute(
        f"COPY (SELECT * FROM (VALUES {rows}) t(id, author, subreddit, text_content, sentiment, "
        f"sujet, score_predit, viralite, creation_date)) TO '{d}/{name}' (FORMAT PARQUET)")


def _fallback_fixture(d, ids, job="0f8aa747-df28-41c7-8db6-336e18e4657e"):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"part-00000-{job}-c000.json"), "w") as fh:
        for i in ids:
            fh.write(json.dumps({"id": i, "author": "user_1", "subreddit": "Bitcoin",
                                 "text_content": "some text", "sentiment": "neutral",
                                 "sujet": "a-b-c", "score_predit": 1.25, "viralite": "LOW",
                                 "creation_date": "2024-01-01T00:00:01.123Z"}) + "\n")


class StreamCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.con = gen.connect()
        self.ids = ["s1_000000", "s1_000001", "s1_000002", "s1_000003"]
        self.expected = os.path.join(self.tmp, "expected")
        _sink_fixture(self.expected, self.con, self.ids, "part-00000-e.parquet")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def run_check(self, primary_ids, fallback_ids, injected=1):
        p, f = os.path.join(self.tmp, "primary"), os.path.join(self.tmp, "fallback")
        shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(f, ignore_errors=True)
        _sink_fixture(p, self.con, primary_ids, "part-00000-p.parquet")
        _fallback_fixture(f, fallback_ids)
        return check.check_stream(self.ids, [p], [f], injected, self.expected)

    def test_clean_outputs_pass(self):
        attempted, failed, notes = self.run_check(self.ids[:3], self.ids[3:])
        self.assertEqual((attempted, failed), (5, 0), notes)

    def test_dropped_record_fails(self):
        _, failed, notes = self.run_check(self.ids[:2], self.ids[3:])
        self.assertGreater(failed, 0)
        self.assertTrue(any("never landed" in n for n in notes), notes)

    def test_duplicated_record_fails(self):
        _, failed, notes = self.run_check(self.ids[:3], self.ids[2:])
        self.assertGreater(failed, 0)
        self.assertTrue(any("more than once" in n for n in notes), notes)

    def test_outage_count_mismatch_fails(self):
        _, failed, notes = self.run_check(self.ids[:3], self.ids[3:], injected=2)
        self.assertEqual(failed, 1, notes)

    def test_row_differing_from_twin_fails(self):
        shutil.rmtree(self.expected)
        _sink_fixture(self.expected, self.con, self.ids[:3], "part-00000-e.parquet")
        self.con.execute(
            f"COPY (SELECT '{self.ids[3]}' AS id, 'user_1' AS author, 'Bitcoin' AS subreddit, "
            "'some text' AS text_content, 'positive' AS sentiment, 'a-b-c' AS sujet, "
            "CAST(1.25 AS FLOAT) AS score_predit, 'LOW' AS viralite, "
            "TIMESTAMP '2024-01-01 00:00:01.123' AS creation_date) "
            f"TO '{self.expected}/part-00001-e.parquet' (FORMAT PARQUET)")
        _, failed, notes = self.run_check(self.ids[:3], self.ids[3:])
        self.assertEqual(failed, 1, notes)
        self.assertTrue(any("batch-mode twin" in n for n in notes), notes)


class QueryCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.sf = os.path.join(self.tmp, "sf")
        os.makedirs(self.sf)
        self.con = gen.connect()
        self.con.execute(f"COPY (SELECT range AS r_regionkey, 'r' || range AS r_name FROM range(5)) "
                         f"TO '{self.sf}/region.parquet' (FORMAT PARQUET)")
        self.oracle = {"q_x": "SELECT r_regionkey, r_name, r_regionkey * 0.5 AS half FROM region "
                              "ORDER BY r_regionkey"}

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def spark_output(self, sql):
        d = os.path.join(self.tmp, "out", "q_x")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.con.execute(f"CREATE OR REPLACE VIEW region AS SELECT * FROM '{self.sf}/region.parquet'")
        self.con.execute(f"COPY ({sql}) TO '{d}/part-00000-x.parquet' (FORMAT PARQUET)")
        return check.check_queries(self.sf, os.path.join(self.tmp, "out"), self.oracle, ["q_x"],
                                   os.path.join(self.tmp, "cache.json"))

    def test_matching_result_passes(self):
        attempted, failed, notes, _ = self.spark_output(self.oracle["q_x"])
        self.assertEqual((attempted, failed), (1, 0), notes)

    def test_wrong_hash_fails(self):
        wrong = self.oracle["q_x"].replace(
            "r_name,", "CASE WHEN r_regionkey = 3 THEN 'r9' ELSE r_name END AS r_name,")
        attempted, failed, notes, _ = self.spark_output(wrong)
        self.assertEqual((attempted, failed), (1, 1), notes)
        self.assertTrue(any("differs from the oracle" in n for n in notes), notes)

    def test_oracle_hash_is_cached(self):
        self.spark_output(self.oracle["q_x"])
        with open(os.path.join(self.tmp, "cache.json")) as fh:
            self.assertEqual(len(json.load(fh)), 1)


class Refusal(unittest.TestCase):
    def test_exits_nonzero_without_the_program(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "stream",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=tmp, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")
        finally:
            shutil.rmtree(tmp)


@unittest.skipUnless(os.path.exists(os.path.join(TESTDATA, "sf0.1", "documents.parquet")),
                     "test tables not present")
class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.src = gen.Source(os.path.join(TESTDATA, "sf0.1"))

    def test_same_seed_same_records(self):
        self.assertEqual(gen.stream_records(self.src, 5, 200), gen.stream_records(self.src, 5, 200))
        self.assertNotEqual(gen.stream_records(self.src, 5, 200), gen.stream_records(self.src, 6, 200))

    def test_training_disjoint_from_stream(self):
        train = gen.train_corpus(self.src)
        stream = gen.stream_records(self.src, 3, 3000)
        self.assertEqual(len(train), gen.TRAIN_RECORDS)
        self.assertFalse({r["id"] for r in train} & {r["id"] for r in stream})
        self.assertEqual(len({r["id"] for r in stream}), len(stream))

    def test_noise_share_and_hazards(self):
        recs = gen.stream_records(self.src, 9, 2000)
        noisy = [r for r in recs if r["text"] != r["text"].lower() or "http" in r["text"]
                 or any(ord(c) > 0x2000 for c in r["text"]) or r["text"][:1] in "*>#_"]
        self.assertGreater(len(noisy) / len(recs), gen.NOISE_SHARE * 0.8)
        self.assertLess(len(noisy) / len(recs), gen.NOISE_SHARE * 1.2)
        text = " ".join(r["text"] for r in recs)
        self.assertIn("K", text)
        self.assertIn("İ", text)


if __name__ == "__main__":
    unittest.main()
