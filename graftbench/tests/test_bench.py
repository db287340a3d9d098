"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s graftbench/tests

They need no Spark and no build. The end-to-end check that an injected
wrong result fails a real run is `test_injected_wrong_op_fails_the_run`;
it builds and runs the program, so it runs only with GRAFTBENCH_SLOW=1.
"""
import json
import os
import random
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

MS = 1000000  # ns


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(benchlib.percentile(range(1, 100), 90))  # 99 samples
        self.assertEqual(benchlib.percentile(range(1, 101), 90), 90)
        xs = list(range(1, 101))
        self.assertEqual(sum(1 for x in xs if x > benchlib.percentile(xs, 90)), 10)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        # 100 samples, but the top 20 share one value: nothing lies beyond p90
        self.assertIsNone(benchlib.percentile([1] * 80 + [5] * 20, 90))

    def test_median_needs_ten_beyond_as_well(self):
        self.assertIsNone(benchlib.percentile(range(19), 50))
        self.assertEqual(benchlib.percentile(range(1, 21), 50), 10)

    def test_closed_loop_metrics_omit_an_unsupported_p90(self):
        ops = [{"ok": True, "ms": float(i), "traced": False} for i in range(50)]
        m = run.end_to_end({"workload": "olap", "setup_s": 1.0,
                            "run": {"ops": ops, "window_s": 10.0}}, 0.5)
        self.assertIn("latency_p50_ms", m)
        self.assertNotIn("latency_p90_ms", m)
        self.assertEqual(m["setup_s"], (1.5, "s"))
        self.assertEqual(m["ops_per_s"], (5.0, "1/s"))


class OpenLoopLatency(unittest.TestCase):
    @staticmethod
    def ticks(n, every_ms=100, late_ms=None):
        late_ms = late_ms or {}
        return [{"due_ns": k * every_ms * MS,
                 "sent_ns": (k * every_ms + late_ms.get(k, 0)) * MS,
                 "offset": k, "docs": 2} for k in range(n)]

    def test_latency_is_measured_from_the_due_time(self):
        # the generator ran 300 ms late on tick 1; the doc still counts
        # from when it was due, not from when it was sent
        ticks = self.ticks(2, late_ms={1: 300})
        batches = [{"start_offset": -1, "end_offset": 1, "commit_ns": 600 * MS}]
        lat, missing = benchlib.open_loop_latencies(ticks, batches)
        self.assertEqual(missing, 0)
        self.assertEqual(lat, [600.0, 500.0])

    def test_one_stall_raises_the_latency_of_every_later_doc(self):
        # batches commit every 100 ms, each holding the tick due 50 ms
        # before; then one batch stalls for a second and the next batch
        # takes everything that arrived meanwhile
        ticks = self.ticks(20)
        batches = [{"start_offset": k - 1, "end_offset": k,
                    "commit_ns": (k * 100 + 50) * MS} for k in range(10)]
        batches.append({"start_offset": 9, "end_offset": 19,
                        "commit_ns": 2000 * MS})
        lat, _ = benchlib.open_loop_latencies(ticks, batches)
        self.assertTrue(all(x == 50.0 for x in lat[:10]))
        # every doc due during the stall waits for its end
        self.assertEqual(lat[10:], [2000.0 - k * 100 for k in range(10, 20)])

    def test_a_percentile_counts_sends_not_docs(self):
        # 50 sends of 4 docs: 200 docs, but only 5 sends lie beyond the
        # p90, so there is no p90
        ticks = [dict(t, docs=4) for t in self.ticks(50)]
        batches = [{"start_offset": k - 1, "end_offset": k,
                    "commit_ns": (k * 100 + 10 + k) * MS} for k in range(50)]
        m = run.end_to_end({"workload": "ingest", "setup_s": 1.0, "run": {
            "capacity": {"batch_s": [0.5, 1.5], "batch_docs": 50,
                         "compact_every": 2}, "ticks": ticks,
            "batches": [dict(b, phase="latency") for b in batches]}}, 0.0)
        self.assertNotIn("latency_p90_ms", m)
        self.assertEqual(m["latency_p50_ms"], (34.0, "ms"))
        self.assertEqual(m["ops_per_s"], (50.0, "1/s"))

    def test_capacity_is_the_rate_of_the_median_cycle(self):
        # cycles of two batches take 2, 2.2, 9 (a stall) and 2.1 s
        batch_s = [1.0, 1.0, 1.0, 1.2, 1.0, 8.0, 1.0, 1.1]
        self.assertAlmostEqual(benchlib.cycle_rate(batch_s, 100, 2), 200 / 2.15)
        # an unfinished last cycle is left out
        self.assertAlmostEqual(benchlib.cycle_rate(batch_s[:7], 100, 2), 200 / 2.2)
        self.assertIsNone(benchlib.cycle_rate([1.0], 100, 2))

    def test_docs_of_no_committed_batch_are_reported(self):
        _, missing = benchlib.open_loop_latencies(self.ticks(3), [
            {"start_offset": -1, "end_offset": 1, "commit_ns": 500 * MS}])
        self.assertEqual(missing, 2)

    def test_backlog_counts_sent_but_uncommitted_docs(self):
        ticks = self.ticks(4)
        batches = [{"start_offset": -1, "end_offset": 1, "start_ns": 150 * MS,
                    "commit_ns": 250 * MS},
                   {"start_offset": 1, "end_offset": 3, "start_ns": 350 * MS,
                    "commit_ns": 450 * MS}]
        self.assertEqual(benchlib.backlog_rows(ticks, batches), [4, 4])


class WrongResultsFail(unittest.TestCase):
    def closed_loop(self, ops, verdicts):
        saved = benchlib.oracle_check
        benchlib.oracle_check = lambda *a: verdicts
        try:
            with tempfile.TemporaryDirectory() as work:
                os.makedirs(os.path.join(work, "verify"))
                with open(os.path.join(work, "verify", "oracle_sql.json"), "w") as f:
                    json.dump({k: "" for k in verdicts}, f)
                res = {"run": {"ops": ops, "verified_rows": {k: 1 for k in verdicts}}}
                return run.check_olap(res, work, work)
        finally:
            benchlib.oracle_check = saved

    def test_an_op_that_differs_from_the_verified_result_is_failed(self):
        ops = [{"key": "q_a", "pass": 0, "ok": True, "error": ""},
               {"key": "q_a", "pass": 1, "ok": False,
                "error": "result differs from the verified result"}]
        attempted, failed, problems = self.closed_loop(ops, {"q_a": None})
        self.assertEqual((attempted, failed), (2, 1))
        self.assertTrue(problems)

    def test_a_key_that_fails_its_oracle_fails_all_its_ops(self):
        ops = [{"key": "q_a", "pass": p, "ok": True, "error": ""} for p in range(3)]
        ops.append({"key": "q_b", "pass": 0, "ok": True, "error": ""})
        attempted, failed, problems = self.closed_loop(
            ops, {"q_a": "rows differ: 5 vs 6", "q_b": None})
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(len(problems), 1)

    def test_the_oracle_check_sees_a_changed_value(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        region = pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA"]})
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(region, os.path.join(d, "region.parquet"))
            verify = os.path.join(d, "verify")
            for key, names in (("q_ok", ["AFRICA", "AMERICA"]),
                               ("q_bad", ["AFRICA", "EUROPE"])):
                os.makedirs(os.path.join(verify, key))
                pq.write_table(pa.table({"r_name": names}),
                               os.path.join(verify, key, "part-0.parquet"))
            sql = "SELECT r_name FROM region WHERE r_regionkey < 2 ORDER BY r_regionkey"
            with open(os.path.join(verify, "oracle_sql.json"), "w") as f:
                json.dump({"q_ok": sql, "q_bad": sql}, f)
            verdicts = benchlib.oracle_check(run.CHECK_PY, d, verify)
        self.assertIsNone(verdicts["q_ok"])
        self.assertIn("EUROPE", verdicts["q_bad"])

    def test_a_spurious_or_repeated_pair_is_failed(self):
        ref = {(1, 2): 0.9, (3, 4): 1.0}
        spurious, missing, _ = benchlib.pair_check(
            [(1, 2, 0.9), (1, 2, 0.9), (5, 6, 0.85)], ref)
        self.assertEqual(spurious, [(1, 2), (5, 6)])
        self.assertEqual(missing, [(3, 4)])

    @unittest.skipUnless(os.environ.get("GRAFTBENCH_SLOW") == "1",
                         "builds and runs the program; set GRAFTBENCH_SLOW=1")
    def test_injected_wrong_op_fails_the_run(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "olap",
             "--seed", "1", "--seconds", "1", "--inject-wrong-op", "5"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(r.returncode, 0)
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)


class SelfTime(unittest.TestCase):
    def test_self_time_is_time_not_covered_by_nested_spans(self):
        def span(name, op, a, b):
            return {"name": name, "op": op, "start_us": a * 1000, "end_us": b * 1000}
        st = benchlib.self_times([
            span("op", "o1", 0, 100), span("build", "o1", 0, 30),
            span("action", "o1", 30, 100), span("job", "o1", 40, 60),
            span("job", "o1", 50, 80),  # overlaps the first job
            span("op", "o2", 10, 20)])  # another op: never a child of o1
        self.assertEqual(st["op"], {"count": 2, "total_ms": 110.0, "self_ms": 10.0})
        self.assertEqual(st["action"]["self_ms"], 30.0)
        self.assertEqual(st["job"]["total_ms"], 50.0)


class NearDupReference(unittest.TestCase):
    def test_prefix_filter_finds_every_pair_brute_force_finds(self):
        rnd = random.Random(7)
        docs = {}
        for i in range(120):
            if i % 4 == 1:  # near copy of the previous doc
                toks = docs[i - 1].split(" ")
                toks[rnd.randrange(len(toks))] = f"x{i}"
                docs[i] = " ".join(toks)
            else:
                docs[i] = " ".join(f"w{rnd.randrange(30)}" for _ in range(rnd.randrange(8, 20)))
        probe = list(range(60, 120))
        got = benchlib.near_dup_pairs(docs, probe, threshold=0.6)
        want = {}
        for a in docs:
            for b in docs:
                if a < b and (a in probe or b in probe):
                    sa, sb = benchlib.shingle_set(docs[a]), benchlib.shingle_set(docs[b])
                    j = len(sa & sb) / len(sa | sb)
                    if j >= 0.6:
                        want[(a, b)] = j
        self.assertTrue(want)
        self.assertEqual(got, want)


class Inputs(unittest.TestCase):
    def test_one_seed_gives_the_same_documents(self):
        self.assertEqual(inputs.documents(3, 200), inputs.documents(3, 200))
        self.assertNotEqual(inputs.documents(3, 200), inputs.documents(4, 200))

    def test_stream_docs_copy_backfill_docs(self):
        texts = inputs.documents(5, 400, copy_from=320)
        back = set(texts[:320])
        self.assertTrue(any(t in back for t in texts[320:]))


class BenchmarkJson(unittest.TestCase):
    def test_metrics_match_the_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         [tuple(x) for x in run.PER_LAYER])
        self.assertEqual({m["name"] for m in spec["end_to_end"]},
                         {"setup_s", "ops_per_s", "latency_p50_ms", "latency_p90_ms"})
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
