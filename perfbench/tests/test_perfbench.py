"""Tests of the benchmark's own logic: order statistics, span arithmetic,
layer attribution, and each workload's correctness gate rejecting a
corrupted output.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import math
import os
import sys
import tempfile
import unittest

import duckdb

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

from pb import checks, inputs, layers, stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_none_without_ten_samples_beyond(self):
        for n in range(0, 11):
            self.assertIsNone(stats.tail_percentile(n))

    def test_known_sizes(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(11, 600):
            p = stats.tail_percentile(n)
            beyond = lambda q: n - math.ceil(q * n / 100.0)
            self.assertGreaterEqual(beyond(p), 10, n)
            self.assertLess(beyond(p + 1), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class SpanArithmeticTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.union_length([(0, 10)], 20, 30), 0)

    def test_self_time(self):
        # a 100 ms call with jobs 10-30 and 20-50 and one past its end
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 50), (90, 120)]), 50)
        self.assertEqual(stats.self_time((0, 100), []), 100)


class AttributionTest(unittest.TestCase):
    def result(self):
        return {
            "workload": "slot_catchup", "cores": 2,
            "ops": [{"id": 0, "kind": "tick", "t0": 0.0, "t1": 100.0, "ms": 100.0,
                     "ok": True, "measured": True, "episode": 0,
                     "outcome": "processed", "rows": 30, "slot": 0}],
            "calls": [{"name": "pipeline.tick", "op": 0, "t0": 0.0, "t1": 90.0,
                       "fs_read_ops": 4, "fs_write_ops": 2, "fetch_requests": 2,
                       "fetch_token_exchanges": 1, "fetch_bytes": 100, "gc_ms": 0}],
            "streams": [],
            "trace": {
                "sqls": [{"id": 1, "root": 1, "t0": 5.0, "t1": 25.0, "catalog_pages": 1,
                          "analysis_ms": 1, "optimization_ms": 1, "planning_ms": 1},
                         {"id": 2, "root": 2, "t0": 30.0, "t1": 80.0, "catalog_pages": -1,
                          "analysis_ms": 2, "optimization_ms": 2, "planning_ms": 2}],
                "jobs": [{"id": 0, "t0": 10.0, "t1": 20.0, "exec": 1, "ok": True},
                         {"id": 1, "t0": 40.0, "t1": 70.0, "exec": 2, "ok": True}],
                "tasks": [[0, 11, 19, 8, 0, 0, 0, 0, 10, 1, 0],
                          [1, 41, 69, 25, 1, 0, 0, 0, 500, 120, 64]],
            },
        }

    def test_slot_layers(self):
        m = layers.per_layer(self.result())
        self.assertEqual(m["pipeline.tick.jobs"], 2)
        self.assertEqual(m["pipeline.tick.sql_execs"], 2)
        self.assertEqual(m["pipeline.tick.plan_ms"], 9)
        self.assertEqual(m["pipeline.tick.driver_gap_ms"], 90 - 10 - 30)
        self.assertEqual(m["pipeline.tick.task_busy_ms"], 33)
        self.assertEqual(m["sources.catalog.search_ms"], 20)
        self.assertEqual(m["sources.slot_scan.rows_read"], 120)
        self.assertEqual(m["sources.slot_scan.useful_ratio"], 30 / 120)
        self.assertEqual(m["pipeline.publish.bytes"], 64)
        self.assertAlmostEqual(m["trace.unattributed_share"], 0.1)
        self.assertEqual(m["Engine.ingest.jobs_per_batch.path"], 0.0)
        self.assertEqual(set(m), set(layers.UNITS))

    def test_planning_follows_execution_not_query_ids(self):
        # execution ids run apart from any query-execution numbering; an
        # execution's planning goes to the call that holds it, and one that
        # ends outside every call goes nowhere
        r = self.result()
        r["calls"].append(dict(r["calls"][0], name="pipeline.nextSlot",
                               t0=90.0, t1=100.0))
        r["trace"]["sqls"] = [
            {"id": 41, "root": 41, "t0": 5.0, "t1": 25.0, "catalog_pages": 1,
             "analysis_ms": 0, "optimization_ms": 3, "planning_ms": 4},
            {"id": 7, "root": 7, "t0": 91.0, "t1": 99.0, "catalog_pages": -1,
             "analysis_ms": 5, "optimization_ms": 0, "planning_ms": 0},
            {"id": 8, "root": 8, "t0": 120.0, "t1": 130.0, "catalog_pages": -1,
             "analysis_ms": 50, "optimization_ms": 50, "planning_ms": 50}]
        a = layers.Attribution(r)
        self.assertEqual([c["name"] for c in a.calls],
                         ["pipeline.tick", "pipeline.nextSlot"])
        self.assertEqual(a.plan_ms, {0: 7, 1: 5})
        self.assertEqual(layers.per_layer(r)["pipeline.tick.plan_ms"], 7)


def write_episode(root, start, counts, payloads):
    """An episode's output layout, as the pipeline publishes it."""
    out = os.path.join(root, "out")
    con = duckdb.connect()
    rows = ", ".join(f"('{checks.slot_key(start + i * 900)}', {j})"
                     for i, n in enumerate(counts) for j in range(n))
    con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(slot_key, event_id)) "
                f"TO '{out}' (FORMAT parquet, PARTITION_BY (slot_key))")
    blob_rows = []
    for i in range(len(counts)):
        pid = f"MSG4-{start + i * 900}"
        for entry, content in payloads[pid].items():
            blob_rows.append(f"('{checks.slot_key(start + i * 900)}', '{pid}', "
                             f"'{entry}', from_hex('{content.hex()}'))")
    con.execute(f"COPY (SELECT * FROM (VALUES {', '.join(blob_rows)}) "
                f"t(slot_key, identifier, entry, content)) TO '{out}-blobs' "
                f"(FORMAT parquet, PARTITION_BY (slot_key))")
    return out


class SlotCheckTest(unittest.TestCase):
    start = inputs.SLOT_START
    counts = [3, 5]

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.payloads, self.manifest = {}, {}
        for i in range(len(self.counts)):
            pid = f"MSG4-{self.start + i * 900}"
            self.payloads[pid] = {f"{pid}.png": bytes([i, 1, 2]),
                                  f"{pid}.bin": bytes([7] * (10 + i))}
            self.manifest[pid] = {e: {"len": len(b), "sha256": hashlib.sha256(b).hexdigest()}
                                  for e, b in self.payloads[pid].items()}
        self.out = write_episode(self.tmp.name, self.start, self.counts, self.payloads)

    def tearDown(self):
        self.tmp.cleanup()

    def ops(self):
        ticks = [{"id": i, "ok": True, "episode": 0, "outcome": "processed",
                  "slot": self.start + i * 900, "product": f"MSG4-{self.start + i * 900}",
                  "rows": n, "blobs": 2} for i, n in enumerate(self.counts)]
        ticks.append({"id": 2, "ok": True, "episode": 0, "outcome": "stalled",
                      "slot": self.start + 2 * 900})
        return ticks

    def episode(self, cursor=None):
        return [{"id": 0, "out": self.out, "complete": True,
                 "cursor": self.start + 900 if cursor is None else cursor}]

    def check(self, ops, episodes, counts=None):
        return checks.check_slot_catchup(ops, episodes, self.start,
                                         counts or self.counts, self.manifest)

    def test_accepts_correct_output(self):
        self.assertEqual(self.check(self.ops(), self.episode()), (set(), []))

    def test_rejects_wrong_row_count(self):
        failed, _ = self.check(self.ops(), self.episode(), counts=[3, 6])
        self.assertEqual(failed, {1})

    def test_rejects_corrupted_archive_member(self):
        pid = f"MSG4-{self.start}"
        self.manifest[pid][f"{pid}.bin"]["sha256"] = "0" * 64
        failed, _ = self.check(self.ops(), self.episode())
        self.assertEqual(failed, {0})

    def test_rejects_stale_cursor(self):
        failed, problems = self.check(self.ops(), self.episode(cursor=self.start))
        self.assertEqual(failed, {2})
        self.assertTrue(any("cursor" in p for p in problems))

    def test_rejects_early_stall(self):
        ops = self.ops()[:1] + [{"id": 1, "ok": True, "episode": 0,
                                 "outcome": "stalled", "slot": self.start + 900}]
        failed, _ = self.check(ops, self.episode(cursor=self.start))
        self.assertIn(1, failed)

    def test_counts_thrown_ticks(self):
        ops = self.ops()
        ops[2] = {"id": 2, "ok": False, "episode": 0}
        failed, _ = self.check(ops, self.episode())
        self.assertIn(2, failed)


class DedupCheckTest(unittest.TestCase):
    ops = [{"id": 0, "ok": True, "call": 0, "backend": "path"},
           {"id": 1, "ok": True, "call": 0, "backend": "bucketed"}]

    def survivors(self, path, bucketed):
        return [{"call": 0, "backend": "path", "ids": path},
                {"call": 0, "backend": "bucketed", "ids": bucketed}]

    def test_accepts_identical_survivors_without_planted(self):
        self.assertEqual(checks.check_dedup_ingest(
            self.ops, self.survivors([1, 2], [1, 2]), {3}), (set(), []))

    def test_rejects_kept_duplicate(self):
        failed, _ = checks.check_dedup_ingest(
            self.ops, self.survivors([1, 2, 3], [1, 2]), {3})
        self.assertEqual(failed, {0, 1})

    def test_rejects_backends_that_disagree(self):
        failed, _ = checks.check_dedup_ingest(
            self.ops, self.survivors([1, 2], [1, 4]), {3})
        self.assertEqual(failed, {0, 1})

    def test_stream_is_seeded_and_plants_duplicates(self):
        docs = os.path.join(BENCH, "fixtures", "documents.parquet")
        rows, planted = inputs.dedup_stream(docs, seed=5)
        self.assertEqual(len(rows), inputs.DEDUP_BATCHES * inputs.DOCS_PER_BATCH)
        self.assertEqual(len(planted), (inputs.DEDUP_BATCHES - 1)
                         * round(inputs.DOCS_PER_BATCH * inputs.DUP_SHARE))
        self.assertEqual(len({r[0] for r in rows}), len(rows))
        self.assertTrue(planted <= {r[0] for r in rows if r[2] > 0})
        self.assertEqual((rows, planted), inputs.dedup_stream(docs, seed=5))


class MixCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.fix = os.path.join(self.tmp.name, "fixtures")
        self.res = os.path.join(self.tmp.name, "results")
        os.makedirs(self.fix)
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"COPY (SELECT range AS k, range * 1.5 AS v FROM range(5)) "
                        f"TO '{self.fix}/{t}.parquet' (FORMAT parquet)")
        self.oracle = {"qa": "SELECT k, v FROM region ORDER BY k NULLS FIRST"}

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, sql):
        os.makedirs(os.path.join(self.res, "qa"), exist_ok=True)
        duckdb.connect().execute(
            f"COPY ({sql}) TO '{self.res}/qa/part-0.parquet' (FORMAT parquet)")

    def ops(self, triggers=None):
        return [{"id": 0, "ok": True, "query": "qa", "stream": triggers is not None,
                 "triggers": triggers or 0}]

    def test_accepts_oracle_equal_result(self):
        self.write_result("SELECT range AS k, range * 1.5 AS v FROM range(5)")
        self.assertEqual(checks.check_analytics_mix(
            self.ops(), self.fix, self.res, self.oracle, {}), (set(), []))

    def test_rejects_changed_value(self):
        self.write_result("SELECT range AS k, CASE WHEN range = 3 THEN 0.0 "
                          "ELSE range * 1.5 END AS v FROM range(5)")
        failed, problems = checks.check_analytics_mix(
            self.ops(), self.fix, self.res, self.oracle, {})
        self.assertEqual(failed, {0})
        self.assertIn("row 3", problems[0])

    def test_rejects_missing_row_and_wrong_type(self):
        self.write_result("SELECT range AS k, range * 1.5 AS v FROM range(4)")
        self.assertEqual(checks.check_analytics_mix(
            self.ops(), self.fix, self.res, self.oracle, {})[0], {0})
        self.write_result("SELECT range AS k, CAST(range AS VARCHAR) AS v FROM range(5)")
        self.assertEqual(checks.check_analytics_mix(
            self.ops(), self.fix, self.res, self.oracle, {})[0], {0})

    def test_rejects_wrong_trigger_count(self):
        self.write_result("SELECT range AS k, range * 1.5 AS v FROM range(5)")
        self.assertEqual(checks.check_analytics_mix(
            self.ops(triggers=2), self.fix, self.res, self.oracle, {"qa": 2})[0], set())
        self.assertEqual(checks.check_analytics_mix(
            self.ops(triggers=3), self.fix, self.res, self.oracle, {"qa": 2})[0], {0})


if __name__ == "__main__":
    unittest.main()
