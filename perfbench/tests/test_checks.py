"""Tests of the output checks that decide `failed` and `fail_frac`.

    python3 -m unittest discover -s perfbench/tests
"""

import contextlib
import io
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def key_op(name, rows, ok=True):
    return {"type": "key", "name": name, "rows": rows, "ok": ok, "error": None}


class KeyCheckTest(unittest.TestCase):
    def test_matching_counts_pass(self):
        ops = [key_op("a", 3), key_op("b", 0)]
        run.check_keys(ops, {"a": 3, "b": 0})
        self.assertTrue(all(o["ok"] for o in ops))

    def test_wrong_or_unknown_count_fails_the_operation(self):
        ops = [key_op("a", 4), key_op("c", 1), key_op("b", -1, ok=False)]
        run.check_keys(ops, {"a": 3, "b": 0})
        self.assertEqual([o["ok"] for o in ops], [False, False, False])
        self.assertIn("expected 3", ops[0]["error"])


def visit_records(stored_src=10, forced=2, versions=20, last=15):
    ops = [{"type": "visit", "visit": v, "ok": True, "error": None} for v in (1, 2)]
    ops.append({"type": "night", "ok": True, "error": None})
    checks = [{"visit": v, "n_sources": 10, "n_forced": 1, "stored_sources": 10,
               "stored_forced": 1, "generated_sources": 10} for v in (1, 2)]
    checks[1]["stored_sources"] = stored_src
    store = {"versions": versions, "distinct_object_ids": 15, "objects_last": last,
             "sources": 10 + stored_src, "forced": forced, "sum_n_sources": 20,
             "sum_n_forced": 2, "visits_stored": 2}
    return {"op": ops, "visit_check": checks, "store": [store]}


class VisitCheckTest(unittest.TestCase):
    def test_consistent_store_passes(self):
        rec = visit_records()
        self.assertEqual(run.check_visits(rec), [])
        self.assertTrue(all(o["ok"] for o in rec["op"]))

    def test_duplicated_sources_fail_the_visit_and_the_night_job(self):
        rec = visit_records(stored_src=11)
        problems = run.check_visits(rec)
        self.assertFalse(rec["op"][1]["ok"])
        self.assertTrue(rec["op"][0]["ok"])
        self.assertFalse(rec["op"][2]["ok"])
        self.assertTrue(any("sources 21 != sum_n_sources 20" in p for p in problems))

    def test_snapshot_out_of_step_with_history_fails_the_night_job(self):
        rec = visit_records(last=14)
        run.check_visits(rec)
        self.assertEqual([o["ok"] for o in rec["op"]], [True, True, False])


def timed_key(name, pass_, start, secs):
    return {"type": "key", "name": name, "pass": pass_, "start_ms": start,
            "end_ms": start + 1000 * secs}


class EndToEndTest(unittest.TestCase):
    def test_key_sweep_adds_each_keys_median(self):
        lat = {"a": [1.0, 5.0, 1.2], "b": [2.0, 2.2, 2.1]}
        ops, t = [], 0.0
        for p in range(3):
            for name in ("a", "b"):
                ops.append(timed_key(name, p, t, lat[name][p]))
                t += 1000 * lat[name][p]
        m, info = run.end_to_end("registry_sf0.01", ops, 9.0)
        self.assertAlmostEqual(m["sweep_s"][0], 1.2 + 2.1)
        self.assertAlmostEqual(m["op_p50_s"][0], (1.2 + 2.1) / 2)
        self.assertEqual(info["passes"], 3)
        self.assertEqual(m["setup_s"], (9.0, "s"))

    def test_visit_sweep_is_three_median_visits(self):
        ops = [{"type": "visit", "name": f"visit-{v}", "visit": v, "pass": v,
                "start_ms": 10000.0 * v, "end_ms": 10000.0 * v + 1000 * secs}
               for v, secs in zip(range(4, 9), (4.0, 9.0, 4.2, 4.4, 4.1))]
        m, info = run.end_to_end("visit_loop", ops, 1.0)
        self.assertAlmostEqual(m["sweep_s"][0], 3 * 4.2)
        self.assertAlmostEqual(m["op_p50_s"][0], 4.2)
        self.assertEqual(info["passes"], 1)


class InputTableCheckTest(unittest.TestCase):
    def test_committed_tables_match_their_digests(self):
        self.assertEqual(run.checked_data(run.DATA), run.DATA)

    def test_changed_or_missing_table_stops_the_run(self):
        with tempfile.TemporaryDirectory() as d:
            for name in os.listdir(run.DATA):
                shutil.copy(os.path.join(run.DATA, name), d)
            with open(os.path.join(d, "region.parquet"), "ab") as f:
                f.write(b"x")
            with self.assertRaises(SystemExit), contextlib.redirect_stderr(io.StringIO()):
                run.checked_data(d)
            os.remove(os.path.join(d, "region.parquet"))
            with self.assertRaises(SystemExit), contextlib.redirect_stderr(io.StringIO()):
                run.checked_data(d)


if __name__ == "__main__":
    unittest.main()
