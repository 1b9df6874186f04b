"""Tests for tools/scale_record.py.

Run: python3 -m unittest discover -s tools/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import scale_record  # noqa: E402


def bench_line(queries, on_queries, ops, errors=None):
    rec = {"metric": "total", "value": -9.0, "unit": "sec", "queries": queries,
           "cbo_ab": {"off_total": -9.0, "on_total": -9.0, "on_queries": on_queries},
           "ops_demo": ops, "sf": "/data/sf0.1", "total_sec": -9.0,
           "errors": errors or {}}
    return json.dumps(rec, separators=(",", ":"))


def sc_line(queries, errors=None):
    return json.dumps({"metric": "scalecheck", "unit": "sec", "queries": queries,
                       "sf": "/data/sf0.1", "errors": errors or {}},
                      separators=(",", ":"))


class ScaleRecordTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def write(self, name, *lines):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        return path

    def test_reads_the_info_prefixed_record_line(self):
        path = self.write("bench_sf01_r9_1.out",
                          "[info] running graft.Bench",
                          "[error] 26/10/19 05:21:23 WARN some spark noise",
                          "[info] " + bench_line({"q01": 1.5}, {"q01": 1.6}, {"mv": 0.2}),
                          '[info] {"metric":"headline","value":1.5}')
        rec = scale_record.last_json(path, "total")
        self.assertEqual(rec["queries"], {"q01": 1.5})
        self.assertEqual(scale_record.last_json(path, "headline")["value"], 1.5)

    def test_failed_entry_loses_to_the_pass_that_succeeded(self):
        prefix = os.path.join(self.dir.name, "bench_sf01_r9")
        self.write("bench_sf01_r9_1.out",
                   bench_line({"q01": 1.0, "q02": -1}, {"q01": 2.0, "q02": 3.0},
                              {"mv": -1}, errors={"q02": "java.lang.X",
                                                  "ops_demo.mv": "java.lang.Y"}))
        self.write("bench_sf01_r9_2.out",
                   bench_line({"q01": 1.5, "q02": 2.0}, {"q01": 1.0, "q02": 4.0},
                              {"mv": 0.5}))
        m = scale_record.load(prefix, "total")
        self.assertEqual(m["queries"], {"q01": 1.0, "q02": 2.0})
        self.assertEqual(m["ops_demo"], {"mv": 0.5})
        # totals are recomputed over the merged entries
        self.assertEqual(m["value"], 3.0)
        self.assertEqual(m["total_sec"], 3.0)
        self.assertEqual(m["cbo_ab"]["off_total"], 3.0)
        self.assertEqual(m["cbo_ab"]["on_total"], 4.0)
        self.assertEqual(m["errors"], {"q02": "java.lang.X", "ops_demo.mv": "java.lang.Y"})

    def test_failed_at_every_pass_stays_failed_and_out_of_the_total(self):
        m = scale_record.min_merge({"q": -1, "r": 2.0}, {"q": -1, "r": 3.0})
        self.assertEqual(m, {"q": -1, "r": 2.0})
        self.assertEqual(scale_record.succeeded_sum(m), 2.0)

    def test_three_pass_min_merge_in_pass_order(self):
        prefix = os.path.join(self.dir.name, "sc_sf01_r9")
        for i, (a, b) in enumerate([(3.0, 1.0), (2.0, 5.0), (4.0, 0.5)], start=1):
            self.write(f"sc_sf01_r9_{i}.out", "[info] " + sc_line({"a": a, "b": b}))
        # a pass numbered 10 sorts after 9, not after 1
        self.write("sc_sf01_r9_10.out", sc_line({"a": 1.5, "b": 9.0, "c": 7.0}))
        m = scale_record.load(prefix, "scalecheck")
        self.assertEqual(m["queries"], {"a": 1.5, "b": 0.5, "c": 7.0})
        self.assertEqual(m["sf"], "/data/sf0.1")

    def test_x10_ratio_map(self):
        small = {"a": 1.0, "b": 0.5, "zero": 0.0, "failed_small": -1, "gone": 2.0,
                 "failed_big": 1.0}
        big = {"a": 10.0, "b": 0.6, "zero": 1.0, "failed_small": 3.0, "only_big": 1.0,
               "failed_big": -1}
        self.assertEqual(scale_record.ratios(small, big), {"a": 10.0, "b": 1.2})

    def test_record_puts_both_scales_and_the_ratios_together(self):
        for sf, scale in (("01", 1.0), ("1", 10.0)):
            for p in (1, 2):
                self.write(f"bench_sf{sf}_r9_{p}.out",
                           bench_line({"q01": scale * p}, {"q01": scale}, {"mv": scale}))
                self.write(f"sc_sf{sf}_r9_{p}.out", sc_line({"a": scale + p}))
        rec = scale_record.record("9", "two passes", log_dir=self.dir.name)
        self.assertEqual(rec["protocol"], "two passes")
        self.assertEqual(rec["sf0_1"]["bench"]["value"], 1.0)
        self.assertEqual(rec["sf1"]["bench"]["value"], 10.0)
        self.assertEqual(rec["headline_total_ratio"], 10.0)
        self.assertEqual(rec["wallclock_ratio_10x_data"], {"a": 5.5})


if __name__ == "__main__":
    unittest.main()
