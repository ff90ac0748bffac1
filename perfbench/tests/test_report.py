"""Self time, driver time and job attribution on hand-built traces."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import report  # noqa: E402


def span(i, name, parent, start_s, end_s, **attrs):
    return {"id": i, "name": name, "parent": parent, "thread": 1,
            "start_us": int(start_s * 1e6), "end_us": int(end_s * 1e6), "attrs": attrs}


def job(i, sid, start_s, end_s, tasks=1, run_ms=0, shuffle=0, records=0):
    return {"id": i, "span": sid, "start_ms": int(start_s * 1e3), "end_ms": int(end_s * 1e3),
            "tasks": tasks, "exec_run_ms": run_ms, "shuffle_bytes": shuffle,
            "records_read": records, "ok": True}


class SelfTime(unittest.TestCase):
    def setUp(self):
        # root 0-10 s; children a 1-4 s and b 3-6 s overlap; a has a
        # grandchild g 2-3 s
        self.spans = [span(1, "root", 0, 0, 10), span(2, "a", 1, 1, 4),
                      span(3, "b", 1, 3, 6), span(4, "g", 2, 2, 3)]

    def test_self_time_subtracts_the_union_of_child_spans(self):
        tr = report.Trace(self.spans, [], (0, 10e6))
        self.assertAlmostEqual(tr.self_s(1), 10 - 5)  # children cover 1-6 s
        self.assertAlmostEqual(tr.self_s(2), 3 - 1)   # g covers 2-3 s
        self.assertAlmostEqual(tr.self_s(4), 1)       # a leaf is all self

    def test_driver_time_subtracts_the_span_subtree_jobs(self):
        jobs = [job(1, 4, 2.0, 2.5), job(2, 2, 2.25, 3.5), job(3, 3, 5, 5.5)]
        tr = report.Trace(self.spans, jobs, (0, 10e6))
        self.assertAlmostEqual(tr.driver_s(2), 3 - 1.5)  # jobs cover 2-3.5 s
        self.assertAlmostEqual(tr.driver_s(1), 10 - 2)   # plus 5-5.5 s
        self.assertEqual(tr.call(1)["jobs"], 3)
        self.assertEqual(tr.call(2)["jobs"], 2)

    def test_stale_span_ids_fall_back_to_the_innermost_open_span(self):
        # job 1 carries span 4 but starts after it closed (a pooled thread
        # kept the id); job 2 carries none
        jobs = [job(1, 4, 3.5, 3.6), job(2, 0, 5.5, 5.7), job(3, 0, 11, 12)]
        tr = report.Trace(self.spans, jobs, (0, 20e6))
        self.assertEqual([j["id"] for j in tr.own[3]], [1, 2])
        self.assertEqual(tr.unattributed, 1)  # job 3 ran after every span

    def test_union_len(self):
        self.assertEqual(report.union_len([]), 0)
        self.assertEqual(report.union_len([(0, 2), (1, 3), (5, 6)]), 4)


class PerLayer(unittest.TestCase):
    def test_bypassed_layers_report_zero_and_every_name_exists(self):
        res = {"spans": [span(1, "compactor.incremental", 0, 0, 2, new_files=100)],
               "jobs": [job(1, 1, 0.5, 1.5, tasks=4, run_ms=2000, records=300)],
               "measure_start_us": 0, "measure_end_us": int(2e6),
               "cycles": [{"cache_live": 3}]}
        out, _ = report.per_layer(res, 4)
        self.assertEqual(len(out), len(report.LAYERS) * 6 + len(report.EXTRAS))
        self.assertEqual(out["compactor.full.wall_s"][0], 0.0)
        self.assertEqual(out["compactor.incremental.tasks"][0], 4)
        self.assertAlmostEqual(out["compactor.incremental.driver_s"][0], 1.0)
        self.assertAlmostEqual(out["compactor.incremental.files_read_per_new"][0], 3.0)
        self.assertAlmostEqual(out["spark.busy_share"][0], 2.0 / (2 * 4))
        self.assertEqual(out["caches.live_after_day"][0], 3)


if __name__ == "__main__":
    unittest.main()
