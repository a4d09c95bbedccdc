"""Tests of the runner's output checks and metric assembly."""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402


def op(p, name, secs, rows=3, checksum=7, kind="query", ok=True):
    return {"pass": p, "kind": kind, "name": name, "seconds": secs, "ok": ok,
            "rows": rows, "checksum": checksum, "error": "" if ok else "Boom: x"}


def raw(ops):
    return {"workload": "relational", "ops": ops, "setup_s": [1.0],
            "host_s": [run.REF_HOST_S] * 3,
            "passes": [{"pass": 0, "kind": "cold", "traced": False, "seconds": 3.0},
                       {"pass": 1, "kind": "steady", "traced": False, "seconds": 2.0}],
            "store": {}, "spans": []}


class Checks(unittest.TestCase):
    golden = {"q_a": [3, 7], "q_b": [3, 7]}

    def test_matching_outputs_pass(self):
        r = raw([op(0, "q_a", 1), op(0, "q_b", 1), op(1, "q_a", 1), op(1, "q_b", 1)])
        self.assertEqual(run.check_outputs(r, self.golden)[:2], (4, 0))

    def test_a_changed_checksum_on_any_pass_fails_that_operation(self):
        r = raw([op(0, "q_a", 1), op(1, "q_a", 1, checksum=8)])
        attempted, failed, problems = run.check_outputs(r, self.golden)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("pass 1 q_a", problems[0])

    def test_throws_and_missing_goldens_fail(self):
        r = raw([op(0, "q_a", 1, ok=False), op(0, "q_new", 1)])
        self.assertEqual(run.check_outputs(r, self.golden)[:2], (2, 2))

    def test_store_labels_match_the_from_scratch_clustering(self):
        golden = {"q_embed_clusters": [3, 7]}
        r = raw([op(0, "labels", 1, kind="labels"), op(1, "labels", 1, kind="labels"),
                 op(2, "labels", 1, kind="labels", checksum=9)])
        attempted, failed, problems = run.check_outputs(r, golden)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("from-scratch", problems[0])

    def test_store_screens_must_not_change_across_compaction(self):
        r = raw([op(0, "screen", 1, kind="screen"), op(1, "screen", 1, kind="screen"),
                 op(2, "screen", 1, kind="screen", rows=4)])
        self.assertEqual(run.check_outputs(r, {})[:2], (3, 1))

    def test_failed_operations_are_left_out_of_latency_samples(self):
        r = raw([op(0, "q_a", 1), op(1, "q_a", 0.5), op(1, "q_b", 9, checksum=0)])
        run.check_outputs(r, self.golden)
        e2e, extra = run.end_to_end(r)
        self.assertEqual(extra["op_p50_s"], ("s", [0.5], "median"))
        self.assertEqual(e2e["cold_pass_s"], (3.0, [3.0]))
        self.assertEqual(e2e["pass_s"], (0.5, [2.0]))

    def test_operation_median_is_over_each_operations_own_median(self):
        r = raw([op(1, "q_a", 1.0), op(1, "q_a", 1.2), op(1, "q_a", 5.0),
                 op(1, "q_b", 2.0), op(1, "q_b", 2.0)])
        run.check_outputs(r, self.golden)
        self.assertEqual(sorted(run.end_to_end(r)[1]["op_p50_s"][1]), [1.2, 2.0])

    def test_a_pass_is_the_sum_of_each_operations_median(self):
        # Pass 2 ran through a slow spell of the host; no median takes it.
        r = raw([op(p, n, s) for p, slow in ((1, 1), (2, 3), (3, 1))
                 for n, s in (("q_a", 1.0 * slow), ("q_b", 2.0 * slow))])
        r["passes"] = [{"pass": p, "kind": "steady", "traced": False, "seconds": 3.0 * slow}
                       for p, slow in ((1, 1), (2, 3), (3, 1))]
        run.check_outputs(r, self.golden)
        self.assertEqual(run.end_to_end(r)[0]["pass_s"], (3.0, [3.0, 9.0, 3.0]))

    def test_times_are_scaled_to_the_reference_host_speed(self):
        r = raw([op(0, "q_a", 3.0), op(1, "q_a", 1.0)])
        # The host ran the speed sample at half the reference speed.
        r["host_s"] = [run.REF_HOST_S * 2, run.REF_HOST_S * 2, run.REF_HOST_S * 9]
        run.check_outputs(r, self.golden)
        e2e, extra = run.end_to_end(r)
        self.assertEqual(e2e["setup_s"], (0.5, [0.5]))
        self.assertEqual(e2e["pass_s"], (0.5, [1.0]))
        self.assertEqual(extra["pass_wall_s"], ("s", [2.0], 1.0))
        self.assertEqual(extra["cold_pass_wall_s"], ("s", [3.0], 3.0))

    def test_store_cold_pass_is_its_write_calls(self):
        ops = [op(0, "day0_build", 9.0, kind="build"), op(0, "fold_1", 4.0, kind="fold"),
               op(0, "screen", 1.0, kind="screen"), op(0, "labels", 1.0, kind="labels"),
               op(0, "compact", 2.0, kind="compact"),
               op(2, "screen", 0.5, kind="screen"), op(2, "labels", 0.25, kind="labels")]
        r = dict(raw(ops), workload="store",
                 store={"bytes_written": 10, "live_bytes": 5, "user_bytes": 5},
                 passes=[{"pass": 0, "kind": "lifecycle", "traced": False, "seconds": 8.5},
                         {"pass": 2, "kind": "read", "traced": False, "seconds": 0.8}])
        run.check_outputs(r, {"q_embed_clusters": [3, 7]})
        e2e, extra = run.end_to_end(r)
        self.assertEqual(e2e["cold_pass_s"], (6.0, [6.0]))
        self.assertEqual(e2e["pass_s"], (0.75, [0.8]))
        self.assertEqual(extra["op_p50_s"][1], [0.5])


class Layers(unittest.TestCase):
    def test_self_time_excludes_children(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 10_000_000_000},
            {"id": 1, "parent": 0, "start_ns": 1_000_000_000, "end_ns": 4_000_000_000},
            {"id": 2, "parent": 0, "start_ns": 4_000_000_000, "end_ns": 9_000_000_000},
        ]
        self.assertEqual(run.self_times(spans), {0: 2.0, 1: 3.0, 2: 5.0})

    def test_store_call_times_and_fold_jobs_come_from_top_spans(self):
        def span(i, name, secs, jobs, parent=-1):
            return {"id": i, "parent": parent, "name": name, "start_ns": 0,
                    "end_ns": int(secs * 1e9), "counts": {"jobs": jobs}}
        spans = [span(0, "day0_build", 4.0, 9), span(1, "build", 3.5, 9, parent=0),
                 span(2, "fold_1", 2.0, 5), span(3, "fold_2", 3.0, 6),
                 span(4, "screen", 0.5, 2), span(5, "screen", 0.25, 2)]
        calls = run.store_calls(spans)
        self.assertEqual(calls["store.build_s"], 4.0)
        self.assertEqual(calls["store.maintain_s"], 2.5)
        self.assertEqual(calls["store.maintain_jobs"], 11)
        self.assertEqual(calls["store.screen_s"], 0.375)
        self.assertEqual((calls["store.compact_s"], calls["store.labels_read_s"]), (0.0, 0.0))

    def test_codegen_and_gc_come_from_the_cold_pass(self):
        def top(i, p, compiles, gc_ms):
            return {"id": i, "parent": -1, "op": i, "pass": p, "name": "q_a", "layer": "op",
                    "start_ns": 0, "end_ns": 10**9,
                    "counts": {"compiles": compiles, "compile_ns": compiles * 10**8,
                               "jvm_gc_ms": gc_ms}}
        r = raw([op(0, "q_a", 3.0), op(1, "q_a", 2.0), op(2, "q_a", 2.0)])
        r["passes"] = [{"pass": 0, "kind": "cold", "traced": True, "seconds": 3.0},
                       {"pass": 1, "kind": "steady", "traced": False, "seconds": 2.0},
                       {"pass": 2, "kind": "steady", "traced": True, "seconds": 2.0}]
        r["spans"] = [top(0, 0, 12, 40), top(1, 2, 0, 0)]
        layers = run.per_layer(r)
        self.assertEqual((layers["codegen.compiles"], layers["jvm.gc_s"]), (12, 0.04))
        self.assertAlmostEqual(layers["codegen.compile_s"], 1.2)
        self.assertEqual(layers["exec.tasks"], 0)


if __name__ == "__main__":
    unittest.main()
