"""Self-tests of the benchmark's arithmetic; no Spark needed.

    python3 perfbench/test_metrics.py
"""
import copy
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def record(n_warm=4, ops=("q_a", "q_b", "q_c", "q_d", "q_e", "q_f", "q_g", "q_h", "q_i", "q_j")):
    """A raw harness record: one cold and `n_warm` warm passes."""
    passes, rows = [], {}
    t = 1_000_000
    for p in range(n_warm + 1):
        samples = []
        for i, op in enumerate(ops):
            s = 0.1 + 0.01 * i + (0.5 if p == 0 else 0.0)
            oid = f"etl/{p}/{op}"
            samples.append({"op": op, "id": oid, "start_ms": t, "s": s, "error": None,
                            "codegen_s": 0.1 if p == 0 else 0.0})
            rows[oid] = [100, 0]
            t += int(s * 1000) + 5
        passes.append({"pass": p, "s": sum(o["s"] for o in samples) + 0.05, "ops": samples,
                       "gc_s": 0.01, "codegen_compile_s": 0.5 if p == 0 else 0.0})
    return {"workload": "etl", "passes": passes, "rows": rows, "mismatches": {}, "warmup_passes": 0,
            "setup": {"setup_s": 5.0, "resolve_cold_s": 0.2, "resolve_warm_s": 0.001,
                      "memo_hits": 10, "memo_lookups": 10},
            "live_heap_mb": 120.0}


class FailuresNeverHelp(unittest.TestCase):
    FLOOR = 8.0

    def check_worse_or_equal(self, bad):
        good = metrics.end_to_end(record(), self.FLOOR)
        worse = metrics.end_to_end(bad, self.FLOOR)
        for k in ["cold_pass_s", "warm_pass_s", "op_p50_s", "op_p75_s"]:
            self.assertGreaterEqual(worse[k][0], good[k][0], k)
        self.assertGreater(worse["warm_pass_s"][0], good["warm_pass_s"][0])
        self.assertIn("q_j", metrics.failed_ops(bad))

    def test_throwing_op_counts_as_failed_and_never_lowers_timings(self):
        bad = record()
        for p in bad["passes"]:
            for o in p["ops"]:
                if o["op"] == "q_j":  # the slowest op now fails fast
                    p["s"] -= o["s"] - 0.001
                    o["s"], o["error"] = 0.001, "RuntimeException: boom"
        self.check_worse_or_equal(bad)

    def test_wrong_result_counts_as_failed_and_never_lowers_timings(self):
        bad = record()
        bad["mismatches"] = {"q_j": "3 rows vs oracle 4"}
        self.check_worse_or_equal(bad)


class PassOnlyOps(unittest.TestCase):
    def test_a_pass_only_op_counts_in_the_pass_not_in_the_percentiles(self):
        rec = record()
        for p in rec["passes"]:
            p["ops"].insert(0, {"op": "Landing.reset", "id": f"etl/{p['pass']}/Landing.reset",
                                "sample": False, "start_ms": 0, "s": 0.001, "error": None,
                                "codegen_s": 0.0})
            p["s"] += 0.001
        good, got = metrics.end_to_end(record(), 8.0), metrics.end_to_end(rec, 8.0)
        for k in ["op_p50_s", "op_p75_s"]:
            self.assertEqual(got[k], good[k], k)
        self.assertGreater(got["warm_pass_s"][0], good["warm_pass_s"][0])


class WrongOutputsFailTheirOps(unittest.TestCase):
    def test_read_back_and_cycle_outputs_map_to_ops(self):
        import run
        w = run.WORKLOADS["land"]
        ops = ["Landing.reset"] + [f"land.{a}" for a in metrics.ARTIFACTS] + [
            "cycle.write_date_partitioned", "cycle.tx_append"]
        got = run.failing_ops(w, ops, {"q_degree_dist": "1 rows vs oracle 2",
                                       "cycle.dest": "no output written"})
        self.assertEqual(sorted(got), ["cycle.tx_append", "cycle.write_date_partitioned",
                                       "land.lift_edges_v2"])
        self.assertEqual(run.failing_ops(run.WORKLOADS["etl"], ["q_group_agg"],
                                         {"q_group_agg": "x"}), {"q_group_agg": "x"})


class Verdicts(unittest.TestCase):
    def test_paired_verdicts(self):
        import compare
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 10.1, 9.9]
        self.assertEqual(compare.verdict(parent, [x * 0.8 for x in parent], "lower", 0.1)[0],
                         "improved")
        self.assertEqual(compare.verdict(parent, [x * 1.3 for x in parent], "lower", 0.1)[0],
                         "worse")
        self.assertEqual(compare.verdict(parent, parent, "lower", 0.1)[0], "unchanged")
        noisy = [5.0, 15.0] * 5
        self.assertEqual(compare.verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1)[0],
                         "unresolved")
        self.assertEqual(compare.verdict(parent, [x * 1.05 for x in noisy], "lower", 0.1)[0],
                         "unresolved")
        self.assertEqual(compare.verdict(parent, [x * 1.2 for x in parent], "higher", 0.1)[0],
                         "improved")
        # under different host load a regression is unresolved, and a gain
        # still needs every change run better than every parent run
        self.assertEqual(compare.verdict(parent, [x * 1.3 for x in parent], "lower", 0.1,
                                         load_differs=True)[0], "unresolved")
        self.assertEqual(compare.verdict(parent, [x * 0.5 for x in parent], "lower", 0.1,
                                         load_differs=True)[0], "improved")


class SubsetSelection(unittest.TestCase):
    def test_picks_the_ops_whose_pooled_split_matches_the_family(self):
        import traffic
        op = lambda warm, plan, jobs: {"warm_s": warm, "cold_s": 3 * warm, "codegen_s": warm,
                                       "plan_s": plan, "idle_s": plan, "task_s": warm - plan,
                                       "jobs": jobs, "error": None}
        # two kinds of op in equal numbers; the family's split is their mix
        table = {f"p{i}": op(1.0, 0.8, 8) for i in range(4)}
        table.update({f"c{i}": op(1.0, 0.2, 2) for i in range(4)})
        table["broken"] = dict(op(1.0, 0.5, 5), error="RuntimeException: boom")
        sel, gap = traffic.select(table, 2, 10.0, 4)
        self.assertEqual(sorted(n[0] for n in sel), ["c", "p"])
        self.assertLess(gap, 1e-9)
        # over the warm budget no subset qualifies
        self.assertEqual(traffic.select(table, 2, 1.0, 4)[1], float("inf"))
        # a subset must hold a query of every owner
        owner = {n: "X" if n in ("p0", "c0") else "Y" for n in table}
        owner["p1"] = "Z"
        sel, _ = traffic.select(table, 2, 10.0, 4, owner)
        self.assertEqual(sel, None)
        sel, _ = traffic.select(table, 3, 10.0, 4, owner)
        self.assertIn("p1", sel)

    def test_etl_runs_the_measured_subset(self):
        import run
        with open(os.path.join(HERE, "traffic", "etl.json")) as f:
            measured = json.load(f)["subset"]["ops"]
        self.assertEqual(run.WORKLOADS["etl"]["ops"], measured)


class Percentile(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(39)), 0.75)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(99)), 0.9)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile(list(range(1, 41)), 0.75), 30)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)
        self.assertEqual(metrics.percentile([3, 1, 2] * 10, 0.5), 2)


class SelfTime(unittest.TestCase):
    def test_hand_built_tree(self):
        # root 0..100 ms; children 10..30 and 20..50 overlap (union 40 ms);
        # grandchild 25..35 lies inside the second child (30 ms long).
        spans = [
            {"id": 1, "parent": 0, "name": "op", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "SparkEntry.build", "start_ms": 10, "end_ms": 30},
            {"id": 3, "parent": 1, "name": "ops.execute", "start_ms": 20, "end_ms": 50},
            {"id": 4, "parent": 3, "name": "spark.job", "start_ms": 25, "end_ms": 35},
            {"id": 5, "parent": 1, "name": "spark.job", "start_ms": 90, "end_ms": 120},
        ]
        st = metrics.self_times(spans)
        # root: 100 ms minus the union of [10,50] and [90,100] = 50 ms
        self.assertAlmostEqual(st["op"][1], 0.050)
        self.assertAlmostEqual(st["op"][0], 0.100)
        self.assertAlmostEqual(st["SparkEntry.build"][1], 0.020)
        self.assertAlmostEqual(st["ops.execute"][1], 0.020)
        self.assertAlmostEqual(st["spark.job"][0], 0.040)
        self.assertAlmostEqual(st["spark.job"][1], 0.040)


class Names(unittest.TestCase):
    def test_every_metric_name_is_well_formed_and_declared(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(declared), len(set(declared)))
        for n in declared:
            self.assertRegex(n, metrics.NAME_RE)
        e2e = metrics.end_to_end(record(), 8.0)
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in bench["end_to_end"]))
        rec = record()
        rec["trace"] = {"spans": [], "jobs": [], "stages": [], "tasks": [], "queries": []}
        layer = metrics.per_layer(rec, 4)
        self.assertEqual(sorted(layer), sorted(m["name"] for m in bench["per_layer"]))
        for n in list(e2e) + list(layer):
            self.assertRegex(n, metrics.NAME_RE)


class SparkSpans(unittest.TestCase):
    def test_jobs_hang_under_the_phase_their_group_names(self):
        trace = {"spans": [
            {"id": 1, "parent": 0, "name": "op", "op": "etl/1/q", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "SparkEntry.build", "op": "etl/1/q", "start_ms": 0,
             "end_ms": 40},
            {"id": 3, "parent": 1, "name": "ops.execute", "op": "etl/1/q", "start_ms": 40,
             "end_ms": 100},
            {"id": 4, "parent": 0, "name": "op", "op": "land/1/land.x", "start_ms": 100,
             "end_ms": 200},
            {"id": 5, "parent": 4, "name": "sources.land.x", "op": "land/1/land.x",
             "start_ms": 101, "end_ms": 199}],
            "jobs": [{"group": "etl/1/q#build", "start_ms": 5, "end_ms": 10},
                     {"group": "etl/1/q#exec", "start_ms": 50, "end_ms": 90},
                     {"group": "land/1/land.x", "start_ms": 120, "end_ms": 150},
                     {"group": "land/1/land.x", "start_ms": 100, "end_ms": 101}]}
        spans = metrics.attach_spark_spans(copy.deepcopy(trace))
        parents = [s["parent"] for s in spans if s["name"] == "spark.job"]
        self.assertEqual(parents, [2, 3, 5, 4])


if __name__ == "__main__":
    unittest.main()
