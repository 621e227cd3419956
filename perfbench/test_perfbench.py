"""Tests of the harness's own math: tail selection, span self time, the
seeded plans and the live-key model behind the expected counts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import plan  # noqa: E402
import stats  # noqa: E402

SECONDS = 40  # enough for two rounds of every workload


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_exactly_ten_samples_beyond(self):
        xs = [float(x) for x in range(1, 101)]
        value, pct, n = stats.tail(list(reversed(xs)))
        self.assertEqual(value, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_smallest_sample_count(self):
        value, pct, n = stats.tail([5.0] * 10 + [1.0])
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_failed_ops_count_as_missing_latency(self):
        run = {"ops": [
            {"kind": "lookup", "phase": "loop", "route": "sql", "ms": 10.0, "ok": True},
            {"kind": "lookup", "phase": "loop", "route": "sql", "ms": 1.0, "ok": False},
            {"kind": "lookup", "phase": "loop", "route": "sql", "ms": 20.0, "ok": True},
            {"kind": "lookup", "phase": "loop", "route": "direct", "ms": 1.0, "ok": True},
            {"kind": "load", "phase": "setup", "route": "sql", "ms": 1.0, "ok": True},
        ]}
        xs = stats.per_kind(run)["point_lookup"]
        self.assertEqual(sorted(xs), [10.0, 20.0, stats.INF])
        self.assertEqual(stats.median(xs), 20.0)


def span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "op": 0, "start_ns": start,
            "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 90),
                 span(3, 2, 60, 70)]
        self.assertEqual(stats.self_times(spans), {0: 40, 1: 20, 2: 30, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_child_clipped_to_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 120)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_summary_totals(self):
        spans = [span(0, -1, 0, 2_000_000), span(1, 0, 0, 500_000)]
        s = stats.span_summary(spans)
        self.assertEqual(s["s0"]["self_ms"], 1.5)
        self.assertEqual(s["s1"]["total_ms"], 0.5)


class PlanTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in plan.WORKLOADS:
            a, b = plan.make_plan(w, 11, SECONDS), plan.make_plan(w, 11, SECONDS)
            self.assertEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True))

    def test_run_length_sets_rounds(self):
        self.assertEqual(len(plan.make_plan("ingest_mor", 1, 5)["rounds"]), 1)
        self.assertEqual(len(plan.make_plan("read_phases", 1, 20)["rounds"]), 2)

    def test_seed_changes_keys(self):
        for w in plan.WORKLOADS:
            a, b = plan.make_plan(w, 1, SECONDS), plan.make_plan(w, 2, SECONDS)
            self.assertNotEqual(a["rounds"], b["rounds"])
            kinds = [[o["kind"] for o in r] for r in a["rounds"]]
            self.assertEqual(kinds, [[o["kind"] for o in r] for r in b["rounds"]])

    def test_rounds_follow_the_workload_shape(self):
        read = plan.make_plan("read_phases", 3, SECONDS)["rounds"][0]
        self.assertEqual([o["kind"] for o in read],
                         ["pruned_agg", "full_agg"] + ["lookup"] * 8 + ["count"])
        mor = [o["kind"] for o in plan.make_plan("ingest_mor", 3, SECONDS)["rounds"][1]]
        self.assertEqual(mor, ["insert"] * 10 + ["upsert", "delete", "update", "checksum",
                                                 "count", "maintain_table"])
        cow = [o["kind"] for o in plan.make_plan("bulk_cow", 3, SECONDS)["rounds"][0]]
        self.assertEqual(cow, ["insert", "delete", "update", "checksum", "count",
                               "maintain_calls"])

    def test_one_count_per_round_and_final_matches_last(self):
        for w in plan.WORKLOADS:
            p = plan.make_plan(w, 5, SECONDS)
            counts = [[o["expectCount"] for o in r if o["kind"] == "count"] for r in p["rounds"]]
            self.assertTrue(all(len(c) == 1 for c in counts))
            self.assertEqual(p["finalCount"]["expectCount"], counts[-1][0])

    def test_ingest_round_arithmetic(self):
        s = plan.SIZES["ingest_mor"]
        p = plan.make_plan("ingest_mor", 9, SECONDS)
        # per round: inserts, half the upsert is new keys, a delete range goes
        grow = s["inserts"] * s["insert_rows"] + s["upsert_rows"] // 2 - s["delete_keys"]
        live = [o["expectCount"] for r in p["rounds"] for o in r if o["kind"] == "count"]
        self.assertEqual(live[0], s["rows"] + grow)
        self.assertEqual(live[1] - live[0], grow)

    def test_bulk_cow_scattered_delete(self):
        s = plan.SIZES["bulk_cow"]
        p = plan.make_plan("bulk_cow", 4, SECONDS)
        delete = p["rounds"][0][1]
        self.assertEqual(delete["pred"]["kind"], "mod")
        keys = range(p["setup"][0]["src"][0]["delta"],
                     p["setup"][0]["src"][0]["delta"] + s["rows"] + s["insert_rows"])
        gone = sum(1 for k in keys if k % plan.MOD == delete["pred"]["r"])
        count = next(o for o in p["rounds"][0] if o["kind"] == "count")
        self.assertEqual(count["expectCount"], len(keys) - gone)


class KeySetTest(unittest.TestCase):
    def test_ranges_and_residues(self):
        ks = plan.KeySet()
        ks.add(0, 5000)
        ks.delete_range(100, 200)
        self.assertEqual(ks.count(), 4900)
        ks.delete_mod(7)
        self.assertEqual(ks.count(), 4900 - sum(1 for k in range(5000)
                                                if k % plan.MOD == 7 and not 100 <= k < 200))
        ks.add(150, 160)  # re-written keys are live again, whatever their residue
        self.assertEqual(ks.count(), 4905)

    def test_pick_range_is_live(self):
        import random
        ks = plan.KeySet()
        ks.add(0, 100)
        ks.delete_range(10, 95)
        lo, hi = ks.pick_range(random.Random(0), 8)
        self.assertTrue(0 <= lo and hi <= 10)


if __name__ == "__main__":
    unittest.main()
