"""Tests for the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))          # rank 90, ten samples beyond
        self.assertEqual(metrics.tail_percentile(xs, 0.9), 90)
        self.assertIsNone(metrics.tail_percentile(xs[:99], 0.9))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(200, 0, -1)]
        self.assertEqual(metrics.tail_percentile(xs, 0.9), 180.0)

    def test_empty_and_small(self):
        self.assertIsNone(metrics.tail_percentile([], 0.9))
        self.assertIsNone(metrics.tail_percentile([1.0] * 10, 0.5))
        self.assertEqual(metrics.tail_percentile([1.0] * 20, 0.5), 1.0)

    def test_end_to_end_omits_p90_when_too_few(self):
        ops = [{"window": "untraced", "ok": True, "kind": "read",
                "ms": float(i)} for i in range(1, 31)]
        meta = {"session_s": 2.0, "setup_rounds_s": [3.0, 1.0, 2.0],
                "untraced.wall_s": 3.0, "heap_retained_mb": 50.0}
        m = metrics.end_to_end(ops, meta)
        self.assertNotIn("op_p90_ms", m)
        self.assertEqual(m["op_p50_ms"][0], 15.5)
        self.assertEqual(m["setup_s"][0], 4.0)
        self.assertEqual(m["ops_per_s"][0], 10.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 30.0},
            {"id": 3, "parent": 1, "start": 50.0, "end": 60.0},
            {"id": 4, "parent": 2, "start": 12.0, "end": 14.0},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 70.0)
        self.assertEqual(st[2], 18.0)
        self.assertEqual(st[3], 10.0)
        self.assertEqual(st[4], 2.0)

    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 6.0},
            {"id": 3, "parent": 1, "start": 4.0, "end": 8.0},
            {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past
        ]
        self.assertEqual(metrics.self_times(spans)[1], 2.0)

    def test_job_goes_to_innermost_open_span(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 30.0},
        ]
        self.assertEqual(metrics.innermost_span(spans, 20.0), 2)
        self.assertEqual(metrics.innermost_span(spans, 40.0), 1)
        self.assertIsNone(metrics.innermost_span(spans, 140.0))


    def test_job_span_id_used_only_while_that_span_is_open(self):
        ops = [{"id": 1, "window": "traced", "ok": True, "kind": "query",
                "name": "q", "ms": 100.0}]
        spans = [
            {"id": 1, "parent": 0, "op": 1, "name": "op.q",
             "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "op": 1, "name": "exec",
             "start": 10.0, "end": 50.0},
            {"id": 3, "parent": 1, "op": 1, "name": "plans.plan",
             "start": 5.0, "end": 8.0},
        ]
        jobs = [{"id": 1, "submit": 20.0, "end": 30.0, "span": 0},
                {"id": 2, "submit": 60.0, "end": 70.0, "span": 2},   # stale
                {"id": 3, "submit": 40.0, "end": 45.0, "span": 3}]   # stale
        meta = {"traced.gc_ms": 0, "traced.publishes": 0,
                "traced.resolve_hits": 0}
        m = metrics.per_layer(ops, spans, jobs, [], meta, {}, 4)
        self.assertEqual(m["exec.jobs"][0], 2.0)
        self.assertEqual(m["exec.ms"][0], 40.0)


class DirectoryDiff(unittest.TestCase):
    snaps = [
        {"engine/users.csv": 100, "sim/v1/a.parquet": 50},
        {"engine/users.csv": 100, "sim/v1/a.parquet": 50,
         "sim/deltas/b1/x.parquet": 7, "engine/posts.csv.v1.d1/p": 3},
        # compaction: the delta is gone, a new generation appears
        {"engine/users.csv": 100, "sim/v1/a.parquet": 50,
         "sim/v2/a.parquet": 57, "engine/posts.csv.v1.d1/p": 3,
         "engine/_manifest.m2": 20},
        # a file rewritten in place with a new size counts again
        {"engine/users.csv": 120, "sim/v2/a.parquet": 57,
         "engine/_manifest.m2": 20},
    ]

    def test_created_bytes_counts_deleted_files_once(self):
        self.assertEqual(metrics.created_bytes(self.snaps),
                         7 + 3 + 57 + 20 + 120)
        self.assertEqual(metrics.created_bytes(self.snaps, "sim/"), 7 + 57)
        self.assertEqual(metrics.created_bytes(self.snaps[:1]), 0)

    def test_disk_bytes_and_amplification(self):
        self.assertEqual(metrics.disk_bytes(self.snaps[-1]), 197)
        self.assertEqual(metrics.disk_bytes(self.snaps[-1], "engine/"), 140)
        snaps = {"untraced.start": self.snaps[0], "untraced.5": self.snaps[1],
                 "untraced.9": self.snaps[2], "end": self.snaps[3],
                 "fresh": {"a": 100}}
        self.assertEqual(metrics.churn_amplification(snaps),
                         (7 + 3 + 57 + 20, 197, 100))

    def test_versions_minted(self):
        self.assertEqual(metrics.new_versions(self.snaps, "engine/"), 2)


class SeededInputs(unittest.TestCase):
    @staticmethod
    def digest(d):
        h = hashlib.sha256()
        for f in sorted(Path(d).iterdir()):
            h.update(f.name.encode() + f.read_bytes())
        return h.hexdigest()

    def build(self, root, seed):
        d = Path(root) / str(seed)
        gen.tables(str(d / "tables"), 0.001, seed)
        names = gen.fixture(str(d / "fixture"), seed)
        gen.churn_plan(str(d / "fixture" / "plan.txt"), seed, names)
        return self.digest(d / "tables"), self.digest(d / "fixture")

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            first = self.build(a, 7)
            self.assertEqual(first, self.build(b, 7))
            self.assertNotEqual(first, self.build(b, 8))

    def test_plan_ids_are_disjoint_and_ingested(self):
        with tempfile.TemporaryDirectory() as d:
            names = gen.fixture(d, 3)
            gen.churn_plan(f"{d}/plan.txt", 3, names)
            sections = gen.plan_sections(f"{d}/plan.txt")
        self.assertEqual(list(sections), list(gen.SECTIONS))
        kinds = [[ln.split(" ")[:2] for ln in s[0]] for s in sections.values()]
        self.assertTrue(all(k == kinds[0] for k in kinds))  # windows alike
        removed = []
        for ln in (ln for s in sections.values() for c in s for ln in c):
            tok = ln.split(" ")
            if tok[1] == "purge" or tok[1:3] == ["fold", "dedup"]:
                ids = tok[2:] if tok[1] == "purge" else tok[3:]
                removed += [int(i) for i in ids]
        self.assertEqual(len(removed), len(set(removed)))
        self.assertTrue(all(0 <= i < gen.BASE_IDS for i in removed))


class ContractLists(unittest.TestCase):
    def test_result_metrics_match_benchmark_json(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         run.END_TO_END)
        traced = [m["name"] for m in spec["per_layer"]]
        ops = [{"id": 1, "window": "traced", "ok": True, "kind": "read",
                "name": "q", "ms": 1.0}]
        meta = {"traced.gc_ms": 0, "traced.publishes": 0,
                "traced.resolve_hits": 0}
        layer = metrics.per_layer(ops, [], [], [], meta, {}, 4)
        self.assertEqual(traced, list(layer) + run.TRACE_KEYS)


if __name__ == "__main__":
    unittest.main()
