"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest perfbench/test_perfbench.py     # from the repository root
"""
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def digest(paths):
    """sha256 over the bytes of the given files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def files(self, d):
        return sorted(glob.glob(os.path.join(d, "*.json")))

    def test_sync_inputs_repeat_per_seed_and_differ_across_seeds(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.generate_sync(7, a)
        gen.generate_sync(7, b)
        gen.generate_sync(8, c)
        fa, fb = self.files(a), self.files(b)
        self.assertEqual([os.path.basename(p) for p in fa], [os.path.basename(p) for p in fb])
        self.assertEqual(digest(fa), digest(fb))
        self.assertNotEqual(digest(fa), digest(self.files(c)))

    def test_corpus_inputs_repeat_per_seed_and_differ_across_seeds(self):
        out = {}
        for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
            d = os.path.join(self.tmp, tag)
            paths, planted = gen.generate_corpus(seed, d, n_docs=2000)
            out[tag] = (digest([paths["docs"], paths["bench"]]), planted)
        self.assertEqual(out["a"], out["b"])
        self.assertNotEqual(out["a"][0], out["c"][0])
        self.assertTrue(out["a"][1], "the corpus plants contaminated docs")

    def test_query_order_repeats_per_seed_and_covers_the_subset(self):
        self.assertEqual(gen.query_rounds(1), gen.query_rounds(1))
        self.assertNotEqual(gen.query_rounds(1), gen.query_rounds(2))
        for r in gen.query_rounds(1):
            self.assertEqual(sorted(r), sorted(gen.QUERY_SUBSET))

    def test_timestamps_render_in_three_formats(self):
        ms = gen.T0 + 1234
        self.assertEqual(gen.render_ts(ms, "epoch_millis"), str(ms))
        self.assertEqual(gen.render_ts(ms, "iso_millis"), "2026-01-01T00:00:01.234Z")
        self.assertEqual(gen.render_ts(ms - 234, "iso_seconds"), "2026-01-01T00:00:01Z")


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))

    def test_highest_percentile_with_ten_samples_beyond(self):
        t = stats.tail([float(i) for i in range(1, 12)])
        self.assertEqual((t["value"], t["n"]), (1.0, 11))
        t = stats.tail([float(i) for i in range(100, 0, -1)])
        self.assertEqual((t["value"], t["percentile"], t["n"]), (90.0, 90.0, 100))
        t = stats.tail([float(i) for i in range(1000)])
        self.assertEqual((t["value"], t["percentile"]), (989.0, 99.0))


class SyncCheckTest(unittest.TestCase):
    """Plant wrong merges into a snapshot that matches the model and check
    that each one is reported and charged to the right cycle."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.plan, cls.expect = gen.generate_sync(11, cls.tmp)
        cls.n = 2
        cls.rows = cls.expect.rows(cls.n)
        cls.cursors = cls.expect.cursors(cls.n)
        cls.runs = ["c0001", "c0002"]
        with open(cls.plan["batches"][1]["path"]) as f:
            cls.batch2 = [json.loads(line) for line in f]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def check(self, rows, cursors=None):
        return checks.check_sync(rows, self.rows, cursors or self.cursors,
                                 self.cursors, self.runs)

    def snapshot(self):
        return [dict(r) for r in self.rows.values()]

    def test_the_model_itself_passes(self):
        self.assertEqual(self.check(self.snapshot()), [])

    def test_applied_unchanged_resend_is_caught(self):
        # a batch-2 row whose object batch 2 did not change is a re-send
        # (or a stale version); applying it stamps batch 2's run id
        resend = next(r["id"] for r in self.batch2
                      if self.rows[r["id"]]["emitted_id"] != "c0002")
        snap = self.snapshot()
        for r in snap:
            if r["id"] == resend:
                r["emitted_id"] = "c0002"
        found = self.check(snap)
        self.assertTrue(found)
        self.assertIn("c0002", {op for op, _ in found})

    def test_lost_tombstone_is_caught(self):
        tomb = next(i for i, r in self.rows.items()
                    if r["archived"] and r["emitted_id"] in self.runs)
        snap = self.snapshot()
        for r in snap:
            if r["id"] == tomb:
                r["archived"] = False
        found = self.check(snap)
        self.assertTrue(any("archived" in msg for _, msg in found))

    def test_kept_duplicate_pk_is_caught(self):
        dup = next(i for i, r in self.rows.items() if r["emitted_id"] == "c0001")
        snap = self.snapshot()
        old = dict(self.rows[dup], updatedAt=self.rows[dup]["updatedAt"] - 1000,
                   emitted_id="bootstrap")
        snap.append(old)
        found = self.check(snap)
        self.assertTrue(any("duplicate pk" in msg for _, msg in found))

    def test_wrong_warmup_merge_fails_the_run(self):
        # the warm-up cycle runs untimed on the snapshot the timed cycles
        # continue; a wrong merge there has no timed op to charge
        warm = next(i for i, r in self.rows.items() if r["emitted_id"] == "warmup")
        snap = self.snapshot()
        for r in snap:
            if r["id"] == warm:
                r["emitted_id"] = "bootstrap"
        found = self.check(snap)
        self.assertEqual({op for op, _ in found}, {None})

    def test_missing_cursor_advance_is_caught(self):
        found = self.check(self.snapshot(), self.cursors[:-1])
        self.assertEqual([op for op, _ in found], ["c0002"])


class CorpusCheckTest(unittest.TestCase):
    def rows(self):
        # one source, budget 4: docs of 3, 2, 3 tokens start at 0, 3, 5
        return [{"doc_id": 1, "text": "a b c", "source": "s", "n_toks": 3, "seq_id": 0},
                {"doc_id": 2, "text": "d e", "source": "s", "n_toks": 2, "seq_id": 0},
                {"doc_id": 3, "text": "f g h", "source": "s", "n_toks": 3, "seq_id": 1}]

    def test_clean_export_passes(self):
        self.assertEqual(checks.check_corpus(self.rows(), [9], 4, []), [])

    def test_each_violation_is_reported(self):
        rows = self.rows()
        rows[1]["text"] = "a b c"          # shares doc 1's content hash
        rows[1]["n_toks"] = 3
        rows[2]["seq_id"] = 0             # starts at token 6, outside window 0
        found = checks.check_corpus(rows, [3], 4, ["shard 0: files missing"])
        text = "\n".join(found)
        for needle in ("content hash", "planted", "budget window", "Shards.verify"):
            self.assertIn(needle, text)


class LayerMappingTest(unittest.TestCase):
    def test_every_engine_source_file_maps_to_its_layer(self):
        files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "**",
                                       "*.scala"), recursive=True)
        self.assertTrue(files)
        for path in files:
            rel = os.path.relpath(path, os.path.join(ROOT, "src", "main", "scala"))
            parts = rel[:-len(".scala")].split(os.sep)
            stem = parts[-1]
            frame = f"{'.'.join(parts)}$.f({stem}.scala:1)"
            layer = parts[1] if len(parts) == 3 else None
            want = layer if layer in stats.JOB_LAYERS else None
            if frame.startswith(stats.HELPERS):
                want = None
            with self.subTest(file=rel):
                self.assertEqual(stats.layer_of_frames([frame]), want)
                # with a caller further out, a pass-over frame yields the caller
                caller = "graft.operators.Upsert$.partitioned(Upsert.scala:1)"
                self.assertEqual(stats.layer_of_frames([frame, caller]),
                                 want or "operators")

    def test_every_layer_directory_is_known(self):
        dirs = {d for d in os.listdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
                if os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft", d))}
        self.assertEqual(dirs - {"tools"}, set(stats.LAYERS))

    def test_no_engine_frame_is_unattributed(self):
        self.assertIsNone(stats.layer_of_frames([]))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 2, "parent": 1, "start_ms": 1.0, "end_ms": 4.0},
                 {"id": 3, "parent": 1, "start_ms": 3.0, "end_ms": 5.0},
                 {"id": 4, "parent": 1, "start_ms": 8.0, "end_ms": 9.0}]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)


class CompareTest(unittest.TestCase):
    spec = {"end_to_end": [{"name": "op_p50_s", "unit": "s", "better": "lower",
                            "bound": 0.1}]}

    def runs(self, values):
        return {"w": {seed: {"op_p50_s": v} for seed, v in enumerate(values)}}

    def verdict(self, base, change):
        return compare.compare(self.runs(base), self.runs(change), self.spec)[0][2]["verdict"]

    def test_verdicts(self):
        base = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00]
        self.assertEqual(self.verdict(base, [v * 0.8 for v in base]), "better")
        self.assertEqual(self.verdict(base, [v * 1.3 for v in base]), "worse")
        self.assertEqual(self.verdict(base, list(base)), "same")
        noisy = [1.0, 1.5, 0.7, 1.3, 0.8, 1.2, 0.9, 1.4, 0.6, 1.1]
        self.assertEqual(self.verdict(base, noisy), "unresolved")


if __name__ == "__main__":
    unittest.main()
