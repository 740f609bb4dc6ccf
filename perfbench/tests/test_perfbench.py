"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The last test builds the engine and runs one short JVM (about a minute).
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
sys.path.insert(0, os.path.dirname(HERE))

import expected  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.ROOT, ".bench_work")


def digest(dir_):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(dir_, "**", "*.*"), recursive=True)):
        h.update(os.path.relpath(p, dir_).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class TmpDirs(unittest.TestCase):
    def mkdtemp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(prefix="test-", dir=SCRATCH)
        self.addCleanup(shutil.rmtree, d, True)
        return d


class GeneratorTest(TmpDirs):
    SIZE = {"n_events": 3000, "n_songs": 300, "n_users": 20}

    def sparkify(self, seed):
        d = self.mkdtemp()
        stats = gen.sparkify(seed, d, **self.SIZE)
        return d, stats

    def test_sparkify_is_deterministic_per_seed(self):
        a, sa = self.sparkify(7)
        b, sb = self.sparkify(7)
        c, _ = self.sparkify(8)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(sa, sb)
        self.assertNotEqual(digest(a), digest(c))
        self.assertEqual(sa["sparkify_event_rows"], 3000)
        self.assertEqual(sa["sparkify_song_rows"], 300)

    def test_sf_is_deterministic_per_seed(self):
        a, b, c = self.mkdtemp(), self.mkdtemp(), self.mkdtemp()
        sa = gen.sf(3, a, 0.05)
        sb = gen.sf(3, b, 0.05)
        gen.sf(4, c, 0.05)
        self.assertEqual(sa, sb)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_sparkify_covers_the_fixture_quirks(self):
        d, _ = self.sparkify(5)
        def lines(path):
            with open(path, encoding="utf-8") as f:
                return [json.loads(l) for l in f]
        events = [e for p in sorted(glob.glob(os.path.join(d, "log_data", "*.json")))
                  for e in lines(p)]
        songs = lines(os.path.join(d, "song_data", "songs.json"))
        out = [e for e in events if e["auth"] == "Logged Out"]
        self.assertTrue(out)
        self.assertTrue(all(e["userId"] == "" for e in out))
        levels = {}
        for e in events:
            if e["userId"]:
                levels.setdefault(e["userId"], set()).add(e["level"])
        self.assertTrue(any(v == {"free", "paid"} for v in levels.values()))
        catalog = {(s["artist_name"], s["title"]) for s in songs}
        plays = [(e["artist"], e["song"]) for e in events if e["page"] == "NextSong"]
        self.assertTrue(any(p in catalog for p in plays))
        self.assertTrue(any(p not in catalog for p in plays))
        self.assertTrue(any(s["artist_location"] == "" for s in songs))
        self.assertTrue(any(s["year"] == 0 for s in songs))
        self.assertTrue(any(";" in s["artist_name"] for s in songs))
        self.assertTrue(any("band" in s["artist_name"].lower() for s in songs))


def fake_record(traced_wall=2.0, plain_wall=1.8):
    layers = {"build_jobs": 2, "exec_jobs": 3, "stages": 6, "stages_skipped": 1,
              "tasks": 12, "failed_tasks": 0, "task_s": 1.5, "cpu_s": 1.2,
              "gc_s": 0.01, "slot_wait_s": 0.2, "shuffle_read_mb": 1.0,
              "shuffle_write_mb": 1.0, "spill_mb": 0.0, "input_rows": 100,
              "input_mb": 0.5, "output_rows": 10, "output_mb": 0.1,
              "plan_s": {"analysis": 0.01, "optimization": 0.02, "planning": 0.01},
              "etl_s": {"fct_song_plays": 0.3}, "readback_jobs": 7,
              "batches": 2, "empty_batches": 1, "batch_s": 0.4, "state_rows": 5}
    op = {"op": "q", "ok": True, "build_s": 0.5, "exec_s": 1.0, "s": 1.5,
          "files_written": 0, "layers": layers}
    passes = [
        {"index": 1, "wall_s": traced_wall, "cpu_s": 3.0, "gc_s": 0.0,
         "traced": True, "ops": [op]},
        {"index": 2, "wall_s": plain_wall, "cpu_s": 2.9, "gc_s": 0.0,
         "traced": False, "ops": [dict(op, layers=None)]},
    ]
    rec = {"host": {"spark_cores": 4}, "passes": passes, "setup_s": 9.0,
           "heap_after_gc_mb": [100.0, 110.0], "session_start_s": 2.0,
           "verify_s": 3.0, "compare_s": 1.0, "warm_s": 2.0, "harness": {"gen_s": 0.5},
           "jit_s": 0.1, "steal_s": 0.0, "load_avg": [1.0, 1.1], "spans": 3}
    spans = [
        {"kind": "pass", "name": "pass 1", "op": "", "self_ms": 10.0},
        {"kind": "op", "name": "q", "op": "p1.q", "self_ms": 5.0},
        {"kind": "job", "name": "job 1", "op": "p1.q", "self_ms": 20.0},
    ]
    return rec, spans


class MetricsTest(unittest.TestCase):
    def bench(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            return json.load(f)

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        declared = {m["name"]: m["unit"] for m in self.bench()["end_to_end"]}
        self.assertEqual(declared, run.E2E_UNITS)
        rec, _ = fake_record()
        m, _ = run.end_to_end(rec, {"rows": 1000})
        self.assertEqual(set(m), set(declared))
        self.assertTrue(all(v > 0 for v, _ in m.values()))

    def test_per_layer_names_and_units_match_benchmark_json(self):
        declared = run.per_layer_units()
        rec, spans = fake_record()
        out = run.layer_metrics(rec, spans)
        self.assertEqual(set(out), set(declared))
        self.assertAlmostEqual(out["trace.overhead_s"], 0.2)
        self.assertAlmostEqual(out["self.job_s"], 0.02)
        self.assertEqual(out["etl.readback_jobs"], 7)
        self.assertEqual(set(declared["etl.%s.s" % t] for t in expected.STAR_TABLES), {"s"})

    def test_workloads_match_benchmark_json(self):
        for w in self.bench()["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(run.tail(list(range(19))))
        self.assertEqual(run.tail([float(x) for x in range(20)]), (9.0, 50))
        v, pct = run.tail([float(x) for x in range(1, 101)])
        self.assertEqual((v, pct), (90.0, 90))
        xs = [float(x) for x in range(1, 68)]
        v, pct = run.tail(xs)
        self.assertGreaterEqual(sum(x > v for x in xs), 10)
        self.assertLess(sum(x > xs[-(-(pct + 1) * 67 // 100) - 1] for x in xs), 10)


class WrongExpectedTest(TmpDirs):
    """A deliberately wrong expected fingerprint yields a failed op that
    gets no timing, while the other ops are still timed."""

    def test_wrong_expected_fails_the_op(self):
        classes, jars = run.build()
        with open(os.path.join(os.path.dirname(classes), "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        work = self.mkdtemp()
        dirs, _, _ = run.prepare("pipeline_barriers", 1, work)
        ops = ["q_x_corr_matrix", "q_x_quantile_sketch_anchor"]
        expected.catalog(oracle_sql, dirs["sf"], dirs["expected"], ops)
        bad = os.path.join(dirs["expected"], "q_x_corr_matrix.parquet")
        import duckdb
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{bad}')")
        con.execute("UPDATE t SET " + con.execute("DESCRIBE t").fetchall()[-1][0]
                    + " = NULL")
        con.execute(f"COPY t TO '{bad}' (FORMAT PARQUET)")
        con.close()
        rec, _ = run.run_jvm("pipeline_barriers", 1, 0, dirs, classes, jars,
                             ops=ops)
        self.assertEqual(rec["verify"]["q_x_corr_matrix"], "mismatch")
        self.assertEqual(rec["verify"]["q_x_quantile_sketch_anchor"], "ok")
        self.assertTrue(any("q_x_corr_matrix" in f for f in rec["failures"]))
        timed = [o["op"] for p in rec["passes"] for o in p["ops"]]
        self.assertNotIn("q_x_corr_matrix", timed)
        self.assertIn("q_x_quantile_sketch_anchor", timed)


if __name__ == "__main__":
    unittest.main()
