#!/usr/bin/env python3
"""The benchmark's own tests: a broken op can never be reported as fast.

    python3 perfbench/test_bench.py            # all tests (two short JVM runs)
    python3 perfbench/test_bench.py -k Pure    # only the tests without a JVM

The end-to-end tests run two ops of the genetics workload through the real
harness: once against an expected-digest file with one digest perturbed,
once with an op deadline no op can meet. Both must report failed ops and
correct=false.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

OPS = "vcf_import,qc_variant_qc"


def bench(*extra):
    p = subprocess.run(
        [sys.executable, str(run.BENCH / "run.py"), "--workload", "genetics",
         "--seed", "7", "--seconds", "0.1", "--ops", OPS,
         *extra], capture_output=True, text=True, cwd=run.ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class Pure(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        for key, ours in (("end_to_end", run.END_TO_END),
                          ("per_layer", run.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in spec[key]],
                             list(ours))
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))

    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, n = run.tail([float(i) for i in range(1, 41)])
        self.assertEqual((value, n), (30.0, 40))
        self.assertAlmostEqual(pct, 75.0)
        self.assertIsNone(run.tail([float(i) for i in range(19)]))

    def test_op_medians_are_per_op(self):
        ops = [{"op": o, "sec": t} for o, t in
               [("a", 1.0), ("a", 9.0), ("a", 2.0), ("b", 5.0), ("b", 4.0)]]
        self.assertEqual(run.op_medians(ops), [2.0, 4.5])

    def test_check_ops_counts_errors_and_mismatches(self):
        recs = [{"type": "op", "op": o, "pass": p, "digest": d, "error": e}
                for o, p, d, e in [
                    ("a", 0, "1:x", None), ("a", 1, "2:x", None),
                    ("b", 0, None, "[deadline 1.000 s exceeded]"),
                    ("c", 0, "3:x", None)]]
        failed = run.check_ops(recs, {"a": "1:x", "b": "9:x"})
        self.assertEqual([(f[0], f[1]) for f in failed],
                         [("a", 1), ("b", 0), ("c", 0)])

    def test_parts_come_from_sampler_and_listener(self):
        rec = {"sec": 1.0, "layers": {
            "sampled": {"entry": 0.1, "catalyst": 0.2, "wait": 0.45},
            "eager_jobs_s": 0.1, "action_jobs_s": 0.3}}
        parts, wait = run.op_parts(rec)
        self.assertEqual(wait, 0.45)
        self.assertAlmostEqual(parts["jobs"], 0.4)
        self.assertEqual(parts["codegen"], 0.0)
        # the sampled wait is not summed: a gap between it and the
        # listener's job time shows in the sum
        self.assertAlmostEqual(sum(parts.values()), 0.7)

    def test_split_is_a_partition_per_seed(self):
        out = build.build_dir() / "test-split"
        shutil.rmtree(out, ignore_errors=True)
        try:
            import pyarrow.parquet as pq
            ids = {}
            for seed in (1, 2):
                run.split_inputs(["documents"], ["documents"], seed,
                                 out / str(seed))
                parts = sorted(
                    (out / str(seed) / "documents.parquet").iterdir())
                self.assertEqual(len(parts), run.SPLIT_PARTS)
                ids[seed] = [pq.read_table(p).column("doc_id").to_pylist()
                             for p in parts]
            whole = pq.read_table(run.DATA / "documents.parquet")
            for seed in (1, 2):
                flat = [i for part in ids[seed] for i in part]
                self.assertEqual(sorted(flat),
                                 sorted(whole.column("doc_id").to_pylist()))
            self.assertNotEqual(ids[1], ids[2])
        finally:
            shutil.rmtree(out, ignore_errors=True)


class EndToEnd(unittest.TestCase):
    def test_clean_run_passes(self):
        r = bench()
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)

    def test_perturbed_digest_fails_the_op(self):
        exp = json.loads(run.EXPECTED.read_text())
        exp["qc_variant_qc"] = "0:" + exp["qc_variant_qc"].split(":", 1)[1]
        path = build.build_dir() / "test-expected.json"
        path.write_text(json.dumps(exp))
        try:
            r = bench("--expected", str(path))
        finally:
            path.unlink()
        self.assertFalse(r["correct"])
        # qc_variant_qc runs once per pass: every one of its runs fails
        self.assertEqual(r["failed"], r["attempted"] // 2)

    def test_forced_deadline_fails_every_op(self):
        r = bench("--op-deadline", "0.001")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], r["attempted"])


if __name__ == "__main__":
    unittest.main()
