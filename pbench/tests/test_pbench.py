"""Tests for the benchmark's own pieces: python3 -m unittest discover pbench/tests"""

import contextlib
import io
import json
import re
import shutil
import sys
import unittest
from pathlib import Path
from unittest import mock

HERE = Path(__file__).resolve().parent
PBENCH = HERE.parent
sys.path.insert(0, str(PBENCH))

import run  # noqa: E402

SPEC = json.loads((PBENCH.parent / "BENCHMARK.json").read_text())


class MetricNamesTest(unittest.TestCase):

    def printed(self, trace):
        fake = ({"setup_s": [1.0, 2.0, 3.0], "retained_heap_mb": 80.0, "trace_table": []},
                {"latency_ms": 12.5, "throughput_per_s": 100.0},
                {}, {"spark.jobs_per_op": 0.1, "unlisted.metric": 1.0}, 10, 0, {"ok": True})
        out = io.StringIO()
        with mock.patch.object(run, "build", return_value=""), \
                mock.patch.object(run, "stream_replay", return_value=fake), \
                mock.patch.object(run, "OUT", self.tmp), \
                contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            run.main(["--workload", "stream_replay", "--seed", "1", "--seconds", "1",
                      "--trace", str(trace)])
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def setUp(self):
        self.tmp = Path(run.OUT.parent / "pbench-test")
        self.tmp.mkdir(parents=True, exist_ok=True)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_printed_names_are_the_benchmark_metrics(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = self.printed(trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(res["metrics"]), [m["name"] for m in SPEC[key]])
            for m in SPEC[key]:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_listed_layer_metric_is_measured(self):
        listed = {m["name"] for m in SPEC["per_layer"]} | {m["name"] for m in SPEC["end_to_end"]}
        sources = [PBENCH / "run.py"] + sorted((PBENCH / "harness" / "src").rglob("*.scala"))
        text = "\n".join(p.read_text() for p in sources)
        produced = set(re.findall(r'"((?:spark|self|curation|operators)\.[a-z0-9_.]+)"\s*->', text))
        produced |= {"self.%s_ms_per_op" % l for l in ("serve", "streaming")}
        per_query = re.findall(r's"streaming\.\$q\.([a-z0-9_]+)"\s*->', text)
        produced |= {"streaming.%s.%s" % (q, m) for q in ("alerts", "segments", "profiles") for m in per_query}
        self.assertTrue(produced)
        self.assertEqual(sorted(n for n in listed - produced if "." in n), [])


class CorpusCheckTest(unittest.TestCase):
    """Decision counts must equal the LSH replay's exactly."""

    def outcome(self, counts):
        jvm = {"admit_ms": [3000.0, 2000.0, 2500.0], "batch_docs": 1000, "counts": counts,
               "expected_counts": {"admitted": 2400, "rejected_exact": 300,
                                   "rejected_near": 300, "rejected_other": 0},
               "seeded_mix": {"admitted": 2400, "rejected_exact": 300,
                              "rejected_near": 300, "rejected_other": 0},
               "layers": {}}
        with mock.patch.object(run, "run_jvm", return_value=jvm):
            _, e2e, _, _, attempted, failed, checks = run.corpus_ingest("", None, None)
        return e2e, attempted, failed, checks

    def test_exact_mix_passes(self):
        e2e, attempted, failed, checks = self.outcome(
            {"admitted": 2400, "rejected_exact": 300, "rejected_near": 300, "rejected_other": 0})
        self.assertEqual((attempted, failed), (3000, 0))
        self.assertTrue(all(checks.values()))
        self.assertEqual(e2e["latency_ms"], 2500.0)
        self.assertEqual(e2e["throughput_per_s"], 400.0)

    def test_one_missed_near_duplicate_fails(self):
        _, _, failed, checks = self.outcome(
            {"admitted": 2401, "rejected_exact": 300, "rejected_near": 299, "rejected_other": 0})
        self.assertEqual(failed, 1)
        self.assertFalse(all(checks.values()))


if __name__ == "__main__":
    unittest.main()
