"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests        # fast, synthetic
    PERFBENCH_LIVE=1 python3 -m unittest discover -s perfbench/tests

Run from the repository root. The live tests run every workload end to end
through run.py (a few minutes; the first run builds the harness).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def op(name, lat, digest="", **extra):
    return dict(name=name, lat_ms=lat, construct_ms=lat / 3, action_ms=2 * lat / 3,
                digest=digest, error="", **extra)


def spans_for(pass_start, ops):
    """Driver op/construct/action spans with one job, stage and two
    overlapping tasks under each action."""
    spans, sid, t = [], 1000, pass_start
    for o in ops:
        end = t + o["lat_ms"]
        mid = t + o["lat_ms"] / 3
        spans += [[sid, -1, "queries.op", o["name"], t, end, 1],
                  [sid + 1, sid, "queries.construct", o["name"], t, mid, 1],
                  [sid + 2, sid, "queries.action", o["name"], mid, end, 1],
                  [sid + 3, sid + 2, "sched.job", "job", mid + 1, end - 1, 1],
                  [sid + 4, sid + 3, "sched.stage", "stage", mid + 2, end - 2, 1],
                  [sid + 5, sid + 4, "exec.task", "task", mid + 3, end - 3, 1],
                  [sid + 6, sid + 4, "exec.task", "task", mid + 3, end - 5, 1]]
        sid += 10
        t = end + 5
    return spans


def record(workload, trace, expected=None):
    """A run record shaped like the harness's, with correct outputs."""
    passes, spans = [], []
    for i in range(3 if trace else 2):
        traced = trace and i % 2 == 1
        if workload == "lead-etl":
            ops = [op("bulk", 2000.0 + i, records=50000, ids=50000),
                   op("upsert", 2200.0 + i, ids=500), op("upsert", 2300.0 - i, ids=500)]
            extra = {"target_digest": "20644:1:2:3", "target_bytes": 4000000,
                     "target_rows": 20644}
        else:
            ops = [op(n, 300.0 + 10 * k + i, digest=expected[n])
                   for k, n in enumerate(run.REGISTRY_OPS)]
            extra = {}
        p = dict(traced=traced, wall_ms=sum(o["lat_ms"] for o in ops), staged_builds=2,
                 staged_build_ms=500.0 + i, ops=ops, **extra)
        passes.append(p)
        if traced:
            spans += spans_for(100000.0 * (i + 1), ops)
    counters = {"sched.jobs": 77, "sched.stages": 78, "sched.tasks": 126, "exec.run_ms": 4500,
                "exec.cpu_ms": 2200, "sink.upsert_bytes": 9000000, "broadcast.bytes": 1 << 20}
    return {
        "workload": workload, "cores": 4, "setup_ms": [20000.0, 7000.0, 7100.0],
        "warm_errors": [], "measured_ms": 14000.0, "passes": passes, "peak_live_mb": 400.0,
        "anchor_par_ms": 550.0 if trace else 0.0, "verify": {},
        "lead": {"expected_digest": "20644:1:2:3"} if workload == "lead-etl" else {},
        "trace": {"spans": spans, "counters": counters} if trace else None,
    }


def expected_digests():
    return {n: f"{10 + k}:{k}:{k}:7" for k, n in enumerate(run.REGISTRY_OPS)}


class MetricNames(unittest.TestCase):
    def test_workloads_match_spec(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.WORKLOADS))

    def test_every_metric_prints_with_its_unit(self):
        for workload in run.WORKLOADS:
            for trace, key in ((False, "end_to_end"), (True, "per_layer")):
                exp = expected_digests()
                rec = record(workload, trace, exp)
                result, report = metrics.assemble(rec, metrics.check(rec, exp), trace)
                want = {m["name"]: m["unit"] for m in SPEC[key]}
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, want, f"{workload} trace={trace}")
                self.assertTrue(result["correct"], report)
                for name, unit in want.items():
                    self.assertTrue(any(l.strip().startswith(f"{name} = ") and l.endswith(unit)
                                        for l in report), f"{workload}: {name} not printed")
                if not trace:
                    for name, v in result["metrics"].items():
                        self.assertGreater(v["value"], 0, f"{workload}: {name}")


class CorruptedDigest(unittest.TestCase):
    def test_query_digest(self):
        exp = expected_digests()
        rec = record("registry", False, exp)
        bad = dict(exp)
        bad["q60_group_topk"] = "0:0:0:0"
        result, report = metrics.assemble(rec, metrics.check(rec, bad), False)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], len(rec["passes"]))
        self.assertEqual(result["attempted"], len(rec["passes"]) * len(run.REGISTRY_OPS))
        self.assertTrue(any("FAILED" in l and "q60_group_topk" in l for l in report))

    def test_lead_target_digest(self):
        rec = record("lead-etl", False)
        rec["lead"]["expected_digest"] = "20644:9:9:3"
        result, _ = metrics.assemble(rec, metrics.check(rec, {}), False)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 2 * len(rec["passes"]))  # the upserts

    def test_lead_record_count(self):
        rec = record("lead-etl", False)
        rec["passes"][0]["ops"][0]["records"] = 49999
        result, _ = metrics.assemble(rec, metrics.check(rec, {}), False)
        self.assertEqual(result["failed"], 1)

    def test_staged_builds_must_repeat(self):
        exp = expected_digests()
        rec = record("registry", False, exp)
        self.assertEqual(metrics.check(rec, exp)[1], [])
        rec["passes"][1]["staged_builds"] = 3
        result, _ = metrics.assemble(rec, metrics.check(rec, exp), False)
        self.assertFalse(result["correct"])


class SelfTimes(unittest.TestCase):
    def test_layers_sum_to_at_most_wall(self):
        exp = expected_digests()
        rec = record("registry", True, exp)
        result, _ = metrics.assemble(rec, metrics.check(rec, exp), True)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        selfs = sum(m[k] for k in ("self.driver_ms", "self.job_ms", "self.stage_ms",
                                   "self.task_ms"))
        self.assertLessEqual(selfs, m["trace.wall_s"] * 1000 + 1e-6)
        self.assertGreater(m["self.task_ms"], 0)

    def test_overlap_is_charged_once(self):
        spans = [[1, -1, "queries.op", "q", 0.0, 100.0, 1],
                 [2, 1, "exec.task", "t", 10.0, 60.0, 1],
                 [3, 1, "exec.task", "t", 20.0, 70.0, 1],
                 [4, -1, "exec.task", "late", 90.0, 150.0, 1]]
        out = metrics.self_times(spans)
        self.assertEqual(out["exec.task"], 70.0)  # 10..70 plus 90..100
        self.assertEqual(out["driver"], 30.0)
        self.assertEqual(sum(out.values()), 100.0)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, beyond = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, beyond), (90, 10))
        self.assertAlmostEqual(pct, 90.0)

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_differs(self):
        self.assertEqual(run.lead_windows(5), run.lead_windows(5))
        self.assertNotEqual(run.lead_windows(5), run.lead_windows(6))
        order = lambda s: run.prepare_order(run.REGISTRY_OPS, s)
        self.assertEqual(order(5), order(5))
        self.assertNotEqual(order(5), order(6))
        self.assertEqual(sorted(order(5)), sorted(run.REGISTRY_OPS))

    def test_upsert_batches_mix_new_and_existing_ids(self):
        w = run.lead_windows(7)
        target = set(range(w["initial"][0], w["initial"][1] + 1))
        for a, b in w["batches"]:
            ids = set(range(a, b + 1))
            self.assertTrue(ids & target)
            self.assertTrue(ids - target)
            self.assertLessEqual(len(ids), 0.05 * len(target))
            target |= ids


@unittest.skipUnless(os.environ.get("PERFBENCH_LIVE"), "set PERFBENCH_LIVE=1 to run workloads")
class Live(unittest.TestCase):
    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace)],
            capture_output=True, text=True, timeout=900, check=True).stdout
        return out.splitlines(), json.loads(out.splitlines()[-1])

    def test_every_workload_end_to_end(self):
        for workload in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                lines, result = self.run_bench(workload, trace)
                self.assertTrue(result["correct"], "\n".join(lines))
                self.assertEqual(result["failed"], 0)
                for m in SPEC[key]:
                    self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
                    self.assertTrue(any(l.strip().startswith(f"{m['name']} = ") for l in lines))
                if trace:
                    v = {k: x["value"] for k, x in result["metrics"].items()}
                    selfs = v["self.driver_ms"] + v["self.job_ms"] + v["self.stage_ms"] + \
                        v["self.task_ms"]
                    self.assertLessEqual(selfs, v["trace.wall_s"] * 1000 + 1e-3)


if __name__ == "__main__":
    unittest.main()
