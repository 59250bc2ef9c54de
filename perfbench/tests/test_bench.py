"""Tests of the benchmark's own machinery (no JVM needed):

    python3 -m unittest discover -s perfbench/tests

- the same seed gives byte-identical inputs, another seed different ones;
- the reference models agree with hand-worked cases;
- the metric lists in run.py, and the cdc_stream rate, match BENCHMARK.json.
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

MAKERS = {"analytics": gen.analytics_tables, "lake_sql": gen.lake_sql,
          "cdc_stream": gen.cdc_stream}


def make(workload, seed, root):
    out = os.path.join(root, f"{workload}-{seed}")
    MAKERS[workload](seed, out)
    return out


def same_files(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in MAKERS:
            with self.subTest(workload=w):
                a = make(w, 7, os.path.join(self.tmp.name, "a"))
                b = make(w, 7, os.path.join(self.tmp.name, "b"))
                c = make(w, 8, os.path.join(self.tmp.name, "c"))
                self.assertTrue(same_files(a, b), f"{w}: seed 7 twice differs")
                for name in os.listdir(a):
                    self.assertFalse(filecmp.cmp(os.path.join(a, name), os.path.join(c, name),
                                                 shallow=False), f"{w}: {name} ignores the seed")

    def test_lake_rounds_have_a_fixed_mix(self):
        out = make("lake_sql", 3, os.path.join(self.tmp.name, "mix"))
        with open(f"{out}/lake_statements.jsonl") as f:
            stmts = [json.loads(line) for line in f]
        rounds = {}
        for s in stmts:
            rounds.setdefault(s["round"], []).append(s)
        for r, ss in list(rounds.items())[:-1]:
            kinds = sorted(s["kind"] for s in ss[:-1])
            tables = sorted(s["table"] for s in ss[:-1])
            self.assertEqual(kinds, sorted(gen.LAKE_ROUND), f"round {r}")
            self.assertEqual(tables, sorted(gen.LAKE_ROUND_TABLES), f"round {r}")
            self.assertIn(ss[-1]["kind"], ("compact", "vacuum"))

    def test_cdc_cluster_time_never_decreases_per_key(self):
        out = make("cdc_stream", 5, os.path.join(self.tmp.name, "ct"))
        last = {}
        with open(f"{out}/cdc_ticks.jsonl") as f:
            for line in f:
                for e in json.loads(line)["envelopes"]:
                    e = json.loads(e)
                    self.assertGreaterEqual(e["clusterTime"], last.get(e["documentKey"], ""))
                    last[e["documentKey"]] = e["clusterTime"]


class ReferenceModels(unittest.TestCase):
    def test_lake_model_follows_sql_semantics(self):
        with tempfile.TemporaryDirectory() as d:
            gen.lake_sql(1, d)
            m = check.LakeModel(d)
            t = "o0"
            k = 5
            cust, amt, note, yr = m.rows[t][k]
            n0, s0 = m.totals(t)
            m.apply({"i": 0, "kind": "update", "table": t, "key": k, "delta": 10, "note": "u0"})
            self.assertEqual(m.rows[t][k], [cust, amt + 10, "u0", yr])
            m.apply({"i": 1, "kind": "delete", "table": t, "key": k})
            self.assertNotIn(k, m.rows[t])
            m.apply({"i": 2, "kind": "merge", "table": t, "rows": [
                {"k": k, "cust": 1, "amt": 7, "note": "m", "yr": gen.year_of(k)},
                {"k": 6, "cust": 1, "amt": 3, "note": "m", "yr": gen.year_of(6)}]})
            self.assertEqual(m.rows[t][k], [1, 7, "m", gen.year_of(k)])
            self.assertEqual(m.rows[t][6][1], check.LakeModel(d).rows[t][6][1] + 3)
            self.assertEqual(m.history[t][-1], [n0, s0])
            self.assertEqual(m.history[t][1][0], n0 - 1)
            y = gen.year_of(6)
            got = m.expected({"kind": "range", "table": t, "years": [y, y]}, None)
            self.assertEqual(got[0][0], sum(1 for v in m.rows[t].values() if v[3] == y))

    def test_cdc_expected_state_is_last_wins_without_deletes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.cdc_stream(2, d)
            final = os.path.join(d, "final.jsonl")
            latest = {}
            for path, n in ((f"{d}/cdc_seed.jsonl", None), (f"{d}/cdc_ticks.jsonl", 3)):
                with open(path) as f:
                    lines = [json.loads(x) for x in f]
                envs = lines if n is None else [json.loads(e) for x in lines[:n]
                                                for e in x["envelopes"]]
                for e in envs:
                    if e["operationType"] != "delete":
                        doc = json.loads(e["fullDocument"])
                        latest[doc["id"]] = [doc[c] for c in
                                             ("id", "p", "seq", "temp_c", "humidity", "cond")]
            with open(final, "w") as f:
                f.write("\n".join(json.dumps(v) for v in latest.values()))
            self.assertEqual(check.cdc_stream(d, 3, final), [])
            with open(final, "a") as f:
                f.write("\n" + json.dumps(["k0", "p0", 0, 0.0, 0, "x"]))
            self.assertNotEqual(check.cdc_stream(d, 3, final), [])


class MetricLists(unittest.TestCase):
    def test_run_py_prints_what_benchmark_json_declares(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_cdc_rate_is_the_calibrated_one(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            why = {w["name"]: w["why"] for w in json.load(f)["workloads"]}["cdc_stream"]
        self.assertIn(f"{run.CDC_EPS} envelopes/s", why)
        self.assertEqual(run.CDC_EPS * gen.CDC_TICK_MS // 1000, gen.CDC_PER_TICK)


if __name__ == "__main__":
    unittest.main()
