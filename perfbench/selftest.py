"""Self-tests of the benchmark's own rules.

    python3 perfbench/selftest.py

1. the percentile rule: a reported percentile has at least ten samples
   beyond it;
2. metric names: every name in BENCHMARK.json matches [A-Za-z0-9_.-]+, is
   unique, and the lists equal the ones metrics.py computes;
3. units: every named metric is emitted with its unit, on every workload,
   traced and untraced;
4. the seed: a different seed changes every workload's inputs but not the
   set of metrics.

Test 4 builds the program (perfbench/build.py) to digest the crawl
corpora; it starts no Spark session.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def call(seq, kind, label, wall, items=1, **extra):
    return {"seq": seq, "kind": kind, "label": label, "start_ms": seq * 1000,
            "end_ms": seq * 1000 + wall, "wall_ms": float(wall),
            "cpu_ms": wall * 2.0, "ticks": {"busy": 400, "steal": 4 * seq, "total": 480},
            "heap_peak_mb": 100.0 + seq, "items": items,
            "error": None, "check_ok": True, "extra": extra}


def synthetic(workload, seed):
    """A small result.json plus spans, shaped like the JVM's output."""
    rnd = seed * 7 % 5
    if workload == "crawl_wide":
        calls = [call(1, "run", "crawl_wide/run/1", 7000 + rnd, items=1700),
                 call(2, "lookup", "crawl_wide/lookup/1", 300, dirs_scanned=1, hits=4)]
    elif workload == "crawl_deep":
        calls = []
        for r in (2, 3, 4):
            base = len(calls)
            calls += [call(base + 1, "round", f"crawl_deep/round/{r}", 4000 + r, items=320,
                           compaction=r != 4, bytes_written={"seen": 100 + rnd}),
                      call(base + 2, "commit", f"crawl_deep/commit/{r}", 1),
                      call(base + 3, "expire", f"crawl_deep/expire/{r}", 2),
                      call(base + 4, "lookup", f"crawl_deep/lookup/{r}", 700,
                           dirs_scanned=r, hits=4)]
    else:
        calls = [call(i + 1, "query", f"analytics/{m}/{q}/1", 300 + i + rnd,
                      query=q, module=m)
                 for i, (q, m) in enumerate(sorted(metrics.QUERIES.items()))]
    ticks = {"busy": 100, "steal": 1, "total": 120}
    seg = {"setups": [{"s": s, "ticks": ticks} for s in (3.0, 0.5 + rnd / 10, 0.4)],
           "start_ms": 0,
           "end_ms": 100000, "gc_ms": 12, "ticks": ticks,
           "probes": {"fetch_us_per_url": 150.0, "raw_urls_per_s": 9000.0,
                      "canonicalize_ns_per_url": 2000.0}, "calls": calls}
    result = {"workload": workload, "seed": seed,
              "segments": [dict(seg, traced=False), dict(seg, traced=True)],
              "checks": [], "facts": {"fail_kinds": {"": 90, "transient": 10},
                                      "seen_urls": 1000, "state_bytes": 800000,
                                      "keylog_runs": 3, "keylog_bytes": 1000,
                                      "bloom_bytes": 5000}}
    spans = [{"id": "w", "parent": None, "kind": "workload", "name": workload,
              "start_ms": 0, "end_ms": 100000}]
    for c in calls:
        spans.append({"id": f"c{c['seq']}", "parent": "w", "kind": "call",
                      "name": c["label"], "start_ms": c["start_ms"],
                      "end_ms": c["end_ms"]})
        spans.append({"id": f"j{c['seq']}", "parent": f"c{c['seq']}", "kind": "job",
                      "name": "cc: iter 3 propagate", "desc": "cc: iter 3 propagate",
                      "start_ms": c["start_ms"] + 1, "end_ms": c["end_ms"] - 1})
        spans.append({"id": f"s{c['seq']}", "parent": f"j{c['seq']}", "kind": "stage",
                      "name": "stage", "start_ms": c["start_ms"] + 1,
                      "end_ms": c["end_ms"] - 1, "tasks": 4, "cpu_ms": 1.0,
                      "sched_delay_ms": 1, "shuffle_write_bytes": 10,
                      "spill_bytes": 0, "input_bytes": 100, "input_records": 8})
    return result, spans


def emitted(workload, seed, trace):
    result, spans = synthetic(workload, seed)
    e2e = [metrics.end_to_end(workload, s) for s in result["segments"]]
    values = metrics.per_layer(result, spans, e2e[0], e2e[1]) if trace else e2e[0]
    return metrics.emit(values)


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in range(1, 3000):
            p = metrics.tail_percentile(n)
            if p is None:
                self.assertLess(n, 20)
                continue
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10, (n, p))
            higher = [q for q in metrics.PERCENTILES if q > p]
            if higher:
                self.assertLess(n * (100 - higher[0]) / 100.0, 10, (n, p))

    def test_known_points(self):
        self.assertEqual([metrics.tail_percentile(n) for n in (19, 20, 39, 40, 100, 1000)],
                         [None, 50, 50, 75, 90, 99])


class StealFree(unittest.TestCase):
    def test_steal_is_taken_out(self):
        self.assertAlmostEqual(metrics.steal_free(100.0, {"busy": 400, "steal": 100}), 75.0)
        self.assertEqual(metrics.steal_free(100.0, {"busy": 0, "steal": 0}), 100.0)


class Names(unittest.TestCase):
    def test_names(self):
        names = ([m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]] +
                 [w["name"] for w in BENCH["workloads"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, NAME_RE)

    def test_lists_match_metrics_py(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in BENCH["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]],
                         metrics.PER_LAYER)
        self.assertLessEqual(len(metrics.PER_LAYER), 128)
        setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))


class Units(unittest.TestCase):
    def test_every_metric_with_its_unit(self):
        e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        for w in BENCH["workloads"]:
            for trace, want in ((0, e2e), (1, layer)):
                got = emitted(w["name"], 1, trace)
                self.assertEqual(set(got), set(want), (w["name"], trace))
                for n, v in got.items():
                    self.assertEqual(v["unit"], want[n], n)
                    self.assertRegex(v["unit"], UNIT_RE)
                    self.assertIsInstance(v["value"], (int, float), n)


class Seed(unittest.TestCase):
    def test_tables_change_with_seed(self):
        a, b = gen_tables.tables(1), gen_tables.tables(2)
        self.assertEqual(set(a), set(b))
        for t in ("documents", "embeddings", "orders", "lineitem", "events"):
            self.assertNotEqual(a[t], b[t], t)
            self.assertEqual(a[t].schema, b[t].schema, t)
        self.assertEqual(gen_tables.tables(1)["documents"], a["documents"])

    def test_corpora_change_with_seed(self):
        classes = build.build()
        def digest(seed):
            out = subprocess.run(
                ["java", "-XX:-UsePerfData", "-cp", f"{classes}:{build.spark_jars()}/*",
                 "graftbench.Inputs", str(seed), metrics.query_arg()],
                check=True, capture_output=True, text=True).stdout
            return dict(line.split(" ", 1) for line in out.splitlines())
        one, two = digest(1), digest(2)
        self.assertEqual(set(one), {w["name"] for w in BENCH["workloads"]})
        self.assertEqual(one, digest(1))
        for w in one:
            self.assertNotEqual(one[w], two[w], w)

    def test_metric_set_does_not_change_with_seed(self):
        for w in BENCH["workloads"]:
            for trace in (0, 1):
                self.assertEqual(set(emitted(w["name"], 1, trace)),
                                 set(emitted(w["name"], 2, trace)))


if __name__ == "__main__":
    unittest.main(verbosity=2)
