"""Self-tests of the benchmark's own logic; they start no JVM.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import glob
import hashlib
import json
import os
import shutil
import tempfile
import unittest

import duckdb

import gen
import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


class PercentileRule(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        self.assertEqual(metrics.tail(range(1, 101), 0.9), (90, 10))
        self.assertEqual(metrics.tail(range(1, 100), 0.9), (90, 9))
        self.assertEqual(metrics.tail([5.0], 0.9), (5.0, 0))

    def test_p90_needs_ten_samples_beyond(self):
        res = synthetic_result(n_ops=99)
        with self.assertRaises(SystemExit):
            metrics.end_to_end(res, 0)
        m, tail = metrics.end_to_end(synthetic_result(n_ops=100), 0)
        self.assertEqual(tail, {"samples": 100, "beyond_p90": 10})
        self.assertNotEqual(m["op_p90_ms"][0], m["op_p50_ms"][0])

    def test_failed_operations_are_samples_at_their_wall_time(self):
        res = synthetic_result(n_ops=100)
        res["ops"][3].update(ok=False, extra={})
        m, tail = metrics.end_to_end(res, 1)
        self.assertEqual(tail["samples"], 100)
        self.assertEqual(m["ok_share"][0], 0.99)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_operation_stream(self):
        self.assertEqual(gen.commit_ops(7, 300), gen.commit_ops(7, 300))
        self.assertEqual(gen.lake_ops(7, 300), gen.lake_ops(7, 300))
        self.assertEqual(gen.curation_cycles(7, 5), gen.curation_cycles(7, 5))
        self.assertNotEqual(gen.commit_ops(7, 300), gen.commit_ops(8, 300))

    def test_every_block_holds_the_same_mix(self):
        block = sorted([k for k, w in gen.COMMIT_KINDS for _ in range(w)] + ["compact"])
        for ops in (gen.commit_ops(3, 100), gen.commit_ops(4, 100)):
            self.assertEqual(sorted(o["op"] for o in ops), block)
            self.assertEqual([o["op"] for o in ops[:2]], ["mergeMoR", "branch"])
            self.assertEqual(ops[99]["op"], "compact")
        lake = sorted(k for k, w in gen.LAKE_KINDS for _ in range(w))
        self.assertEqual(sorted(o["op"] for o in gen.lake_ops(3, 100)), lake)

    def test_keyed_rewrites_hit_distinct_seed_files(self):
        width = gen.N_ORDERS // gen.SEED_FILES
        for seed in (3, 4):
            ops = gen.commit_ops(seed, 100)
            hits = [(o["lo"] // width, (o["lo"] + 3 * o["n"]) // width) for o in ops
                    if o["op"] in ("mergeMoR", "branch", "deleteWhere")]
            self.assertEqual(len(hits), 3)
            self.assertTrue(all(a == b for a, b in hits))
            self.assertEqual(len({a for a, _ in hits}), 3)

    def test_reads_follow_the_write_they_read(self):
        ops = gen.commit_ops(5, 300)
        for i, o in enumerate(ops):
            if o["op"] == "read":
                self.assertIn(ops[i - 1]["op"], ("append", "commitTxn"))
                self.assertEqual(o["lo"], ops[i - 1]["lo"])

    def test_same_seed_same_inputs_and_replay_digest(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            plans = [gen.generate("commit_mix", 11, f"{tmp}/{i}", 60) for i in (0, 1)]
            self.assertEqual(plans[0], plans[1])
            self.assertEqual(files_digest(f"{tmp}/0"), files_digest(f"{tmp}/1"))
            digests = [replay_digest(plans[i]["ops"], f"{tmp}/{i}/orders.parquet")
                       for i in (0, 1)]
            self.assertEqual(digests[0], digests[1])
            other = gen.generate("commit_mix", 12, f"{tmp}/2", 60)
            self.assertNotEqual(digests[0],
                                replay_digest(other["ops"], f"{tmp}/2/orders.parquet"))
        finally:
            shutil.rmtree(tmp)


class MetricNames(unittest.TestCase):
    def test_printed_names_match_benchmark_json(self):
        e2e_names, layer_names = bench_names()
        e2e, _ = metrics.end_to_end(synthetic_result(n_ops=100), 0)
        self.assertEqual(sorted(e2e), sorted(e2e_names))
        layers = metrics.per_layer(synthetic_result(n_ops=120, traced=True), 2)
        self.assertEqual(sorted(layers), sorted(layer_names))


class Tracing(unittest.TestCase):
    def test_self_times_reconcile_with_the_operation_wall(self):
        res = synthetic_result(n_ops=120, traced=True)
        layers = metrics.per_layer(res, 2)
        self.assertLess(layers["trace.reconcile_err"][0], 1e-9)
        # harness time outside the root span is a reconciliation gap
        op = next(o for o in res["ops"] if o["traced"])
        op["t1"] += (op["t1"] - op["t0"]) // 10
        layers = metrics.per_layer(res, 2)
        self.assertAlmostEqual(layers["trace.reconcile_err"][0], 1 / 11, places=6)

    def test_overhead_compares_traced_with_untraced_operations(self):
        res = synthetic_result(n_ops=120, traced=True)
        before = metrics.per_layer(res, 2)
        for o in res["ops"]:
            if o["traced"]:
                o["t1"] += 5_000_000  # every traced op 5 ms slower
        after = metrics.per_layer(res, 2)
        self.assertAlmostEqual(after["trace.overhead_p50_ms"][0]
                               - before["trace.overhead_p50_ms"][0], 5.0)
        self.assertGreater(after["trace.overhead_ops_share"][0],
                           before["trace.overhead_ops_share"][0])


class SelfTime(unittest.TestCase):
    def test_innermost_span_owns_each_instant(self):
        spans = [[0, -1, 1, "op", "client", 0, 100],
                 [1, 0, 1, "commit", "commit", 10, 60],
                 [2, 1, 1, "collect", "exec", 20, 40],
                 [3, 1, 1, "collect", "exec", 30, 50],  # overlaps its sibling
                 [4, 0, 1, "read", "snapshot", 70, 90]]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 20, 2: 10, 3: 20, 4: 20})
        self.assertEqual(sum(st.values()), 100)


def files_digest(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(f"{d}/**/*", recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def replay_digest(ops, seed_parquet):
    con = duckdb.connect()
    rec = [{"id": o["id"], "kind": o["op"], "params": o} for o in ops]
    oracle.replay_commit(con, rec, seed_parquet, lambda o, sql: None)
    return oracle.digest(con, "t"), oracle.digest(con, "log")


def synthetic_result(n_ops, traced=False):
    """A result.json as Main writes it, with made-up timings; a traced
    run traces every other operation."""
    ms = 1_000_000
    ops, spans, t = [], [], 0
    for i in range(n_ops):
        dur = (50 + (i * 37) % 400) * ms
        tr = traced and i % 2 == 0
        ops.append({"id": i, "kind": "append", "phase": "m", "t0": t, "t1": t + dur,
                    "ok": True, "err": "", "result": None, "ingest": 1000, "traced": tr,
                    "extra": {"rows_out": 3, "files_read": 1, "files_live": 4}})
        if tr:
            spans += [[3 * i, -1, i, "append", "client", t, t + dur],
                      [3 * i + 1, 3 * i, i, "append", "commit", t + ms, t + dur - ms],
                      [3 * i + 2, 3 * i + 1, i, "collect", "exec", t + 2 * ms, t + 3 * ms]]
        t += dur
    prof = {"commit": [n_ops, 1.0], "stagePlan": [n_ops, 0.5]}
    return {
        "workload": "commit_mix",
        "setup": {"session_s": 2.0, "load_s": [1.0, 1.5], "warm_s": 3.0},
        "heap_live_mb": 80.0, "load_bytes_written": 1000, "load_ingest": 1000,
        "disk_bytes": 3000, "live_bytes": 1000, "ops": ops,
        "phase": {"t0": 0, "t1": t, "files_written": 10, "bytes_written": 50_000,
                  "manifest_bytes": 5_000, "prof0": {}, "prof1": prof},
        "trace": {"cores": 2, "spans": spans, "tasks": [["op-70", 0, 5, 1, 10, 0, 100, 9]],
                  "jobs": [["op-70", 0]], "phases": []} if traced else None,
    }


if __name__ == "__main__":
    unittest.main()
