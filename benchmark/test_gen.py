"""Tests of the benchmark's seeded generators and run isolation.

    python3 -m unittest discover -s benchmark -p 'test_*.py'

With SPARK_GRAFT_SF_DIR naming an sf0.1 test-data directory, the generated
warehouse is also compared with it, table by table.
"""
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402

_WAREHOUSE = tempfile.TemporaryDirectory()


def setUpModule():
    gen.warehouse(_WAREHOUSE.name)


def tearDownModule():
    _WAREHOUSE.cleanup()


def _digest_dir(d):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for name in sorted(files):
            if name == "ops.tsv":
                continue
            h.update(os.path.relpath(os.path.join(base, name), d).encode())
            with open(os.path.join(base, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _inputs(workload, seed):
    """(statement file bytes, derived files digest) for one seed."""
    with tempfile.TemporaryDirectory() as d:
        ops, _, _ = run.prepare(workload, seed, d, _WAREHOUSE.name, (1, 2))
        path = os.path.join(d, "ops.tsv")
        gen.write_ops(path, ops)
        with open(path, "rb") as f:
            stream = f.read()
        return stream, _digest_dir(d)


class SeededInputs(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(_inputs(w, 7), _inputs(w, 7))

    def test_different_seeds_differ(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b = _inputs(w, 7), _inputs(w, 8)
                self.assertNotEqual(a[0], b[0], "statement streams")
        a, b = _inputs("txn_dml", 7), _inputs("txn_dml", 8)
        self.assertNotEqual(a[1], b[1], "derived files")

    def test_warehouse_does_not_depend_on_the_run(self):
        with tempfile.TemporaryDirectory() as d:
            gen.warehouse(d)
            self.assertEqual(_digest_dir(d), _digest_dir(_WAREHOUSE.name))

    def test_olap_passes_keep_their_composition(self):
        ops = gen.olap_stream(3, 5)
        n = len(gen.OLAP_QUERIES)
        for p in range(0, len(ops), n):
            self.assertEqual(sorted(q for _, q in ops[p:p + n]),
                             sorted(gen.OLAP_QUERIES))

    def test_txn_passes_keep_their_composition(self):
        cols = gen.load_cols(_WAREHOUSE.name)
        ops, _ = gen.txn_stream(5, cols, 6)
        body = [k for k, _ in ops if k != "setup"][1:]  # CREATE INDEX
        warm, body = body[:gen.WARM_LEN], body[gen.WARM_LEN:]
        self.assertEqual(warm, ["write"] * 5)
        n = gen.PASS_LEN
        self.assertEqual(len(body), 5 * n)
        for p in range(0, len(body), n):
            self.assertEqual(sorted(body[p:p + n]),
                             ["iwrite", "maint", "maint", "probe"]
                             + ["read"] * 5 + ["stream"] + ["write"] * 5)

    def test_txn_model_prefix_matches_full_stream(self):
        cols = gen.load_cols(_WAREHOUSE.name)
        ops, full = gen.txn_stream(5, cols, 4)
        self.assertEqual(gen.txn_state(5, cols, len(ops)).rows(),
                         full["table"].rows())
        prefix, _ = gen._txn(5, cols, gen.max_passes(), 23)
        self.assertEqual(prefix, ops[:23])


@unittest.skipUnless(os.environ.get("SPARK_GRAFT_SF_DIR"),
                     "SPARK_GRAFT_SF_DIR names no sf0.1 directory")
class WarehouseMatchesSf01(unittest.TestCase):
    """Same tables, column types and row counts as the sf0.1 test data;
    numeric columns agree on their quartiles, string columns on their
    number of distinct values."""

    def test_tables(self):
        ref = os.environ["SPARK_GRAFT_SF_DIR"]
        for name in sorted(os.listdir(ref)):
            a = pq.read_table(os.path.join(ref, name))
            b = pq.read_table(os.path.join(_WAREHOUSE.name, name))
            with self.subTest(table=name):
                self.assertEqual(a.schema.names, b.schema.names)
                self.assertEqual(a.schema.types, b.schema.types)
                self.assertEqual(a.num_rows, b.num_rows)
            for c in a.column_names:
                x, y = a.column(c), b.column(c)
                with self.subTest(table=name, column=c):
                    if pa.types.is_string(x.type):
                        if c != "text":  # documents: 5000 distinct texts
                            dx, dy = (pc.count_distinct(z).as_py()
                                      for z in (x, y))
                            self.assertLessEqual(abs(dx - dy), 0.05 * dx + 1)
                    elif not pa.types.is_list(x.type):
                        nx, ny = _numbers(x), _numbers(y)
                        qx, qy = (np.quantile(z, [.25, .5, .75])
                                  for z in (nx, ny))
                        span = float(nx.max() - nx.min())
                        self.assertTrue(np.all(np.abs(qx - qy)
                                               <= 0.05 * span + 1e-9),
                                        f"{qx} vs {qy}")


def _numbers(column):
    if pa.types.is_timestamp(column.type):
        column = column.cast(pa.int64())
    return column.to_numpy().astype(np.float64)


class EngineSeesOnlyGeneratedInputs(unittest.TestCase):

    def test_jvm_arguments_stay_inside_the_run(self):
        with tempfile.TemporaryDirectory() as d:
            data = _WAREHOUSE.name
            for w in run.WORKLOADS:
                run_dir = os.path.join(d, w)
                os.makedirs(run_dir)
                ops, _, subst = run.prepare(w, 1, run_dir, data, (1, 2))
                cmd = run.jvm_command(w, "cp", run_dir, data, (1, 2), 0,
                                      subst)
                args = cmd[cmd.index("graftbench.Main") + 1:]
                paths = [v for v in args if v.startswith("/")] + [
                    kv.split("=", 1)[1] for kv in
                    args[args.index("--subst") + 1].split(",")]
                for p in paths:
                    self.assertTrue(p.startswith(run_dir) or p == data, p)
                # statements are one line of text each, nothing else
                for kind, text in ops:
                    self.assertIn(kind, ("setup", "read", "write", "maint",
                                         "probe", "iwrite", "stream"))
                    self.assertNotIn("\n", text)

    def test_results_record_their_seed(self):
        ctx = run.run_context("txn_dml", 42, 0, 15)
        self.assertEqual(ctx["seed"], 42)
        for k in ("commit", "nproc", "xmx", "load1_before"):
            self.assertIn(k, ctx)


if __name__ == "__main__":
    unittest.main()
