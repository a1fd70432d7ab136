#!/usr/bin/env python3
"""Local parity checker mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Registers each parquet table from sfDir as a DuckDB view, runs each oracle
SQL from <verifyOutDir>/oracle_sql.json, reads our Spark result parquet,
sorts columns by name (like the driver) plus rows, and diffs values.
"""
import sys, json, glob, os, datetime
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# Oracles that run in their written join order. DuckDB 1.0's join-order
# optimizer misestimates q72's joins over generated CTEs (its estimates
# overflow) and spilled past 15 GB under the memory cap; in the written
# order the query streams in under 100 MB. The compare is unchanged.
WRITTEN_JOIN_ORDER = {"q293_tpcds_q72"}


def _norm_val(v):
    if isinstance(v, dict):
        return tuple((k, _norm_val(x)) for k, x in sorted(v.items()))
    if isinstance(v, (list, tuple)) or type(v).__name__ == 'ndarray':
        return tuple(_norm_val(x) for x in v)
    return v


def canon(v):
    """Driver-faithful stringification: the official compare canonicalizes
    each cell to a string BEFORE hashing, so int64 16 and float64 16.0 are
    DIFFERENT ("16" vs "16.0"). r14's q353 red came from check.py passing
    (pandas 16 == 16.0) what the driver failed — never compare numerics
    loosely here."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NULL" if f != f else repr(f)
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if (v.hour, v.minute, v.second, getattr(v, "microsecond", 0)) == (0, 0, 0, 0):
            return v.strftime("%Y-%m-%d")
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return "0x" + v.hex()
    return str(_norm_val(v))


def selftest():
    """check.py must FAIL an int-vs-float fixture (VERDICT r14 task 2)."""
    a = pd.Series([16, 17], dtype="int64").map(canon)
    b = pd.Series([16.0, 17.0], dtype="float64").map(canon)
    assert list(a) == ["16", "17"], list(a)
    assert list(b) == ["16.0", "17.0"], list(b)
    assert not (a == b).any(), "int-vs-float must NOT compare equal"
    c = pd.Series([16.5, float("nan")]).map(canon)
    assert list(c) == ["16.5", "NULL"], list(c)
    print("SELFTEST PASS: int64 vs float64 fixture correctly differs "
          "(16 != 16.0 after driver-style canonicalization)")
    sys.exit(0)


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(_norm_val)
    return df.reset_index(drop=True)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        selftest()
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    # an explicit memory cap with a spill directory under the checkout's
    # target/: at DuckDB's default (80% of the host's RAM) the graph
    # oracles' all-pairs CTEs grew the process past 12 GB
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "target", "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"memory_limit": "5GB", "temp_directory": tmp})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            con.execute("SET disabled_optimizers = 'join_order'"
                        if name in WRITTEN_JOIN_ORDER else "RESET disabled_optimizers")
            mine = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            oracle = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(mine.columns) != list(oracle.columns):
            print(f"FAIL {name}: columns {list(mine.columns)} vs oracle {list(oracle.columns)}")
            n_fail += 1
            continue
        if len(mine) != len(oracle):
            print(f"FAIL {name}: rows {len(mine)} vs oracle {len(oracle)}")
            n_fail += 1
            continue
        # row-order-insensitive compare (sorted), exact values
        ms = mine.sort_values(by=list(mine.columns), kind="mergesort").reset_index(drop=True)
        os_ = oracle.sort_values(by=list(oracle.columns), kind="mergesort").reset_index(drop=True)
        diffs = []
        for c in mine.columns:
            # driver-style: canonical strings, NOT pandas numeric equality
            # (int64 16 vs float64 16.0 must FAIL, as the driver fails it)
            a, b = ms[c].map(canon), os_[c].map(canon)
            eq = a == b
            if not eq.all():
                i = int((~eq).idxmax())
                diffs.append(f"{c}[row {i}]: {a[i]!r} vs {b[i]!r} ({int((~eq).sum())} diffs)")
        if diffs:
            print(f"FAIL {name}: " + "; ".join(diffs[:4]))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(mine)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
