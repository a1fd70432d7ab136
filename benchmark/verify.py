"""Correctness checks and model-derived metrics for one benchmark run.

Every check runs after the timed windows, on what the harness wrote:
- olap_read: each query's full result equals DuckDB running the query's
  oracle SQL over the same warehouse files (the comparison tools/check.py
  makes: columns by name, rows as sorted canonical strings);
- txn_dml:
  - every read equals the model's answer at that point of the stream, and
    the final table equals the model after the executed prefix;
  - vector probes never return a removed id, and mean vector recall@k
    against exact brute force meets RECALL_BOUND;
  - each stream replay equals the batch aggregate of its file.
"""
import datetime
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

RECALL_BOUND = 0.5


def unit_of(name):
    if name.endswith("_bytes") or name.startswith("index.bytes") or \
            name.startswith("txn.bytes") or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("_per_s"):
        return "1/s"
    if "_per_row" in name:
        return "ratio"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("host.load"):
        return "load"
    return "count" if any(w in name for w in (
        "jobs", "stages", "tasks", "files", "dirs", "count", "records",
        "batches", "rows")) else "ratio"


def check(workload, out, model, run_dir, data):
    if workload == "olap_read":
        return _olap(out, run_dir, data)
    return _txn(out, model, run_dir) + _index(out, model) + _streams(out, model)


# ------------------------------------------------------------------ olap_read

def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if v != v else repr(v)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, np.floating):
        return _canon(float(v))
    if isinstance(v, datetime.datetime):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.strftime("%Y-%m-%d")
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return str(tuple(_canon(x) for x in v))
    return str(v)


def _rows(table):
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    return names, sorted(tuple(_canon(c[i]) for c in cols)
                         for i in range(table.num_rows))


def _olap(out, run_dir, data):
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    problems = []
    for q, sql in sorted(out["checks"]["oracle"].items()):
        files = sorted(glob.glob(os.path.join(run_dir, "results", q,
                                              "*.parquet")))
        mine = _rows(pa.concat_tables([pq.read_table(f) for f in files])) \
            if files else ([], [])
        oracle = _rows(con.execute(sql).arrow())
        if mine[0] != oracle[0]:
            problems.append(f"{q}: columns {mine[0]} vs oracle {oracle[0]}")
        elif mine[1] != oracle[1]:
            diff = next(i for i, (x, y) in enumerate(
                zip(mine[1] + [None], oracle[1] + [None])) if x != y)
            problems.append(f"{q}: {len(mine[1])} vs {len(oracle[1])} rows, "
                            f"first difference at sorted row {diff}")
        elif not mine[1]:
            problems.append(f"{q}: empty result checks nothing")
    return problems


# -------------------------------------------------------------------- txn_dml

def executed_prefix(out):
    return max(s["i"] for s in out["stmts"]) + 1


def _txn(out, model, run_dir):
    problems = []
    for s in out["stmts"]:
        if s["kind"] != "read" or not s["ok"]:
            continue
        want = model["expected"][s["i"]]
        got = [list(r) for r in s["rows"]]
        if got != want:
            problems.append(f"op {s['i']} ({s['text']}...): got {got[:3]} "
                            f"want {want[:3]}")
    files = glob.glob(os.path.join(run_dir, "results", "acct", "*.parquet"))
    got = pa.concat_tables([pq.read_table(f) for f in files])
    got = sorted(zip(*(got.column(c).to_pylist()
                       for c in ("id", "grp", "bal"))))
    want = gen.txn_state(model["seed"], gen.load_cols(model["data"]),
                         executed_prefix(out)).rows()
    if got != want:
        bad = next((x, y) for x, y in zip(got + [None], want + [None])
                   if x != y)
        problems.append(f"final acct: {len(got)} vs {len(want)} rows, "
                        f"first difference {bad}")
    return problems


def space_amp(workload, out, model, run_dir):
    """Bytes the transactional table holds at run end / bytes of a plain
    parquet write of its live rows."""
    if workload == "olap_read":
        return 0.0
    plain = os.path.join(run_dir, "plain.parquet")
    rows = gen.txn_state(model["seed"], gen.load_cols(model["data"]),
                         executed_prefix(out)).rows()
    pq.write_table(pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "grp": pa.array([r[1] for r in rows], pa.int32()),
        "bal": pa.array([r[2] for r in rows], pa.int64())}), plain)
    return out["store_bytes"] / os.path.getsize(plain)


def _index(out, model):
    problems = []
    for s in out["stmts"]:
        if s["i"] in model["probes"] and s["ok"]:
            live = gen.live_at(model["history"], s["i"])
            gone = [r[1] for r in s["rows"] if r[1] not in live]
            if gone:
                problems.append(f"op {s['i']}: returned removed ids "
                                f"{gone[:5]}")
    r = recall("txn_dml", out, model)
    if r < RECALL_BOUND:
        problems.append(f"vector recall@k {r:.3f} below {RECALL_BOUND}")
    return problems


def _streams(out, model):
    problems = []
    for s in out["stmts"]:
        if s["kind"] != "stream" or not s["ok"]:
            continue
        want = model["streams"][model["stream_ops"][s["i"]]]
        got = sorted(s["rows"])
        if [g[:2] for g in got] != [w[:2] for w in want] or any(
                abs(g[2] - w[2]) > 1e-3 for g, w in zip(got, want)):
            problems.append(f"stream op {s['i']}: got {got} want {want}")
    return problems


def recall(workload, out, model):
    """Mean recall@k of the run's VECTOR TOPK probes against exact cosine
    top-k over the ids live when each probe ran, the query's own id
    excluded (the probes never return it)."""
    if workload != "txn_dml":
        return 0.0
    vecs = model["vecs"]
    got_all, hit_all = 0, 0
    for s in out["stmts"]:
        if s["i"] not in model["probes"] or not s["ok"]:
            continue
        ids = gen.live_at(model["history"], s["i"])
        by_q = {}
        for qid, cid, _, _ in s["rows"]:
            by_q.setdefault(qid, set()).add(cid)
        for q in model["probes"][s["i"]]:
            k = gen.INDEX_K
            live = np.array(sorted(ids - {q}))
            scores = vecs[live] @ vecs[q]
            best = set(live[np.argsort(-scores, kind="stable")[:k]].tolist())
            hit_all += len(best & by_q.get(q, set()))
            got_all += k
    return hit_all / got_all if got_all else 0.0
