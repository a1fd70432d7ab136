"""Seeded inputs for the benchmark: the warehouse, derived files and
statement streams.

Everything the engine sees in a run comes from here: parquet files and a
statement stream of SQL text (or, for `olap_read`, registered query names).

- The warehouse is the sf0.1 star schema plus `events`, `documents` and
  `embeddings`, with the sf0.1 test data's table names, column types, row
  counts and value distributions (uniform keys and prices, exponential
  event values, 10-100-word documents over a 30-word vocabulary, unit
  vectors around 10 centres). It is generated once per checkout from
  WAREHOUSE_SEED and read only; the run's seed does not change it.
- The run's seed drives the statement streams and the files derived from
  the warehouse for one run: the index corpus and the replayed event files.

The same seed gives byte-identical files and streams; the models that
produce expected results live beside the generators and are never shown to
the engine.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WAREHOUSE_SEED = 42
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DIM = 64

# sf0.1 row counts
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}


def _rng(seed, table):
    # one independent stream per table, so sizing one table never shifts
    # the values of another
    salt = sum(ord(c) * 31 ** i for i, c in enumerate(table)) % (2 ** 31)
    return np.random.default_rng([seed, salt])


def _strings(values, idx):
    return pa.DictionaryArray.from_arrays(
        pa.array(np.asarray(idx, dtype=np.int32)),
        pa.array(values)).cast(pa.string())


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy",
                   use_dictionary=True)


def warehouse(out_dir):
    """Write the ten warehouse tables into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    seed = WAREHOUSE_SEED

    def write(name, columns):
        _write(os.path.join(out_dir, f"{name}.parquet"), columns)

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r = _rng(seed, "customer")
    n = ROWS["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(r.integers(-99_999, 999_999, n) / 100.0),
        "c_mktsegment": _strings(SEGMENTS, r.integers(0, 5, n))})

    r = _rng(seed, "supplier")
    n = ROWS["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(r.integers(-99_999, 999_999, n) / 100.0)})

    r = _rng(seed, "part")
    n = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write("part", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": _strings(names, r.integers(0, len(names), n)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)],
                            r.integers(0, 25, n)),
        "p_type": _strings(PART_TYPES, r.integers(0, 6, n)),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0)})

    r = _rng(seed, "orders")
    n = ROWS["orders"]
    write("orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, ROWS["customer"], n)
                              .astype(np.int64)),
        "o_orderstatus": _strings(["F", "O", "P"], r.integers(0, 3, n)),
        "o_totalprice": pa.array(r.integers(100_191, 49_999_318, n) / 100.0),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2405, n) * DAY_US),
        "o_orderpriority": _strings(PRIORITIES, r.integers(0, 5, n))})

    r = _rng(seed, "lineitem")
    n = ROWS["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(np.sort(r.integers(0, ROWS["orders"], n))
                               .astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, ROWS["part"], n)
                              .astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n)
                              .astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        # independent of the quantity, as in the sf0.1 data
        "l_extendedprice": pa.array(r.integers(90_068, 10_500_000, n)
                                    / 100.0),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _strings(["A", "N", "R"], r.integers(0, 3, n)),
        "l_linestatus": _strings(["F", "O"], r.integers(0, 2, n)),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US
                          + r.integers(0, 2499, n) * DAY_US)})

    r = _rng(seed, "events")
    n = ROWS["events"]
    write("events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, n))),
        "user_id": pa.array(r.integers(0, 1500, n).astype(np.int64)),
        "event_type": _strings(EVENT_TYPES, r.integers(0, 5, n)),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in r.integers(0, 100, n)])})

    r = _rng(seed, "documents")
    n = ROWS["documents"]
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(WORDS), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(WORDS[w] for w in words[at:at + k]))
        at += k
    write("documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(LANGS, r.integers(0, 5, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64))})

    r = _rng(seed, "embeddings")
    n = ROWS["embeddings"]
    labels = r.integers(0, 10, n).astype(np.int32)
    v = r.normal(0, 1, (10, DIM))[labels] * 0.6 + r.normal(0, 1, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _vec_array(v.astype(np.float32)),
        "label": pa.array(labels)})


def _vec_array(vecs):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def load_cols(data_dir):
    """The warehouse columns the txn_dml model starts from."""
    c = pq.read_table(os.path.join(data_dir, "customer.parquet"))
    o = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    o_price = o.column("o_totalprice").to_numpy()
    return {
        "customer": {
            "id": c.column("c_custkey").to_numpy(),
            "grp": c.column("c_nationkey").to_numpy().astype(np.int64),
            # CAST(round(c_acctbal * 100) AS BIGINT)
            "bal": np.round(c.column("c_acctbal").to_numpy() * 100)
            .astype(np.int64)},
        "orders": {
            "grp": o.column("o_custkey").to_numpy() % 25,
            # CAST(o_totalprice AS BIGINT)
            "bal": np.trunc(o_price).astype(np.int64)}}


# ---------------------------------------------------------------- olap_read

# Fixed subset: every seed times the same queries, only their order moves,
# so medians compare across seeds. Registered TPC-H-shape queries: they
# read only the warehouse and write no scratch. (The TPC-DS-lite family
# is left out: registering its tables costs 8-13 s per run.)
OLAP_QUERIES = [
    "q99_tpch_q3_shape", "q100_tpch_q5_shape", "q101_tpch_q10_shape",
    "q224_tpch_q4_shape", "q227_tpch_q12_shape", "q228_tpch_q13_shape",
    "q229_tpch_q14_shape", "q232_tpch_q19_shape",
]


def olap_stream(seed, passes=40):
    """Whole passes over OLAP_QUERIES, each pass freshly permuted."""
    r = np.random.default_rng([seed, 1])
    ops = []
    for _ in range(passes):
        for i in r.permutation(len(OLAP_QUERIES)):
            ops.append(("read", OLAP_QUERIES[i]))
    return ops


# ------------------------------------------------------------------ txn_dml

class TxnTable:
    """Model of the transactional table (id BIGINT, grp INT, bal BIGINT).

    Live rows are arrays indexed by id; `snapshots` keeps the state of
    recent versions for `VERSION AS OF` reads."""

    def __init__(self, ids, grp, bal, capacity):
        self.grp = np.zeros(capacity, dtype=np.int64)
        self.bal = np.zeros(capacity, dtype=np.int64)
        self.alive = np.zeros(capacity, dtype=bool)
        self.grp[ids] = grp
        self.bal[ids] = bal
        self.alive[ids] = True
        self.next_id = int(ids.max()) + 1
        self.version = 1  # CREATE ... AS SELECT commits version 1
        self.snapshots = {1: self._state()}

    def _state(self):
        return (self.alive.copy(), self.bal.copy())

    def commit(self, keep=4):
        self.version += 1
        self.snapshots[self.version] = self._state()
        self.snapshots.pop(self.version - keep, None)

    def live_ids(self):
        return np.flatnonzero(self.alive)

    def rows(self):
        ids = self.live_ids()
        return sorted(zip(ids.tolist(), self.grp[ids].tolist(),
                          self.bal[ids].tolist()))


def _range_agg(alive, bal, lo, hi):
    m = alive[lo:hi + 1]
    return [int(m.sum()), int(bal[lo:hi + 1][m].sum()) if m.any() else None]


# Pass 0 is the warm pass: five commits in a seeded order. Every later
# pass has, in this order:
# - five commits and five reads, alternating, each kind in a seeded order;
# - a VECTOR TOPK probe and a vector index batch, in seeded order: an ADD
#   on odd passes, a REMOVE on even ones;
# - one stream replay;
# - OPTIMIZE and VACUUM of the table on odd passes, the index COMPACT and
#   a CHECKPOINT of the table on even ones.
# Passes of one parity have the same kinds, so they compare across seeds;
# only keys, sizes and the order within each group move. The warm pass
# holds the commits, whose first runs cost most (a MERGE up to three
# times its later time); reads, index steps and the replay start warm
# enough after the table and index builds.
TXN_READS = ["point", "point", "range", "range", "asof"]
TXN_WRITES = ["insert_values", "insert_select", "update", "delete", "merge"]
MAINT = [["ALTER VECTOR INDEX vec_idx COMPACT", "CHECKPOINT acct"],
         ["OPTIMIZE acct", "VACUUM acct RETAIN 6 VERSIONS"]]
WARM_LEN = len(TXN_WRITES)
PASS_LEN = len(TXN_WRITES) + len(TXN_READS) + 2 + 1 + 2
VEC_KIND = "GRAPH"
INDEX_K = 10        # LIMIT of every TOPK probe
VEC_BASE = 300      # vectors indexed at CREATE; the rest feed ADD batches
VEC_BATCH, REMOVE_BATCH = 16, 4
STREAM_ROWS = 2000  # events per replayed file
STREAM_PIPELINE = "dedup_within_watermark"


def max_passes():
    """Passes the vector pool can feed, the warm pass included."""
    return 1 + 2 * ((ROWS["embeddings"] - VEC_BASE) // VEC_BATCH)


def txn_stream(seed, cols, passes):
    """Generate the txn_dml statement stream and its expected results.

    Returns (ops, model): ops are (kind, text) pairs, with the per-run
    store root written as the placeholder `${store}` and the run root as
    `${run}`; the model holds what the checks need: `expected` (a read's op
    index -> result rows), `history` (the vector index's live ids over
    time), `probes` (op index -> query ids), `stream_ops` (op index -> pass
    of the replayed file) and the final table. `txn_state(seed, cols, n)`
    gives the table after the first n ops.
    """
    return _txn(seed, cols, passes, None)


def txn_state(seed, cols, n_ops):
    return _txn(seed, cols, max_passes(), n_ops)[1]["table"]


def _txn(seed, cols, passes, stop):
    assert passes <= max_passes(), passes
    r = np.random.default_rng([seed, 2])
    ri = np.random.default_rng([seed, 5])  # index and stream steps
    cust, orders = cols["customer"], cols["orders"]
    t = TxnTable(cust["id"], cust["grp"], cust["bal"],
                 len(cust["id"]) + 80 * passes + 64)
    ops = [("setup",
            "CREATE TRANSACTIONAL TABLE acct LOCATION '${store}/acct' AS "
            "SELECT c_custkey AS id, c_nationkey AS grp, "
            "CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer"),
           ("setup", "CREATE OR REPLACE TEMP VIEW corpus AS SELECT * FROM "
            "parquet.`${run}/corpus.parquet`"),
           ("setup", "CREATE OR REPLACE TEMP VIEW vec AS SELECT id, "
            f"embedding FROM corpus WHERE id < {VEC_BASE}"),
           ("maint", "CREATE VECTOR INDEX vec_idx ON vec (embedding) AS "
            f"'{VEC_KIND}' OPTIONS (path=${{store}}/vec_idx)")]
    model = {"expected": {}, "probes": {}, "stream_ops": {}, "table": t}
    live = set(range(VEC_BASE))
    history = [(len(ops), frozenset(live))]
    model["history"] = history
    next_vec = VEC_BASE

    def full():
        return stop is not None and len(ops) >= stop

    def recent_id():
        # Zipf-skewed toward the most recently inserted live ids
        ids = t.live_ids()
        k = min(len(ids) - 1, int(r.zipf(1.3)) - 1)
        return int(ids[len(ids) - 1 - k])

    def new_row():
        i, g, b = t.next_id, int(r.integers(0, 25)), int(r.integers(0, 10**5))
        t.next_id += 1
        t.grp[i], t.bal[i], t.alive[i] = g, b, True
        return f"({i}, {g}, {b})"

    def view(sql):
        name = f"v{len(ops)}"
        ops.append(("setup", f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}"))
        return name

    for p in range(passes):
        writes = [TXN_WRITES[i] for i in r.permutation(len(TXN_WRITES))]
        reads = [] if p == 0 else \
            [TXN_READS[i] for i in r.permutation(len(TXN_READS))]
        # each read follows a commit
        steps = [x for i, w in enumerate(writes) for x in [w] + reads[i:i + 1]]
        for step in steps:
            if full():
                break
            if step in TXN_READS:
                ops.append(("read", _txn_read(r, t, step, recent_id,
                                              model["expected"], len(ops))))
                continue
            ops.append(("write", _txn_write(r, t, step, recent_id, new_row,
                                            orders)))
            t.commit()
        if p == 0:
            continue
        steps = ["probe", "add" if p % 2 else "remove"]
        for step in [steps[i] for i in ri.permutation(2)]:
            if full():
                break
            if step == "probe":
                qids = sorted(ri.choice(ROWS["embeddings"], 4,
                                        replace=False).tolist())
                qv = view("SELECT id, embedding FROM corpus WHERE id IN ("
                          + ", ".join(map(str, qids)) + ")")
                model["probes"][len(ops)] = qids
                ops.append(("probe", f"VECTOR TOPK ON vec (embedding) "
                            f"QUERIES {qv} LIMIT {INDEX_K}"))
            elif step == "add":
                lo, next_vec = next_vec, next_vec + VEC_BATCH
                bv = view(f"SELECT id, embedding FROM corpus WHERE id "
                          f"BETWEEN {lo} AND {next_vec - 1}")
                ops.append(("iwrite", f"ALTER VECTOR INDEX vec_idx ADD FROM "
                            f"{bv}"))
                live.update(range(lo, next_vec))
                history.append((len(ops) - 1, frozenset(live)))
            else:
                gone = sorted(ri.choice(sorted(live), REMOVE_BATCH,
                                        replace=False).tolist())
                bv = view("SELECT id FROM corpus WHERE id IN ("
                          + ", ".join(map(str, gone)) + ")")
                ops.append(("iwrite", f"ALTER VECTOR INDEX vec_idx REMOVE "
                            f"FROM {bv}"))
                live.difference_update(gone)
                history.append((len(ops) - 1, frozenset(live)))
        if full():
            break
        model["stream_ops"][len(ops)] = p
        ops.append(("stream", f"{STREAM_PIPELINE} ${{run}}/stream/p{p}"))
        for stmt in MAINT[p % 2]:
            if full():
                break
            ops.append(("maint", stmt))
            if stmt.startswith("OPTIMIZE"):
                t.commit()
    return ops, model


def _txn_write(r, t, step, recent_id, new_row, orders):
    if step == "insert_values":
        rows = [new_row() for _ in range(int(r.integers(1, 9)))]
        return "INSERT INTO acct VALUES " + ", ".join(rows)
    if step == "insert_select":
        o_grp, o_bal = orders["grp"], orders["bal"]
        n = int(r.integers(8, 64))
        lo = int(r.integers(0, len(o_grp) - n))
        off = t.next_id - lo
        new = np.arange(t.next_id, t.next_id + n)
        t.grp[new], t.bal[new] = o_grp[lo:lo + n], o_bal[lo:lo + n]
        t.alive[new] = True
        t.next_id += n
        return (f"INSERT INTO acct SELECT o_orderkey + {off} AS id, "
                "CAST(o_custkey % 25 AS INT) AS grp, "
                "CAST(o_totalprice AS BIGINT) AS bal FROM orders "
                f"WHERE o_orderkey BETWEEN {lo} AND {lo + n - 1}")
    if step == "update":
        i, d = recent_id(), int(r.integers(-1000, 1000))
        hi = i + int(r.integers(0, 40))
        m = t.alive[i:hi + 1]
        t.bal[i:hi + 1][m] += d
        return (f"UPDATE acct SET bal = bal + ({d}) "
                f"WHERE id BETWEEN {i} AND {hi}")
    if step == "delete":
        i = recent_id()
        t.alive[i] = False
        return f"DELETE FROM acct WHERE id = {i}"
    # MERGE: matched ids update, new ids insert
    rows, seen = [], set()
    for _ in range(int(r.integers(2, 6))):
        i = recent_id()
        if i not in seen:
            seen.add(i)
            d = int(r.integers(-1000, 1000))
            rows.append(f"({i}, 0, {d})")
            t.bal[i] += d
    rows += [new_row() for _ in range(int(r.integers(1, 4)))]
    return ("MERGE INTO acct AS t USING (SELECT * FROM VALUES "
            + ", ".join(rows) + " AS v(id, grp, bal)) AS s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.grp, s.bal)")


def _txn_read(r, t, step, recent_id, expected, at):
    if step == "point":
        i = recent_id()
        expected[at] = ([[i, int(t.grp[i]), int(t.bal[i])]]
                        if t.alive[i] else [])
        return f"SELECT id, grp, bal FROM acct WHERE id = {i}"
    hi = recent_id()
    lo = max(0, hi - int(r.integers(10, 2000)))
    if step == "range":
        expected[at] = [_range_agg(t.alive, t.bal, lo, hi)]
        return (f"SELECT count(*) AS n, sum(bal) AS s FROM acct "
                f"WHERE id BETWEEN {lo} AND {hi}")
    # time travel to one of the last few versions
    v = max(1, t.version - int(r.integers(0, 3)))
    alive, bal = t.snapshots[v]
    expected[at] = [_range_agg(alive, bal, lo, hi)]
    return (f"SELECT count(*) AS n, sum(bal) AS s FROM acct "
            f"VERSION AS OF {v} WHERE id BETWEEN {lo} AND {hi}")


def live_at(history, at):
    """Ids live in the vector index when op `at` runs (a write's own
    change counts from the next op on)."""
    cur = history[0][1]
    for i, ids in history:
        if i < at:
            cur = ids
    return cur


# ------------------------------------------------- files derived for a run

def derived_inputs(seed, data_dir, run_dir, passes):
    """Write the run's derived files and return the model's view of them.

    - corpus.parquet: the embeddings with seeded noise (id, embedding);
    - stream/p<k>/events.parquet, one per pass after the warm pass: a
      seeded sample of the events with a seeded arrival order, event times
      moved by up to 20 minutes (late inside the 2-hour watermark) and 5%
      duplicated ids.

    Returns {"vecs": the corpus vectors, "streams": pass -> the expected
    (event_type, n, sv) rows of the dedup-within-watermark aggregate}."""
    r = np.random.default_rng([seed, 3])
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    v = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    v = v + r.normal(0, 0.02, v.shape)
    vecs = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(os.path.join(run_dir, "corpus.parquet"), {
        "id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": _vec_array(vecs)})

    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    n_ev = ev.num_rows
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    etype = np.array(ev.column("event_type").to_pylist())
    value = ev.column("value").to_numpy()
    streams = {}
    for p in range(1, passes):
        pick = np.sort(r.choice(n_ev, STREAM_ROWS, replace=False))
        dups = r.choice(pick, STREAM_ROWS // 20, replace=False)
        rows = r.permutation(np.concatenate([pick, dups]))
        shift = r.integers(-20 * 60, 20 * 60, n_ev) * 1_000_000
        cols = {c: ev.column(c).take(pa.array(rows))
                for c in ev.column_names}
        cols["ts"] = _ts(ts[rows] + shift[rows])
        d = os.path.join(run_dir, "stream", f"p{p}")
        os.makedirs(d)
        _write(os.path.join(d, "events.parquet"), cols)
        want = []
        for et in EVENT_TYPES:
            m = etype[pick] == et
            if m.any():
                want.append([et, int(m.sum()), float(value[pick][m].sum())])
        streams[p] = want
    return {"vecs": vecs, "streams": streams}


def write_ops(path, ops):
    """One statement per line: `<kind>\\t<text>`."""
    with open(path, "w", encoding="utf-8") as f:
        for kind, text in ops:
            assert "\t" not in text and "\n" not in text, text
            f.write(f"{kind}\t{text}\n")


def ops_digest(ops):
    return hashlib.sha256(json.dumps(ops).encode()).hexdigest()
