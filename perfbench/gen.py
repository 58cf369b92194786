"""Deterministic input generation for the benchmark.

Everything here is a pure function of the seed and the size arguments:
the same seed writes byte-identical inputs.  The engine under test sees
only the files written here (and what it derives from them itself).

Two input sets:

* `olap_base` writes the ten tables of the engine's star schema
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the column names and parquet types the
  engine's declared queries expect.  The harness derives a K-times larger
  copy from it inside the engine (the key-offset rule of `graft.ScaleUp`).
* `lifecycle` writes one dimension table, an initial fact load, the
  per-cycle write batches, and `plan.txt`, one line per cycle:
  `cycle delete_lo delete_hi delete_max_qty read_lo read_hi compaction`
  (compaction is `sort`, `zorder` or `-`).  It also replays every cycle
  on an in-memory model of the table, independent of the engine, and
  returns the aggregates each read and each end-of-cycle check must
  return.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("a the data key row scan slow fast table value part hash merge "
         "batch spark line sort window column agg join small big order "
         "group filter query customer stream vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH = dt.datetime(1970, 1, 1)


def _days(lo, hi):
    return (dt.datetime.fromisoformat(lo) - EPOCH).days, \
        (dt.datetime.fromisoformat(hi) - EPOCH).days


def _ts(rng, n, lo, hi):
    a, b = _days(lo, hi)
    days = rng.integers(a, b + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def olap_base(seed, out, sf, n_docs):
    """Writes the star schema at scale factor `sf` (lineitem = 6M * sf
    rows) plus a `n_docs`-document corpus into `out`; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    i32 = pa.int32()
    rows = {}

    def put(name, cols):
        _write(os.path.join(out, f"{name}.parquet"), cols)
        rows[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["red", "blue", "small", "hot", "old", "green"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04")})
    put("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(rng, n_ev, "2024-01-01", "2024-03-01"),
        "user_id": rng.integers(0, max(1, n_ev // 10), n_ev),
        "event_type": [("view", "click", "buy")[i]
                       for i in rng.integers(0, 3, n_ev)],
        "value": _money(rng, n_ev, 0.0, 100.0),
        "props": [json.dumps({"k": int(i)}) for i in rng.integers(0, 9, n_ev)]})
    # Corpus: random word sequences, plus one near-copy (two words
    # replaced) for every tenth document, so the near-duplicate kernels
    # find real pairs instead of an empty result.
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 80))))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    n_emb = max(1, n_docs // 4)
    emb = rng.standard_normal((n_emb, 16)).astype("float32")
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return rows


# --- lifecycle ------------------------------------------------------------

FACT_COLS = ["k", "cust_k", "qty", "amt", "cyc"]
# All fact columns are 8-byte integers, so a live row is 40 user bytes.
FACT_ROW_BYTES = 8 * len(FACT_COLS)


def _fact(rng, keys, n_cust, cyc):
    n = len(keys)
    return {"k": np.asarray(keys, dtype="int64"),
            "cust_k": rng.integers(0, n_cust, n),
            "qty": rng.integers(1, 51, n),
            "amt": rng.integers(100, 100_000, n),
            "cyc": np.full(n, cyc, dtype="int64")}


class Model:
    """The fact table replayed without the engine: one slot per key (keys
    are dense), a presence mask and one array per column."""

    def __init__(self, seg_of, capacity):
        self.seg_of = np.asarray([SEGMENTS.index(s) for s in seg_of])
        self.live = np.zeros(capacity, dtype=bool)
        self.cols = {c: np.zeros(capacity, dtype="int64") for c in FACT_COLS}

    def put(self, batch):
        k = batch["k"]
        self.live[k] = True
        for c in FACT_COLS:
            self.cols[c][k] = batch[c]

    def delete(self, lo, hi, max_qty):
        self.live[lo:hi] &= self.cols["qty"][lo:hi] > max_qty

    def state(self):
        keys = np.flatnonzero(self.live)
        c = {n: v[self.live] for n, v in self.cols.items()}
        return [int(len(keys)), int(c["amt"].sum()), int(c["qty"].sum()),
                int(keys.min()), int(keys.max()), int(c["cyc"].sum())]

    def count_sum(self, lo=0, hi=None):
        live = self.live[lo:hi]
        return [int(live.sum()), int(self.cols["amt"][lo:hi][live].sum())]

    def by_segment(self):
        seg = self.seg_of[self.cols["cust_k"][self.live]]
        amt = self.cols["amt"][self.live]
        return {SEGMENTS[s]: [int((seg == s).sum()), int(amt[seg == s].sum())]
                for s in range(len(SEGMENTS)) if (seg == s).any()}


def lifecycle(seed, out, n_cust, n_initial, n_append, n_upsert, n_merge,
              max_cycles, compact_every):
    """Writes the lifecycle inputs; returns the model's expected answers."""
    rng = np.random.default_rng(seed + 7_919)
    os.makedirs(out, exist_ok=True)
    segs = [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]
    _write(os.path.join(out, "cust.parquet"),
           {"c_custkey": np.arange(n_cust, dtype="int64"), "c_seg": segs})
    model = Model(segs, n_initial + max_cycles * (n_append + n_merge))
    init = _fact(rng, np.arange(n_initial), n_cust, 0)
    _write(os.path.join(out, "initial.parquet"), init)
    model.put(init)
    next_key = n_initial
    expected = {"initial": model.state(), "cycles": []}
    plan = []
    prev = model.count_sum()
    for c in range(1, max_cycles + 1):
        span = next_key
        app = _fact(rng, np.arange(next_key, next_key + n_append), n_cust, c)
        next_key += n_append
        ups_lo = int(rng.integers(0, span - n_upsert))
        ups = _fact(rng, np.arange(ups_lo, ups_lo + n_upsert), n_cust, c)
        del_w = max(1, n_upsert)
        del_lo = int(rng.integers(0, span - del_w))
        del_qty = int(rng.integers(10, 40))
        half = n_merge // 2
        m_lo = int(rng.integers(0, span - half))
        m_keys = np.concatenate([np.arange(m_lo, m_lo + half),
                                 np.arange(next_key, next_key + n_merge - half)])
        next_key += n_merge - half
        mrg = _fact(rng, m_keys, n_cust, c)
        read_w = max(1, next_key // 100)
        read_lo = int(rng.integers(0, next_key - read_w))
        for name, batch in (("append", app), ("upsert", ups), ("merge", mrg)):
            _write(os.path.join(out, f"{name}_{c}.parquet"), batch)
        model.put(app)
        model.put(ups)
        model.delete(del_lo, del_lo + del_w, del_qty)
        # MERGE: matched rows are updated and unmatched ones inserted,
        # which both reduce to an overwrite of the row by key
        model.put(mrg)
        compact = "zorder" if c % (2 * compact_every) == 0 else \
            "sort" if c % compact_every == 0 else ""
        plan.append(f"{c} {del_lo} {del_lo + del_w} {del_qty} "
                    f"{read_lo} {read_lo + read_w} {compact or '-'}")
        expected["cycles"].append({
            "by_segment": model.by_segment(),
            "slice": model.count_sum(read_lo, read_lo + read_w),
            "previous": prev,
            "state": model.state()})
        prev = model.count_sum()
    with open(os.path.join(out, "plan.txt"), "w") as f:
        f.write("\n".join(plan) + "\n")
    return expected
